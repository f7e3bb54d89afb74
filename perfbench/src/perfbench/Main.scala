package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

/** One benchmark run in one JVM: starts the session, sets the workload
  * up, measures it for the requested seconds in a closed loop (one
  * caller; a batch starts only after the previous one ended), checks
  * its outputs and writes the result object to `--result`.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --result <file> [--hashes <file>]
  *   [--record-hashes <file>]`
  *
  * `--work` is emptied at the start of the run.
  */
object Main {

  /** What a workload reports: the run's verdict, its operation counts
    * and its metrics by name, each with a unit. */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)])

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, result: File,
      hashes: Option[File], recordHashes: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")).getAbsoluteFile,
      new File(need("--result")).getAbsoluteFile,
      m.get("--hashes").map(new File(_)),
      m.get("--record-hashes").map(new File(_)))
  }

  /** The engine's session configuration, as `graft.Bench` builds it,
    * plus the benchmark's own local directories and `s3a://` stand-in. */
  def startSession(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .config("spark.hadoop.fs.s3a.impl", classOf[LocalS3AFileSystem].getName)
      .config(s"spark.hadoop.${LocalS3AFileSystem.RootKey}",
        new File(work, "s3").getPath)
      .getOrCreate()
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x)).sum / xs.size)

  /** Host-noise canary: the fixed 1e8-row `xxhash64` projection
    * `graft.Bench` times, through the same `noop` sink. */
  def canary(spark: SparkSession): Double = seconds {
    spark.range(0L, 100000000L, 1L, spark.sparkContext.defaultParallelism)
      .select(xxhash64(col("id")).as("h"))
      .write.format("noop").mode("overwrite").save()
  }._2

  /** The per-layer Spark metrics of a window, under `prefix`. */
  def sparkMetrics(prefix: String, w: Window): Seq[(String, Double, String)] =
    Seq(
      (s"$prefix.jobs", w.jobs.toDouble, "count"),
      (s"$prefix.stages", w.stages.toDouble, "count"),
      (s"$prefix.tasks", w.tasks.toDouble, "count"),
      (s"$prefix.task_busy_s", w.taskBusyS, "s"),
      (s"$prefix.driver_gap_s", w.driverGapS, "s"),
      (s"$prefix.shuffle_bytes", w.shuffleBytes.toDouble, "bytes"),
      (s"$prefix.spill_bytes", w.spillBytes.toDouble, "bytes"),
      (s"$prefix.failed_tasks", w.failedTasks.toDouble, "count"))

  def catalystMetrics(w: Window): Seq[(String, Double, String)] = Seq(
    ("catalyst.analysis_ms", w.analysisMs, "ms"),
    ("catalyst.optimization_ms", w.optimizationMs, "ms"),
    ("catalyst.planning_ms", w.planningMs, "ms"))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def json(r: Result): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val ms = r.metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": $ms}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    deleteTree(opts.work)
    opts.work.mkdirs()
    val (spark, sessionS) = seconds(startSession(opts.work))
    val result =
      try opts.workload match {
        case "convert_bulk" =>
          new ConvertWorkload(spark, opts, bulk = true).run(sessionS)
        case "convert_many_files" =>
          new ConvertWorkload(spark, opts, bulk = false).run(sessionS)
        case "query_mix" => new QueryWorkload(spark, opts).run(sessionS)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      } finally spark.stop()
    Files.write(Paths.get(opts.result.getPath),
      (json(result) + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
