package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scaffold, SparkEntry}

/** `query_mix`: a fixed list of gates from `SparkEntry.queries`, each
  * materialized through the `noop` sink over a [[QueryCorpus]]. The
  * seed only permutes the gate order of each pass.
  *
  * Set-up generates the corpus (twice; the median time counts) and then
  * runs every gate once, untimed, through the sink; that pass fills the
  * JIT and code-generation caches. A gate's time excludes what it
  * spends in `Scaffold.setup`. After a gate's first untraced timed
  * run, outside its timing, the hash of its result is checked against
  * the pinned one. A run makes three passes per ten seconds of
  * `--seconds`; the gates of [[QueryWorkload.FirstPassOnly]] run in the
  * first pass only, so the short gates get several samples each in the
  * time a second HNSW search would take. A traced run makes half as
  * many passes and times every gate twice in a row, untraced and
  * traced, in alternating order.
  */
final class QueryWorkload(spark: SparkSession, opts: Main.Opts) {
  import Main._

  private val corpusScale = 1.0
  private val corpusReps = 2
  private val corpusDir = new File(opts.work, "corpus").getPath

  def run(sessionS: Double): Result = {
    val corpusRuns = (1 to corpusReps).map(_ =>
      seconds(QueryCorpus.generate(spark, corpusDir, corpusScale))._2)
    val corpusS = median(corpusRuns)
    val queries = SparkEntry.queries
    var attempted = 0L
    var failed = 0L
    /** Builds gate `g` and materializes it through the `noop` sink;
      * None if it threw. */
    def sink(g: String): Option[DataFrame] = try {
      val df = queries(g)(spark, corpusDir)
      df.write.format("noop").mode("overwrite").save()
      Some(df)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $g failed: $e"); None }

    // Warm-up: every gate once through the sink, untimed.
    val warmS = seconds(QueryWorkload.Gates.foreach { case (g, _) =>
      attempted += 1
      val (ok, s) = seconds(sink(g).isDefined)
      if (!ok) failed += 1
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] warm $g%-26s $s%.3f s")
    })._2
    Scaffold.drain()
    val setupS = sessionS + corpusS + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, " +
      s"corpus ${corpusRuns.map(x => f"$x%.2f").mkString("/")} s, " +
      f"warm-up pass $warmS%.2f s")

    /** Checks the hash of a gate's result against the pinned one. The
      * frame is the one just timed, so a gate that materializes its
      * stages while it is built (the HNSW search) is not run again. */
    val pinned = opts.hashes.map(readHashes).getOrElse(Map.empty)
    val hashes = mutable.LinkedHashMap.empty[String, String]
    def check(g: String, df: DataFrame): Unit = {
      val h = try Some(ResultHash.of(df)) catch { case e: Exception =>
        System.err.println(s"[perfbench] $g hash failed: $e"); None }
      hashes(g) = h.getOrElse("")
      if (h.isEmpty || (opts.hashes.isDefined && pinned.get(g) != h)) {
        System.err.println(s"[perfbench] $g: hash ${h.getOrElse("-")}, " +
          s"pinned ${pinned.getOrElse(g, "-")}")
        failed += 1
      }
    }

    // Measured passes, each in its own seeded order. Each gate's result
    // is checked once, after its first untraced timed run.
    val rnd = new scala.util.Random(opts.seed)
    val trace = if (opts.trace) Some(new Trace(spark)) else None
    val untraced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[Window]]
    val scaffold = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val shortGates = QueryWorkload.Gates.collect {
      case (g, s) if !QueryWorkload.FirstPassOnly(s) => g }
    // The work is fixed: three passes per ten seconds asked for, half
    // as many when every gate runs twice.
    val passes = math.max(1, math.round(opts.seconds * 0.3).toInt /
      (if (opts.trace) 2 else 1))
    (1 to passes).foreach { pass =>
      val order = rnd.shuffle(
        if (pass == 1) QueryWorkload.Gates.map(_._1) else shortGates)
      order.zipWithIndex.foreach { case (g, i) =>
        /** Gate seconds, if it succeeded, and `Scaffold` seconds. The
          * hash is checked on untraced runs, outside the traced span. */
        def once(verify: Boolean): (Option[Double], Double) = {
          attempted += 1
          Scaffold.drain()
          val t0 = System.nanoTime()
          val out = sink(g)
          val wall = (System.nanoTime() - t0) / 1e9
          val setup = Scaffold.drain()
          if (out.isEmpty) failed += 1
          else if (verify && !hashes.contains(g)) check(g, out.get)
          spark.catalog.clearCache()
          (out.map(_ => math.max(0.0, wall - setup)), setup)
        }
        def plain(): Unit = {
          val (s, setup) = once(verify = true)
          scaffold.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += setup
          s.foreach { sec =>
            untraced.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += sec
          }
        }
        def withTrace(t: Trace): Unit = {
          t.install()
          val ((s, _), w) = t.span(once(verify = false))
          t.uninstall()
          s.foreach { sec =>
            traced.getOrElseUpdate(g, mutable.ArrayBuffer.empty) +=
              w.copy(wallS = sec)
          }
        }
        // Alternate which of the two runs first, so that the second
        // run's warmer caches do not count as tracing overhead.
        trace match {
          case None => plain()
          case Some(t) if i % 2 == 0 => plain(); withTrace(t)
          case Some(t) => withTrace(t); plain()
        }
      }
    }
    Scaffold.drain()
    opts.recordHashes.foreach(f => Files.write(f.toPath,
      QueryWorkload.Gates.map { case (g, _) =>
        s"""  "$g": "${hashes.getOrElse(g, "")}""""
      }.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8)))

    val gateS = QueryWorkload.Gates.map { case (g, _) =>
      g -> median(untraced.getOrElse(g, Nil).toSeq)
    }
    val totalS = gateS.map(_._2).sum
    gateS.foreach { case (g, s) =>
      System.err.println(f"[perfbench] $g%-26s $s%.3f s over " +
        untraced.getOrElse(g, Nil).map(x => f"$x%.3f").mkString(" "))
    }
    val geo = geomean(gateS.map(_._2).filter(_ > 0))
    val metrics =
      if (!opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("batch_s", totalS, "s"),
        ("op_geomean_s", geo, "s"))
      else layerMetrics(gateS, totalS, geo, traced,
        scaffold.values.map(s => s.sum / s.size).sum)
    Result(failed == 0, attempted, failed, metrics)
  }

  private def layerMetrics(gateS: Seq[(String, Double)], totalS: Double,
      geo: Double, traced: collection.Map[String, mutable.ArrayBuffer[Window]],
      scaffoldS: Double): Seq[(String, Double, String)] = {
    /** One run of each gate: the sum over gates of their mean window. */
    def perPass(gates: Seq[String]): Window = {
      val ws = gates.flatMap(g => traced.get(g).filter(_.nonEmpty)
        .map(w => w.reduce(_ + _).times(1.0 / w.size)))
      if (ws.isEmpty) Window.empty else ws.reduce(_ + _)
    }
    val all = perPass(gateS.map(_._1))
    val strata = QueryWorkload.Gates.groupBy(_._2).toSeq.sortBy(_._1)
      .flatMap { case (stratum, gs) =>
        val w = perPass(gs.map(_._1))
        Seq(
          (s"stratum.$stratum.s", w.wallS, "s"),
          (s"stratum.$stratum.jobs", w.jobs.toDouble, "count"),
          (s"stratum.$stratum.tasks", w.tasks.toDouble, "count"),
          (s"stratum.$stratum.task_busy_s", w.taskBusyS, "s"),
          (s"stratum.$stratum.driver_gap_s", w.driverGapS, "s"))
      }
    val tracedS = gateS.map { case (g, _) =>
      median(traced.getOrElse(g, Nil).map(_.wallS).toSeq) }.sum
    catalystMetrics(all) ++ sparkMetrics("spark", all) ++ strata ++
      gateS.map { case (g, s) => (s"ops.${g}_s", s, "s") } ++ Seq(
        ("Scaffold.setup_s", scaffoldS, "s"),
        ("query.total_s", totalS, "s"),
        ("query.geomean_s", geo, "s"),
        ("trace.untraced_batch_s", totalS, "s"),
        ("trace.traced_batch_s", tracedS, "s"),
        ("trace.overhead_share", tracedS / totalS - 1, "ratio"),
        ("host.canary_s", canary(spark), "s"))
  }

  private def readHashes(f: File): Map[String, String] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)).map(m => m.group(1) -> m.group(2)).toMap
  }
}

object QueryWorkload {
  private def stratum(name: String, gates: String*) = gates.map(_ -> name)

  /** The gates, each with its stratum: both sides of two pairs of
    * implementations that share one oracle answer; the single-layer
    * HNSW search; and sub-second gates whose time is mostly fixed
    * per-query cost. Gates that write fixtures to the program's scratch
    * directory, which lies outside the run's directory, are left out. */
  val Gates: Seq[(String, String)] =
    stratum("pairs", "asof_join", "asof_join_native",
      "text_decontaminate", "text_decontam_bloom") ++
    stratum("hnsw", "sim_hnsw_search") ++
    stratum("fixed_cost", "q1_pricing_summary", "q3_top_revenue",
      "q7_outer_join", "q18_avg_subquery", "report_catalog")

  /** Strata whose gates run in the first measured pass only: one HNSW
    * search takes longer than a pass over all the other gates. */
  val FirstPassOnly: Set[String] = Set("hnsw")
}

/** Order-insensitive hash of a result: row count, sum and xor of a
  * per-row `xxhash64`. Doubles are compared to nine significant digits
  * so that summation order cannot change the hash; maps are hashed as
  * sorted entry arrays. */
object ResultHash {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h"))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$total:$xor"
  }

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if needsNorm(dt) =>
      struct(fs.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }
}
