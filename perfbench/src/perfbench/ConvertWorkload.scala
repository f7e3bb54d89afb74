package perfbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ConvertPipeline
import graft.schema.SchemaLoader
import graft.sources.{CsvIngest, S3Conf}

/** The two convert workloads over a seeded [[CsvCorpus]]:
  *
  *   - `convert_bulk` (`bulk = true`): a few large files, converted with
  *     `preserveFileNames = false` and uploaded;
  *   - `convert_many_files`: many small files through the defaults,
  *     one single-file job per input, then the upload.
  *
  * One batch is one `ConvertPipeline.run` over the whole corpus, from
  * discovery to upload complete, into a local `s3a://` stand-in.
  * After every batch, outside its timing, the uploaded output (and, on
  * the per-file path, each converted file) is read back and checked
  * against the values the generator computed.
  *
  * A traced run alternates untraced and traced batches. A traced batch
  * calls `discoverCsvs`, `convert` and `upload` one by one inside spans
  * and then times `CsvIngest.readAll` over the same files into `noop`.
  */
final class ConvertWorkload(spark: SparkSession, opts: Main.Opts,
    bulk: Boolean) {
  import Main._

  private val files = if (bulk) 4 else 8
  private val rowsPerFile = if (bulk) 20000 else 500
  private val rows = files.toLong * rowsPerFile
  private val corpusReps = 3

  private val csvDir = new File(opts.work, "csv")
  private val parquetDir = new File(opts.work, "parquet")
  private val s3 =
    S3Conf.S3Settings(bucket = "perfbench", prefix = "converted")
  private val s3Dir = new File(opts.work, "s3/perfbench/converted")

  def run(sessionS: Double): Result = {
    // Set-up: the corpus is generated `corpusReps` times (median kept),
    // then one untimed batch fills the JIT and code-generation caches.
    val generated = (1 to corpusReps).map { _ =>
      deleteTree(csvDir)
      seconds(CsvCorpus.generate(csvDir, files, rowsPerFile, opts.seed,
        Runtime.getRuntime.availableProcessors()))
    }
    val expected = generated.last._1
    val corpusS = generated.map(_._2)
    val schemaFile = new File(opts.work, "schema.json")
    Files.write(schemaFile.toPath,
      CsvCorpus.schemaJson.getBytes(StandardCharsets.UTF_8))
    val schema = SchemaLoader.fromJsonFile(schemaFile.getPath)
    val cfg = ConvertPipeline.Config(csvDir.getPath, parquetDir.getPath,
      schema, preserveFileNames = !bulk, s3 = Some(s3))
    val csvBytes = csvDir.listFiles.map(_.length).sum
    val total = expected.values.reduce(_ + _)

    var attempted = 0L
    var failed = 0L
    var uploadedStats: Option[CsvCorpus.Stats] = None
    def checked(): Unit = {
      val (bad, whole) = check(schema, expected, total)
      attempted += files
      failed += bad
      uploadedStats = whole
    }
    val warmS = seconds(runBatch(cfg))._2
    checked()
    val setupS = sessionS + median(corpusS) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, " +
      s"corpus ${corpusS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"warm-up batch $warmS%.2f s")

    val trace = if (opts.trace) Some(new Trace(spark)) else None
    // The first batches after the warm-up are still the slowest; a
    // traced run skips one more so that its untraced and traced
    // batches compare at the same warmth.
    trace.foreach { _ =>
      clearOutputs()
      runBatch(cfg)
      checked()
    }
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[TracedBatch]
    var timed = 0.0
    while (timed < opts.seconds || untraced.isEmpty ||
        (trace.isDefined && traced.size < untraced.size)) {
      clearOutputs()
      // Untraced and traced batches in the order u t t u u t t u ...,
      // so that a trend in batch time over the run cancels out.
      val n = untraced.size + traced.size
      trace.filter(_ => n % 4 % 3 != 0) match {
        case Some(t) =>
          val b = tracedBatch(t, cfg, schema)
          checked()
          traced += b
          timed += b.batch.wallS
        case None =>
          val s = seconds(runBatch(cfg))._2
          checked()
          untraced += s
          timed += s
      }
    }
    val batchS = median(untraced.toSeq)
    System.err.println("[perfbench] batches: " +
      untraced.map(x => f"$x%.3f").mkString(" ") + " s")
    val correct = failed == 0
    val metrics =
      if (!opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("batch_s", batchS, "s"),
        ("op_geomean_s", geomean(untraced.toSeq), "s"))
      else layerMetrics(traced.toSeq, batchS, csvBytes,
        uploadedStats.map(nullShare).getOrElse(0.0))
    Result(correct, attempted, failed, metrics)
  }

  private def runBatch(cfg: ConvertPipeline.Config): Unit =
    ConvertPipeline.run(spark, cfg)

  private def clearOutputs(): Unit = {
    deleteTree(parquetDir)
    deleteTree(s3Dir)
  }

  private final case class TracedBatch(batch: Window, discover: Window,
      convert: Window, upload: Window, parseCast: Window, filesIn: Int,
      filesOut: Int, bytesOut: Long, bytesUploaded: Long)

  private def tracedBatch(trace: Trace, cfg: ConvertPipeline.Config,
      schema: StructType): TracedBatch = {
    trace.install()
    val ((csvs, discover, convert, upload), batch) = trace.span {
      val (csvs, d) = trace.span(ConvertPipeline.discoverCsvs(cfg.sourceDir))
      val (_, c) = trace.span(ConvertPipeline.convert(spark, cfg))
      val (_, u) = trace.span(ConvertPipeline.upload(spark, cfg))
      (csvs, d, c, u)
    }
    val (_, parseCast) = trace.span(
      CsvIngest.readAll(spark, csvs, schema)
        .write.format("noop").mode("overwrite").save())
    trace.uninstall()
    val local = parquetFiles(parquetDir)
    TracedBatch(batch, discover, convert, upload, parseCast, csvs.size,
      local.size, local.map(_.length).sum,
      parquetFiles(s3Dir).map(_.length).sum)
  }

  /** Share of the output's cells that are NULL. */
  private def nullShare(out: CsvCorpus.Stats): Double = {
    val cells = out.rows.toDouble * out.nonNull.length
    (cells - out.nonNull.sum) / cells
  }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.isDirectory) Nil
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  private def layerMetrics(ts: Seq[TracedBatch], untracedS: Double,
      csvBytes: Long, nulls: Double): Seq[(String, Double, String)] = {
    def med(f: TracedBatch => Double) = median(ts.map(f))
    val convertS = med(_.convert.wallS)
    val parseCastS = med(_.parseCast.wallS)
    val spans = ts.flatMap(_.convert.executionSpansS)
    val tracedS = med(_.batch.wallS)
    val perBatch = ts.map(_.batch).reduce(_ + _).times(1.0 / ts.size)
    Seq(
      ("ConvertPipeline.discover_s", med(_.discover.wallS), "s"),
      ("ConvertPipeline.convert_s", convertS, "s"),
      ("ConvertPipeline.upload_s", med(_.upload.wallS), "s"),
      ("ConvertPipeline.files_in", med(_.filesIn.toDouble), "count"),
      ("ConvertPipeline.files_out", med(_.filesOut.toDouble), "count"),
      ("CsvIngest.parse_cast_s", parseCastS, "s"),
      ("CsvIngest.null_cells_share", nulls, "ratio"),
      ("ParquetSink.encode_commit_s", convertS - parseCastS, "s"),
      ("ParquetSink.bytes_out", med(_.bytesOut.toDouble), "bytes"),
      ("ParquetSink.single_file_p50_s", percentile(spans, 0.5), "s"),
      ("ParquetSink.single_file_p95_s", percentile(spans, 0.95), "s"),
      ("spark.jobs_per_file",
        med(t => t.convert.jobs.toDouble / t.filesIn), "count"),
      ("upload.rows_decoded_per_row",
        med(_.upload.recordsRead.toDouble / rows), "ratio"),
      ("upload.bytes_read", med(_.upload.scanBytes.toDouble), "bytes"),
      ("upload.bytes_written", med(_.bytesUploaded.toDouble), "bytes"),
      ("pipeline.rows_per_s", rows / untracedS, "rows/s"),
      ("pipeline.bytes_out_per_byte_in",
        med(_.bytesUploaded.toDouble) / csvBytes, "ratio"),
      ("trace.untraced_batch_s", untracedS, "s"),
      ("trace.traced_batch_s", tracedS, "s"),
      ("trace.overhead_share", tracedS / untracedS - 1, "ratio"),
      ("host.canary_s", canary(spark), "s")) ++
      catalystMetrics(perBatch) ++ sparkMetrics("spark", perBatch)
  }

  // ---------------------------------------------------------------- //
  // Output check.

  /** A numeric reading of each column: the value for numbers, epoch
    * days for dates, epoch microseconds for timestamps and the length
    * for strings; the generator records the same readings. */
  private def reading(c: Column, dt: DataType): Column = dt match {
    case DateType => unix_date(c).cast(DecimalType(38, 0))
    case TimestampNTZType | TimestampType =>
      unix_micros(c.cast(TimestampType)).cast(DecimalType(38, 0))
    case StringType => length(c).cast(DecimalType(38, 0))
    case d: DecimalType => c.cast(DecimalType(38, d.scale))
    case _ => c.cast(DecimalType(38, 0))
  }

  private def statsOf(df: DataFrame, schema: StructType,
      key: Option[Column]): Map[String, CsvCorpus.Stats] = {
    val aggs = count(lit(1)) +: schema.fields.toSeq.flatMap { f =>
      val v = reading(col(f.name), f.dataType)
      Seq(count(col(f.name)), sum(v), min(v), max(v))
    }
    df.groupBy(key.getOrElse(lit("all")).as("k"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        def column(k: Int) = Array.tabulate(schema.size)(i =>
          r.getAs[JBigDecimal](2 + 4 * i + k))
        def ordered(a: Array[JBigDecimal]) =
          a.indices.map(i => if (CsvCorpus.ordered(i)) a(i) else null).toArray
        r.getString(0) -> new CsvCorpus.Stats(r.getLong(1),
          Array.tabulate(schema.size)(i => r.getLong(2 + 4 * i)),
          column(1).map(Option(_).getOrElse(JBigDecimal.ZERO)),
          ordered(column(2)), ordered(column(3)))
      }.toMap
  }

  /** Reads the outputs back. Returns how many files are missing or
    * wrong (all of them when the uploaded whole is wrong) and the stats
    * of the uploaded whole. */
  private def check(schema: StructType,
      expected: Map[String, CsvCorpus.Stats],
      total: CsvCorpus.Stats): (Long, Option[CsvCorpus.Stats]) =
    try {
      val out = spark.read.parquet(s3.uri)
      val typesOk = schema.fields.forall(f =>
        out.schema.find(_.name == f.name).exists(_.dataType == f.dataType))
      val whole = statsOf(out, schema, None).get("all")
      val bad =
        if (!typesOk || !whole.exists(_.sameAs(total))) files.toLong
        else if (bulk) 0L
        else {
          val perFile = statsOf(spark.read.parquet(parquetDir.getPath),
            schema, Some(regexp_extract(input_file_name(),
              "([^/]+)\\.parquet$", 1)))
          expected.count { case (name, e) =>
            !perFile.get(name).exists(_.sameAs(e)) }.toLong
        }
      (bad, whole)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] output check failed: $e")
        (files.toLong, None)
    }
}
