package graft

import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Scan-level contracts the 100 TB design depends on, asserted as
  * tests instead of eyeballed explains: filters REACH the parquet
  * scan (`PushedFilters`) and the read schema is PRUNED to the
  * referenced columns — a scan that reads 11 columns for a 4-column
  * projection pays ~3× the I/O at any scale.
  *
  * Assertions parse the executed-plan STRING: AdaptiveSparkPlanExec
  * hides its subtree from `plan.collect`, but the rendered plan
  * always shows every FileScan's PushedFilters/ReadSchema. */
class PushdownSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def scanLines(plan: String, tag: String): Seq[String] =
    plan.linesIterator.flatMap { l =>
      val i = l.indexOf(tag + ": ")
      if (i >= 0) Some(l.substring(i)) else None
    }.toSeq

  test("q2 filter+project: predicates pushed, read schema pruned") {
    val plan = planOf(Relational.q2FilterProject(spark, sf))
    val pushed = scanLines(plan, "PushedFilters").mkString
    assert(pushed.contains("l_quantity") && pushed.contains("l_discount"),
      pushed)
    val read = scanLines(plan, "ReadSchema").mkString
    // only the referenced columns — notably NOT l_shipdate/l_tax/...
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_shipdate") && !read.contains("l_tax"), read)
  }

  test("q1 date filter is pushed into the lineitem scan") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert(scanLines(plan, "PushedFilters").mkString.contains("l_shipdate"),
      plan)
  }

  test("flagship SparkEntry.entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("text stats read only doc_id + text from documents") {
    val plan = planOf(graft.ops.TextAnalysis.textStats(spark, sf))
    val read = scanLines(plan, "ReadSchema").mkString
    assert(read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("negative sampling prunes the corpus scan to ids only") {
    val plan = planOf(graft.ops.Similarity.negativeSample(spark, sf))
    val reads = scanLines(plan, "ReadSchema")
    assert(reads.nonEmpty, plan)
    // at least one embeddings scan reads ONLY vec_id (the candidate
    // stream); any scan that does read the vector column must be the
    // bounded query side (vec_id < 5 pushed down)
    assert(reads.exists(r => r.contains("vec_id") &&
      !r.contains("embedding")), reads.mkString("\n"))
    val pushed = scanLines(plan, "PushedFilters")
    assert(pushed.exists(_.contains("LessThan(vec_id,5)")),
      pushed.mkString("\n"))
  }

  test("q39 NOT IN plans as a single null-aware broadcast anti join") {
    val plan = planOf(Relational.q39NullAntiJoin(spark, sf))
    // Catalyst's enableNullAwareAntiJoin rewrites the NOT IN into a
    // broadcast hash anti join whose trailing flag (isNullAwareAntiJoin)
    // renders as ", true" — NOT the O(n·m) nested-loop fallback the
    // unoptimized form would take.
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti") &&
      l.trim.endsWith("true")), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin")), plan)
  }

  test("window top-k runs under WindowGroupLimit (per-partition heaps)") {
    // InferWindowGroupLimit turns rank-filter-over-window into a
    // group-limit: each task keeps a k-heap per partition key instead
    // of sorting whole partitions — the difference between O(n log k)
    // and a full per-key sort at 100 TB. Pin that the rewrite fires
    // for the repo's rank<=k idiom.
    val plan = planOf(Relational.q8WindowRank(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("binaryFile metadata projection never reads file contents") {
    // Staging for the gate writes the .bin files; reuse them.
    graft.ops.ParityQueries.convBinaryFiles(spark, sf)
    val binDir = s"${graft.Scaffold.scratchBase}/${sf.replaceAll("[^A-Za-z0-9.]", "_")}" +
      "/conv_binaryfiles"
    val metaOnly = spark.read.format("binaryFile").load(binDir)
      .select(col("path"), col("length"))
    val read = scanLines(planOf(metaOnly), "ReadSchema").mkString
    assert(!read.contains("content"), read)
  }
}
