package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** The star-schema corpus the `query_mix` gates read: `region`,
  * `nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
  * `events`, `documents` and `embeddings`, one parquet directory per
  * table, with the column names and types of the repository's test
  * corpus (FIXTURES.md B). Timestamps are written as TIMESTAMP_NTZ,
  * like that corpus's `isAdjustedToUTC=false` columns.
  *
  * Row counts at `scale = 1` are those of the sf0.01 corpus (lineitem
  * 60 k, orders 15 k, documents 500, embeddings 500); the distributions
  * follow `graft.PerfFixture`. Every value is a hash of the row id and
  * a column tag, so the corpus is identical on every run and on any
  * partitioning, which is what lets result hashes be pinned.
  */
object QueryCorpus {

  private def id = col("id")

  /** Uniform (0, 1) from a hash of the given columns. */
  private def u(cols: Column*) =
    (pmod(xxhash64(cols: _*), lit(1000000L)) + lit(0.5)) / lit(1000000.0)

  /** Standard normal from two tagged uniforms (Box-Muller). */
  private def gauss(tag: Int, cols: Column*) =
    sqrt(lit(-2.0) * log(u((lit(tag * 2 + 11) +: cols): _*))) *
      cos(lit(2.0 * math.Pi) * u((lit(tag * 2 + 12) +: cols): _*))

  private def pick(tag: Int, values: Array[String], cols: Column*) =
    element_at(lit(values),
      (pmod(xxhash64((lit(tag) +: cols): _*), lit(values.length.toLong)) + 1)
        .cast("int"))

  private def hashMod(tag: Int, n: Long) = pmod(xxhash64(lit(tag), id), lit(n))

  def generate(spark: SparkSession, outDir: String, scale: Double): Unit = {
    def n(base: Long) = math.max(1L, math.round(base * scale))
    val nCustomer = n(1500); val nSupplier = n(100); val nPart = n(2000)
    val nOrders = n(15000); val nLineitem = n(60000); val nEvents = n(10000)
    val nUsers = n(150); val nDocs = n(500); val nVecs = n(500)
    val parts = spark.sparkContext.defaultParallelism
    def rows(count: Long) = spark.range(0, count, 1, parts)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def ntz(c: Column) = c.cast(TimestampNTZType)

    write("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(lit(Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), (id + 1).cast("int")).as("r_name")).coalesce(1))

    write("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")).coalesce(1))

    write("supplier", rows(nSupplier).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hashMod(1, 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(lit(2), id) * 11000.0, 2).as("s_acctbal")))

    write("customer", rows(nCustomer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hashMod(3, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(lit(4), id) * 11000.0, 2).as("c_acctbal"),
      pick(5, Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE"), id).as("c_mktsegment")))

    write("part", rows(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(6, Array("large", "small", "red", "green", "steel", "brass",
          "light", "dark"), id),
        pick(7, Array("ring", "bolt", "gear", "plate", "wire", "tube",
          "cap", "rod"), id)).as("p_name"),
      format_string("Brand#%d", hashMod(8, 25)).as("p_brand"),
      pick(9, Array("STANDARD", "LARGE", "ECONOMY", "MEDIUM", "SMALL",
        "PROMO"), id).as("p_type"),
      (hashMod(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(lit(11), id) * 100.0, 2).as("p_retailprice")))

    // Midnight-aligned order dates over 1995-01-01 .. 2001-08-01.
    val epoch1995 = 788918400L
    write("orders", rows(nOrders).select(id.as("o_orderkey"),
      hashMod(12, nCustomer).as("o_custkey"),
      pick(13, Array("P", "O", "F"), id).as("o_orderstatus"),
      round(lit(1000.0) + u(lit(14), id) * 499000.0, 2).as("o_totalprice"),
      ntz(timestamp_seconds(lit(epoch1995) + hashMod(15, 2405L) * 86400L))
        .as("o_orderdate"),
      pick(16, Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")))

    val qty = (hashMod(21, 50) + 1).cast("double")
    write("lineitem", rows(nLineitem).select(
      hashMod(17, nOrders).as("l_orderkey"),
      hashMod(18, nPart).as("l_partkey"),
      hashMod(19, nSupplier).as("l_suppkey"),
      (hashMod(20, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(1000.0) + u(lit(22), id) * 2000.0), 2)
        .as("l_extendedprice"),
      (hashMod(23, 11).cast("double") / 100.0).as("l_discount"),
      (hashMod(24, 9).cast("double") / 100.0).as("l_tax"),
      pick(25, Array("N", "R", "A"), id).as("l_returnflag"),
      pick(26, Array("F", "O"), id).as("l_linestatus"),
      ntz(timestamp_seconds(lit(epoch1995 + 86400L) + hashMod(27, 2499L) *
        86400L)).as("l_shipdate")))

    // Thirty days of January 2024 at microsecond resolution.
    val epoch2024us = 1704067200000000L
    write("events", rows(nEvents).select(id.as("event_id"),
      ntz(timestamp_micros(lit(epoch2024us) +
        hashMod(28, 30L * 86400L * 1000000L))).as("ts"),
      hashMod(29, nUsers).as("user_id"),
      pick(30, Array("signup", "purchase", "view", "click", "error"), id)
        .as("event_type"),
      round(lit(-50.0) * log(u(lit(31), id)), 4).as("value"),
      format_string("{\"k\": %d}", hashMod(32, 100)).as("props")))

    // Documents over a 31-word vocabulary: about 0.16 % exact
    // duplicates of an earlier document and 0.5 % near duplicates
    // (a tenth of the words substituted).
    val vocab = Array("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val isDup = hashMod(33, 625) === 0
    val isNear = hashMod(34, 200) === 0
    val source = when(isDup || isNear, hashMod(35, nDocs)).otherwise(id)
    val nWords = (pmod(xxhash64(lit(36), source), lit(91)) + 10).cast("int")
    def wordAt(s: Column, i: Column) = pick(37, vocab, s, i)
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      when(isNear && pmod(xxhash64(lit(38), id, i), lit(10)) === 0,
        wordAt(id, i)).otherwise(wordAt(source, i))), " ")
    write("documents", rows(nDocs).select(id.as("doc_id"), text.as("text"),
      pick(39, Array("en", "en", "en", "en", "en", "en", "en", "en", "zh",
        "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"), id)
        .as("lang"),
      format_string("src%d", hashMod(40, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // Unit-norm 64-dimensional gaussians with a weak label centroid.
    val label = hashMod(41, 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), i =>
      gauss(42, id, i) + lit(0.1) * gauss(43, label.cast("long"), i))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, v) => acc + v * v))
    write("embeddings", rows(nVecs).select(id.as("vec_id"),
      transform(raw, v => (v / norm).cast("float")).as("embedding"),
      label.as("label")))
  }
}
