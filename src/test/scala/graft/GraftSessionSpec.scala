package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one session configuration: its conf set is
  * pinned here, and no other main-source file may build a session or
  * read the core-count variable (a drift check over `src/main`, like
  * the fallback inventory's). `GraftExtensionsSpec` keeps its own
  * builder: it tests the `withExtensions` install path. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession sets the fixed conf; shuffle width = default parallelism") {
    val s = spark
    val sc = s.sparkContext.getConf
    assert(s.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.get("spark.ui.enabled") == "false")
    assert(sc.get("spark.executor.heartbeatInterval") == "60s")
    assert(sc.get("spark.network.timeout") == "600s")
    assert(s.sparkContext.defaultParallelism == 4)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // not restated: Spark's own defaults
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
  }

  private def mainSourcesContaining(needle: String): Seq[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString).toSeq.sorted
    finally files.close()
  }

  test("only GraftSession builds a session or reads SPARK_GRAFT_CPUS") {
    assert(mainSourcesContaining("SparkSession.builder") ==
      Seq("GraftSession.scala"))
    assert(mainSourcesContaining("SPARK_GRAFT_CPUS") ==
      Seq("GraftSession.scala"))
  }
}
