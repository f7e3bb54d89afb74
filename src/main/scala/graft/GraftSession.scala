package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of every graft entry point (the
  * mains, the specs' shared session). Only the master is a deployment
  * choice; everything else is fixed here:
  *
  *   - subset-key co-partitioning: a hash(k1) exchange may serve a
  *     (k1, k2) join. Spark made the conservative choice the default
  *     in 3.4; the engine's shared-exchange plans rely on it;
  *   - UTC session time zone, UI off;
  *   - heartbeat and network timeouts raised: in local mode the
  *     executor shares the driver heap, and a full-GC stall past the
  *     10 s heartbeat window kills the JVM (exit 56). On a cluster
  *     (`ConvertPipeline.main`) a lost executor is then noticed after
  *     up to 10 min, not 120 s: its tasks retry later, same output;
  *   - shuffle partitions = `defaultParallelism` (N for `local[N]`).
  *
  * AQE, partition coalescing and the 4 MiB `files.openCostInBytes` are
  * Spark 4.1 defaults and are not restated. Lowering `openCostInBytes`
  * to 64k won a kernel-heavy 14-gate subset by 8 % but lost the full
  * suite (geomean 1.15x against); OPTIMIZATION_r13.md has the table.
  */
object GraftSession {

  /** `local[N]` with N from `SPARK_GRAFT_CPUS`, else the host's cores. */
  def hostMaster: String = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    s"local[$cpus]"
  }

  def apply(master: String = hostMaster,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark
  }
}
