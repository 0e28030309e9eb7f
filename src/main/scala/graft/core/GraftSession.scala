package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One shared `SparkSession` for the whole gateway, mirroring the
  * reference's single shared DuckDB instance for all state tables
  * (reference: csp_gateway/server/gateway/csp/state.py:33-45). All
  * engine defaults that matter at 100 TB scale are set here:
  * AQE (runtime re-plan, skew-join splitting), sane shuffle
  * parallelism, UTC session time so event-time semantics are
  * reproducible across engines. Every main (the gateway launcher,
  * Verify, Bench, the tools) builds its session here, so the gate and
  * the bench run the config the gateway serves from.
  */
object GraftSession {

  /** Build (or get) the shared session. `parallelism` should match the
    * core count in local mode; on a real cluster leave shuffle
    * partitions to AQE coalescing.
    */
  def build(
      master: String = "local[*]",
      appName: String = "graft",
      parallelism: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      // checkpoint files without a `chmod`/`readlink` fork each
      .config(s"spark.hadoop.${LocalFs.binding._1}", LocalFs.binding._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // streaming state (flatMapGroupsWithState) on RocksDB: bounded
      // executor heap at 100 TB key cardinality vs the default
      // HDFS-backed in-memory map
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      // the status listener retains jobs/stages/executions even with the
      // UI off, and every micro-batch of a long-lived gateway (or every
      // entry of a full catalog run) is a retained job and SQL execution;
      // the defaults (1000 each, 100k tasks) hold tens of thousands of
      // task wrappers on the old-gen heap, so later work runs under
      // earlier work's GC debt
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
