package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * `events.ts` has shipped as two physical types across driver rounds:
  * TIMESTAMP(NANOS), which Spark reads only as a raw long
  * (`spark.sql.legacy.parquet.nanosAsLong` — GraftSession/Verify/Bench
  * set it) and needs an exact ns→µs conversion here, and plain
  * timestamp[us], which arrives as TIMESTAMP_NTZ and only needs the
  * instant cast (sessions run UTC, so the wall-clock reading is the
  * same instant the nanos path produced). Branch on the type actually
  * read so both vintages load identically.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache, keyed by (path, inference-conf fingerprint):
    * the driver-provided tables are immutable per dir, but every
    * `spark.read.parquet` re-reads the footer to re-infer the schema —
    * pure per-query planning overhead in a catalog run that loads the
    * same ten tables hundreds of times (r15 optimization, guide §6:
    * pass an explicit schema so the scan skips inference). The key
    * folds in EVERY session conf that changes what type the SAME
    * footer infers to (advisor r15: nanosAsLong alone left
    * inferTimestampNTZ/binaryAsString/int96AsTimestamp able to serve a
    * stale schema across mixed-conf sessions in one JVM). Assumption
    * documented here because the cache cannot check it: a path is
    * never REWRITTEN IN PLACE with a different schema within one JVM —
    * true for the driver tables (immutable per dir) and for scratch
    * layouts (new dir per (data-dir, params) hash).
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** The parquet-inference conf fingerprint for [[schemaCache]] keys. */
  private def inferenceConfKey(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.fieldId.read.enabled")
      .map(k => spark.conf.getOption(k).getOrElse("-")).mkString("|")

  /** Spread a narrow-split input across the session's cores before
    * compute-dense per-row work (r15 optimization, guide §2.5 "input
    * skew: one huge unsplittable file → repartition immediately after
    * the read"). The driver's gate tables are ONE parquet file of ONE
    * row group each, so a scan — and with whole-stage codegen every
    * fused per-row stage up to the first exchange (shingling, codec
    * decode, sketch partials) — runs as a single task on a 32-core
    * session. A round-robin repartition costs one exchange of the
    * (small) gate input and buys cores× parallelism for the heavy
    * stage. No-op when the input already carries at least half the
    * session's parallelism in splits — the 100 TB case, where corpus
    * inputs arrive in many files and the scan parallelizes natively.
    * Row-set-identical by construction (round-robin only moves rows).
    */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch partitioning is the
    // stream's own concern (the gate's state partitions); .rdd would throw
    // advisor r15: `.rdd` on a shuffling plan materializes upstream
    // query stages eagerly under AQE (executing work the caller will
    // run again) — probe the split count only for bare scans
    // (Project/Filter over leaf relations), where `.rdd` is
    // partition-metadata only; anything richer returns unchanged
    import org.apache.spark.sql.catalyst.plans.logical
    def bareScan(p: logical.LogicalPlan): Boolean = p match {
      case logical.Project(_, c)   => bareScan(c)
      case logical.Filter(_, c)    => bareScan(c)
      case logical.SubqueryAlias(_, c) => bareScan(c)
      case _: logical.LeafNode     => true
      case _                       => false
    }
    if (!bareScan(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, inferenceConfKey(spark))
    val cached = schemaCache.get(key)
    val df =
      if (cached != null) spark.read.schema(cached).parquet(path)
      else {
        val inferred = spark.read.parquet(path)
        schemaCache.put(key, inferred.schema)
        inferred
      }
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    else df
  }
}
