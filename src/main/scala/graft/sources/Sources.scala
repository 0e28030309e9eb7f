package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.ChannelRuntime

/** Ingress operators (SURVEY.md §2.1).
  *
  * S4 (file-drop watcher) maps to Structured Streaming's native file
  * source: the reference watches a directory with `watchdog` and
  * parses each closed file (filedrop.py:75-145); Spark's file source
  * IS that operator — it lists new files per micro-batch, splits them
  * across executors, and parses with codegen'd readers. At 100 TB the
  * listing cost is bounded with `maxFilesPerTrigger` and the parse is
  * fully parallel — strictly stronger than the reference's single
  * watcher thread.
  *
  * S1/S2 (Kafka) are code-complete but config-gated: the build
  * environment has no broker, so the value-parse transform is factored
  * out ([[parseKafkaValue]]) and unit-tested on static frames while
  * the `readStream.format("kafka")` wiring stays untested-but-trivial.
  */
object Sources {

  /** S4 — file-drop stream: watch `dir` for new csv/json/parquet
    * files, parse to `schema`, reject rows that fail validation
    * (mode PERMISSIVE + corrupt-record column mirrors the reference's
    * per-row pydantic validation-with-logging).
    */
  def fileDrop(
      spark: SparkSession,
      dir: String,
      format: String,
      schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.readStream.schema(schema).options(options)
    format match {
      case "csv" => base.option("header", "true").csv(dir)
      case "json" => base.json(dir)
      case "parquet" => base.parquet(dir)
      case other => throw new IllegalArgumentException(s"Unsupported filedrop format '$other'")
    }
  }

  /** S1 — Kafka value-parse transform: JSON `value` bytes → typed
    * columns; `adjustOutOfOrder` clamps embedded event times to the
    * broker timestamp (reference kafka.py:336
    * `adjust_out_of_order_time`).
    */
  def parseKafkaValue(
      raw: DataFrame,
      schema: StructType,
      tsField: Option[String] = None,
      adjustOutOfOrder: Boolean = false,
      serde: graft.core.PayloadSerde = graft.core.JsonSerde): DataFrame = {
    // broker metadata renamed up front — payloads routinely carry their
    // own 'timestamp' field and must not collide with it
    val meta = raw.columns.filterNot(_ == "value")
      .map(c => col(c).as(s"_kafka_$c"))
    val parsed = raw
      .withColumn("_parsed", serde.decode(col("value"), schema))
      .select(col("_parsed.*") +: meta.toSeq: _*)
    (tsField, adjustOutOfOrder) match {
      case (Some(f), true) if raw.columns.contains("timestamp") =>
        parsed.withColumn(f, least(col(f), col("_kafka_timestamp")))
      case _ => parsed
    }
  }

  /** S1 — the COMPLETE subscribe transform over any kafka-shaped
    * frame (key, value, timestamp) — a broker stream or a [[TopicBus]]
    * mock, same code path either way:
    *
    *  1. pre-start gate (kafka.py:341
    *     `include_msg_before_start_time`): records broker-stamped
    *     before `startTime` are DROPPED when `includeBeforeStart` is
    *     false, otherwise their broker timestamp is CLAMPED forward to
    *     the start (csp can't tick before engine start);
    *  2. payload decode — plain (`serde.decode` against `schema`) or
    *     the engine-timestamp envelope `{data, csp_timestamp}`
    *     (kafka.py:283-295 `serialize_with_engine_timestamp`,
    *     subscribe field map kafka.py:293);
    *  3. out-of-order clamp of the embedded event time to the broker
    *     timestamp (kafka.py:336 `adjust_out_of_order_time`).
    */
  def kafkaSubscribe(
      raw: DataFrame,
      schema: StructType,
      tsField: Option[String] = None,
      adjustOutOfOrder: Boolean = false,
      envelope: Boolean = false,
      startTime: Option[java.sql.Timestamp] = None,
      includeBeforeStart: Boolean = true,
      serde: graft.core.PayloadSerde = graft.core.JsonSerde): DataFrame = {
    val gated = startTime match {
      case Some(t0) if !includeBeforeStart =>
        raw.filter(col("timestamp") >= lit(t0))
      case Some(t0) =>
        raw.withColumn("timestamp", greatest(col("timestamp"), lit(t0)))
      case None => raw
    }
    if (!envelope) parseKafkaValue(gated, schema, tsField, adjustOutOfOrder, serde)
    else {
      val envSchema = StructType(Seq(
        org.apache.spark.sql.types.StructField("data", schema),
        org.apache.spark.sql.types.StructField("csp_timestamp",
          org.apache.spark.sql.types.TimestampType)))
      val meta = gated.columns.filterNot(_ == "value")
        .map(c => col(c).as(s"_kafka_$c"))
      val parsed = gated
        .withColumn("_env", serde.decode(col("value"), envSchema))
        .select(Seq(col("_env.data.*"),
          col("_env.csp_timestamp").as("csp_timestamp")) ++ meta: _*)
      (tsField, adjustOutOfOrder) match {
        case (Some(f), true) if gated.columns.contains("timestamp") =>
          parsed.withColumn(f, least(col(f), col("_kafka_timestamp")))
        case _ => parsed
      }
    }
  }

  /** S1 — Kafka subscribe wiring (needs a broker at runtime); the
    * transform half is [[kafkaSubscribe]], shared with the
    * [[TopicBus]] e2e path. */
  def kafka(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      schema: StructType,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Long = 1000000L,
      tsField: Option[String] = None,
      adjustOutOfOrder: Boolean = false,
      envelope: Boolean = false,
      startTime: Option[java.sql.Timestamp] = None,
      includeBeforeStart: Boolean = true): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger) // backpressure (kafka.py:80)
      .load()
    kafkaSubscribe(raw.select(col("key"), col("value"), col("timestamp")), schema,
      tsField, adjustOutOfOrder, envelope, startTime, includeBeforeStart)
  }

  /** S7 — initializer: tick literal values into a channel at start.
    * `unroll=true` spreads the values over SUCCESSIVE engine cycles
    * (one send per value — the reference schedules one alarm per
    * element, initializer.py:13-63); `unroll=false` delivers them all
    * in one cycle.
    */
  def initialize(
      runtime: ChannelRuntime,
      channel: String,
      values: Seq[Map[String, Any]],
      unroll: Boolean = true): Unit =
    if (unroll) values.foreach(v => runtime.send(channel, Seq(v)))
    else runtime.send(channel, values)

  /** S8 — processing-time timer source (demo/synthetic data driver):
    * one row per interval via the rate source.
    */
  def timer(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
}
