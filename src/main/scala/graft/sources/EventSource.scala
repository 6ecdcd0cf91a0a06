package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming source abstraction.
  *
  * The reference reads three Kafka topics (stream_processor.py:102-109).
  * This environment ships no spark-sql-kafka connector (SURVEY.md §7
  * env facts), so sources hide behind a trait: Kafka for production,
  * file/memory for tests — all expose the same raw frame shape as
  * the Kafka source (`key`, `value` as strings + an ingest
  * `event_timestamp`), so the parse stage downstream is identical.
  *
  * 100 TB note: source parallelism = Kafka partitions (or input files).
  * maxOffsetsPerTrigger caps per-batch work so state+shuffle stay
  * bounded regardless of backlog; at scale raise it with partition
  * count, never unbounded.
  */
trait EventSource {
  def load(spark: SparkSession): DataFrame
}

/** Kafka source — faithful option set from stream_processor.py:102-109.
  * Compiles with no Kafka dependency (format is resolved at runtime);
  * unexercisable in this environment, covered by the file/memory twins. */
final case class KafkaEventSource(
    topic: String,
    bootstrapServers: String,
    maxOffsetsPerTrigger: Long = 10000L,
    startingOffsets: String = "latest") extends EventSource {

  /** The exact reader option set, exposed as data: the one source
    * untestable in this environment at least has its configuration
    * pinned by spec (an option renamed or dropped in a refactor fails
    * the contract test instead of failing at deploy). */
  def readerOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "failOnDataLoss" -> "false",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  def load(spark: SparkSession): DataFrame =
    spark.readStream
      .format("kafka")
      .options(readerOptions)
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("timestamp").as("event_timestamp"))
}

/** File-replay source: newline-JSON events laid down by the generator.
  * `maxFilesPerTrigger` is the file-world maxOffsetsPerTrigger.
  * Ingest time would be nondeterministic, so event_timestamp is taken
  * from the payload's `timestamp` field when present (idiomatic mode —
  * SURVEY §7.4 risk 4). */
final case class FileEventSource(
    dir: String,
    maxFilesPerTrigger: Int = 10) extends EventSource {
  def load(spark: SparkSession): DataFrame =
    spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(
        get_json_object(col("value"), "$.order_id").as("key"),
        col("value"),
        coalesce(
          to_timestamp(get_json_object(col("value"), "$.timestamp")),
          current_timestamp()).as("event_timestamp"))
}

/** Parse stage (S2): raw `value` JSON → typed columns.
  *
  * Faithful to stream_processor.py:111-133: from_json with the explicit
  * schema, drop rows that fail to parse, flatten, carry the ingest
  * timestamp. [[parse]] drops corrupt rows as the reference does;
  * [[corruptRecords]] is their side channel, so they can be routed
  * somewhere instead of lost (SURVEY §1.3).
  */
object EventParser {
  // Spark's PERMISSIVE from_json yields an all-null struct (not a null
  // struct) for garbage input, so `parsed_data.isNotNull` alone — the
  // reference's filter — would keep malformed rows. Require the
  // schema-required `event_id` (avro_schemas.py non-default field)
  // instead, which is the reference producer's own validation rule.
  private def wellFormed = col("parsed_data").isNotNull &&
    col("parsed_data.event_id").isNotNull

  def parse(raw: DataFrame, schema: StructType): DataFrame =
    raw
      .withColumn("parsed_data", from_json(col("value"), schema))
      .filter(wellFormed)
      .select(col("parsed_data.*"), col("event_timestamp"))

  /** Corrupt-record side output: rows from_json could not parse. */
  def corruptRecords(raw: DataFrame, schema: StructType): DataFrame =
    raw
      .withColumn("parsed_data", from_json(col("value"), schema))
      .filter(!wellFormed)
      .select(col("key"), col("value"), col("event_timestamp"))
}
