package graft.sources

import graft.SparkSpec

/** Contract test for the one source this environment cannot execute
  * (no spark-sql-kafka jar, no broker): the reader option map is
  * pinned so a refactor that renames or drops an option — subscribe,
  * startingOffsets, failOnDataLoss, maxOffsetsPerTrigger — fails here
  * instead of at deploy. Mirrors the reference's consumer options
  * (stream_processor.py:102-109). */
class KafkaContractSpec extends SparkSpec {

  test("KafkaEventSource wires the full reference option set") {
    val src = KafkaEventSource(
      topic = "orders",
      bootstrapServers = "broker-1:9092,broker-2:9092",
      maxOffsetsPerTrigger = 5000L,
      startingOffsets = "earliest")
    assert(src.readerOptions == Map(
      "kafka.bootstrap.servers" -> "broker-1:9092,broker-2:9092",
      "subscribe" -> "orders",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "false",
      "maxOffsetsPerTrigger" -> "5000"))
  }

  test("EventGenerator.toKafka wires the reference producer option set") {
    assert(graft.streaming.EventGenerator.writerOptions("orders",
        "broker-1:9092") == Map(
      "kafka.bootstrap.servers" -> "broker-1:9092",
      "topic" -> "orders",
      "kafka.acks" -> "all",
      "kafka.compression.type" -> "gzip"))
  }

  test("defaults: latest offsets, bounded 10k per trigger") {
    val src = KafkaEventSource("events", "localhost:9092")
    assert(src.readerOptions("startingOffsets") == "latest")
    assert(src.readerOptions("maxOffsetsPerTrigger") == "10000")
  }

  /** Jar-inventory proof that the live Kafka path is unexercisable in
    * this environment — and a tripwire that DEMANDS the embedded-broker
    * round-trip the moment the environment changes. An in-test KRaft
    * broker needs kafka-clients + kafka server classes; the Spark
    * connector needs spark-sql-kafka. If either ever appears on the
    * classpath, this test fails with instructions instead of letting
    * the contract pin silently stand in for a live round-trip. */
  test("environment proof: no kafka-clients / spark-sql-kafka anywhere " +
      "(else the embedded-broker round-trip is owed)") {
    import scala.jdk.CollectionConverters._
    def present(cls: String): Boolean =
      try { Class.forName(cls); true }
      catch { case _: ClassNotFoundException => false }
    val clientJar = present("org.apache.kafka.clients.producer.KafkaProducer")
    val connector = present(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")
    val sparkJars = java.nio.file.Paths.get("/opt/spark/jars")
    val distJars =
      if (java.nio.file.Files.isDirectory(sparkJars)) {
        val s = java.nio.file.Files.list(sparkJars)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.toLowerCase.contains("kafka")).toList
        finally s.close()
      } else Nil
    assert(!clientJar && !connector && distJars.isEmpty,
      s"Kafka classes reachable (clients=$clientJar, connector=$connector, " +
        s"dist=$distJars): replace this proof with an embedded KRaft " +
        "round-trip through KafkaEventSource.readerOptions")
    // and the DataSource lookup itself confirms the live path cannot
    // even resolve in this build
    val err = intercept[Exception] {
      spark.readStream.format("kafka")
        .options(KafkaEventSource("events", "localhost:9092").readerOptions)
        .load()
    }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }
}
