package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `MetricsSink.start` is the sink path of both topologies: its
  * emptiness probe, its console monitor and its writer must read one
  * computed micro-batch. */
class MetricsSinkSpec extends SparkSpec {
  import spark.implicits._

  test("start computes each non-empty micro-batch once") {
    MetricsSinkSpec.evaluated.set(0)
    // a foreachBatch frame is a LogicalRDD over the planned RDD, so every
    // action on it re-evaluates this column
    val counting = udf { (v: Int) => MetricsSinkSpec.evaluated.incrementAndGet(); v }
      .asNondeterministic()
    val input = MemoryStream[Int](spark)
    val received = new AtomicLong
    val q = MetricsSink.start(input.toDF().select(counting($"value").as("v")),
      "once", SinkConfig(triggerInterval = "1 seconds",
        checkpointRoot = Files.createTempDirectory("graft-sink-once").toString,
        console = true)) {
      (batch, _) => received.addAndGet(batch.collect().length.toLong); ()
    }
    try {
      input.addData(1 to 10)
      q.processAllAvailable()
    } finally q.stop()
    assert(received.get == 10)
    assert(MetricsSinkSpec.evaluated.get == received.get)
  }
}

object MetricsSinkSpec {
  val evaluated = new AtomicLong
}
