package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.operators.Pin

/** The one micro-batch runner: every `foreachBatch` query starts here.
  * As in Structured Streaming, each micro-batch is one ordinary batch
  * plan, so a stream twin is its batch operator applied per batch.
  *
  * Lifecycle: `body(batch, batchId)` runs inside [[Pin.scope]], so
  * every pin made for one batch (an operator's checkpoints, the sink's
  * batch pin) is released before the next batch starts, and a stream
  * that runs forever holds no storage from batches it has finished.
  * The body must therefore be done with its frames when it returns
  * (written, collected, or folded into driver state).
  *
  * Delivery is AT-LEAST-ONCE: after a failure or a restart from the
  * checkpoint, a batchId can be re-delivered with the same rows. A
  * sink that blindly appends double-counts (an additive weight then
  * biases any proportional sampler downstream), so the sink must be
  * idempotent per `batchId`. That is the one writer contract of the
  * stream tier, `writer(path)(batch, batchId)`: every metric table
  * goes through [[MetricsSink.idempotentParquetWriter]] (a
  * batchId-keyed partition) or [[MetricsSink.jdbcUpsertWriter]] (an
  * upsert on the table's key); driver-side state guards on the id as
  * [[StreamSketchInventory.Inventory]] does. ReplayContractSpec pins
  * that every twin re-delivers identically per batchId.
  *
  * The caller configures `writer` (output mode, trigger, query name,
  * checkpoint); the runner adds only the batch function and starts it. */
object MicroBatch {
  def start(writer: DataStreamWriter[Row])(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pin.scope(body(batch, batchId))
      }
      .start()
}
