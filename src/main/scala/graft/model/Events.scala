package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Event model — single source of truth for schemas.
  *
  * The reference declares every event schema twice (Avro-style dicts in
  * src/schemas/avro_schemas.py:1-57 and Spark StructTypes in
  * src/consumers/stream_processor.py:58-94). Here the case class IS the
  * schema: the parse StructType and the typed Dataset encoder both
  * derive from it (SURVEY.md §1.4).
  *
  * Field semantics follow avro_schemas.py: `event_id`, `event_type`,
  * `event_time`, `order_id` are required; the rest nullable (modeled as
  * Option). Timestamps ride as ISO strings in the payload — the
  * reference never parses them (SURVEY §1.2); `EventTime.parsed` is the
  * idiomatic-mode opt-in.
  */
final case class OrderEvent(
    event_id: String,
    event_type: String,
    event_time: String,
    order_id: String,
    customer_id: Option[String],
    order_status: Option[String],
    order_approved_at: Option[String],
    estimated_delivery_date: Option[String],
    timestamp: Option[String])

final case class ItemEvent(
    event_id: String,
    event_type: String,
    event_time: String,
    order_id: String,
    order_item_id: Option[Int],
    product_id: Option[String],
    seller_id: Option[String],
    price: Option[Double],
    freight_value: Option[Double],
    timestamp: Option[String])

final case class PaymentEvent(
    event_id: String,
    event_type: String,
    event_time: String,
    order_id: String,
    payment_sequential: Option[Int],
    payment_type: Option[String],
    payment_installments: Option[Int],
    payment_value: Option[Double],
    timestamp: Option[String])

object Schemas {
  val order: StructType = Encoders.product[OrderEvent].schema
  val item: StructType = Encoders.product[ItemEvent].schema
  val payment: StructType = Encoders.product[PaymentEvent].schema

  /** Wire-contract nullability (avro_schemas.py:1-57): exactly the
    * fields the reference declares WITHOUT a `["null", T]` union are
    * required — the envelope, plus per-schema measures and `timestamp`.
    * Spark encoders mark every reference-typed field nullable, so the
    * Avro wire schema needs this explicit tightening — a required
    * field and a union encode differently on the wire (the union
    * writes a branch index byte). */
  private val envelope = Set("event_id", "event_type", "event_time", "order_id")
  private def wire(st: StructType, required: Set[String]): StructType =
    StructType(st.fields.map(f => f.copy(nullable = !required(f.name))))
  /** avro_schemas.py:1-16 ORDER_SCHEMA. */
  val orderWire: StructType = wire(order, envelope + "timestamp")
  /** avro_schemas.py:19-33 ORDER_ITEM_SCHEMA. */
  val itemWire: StructType = wire(item,
    envelope ++ Set("order_item_id", "price", "freight_value", "timestamp"))
  /** avro_schemas.py:36-50 PAYMENT_SCHEMA. */
  val paymentWire: StructType = wire(payment,
    envelope ++ Set("payment_sequential", "payment_installments",
      "payment_value", "timestamp"))
}
