package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed views of the two order fact tables (SURVEY §1.3: `Dataset[T]`
  * where a stable schema aids compile-time checks; the dynamic
  * DataFrame API remains the primary surface). Field order matches
  * SCHEMA_MAP; Spark derives `Encoder`s from the case classes. */
object Warehouse {

  case class FactOrder(
    order_id: String, order_number: String, created_at: String,
    updated_at: String, processed_at: String, cancelled_at: String,
    cancel_reason: String, confirmed: String, tags: String,
    fulfillment_status: String, subtotal: Double, currency: String,
    total_price: Double, total_tax: Double, total_discounts: Double,
    total_shipping: Double, customer_id: String, shipping_address1: String,
    shipping_address2: String, shipping_city: String,
    shipping_province: String, shipping_country: String,
    shipping_zip: String, shipping_phone: String, shipping_company: String,
    line_items_count: Int, total_quantity: Int, source_name: String)

  case class FactOrderItem(
    order_id: String, line_item_id: String, quantity: Int,
    variant_id: String, product_id: String, title: String,
    original_price: Double, discounted_price: Double)

  /** Typed conversions from conformed staging frames. */
  implicit class TypedOps(df: DataFrame) {
    def asOrders(implicit s: SparkSession): Dataset[FactOrder] =
      { import s.implicits._; df.as[FactOrder] }
    def asOrderItems(implicit s: SparkSession): Dataset[FactOrderItem] =
      { import s.implicits._; df.as[FactOrderItem] }
  }
}
