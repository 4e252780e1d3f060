package graft.silver

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.ShopifyFunctions._
import graft.model.Schemas

/** Silver layer: nested bronze nodes → flat staging rows (SURVEY §2.2
  * P1–P8, §2.4 A1/A2). Input DataFrames are the per-node output of
  * `RawReader` (one row per GraphQL node, declared schema).
  *
  * All flatteners are single wide `select`s over struct dot-paths: no
  * joins, no shuffles. Per-order line aggregates (A2) are computed from
  * the nested array BEFORE the explode, so parent and child never need
  * recombining (SURVEY §7.3 "self-join-free array aggregates").
  */
object Flatten {

  /** `entry.get('node', entry)` for array elements (lambda context). */
  private def edgeNode(x: Column, node: StructType): Column =
    when(x.getField("node").isNotNull, x.getField("node"))
      .otherwise(struct(node.fieldNames.map(n => x.getField(n).as(n)).toSeq: _*))

  /** P1 — customer node → 26-col dim_customers row
    * (incremental_loaders.py:112-168). */
  def customers(nodes: DataFrame, prefix: String): DataFrame =
    nodes.select(
      cleanId(col("id"), prefix).as("customer_id"),
      col("firstName").as("first_name"),
      col("lastName").as("last_name"),
      col("email"), col("phone"),
      col("createdAt").as("created_at"),
      col("updatedAt").as("updated_at"),
      col("state"),
      pyStr(col("taxExempt")).as("tax_exempt"),
      joinTags(col("tags")).as("tags"),
      col("note"),
      safeCast(col("numberOfOrders"), "int", 0).as("number_of_orders"),
      col("lifetimeDuration").as("lifetime_duration"),
      // amountSpent is the flat {amount, currencyCode} shape
      coalesce(col("amountSpent.amount").try_cast("double"), lit(0.0)).as("amount_spent"),
      col("amountSpent.currencyCode").as("currency"),
      col("defaultAddress.address1").as("address1"),
      col("defaultAddress.address2").as("address2"),
      col("defaultAddress.city").as("city"),
      col("defaultAddress.province").as("province"),
      col("defaultAddress.country").as("country"),
      col("defaultAddress.zip").as("zip"),
      col("defaultAddress.company").as("company"),
      cleanId(col("lastOrder.id"), prefix).as("last_order_id"),
      col("lastOrder.createdAt").as("last_order_date"),
      col("statistics.predictedSpendTier").as("predicted_spend_tier"),
      col("statistics.rfmGroup").as("rfm_group"))

  /** P2 + A2 — order node → 28-col fact_orders row with array-side
    * line aggregates (incremental_loaders.py:226-255). */
  def orders(nodes: DataFrame, prefix: String): DataFrame = {
    val edges = col("lineItems.edges")
    val itemQty = (x: Column) =>
      coalesce(edgeNode(x, Schemas.lineItemNode).getField("quantity").try_cast("int"), lit(0))
    nodes.select(
      cleanId(col("id"), prefix).as("order_id"),
      stripHash(col("name")).as("order_number"),
      col("createdAt").as("created_at"),
      col("updatedAt").as("updated_at"),
      col("processedAt").as("processed_at"),
      col("cancelledAt").as("cancelled_at"),
      col("cancelReason").as("cancel_reason"),
      // str(node.get('confirmed', False)): absent → "False" (not "None")
      when(col("confirmed").isNull, lit("False"))
        .otherwise(pyStr(col("confirmed"))).as("confirmed"),
      joinTags(col("tags")).as("tags"),
      col("displayFulfillmentStatus").as("fulfillment_status"),
      money(col("subtotalPriceSet")).as("subtotal"),
      col("totalPriceSet.shopMoney.currencyCode").as("currency"),
      money(col("totalPriceSet")).as("total_price"),
      money(col("totalTaxSet")).as("total_tax"),
      money(col("totalDiscountsSet")).as("total_discounts"),
      money(col("totalShippingPriceSet")).as("total_shipping"),
      cleanId(col("customer.id"), prefix).as("customer_id"),
      col("shippingAddress.address1").as("shipping_address1"),
      col("shippingAddress.address2").as("shipping_address2"),
      col("shippingAddress.city").as("shipping_city"),
      col("shippingAddress.province").as("shipping_province"),
      col("shippingAddress.country").as("shipping_country"),
      col("shippingAddress.zip").as("shipping_zip"),
      col("shippingAddress.phone").as("shipping_phone"),
      col("shippingAddress.company").as("shipping_company"),
      coalesce(size(edges), lit(0)).as("line_items_count"),
      coalesce(aggregate(edges, lit(0), (acc, x) => acc + itemQty(x)), lit(0))
        .as("total_quantity"),
      col("sourceName").as("source_name"))
  }

  /** P3 — order node → N fact_order_items rows via explode
    * (incremental_loaders.py:201-221). Empty/null lineItems yield no
    * rows, matching the reference's loop over an empty list. */
  def orderItems(nodes: DataFrame, prefix: String): DataFrame = {
    val li = edgeNode(col("edge"), Schemas.lineItemNode)
    nodes
      .select(cleanId(col("id"), prefix).as("order_id"),
        explode(col("lineItems.edges")).as("edge"))
      .select(
        col("order_id"),
        cleanId(li.getField("id"), prefix).as("line_item_id"),
        coalesce(li.getField("quantity").try_cast("int"), lit(0)).as("quantity"),
        cleanId(li.getField("variant").getField("id"), "").as("variant_id"),
        cleanId(li.getField("product").getField("id"), "").as("product_id"),
        li.getField("title").as("title"),
        money(li.getField("originalUnitPriceSet")).as("original_price"),
        money(li.getField("discountedUnitPriceSet")).as("discounted_price"))
  }

  /** P4 — product node → 10-col dim_products row
    * (incremental_loaders.py:282-294). Product IDs get NO store prefix
    * (quirk: incremental_loaders.py:282 vs :139). */
  def products(nodes: DataFrame): DataFrame =
    nodes.select(
      cleanId(col("id"), "").as("product_id"),
      col("title"), col("handle"),
      col("productType").as("product_type"),
      col("vendor"), col("status"),
      col("createdAt").as("created_at"),
      col("updatedAt").as("updated_at"),
      joinTags(col("tags")).as("tags"),
      pyStr(col("tracksInventory")).as("tracks_inventory"))

  /** Exploded variant nodes with their parent product_id — shared input
    * for P5/P6/P7. */
  private def explodedVariants(nodes: DataFrame): DataFrame =
    nodes.select(
      cleanId(col("id"), "").as("product_id"),
      col("title").as("product_title"),
      explode(col("variants.edges")).as("edge"))
      .select(col("product_id"), col("product_title"),
        edgeNode(col("edge"), Schemas.variantNode).as("v"))

  /** P5 — product node → N dim_product_variants rows
    * (incremental_loaders.py:296-313). */
  def variants(nodes: DataFrame): DataFrame =
    explodedVariants(nodes).select(
      col("product_id"),
      cleanId(col("v.id"), "").as("variant_id"),
      col("v.sku").as("sku"),
      safeCast(col("v.price"), "double", 0.0).as("price"),
      safeCast(col("v.compareAtPrice"), "double", 0.0).as("compare_at_price"),
      pyStr(col("v.availableForSale")).as("available_for_sale"),
      col("v.createdAt").as("created_at"),
      col("v.updatedAt").as("updated_at"))

  /** Bucket fold over `inventoryLevels.edges[].quantities[]`: sum the
    * named bucket across locations (incremental_loaders.py:318-323).
    * Pure array `aggregate()` — shuffle-free, no explode+pivot. Within
    * one level, a duplicate bucket name keeps the LAST occurrence (the
    * reference's dict-comprehension overwrite). */
  private def bucket(name: String): Column = {
    val levels = col("v.inventoryItem.inventoryLevels.edges")
    coalesce(
      aggregate(levels, lit(0), (acc, lvl) => {
        val qs = filter(
          edgeNode(lvl, Schemas.inventoryLevelNode).getField("quantities"),
          q => q.getField("name") === lit(name))
        acc + coalesce(
          try_element_at(qs, lit(-1)).getField("quantity").try_cast("int"), lit(0))
      }),
      lit(0)).as(name)
  }

  /** P6 — per-variant inventory roll-up into 5 fixed buckets
    * (incremental_loaders.py:315-334). */
  def currentInventory(nodes: DataFrame): DataFrame =
    explodedVariants(nodes).select(
      col("product_id"),
      cleanId(col("v.id"), "").as("variant_id"),
      bucket("available"), bucket("on_hand"), bucket("committed"),
      bucket("incoming"), bucket("reserved"),
      cleanId(col("v.inventoryItem.id"), "").as("inventory_id"))

  /** P7 — snapshot stamping: same roll-up + product_title/sku +
    * driver-injected snapshot_ts/snapshot_date, built in the SAME pass
    * (no self-join; the reference fills both batches in one loop,
    * incremental_loaders.py:336-348). Timestamps are injected once on
    * the driver per SURVEY §7.3 non-determinism discipline. */
  def inventorySnapshot(nodes: DataFrame, snapshotTs: String, snapshotDate: String): DataFrame =
    explodedVariants(nodes).select(
      col("product_id"), col("product_title"),
      cleanId(col("v.id"), "").as("variant_id"),
      col("v.sku").as("sku"),
      bucket("available"), bucket("on_hand"), bucket("committed"),
      bucket("incoming"), bucket("reserved"),
      lit(snapshotTs).as("snapshot_ts"),
      lit(snapshotDate).as("snapshot_date"))

  /** P8 — conform to the declared staging schema: declared columns in
    * declared order, absent → null (incremental_loaders.py:102-104). */
  def conform(df: DataFrame, schemaKey: String): DataFrame = {
    val declared = Schemas.schemaMap(schemaKey)
    val present = df.columns.toSet
    df.select(declared.map(c =>
      if (present(c)) col(c) else lit(null).as(c)): _*)
  }

  /** The bronze node schema of each entity. */
  def nodeSchema(entity: String): StructType = entity match {
    case "orders" => Schemas.orderNode
    case "customers" => Schemas.customerNode
    case "products" => Schemas.productNode
    case other => throw new IllegalArgumentException(s"unknown entity $other")
  }

  /** The silver tables staged from one entity's bronze nodes, in write
    * order, each conformed (P8). `snapshotTs`/`snapshotDate` stamp the
    * inventory snapshot (P7). */
  def silverTables(entity: String, nodes: DataFrame, prefix: String,
                   snapshotTs: String, snapshotDate: String): Seq[(String, DataFrame)] = {
    val tables = entity match {
      case "orders" => Seq(
        "fact_orders" -> orders(nodes, prefix),
        "fact_order_items" -> orderItems(nodes, prefix))
      case "customers" => Seq("dim_customers" -> customers(nodes, prefix))
      case "products" => Seq(
        "dim_products" -> products(nodes),
        "dim_product_variants" -> variants(nodes),
        "fact_current_inventory" -> currentInventory(nodes),
        "inventory_snapshot" -> inventorySnapshot(nodes, snapshotTs, snapshotDate))
      case other => throw new IllegalArgumentException(s"unknown entity $other")
    }
    tables.map { case (table, df) => table -> conform(df, table) }
  }

  /** Every silver table's schema: [[silverTables]] planned over an empty
    * batch of each entity's nodes, so no file is read and no job runs. */
  def silverSchemas(spark: SparkSession): Map[String, StructType] =
    Seq("orders", "customers", "products").flatMap { entity =>
      val empty = spark.createDataFrame(java.util.List.of[Row](), nodeSchema(entity))
      silverTables(entity, empty, "", "", "").map { case (table, df) => table -> df.schema }
    }.toMap

  /** A1 — watermark: max `updatedAt` over a bronze batch (lexicographic
    * ISO compare == chronological; incremental_loaders.py:127-131). */
  def watermark(nodes: DataFrame): Option[String] =
    nodes.agg(max(col("updatedAt"))).collect().headOption
      .flatMap(r => Option(r.getString(0)))
}
