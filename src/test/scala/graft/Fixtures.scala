package graft

import java.nio.file.{Files, Path}

/** Shopify-shaped fixtures from FIXTURES.md, covering all envelope
  * variants and the loader edge cases. */
object Fixtures {

  val orderNodes: String =
    """{"id": "gid://shopify/Order/5551234", "name": "#1001",
      |"createdAt": "2025-12-07T10:00:00Z", "updatedAt": "2025-12-07T11:00:00Z",
      |"processedAt": "2025-12-07T10:00:05Z", "cancelledAt": null,
      |"cancelReason": null, "confirmed": true, "tags": ["vip", "promo"],
      |"displayFulfillmentStatus": "FULFILLED", "sourceName": "web",
      |"subtotalPriceSet": {"shopMoney": {"amount": "100.00", "currencyCode": "USD"}},
      |"totalPriceSet": {"shopMoney": {"amount": "112.50", "currencyCode": "USD"}},
      |"totalTaxSet": {"shopMoney": {"amount": "7.50"}},
      |"totalDiscountsSet": {"shopMoney": {"amount": "5.00"}},
      |"totalShippingPriceSet": {"shopMoney": {"amount": "10.00"}},
      |"customer": {"id": "gid://shopify/Customer/777"},
      |"shippingAddress": {"address1": "1 Main St", "address2": null, "city": "Austin",
      | "province": "TX", "country": "US", "zip": "78701", "phone": null, "company": null},
      |"lineItems": {"edges": [
      | {"node": {"id": "gid://shopify/LineItem/91", "quantity": 2, "title": "Widget",
      |   "originalUnitPriceSet": {"shopMoney": {"amount": "30.00"}},
      |   "discountedUnitPriceSet": {"shopMoney": {"amount": "27.50"}},
      |   "variant": {"id": "gid://shopify/ProductVariant/31"},
      |   "product": {"id": "gid://shopify/Product/11"}}},
      | {"node": {"id": "gid://shopify/LineItem/92", "quantity": 1, "title": "Deleted item",
      |   "variant": null, "product": null,
      |   "originalUnitPriceSet": null, "discountedUnitPriceSet": null}}
      |]}}""".stripMargin.replace("\n", "")

  /** Order with null customer/shippingAddress, missing lineItems, name
    * without '#', flat money, absent confirmed. */
  val orderNodeSparse: String =
    """{"id": "gid://shopify/Order/5551235", "name": "1002",
      |"createdAt": "2025-12-07T12:00:00Z", "updatedAt": "2025-12-07T12:30:00Z",
      |"customer": null, "shippingAddress": null, "tags": null,
      |"totalPriceSet": {"amount": "50.00", "currencyCode": "EUR"}}""".stripMargin.replace("\n", "")

  val customerNode: String =
    """{"id": "gid://shopify/Customer/777", "firstName": "Ada", "lastName": "L",
      |"email": "ada@example.com", "phone": null,
      |"createdAt": "2024-01-01T00:00:00Z", "updatedAt": "2025-12-07T09:00:00Z",
      |"state": "ENABLED", "taxExempt": false, "tags": [], "note": null,
      |"numberOfOrders": "14", "lifetimeDuration": "about 2 years",
      |"amountSpent": {"amount": "1500.00", "currencyCode": "USD"},
      |"defaultAddress": {"address1": "1 Main St", "address2": null, "city": "Austin",
      | "province": "TX", "country": "US", "zip": "78701", "company": null},
      |"lastOrder": {"id": "gid://shopify/Order/5551234", "createdAt": "2025-12-01T00:00:00Z"},
      |"statistics": {"predictedSpendTier": "HIGH", "rfmGroup": "CHAMPIONS"}}""".stripMargin.replace("\n", "")

  /** Customer with null nested objects + null taxExempt → "None". */
  val customerNodeSparse: String =
    """{"id": "gid://shopify/Customer/778", "firstName": "Bob",
      |"createdAt": "2024-02-01T00:00:00Z", "updatedAt": "2025-12-06T09:00:00Z",
      |"taxExempt": null, "numberOfOrders": "about two",
      |"defaultAddress": null, "lastOrder": null, "statistics": null}""".stripMargin.replace("\n", "")

  val productNode: String =
    """{"id": "gid://shopify/Product/11", "title": "Widget", "handle": "widget",
      |"productType": "Gadget", "vendor": "Acme", "status": "ACTIVE",
      |"createdAt": "2024-06-01T00:00:00Z", "updatedAt": "2025-12-07T08:00:00Z",
      |"tags": ["hardware"], "tracksInventory": true,
      |"variants": {"edges": [
      | {"node": {"id": "gid://shopify/ProductVariant/31", "sku": "WID-001",
      |   "price": "30.00", "compareAtPrice": null, "availableForSale": true,
      |   "createdAt": "2024-06-01T00:00:00Z", "updatedAt": "2025-12-07T08:00:00Z",
      |   "inventoryItem": {"id": "gid://shopify/InventoryItem/41",
      |     "inventoryLevels": {"edges": [
      |       {"node": {"quantities": [
      |         {"name": "available", "quantity": 5}, {"name": "on_hand", "quantity": 7},
      |         {"name": "committed", "quantity": 2}, {"name": "incoming", "quantity": 0},
      |         {"name": "reserved", "quantity": 0}]}},
      |       {"node": {"quantities": [
      |         {"name": "available", "quantity": 3}, {"name": "on_hand", "quantity": 3}]}}
      |     ]}}}}
      |]}}""".stripMargin.replace("\n", "")

  /** Inactive product + null inventoryItem + whitespace SKU. */
  val productNodeSparse: String =
    """{"id": "gid://shopify/Product/12", "title": "Old Gizmo",
      |"status": "ARCHIVED", "updatedAt": "2025-12-05T08:00:00Z",
      |"tracksInventory": null,
      |"variants": {"edges": [
      | {"node": {"id": "gid://shopify/ProductVariant/32", "sku": "  ",
      |   "price": "unknown", "compareAtPrice": null, "availableForSale": false,
      |   "createdAt": "2024-01-01T00:00:00Z",
      |   "inventoryItem": null}}
      |]}}""".stripMargin.replace("\n", "")

  def envelope(nodes: Seq[String], store: String, entity: String): String =
    s"""{"metadata": {"store_type": "$store", "entity_type": "$entity",
       |"extracted_at": "2025-12-08T05:46:00", "record_count": ${nodes.size},
       |"shop_name": "acme-$store"},
       |"data": [${nodes.map(n => s"""{"node": $n}""").mkString(",")}]}""".stripMargin

  def envelopeNested(nodes: Seq[String], entity: String): String =
    s"""{"data": {"$entity": {"edges": [${nodes.map(n => s"""{"node": $n}""").mkString(",")}]}}}"""

  def bareList(nodes: Seq[String]): String =
    s"""[${nodes.mkString(",")}]""" // edges without node wrapper

  def writeTemp(content: String, name: String): String = {
    val dir: Path = SparkSpec.tempDir("graft-fixture")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }
}
