package graft.sources

import scala.collection.mutable
import graft.SparkSpec
import graft.model.Schemas
import graft.silver.Flatten

/** Client tests against a scripted fake transport, plus the full
  * extract → bronze → RawReader → Flatten integration. */
class ShopifyClientSpec extends SparkSpec {

  /** Fake Shopify serving `pages` of order edges with cursors. */
  private class FakeTransport(pages: Seq[Seq[String]]) extends ShopifyClient.Transport {
    val posts = mutable.Buffer[String]()
    def post(url: String, body: String, headers: Map[String, String]): String = {
      posts += body
      // cursor pagination: "after":"cN" selects page N+1
      val after = """"after":"c(\d+)"""".r.findFirstMatchIn(body).map(_.group(1).toInt)
      val idx = after.map(_ + 1).getOrElse(0)
      val page = if (idx < pages.size) pages(idx) else Seq.empty
      val hasNext = idx < pages.size - 1
      s"""{"data": {"orders": {
         |  "edges": [${page.mkString(",")}],
         |  "pageInfo": {"hasNextPage": $hasNext, "endCursor": "c$idx"}}}}""".stripMargin
    }
  }

  private def edge(id: Long, updated: String): String =
    s"""{"node": {"id": "gid://shopify/Order/$id", "name": "#$id",
       |"updatedAt": "$updated", "confirmed": true,
       |"totalPriceSet": {"shopMoney": {"amount": "10.00", "currencyCode": "USD"}}}}"""
      .stripMargin.replace("\n", " ")

  private def client(t: ShopifyClient.Transport, sleeps: mutable.Buffer[Long] = mutable.Buffer()) =
    new ShopifyClient("acme.myshopify.com", "tok", t,
      minRequestIntervalMs = 500, pageSize = 2, maxPages = 10,
      sleeper = ms => sleeps += ms)

  test("S1 cursor pagination follows endCursor to exhaustion") {
    val t = new FakeTransport(Seq(
      Seq(edge(1, "2025-12-01T00:00:00Z"), edge(2, "2025-12-02T00:00:00Z")),
      Seq(edge(3, "2025-12-03T00:00:00Z"))))
    val edges = client(t).fetchAllPages("query q", "orders")
    assert(edges.size == 3)
    assert(t.posts.size == 2)
    assert(t.posts(1).contains(""""after":"c0""""))
  }

  test("S1 page-safety cap stops runaway pagination") {
    // every page claims hasNextPage=true via a transport that never ends
    val t = new ShopifyClient.Transport {
      def post(url: String, body: String, headers: Map[String, String]): String =
        s"""{"data": {"orders": {"edges": [${edge(1, "2025-01-01T00:00:00Z")}],
           |"pageInfo": {"hasNextPage": true, "endCursor": "cX"}}}}""".stripMargin
    }
    assert(client(t).fetchAllPages("q", "orders").size == 10) // maxPages
  }

  test("S2 rate limiter enforces the minimum request interval") {
    val sleeps = mutable.Buffer[Long]()
    val t = new FakeTransport(Seq(
      Seq(edge(1, "2025-12-01T00:00:00Z")), Seq(edge(2, "2025-12-02T00:00:00Z")),
      Seq(edge(3, "2025-12-03T00:00:00Z"))))
    client(t, sleeps).fetchAllPages("q", "orders")
    // 3 requests back-to-back → at least 2 enforced waits near 500 ms
    assert(sleeps.count(_ > 400) >= 2)
  }

  test("S3 incremental filter is pushed into the search query") {
    val t = new FakeTransport(Seq(Seq(edge(1, "2025-12-01T00:00:00Z"))))
    val c = client(t)
    assert(c.searchFilter(Some("2025-12-01"), None) == "updated_at:>'2025-12-01'")
    assert(c.searchFilter(Some("a"), Some("b")) == "updated_at:>'a' AND updated_at:<'b'")
    c.extractIncremental("q", "orders", Some("2025-12-01"))
    assert(t.posts.head.contains("updated_at:&gt;") || t.posts.head.contains("updated_at:>"))
  }

  test("end-to-end: fake API -> envelope file -> RawReader -> Flatten") {
    import spark.implicits._
    val t = new FakeTransport(Seq(
      Seq(edge(11, "2025-12-01T00:00:00Z"), edge(12, "2025-12-02T00:00:00Z")),
      Seq(edge(13, "2025-12-03T00:00:00Z"))))
    val c = client(t)
    val edges = c.extractIncremental("q", "orders", Some("2025-11-30"))
    val dir = SparkSpec.tempDir("bronze").toString
    c.saveToFile(edges, "retail", "orders", dir, "2025-12-08T05:46:00")
    val nodes = RawReader.readJson(spark, Schemas.orderNode, "orders", dir)
    assert(nodes.count() == 3)
    assert(nodes.select("metadata.record_count").as[Long].head() == 3)
    val flat = Flatten.orders(nodes, "R-")
    assert(flat.select("order_id").as[String].collect().toSet ==
      Set("R-11", "R-12", "R-13"))
    assert(Flatten.watermark(nodes).contains("2025-12-03T00:00:00Z"))
  }
}
