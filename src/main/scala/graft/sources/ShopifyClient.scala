package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Driver-side Shopify Admin GraphQL client (SURVEY §2.1 S1–S3, S6):
  * cursor-paginated fetch with a page-safety cap, ≥interval rate
  * limiting, server-side incremental pushdown (`updated_at:>` search
  * filters — the source-level equivalent of DSv2
  * `SupportsPushDownFilters`), and the raw-file envelope sink RawReader
  * consumes.
  *
  * The transport is pluggable so the client is testable without
  * network; the default uses `java.net.http`. JSON handling uses the
  * Jackson shipped with Spark.
  *
  * The extraction loop is intentionally driver-side for v1 (SURVEY
  * §7.4): the API is rate-limited to ~2 req/s, so a distributed source
  * gains nothing; pages land in bronze files and all heavy work happens
  * in Spark from there. A DSv2 `TableProvider` remains the stretch path.
  */
final class ShopifyClient(
    shopDomain: String,
    accessToken: String,
    transport: ShopifyClient.Transport = ShopifyClient.httpTransport,
    apiVersion: String = "2025-01",
    minRequestIntervalMs: Long = 500, // extract_table.py:44-46 (~2 req/s)
    pageSize: Int = 100,
    maxPages: Int = 1000, // safety cap, extract_table.py:168-171
    sleeper: Long => Unit = Thread.sleep) {

  import ShopifyClient._
  private val mapper = new ObjectMapper()
  private val url = s"https://$shopDomain/admin/api/$apiVersion/graphql.json"
  private var lastRequestAt = 0L

  private def rateLimit(): Unit = synchronized {
    val now = System.nanoTime() / 1000000
    val wait = lastRequestAt + minRequestIntervalMs - now
    if (wait > 0) sleeper(wait)
    lastRequestAt = System.nanoTime() / 1000000
  }

  private def post(body: String): JsonNode = {
    rateLimit()
    val resp = transport.post(url, body, Map(
      "Content-Type" -> "application/json",
      "X-Shopify-Access-Token" -> accessToken))
    mapper.readTree(resp)
  }

  /** S1 — follow `pageInfo.endCursor` until `hasNextPage=false` or the
    * page cap; returns raw edge JSON strings. */
  def fetchAllPages(query: String, resourceName: String,
                    variables: Map[String, String] = Map.empty): Seq[String] = {
    val edges = Seq.newBuilder[String]
    var cursor: Option[String] = None
    var hasNext = true
    var pages = 0
    while (hasNext && pages < maxPages) {
      val vars = mapper.createObjectNode()
      vars.put("first", pageSize)
      cursor.foreach(c => vars.put("after", c))
      variables.foreach { case (k, v) => vars.put(k, v) }
      val req = mapper.createObjectNode()
      req.put("query", query)
      req.set[JsonNode]("variables", vars)
      val resp = post(mapper.writeValueAsString(req))
      val res = resp.path("data").path(resourceName)
      res.path("edges").elements().asScala
        .foreach(e => edges += mapper.writeValueAsString(e))
      val pi = res.path("pageInfo")
      hasNext = pi.path("hasNextPage").asBoolean(false)
      cursor = Option(pi.path("endCursor").asText(null))
      if (hasNext && cursor.isEmpty)
        throw new RuntimeException(
          s"malformed page response for $resourceName: hasNextPage=true but no endCursor")
      pages += 1
    }
    edges.result()
  }

  /** S3 — incremental pull: the `updated_at` range is pushed into the
    * Shopify search query, so filtering happens server-side. */
  def searchFilter(since: Option[String], until: Option[String]): String =
    (since.map(s => s"updated_at:>'$s'") ++ until.map(u => s"updated_at:<'$u'"))
      .mkString(" AND ")

  def extractIncremental(query: String, resourceName: String,
                         since: Option[String], until: Option[String] = None): Seq[String] =
    fetchAllPages(query, resourceName,
      if (since.isEmpty && until.isEmpty) Map.empty
      else Map("query" -> searchFilter(since, until)))

  /** S6 — raw-file envelope sink, the exact shape RawReader's variant 1
    * reads: `{metadata:{...}, data:[edges]}` (extract_table.py:217-244). */
  def saveToFile(edges: Seq[String], storeType: String, entityType: String,
                 outputDir: String, extractedAt: String): String = {
    val meta = s"""{"store_type": "$storeType", "entity_type": "$entityType",
                  |"extracted_at": "$extractedAt", "record_count": ${edges.size},
                  |"shop_name": "$shopDomain"}""".stripMargin.replace("\n", " ")
    val body = s"""{"metadata": $meta, "data": [${edges.mkString(",")}]}"""
    val ts = extractedAt.replaceAll("[-:T]", "").take(15)
    Files.createDirectories(Paths.get(outputDir))
    val path = Paths.get(outputDir, s"${entityType}_$ts.json")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
    path.toString
  }
}

object ShopifyClient {
  /** Pluggable HTTP layer — swap for a fake in tests. */
  trait Transport extends Serializable {
    def post(url: String, body: String, headers: Map[String, String]): String
  }

  lazy val httpTransport: Transport = new Transport {
    private lazy val client = java.net.http.HttpClient.newHttpClient()
    def post(url: String, body: String, headers: Map[String, String]): String = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      headers.foreach { case (k, v) => b.header(k, v) }
      client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    }
  }
}
