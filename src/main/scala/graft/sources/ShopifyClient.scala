package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Driver-side Shopify Admin GraphQL client (SURVEY §2.1 S1–S5):
  * cursor-paginated fetch with a page-safety cap, ≥interval rate
  * limiting, server-side incremental pushdown (`updated_at:>` search
  * filters — the source-level equivalent of DSv2
  * `SupportsPushDownFilters`), the retired-but-supported bulk-operations
  * JSONL export, and the raw-file envelope sink RawReader consumes.
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

  /** S5 — bulk-operations export: start the async bulk query, poll
    * status every `pollIntervalMs` until COMPLETED, stream the JSONL to
    * `outPath` via temp-file + atomic rename (run_logs.txt:17-148,
    * 611-637). Returns the object count reported by the API. */
  def runBulkExport(bulkQuery: String, outPath: String,
                    pollIntervalMs: Long = 15000, maxPolls: Int = 1000): Long = {
    val start = mapper.createObjectNode()
    start.put("query",
      "mutation { bulkOperationRunQuery(query: \"\"\"" + bulkQuery + "\"\"\") {" +
        " bulkOperation { id status } userErrors { field message } } }")
    val started = post(mapper.writeValueAsString(start))
      .path("data").path("bulkOperationRunQuery")
    val errs = started.path("userErrors")
    if (errs.isArray && errs.size() > 0)
      throw new RuntimeException(s"bulkOperationRunQuery rejected: $errs")
    val startedId = started.path("bulkOperation").path("id").asText(null)

    val statusQuery = """{ currentBulkOperation { id status objectCount url errorCode } }"""
    var polls = 0
    while (polls < maxPolls) {
      sleeper(pollIntervalMs)
      val req = mapper.createObjectNode()
      req.put("query", statusQuery)
      val st = post(mapper.writeValueAsString(req)).path("data").path("currentBulkOperation")
      // currentBulkOperation may still be a PREVIOUS operation; only a
      // status for OUR id counts (otherwise yesterday's COMPLETED export
      // would be silently downloaded as today's)
      val stId = st.path("id").asText(null)
      val matches = startedId == null || stId == null || stId == startedId
      (if (matches) st.path("status").asText("") else "") match {
        case "COMPLETED" =>
          val dl = st.path("url").asText(null)
          val count = st.path("objectCount").asLong(0)
          if (dl != null) {
            val tmp = Paths.get(outPath + ".tmp")
            Files.createDirectories(tmp.getParent)
            Files.write(tmp, transport.get(dl).getBytes(StandardCharsets.UTF_8))
            Files.move(tmp, Paths.get(outPath),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } else if (count > 0) {
            // objects reported but no download url: inconsistent — do
            // not let a stale file at outPath pass as this export
            throw new RuntimeException(
              s"bulk operation COMPLETED with objectCount=$count but no url")
          } else {
            // legitimately empty export: clear any stale previous file
            // so readers never consume yesterday's JSONL as today's
            Files.deleteIfExists(Paths.get(outPath))
          }
          return count
        case "FAILED" =>
          throw new RuntimeException(
            s"bulk operation failed: ${st.path("errorCode").asText("")}")
        case _ => polls += 1
      }
    }
    throw new RuntimeException(s"bulk operation did not complete in $maxPolls polls")
  }
}

object ShopifyClient {
  /** Pluggable HTTP layer — swap for a fake in tests. */
  trait Transport extends Serializable {
    def post(url: String, body: String, headers: Map[String, String]): String
    def get(url: String): String
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
    def get(url: String): String =
      client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }
}
