package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import graft.sources.ShopifyClient

/** In-process stand-in for the Shopify Admin GraphQL API. It holds the
  * generated catalogue of node versions per (store, entity) and serves,
  * as of the logical time `now`, the latest version of each node whose
  * `updatedAt` passes the request's `updated_at:>` search, in id order,
  * as cursor pages of the requested size. */
final class ShopTransport(catalogDir: String, stores: Map[String, String])
    extends ShopifyClient.Transport {
  private case class Version(id: String, updatedAt: String, json: String)

  /** (store, entity) -> versions in (updatedAt, id) order, as generated. */
  private val catalog: Map[(String, String), Array[Version]] =
    (for (store <- stores.keys; entity <- Seq("orders", "customers", "products"))
      yield (store, entity) -> {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(catalogDir, s"${store}_$entity.jsonl"))
        lines.asScala.iterator.map { line =>
          val n = Json.mapper.readTree(line)
          Version(n.get("id").asText, n.get("updatedAt").asText, line)
        }.toArray
      }).toMap

  @volatile var now: String = ""
  val pages = new AtomicLong
  val nodes = new AtomicLong
  private val views = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, String), Array[Version]]()

  private def view(store: String, entity: String, since: String): Array[Version] =
    views.computeIfAbsent((store, entity, since, now), _ => {
      val latest = new java.util.HashMap[String, Version]()
      catalog((store, entity)).foreach(v => if (v.updatedAt <= now) latest.put(v.id, v))
      latest.values.asScala.filter(v => since.isEmpty || v.updatedAt > since)
        .toArray.sortBy(v => (v.id.length, v.id))
    })

  private val Since = """updated_at:>'([^']*)'""".r.unanchored
  private val Resource = """^\s*\{\s*(\w+)""".r.unanchored

  def post(url: String, body: String, headers: Map[String, String]): String = {
    val store = stores.collectFirst { case (s, d) if url.contains(s"//$d/") => s }
      .getOrElse(throw new IllegalArgumentException(s"unknown shop in $url"))
    val req = Json.mapper.readTree(body)
    val entity = req.get("query").asText match {
      case Resource(r) => r
      case q => throw new IllegalArgumentException(s"unsupported query $q")
    }
    val vars = req.path("variables")
    val since = vars.path("query").asText("") match {
      case Since(s) => s
      case _ => ""
    }
    val all = view(store, entity, since)
    val from = vars.path("after").asText("0").toInt
    val until = math.min(all.length, from + vars.path("first").asInt(100))
    val sb = new StringBuilder(s"""{"data":{"$entity":{"edges":[""")
    var i = from
    while (i < until) {
      if (i > from) sb.append(',')
      sb.append("{\"node\":").append(all(i).json).append('}')
      i += 1
    }
    sb.append(s"""],"pageInfo":{"hasNextPage":${until < all.length},""")
    sb.append(s""""endCursor":"$until"}}}}""")
    pages.incrementAndGet()
    nodes.addAndGet(until - from)
    sb.toString
  }

  def get(url: String): String =
    throw new UnsupportedOperationException("bulk export is not served")
}
