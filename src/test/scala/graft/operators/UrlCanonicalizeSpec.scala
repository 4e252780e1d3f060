package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class UrlCanonicalizeSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(QualityOps.canonicalUrl($"url")).as[String]
      .collect().toSeq

  test("known canonicalizations") {
    val cases = Seq(
      // case, default port, trailing slash, fragment
      "HTTPS://News.Example:443/d/5/#top" -> "https://news.example/d/5",
      "http://a.example:80/" -> "http://a.example/",
      // tracker params drop, survivors sort; empty params drop
      "https://a.example/p?utm_source=x&b=2&&a=1&gclid=9" ->
        "https://a.example/p?a=1&b=2",
      // all params are trackers -> no query at all
      "https://a.example/p?utm_campaign=c&fbclid=z" -> "https://a.example/p",
      "HTTPS://X.Ex:443/a/?b=1&utm_s=2#f" -> "https://x.ex/a?b=1",
      // bare host -> root path; query on bare host
      "https://a.example" -> "https://a.example/",
      "https://a.example?b=2&a=1" -> "https://a.example/?a=1&b=2",
      // non-default port and param VALUES are preserved
      "https://a.example:8443/x?a=2" -> "https://a.example:8443/x?a=2",
      // not a URL: only the fragment is dropped
      "no scheme here#frag" -> "no scheme here")
    assert(canon(cases.map(_._1): _*) == cases.map(_._2))
  }

  test("idempotent on already-canonical output; null -> null") {
    val messy = Seq("HTTPS://A.EX:443/p/?z=1&utm_x=1&a=2#f",
      "http://b.ex:80", "https://c.ex/a/b/c/?ref=r")
    val once = canon(messy: _*)
    assert(canon(once: _*) == once)
    val n = Seq[Option[String]](None).toDF("url")
      .select(QualityOps.canonicalUrl($"url")).collect()
    assert(n.head.isNullAt(0))
  }

  test("the canonical-URL expression runs inside whole-stage codegen") {
    // no fallback to interpreted eval; spark.range keeps the projection
    // out of local-relation folding
    val df = spark.range(100)
      .select(concat(lit("https://h"), $"id", lit(".ex:443/p/?utm_a=1&k="), $"id")
        .as("url"))
      .select(QualityOps.canonicalUrl($"url").as("c"))
    val rows = df.as[String].collect()
    assert(rows.forall(u => u.startsWith("https://h") && u.contains("?k=")))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("canonical_url"), s"expression missing:\n$p")
    assert(p.contains("*(1) Project"), s"fell out of codegen:\n$p")
  }
}
