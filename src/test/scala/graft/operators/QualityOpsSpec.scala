package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionProfile: exact gram accounting on a hand fixture") {
    val df = Seq(
      (1L, "a a a a"),          // grams: "a a" x3
      (2L, "x y x y z"),        // grams: "x y","y x","x y","y z"
      (3L, "solo")              // too short: absent
    ).toDF("doc_id", "text")
    val got = QualityOps.repetitionProfile(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((3L, 1L, 3L, 2.0 / 3.0)))
    assert(got(2L) == ((4L, 3L, 2L, 1.0 / 4.0)))
    assert(!got.contains(3L))
  }

  test("gopherFlags: rules fire per signal; token-less docs fail closed") {
    val good = ("w" * 5 + " ") * 30 // 30 tokens, mean len 5, no digits
    val df = Seq(
      (1L, good + "the and of to is " * 3),   // stopwords present: passes
      (2L, good),                             // no stopwords: stopword_ok=false
      (3L, "short doc"),                      // under minTokens
      (4L, ("1234 " * 40) + "the and of"),    // digit-heavy
      (5L, "   ")                             // token-less: all false
    ).toDF("doc_id", "text")
    val got = QualityOps.gopherFlags(df, "text", minTokens = 20, maxTokens = 1000)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("len_ok"), r.getAs[Boolean]("stopword_ok"),
          r.getAs[Boolean]("digit_ok"), r.getAs[Boolean]("pass")))).toMap
    assert(got(1L)._4) // the engineered good doc passes everything
    assert(got(2L)._1 && !got(2L)._2 && !got(2L)._4)
    assert(!got(3L)._1 && !got(3L)._4)
    assert(got(4L)._1 && !got(4L)._3 && !got(4L)._4)
    assert(got(5L) == ((false, false, false, false)))
  }

  test("filterBlockedDomains: broadcast anti-join on the extracted host") {
    val rows = Seq(
      (1L, "https://good.example/x"),
      (2L, "http://spam.example/y"),
      (3L, "https://spam.example.good/z"), // host is spam.example.good: kept
      (4L, "not a url")
    ).toDF("id", "url")
    assert(rows.select(QualityOps.extractDomain($"url")).as[String].collect().toSeq ==
      Seq("good.example", "spam.example", "spam.example.good", ""))
    val blocked = Seq("spam.example").toDF("domain")
    val kept = QualityOps.filterBlockedDomains(rows, "url", blocked)
    assert(kept.select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("scrubPii: counts then redacts; a scrubbed text re-scrubs to zero") {
    val df = Seq(
      (1L, "mail a.b@x.io and c@y.org, call 555-123-4567"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = QualityOps.scrubPii(df, "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val (t1, e1, p1) = out(1L)
    assert(e1 == 2L && p1 == 1L)
    assert(t1 == "mail <EMAIL> and <EMAIL>, call <PHONE>")
    val (t2, e2, p2) = out(2L)
    assert(e2 == 0L && p2 == 0L && t2 == "no pii here at all")
    // idempotence: redaction tokens contain no matchable PII
    val again = QualityOps.scrubPii(
      Seq((1L, t1)).toDF("doc_id", "text"), "text").head()
    assert(again.getLong(2) == 0L && again.getLong(3) == 0L)
    // a phone-shaped substring consumed by an email match is one email
    // redaction — no phantom phone count for a never-made replacement
    val tricky = QualityOps.scrubPii(
      Seq((1L, "reach 123-456-7890@mail.com now")).toDF("doc_id", "text"),
      "text").head()
    assert(tricky.getString(1) == "reach <EMAIL> now")
    assert(tricky.getLong(2) == 1L && tricky.getLong(3) == 0L)
  }

  test("luhnValid: checksum math on known cards, contiguous and grouped") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("4111111111111111", true),   // classic Visa test number
      ("4111 1111 1111 1111", true),
      ("4111-1111-1111-1112", false), // off-by-one check digit
      ("1234567890123456", false),
      ("5500 0000 0000 0004", true)) // Mastercard test number
      .toDF("span", "want")
    val got = df.select(col("want"), QualityOps.luhnValid(col("span")).as("got"))
      .collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r.toString))
  }

  test("scrubCards: only Luhn-valid spans redact; shapes alone do not") {
    val df = Seq(
      (1L, "pay 4111 1111 1111 1111 or order 1234 5678 9012 3456 ref"),
      (2L, "no cards here 123-456-7890"),
      (3L, "id 9999999999999999 plain")).toDF("doc_id", "text")
    val out = QualityOps.scrubCards(df, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._1 == "pay <CARD> or order 1234 5678 9012 3456 ref")
    assert(out(1L)._2 == 2 && out(1L)._3 == 1) // two shapes, one real
    assert(out(2L)._2 == 0 && out(2L)._3 == 0)
    assert(out(3L)._2 == 1 && out(3L)._3 == 0) // 16 nines fails Luhn
    assert(out(3L)._1.contains("9999999999999999")) // left intact
  }

  test("readabilityStats: syllable groups, complex words and FKGL are hand-exact") {
    import spark.implicits._
    // "strength" = 1 group (e); "audio" = 2 (au, io); "mississippi" = 4
    val df = Seq(("a", "Strength AUDIO mississippi"), ("a", "go"))
      .toDF("g", "text")
    val r = QualityOps.readabilityStats(df, Seq("g"), "text").collect().head
    // words 4, syllables 1+2+4+1 = 8, complex only mississippi
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (2L, 4L, 8L, 1L))
    assert(r.getLong(5) == 2000000L)  // 8·10⁶ div 4
    assert(r.getLong(6) == 250000L)   // 1·10⁶ div 4
    // fkgl_milli = (390·4) div 2 + (11800·8) div 4 − 15590 = 780+23600−15590
    assert(r.getLong(7) == 8790L)
  }

  test("readabilityStats: vowel-less and empty groups are NULL-safe") {
    import spark.implicits._
    val out = QualityOps.readabilityStats(
      Seq(("v", "zzz bcd"), ("e", "   ")).toDF("g", "text"),
      Seq("g"), "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("v").getLong(3) == 0L)        // zero syllables is fine
    assert(out("e").getLong(2) == 0L && out("e").isNullAt(5) &&
      out("e").isNullAt(7))                  // no words → NULL rates
  }
}
