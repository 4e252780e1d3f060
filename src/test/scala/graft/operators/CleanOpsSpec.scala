package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleanOpsSpec extends SparkSpec {
  import spark.implicits._

  private def clean(s: String): String =
    Seq(s).toDF("t").select(CleanOps.cleanText(col("t"))).as[String].head()

  test("NFC composes combining sequences") {
    // e + COMBINING ACUTE ACCENT -> U+00E9 (single code point)
    assert(clean("cafe\u0301") == "caf\u00e9")
    assert(clean("caf\u00e9") == "caf\u00e9") // already-NFC fast path
  }

  test("NFC does NOT apply compatibility decompositions") {
    // the fi ligature (U+FB01) survives NFC (only NFKC expands it)
    assert(clean("\ufb01n") == "\ufb01n")
  }

  test("normalize supports all four forms") {
    val nfd = Seq("caf\u00e9").toDF("t")
      .select(CleanOps.normalize(col("t"), "NFD")).as[String].head()
    assert(nfd == "cafe\u0301")
    val nfc = Seq("cafe\u0301").toDF("t")
      .select(CleanOps.normalize(col("t"))).as[String].head()
    assert(nfc == "caf\u00e9")
    val nfkc = Seq("\ufb01n").toDF("t")
      .select(CleanOps.normalize(col("t"), "NFKC")).as[String].head()
    assert(nfkc == "fin")
    intercept[IllegalArgumentException] {
      CleanOps.normalize(col("t"), "NFX")
    }
  }

  test("control and zero-width characters are stripped") {
    assert(clean("a\u0007b\u0000c") == "abc") // BEL, NUL
    // ZWSP, ZWNJ, ZWJ, BOM/ZWNBSP
    assert(clean("a\u200bb\u200cc\u200dd\ufeffe") == "abcde")
    assert(clean("fi\u00adnal") == "final") // soft hyphen
  }

  test("newline canonicalization and whitespace collapse") {
    assert(clean("a\r\nb\rc") == "a\nb\nc")
    assert(clean("a  \t b") == "a b")
    assert(clean("a \n b") == "a\nb")
    assert(clean("a\n\n\n\n\nb") == "a\n\nb")
    assert(clean("  a b  ") == "a b")
    assert(clean(" \n \t\n ") == "")
    assert(clean("  a\u200b  b\r\n\r\n\r\nc ") == "a b\n\nc")
  }

  test("a single blank line (paragraph break) is preserved") {
    assert(clean("para one\n\npara two") == "para one\n\npara two")
  }

  test("cleanText is idempotent on randomized dirty input") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab \t\r\nn\u0301\u200b\u00ad\ufeff\u00e9\u0007"
    val dirty = (1 to 200).map(_ =>
      (1 to (1 + rnd.nextInt(40)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = dirty.toDF("t")
    val once = df.select(CleanOps.cleanText(col("t")).as("c"))
    val twice = once.select(CleanOps.cleanText(col("c")).as("c"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("stripHtml removes tags and decodes entities one level") {
    def strip(s: String): String =
      Seq(s).toDF("t").select(CleanOps.stripHtml(col("t"))).as[String].head()
    assert(strip("<p>a</p><br/>b") == " a  b")
    assert(strip("""<div id='x' class="y z">t</div>""") == " t ")
    assert(strip("a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;done") ==
      """a <tag> "q" 's'  done""")
    // double-encoded decodes exactly ONE level (&amp; applied last)
    assert(strip("&amp;amp; &amp;lt;") == "&amp; &lt;")
    assert(strip("no markup at all") == "no markup at all")
    assert(strip("<p>x &amp; y</p>") == " x & y ")
  }

  test("stripHtml composed with cleanText yields tidy text") {
    val got = Seq("<html><body><p>hello   world</p><br></body></html>")
      .toDF("t")
      .select(CleanOps.cleanText(CleanOps.stripHtml(col("t")))).as[String].head()
    assert(got == "hello world")
  }

  test("null text stays null; empty stays empty") {
    val got = Seq(Some("x"), None).toDF("t")
      .select(CleanOps.cleanText(col("t"))).as[Option[String]].collect().toSeq
    assert(got == Seq(Some("x"), None))
    assert(clean("") == "")
  }
}
