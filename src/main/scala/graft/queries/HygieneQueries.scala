package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{CleanOps, Decontaminate, Dedup, Vocab}

/** Round-4 corpus-hygiene tier: unicode cleaning, sub-document
  * (paragraph) dedup, vocabulary/OOV statistics, and substring-level
  * contamination — each oracle-checked against DuckDB.
  *
  * The synthetic documents are single-line ASCII, so the queries plant
  * the structure they clean DETERMINISTICALLY (combining marks,
  * zero-widths, CRLF runs, repeated paragraphs, verbatim spans): both
  * engines construct bit-identical dirty input, so the full clean /
  * dedup / probe pipeline is verified end-to-end, not just on happy
  * bytes.
  */
object HygieneQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** The dirty suffix planted by q65: NFC-composable "cafe" +
    * combining acute, zero-width space, CRLF / CR-run line endings, a
    * soft-hyphenated word, a blank-line run, a C0 control, stray
    * spaces. Oracle builds the same bytes via chr() (see [[oracles]]). */
  private val DirtySuffix =
    "  cafe\u0301 \u200b\r\nfi\u00adnal\r\r\n\n\n\n end\u0007 "

  /** Unicode cleaning end-to-end: NFC normalization (é composes),
    * newline canonicalization, control/format strip, whitespace
    * collapse — planted dirt, hash-matched cleaned text. */
  val q65UnicodeClean: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        concat(lit("\ufeff"), col("text"), lit(DirtySuffix)).as("dirty"))
      .select(col("doc_id"),
        length(col("dirty")).cast("long").as("dirty_len"),
        CleanOps.cleanText(col("dirty")).as("clean"))
      .select(col("doc_id"), col("dirty_len"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  private val ParaSep = "\n\n"
  private val Boilerplate = "subscribe to our newsletter for updates"

  /** Multi-paragraph documents: own text + a corpus-wide boilerplate
    * paragraph + a mod-7-shared footer + the doc's 40-char prefix. */
  private def paraDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat_ws(ParaSep,
        col("text"),
        lit(Boilerplate),
        concat(lit("footer block "), (col("doc_id") % 7).cast("string")),
        substring(col("text"), 1, 40)).as("text"))

  /** Paragraph-level dedup across the corpus: boilerplate survives only
    * in its first host document; every document is reassembled from its
    * kept paragraphs. */
  val q66ParagraphDedup: Q = (s, d) =>
    Dedup.paragraphDedup(paraDocs(s, d), "doc_id", "text", ParaSep)
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("text")).as("clean_md5"))
      .orderBy("doc_id")

  private val VocabSize = 16

  /** Corpus vocabulary (top-16 by frequency, lexicographic ties) +
    * per-doc OOV counts against it — integer outputs, exact compare. */
  val q67VocabOov: Q = (s, d) => {
    val vocab = Vocab.build(docs(s, d), "text", VocabSize)
    Vocab.oovStats(docs(s, d), "doc_id", "text", vocab)
      .orderBy("doc_id")
  }

  /** Substring-level contamination: 40-char spans lifted from every
    * 50th document (span_id = source doc_id), probed verbatim against
    * the whole corpus in one compiled Rabin–Karp pass. Every span hits
    * at least its own source document.
    *
    * The span list is a driver-side collect BY DESIGN —
    * [[Decontaminate.substringMatches]] contracts a test-set-sized
    * (control-plane) pattern list that ships inside the compiled
    * matcher, mirroring Sketches.bloomBitmap's contract. Because this
    * demo derives its spans from the CORPUS (1-in-50 docs), the
    * collect would otherwise scale with corpus size, so it is capped
    * loudly at [[MaxContamSpans]]: a real pipeline probes a fixed test
    * set, not a corpus sample. */
  private val MaxContamSpans = 10000
  val q68SubstringContam: Q = (s, d) => {
    val spans = docs(s, d)
      .filter(col("doc_id") % 50 === 0 && length(col("text")) >= 50)
      .select(col("doc_id"), substring(col("text"), 11, 40).as("span"))
      .limit(MaxContamSpans + 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy(_._1)
    require(spans.size <= MaxContamSpans,
      s"q68: span probe list exceeds $MaxContamSpans — the pattern " +
        "table is control-plane by contract; probe a fixed test set")
    Decontaminate.substringMatches(docs(s, d), "doc_id", "text", spans)
      .orderBy("doc_id", "span_id")
  }

  /** Fuzzy (MinHash-LSH) cross-corpus decontamination: the "test set"
    * is every 13th document with its first token dropped — a light
    * edit that defeats exact matching but keeps Jaccard high. Each
    * test doc must surface its source (and any true near-dups). */
  val q69FuzzyDecontam: Q = (s, d) => {
    val train = docs(s, d).select(col("doc_id"), col("text"))
    val test = docs(s, d).filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    Decontaminate.nearDuplicateReport(train, test, "doc_id", "text",
      threshold = 0.5)
      .orderBy("train_id", "test_id")
  }

  /** The HTML suffix planted by q70 — entities in both single and
    * double depth (`&amp;amp;` must decode exactly one level). */
  private val HtmlPrefix = """<html><body class="main"><p>"""
  private val HtmlSuffix =
    """</p><br><div id='f'>footer &amp;amp; more&nbsp;&lt;end&gt; """ +
      """&quot;q&quot; &#39;a&#39;</div></body></html>"""

  /** HTML boilerplate strip + entity decode + full clean, end-to-end
    * hash-matched. */
  val q70HtmlStrip: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix)).as("page"))
      .select(col("doc_id"),
        CleanOps.cleanText(CleanOps.stripHtml(col("page"))).as("clean"))
      .select(col("doc_id"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")


  /** Corpus novelty profile: distinct 3-shingles per doc vs shingles
    * first seen in a lower-id doc — the crawl-dup/boilerplate signal. */
  val q75Novelty: Q = (s, d) =>
    graft.operators.QualityOps.noveltyProfile(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Decile binning by token count — the curriculum/difficulty
    * bucketing shape. Computed by [[graft.operators.Quantiles.ntileExact]]
    * (histogram-offset + per-value window), NOT a global `ntile`
    * window: same bit-exact tiles, no data-sized single-partition
    * sort. The oracle IS the global-window formulation, proving the
    * decomposition. */
  val q74QualityBins: Q = (s, d) =>
    graft.operators.Quantiles.ntileExact(
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      "n_tokens", "doc_id", 10)
      .select(col("doc_id"), col("n_tokens"), col("tile").cast("long").as("decile"))
      .orderBy("doc_id")


  /** The HYGIENE pipeline composed end-to-end — what a web-corpus
    * preparation job actually runs: HTML strip → unicode clean →
    * paragraph dedup (boilerplate removal) → length gate → reproducible
    * split. Row-level oracle across the whole chain. */
  val q76HygienePipeline: Q = (s, d) => {
    val pages = paraDocs(s, d).select(col("doc_id"),
      concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix)).as("page"))
    val cleaned = pages.select(col("doc_id"),
      CleanOps.cleanText(CleanOps.stripHtml(col("page"))).as("text"))
    val deduped = Dedup.paragraphDedup(cleaned, "doc_id", "text", ParaSep)
    val gated = deduped.filter(col("n_kept") >= 2)
    graft.operators.Sampling.assignSplit(gated, "doc_id",
      Seq("train" -> 0.9, "holdout" -> 0.1), seed = 4)
      .select(col("doc_id"), col("n_paras"), col("n_kept"), col("split"),
        md5(col("text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Release-gate privacy audit (k-anonymity + l-diversity) over the
    * customer dimension: QIDs = (nation, market segment, account
    * balance banded to 1000); sensitive = the exact balance inside the
    * band. Reports every equivalence class that is below k=5 rows or
    * l=3 distinct balances — the re-identifiable / homogeneous
    * classes a release must generalize or suppress. One hash-agg
    * shuffle; output is class-sized at any SF. */
  val q206KAnonymity: Q = (s, d) => {
    val cust = graft.Tables(s, d, "customer")
      .withColumn("acct_band", graft.operators.Privacy.band(col("c_acctbal"), 1000L))
    graft.operators.Privacy.riskClasses(
      cust, Seq("c_nationkey", "c_mktsegment", "acct_band"),
      k = 5, sensitive = Some("c_acctbal"), l = 3)
      .orderBy("c_nationkey", "c_mktsegment", "acct_band")
  }

  /** The generalization ladder for q206's release gate: how wide must
    * the account-balance bands be (with nation as the other QID)
    * before every equivalence class reaches k=3 — the audit that
    * turns a failed k-anonymity check into an actionable coarsening
    * decision. One pass over customer regardless of ladder length. */
  val q208GeneralizeLadder: Q = (s, d) =>
    graft.operators.Privacy.generalizationLadder(
      graft.Tables(s, d, "customer"), Seq("c_nationkey"), "c_acctbal",
      widths = Seq(500L, 1000L, 2000L, 4000L, 8000L), k = 3)
      .orderBy("width")

  /** ROUGE-1/-2 eval over (candidate, reference) pairs of adjacent
    * documents — exact clipped n-gram counts plus single-division
    * precision/recall, all inside one compiled projection (the only
    * exchange is the pairing join itself). */
  val q207Rouge: Q = (s, d) => {
    val dd = docs(s, d)
    val pairs = dd.filter(col("doc_id") % 20 === 1)
      .select(col("doc_id"), col("text").as("cand_text"))
      .join(dd.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("ref_text")), Seq("doc_id"))
    val r1 = graft.operators.Rouge.rougeN(pairs, "cand_text", "ref_text", 1)
      .withColumnRenamed("overlap_n", "overlap_1")
      .withColumnRenamed("precision_n", "precision_1")
      .withColumnRenamed("recall_n", "recall_1")
      .drop("cand_grams", "ref_grams")
    graft.operators.Rouge.rougeN(r1, "cand_text", "ref_text", 2)
      .withColumnRenamed("overlap_n", "overlap_2")
      .withColumnRenamed("precision_n", "precision_2")
      .withColumnRenamed("recall_n", "recall_2")
      .drop("cand_grams", "ref_grams", "cand_text", "ref_text")
      .orderBy("doc_id")
  }

  /** t-closeness audit over customer rows: per nation (the QID), the
    * exact Earth-Mover's Distance between the class's banded
    * account-balance distribution and the table-wide one — the
    * distribution-shape leak that q206's k/l checks can't see (see
    * [[graft.operators.Privacy.tCloseness]]). All-integer EMD in
    * DECIMAL(38,0) prefix sums. */
  val q216TCloseness: Q = (s, d) => {
    val cust = graft.Tables(s, d, "customer")
      .withColumn("acct_band",
        graft.operators.Privacy.band(col("c_acctbal"), 2000L))
    graft.operators.Privacy.tCloseness(cust, Seq("c_nationkey"), "acct_band")
      .orderBy("c_nationkey")
  }

  /** Sentence-level BLEU-4 over (candidate, reference) pairs: the
    * candidate is the document with its first two tokens dropped, the
    * reference the full text — a deterministic truncation that
    * exercises clipping AND the brevity penalty (c < r on every pair).
    * Exact integer counts; ln/exp quantized per the BM25 discipline
    * (see [[graft.operators.Bleu]]). */
  val q215Bleu: Q = (s, d) => {
    val pairs = docs(s, d).filter(col("doc_id") % 20 === 4)
      .select(col("doc_id"),
        concat_ws(" ", slice(
          graft.functions.TextFunctions.tokens(col("text")), 3, 1 << 30))
          .as("cand_text"),
        col("text").as("ref_text"))
    graft.operators.Bleu.bleuReport(pairs, "cand_text", "ref_text", maxN = 4)
      .drop("cand_text", "ref_text")
      .orderBy("doc_id")
  }

  /** chrF2 over (candidate, reference) pairs: the candidate is the
    * document with its first 20 CHARACTERS dropped — a sub-token edit
    * that word-level BLEU/ROUGE mis-credit but the character metric
    * scores smoothly (short docs degenerate to empty candidates,
    * exercising the NULL-average path). Every quantity integer
    * end-to-end — per-order ppm by integer division, integer-mean,
    * integer harmonic combine; zero float boundary (see
    * [[graft.operators.Chrf]]). */
  val q221Chrf: Q = (s, d) => {
    val pairs = docs(s, d).filter(col("doc_id") % 20 === 9)
      .select(col("doc_id"),
        substring(col("text"), 21, 1 << 30).as("cand_text"),
        col("text").as("ref_text"))
    graft.operators.Chrf.chrfReport(pairs, "cand_text", "ref_text",
      maxN = 6, beta = 2)
      .drop("cand_text", "ref_text")
      .orderBy("doc_id")
  }

  /** The shared tail planted by q224 (apostrophe-free — embeds in the
    * oracle as a plain literal) and the per-doc shift prefix. Different
    * docs carry different-length prefixes, so the tail sits at
    * DIFFERENT offsets everywhere — only content-defined boundaries
    * can line its chunks up. */
  private val CdcTail =
    "the quick brown fox jumps over the lazy dog while content defined " +
      "chunking resynchronizes shared suffixes across shifted documents " +
      "so the storage layer stores the common bytes once"

  /** Content-defined chunking + corpus chunk dedup: every document is
    * shifted by a doc_id-dependent prefix and suffixed with a shared
    * tail; the CDC boundaries resynchronize so the tail's chunks hash
    * identically across all docs (n_docs = corpus size) despite the
    * shifts — the storage-dedup win fixed blocks cannot deliver (see
    * [[graft.operators.Cdc]]). */
  private def cdcDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat(expr("repeat('>', CAST(doc_id % 11 AS INT))"),
        col("text"), lit(" "), lit(CdcTail)).as("text"))

  val q224CdcDedup: Q = (s, d) =>
    graft.operators.Cdc.chunkDedup(cdcDocs(s, d), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  /** Build-once state for q226: the persistent CDC chunk store over
    * q224's planted corpus, once per (JVM, sf dir) through
    * [[graft.operators.Materialize.buildOnce]] — the q118/q31
    * resident-index pattern. */
  private[graft] object CdcIndexCache {
    val NBuckets = 32
    def getOrBuild(s: SparkSession, sfDir: String): String =
      graft.operators.Materialize.buildOnce("cdcidx", sfDir) { path =>
        graft.operators.CdcIndex.build(cdcDocs(s, sfDir), "doc_id", "text",
          path, nBuckets = NBuckets)
      }._1
  }

  /** The q224 sharing report served FROM the persistent chunk store:
    * build once, then answer from postings — the resident-index twin
    * (see [[graft.operators.CdcIndex]]). Must return EXACTLY what the
    * direct path returns, so it shares q224's oracle replay. */
  val q226CdcIndex: Q = (s, d) =>
    graft.operators.CdcIndex.sharing(s, CdcIndexCache.getOrBuild(s, d))
      .orderBy("doc_id", "chunk_idx")

  /** One-vs-rest Mann–Whitney AUC of the per-doc token count by
    * source: for each source, the exact probability a random doc of
    * that source out-lengths a random doc from the rest (tie-corrected
    * doubled ranks, DECIMAL(38,0)) — the distribution-free "is this
    * source systematically different" gate a mean-based check gets
    * wrong on skewed lengths (see [[graft.operators.RankTests]]). */
  val q217RankAuc: Q = (s, d) =>
    graft.operators.RankTests.aucOneVsRest(
      docs(s, d).select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("ntok")),
      "source", "ntok", bucketWidth = 64L)

  /** Character-level Shannon entropy per document — the cheap
    * gibberish/boilerplate detector (≈0 for one repeated character,
    * high for base64-ish noise). The doc's own text is suffixed with a
    * deterministic low-entropy pad on mod-9 docs so the metric's
    * discriminating range is exercised, not just natural prose. One
    * compiled projection, zero shuffle at any corpus size; ln is
    * floor-quantized to micro-nats before any arithmetic (see
    * [[org.apache.spark.sql.graft.CharEntropy]]). */
  val q227CharEntropy: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(col("text"), expr("repeat('z', 120)")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.CharEntropy(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_chars").as("n_chars"),
        col("e.distinct_chars").as("distinct_chars"),
        col("e.entropy_unano").as("entropy_unano"))
      .orderBy("doc_id")

  /** Corpus diversity per source: distinct-1 / distinct-2 ratios (Li et
    * al., NAACL 2016) — the standard "is this slice degenerate /
    * template-generated" signal; a source whose bigram ratio collapses
    * is near-duplicate boilerplate even when unigram counts look
    * healthy. Two-stage aggregation (exact distinct via
    * groupBy(source, gram) partial-agg, then per-source fold) — no
    * count_distinct expand, no skew cliff on a hot gram. */
  val q228DistinctNgrams: Q = (s, d) => {
    import graft.functions.TextFunctions.{tokens, wordShingles}
    val base = docs(s, d).filter(length(trim(col("text"))) > 0)
    def ratio(gramCol: DataFrame => org.apache.spark.sql.Column, tag: String) = {
      val grams = base.select(col("source"), explode(gramCol(base)).as("g"))
      grams.groupBy(col("source"), col("g")).count()
        .groupBy(col("source"))
        .agg(count(lit(1)).as(s"distinct_$tag"),
          sum(col("count")).as(s"total_$tag"))
        .withColumn(s"ratio_${tag}_ppm",
          expr(s"(distinct_$tag * 1000000) div total_$tag"))
    }
    val uni = ratio(df => tokens(df("text")), "1")
    val bi = ratio(df => wordShingles(df("text"), 2), "2")
    uni.join(bi, Seq("source"), "left")
      .select(col("source"),
        col("distinct_1"), col("total_1"), col("ratio_1_ppm"),
        coalesce(col("distinct_2"), lit(0L)).as("distinct_2"),
        coalesce(col("total_2"), lit(0L)).as("total_2"),
        col("ratio_2_ppm"))
      .orderBy("source")
  }

  /** k-ary randomized response over the language attribute: every doc
    * reports its true lang with p = 0.75 (md5 coin on doc_id), else a
    * uniform hash-drawn lang; the collector inverts the known noise to
    * an unbiased count estimate — local differential privacy's
    * collect-without-shipping-rows mechanism, next to the syntactic
    * k/l/t audit tier (see [[graft.operators.Privacy.randomizedResponse]]).
    * Deterministic coins → both engines replay mechanism AND estimator
    * bit-for-bit. */
  val q229RandomizedResponse: Q = (s, d) =>
    graft.operators.Privacy.randomizedResponse(
      docs(s, d), catCol = "lang", idCol = "doc_id")
      .orderBy("category")

  /** Split-leakage audit — the contamination check a pipeline must run
    * on ITS OWN splits before eval numbers mean anything: assign the
    * reproducible hash split, then surface every (train, test) pair
    * whose shingle Jaccard clears the near-dup bar. The planted
    * near-copies in the corpus hash into different splits ~18% of the
    * time, so the leak list is non-empty by construction. Pure
    * composition of [[graft.operators.Sampling.assignSplit]] +
    * [[graft.operators.Decontaminate.nearDuplicateReport]]: LSH-banded
    * candidates only, the corpus never goes all-pairs. */
  val q232SplitLeakage: Q = (s, d) => {
    val split = graft.operators.Sampling.assignSplit(
      TextQueries.corpusNear(s, d), "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1), seed = 17)
    val train = split.filter(col("split") === "train").select("doc_id", "text")
    val test = split.filter(col("split") === "test").select("doc_id", "text")
    Decontaminate.nearDuplicateReport(train, test, "doc_id", "text",
      threshold = 0.5)
      .orderBy("train_id", "test_id")
  }

  /** The planted per-source template banner (9 words → five 5-grams,
    * on every 3rd doc — mod 3 is coprime to the mod-20 source cycle,
    * so ~⅓ of EVERY source carries it, safely over the 30% gate) and
    * a rare footer (every 25th doc, ~4% — under the gate AND under
    * minDf: proves the threshold excludes infrequent repeats). */
  private val TemplateBanner =
    "subscribe to our newsletter follow us for updates today"
  private val RareFooter =
    "this page is licensed under creative commons attribution"

  /** Group-frequency boilerplate detection (the CCNet line-frequency
    * move on word 5-grams): per-source document frequencies flag the
    * planted banner's shingles while the rare footer stays content —
    * per-doc occurrence counts and boiler ppm hash-match the full
    * DuckDB replay; see
    * [[graft.operators.Boilerplate.frequentNgramStats]]. */
  val q238Boilerplate: Q = (s, d) =>
    graft.operators.Boilerplate.frequentNgramStats(
      docs(s, d).select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 3 === 0, lit(TemplateBanner + " "))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 25 === 0, lit(" " + RareFooter))
            .otherwise(lit(""))).as("text")),
      "doc_id", "text", "source", n = 5,
      minFracPpm = 300000L, minDf = 5L)
      .orderBy("doc_id")

  /** Readability ingredients per source: words, vowel-group syllables,
    * complex words (≥ 3 syllable groups) and the independently
    * floor-divided FKGL-style grade in milli-units (documents stand in
    * for sentences — the corpus has no punctuation); see
    * [[graft.operators.QualityOps.readabilityStats]]. */
  val q239Readability: Q = (s, d) =>
    graft.operators.QualityOps.readabilityStats(
      docs(s, d).select(col("source"), col("text")),
      Seq("source"), "text")
      .orderBy("source")

  val queries: Map[String, Q] = Map(
    "q238_boilerplate" -> q238Boilerplate,
    "q239_readability" -> q239Readability,
    "q232_split_leakage" -> q232SplitLeakage,
    "q229_randomized_response" -> q229RandomizedResponse,
    "q227_char_entropy" -> q227CharEntropy,
    "q228_distinct_ngrams" -> q228DistinctNgrams,
    "q226_cdc_index" -> q226CdcIndex,
    "q224_cdc_dedup" -> q224CdcDedup,
    "q221_chrf" -> q221Chrf,
    "q217_rank_auc" -> q217RankAuc,
    "q206_k_anonymity" -> q206KAnonymity,
    "q207_rouge" -> q207Rouge,
    "q215_bleu" -> q215Bleu,
    "q216_t_closeness" -> q216TCloseness,
    "q208_generalize_ladder" -> q208GeneralizeLadder,
    "q65_unicode_clean" -> q65UnicodeClean,
    "q66_paragraph_dedup" -> q66ParagraphDedup,
    "q67_vocab_oov" -> q67VocabOov,
    "q68_substring_contam" -> q68SubstringContam,
    "q69_fuzzy_decontam" -> q69FuzzyDecontam,
    "q70_html_strip" -> q70HtmlStrip,
    "q74_quality_bins" -> q74QualityBins,
    "q75_novelty" -> q75Novelty,
    "q76_hygiene_pipeline" -> q76HygienePipeline,
  )

  // ------------------------------------------------------------- oracles

  /** One regexp_replace chain = CleanOps.cleanText, with the SAME
    * pattern strings (Java regex ∩ RE2 syntax — see CleanOps doc). */
  private def cleanSql(expr: String): String = {
    val nl = "chr(10)"
    s"""nfc_normalize(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  nfc_normalize($expr),
       |  '\\r\\n?', $nl, 'g'),
       |  '${CleanOps.StripPattern}', '', 'g'),
       |  '${CleanOps.SpaceRunPattern}', ' ', 'g'),
       |  '${CleanOps.NewlineTrimPattern}', $nl, 'g'),
       |  '${CleanOps.NewlineRunPattern}', $nl || $nl, 'g'),
       |  '${CleanOps.EdgePattern}', '', 'g'))""".stripMargin
  }

  /** chr()-composed replica of [[DirtySuffix]]. */
  private val dirtySuffixSql =
    "'  cafe' || chr(769) || ' ' || chr(8203) || chr(13) || chr(10) || " +
      "'fi' || chr(173) || 'nal' || chr(13) || chr(13) || chr(10) || " +
      "chr(10) || chr(10) || chr(10) || ' end' || chr(7) || ' '"

  private val sepSql = "chr(10) || chr(10)"

  private val tok = """regexp_split_to_array(trim(text), '\s+')"""

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** regexp_replace + replace chain = CleanOps.stripHtml, generated
    * from the same Entities table (single definition of the decode
    * order). */
  private def stripHtmlSql(expr: String): String =
    CleanOps.Entities.foldLeft(
      s"regexp_replace($expr, '${CleanOps.TagPattern}', ' ', 'g')") {
      case (acc, (entity, repl)) =>
        s"replace($acc, ${sqlLit(entity)}, ${sqlLit(repl)})"
    }

  /** The MinHash signature / band-key CTE fragment for one corpus CTE
    * named `src` — mirrors TextQueries.minhashPairCtes (bands=8,
    * rowsPerBand=2, n=16, 3-token shingles), but parameterized so q69
    * can instantiate it for train and test separately. */
  private def minhashSigCtes(prefix: String, src: String): String = {
    import TextQueries.{hx, minhashSigSql, shingles3, tok => ttok}
    s"""${prefix}tok AS (SELECT doc_id AS id, $ttok AS ts FROM $src),
       |${prefix}shraw AS (SELECT id, $shingles3 AS shr FROM ${prefix}tok),
       |${prefix}sig AS (SELECT id, list_distinct(shr) AS sh,
       |  ${minhashSigSql("list_transform(list_distinct(shr), s -> " + hx("s") + " % 2147483647)", 16)} AS sig
       |  FROM ${prefix}shraw WHERE len(shr) > 0),
       |${prefix}band AS (SELECT id, band,
       |  md5(array_to_string(sig[b.band*2+1:b.band*2+2], ',')) AS key
       |  FROM ${prefix}sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS band) b)""".stripMargin
  }

  /** Shared by q224 (direct) and q226 (index-served): same corpus,
    * same chunks, same sharing counts. */
  private val cdcOracle = graft.operators.Cdc.chunkDedupOracleSql(
    s"SELECT doc_id AS id, repeat('>', CAST(doc_id % 11 AS INT)) || " +
      s"text || ' ' || '$CdcTail' AS s FROM documents",
    idOut = "doc_id")

  val oracles: Map[String, String] = Map(
    "q238_boilerplate" -> graft.operators.Boilerplate.frequentNgramStatsOracleSql(
      s"""SELECT doc_id AS id, source AS grp,
         |  (CASE WHEN doc_id % 3 = 0 THEN '$TemplateBanner ' ELSE '' END) ||
         |  text ||
         |  (CASE WHEN doc_id % 25 = 0 THEN ' $RareFooter' ELSE '' END) AS text
         |FROM documents""".stripMargin,
      "doc_id", "source", minFracPpm = 300000L, minDf = 5L),
    "q239_readability" -> graft.operators.QualityOps.readabilityStatsOracleSql(
      "SELECT source, text FROM documents", Seq("source")),
    "q232_split_leakage" -> {
      import TextQueries.hx
      val splitCase = graft.operators.Sampling.assignSplitCaseSql(
        hx("'17:' || CAST(doc_id AS VARCHAR)"),
        Seq("train" -> 0.9, "test" -> 0.1))
      s"""WITH corpus AS (${TextQueries.corpusNearSql}),
         |lab AS (SELECT doc_id, text, $splitCase AS split FROM corpus),
         |train AS (SELECT doc_id, text FROM lab WHERE split = 'train'),
         |test AS (SELECT doc_id, text FROM lab WHERE split = 'test'),
         |${minhashSigCtes("tr", "train")},
         |${minhashSigCtes("te", "test")},
         |cands AS (SELECT DISTINCT tr.id AS train_id, te.id AS test_id
         |  FROM trband tr JOIN teband te ON tr.band = te.band AND tr.key = te.key),
         |pairs AS (SELECT train_id, test_id,
         |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
         |  FROM cands JOIN trsig sa ON cands.train_id = sa.id
         |  JOIN tesig sb ON cands.test_id = sb.id)
         |SELECT train_id, test_id, jaccard FROM pairs WHERE jaccard >= 0.5
         |ORDER BY train_id, test_id""".stripMargin
    },
    "q229_randomized_response" ->
      graft.operators.Privacy.randomizedResponseOracleSql(
        "SELECT doc_id AS id, lang AS cat FROM documents"),
    // chars = code points (string_split '' ≡ codePointAt on data with
    // no combining sequences); ln floor-quantized to micro-nats BEFORE
    // the integer assembly on both engines — the CharEntropy contract
    "q227_char_entropy" ->
      """WITH src AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN text || repeat('z', 120)
        |         ELSE text END AS text FROM documents),
        |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |       FROM src WHERE text IS NOT NULL AND text <> ''),
        |cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
        |        FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(k) AS n, count(*) AS dch,
        |    sum(k * CAST(floor(ln(k) * 1000000) AS BIGINT)) AS s
        |  FROM cnt GROUP BY 1)
        |SELECT sr.doc_id,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce(a.dch, 0) AS BIGINT) AS distinct_chars,
        |  CAST(CASE WHEN a.n IS NULL THEN 0
        |    ELSE greatest(a.n * CAST(floor(ln(a.n) * 1000000) AS BIGINT)
        |                    - a.s, 0) // a.n END AS BIGINT) AS entropy_unano
        |FROM src sr LEFT JOIN agg a USING (doc_id)
        |ORDER BY sr.doc_id""".stripMargin,
    "q228_distinct_ngrams" ->
      s"""WITH base AS (SELECT source, $tok AS ts FROM documents
         |             WHERE length(trim(text)) > 0),
         |u AS (SELECT source, g, count(*) AS c FROM
         |  (SELECT source, unnest(ts) AS g FROM base) GROUP BY 1, 2),
         |b AS (SELECT source, g, count(*) AS c FROM
         |  (SELECT source, unnest(
         |     [array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS g
         |   FROM base) GROUP BY 1, 2),
         |ua AS (SELECT source, CAST(count(*) AS BIGINT) AS distinct_1,
         |         CAST(sum(c) AS BIGINT) AS total_1 FROM u GROUP BY 1),
         |ba AS (SELECT source, CAST(count(*) AS BIGINT) AS distinct_2,
         |         CAST(sum(c) AS BIGINT) AS total_2 FROM b GROUP BY 1)
         |SELECT ua.source, ua.distinct_1, ua.total_1,
         |  CAST((ua.distinct_1 * 1000000) // ua.total_1 AS BIGINT) AS ratio_1_ppm,
         |  CAST(coalesce(ba.distinct_2, 0) AS BIGINT) AS distinct_2,
         |  CAST(coalesce(ba.total_2, 0) AS BIGINT) AS total_2,
         |  CAST((ba.distinct_2 * 1000000) // ba.total_2 AS BIGINT) AS ratio_2_ppm
         |FROM ua LEFT JOIN ba USING (source)
         |ORDER BY ua.source""".stripMargin,
    "q226_cdc_index" -> cdcOracle,
    "q224_cdc_dedup" -> cdcOracle,
    "q221_chrf" -> graft.operators.Chrf.chrfOracleSql(
      """SELECT doc_id, substr(text, 21) AS cand_text, text AS ref_text
        |FROM documents WHERE doc_id % 20 = 9""".stripMargin,
      maxN = 6, beta = 2),
    "q217_rank_auc" -> graft.operators.RankTests.aucOneVsRestOracleSql(
      """SELECT source AS g,
        |  CASE WHEN text IS NULL THEN NULL
        |    WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS v
        |FROM documents""".stripMargin),
    "q216_t_closeness" -> graft.operators.Privacy.tClosenessOracleSql(
      "SELECT c_nationkey, CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT)" +
        " AS acct_band FROM customer",
      Seq("c_nationkey"), "acct_band"),
    "q215_bleu" -> graft.operators.Bleu.bleuOracleSql(
      """SELECT doc_id,
        |  array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ')
        |    AS cand_text,
        |  text AS ref_text
        |FROM documents WHERE doc_id % 20 = 4""".stripMargin,
      maxN = 4),
    "q208_generalize_ladder" ->
      """WITH wl AS (SELECT unnest([500, 1000, 2000, 4000, 8000]) AS width),
        |cls AS (SELECT width, c_nationkey,
        |    CAST(floor(c_acctbal / width) * width AS BIGINT) AS b,
        |    count(*) AS c
        |  FROM customer, wl GROUP BY 1, 2, 3)
        |SELECT CAST(width AS BIGINT) AS width,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(c) AS BIGINT) AS min_class,
        |  min(c) >= 3 AS achieves_k
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    "q206_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acct_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct
        |FROM customer
        |GROUP BY 1, 2, 3
        |HAVING count(*) < 5 OR count(DISTINCT c_acctbal) < 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q207_rouge" ->
      """WITH pairs AS (
        |  SELECT c.doc_id, c.text AS ctext, r.text AS rtext
        |  FROM documents c JOIN documents r ON r.doc_id = c.doc_id - 1
        |  WHERE c.doc_id % 20 = 1),
        |base AS (SELECT doc_id,
        |    CASE WHEN ctext IS NULL OR trim(ctext) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(ctext), '\s+') END AS cts,
        |    CASE WHEN rtext IS NULL OR trim(rtext) = '' THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(rtext), '\s+') END AS rts
        |  FROM pairs),
        |c1 AS (SELECT doc_id, g, count(*) AS c FROM
        |  (SELECT doc_id, unnest(cts) AS g FROM base) GROUP BY 1, 2),
        |r1 AS (SELECT doc_id, g, count(*) AS c FROM
        |  (SELECT doc_id, unnest(rts) AS g FROM base) GROUP BY 1, 2),
        |o1 AS (SELECT c1.doc_id, CAST(sum(least(c1.c, r1.c)) AS BIGINT) AS ov
        |  FROM c1 JOIN r1 ON c1.doc_id = r1.doc_id AND c1.g = r1.g GROUP BY 1),
        |cb AS (SELECT doc_id, unnest(
        |  [array_to_string(cts[i:i+1], ' ') for i in range(1, len(cts))]) AS g FROM base),
        |rb AS (SELECT doc_id, unnest(
        |  [array_to_string(rts[i:i+1], ' ') for i in range(1, len(rts))]) AS g FROM base),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM cb GROUP BY 1, 2),
        |r2 AS (SELECT doc_id, g, count(*) AS c FROM rb GROUP BY 1, 2),
        |o2 AS (SELECT c2.doc_id, CAST(sum(least(c2.c, r2.c)) AS BIGINT) AS ov
        |  FROM c2 JOIN r2 ON c2.doc_id = r2.doc_id AND c2.g = r2.g GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(coalesce(o1.ov, 0) AS BIGINT) AS overlap_1,
        |  CASE WHEN len(cts) > 0
        |    THEN CAST(coalesce(o1.ov, 0) AS DOUBLE) / len(cts) END AS precision_1,
        |  CASE WHEN len(rts) > 0
        |    THEN CAST(coalesce(o1.ov, 0) AS DOUBLE) / len(rts) END AS recall_1,
        |  CAST(coalesce(o2.ov, 0) AS BIGINT) AS overlap_2,
        |  CASE WHEN len(cts) >= 2
        |    THEN CAST(coalesce(o2.ov, 0) AS DOUBLE) / (len(cts) - 1) END AS precision_2,
        |  CASE WHEN len(rts) >= 2
        |    THEN CAST(coalesce(o2.ov, 0) AS DOUBLE) / (len(rts) - 1) END AS recall_2
        |FROM base b LEFT JOIN o1 ON b.doc_id = o1.doc_id
        |  LEFT JOIN o2 ON b.doc_id = o2.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q76_hygiene_pipeline" -> {
      val pageSql = s"${sqlLit(HtmlPrefix)} || text || ${sqlLit(HtmlSuffix)}"
      s"""WITH built AS (SELECT doc_id,
         |  text || $sepSql || '$Boilerplate' || $sepSql ||
         |  'footer block ' || CAST(doc_id % 7 AS VARCHAR) || $sepSql ||
         |  substr(text, 1, 40) AS text FROM documents),
         |page AS (SELECT doc_id, $pageSql AS page FROM built),
         |cleaned AS (SELECT doc_id, ${cleanSql(stripHtmlSql("page"))} AS ctext FROM page),
         |splits AS (SELECT doc_id, string_split(ctext, $sepSql) AS parts FROM cleaned),
         |paras AS (SELECT doc_id, unnest(
         |  [struct_pack(idx := i - 1, para := parts[i])
         |   for i in range(1, len(parts) + 1)], recursive := true) FROM splits),
         |keep AS (SELECT doc_id, idx, para,
         |  row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
         |  FROM paras),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(para, $sepSql ORDER BY idx) AS rebuilt
         |  FROM keep WHERE rn = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
         |ded AS (SELECT t.doc_id, t.n_paras, coalesce(a.n_kept, 0) AS n_kept,
         |  coalesce(a.rebuilt, '') AS rebuilt
         |  FROM tot t LEFT JOIN agg a USING (doc_id)),
         |gated AS (SELECT * FROM ded WHERE n_kept >= 2)
         |SELECT doc_id, CAST(n_paras AS BIGINT) AS n_paras,
         |  CAST(n_kept AS BIGINT) AS n_kept,
         |  ${graft.operators.Sampling.assignSplitCaseSql(
              TextQueries.hx("'4:' || CAST(doc_id AS VARCHAR)"),
              Seq("train" -> 0.9, "holdout" -> 0.1))} AS split,
         |  md5(rebuilt) AS clean_md5
         |FROM gated ORDER BY doc_id""".stripMargin
    },
    "q74_quality_bins" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($tok) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS decile
         |FROM t ORDER BY doc_id""".stripMargin,
    "q75_novelty" -> {
      import TextQueries.{shingles3, tok => ttok}
      s"""WITH tk AS (SELECT doc_id, $ttok AS ts FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($shingles3)) AS shingle FROM tk),
         |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
         |st AS (SELECT sh.doc_id, count(*) AS n_shingles,
         |  sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
         |  FROM sh JOIN fs USING (shingle) GROUP BY sh.doc_id)
         |SELECT d.doc_id, CAST(coalesce(st.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(st.n_novel, 0) AS BIGINT) AS n_novel
         |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "q69_fuzzy_decontam" ->
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |test AS (SELECT doc_id + 1000000 AS doc_id,
         |  regexp_replace(text, '^\\S+\\s+', '') AS text
         |  FROM documents WHERE doc_id % 13 = 0),
         |${minhashSigCtes("tr", "train")},
         |${minhashSigCtes("te", "test")},
         |cands AS (SELECT DISTINCT tr.id AS train_id, te.id AS test_id
         |  FROM trband tr JOIN teband te ON tr.band = te.band AND tr.key = te.key),
         |pairs AS (SELECT train_id, test_id,
         |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
         |  FROM cands JOIN trsig sa ON cands.train_id = sa.id
         |  JOIN tesig sb ON cands.test_id = sb.id)
         |SELECT train_id, test_id, jaccard FROM pairs WHERE jaccard >= 0.5
         |ORDER BY train_id, test_id""".stripMargin,
    "q70_html_strip" -> {
      val pageSql = s"${sqlLit(HtmlPrefix)} || text || ${sqlLit(HtmlSuffix)}"
      s"""WITH page AS (SELECT doc_id, $pageSql AS page FROM documents),
         |clean AS (SELECT doc_id, ${cleanSql(stripHtmlSql("page"))} AS clean FROM page)
         |SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM clean ORDER BY doc_id""".stripMargin
    },
    "q65_unicode_clean" ->
      s"""WITH dirty AS (SELECT doc_id,
         |  chr(65279) || text || $dirtySuffixSql AS dirty FROM documents),
         |clean AS (SELECT doc_id, length(dirty) AS dirty_len,
         |  ${cleanSql("dirty")} AS clean FROM dirty)
         |SELECT doc_id, CAST(dirty_len AS BIGINT) AS dirty_len,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM clean ORDER BY doc_id""".stripMargin,
    "q66_paragraph_dedup" ->
      s"""WITH built AS (SELECT doc_id,
         |  text || $sepSql || '$Boilerplate' || $sepSql ||
         |  'footer block ' || CAST(doc_id % 7 AS VARCHAR) || $sepSql ||
         |  substr(text, 1, 40) AS dtext FROM documents),
         |splits AS (SELECT doc_id, string_split(dtext, $sepSql) AS parts FROM built),
         |paras AS (SELECT doc_id, unnest(
         |  [struct_pack(idx := i - 1, para := parts[i])
         |   for i in range(1, len(parts) + 1)], recursive := true) FROM splits),
         |keep AS (SELECT doc_id, idx, para,
         |  row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
         |  FROM paras),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(para, $sepSql ORDER BY idx) AS cleaned
         |  FROM keep WHERE rn = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_paras AS BIGINT) AS n_paras,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  md5(coalesce(a.cleaned, '')) AS clean_md5
         |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q67_vocab_oov" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tok) AS token FROM documents),
         |freq AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
         |vocab AS (SELECT token FROM (
         |  SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rn FROM freq)
         |  WHERE rn <= $VocabSize),
         |st AS (SELECT t.doc_id, count(*) AS n_tokens,
         |  sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM toks t LEFT JOIN vocab v USING (token) GROUP BY t.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_oov AS BIGINT) AS n_oov
         |FROM st ORDER BY doc_id""".stripMargin,
    "q68_substring_contam" ->
      """WITH spans AS (SELECT doc_id AS span_id, substr(text, 11, 40) AS span
        |  FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 50)
        |SELECT d.doc_id, s.span_id FROM documents d, spans s
        |WHERE contains(d.text, s.span)
        |ORDER BY doc_id, span_id""".stripMargin,
  )
}
