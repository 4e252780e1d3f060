package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Diversity, GraphOps, Isotonic, Quantiles, RankTests,
  Skyline, Survival, SetSimJoin, TimeOps}
import graft.functions.TextFunctions.{tokens, wordShingles}

/** Round-9 mining/science tier: exact prefix-filtered set-similarity
  * join, HITS, skyline, Kaplan–Meier survival, distributional
  * diagnostics (total variation / Gini / Simpson), modularity audit,
  * weighted percentiles, linear-interpolation resampling.
  *
  * Same determinism discipline as every tier: integer/ppm metrics,
  * exact decimal money sums, sign-safe floors where a quotient can go
  * negative, total ORDER BY — every query hash-matches its DuckDB
  * oracle.
  */
object MiningQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Every 3rd document ∪ near-copies (first token dropped) of every
    * 30th — the TextQueries planted-near-dup construction on a third
    * of the corpus. The SPARK side scales to the full corpus (prefix
    * filtering is the whole point); the thinning keeps the ORACLE —
    * a deliberately quadratic brute-force completeness proof — inside
    * the driver's DuckDB budget (pair count scales with corpus²). */
  private def corpusNear(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents").filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
  }
  private val corpusNearSql =
    """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s+', '') FROM documents WHERE doc_id % 30 = 0"""

  private val PpjoinThresholdPpm = 500000L

  /** Exact all-pairs Jaccard ≥ 0.5 over 3-shingle sets via TRUE prefix
    * filtering (rarest-token prefixes + positional bound) — the
    * no-false-negatives dedup tier; see
    * [[graft.operators.SetSimJoin.prefixJaccardJoin]]. Unlike q27's
    * full inverted index this posts only each doc's prefix. Oracle is
    * the brute-force cross join (completeness proof) in DuckDB. */
  val q174Ppjoin: Q = (s, d) =>
    SetSimJoin.prefixJaccardJoin(
      corpusNear(s, d).select(col("doc_id"),
        array_distinct(wordShingles(col("text"), 3)).as("sh")),
      "doc_id", "sh", PpjoinThresholdPpm)
      .orderBy("id_a", "id_b")

  private val HitsIterations = 4

  /** HITS hubs/authorities on the customer→supplier purchase graph:
    * hub customers buy broadly from authoritative suppliers. 4 exact
    * integer rounds, unrolled in the oracle — see
    * [[graft.operators.GraphOps.hits]]. */
  val q175Hits: Q = (s, d) => {
    val edges = t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    GraphOps.hits(edges, HitsIterations).orderBy("node_id")
  }

  /** Price/size skyline of the part catalog (both minimized): the
    * Pareto-frontier "best trade-off" rows no other part beats on both
    * axes — bucket-pruned exact skyline, NOT EXISTS oracle; see
    * [[graft.operators.Skyline.skyline2d]]. */
  val q176Skyline: Q = (s, d) =>
    Skyline.skyline2d(
      t(s, d, "part").select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("size")),
      "cents", "size", bucketWidth = 10000L)
      .select(col("p_partkey"), col("cents"), col("size"))
      .orderBy("p_partkey")

  /** Kaplan–Meier time-to-first-purchase: per user, duration in days
    * from first event to first purchase; users who never purchase are
    * right-censored at their last event. Exact integer survival
    * recurrence replayed by a recursive-CTE oracle — see
    * [[graft.operators.Survival.kaplanMeier]]. */
  val q177KaplanMeier: Q = (s, d) => {
    val subjects = t(s, d, "events")
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("f"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p"),
        max(unix_micros(col("ts"))).as("l"))
      .select(
        expr("CASE WHEN p IS NOT NULL THEN (p - f) div 86400000000 " +
          "ELSE (l - f) div 86400000000 END").as("dur"),
        when(col("p").isNotNull, lit(1)).otherwise(lit(0)).as("observed"))
    Survival.kaplanMeier(subjects, "dur", "observed")
  }

  /** Pairwise total-variation distance between the unigram
    * distributions of every two document sources — the source-mix
    * drift matrix of a corpus blend; see
    * [[graft.operators.Diversity.tvMatrix]]. */
  val q178SourceTv: Q = (s, d) =>
    Diversity.tvMatrix(
      t(s, d, "documents").select(col("source"),
        explode(tokens(col("text"))).as("token")),
      "source", "token")
      .orderBy("grp_a", "grp_b")

  /** Per-nation daily revenue for 1995 with missing days LINEARLY
    * interpolated between surrounding observed days (ffill's
    * estimator upgrade) — see
    * [[graft.operators.TimeOps.resampleLinear]]. */
  val q179InterpDaily: Q = (s, d) => {
    val daily = t(s, d, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("t"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    TimeOps.resampleLinear(daily, Seq("nation"), "t", "cents")
      .orderBy("nation", "t")
  }

  /** Modularity audit of the q128 label-propagation communities over
    * the supplier↔part graph — "is the partition better than chance"
    * in ppm (sign-safe), one row; see
    * [[graft.operators.GraphOps.modularity]]. */
  val q180Modularity: Q = (s, d) => {
    val sp = WarehouseQueries.spPairs(s, d)
    // the q128 assignment it audits, served from the shared
    // materialization (WarehouseQueries.spLpa3) instead of re-running
    // the full 3-round propagation — the oracle still recomputes the
    // propagation from scratch, so the equivalence stays pinned
    val assign = WarehouseQueries.spLpa3(s, d)
    GraphOps.modularity(
      sp.select(col("s").as("src"), col("p").as("dst")), assign)
  }

  private val WeightedPcts = Seq(25, 50, 75, 90, 99)

  /** Quantity-weighted price percentiles per return flag: "the price
    * below which p% of shipped QUANTITY falls" — see
    * [[graft.operators.Quantiles.weightedPercentiles]]. */
  val q181WeightedPct: Q = (s, d) =>
    Quantiles.weightedPercentiles(
      t(s, d, "lineitem").select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("l_quantity").cast("long").as("qty")),
      Seq("l_returnflag"), "cents", "qty", WeightedPcts)
      .orderBy("l_returnflag", "pct")

  /** Gini coefficient of customer lifetime spend — revenue
    * concentration in ppm, global ranks via the bucket-histogram
    * two-phase (no global sort); see
    * [[graft.operators.Diversity.gini]]. */
  val q182Gini: Q = (s, d) =>
    Diversity.gini(
      t(s, d, "orders").groupBy("o_custkey")
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents")),
      "cents", bucketWidth = 1000000L)

  /** Simpson lexical diversity per document source: probability two
    * token draws (without replacement) differ — monoculture sources
    * score low; see [[graft.operators.Diversity.simpson]]. */
  val q183Simpson: Q = (s, d) =>
    Diversity.simpson(
      t(s, d, "documents").select(col("source"),
        explode(tokens(col("text"))).as("token")),
      Seq("source"), "token")
      .orderBy("source")

  private val SsspRounds = 4

  /** Cheapest supply-chain reach: weighted Bellman–Ford over the
    * symmetric supplier↔part graph, edge weight = the pair's minimum
    * line price in cents, from the q147 seed suppliers — "cheapest
    * total cost to reach each node in ≤ 4 hops"; see
    * [[graft.operators.GraphOps.weightedSssp]]. */
  val q184Sssp: Q = (s, d) => {
    val sp = graft.operators.Materialize.once(
      t(s, d, "lineitem")
        .groupBy(concat(lit("s"), col("l_suppkey")).as("s"),
          concat(lit("p"), col("l_partkey")).as("p"))
        .agg(min((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("w")))
    val edges = sp.select(col("s").as("src"), col("p").as("dst"), col("w"))
      .unionByName(sp.select(col("p").as("src"), col("s").as("dst"), col("w")))
    val seeds = t(s, d, "supplier")
      .where(col("s_suppkey") % 25 === 0)
      .select(concat(lit("s"), col("s_suppkey")).as("node_id"))
    GraphOps.weightedSssp(edges, seeds, SsspRounds).orderBy("node_id")
  }

  private val MwBucketCents = 1000000L // $10k histogram buckets

  /** Mann–Whitney rank-sum: does URGENT vs LOW order priority shift
    * the order-value distribution? Exact doubled-midrank U and
    * common-language effect size in ppm; see
    * [[graft.operators.RankTests.mannWhitney]]. */
  /** Kendall τ-b per source between the two cheapest quality signals
    * (token count vs distinct-token count): do they ORDER the slice
    * the same way, i.e. is the second signal redundant? Exact integer
    * concordant/discordant/tie counts over the (x, y) value-cell grid
    * — never row pairs — with the signed-squared τ in ppm (see
    * [[graft.operators.Correlation.kendallTau]]). The oracle is the
    * brute-force ROW-pair definition, proving the grid decomposition. */
  val q234KendallTau: Q = (s, d) =>
    graft.operators.Correlation.kendallTau(
      t(s, d, "documents").select(col("source"),
        tokens(col("text")).as("__t"))
        .select(col("source"), size(col("__t")).cast("long").as("ntok"),
          size(array_distinct(col("__t"))).cast("long").as("ndis")),
      Seq("source"), "ntok", "ndis")
      .orderBy("source")

  /** Pearson correlation screen over the lineitem measures (quantity,
    * price cents, discount bp): every pair's exact n²-scaled moments
    * from ONE map-side-combined scan, signed r² in ppm with no square
    * root anywhere (see [[graft.operators.Correlation.screen]]). */
  val q235CorrScreen: Q = (s, d) =>
    graft.operators.Correlation.screen(
      t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("quantity"),
        // $k units keep n·max|x| inside screen's BIGINT output contract
        // (ppm score is invariant under column scaling)
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " div 100000").as("price_kusd"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long")
          .as("discount_bp")),
      Seq("quantity", "price_kusd", "discount_bp"))
      .orderBy("col_a", "col_b")

  /** Spearman ρ per source between token count and character count:
    * is raw byte length a monotone proxy for token length, per slice?
    * Tie-midranked, milli-quantized ranks and a staged no-sqrt ppm
    * emission — exact integers against a brute-force per-row-rank
    * oracle (see [[graft.operators.Correlation.spearman]]). */
  val q236Spearman: Q = (s, d) =>
    graft.operators.Correlation.spearman(
      t(s, d, "documents").select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("ntok"),
        col("n_chars").cast("long").as("nchars")),
      Seq("source"), "ntok", "nchars")
      .orderBy("source")

  /** Theil–Sen robust trend of daily order revenue (whole dollars per
    * day): the median pairwise slope survives corrupt ingest days
    * that would wreck an OLS fit. Broadcast pair join, exact
    * histogram-refined median, floor-identity micro slopes — see
    * [[graft.operators.RobustTrend.theilSen]]. */
  val q237TheilSen: Q = (s, d) =>
    graft.operators.RobustTrend.theilSen(
      t(s, d, "orders")
        .groupBy(unix_date(to_date(col("o_orderdate"))).cast("long").as("t"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("__cents"))
        .select(col("t"), expr("__cents div 100").as("v")),
      "t", "v")

  val q185MannWhitney: Q = (s, d) =>
    RankTests.mannWhitney(
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("g"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("v")),
      "g", "v", MwBucketCents)

  /** Two-sample Kolmogorov–Smirnov distance between the purchase and
    * click event-value distributions (values floored to integer
    * micro-units — floor is IEEE-identical across engines); see
    * [[graft.operators.RankTests.ksTwoSample]]. */
  val q186Ks: Q = (s, d) =>
    RankTests.ksTwoSample(
      t(s, d, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type").as("g"),
          floor(col("value") * 1000000).cast("long").as("v")),
      "g", "v", bucketWidth = 10000000L)

  /** Isotonic (PAV) fit of return rate as a nondecreasing function of
    * line quantity — the calibration curve "does bigger basket mean
    * more returns", exact integer block pooling with a small-step
    * recursive-CTE replay oracle; see
    * [[graft.operators.Isotonic.pavFit]]. */
  val q187Isotonic: Q = (s, d) =>
    Isotonic.pavFit(
      t(s, d, "lineitem").select(col("l_quantity").cast("long").as("x"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y")),
      "x", "y")

  /** Video-container metadata extraction over a planted MP4 corpus:
    * each doc gets a REAL ISO-BMFF container built byte-for-byte
    * (ftyp/moov/mvhd/trak/tkhd/hdlr boxes, v0/v1 mvhd alternating)
    * and the box-walk parser ([[graft.multimodal.Mp4Parser]])
    * re-extracts brand, duration, track count, dimensions and handler
    * types from the BYTES — the corpus-triage projection of a video
    * pipeline. Frame decode stays documented-impossible pure-JDK;
    * the container layer is the real, scalable part (zero shuffle:
    * encode+parse is a per-row projection). The oracle replays the
    * planted field arithmetic in closed form — a hash match proves
    * the byte round-trip decoded every field exactly. */
  val q188VideoMeta: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.Mp4Parser
    val brands = Seq("isom", "mp42", "avc1")
    t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val ts = 600L + (id % 5) * 120L
        val units = (id % 97 + 3) * ts + (id % 7)
        val wh = if (id % 4 != 0)
          Some((16 * ((id % 20).toInt + 4), 9 * ((id % 20).toInt + 4)))
        else None
        val bytes = Mp4Parser.encodeMp4(brands((id % 3).toInt), ts, units,
          wh, withAudio = id % 3 == 0, mvhdV1 = id % 2 == 0)
        val m = Mp4Parser.parse(bytes).get
        (id, m.majorBrand, m.timescale, m.durationMs, m.nTracks.toLong,
          m.width.toLong, m.height.toLong, m.handlers.mkString(","))
      })
      .toDF("doc_id", "brand", "timescale", "duration_ms", "n_tracks",
        "width", "height", "handlers")
      .orderBy("doc_id")
  }

  /** Fleiss' kappa over a planted 5-rater annotation campaign: rater a
    * agrees with the latent class (doc_id % 4) ~70% of the time, else
    * errs deterministically — chance-corrected agreement replayed
    * exactly in SQL; see [[graft.operators.LabelOps.fleissKappa]]. */
  val q189FleissKappa: Q = (s, d) =>
    graft.operators.LabelOps.fleissKappa(
      t(s, d, "documents").select(col("doc_id"))
        .select(col("doc_id").as("subject"),
          explode(sequence(lit(1L), lit(5L))).as("a"))
        .withColumn("label", concat(lit("c"), expr(
          """CASE WHEN (subject * 31 + a * 17) % 10 < 7 THEN subject % 4
            |ELSE (subject % 4 + (subject + a) % 3 + 1) % 4 END""".stripMargin))),
      "subject", "label")

  /** Krippendorff's α over the q189 campaign WITH missing ratings:
    * rater a skips unit when (unit + a) % 7 = 0 (~71% of units drop
    * one rating), and every 50th unit keeps only rater 1 (m = 1 →
    * excluded as unpairable — exercising exactly what Fleiss cannot
    * express); see [[graft.operators.LabelOps.krippendorffAlpha]]. */
  val q244Krippendorff: Q = (s, d) =>
    graft.operators.LabelOps.krippendorffAlpha(
      t(s, d, "documents").select(col("doc_id"))
        .select(col("doc_id").as("unit"),
          explode(sequence(lit(1L), lit(5L))).as("a"))
        .filter((col("unit") + col("a")) % 7 =!= 0)
        .filter(!(col("unit") % 50 === 0 && col("a") > 1))
        .withColumn("label", concat(lit("c"), expr(
          """CASE WHEN (unit * 31 + a * 17) % 10 < 7 THEN unit % 4
            |ELSE (unit % 4 + (unit + a) % 3 + 1) % 4 END""".stripMargin))),
      "unit", "label")

  private val krippendorffRelSql =
    """SELECT unit,
      |  'c' || CAST(CASE WHEN (unit * 31 + a * 17) % 10 < 7 THEN unit % 4
      |       ELSE (unit % 4 + (unit + a) % 3 + 1) % 4 END AS VARCHAR) AS label
      |FROM (SELECT doc_id AS unit, unnest(range(1, 6)) AS a FROM documents)
      |WHERE (unit + a) % 7 <> 0 AND NOT (unit % 50 = 0 AND a > 1)""".stripMargin

  private val fleissRelSql =
    """SELECT doc_id AS subject,
      |  'c' || CAST(CASE WHEN (doc_id * 31 + a * 17) % 10 < 7 THEN doc_id % 4
      |       ELSE (doc_id % 4 + (doc_id + a) % 3 + 1) % 4 END AS VARCHAR) AS label
      |FROM documents, (SELECT unnest(range(1, 6)) AS a)""".stripMargin

  private val BtIterations = 5

  /** Bradley–Terry strengths over a planted 50-player arena: matches
    * drawn from lineitem rows (supplier-mod vs part-mod players), the
    * lower-numbered player winning ~2/3 of decisions — the
    * preference-pair rating fit, integer MM rounds replayed by
    * unrolled MATERIALIZED CTEs; see
    * [[graft.operators.PreferenceOps.bradleyTerry]]. */
  val q190BradleyTerry: Q = (s, d) => {
    val li = t(s, d, "lineitem")
      .select((col("l_suppkey") % 50).as("i"), (col("l_partkey") % 50).as("j"),
        ((col("l_orderkey") + col("l_linenumber")) % 3).as("coin"))
      .filter(col("i") =!= col("j"))
      .select(
        concat(lit("p"), lpad(when(col("coin") < 2, least(col("i"), col("j")))
          .otherwise(greatest(col("i"), col("j"))).cast("string"), 2, "0")).as("winner"),
        concat(lit("p"), lpad(when(col("coin") < 2, greatest(col("i"), col("j")))
          .otherwise(least(col("i"), col("j"))).cast("string"), 2, "0")).as("loser"))
    graft.operators.PreferenceOps.bradleyTerry(li, "winner", "loser", BtIterations)
  }

  private val btOutcomesSql =
    """SELECT 'p' || lpad(CAST(CASE WHEN coin < 2 THEN least(i, j)
      |    ELSE greatest(i, j) END AS VARCHAR), 2, '0') AS winner,
      |  'p' || lpad(CAST(CASE WHEN coin < 2 THEN greatest(i, j)
      |    ELSE least(i, j) END AS VARCHAR), 2, '0') AS loser
      |FROM (SELECT l_suppkey % 50 AS i, l_partkey % 50 AS j,
      |        (l_orderkey + l_linenumber) % 3 AS coin FROM lineitem)
      |WHERE i <> j""".stripMargin

  /** Reliability diagram + ECE of a planted miscalibrated scorer
    * (confidence deterministic in doc_id, outcomes biased +15 pts
    * optimistic) — the calibration audit in exact ppm arithmetic; see
    * [[graft.operators.Calibration.eceBins]]. */
  val q191Calibration: Q = (s, d) =>
    graft.operators.Calibration.eceBins(
      t(s, d, "documents").select(
        (((col("doc_id") * 37) % 101) * 9901).as("conf_ppm"),
        when(((col("doc_id") * 53) % 997) * 1003 <
          ((col("doc_id") * 37) % 101) * 9901 + 150000, 1L).otherwise(0L)
          .as("outcome")),
      "conf_ppm", "outcome")

  private val calibRelSql =
    """SELECT ((doc_id * 37) % 101) * 9901 AS conf_ppm,
      |  CASE WHEN ((doc_id * 53) % 997) * 1003
      |    < ((doc_id * 37) % 101) * 9901 + 150000 THEN 1 ELSE 0 END AS outcome
      |FROM documents""".stripMargin

  private val WinnowK = 3
  private val WinnowW = 4

  /** MOSS-style winnowing fingerprints per document (k=3 grams,
    * window 4): the local-similarity digest whose selection —
    * window-min with rightmost ties — is replayed position-for-
    * position by the oracle; see
    * [[graft.operators.Winnowing.fingerprints]]. */
  val q192Winnowing: Q = (s, d) =>
    graft.operators.Winnowing.fingerprints(
      t(s, d, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", WinnowK, WinnowW)
      .orderBy("doc_id")

  /** Good–Turing frequency-of-frequencies + unseen-mass estimate over
    * corpus 3-gram types (the unigram vocabulary is tiny and
    * saturated in this corpus — 3-grams carry the classic singleton
    * tail); see [[graft.operators.Vocab.goodTuring]]. */
  val q193GoodTuring: Q = (s, d) =>
    graft.operators.Vocab.goodTuring(
      t(s, d, "documents").select(col("text")), "text", maxR = 10, gramK = 3)

  /** MP3 frame-header metadata over a planted corpus: every doc gets
    * a REAL MPEG-1 Layer III byte stream (valid frame headers, ID3v2
    * prefixes, CBR and VBR mixes) and the frame-walk parser
    * re-extracts frame count, sample rate, channels, bitrate ceiling,
    * VBR flag, duration and tag size from the BYTES; the oracle
    * replays the planted arithmetic in closed form — see
    * [[graft.multimodal.Mp3Parser]]. */
  val q197Mp3Meta: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.Mp3Parser
    t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val n = 5 + (id % 7).toInt
        val b1 = 1 + (id % 14).toInt
        val b2 = 1 + ((id + 5) % 14).toInt
        val idxs =
          if (id % 4 == 0) (0 until n).map(j => if (j % 2 == 0) b1 else b2)
          else Seq.fill(n)(b1)
        val id3 = if (id % 3 == 0) 100 + (id % 50).toInt else 0
        val bytes = Mp3Parser.encodeMp3(idxs, (id % 3).toInt,
          mono = id % 2 == 1, id3PayloadBytes = id3)
        val m = Mp3Parser.parse(bytes).get
        (id, m.nFrames.toLong, m.sampleRateHz.toLong, m.channels.toLong,
          m.maxKbps.toLong, if (m.vbr) 1L else 0L, m.durationMs,
          m.id3Bytes.toLong)
      })
      .toDF("doc_id", "n_frames", "sample_rate", "channels", "max_kbps",
        "vbr", "duration_ms", "id3_bytes")
      .orderBy("doc_id")
  }

  private val TarNShards = 8

  /** Export-once state for q198 (the q31 holder pattern): the
    * documents corpus lands as WebDataset tar shards once per
    * (JVM, sf dir) through [[graft.operators.Materialize.buildOnce]];
    * every run re-READS the shard bytes. */
  private object TarState {
    def getOrExport(s: SparkSession, sfDir: String): String =
      graft.operators.Materialize.buildOnce("tar", sfDir) { path =>
        graft.operators.TarShards.exportTar(
          t(s, sfDir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("content")),
          path, "doc_id", "content", "txt", TarNShards)
      }._1
  }

  /** WebDataset tar-shard export audit: the corpus lands as
    * deterministic tar shards ([[graft.operators.TarShards]]), then
    * this query re-reads the SHARD BYTES, walks the ustar headers and
    * reports per-shard entry count / payload bytes / an order-exact
    * entry digest — all predicted in closed form by the oracle from
    * the raw table (shard = md5-hash mod n, entries in key-string
    * order, sizes = octet lengths). A hash match proves layout,
    * assignment, ordering and sizes byte-for-byte. */
  val q198Webdataset: Q = (s, d) => {
    import s.implicits._
    val path = TarState.getOrExport(s, d)
    s.read.format("binaryFile").load(s"$path/shard-*.tar")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (p, bytes) =>
        val shard = p.replaceAll(".*shard-(\\d{5})\\.tar$", "$1").toLong
        val entries = graft.operators.TarShards.tarEntries(bytes)
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(entries.map { case (n, c) => s"$n:${c.length}" }
            .mkString(",").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (shard, entries.size.toLong,
          entries.map(_._2.length.toLong).sum, digest)
      })
      .toDF("shard", "n_entries", "content_bytes", "entries_md5")
      .orderBy("shard")
  }

  /** Water-filling token-budget plan across document sources: weights
    * are md5-derived per source (deterministic), the budget is 2/5 of
    * the corpus tokens, and capped sources redistribute their excess —
    * unrolled-round oracle; see [[graft.operators.TokenBudget]]. */
  val q199TokenBudget: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("source"), col("text"))
    val sources = docs.select("source").distinct()
      .collect().map(_.getString(0))
    val weights = sources.map { src =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
      src -> (1L + java.lang.Long.parseLong(hex.take(8), 16) % 100L)
    }.toMap
    val total = docs
      .agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long"))).head().getLong(0)
    graft.operators.TokenBudget.plan(docs, "source", "text", weights,
      budget = total * 2 / 5)
  }

  /** Luhn-validated card scrubbing over planted spans: every doc gets
    * a deterministic 16-digit grouped span (valid only when its digits
    * happen to pass the checksum) and every 5th doc a known-valid test
    * number — shape-only scrubbers would redact them all; the Luhn
    * gate keeps the false positives. Candidates, validated count and
    * the redacted text hash-match the oracle's own checksum replay;
    * see [[graft.operators.QualityOps.scrubCards]]. */
  val q200CardScrub: Q = (s, d) => {
    def digit(i: Int) = pmod(col("doc_id") * 7 + i * 3, lit(10)).cast("string")
    def grp(a: Int) = concat((a to a + 3).map(digit): _*)
    val planted = t(s, d, "documents").select(col("doc_id"),
      concat(col("text"), lit(" card "),
        grp(1), lit(" "), grp(5), lit(" "), grp(9), lit(" "), grp(13),
        when(col("doc_id") % 5 === 0, lit(" 4111 1111 1111 1111"))
          .otherwise(lit(""))).as("text"))
    graft.operators.QualityOps.scrubCards(planted, "text")
      .select(col("doc_id"), col("n_card_candidates"), col("n_cards"),
        md5(col("text")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q174_ppjoin" -> q174Ppjoin,
    "q175_hits" -> q175Hits,
    "q176_skyline" -> q176Skyline,
    "q177_kaplan_meier" -> q177KaplanMeier,
    "q178_source_tv" -> q178SourceTv,
    "q179_interp_daily" -> q179InterpDaily,
    "q180_modularity" -> q180Modularity,
    "q181_weighted_pct" -> q181WeightedPct,
    "q182_gini" -> q182Gini,
    "q183_simpson" -> q183Simpson,
    "q184_sssp" -> q184Sssp,
    "q185_mann_whitney" -> q185MannWhitney,
    "q234_kendall_tau" -> q234KendallTau,
    "q235_corr_screen" -> q235CorrScreen,
    "q236_spearman" -> q236Spearman,
    "q237_theil_sen" -> q237TheilSen,
    "q244_krippendorff" -> q244Krippendorff,
    "q186_ks" -> q186Ks,
    "q187_isotonic" -> q187Isotonic,
    "q188_video_meta" -> q188VideoMeta,
    "q189_fleiss_kappa" -> q189FleissKappa,
    "q190_bradley_terry" -> q190BradleyTerry,
    "q191_calibration" -> q191Calibration,
    "q192_winnowing" -> q192Winnowing,
    "q193_good_turing" -> q193GoodTuring,
    "q197_mp3_meta" -> q197Mp3Meta,
    "q198_webdataset" -> q198Webdataset,
    "q199_token_budget" -> q199TokenBudget,
    "q200_card_scrub" -> q200CardScrub,
  )

  private val tok = """regexp_split_to_array(trim(text), '\s+')"""
  private val shingles3 =
    """[array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]"""

  private val hitsEdgesSql =
    """SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  private val lpaEdgesSql =
    """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
      |FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
      |UNION ALL
      |SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      |FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)""".stripMargin

  private val spEdgesSql =
    """SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
      |FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)""".stripMargin

  val oracles: Map[String, String] = Map(
    // brute-force cross join: proves the prefix filter loses nothing
    "q174_ppjoin" -> {
      val M = 1000000L
      s"""WITH corpus AS ($corpusNearSql),
         |tk AS (SELECT doc_id AS id, $tok AS ts FROM corpus
         |       WHERE length(trim(text)) > 0),
         |sh AS (SELECT id, list_distinct($shingles3) AS sh FROM tk
         |       WHERE len(ts) >= 3)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni,
         |  CAST((len(list_intersect(a.sh, b.sh)) * $M)
         |    // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT) AS jac_ppm
         |FROM sh a JOIN sh b ON a.id < b.id
         |  AND least(len(a.sh), len(b.sh)) * $M
         |    >= $PpjoinThresholdPpm * greatest(len(a.sh), len(b.sh))
         |WHERE len(list_intersect(a.sh, b.sh)) * $M
         |  >= $PpjoinThresholdPpm * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q175_hits" -> GraphOps.hitsOracleSql(hitsEdgesSql, HitsIterations),
    "q176_skyline" -> (Skyline.skylineOracleSql(
      """SELECT p_partkey,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  CAST(p_size AS BIGINT) AS size FROM part""".stripMargin,
      "cents", "size", "p_partkey, cents, size") + "\nORDER BY p_partkey"),
    "q177_kaplan_meier" -> Survival.kaplanMeierOracleSql(
      """SELECT CASE WHEN p IS NOT NULL THEN (p - f) // 86400000000
        |            ELSE (l - f) // 86400000000 END AS dur,
        |       CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM (SELECT user_id, min(epoch_us(ts)) AS f,
        |        min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p,
        |        max(epoch_us(ts)) AS l
        |      FROM events GROUP BY user_id)""".stripMargin),
    "q178_source_tv" ->
      """WITH occ AS (SELECT source AS g, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents WHERE length(trim(text)) > 0),
        |counts AS (SELECT g, t, CAST(count(*) AS HUGEINT) AS n FROM occ GROUP BY g, t),
        |tot AS (SELECT g, sum(n) AS tot FROM counts GROUP BY g),
        |shared AS (
        |  SELECT a.g AS ga, b.g AS gb,
        |         sum(abs(a.n * tb.tot - b.n * ta.tot)) AS db,
        |         sum(a.n) AS sa, sum(b.n) AS sb
        |  FROM counts a JOIN counts b ON a.t = b.t AND a.g < b.g
        |  JOIN tot ta ON ta.g = a.g JOIN tot tb ON tb.g = b.g
        |  GROUP BY a.g, b.g)
        |SELECT pa.g AS grp_a, pb.g AS grp_b,
        |  CAST(pa.tot AS BIGINT) AS n_a, CAST(pb.tot AS BIGINT) AS n_b,
        |  CAST((COALESCE(s.db, 0) + (pa.tot - COALESCE(s.sa, 0)) * pb.tot
        |        + (pb.tot - COALESCE(s.sb, 0)) * pa.tot) * 1000000
        |       // (2 * pa.tot * pb.tot) AS BIGINT) AS tv_ppm
        |FROM tot pa JOIN tot pb ON pa.g < pb.g
        |LEFT JOIN shared s ON s.ga = pa.g AND s.gb = pb.g
        |ORDER BY grp_a, grp_b""".stripMargin,
    "q179_interp_daily" -> TimeOps.resampleLinearOracleSql(
      """SELECT n_name AS nation,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE year(CAST(o_orderdate AS DATE)) = 1995
        |GROUP BY 1, 2""".stripMargin,
      Seq("nation")),
    "q180_modularity" -> GraphOps.modularityOracleSql(spEdgesSql,
      "\n" + GraphOps.labelPropagationOracleSql(lpaEdgesSql, iterations = 3)),
    "q181_weighted_pct" -> Quantiles.weightedPercentilesOracleSql(
      """SELECT l_returnflag,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |  CAST(l_quantity AS BIGINT) AS w FROM lineitem""".stripMargin,
      Seq("l_returnflag"), WeightedPcts),
    "q182_gini" -> Diversity.giniOracleSql(
      """SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey""".stripMargin),
    "q184_sssp" -> GraphOps.weightedSsspOracleSql(
      """SELECT src, dst, w FROM (
        |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
        |    min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2)
        |UNION ALL
        |SELECT dst, src, w FROM (
        |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
        |    min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2)""".stripMargin,
      "SELECT 's' || s_suppkey AS node_id FROM supplier WHERE s_suppkey % 25 = 0",
      rounds = SsspRounds),
    "q234_kendall_tau" -> graft.operators.Correlation.kendallTauOracleSql(
      """SELECT source,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS ndis
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
      Seq("source"), "ntok", "ndis"),
    "q244_krippendorff" ->
      graft.operators.LabelOps.krippendorffAlphaOracleSql(krippendorffRelSql),
    "q236_spearman" -> graft.operators.Correlation.spearmanOracleSql(
      """SELECT source,
        |  CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |  n_chars AS nchars
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
      Seq("source"), "ntok", "nchars"),
    "q237_theil_sen" -> graft.operators.RobustTrend.theilSenOracleSql(
      """SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS t,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) // 100
        |    AS v
        |FROM orders GROUP BY 1""".stripMargin),
    "q235_corr_screen" -> graft.operators.Correlation.screenOracleSql(
      """SELECT CAST(l_quantity AS BIGINT) AS quantity,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
        |    AS price_kusd,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS discount_bp
        |FROM lineitem""".stripMargin,
      Seq("quantity", "price_kusd", "discount_bp")),
    "q185_mann_whitney" -> RankTests.mannWhitneyOracleSql(
      """SELECT o_orderpriority AS g,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')""".stripMargin),
    "q186_ks" -> RankTests.ksTwoSampleOracleSql(
      """SELECT event_type AS g,
        |  CAST(floor(value * 1000000) AS BIGINT) AS v
        |FROM events WHERE event_type IN ('purchase', 'click')""".stripMargin),
    "q187_isotonic" -> Isotonic.pavOracleSql(
      """SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |FROM lineitem""".stripMargin),
    "q183_simpson" ->
      """WITH occ AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |             FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT source, token, CAST(count(*) AS HUGEINT) AS n
        |        FROM occ GROUP BY source, token)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_cats,
        |  CAST(sum(n) AS BIGINT) AS n_total,
        |  CAST(((sum(n) * (sum(n) - 1) - sum(n * (n - 1))) * 1000000)
        |       // (sum(n) * (sum(n) - 1)) AS BIGINT) AS simpson_ppm
        |FROM cnt GROUP BY source HAVING sum(n) >= 2 ORDER BY source""".stripMargin,
    // closed-form replay of the planted container fields: the Spark
    // side must recover exactly these values from the BYTES
    "q188_video_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
        |       ELSE 'avc1' END AS brand,
        |  CAST(600 + (doc_id % 5) * 120 AS BIGINT) AS timescale,
        |  CAST(((doc_id % 97 + 3) * (600 + (doc_id % 5) * 120) + doc_id % 7)
        |       * 1000 // (600 + (doc_id % 5) * 120) AS BIGINT) AS duration_ms,
        |  CAST((CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 4 <> 0 THEN 16 * (doc_id % 20 + 4)
        |       ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 4 <> 0 THEN 9 * (doc_id % 20 + 4)
        |       ELSE 0 END AS BIGINT) AS height,
        |  CASE WHEN doc_id % 4 <> 0 AND doc_id % 3 = 0 THEN 'vide,soun'
        |       WHEN doc_id % 4 <> 0 THEN 'vide'
        |       WHEN doc_id % 3 = 0 THEN 'soun' ELSE '' END AS handlers
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q189_fleiss_kappa" ->
      graft.operators.LabelOps.fleissKappaOracleSql(fleissRelSql),
    "q190_bradley_terry" ->
      graft.operators.PreferenceOps.bradleyTerryOracleSql(btOutcomesSql, BtIterations),
    "q191_calibration" ->
      graft.operators.Calibration.eceOracleSql(calibRelSql),
    "q192_winnowing" -> graft.operators.Winnowing.fingerprintsOracleSql(
      "SELECT doc_id, text FROM documents", WinnowK, WinnowW),
    "q193_good_turing" -> graft.operators.Vocab.goodTuringOracleSql(
      "SELECT text FROM documents", maxR = 10, gramK = 3),
    // closed-form replay of the planted MP3 fields; kbps/Hz tables are
    // 1-based list literals matching Mp3Parser's index tables
    "q197_mp3_meta" ->
      """SELECT doc_id,
        |  CAST(5 + doc_id % 7 AS BIGINT) AS n_frames,
        |  CAST([44100, 48000, 32000][CAST(doc_id % 3 AS INTEGER) + 1]
        |    AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN greatest(
        |      [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(1 + doc_id % 14 AS INTEGER)],
        |      [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(1 + (doc_id + 5) % 14 AS INTEGER)])
        |    ELSE [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(1 + doc_id % 14 AS INTEGER)] END AS BIGINT) AS max_kbps,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS vbr,
        |  CAST((5 + doc_id % 7) * 1152 * 1000
        |    // [44100, 48000, 32000][CAST(doc_id % 3 AS INTEGER) + 1]
        |    AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 110 + doc_id % 50
        |    ELSE 0 END AS BIGINT) AS id3_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form prediction of the tar layout: md5-hash shard
    // assignment, key-string entry order, octet sizes
    "q198_webdataset" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS k,
         |    octet_length(CAST(text AS BLOB)) AS len
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT CAST(CAST(('0x' || substr(md5(k), 1, 8)) AS UBIGINT)
         |      % $TarNShards AS BIGINT) AS shard,
         |    k, len FROM e)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_entries,
         |  CAST(sum(len) AS BIGINT) AS content_bytes,
         |  md5(string_agg(k || '.txt:' || len, ',' ORDER BY k)) AS entries_md5
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    "q199_token_budget" -> graft.operators.TokenBudget.planOracleSql(
      "SELECT source, text FROM documents",
      """SELECT source,
        |  1 + CAST(CAST(('0x' || substr(md5(source), 1, 8)) AS UBIGINT)
        |    AS BIGINT) % 100 AS weight
        |FROM (SELECT DISTINCT source FROM documents)""".stripMargin,
      budgetSql = "SELECT (sum(n) * 2) // 5 FROM d"),
    "q200_card_scrub" -> {
      val digits = (1 to 16).map(i =>
        s"CAST((doc_id * 7 + ${i * 3}) % 10 AS VARCHAR)" +
          (if (i % 4 == 0 && i < 16) " || ' '" else ""))
        .mkString(" || ")
      // Luhn over a span s, inlined (comprehensions cannot bind a local)
      def dsOf(s: String) = s"reverse(regexp_replace($s, '[^0-9]', '', 'g'))"
      def luhn(s: String) =
        s"""length(${dsOf(s)}) >= 13 AND list_sum([
           |  CASE WHEN (i - 1) % 2 = 0
           |    THEN CAST(substr(${dsOf(s)}, i, 1) AS BIGINT)
           |    ELSE CASE WHEN CAST(substr(${dsOf(s)}, i, 1) AS BIGINT) * 2 > 9
           |      THEN CAST(substr(${dsOf(s)}, i, 1) AS BIGINT) * 2 - 9
           |      ELSE CAST(substr(${dsOf(s)}, i, 1) AS BIGINT) * 2 END END
           |  for i in range(1, length(${dsOf(s)}) + 1)]) % 10 = 0""".stripMargin
      s"""WITH p AS MATERIALIZED (
         |  SELECT doc_id, text || ' card ' || $digits ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' 4111 1111 1111 1111'
         |      ELSE '' END AS text
         |  FROM documents),
         |c AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    regexp_extract_all(text,
         |      '\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}|\\d{16}') AS cands
         |  FROM p),
         |v AS MATERIALIZED (
         |  SELECT doc_id, text, cands,
         |    list_filter(cands, s -> ${luhn("s")}) AS valids
         |  FROM c)
         |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_card_candidates,
         |  CAST(len(valids) AS BIGINT) AS n_cards,
         |  md5(list_reduce(list_prepend(text, valids),
         |    (acc, x) -> replace(acc, x, '<CARD>'))) AS scrubbed_md5
         |FROM v ORDER BY doc_id""".stripMargin
    },
  )
}
