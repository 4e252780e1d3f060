package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Sketches

/** Mergeable-sketch queries (round 6): count-min frequency estimation
  * and HyperLogLog cardinality state, both with the md5-derived
  * portable hash so the EXACT counter/register tables are reproducible
  * in DuckDB (the oracles replay every hash decision bit-for-bit).
  *
  * Reference behavior: the reference audits row counts exactly in
  * Postgres (vivek-neenopal/shopify-etl merge jobs, run_logs.txt row
  * audits); these sketches are the 100 TB path for the same audit
  * numbers — a few KB of mergeable state instead of a full shuffle on
  * the key.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  private val CmsDepth = 4
  private val CmsWidth = 256
  private val HllBits = 10

  /** Count-min frequency estimation end-to-end: build a 4×256 sketch
    * over `orders.o_custkey`, then point-estimate every customer's
    * order count against it, alongside the exact count. The CMS
    * guarantee (`cms_est >= exact_cnt`, overestimates only from bucket
    * collisions) holds row-by-row in the output; the oracle rebuilds
    * the identical counter table and estimates from SQL. */
  val q77CmsFreq: Q = (s, d) => {
    val orders = Tables(s, d, "orders")
    val sketch = Sketches.countMin(orders, "o_custkey", CmsDepth, CmsWidth)
    val probes = Tables(s, d, "customer")
    val est = Sketches.cmsEstimate(sketch, probes, "c_custkey", CmsDepth, CmsWidth)
    val exact = orders.groupBy(col("o_custkey").cast("string").as("probe_key"))
      .agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("probe_key"), "left")
      .select(col("probe_key"), col("cms_est"),
        coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
      .orderBy("probe_key")
  }

  /** CMS join-size estimation (the AMS inner product): how many rows
    * would `lineitem ⋈ returned-lineitem ON l_suppkey` produce — a
    * genuinely many-to-many join — estimated from two counter tables
    * without running the join, next to the exact answer. Per hash row
    * the counter inner product over-counts only via collisions, so
    * `min(inner_product) >= exact` holds in the output row-by-row (see
    * [[graft.operators.Sketches.cmsJoinEstimate]]). */
  val q225CmsJoinSize: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
    val ret = li.filter(col("l_returnflag") === "R")
    val est = Sketches.cmsJoinEstimate(li, "l_suppkey", ret, "l_suppkey",
      CmsDepth, CmsWidth)
    val exact = li.groupBy("l_suppkey").agg(count(lit(1)).as("ca"))
      .join(ret.groupBy("l_suppkey").agg(count(lit(1)).as("cb")),
        Seq("l_suppkey"))
      .agg(sum(col("ca") * col("cb")).as("exact_join_rows"))
    est.crossJoin(broadcast(exact)).orderBy("row")
  }

  /** HyperLogLog state over `orders.o_custkey` with 2^10 buckets: the
    * full mergeable (bucket, register) table — integer state that
    * compares hash-exact across engines. The float cardinality
    * estimate is a driver-side fold over this table
    * ([[graft.operators.Sketches.hllEstimate]], covered by
    * SketchesSpec) where cross-engine float determinism no longer
    * matters. */
  val q78HllRegisters: Q = (s, d) =>
    Sketches.hllRegisters(Tables(s, d, "orders"), "o_custkey", HllBits)
      .orderBy("bucket")

  private val BloomM = 16384
  private val BloomK = 5

  /** Bloom semi-join pre-filter end-to-end: build a 2 KB filter over
    * the selective dim (customers in ASIA nations), probe every order
    * through the compiled [[org.apache.spark.sql.graft.BloomContains]]
    * projection — zero shuffle, zero row expansion, inside whole-stage
    * codegen — and emit the bloom verdict next to exact membership.
    * The bloom admits a superset (`might_contain >= is_member`
    * row-by-row, pinned by the hash compare); false positives at this
    * m/k over ~3k keys run a few percent — the price of dropping the
    * other ~80% of the fact before any exchange. */
  val q79BloomPrefilter: Q = (s, d) => {
    val nations = Tables(s, d, "nation")
      .join(Tables(s, d, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val dim = Tables(s, d, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val bitmap = Sketches.bloomBitmap(
      Sketches.bloomBits(dim, "c_custkey", BloomM, BloomK), BloomM)
    val probe = org.apache.spark.sql.graft.BloomContains(
      col("o_custkey"), bitmap, BloomK, BloomM)
    Tables(s, d, "orders")
      .join(broadcast(dim.withColumn("member", lit(1))),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"),
        probe.cast("int").as("might_contain"),
        coalesce(col("member"), lit(0)).as("is_member"))
      .orderBy("o_orderkey")
  }

  /** One-pass table profile over lineitem: per-column row/null counts,
    * exact distinct, and the HLL distinct estimate from keyed register
    * state — including a planted nullable column so the null
    * accounting is exercised. The estimate is oracle-stable because
    * the harmonic register sum is dyadic-exact (see
    * [[graft.operators.Profile]]). */
  val q82Profile: Q = (s, d) =>
    graft.operators.Profile.profile(Tables(s, d, "lineitem"), Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_suppkey" -> col("l_suppkey"),
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"),
        "ship_nullable" -> when(col("l_linenumber") === 1, lit(null))
          .otherwise(col("l_linestatus"))))
      .orderBy("column")

  private val HistLo = 0.0
  private val HistHi = 110000.0
  private val HistBins = 64

  /** One-pass mergeable histogram over l_extendedprice: the integer
    * counter table that answers distribution/quantile questions
    * without ever shuffling a row (vs q45's exact sort-based median).
    * Quantile interpolation from this table is driver-side
    * ([[graft.operators.Histogram.quantiles]], spec-covered). */
  val q83Histogram: Q = (s, d) =>
    graft.operators.Histogram.counts(Tables(s, d, "lineitem"),
        "l_extendedprice", HistLo, HistHi, HistBins)
      .orderBy("bin")

  private val ZBits = 6

  /** Z-order (Morton) curve key over (l_quantity, l_extendedprice):
    * the multi-dimensional clustering key — range-partitioning a table
    * on `z` co-locates rows close in BOTH dimensions, the layout
    * behind multi-dim data skipping. Pure integer arithmetic,
    * replayed bit-for-bit by the oracle. */
  val q84ZOrder: Q = (s, d) =>
    Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.ZOrder.zValue(Seq(
          (col("l_quantity"), 0.0, 64.0),
          (col("l_extendedprice"), HistLo, HistHi)), ZBits).as("z"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Hilbert-curve key over the SAME dims/quantization as q84 — the
    * locality-preserving layout upgrade: every consecutive Hilbert
    * index is a unit grid step, so query boxes cover in fewer
    * contiguous key runs than Morton (fewer files at 100 TB; see
    * [[graft.operators.Hilbert]]). Compiled integer quadrant walk,
    * replayed round-for-round by the oracle's CTE chain. */
  val q222Hilbert: Q = (s, d) =>
    Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Hilbert.hValue(
          (col("l_quantity"), 0.0, 64.0),
          (col("l_extendedprice"), HistLo, HistHi), ZBits).as("h"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Build-once state for q87 (the q31 index pattern): lineitem
    * Z-order-clustered on (ship time, price) and written with
    * file-level min/max stats, once per (JVM, sf dir) through
    * [[graft.operators.Materialize.buildOnce]]. */
  private[graft] object SkipTable {
    def getOrBuild(s: SparkSession, sfDir: String): String =
      graft.operators.Materialize.buildOnce("skip", sfDir) { path =>
        val clustered = graft.operators.ZOrder.cluster(Tables(s, sfDir, "lineitem"),
          Seq((unix_timestamp(col("l_shipdate")).cast("double"), 6.94224e8, 9.151488e8),
            (col("l_extendedprice"), HistLo, HistHi)),
          bits = 8, numPartitions = 32)
        graft.sources.DataSkipping.writeWithStats(clustered, path,
          Seq("l_shipdate", "l_extendedprice"))
      }._1
  }

  /** Data-skipping scan end-to-end: a revenue aggregate over a
    * shipdate×price window, read through [[graft.sources.DataSkipping]]
    * file-envelope pruning on the Z-ordered table — only files whose
    * (shipdate, price) envelopes intersect the window are opened, and
    * the residual filter makes pruning correctness-neutral, so the
    * oracle is the PLAIN filter+aggregate over lineitem. The pruning
    * itself is pinned in DataSkippingSpec/PlanAuditSpec. */
  val q87DataSkipping: Q = (s, d) => {
    import org.apache.spark.sql.types.DecimalType
    val path = SkipTable.getOrBuild(s, d)
    val pruned = graft.sources.DataSkipping.prunedRead(s, path, Seq(
      graft.sources.DataSkipping.ColRange("l_shipdate",
        lit("1995-03-01").cast("timestamp"), lit("1995-05-31").cast("timestamp")),
      graft.sources.DataSkipping.ColRange("l_extendedprice",
        lit(30000.0), lit(60000.0))))
    pruned.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  }

  private val KmvK = 256

  /** KMV set-operation cardinalities: how many customers ordered in
    * 1994, in 1995, in either, in BOTH — estimated from two ≤256-row
    * sketch states (union = bottom-k of the union, intersection via
    * bottom-k membership) next to the exact answers. The state is
    * hash-exact integers; estimates are single divisions of exact
    * integers, floor-stable. */
  val q85KmvSets: Q = (s, d) => {
    import graft.operators.{Materialize, Sketches}
    val orders = Tables(s, d, "orders")
    def keys(y: Int) = orders.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    // each state feeds an estimate, the union bottom-k, and the
    // membership count — computed once
    val a = Materialize.once(Sketches.kmvState(keys(1994), "o_custkey", KmvK))
    val b = Materialize.once(Sketches.kmvState(keys(1995), "o_custkey", KmvK))
    val u = Materialize.once(a.union(b).distinct().orderBy("h").limit(KmvK))
    val estA = Sketches.kmvEstimate(a, KmvK).withColumnRenamed("kmv_est", "est_1994")
    val estB = Sketches.kmvEstimate(b, KmvK).withColumnRenamed("kmv_est", "est_1995")
    val estU = Sketches.kmvEstimate(u, KmvK).withColumnRenamed("kmv_est", "est_union")
    val nu = u.agg(count(lit(1)).as("n_u"))
    val x = u.join(a, Seq("h"), "semi").join(b, Seq("h"), "semi")
      .agg(count(lit(1)).as("x"))
    val exactA = keys(1994).agg(countDistinct(col("o_custkey")).as("exact_1994"))
    val exactB = keys(1995).agg(countDistinct(col("o_custkey")).as("exact_1995"))
    val exactI = keys(1994).distinct()
      .join(keys(1995).distinct(), Seq("o_custkey"), "semi")
      .agg(count(lit(1)).as("exact_inter"))
    estA.crossJoin(estB).crossJoin(estU).crossJoin(nu).crossJoin(x)
      .crossJoin(exactA).crossJoin(exactB).crossJoin(exactI)
      .select(col("est_1994"), col("est_1995"), col("est_union"),
        floor(col("x").cast("double") * col("est_union").cast("double") /
          col("n_u").cast("double")).cast("long").as("est_inter"),
        col("exact_1994"), col("exact_1995"), col("exact_inter"))
  }

  val queries: Map[String, Q] = Map(
    "q87_data_skipping" -> q87DataSkipping,
    "q85_kmv_sets" -> q85KmvSets,
    "q84_zorder" -> q84ZOrder,
    "q222_hilbert" -> q222Hilbert,
    "q83_histogram" -> q83Histogram,
    "q82_profile" -> q82Profile,
    "q77_cms_freq" -> q77CmsFreq,
    "q225_cms_join_size" -> q225CmsJoinSize,
    "q78_hll_registers" -> q78HllRegisters,
    "q79_bloom_prefilter" -> q79BloomPrefilter,
  )

  /** DuckDB replay of the portable md5 hashing: h1/h2 are hex chars
    * 1-15 / 16-30 of one digest (60 bits each — fits BIGINT in both
    * engines). */
  val oracles: Map[String, String] = Map(
    // pruning is correctness-neutral (residual filter re-applied), so
    // the oracle is the plain filter+aggregate — identical rows prove
    // the skipping read dropped no file it needed
    "q87_data_skipping" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |  AND l_shipdate <= TIMESTAMP '1995-05-31'
        |  AND l_extendedprice >= 30000.0 AND l_extendedprice <= 60000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // AMS inner product of the two counter tables; min over rows is
    // the one-sided join-size bound, exact from the key-count join
    "q225_cms_join_size" -> {
      def hcte(name: String, src: String) =
        s"""$name AS (SELECT
           |  CAST(CAST(('0x' || substr(md5('cms:' || k), 1, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth AS h1,
           |  (CAST(CAST(('0x' || substr(md5('cms:' || k), 16, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth) | 1 AS h2
           |  FROM (SELECT CAST(l_suppkey AS VARCHAR) AS k FROM $src) t)""".stripMargin
      s"""WITH ${hcte("ha", "lineitem")},
         |${hcte("hb", "lineitem WHERE l_returnflag = 'R'")},
         |rr AS (SELECT unnest(range(0, $CmsDepth)) AS r),
         |sa AS (SELECT rr.r AS row, (h1 + rr.r * h2) % $CmsWidth AS bucket,
         |    count(*) AS cnt FROM ha CROSS JOIN rr GROUP BY 1, 2),
         |sb AS (SELECT rr.r AS row, (h1 + rr.r * h2) % $CmsWidth AS bucket,
         |    count(*) AS cnt FROM hb CROSS JOIN rr GROUP BY 1, 2),
         |pr0 AS (SELECT sa.row, CAST(sum(sa.cnt * sb.cnt) AS BIGINT) AS p
         |  FROM sa JOIN sb ON sa.row = sb.row AND sa.bucket = sb.bucket
         |  GROUP BY 1),
         |pr AS (SELECT rr.r AS row, CAST(coalesce(pr0.p, 0) AS BIGINT) AS inner_product
         |  FROM rr LEFT JOIN pr0 ON pr0.row = rr.r),
         |mn AS (SELECT CAST(min(inner_product) AS BIGINT) AS cms_join_est FROM pr),
         |ex AS (SELECT CAST(sum(a.c * b.c) AS BIGINT) AS exact_join_rows FROM
         |    (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1) a
         |  JOIN (SELECT l_suppkey, count(*) AS c FROM lineitem
         |        WHERE l_returnflag = 'R' GROUP BY 1) b USING (l_suppkey))
         |SELECT CAST(pr.row AS BIGINT) AS row, pr.inner_product,
         |  mn.cms_join_est, ex.exact_join_rows
         |FROM pr, mn, ex ORDER BY pr.row""".stripMargin
    },
    // counter table: bucket_r(k) = (h1%w + r*((h2%w)|1)) % w, all
    // nonnegative so % == pmod; estimate = min over rows, absent
    // counters are 0 (unseen key estimates 0)
    "q77_cms_freq" ->
      s"""WITH ks AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
         |h AS (SELECT k,
         |  CAST(CAST(('0x' || substr(md5('cms:' || k), 1, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth AS h1,
         |  (CAST(CAST(('0x' || substr(md5('cms:' || k), 16, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth) | 1 AS h2
         |  FROM ks),
         |sk AS (SELECT r.r AS row, (h1 + r.r * h2) % $CmsWidth AS bucket, count(*) AS cnt
         |  FROM h CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) r GROUP BY 1, 2),
         |pr AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS probe_key FROM customer),
         |ph AS (SELECT probe_key,
         |  CAST(CAST(('0x' || substr(md5('cms:' || probe_key), 1, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth AS h1,
         |  (CAST(CAST(('0x' || substr(md5('cms:' || probe_key), 16, 15)) AS UBIGINT) AS BIGINT) % $CmsWidth) | 1 AS h2
         |  FROM pr),
         |est AS (SELECT probe_key, min(coalesce(sk.cnt, 0)) AS cms_est
         |  FROM ph CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) r
         |  LEFT JOIN sk ON sk.row = r.r AND sk.bucket = (ph.h1 + r.r * ph.h2) % $CmsWidth
         |  GROUP BY probe_key),
         |ex AS (SELECT CAST(o_custkey AS VARCHAR) AS probe_key, count(*) AS exact_cnt
         |  FROM orders GROUP BY 1)
         |SELECT est.probe_key, CAST(est.cms_est AS BIGINT) AS cms_est,
         |  CAST(coalesce(ex.exact_cnt, 0) AS BIGINT) AS exact_cnt
         |FROM est LEFT JOIN ex USING (probe_key) ORDER BY probe_key""".stripMargin,
    // register = 1 + leading zeros of the 50-bit remainder
    //          = 51 - bit_length(rest); bin() has no leading zeros in
    // either engine, rest = 0 -> all 50 zeros -> register 51
    "q78_hll_registers" ->
      s"""WITH h AS (SELECT
         |  CAST(CAST(('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
         |  FROM orders),
         |r AS (SELECT h % ${1 << HllBits} AS bucket, h // ${1 << HllBits} AS rest FROM h)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(max(CASE WHEN rest = 0 THEN ${60 - HllBits + 1}
         |    ELSE ${60 - HllBits + 1} - length(bin(rest)) END) AS INTEGER) AS register
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    // KMV replay: bottom-k of the seeded portable hash per year;
    // est = (n-1)*2^32/h_k (or n exact when the state never filled)
    "q85_kmv_sets" -> {
      def hq(y: Int) =
        s"""SELECT DISTINCT ${TextQueries.hx(s"'99:' || CAST(o_custkey AS VARCHAR)")} AS h
           |  FROM orders WHERE year(o_orderdate) = $y ORDER BY h LIMIT $KmvK""".stripMargin
      def est(state: String, out: String) =
        s"""SELECT CASE WHEN count(*) < $KmvK THEN count(*)
           |  ELSE CAST(floor((CAST(count(*) - 1 AS DOUBLE) * 4294967296.0)
           |    / CAST(max(h) AS DOUBLE)) AS BIGINT) END AS $out FROM $state""".stripMargin
      s"""WITH a AS (${hq(1994)}),
         |b AS (${hq(1995)}),
         |u AS (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b)
         |  ORDER BY h LIMIT $KmvK),
         |ea AS (${est("a", "est_1994")}),
         |eb AS (${est("b", "est_1995")}),
         |eu AS (${est("u", "est_union")}),
         |nu AS (SELECT count(*) AS n_u FROM u),
         |x AS (SELECT count(*) AS x FROM u
         |  WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
         |xa AS (SELECT count(DISTINCT o_custkey) AS exact_1994 FROM orders
         |  WHERE year(o_orderdate) = 1994),
         |xb AS (SELECT count(DISTINCT o_custkey) AS exact_1995 FROM orders
         |  WHERE year(o_orderdate) = 1995),
         |xi AS (SELECT count(DISTINCT o_custkey) AS exact_inter FROM orders
         |  WHERE year(o_orderdate) = 1994 AND o_custkey IN
         |    (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995))
         |SELECT CAST(ea.est_1994 AS BIGINT) AS est_1994,
         |  CAST(eb.est_1995 AS BIGINT) AS est_1995,
         |  CAST(eu.est_union AS BIGINT) AS est_union,
         |  CAST(floor(CAST(x.x AS DOUBLE) * CAST(eu.est_union AS DOUBLE)
         |    / CAST(nu.n_u AS DOUBLE)) AS BIGINT) AS est_inter,
         |  CAST(xa.exact_1994 AS BIGINT) AS exact_1994,
         |  CAST(xb.exact_1995 AS BIGINT) AS exact_1995,
         |  CAST(xi.exact_inter AS BIGINT) AS exact_inter
         |FROM ea, eb, eu, nu, x, xa, xb, xi""".stripMargin
    },
    // bin = clamped floor((x-lo)/w), pure IEEE double + integers
    "q83_histogram" ->
      s"""SELECT least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE) - $HistLo)
         |    / ${(HistHi - HistLo) / HistBins}) AS BIGINT), 0), ${HistBins - 1}) AS bin,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM lineitem WHERE l_extendedprice IS NOT NULL
         |GROUP BY 1 ORDER BY bin""".stripMargin,
    // Hilbert replay: same quantize as q84, then the ZBits quadrant
    // rounds unrolled as a CTE chain (values, not expressions — no
    // expression blow-up)
    "q222_hilbert" -> {
      def quant(expr: String, lo: Double, hi: Double): String = {
        val cells = 1L << ZBits
        val w = (hi - lo) / cells
        s"least(greatest(CAST(floor((CAST($expr AS DOUBLE) - $lo) / $w) AS BIGINT), 0), ${cells - 1})"
      }
      val rows = s"SELECT l_orderkey, l_linenumber, " +
        s"${quant("l_quantity", 0.0, 64.0)} AS hx, " +
        s"${quant("l_extendedprice", HistLo, HistHi)} AS hy FROM lineitem"
      s"""WITH ${graft.operators.Hilbert.hilbertRoundCtes(rows,
            Seq("l_orderkey", "l_linenumber"), ZBits)}
         |SELECT l_orderkey, l_linenumber, d AS h
         |FROM h$ZBits ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // Morton interleave replay: bit b of dim i lands at 2^(b*d+i)
    "q84_zorder" -> {
      def dim(expr: String, lo: Double, hi: Double, i: Int): String = {
        val cells = 1L << ZBits
        val w = (hi - lo) / cells
        val q = s"least(greatest(CAST(floor((CAST($expr AS DOUBLE) - $lo) / $w) AS BIGINT), 0), ${cells - 1})"
        (0 until ZBits).map(b =>
          s"(($q // ${1L << b}) % 2) * ${1L << (b * 2 + i)}").mkString(" + ")
      }
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(${dim("l_quantity", 0.0, 64.0, 0)}
         |    + ${dim("l_extendedprice", HistLo, HistHi, 1)} AS BIGINT) AS z
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // per-column HLL replay: same "hll:" hash keyed by column name;
    // estimate = alpha·m²/Z with absent buckets contributing 2^0 = 1
    // each, small-range linear counting below 2.5·m
    "q82_profile" -> {
      val m = 1 << HllBits
      val am2 = s"0.7213 / (1.0 + 1.079 / $m) * $m * $m"
      s"""WITH st AS (
         |  SELECT 'l_orderkey' AS c, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
         |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
         |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
         |  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
         |  UNION ALL SELECT 'ship_nullable',
         |    CASE WHEN l_linenumber = 1 THEN NULL ELSE l_linestatus END FROM lineitem),
         |counts AS (SELECT c, count(*) AS n_rows, count(*) - count(v) AS n_nulls,
         |  count(DISTINCT v) AS exact_distinct FROM st GROUP BY c),
         |h AS (SELECT c,
         |  CAST(CAST(('0x' || substr(md5('hll:' || v), 1, 15)) AS UBIGINT) AS BIGINT) AS h
         |  FROM st WHERE v IS NOT NULL),
         |regs AS (SELECT c, h % $m AS bucket,
         |  max(CASE WHEN h // $m = 0 THEN ${60 - HllBits + 1}
         |    ELSE ${60 - HllBits + 1} - length(bin(h // $m)) END) AS r
         |  FROM h GROUP BY c, h % $m),
         |z AS (SELECT c, count(*) AS present, sum(pow(2.0, -r)) AS zsum
         |  FROM regs GROUP BY c),
         |est AS (SELECT c,
         |  CASE WHEN $am2 / (($m.0 - present) + zsum) <= ${2.5 * m}
         |        AND ($m - present) > 0
         |    THEN CAST(floor($m.0 * ln($m.0 / ($m - present))) AS BIGINT)
         |    ELSE CAST(floor($am2 / (($m.0 - present) + zsum)) AS BIGINT)
         |  END AS distinct_est FROM z)
         |SELECT counts.c AS "column", CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(n_nulls AS BIGINT) AS n_nulls,
         |  CAST(exact_distinct AS BIGINT) AS exact_distinct, est.distinct_est
         |FROM counts JOIN est USING (c) ORDER BY "column"""".stripMargin
    },
    // bloom replay: set-bit positions from the dim keys, then each
    // order's k positions all-present check (bool_and over LEFT JOIN)
    "q79_bloom_prefilter" ->
      s"""WITH dim AS (SELECT DISTINCT c_custkey FROM customer, nation, region
         |  WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |    AND r_name = 'ASIA'),
         |dh AS (SELECT
         |  CAST(CAST(('0x' || substr(md5('blm:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % $BloomM AS h1,
         |  (CAST(CAST(('0x' || substr(md5('blm:' || CAST(c_custkey AS VARCHAR)), 16, 15)) AS UBIGINT) AS BIGINT) % $BloomM) | 1 AS h2
         |  FROM dim),
         |bits AS (SELECT DISTINCT (h1 + i.i * h2) % $BloomM AS pos
         |  FROM dh CROSS JOIN (SELECT unnest(range(0, $BloomK)) AS i) i),
         |oh AS (SELECT o_orderkey, o_custkey,
         |  CAST(CAST(('0x' || substr(md5('blm:' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % $BloomM AS h1,
         |  (CAST(CAST(('0x' || substr(md5('blm:' || CAST(o_custkey AS VARCHAR)), 16, 15)) AS UBIGINT) AS BIGINT) % $BloomM) | 1 AS h2
         |  FROM orders),
         |probe AS (SELECT o_orderkey, o_custkey,
         |  bool_and(b.pos IS NOT NULL) AS hit
         |  FROM oh CROSS JOIN (SELECT unnest(range(0, $BloomK)) AS i) i
         |  LEFT JOIN bits b ON b.pos = (oh.h1 + i.i * oh.h2) % $BloomM
         |  GROUP BY o_orderkey, o_custkey)
         |SELECT o_orderkey, CAST(hit AS INTEGER) AS might_contain,
         |  CAST(o_custkey IN (SELECT c_custkey FROM dim) AS INTEGER) AS is_member
         |FROM probe ORDER BY o_orderkey""".stripMargin,
  )
}
