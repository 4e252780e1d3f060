package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency / cardinality sketches with PORTABLE hashing.
  *
  * At 100 TB the exact answer to "how often does key k appear" or "how
  * many distinct keys are there" costs a full shuffle on the key; the
  * sketch answer costs one map-side-combined aggregation into a few KB
  * of counters that merge associatively across partitions, days, and
  * clusters. Spark ships approx sketches (`approx_count_distinct`,
  * `count_min_sketch`) but their state depends on engine-internal
  * hashing (xxHash/Murmur) — useless for a cross-engine contract. These
  * sketches hash with the md5-derived portable hash, so the EXACT
  * counter/register table is reproducible anywhere (any partitioning,
  * any engine) and the DuckDB oracle replays it bit-for-bit (q77/q78).
  *
  * Reference behavior: the reference has no sketches — its audits are
  * exact Postgres counts (vivek-neenopal/shopify-etl merge jobs);
  * these are the scale path for the same audit numbers.
  *
  * Both builds are plain `groupBy` aggregations: partial aggregation
  * (map-side combine) happens automatically, so the shuffle carries at
  * most `depth·width` (CMS) or `2^b` (HLL) rows per upstream partition
  * — the sketch property, expressed declaratively instead of via a
  * custom accumulator.
  */
object Sketches {

  /** Two independent 60-bit hashes from ONE md5 pass (hex chars 1-15
    * and 16-30): the Kirsch–Mitzenmacher base pair. One digest per
    * element regardless of sketch depth — at scale, hashing is the
    * whole map-side cost. */
  private def h12(key: Column, prefix: String): (Column, Column) = {
    val hex = md5(concat(lit(prefix), key))
    (conv(substring(hex, 1, 15), 16, 10).cast("long"),
      conv(substring(hex, 16, 15), 16, 10).cast("long"))
  }

  /** Bucket of `key` on hash row i: (h1 + i·h2) mod width, with both
    * terms pre-reduced mod width so the arithmetic never overflows.
    * h2 is forced odd so that for power-of-two widths the per-row
    * offsets cycle through distinct buckets. Shared by build and probe
    * so the two can never drift. */
  private def cmsBucket(key: Column, row: Column, width: Int): Column = {
    val (h1, h2) = h12(key, "cms:")
    pmod(pmod(h1, lit(width.toLong)) +
      row.cast("long") * (pmod(h2, lit(width.toLong)).bitwiseOR(lit(1L))),
      lit(width.toLong))
  }

  /** Count-min sketch over a key column: `depth` hash rows of `width`
    * counters. Returns the counter table (row, bucket, cnt) —
    * `depth·width` rows max, small enough to broadcast, mergeable with
    * a further groupBy-sum. */
  def countMin(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth>=1, width>=2 (got $depth x $width)")
    df.select(col(keyCol).cast("string").as("k"))
      .select(col("k"), explode(lit((0 until depth).toArray)).as("row"))
      .select(col("row").cast("long").as("row"),
        cmsBucket(col("k"), col("row"), width).as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate the frequency of each probe key against a built
    * sketch: est(k) = min over rows of counter[row][bucket_row(k)] —
    * the classic CMS upper bound (est >= true count, never under).
    * The sketch side is broadcast (at most depth·width rows by
    * construction); missing counters are zero, so an unseen key
    * estimates 0. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    probes
      .select(col(keyCol).cast("string").as("probe_key"))
      .distinct()
      .select(col("probe_key"), explode(lit((0 until depth).toArray)).as("row"))
      .select(col("probe_key"), col("row").cast("long").as("row"),
        cmsBucket(col("probe_key"), col("row"), width).as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy("probe_key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Equi-join cardinality estimate from two count-min sketches — the
    * AMS-style inner product (Alon–Matias–Szegedy '96; CM-sketch form
    * in Cormode & Muthukrishnan '05): |A ⋈ B| = Σ_k f_A(k)·f_B(k), and
    * the per-row counter inner product Σ_b cmsA[r][b]·cmsB[r][b] is an
    * OVERESTIMATE of it (collisions only add), so min over rows gives
    * the classic one-sided bound — the planner-style join-size probe
    * that costs two counter tables instead of the join.
    *
    * 100 TB shape: each side folds to ≤ depth·width counters with
    * map-side partial aggregation; the product/min run on those tiny
    * tables (broadcast join, scalar agg). Nothing data-sized moves.
    *
    * @return one row per hash row: (row, inner_product, cms_join_est)
    *         with the min-estimate repeated (exact integers). */
  def cmsJoinEstimate(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                      depth: Int, width: Int): DataFrame = {
    val sa = countMin(a, aKey, depth, width)
    val sb = countMin(b, bKey, depth, width)
      .withColumnRenamed("cnt", "cnt_b")
    val overlap = sa.join(broadcast(sb), Seq("row", "bucket"))
      .groupBy("row")
      .agg(sum(col("cnt") * col("cnt_b")).as("p"))
    // complete row spine: a hash row whose buckets never overlap has
    // inner product 0 (and correctly drives the min-bound to 0)
    val spine = a.sparkSession.range(depth.toLong)
      .select(col("id").as("row"))
    val prod = spine.join(broadcast(overlap), Seq("row"), "left")
      .select(col("row"), coalesce(col("p"), lit(0L)).as("inner_product"))
    prod.crossJoin(broadcast(
      prod.agg(min("inner_product").as("cms_join_est"))))
  }

  /** HyperLogLog register table over a key column with `2^b` buckets:
    * (bucket, register) where register = 1 + leading-zero count of the
    * hash remainder — the full mergeable HLL state (merge = max per
    * bucket), NOT a float estimate.
    *
    * The hash is the first 15 md5 hex chars = 60 uniform bits (fits a
    * positive BIGINT in both engines); b bits select the bucket and the
    * remaining 60-b drive the register. Registers are INTEGERS, so the
    * state compares hash-exact across engines; the (float) cardinality
    * estimate is computed from the registers driver-side
    * ([[hllEstimate]]) where cross-engine float determinism no longer
    * matters. Buckets that saw no key are absent (the estimate treats
    * them as register 0). */
  def hllRegisters(df: DataFrame, keyCol: String, b: Int): DataFrame =
    df.select(hllBucket(col(keyCol), b).as("bucket"),
        hllRegister(col(keyCol), b).as("register"))
      .groupBy("bucket").agg(max("register").as("register"))

  /** The (bucket, register) pair for one key — exposed so callers that
    * group registers by an extra key (e.g. [[Profile]]'s per-column
    * profiling) share the exact hash contract with [[hllRegisters]]
    * and its oracles. */
  private[operators] def hllBucket(key: Column, b: Int): Column = {
    require(b >= 2 && b <= 16, s"bucket bits out of range: $b")
    pmod(hllHash(key), lit(1L << b))
  }

  private[operators] def hllRegister(key: Column, b: Int): Column = {
    require(b >= 2 && b <= 16, s"bucket bits out of range: $b")
    val restBits = 60 - b
    // bit_length(rest) = length(bin(rest)) for rest > 0 (no leading
    // zeros in either engine's bin); rest = 0 -> all restBits zeros
    val rest = floor(hllHash(key) / lit(1L << b)).cast("long")
    when(rest === 0L, lit(restBits + 1))
      .otherwise(lit(restBits + 1) - length(bin(rest)))
      .cast("int")
  }

  private def hllHash(key: Column): Column =
    conv(substring(md5(concat(lit("hll:"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Sliding-window distinct estimates from DAILY HLL register state:
    * the "7-day active users" family without ever re-scanning the
    * window. One pass over the data builds per-(day, bucket) registers
    * (the only data-sized shuffle, map-side combined); the rolling
    * merge is a range-window MAX over the register table — whose size
    * is days × 2^b, CONTROL-PLANE scale regardless of corpus bytes —
    * and the estimate is [[Profile]]'s dyadic-exact formula, so the
    * result is a pure integer function of the register state
    * (hash-reproducible in the DuckDB oracle).
    *
    * The window is calendar-based: `day` is an epoch-day LONG and the
    * RANGE frame spans `windowDays - 1` preceding day VALUES, so gaps
    * in the data cannot stretch the window. Output rows exist for the
    * days present in `df` (a day with zero events has no row — emit a
    * date spine upstream if every calendar day must appear).
    *
    * @return (day, distinct_est) ordered by day
    */
  def slidingDistinct(df: DataFrame, dayCol: String, keyCol: String,
                      b: Int, windowDays: Int): DataFrame = {
    val days = df.select(col(dayCol).cast("long").as("day"))
      .where(col("day").isNotNull).distinct()
    slidingFromRegisters(dailyRegisters(df, dayCol, keyCol, b), days,
      b, windowDays)
  }

  /** The per-(day, bucket) register state behind [[slidingDistinct]]:
    * mergeable by MAX on (day, bucket). */
  private def dailyRegisters(df: DataFrame, dayCol: String,
                             keyCol: String, b: Int): DataFrame =
    df.select(col(dayCol).cast("long").as("day"),
        hllBucket(col(keyCol), b).as("bucket"),
        hllRegister(col(keyCol), b).as("r"))
      .where(col("day").isNotNull && col("bucket").isNotNull)
      .groupBy("day", "bucket").agg(max(col("r")).as("r"))

  /** Sliding estimates from a (day, bucket, r) register table; `days`
    * is the output spine (one row per day to answer for). Registers on
    * days outside the spine still feed the windows of spine days in
    * range (the roll runs over the union of days, then projects onto
    * the spine). */
  private def slidingFromRegisters(daily: DataFrame, days: DataFrame,
                                   b: Int, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val m = 1 << b
    val spine = days.select(col("day")).union(daily.select(col("day")))
      .distinct()
      .select(col("day"), explode(sequence(lit(0L), lit((m - 1).toLong))).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    spine.join(daily, Seq("day", "bucket"), "left")
      .na.fill(0L, Seq("r"))
      .withColumn("rw", max(col("r")).over(w))
      .groupBy("day")
      .agg(sum(when(col("rw") > 0, 1L).otherwise(0L)).as("present"),
        sum(when(col("rw") > 0, pow(lit(2.0), -col("rw")))).as("zsum"))
      .select(col("day"),
        Profile.estimate(m, col("present"), coalesce(col("zsum"), lit(0.0)))
          .as("distinct_est"))
      .join(days.select(col("day")).distinct(), Seq("day"), "left_semi")
      .orderBy("day")
  }

  /** Bloom filter state over a key column: the DISTINCT set-bit
    * positions for `k` Kirsch–Mitzenmacher hash functions over an
    * `m`-bit filter — at most `min(k·n, m)` rows, mergeable by plain
    * union-distinct across batches/days/clusters. Positions share the
    * formula (and the "blm:" md5 prefix) with the compiled probe
    * ([[org.apache.spark.sql.graft.BloomContains]]) and the DuckDB
    * oracle, so the three can never drift. */
  def bloomBits(df: DataFrame, keyCol: String, m: Int, k: Int): DataFrame = {
    require(k >= 1 && m >= 64 && m % 64 == 0, s"need k>=1, m>=64 divisible by 64 (got k=$k m=$m)")
    val (h1, h2) = h12(col("k"), "blm:")
    df.select(col(keyCol).cast("string").as("k"))
      .select(pmod(h1, lit(m.toLong)).as("h1"),
        pmod(h2, lit(m.toLong)).bitwiseOR(lit(1L)).as("h2"))
      .select(explode(lit((0 until k).toArray)).as("i"), col("h1"), col("h2"))
      .select(pmod(col("h1") + col("i").cast("long") * col("h2"), lit(m.toLong)).as("pos"))
      .distinct()
  }

  /** Collect a [[bloomBits]] position table into the packed bitmap the
    * compiled probe expression carries. Driver-side by design: the
    * whole point of the filter is that its state is small enough to
    * broadcast (m/8 bytes — 2 KB at m=16384), so the collect is
    * control-plane, not data-plane. */
  def bloomBitmap(bits: DataFrame, m: Int): Array[Long] = {
    require(m >= 64 && m % 64 == 0 && m <= (1 << 27),
      s"bitmap out of range: m=$m (max 2^27 = 16 MB)")
    val arr = new Array[Long](m / 64)
    bits.select(col("pos").cast("long")).collect().foreach { r =>
      val pos = r.getLong(0).toInt
      arr(pos >>> 6) |= 1L << (pos & 63)
    }
    arr
  }

  /** KMV (k-minimum-values / theta) sketch state: the k smallest
    * distinct portable-hash values of the key set. Unlike HLL it
    * supports SET OPERATIONS: union = bottom-k of the unioned states,
    * and intersection estimates fall out of bottom-k membership — the
    * sketch you reach for when the question is "how many keys do these
    * two 100 TB tables share" and an exact distinct-join is off the
    * table. State is ≤ k integer rows (`TakeOrdered`, never a full
    * sort), mergeable, and hash-exact cross-engine. */
  def kmvState(df: DataFrame, keyCol: String, k: Int, seed: Int = 99): DataFrame = {
    require(k >= 2, s"need k>=2 (got $k)")
    df.select(graft.functions.TextFunctions
        .portableHash(col(keyCol).cast("string"), seed).as("h"))
      .distinct().orderBy("h").limit(k)
  }

  /** Distinct estimate from a KMV state: with n = state rows and
    * h_k = the largest retained hash, est = (n−1)·2³²/h_k — unless the
    * state never filled (n < k), in which case it IS the distinct set.
    * One integer division of exact integers, floor-stable. */
  def kmvEstimate(state: DataFrame, k: Int): DataFrame =
    state.agg(count(lit(1)).as("n"), max("h").as("hk"))
      .select(when(col("n") < k, col("n"))
        .otherwise(floor((col("n") - 1).cast("double") * lit(4294967296.0) /
          col("hk").cast("double")).cast("long"))
        .as("kmv_est"))

  /** Standard HLL estimate from a register table (driver-side: the
    * register table is at most 2^b rows), with the small-range
    * linear-counting correction. */
  def hllEstimate(registers: Array[(Long, Int)], b: Int): Double = {
    val m = 1 << b
    val regs = Array.fill(m)(0)
    registers.foreach { case (bucket, r) => regs(bucket.toInt) = r }
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    val z = 1.0 / regs.map(r => math.pow(2.0, -r)).sum
    val raw = alpha * m * m * z
    val zeros = regs.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }
}
