package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.portableHash

/** Deterministic sampling, splitting and corpus mixing for reproducible
  * training datasets.
  *
  * `sample(fraction)`/`randomSplit` draw from a per-task RNG, so the
  * selected ROWS change with partitioning, retries, and cluster size —
  * acceptable for statistics, fatal for "train on exactly this 30%,
  * hold out exactly that 10%, forever". These operators decide
  * membership from the md5-portable hash of (seed, id) instead: a pure
  * per-row projection (no shuffle, no RNG state), the same rows on any
  * cluster, any partition count, any engine — and therefore
  * oracle-checkable in DuckDB (q51).
  *
  * The hash is uniform on [0, 2³²), so `fraction` is honored in
  * expectation with binomial concentration (±O(1/√n) realized), the
  * same contract as Bernoulli sampling.
  */
object Sampling {

  private val Bound = 4294967296L // 2^32: portableHash range

  /** Uniform [0, 1) decision value for a row: h32(seed:id) / 2³². */
  private def decision(idCol: Column, seed: Int): Column =
    portableHash(idCol.cast("string"), seed).cast("double") / lit(Bound.toDouble)

  /** Keep exactly the rows whose decision value < fraction —
    * deterministic in (seed, id), independent of everything else.
    * NULL ids have no decision value and are dropped (same as
    * [[assignSplit]], which labels them null). */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          seed: Int = 0): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction=$fraction out of [0,1]")
    df.filter(decision(col(idCol), seed) < fraction)
  }

  /** EXACT 2³²-scaled cumulative cut points for [[assignSplit]]:
    * `thr_i = ⌊2³² · (w₁+…+wᵢ) / (w₁+…+w_n)⌋`, folded in BigDecimal
    * over the weights' exact binary values — no intermediate float
    * rounding, so ANY weight vector (1/3,1/3,1/3 included) yields one
    * well-defined integer threshold per split, the same on every
    * engine. The last threshold is 2³² by construction, so every hash
    * value lands in exactly one range. Public because external
    * replicas (the DuckDB oracles) must be generated from these exact
    * integers rather than re-deriving float cuts that can sit one ulp
    * away. */
  def assignSplitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "need positive split weights")
    import java.math.{BigDecimal => JBD, RoundingMode}
    val exact = splits.map { case (n, w) => (n, new JBD(w)) } // exact binary value
    val total = exact.map(_._2).reduce(_.add(_))
    var acc = JBD.ZERO
    exact.map { case (name, w) =>
      acc = acc.add(w) // BigDecimal add is exact — no float fold
      name -> acc.multiply(new JBD(Bound))
        .divide(total, 0, RoundingMode.FLOOR).longValueExact()
    }
  }

  /** The [[assignSplitThresholds]] decision as a SQL CASE over a hash
    * expression — how oracle SQL embeds the SAME integer thresholds as
    * the Spark plan (generated, so the two can never drift). */
  def assignSplitCaseSql(hashSql: String, splits: Seq[(String, Double)]): String = {
    val th = assignSplitThresholds(splits)
    th.init.map { case (n, t) => s"WHEN $hashSql < $t THEN '$n'" }
      .mkString("CASE ", " ", s" ELSE '${th.last._1}' END")
  }

  /** Assign every row a split label by carving the hash range [0, 2³²)
    * into cumulative weight ranges — the reproducible train/val/test
    * split. Weights need not sum to 1; they are normalized. NULL ids
    * get a NULL label (not a silent assignment to the last split —
    * polluting the holdout set with every unkeyed row would be
    * invisible).
    *
    * Cut points are the exact integers of [[assignSplitThresholds]]
    * and the decision is `h32(seed:id) < thr` — pure integer compares,
    * so the label set is bit-identical across engines, partitionings
    * and reruns for ANY weights, adversarial thirds included (the old
    * float-fold cuts were only portable for short decimal weights). */
  def assignSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                  seed: Int = 0): DataFrame = {
    val thresholds = assignSplitThresholds(splits)
    val h = portableHash(col(idCol).cast("string"), seed)
    val label = thresholds.init.foldRight(lit(thresholds.last._1): Column) {
      case ((name, thr), rest) => when(h < thr, lit(name)).otherwise(rest)
    }
    df.withColumn("split",
      when(col(idCol).isNull, lit(null).cast("string")).otherwise(label))
  }

  /** Leakage-safe GROUP holdout: [[assignSplit]] keyed on the group
    * column, so every row of a group (author, domain, session,
    * near-dup cluster id) lands in the SAME split — the split
    * discipline that keeps eval honest when rows within a group are
    * correlated (a per-row split leaks every multi-document author
    * across the train/test boundary and inflates eval). Same exact
    * thresholds, same hash, same portability contract; still a
    * shuffle-free projection (the hash is computed per row from the
    * group key — no group table, no join). */
  def groupHoldout(df: DataFrame, groupCol: String,
                   splits: Seq[(String, Double)], seed: Int = 0): DataFrame =
    assignSplit(df, groupCol, splits, seed)

  /** Stratified deterministic sampling: per-stratum keep fractions over
    * the same hash decision as [[deterministicSample]] — "50% of en,
    * all of de, none of the rest" in one shuffle-free pass. Strata
    * absent from `fractions` fall back to `defaultFraction`. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0, seed: Int = 0): DataFrame = {
    require((fractions.values.toSeq :+ defaultFraction)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val frac = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultFraction)) { case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
      }
    df.filter(decision(col(idCol), seed) < frac)
  }

  /** Deterministic token-budget fill: within each stratum, walk rows in
    * (seed, id)-hash order and keep them while the stratum's running
    * token total stays within `budgetPerStratum` — the "fill 10B
    * tokens from this mix" step, reproducible on any cluster because
    * the walk order is a pure hash, not arrival order. One window per
    * stratum (state = one running sum per partition key); at extreme
    * per-stratum cardinality pre-aggregate or sub-stratify first. */
  def fillTokenBudget(df: DataFrame, idCol: String, stratumCol: String,
                      tokenCol: String, budgetPerStratum: Long,
                      seed: Int = 0): DataFrame = {
    require(budgetPerStratum > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(portableHash(col(idCol).cast("string"), seed), col(idCol))
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") <= budgetPerStratum)
      .drop("__cum")
  }

  /** Exact integer square root (floor). For n < 2⁵², equals
    * `floor(sqrt(CAST(n AS DOUBLE)))` in any engine with a correctly
    * rounded IEEE sqrt — the rounded value of a non-square's root
    * stays strictly below the next integer at these magnitudes — so
    * oracles can replicate it portably. */
  private[operators] def isqrt(n: Long): Long = {
    require(n >= 0, "isqrt of a negative")
    var x = math.sqrt(n.toDouble).toLong
    while (x > 0 && x * x > n) x -= 1
    while ((x + 1) * (x + 1) <= n) x += 1
    x
  }

  /** Temperature-flattened resampling across strata (T = 2, i.e.
    * √-scaled weights — the common "flatten the language distribution"
    * setting): stratum `s` with `size_s` rows receives a keep-quota
    * proportional to `isqrt(size_s)`, so dominant strata downsample
    * hard while rare strata keep (nearly) everything, within a total
    * budget of `sizeTotal · budgetNum / budgetDen` rows.
    *
    * Everything is integer arithmetic — isqrt weights, floor-division
    * quotas, a 2³²-scaled hash threshold per stratum — so the KEPT ROW
    * SET is bit-identical across engines, partitionings and reruns
    * (q98's DuckDB oracle replays it exactly). General temperatures
    * need float `pow`, whose last-ulp behavior is not portable; √ is
    * IEEE-exact, which is why T = 2 is the deterministic offering.
    *
    * Scale shape: stratum sizes are one aggregate (rows = #strata —
    * control-plane sized, collected to the driver to compute exact
    * BigInt thresholds); the corpus-side decision is a pure projection
    * (when-chain threshold + hash compare), no join, no shuffle — up
    * to `joinCutoff` strata. Past the cutoff the when-chain's
    * O(#strata) comparisons per row stop being free (a 10⁵-stratum
    * domain mix would evaluate 10⁵ string equalities per row), so the
    * thresholds ship as a BROADCAST-JOINED literal table instead: one
    * hash probe per row, still no corpus shuffle, identical kept set.
    * Rows with a NULL stratum or NULL id are dropped either way.
    */
  def temperatureResample(df: DataFrame, idCol: String, stratumCol: String,
                          budgetNum: Long = 1, budgetDen: Long = 2,
                          seed: Int = 0, joinCutoff: Int = 256): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget fraction must be positive")
    val TwoPow32 = BigInt(1) << 32
    val stats = df
      .filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("s"))
      .agg(count(lit(1)).as("sz"))
      .collect().map(r => (r.getString(0), r.getLong(1))) // one row per stratum
    if (stats.isEmpty) return df.limit(0)
    val totalRows = stats.map(_._2).sum
    val totalWeight = stats.map { case (_, sz) => isqrt(sz) }.sum
    val budget = BigInt(totalRows) * budgetNum / budgetDen
    val thresholds = stats.map { case (s, sz) =>
      val quota = budget * isqrt(sz) / totalWeight
      s -> (TwoPow32 min (quota * TwoPow32 / sz)).toLong
    }
    val h = portableHash(col(idCol).cast("string"), seed)
    if (thresholds.length <= joinCutoff) {
      val thrCol = thresholds.sortBy(_._1).foldLeft(lit(0L)) {
        case (acc, (s, thr)) =>
          when(col(stratumCol).cast("string") === s, lit(thr)).otherwise(acc)
      }
      df.filter(col(idCol).isNotNull && h < thrCol)
    } else {
      import df.sparkSession.implicits._
      val thrDf = broadcast(thresholds.toSeq.toDF("__s", "__thr"))
      df.join(thrDf, df(stratumCol).cast("string") === thrDf("__s"))
        .filter(col(idCol).isNotNull && h < col("__thr"))
        .drop("__s", "__thr")
    }
  }

  /** EXACTLY `k` rows per stratum (fewer if the stratum is smaller),
    * chosen by hash priority — deterministic bounded-size sampling,
    * where the rate-based samplers above give binomial sizes. The
    * selection is a priority sample: keep the k smallest
    * `h(seed, id)` per stratum, which is uniform over k-subsets and
    * reproducible anywhere. Runs on the bounded-heap
    * [[ScaleOps.topKPerKey]] operator — partial top-k before the key
    * shuffle, so the Exchange carries `partitions × strata × k` rows,
    * not the corpus. */
  def exactStratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                            k: Int, seed: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    ScaleOps.topKPerKey(
      df.filter(col(idCol).isNotNull),
      Seq(stratumCol),
      Seq(portableHash(col(idCol).cast("string"), seed).asc, col(idCol).asc), k)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis 2006,
    * scheme A-ES): every row gets priority `ln(u)/w` with
    * `u = (h(seed,id)+1)/2³² ∈ (0,1]` a pure hash — the k LARGEST
    * priorities are exactly a weight-proportional without-replacement
    * draw (ln is monotone, so this ranks identically to the paper's
    * `u^(1/w)` keys without `pow`'s cross-libm drift). No RNG state:
    * the same rows win on any partitioning, retry, or engine, so the
    * draw is oracle-checkable.
    *
    * 100 TB shape: priority is a per-row projection; global top-k is
    * `orderBy.limit` → TakeOrderedAndProject (per-partition heaps +
    * driver merge, never a full sort). The rank window after the limit
    * touches k rows only.
    *
    * @return (rank, idCol, weight, pri_q) — the sample in draw order,
    *         pri_q = floor(10⁹·priority) for the exactness compare
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = (portableHash(col(idCol).cast("string"), seed) + lit(1.0)) /
      lit(4294967296.0)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__pri", log(u) / col(weightCol))
      .orderBy(col("__pri").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__pri").desc, col(idCol))))
      .select(col("rank"), col(idCol), col(weightCol).as("weight"),
        floor(col("__pri") * lit(1e9)).cast("long").as("pri_q"))
  }

  /** Deterministic epoch shuffle: the training-order permutation as a
    * PURE FUNCTION of (seed, id) — shard = h % nShards, position
    * within shard by (h, id). The order is uniform-random in
    * distribution yet reproducible on any cluster/partitioning (no
    * RNG, no global sort: one key shuffle + shard-local sorts that
    * parallelize across shards). A new seed is a fresh independent
    * epoch; writers consume (shard, pos) to lay files out in training
    * order.
    *
    * @return input columns ++ (shard, pos) — pos is 1-based within shard
    */
  def epochShuffle(df: DataFrame, idCol: String, nShards: Int,
                   seed: Int = 0): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    val h = portableHash(col(idCol).cast("string"), seed)
    df.withColumn("__h", h)
      .withColumn("shard", (col("__h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))))
      .drop("__h")
  }

  /** Mix corpora with per-source sampling rates, tagging provenance:
    * the reproducible "40% of web, all of books" dataset-mixing step.
    * Columns are unioned by name (sources must share a schema). Each
    * source draws with its own seed (derived from the source name), so
    * corpora sharing an id scheme get INDEPENDENT samples — one shared
    * hash would select id-identical subsets from every source. */
  def mixCorpora(sources: Seq[(String, DataFrame, Double)], idCol: String,
                 seed: Int = 0): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    require(sources.map(_._1).distinct.size == sources.size,
      "source names must be unique (they derive the per-source seed)")
    sources.map { case (name, df, fraction) =>
      // String.hashCode is specified (31-polynomial) → stable everywhere
      deterministicSample(df, idCol, fraction, seed ^ name.hashCode)
        .withColumn("source_corpus", lit(name))
    }.reduce(_.unionByName(_))
  }
}
