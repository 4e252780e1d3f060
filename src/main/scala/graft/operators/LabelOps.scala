package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label aggregation for multiply-annotated data — majority vote with
  * a deterministic tie-break and an exact agreement score. The
  * consolidation step of every weak-supervision / crowd-labeling
  * pipeline (and of noisy-source reconciliation generally): many
  * (item, label) observations in, one winning label per item out.
  *
  * Winner = most votes, ties to the LEXICALLY SMALLEST label — a
  * total order, so the result is partitioning- and engine-invariant.
  * agreement_ppm = (10⁶ · winner_votes) div total_votes, exact
  * integer.
  *
  * 100 TB shape: one map-side-combined shuffle to (item, label)
  * counts, then one shuffle to items, where the winner is a single
  * struct-min aggregate (votes negated so MIN orders by votes desc,
  * then label asc) — never a window sort over the vote table. Null
  * items and null labels are dropped (an abstention, not a vote).
  */
object LabelOps {

  /** @return (keyCol, label, votes, total_votes, n_labels,
    *         agreement_ppm) — one row per key, ordered by key */
  def majorityVote(df: DataFrame, keyCol: String, labelCol: String): DataFrame = {
    val counts = df
      .select(col(keyCol).as("__k"), col(labelCol).cast("string").as("__l"))
      .where(col("__k").isNotNull && col("__l").isNotNull)
      .groupBy("__k", "__l").agg(count(lit(1)).as("__votes"))
    counts
      .groupBy("__k")
      .agg(min(struct((-col("__votes")).as("nv"), col("__l").as("l")))
          .as("__w"),
        sum(col("__votes")).as("total_votes"),
        count(lit(1)).as("n_labels"))
      .select(col("__k").as(keyCol),
        col("__w.l").as("label"),
        (-col("__w.nv")).as("votes"),
        col("total_votes"), col("n_labels"),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * -__w.nv) div total_votes")
          .as("agreement_ppm"))
      .orderBy(keyCol)
  }

  /** One Dawid–Skene-flavoured EM round, integer-exact: score each
    * ANNOTATOR by agreement with the plain majority (reliability in
    * ppm), then re-vote with each annotation weighted by its
    * annotator's reliability. Catches the "three careless annotators
    * outvote one careful one" failure majority voting has; one round
    * (rather than EM-to-convergence) keeps the arithmetic exact and
    * the cost two fixed passes.
    *
    * Weighted winner = max Σ reliability_ppm, ties to the lexically
    * smallest label. reliability_ppm = (10⁶ · #votes that matched the
    * round-1 majority) div #votes — annotators who always dissent
    * weigh 0; the guaranteed-nonempty majority side keeps every item
    * decidable.
    *
    * 100 TB shape: round 1 is [[majorityVote]]'s two shuffles; the
    * reliability table is one aggregate on the annotator key,
    * broadcast back onto the vote table (annotator sets are dim-sized
    * by contract); the re-vote is the same two keyed aggregates with
    * weights in place of counts.
    *
    * @return (keyCol, label, weight_ppm, n_voters) per key, ordered
    */
  def reliabilityWeightedVote(df: DataFrame, keyCol: String,
                              annotatorCol: String, labelCol: String): DataFrame = {
    val votes = df
      .select(col(keyCol).as("__k"), col(annotatorCol).as("__a"),
        col(labelCol).cast("string").as("__l"))
      .where(col("__k").isNotNull && col("__a").isNotNull && col("__l").isNotNull)
      .transform(Materialize.once)
    val majority = majorityVote(votes, "__k", "__l")
      .select(col("__k"), col("label").as("__maj"))
    val reliability = votes
      .join(majority, Seq("__k"))
      .groupBy(col("__a"))
      .agg(expr("(CAST(1000000 AS DECIMAL(38,0)) * " +
        "sum(CASE WHEN __l = __maj THEN 1 ELSE 0 END)) div count(*)")
        .as("__rel"))
    votes.join(broadcast(reliability), Seq("__a"))
      .groupBy("__k", "__l")
      .agg(sum(col("__rel")).as("__w"), count(lit(1)).as("__nv"))
      .groupBy("__k")
      .agg(min(struct((-col("__w")).as("nw"), col("__l").as("l"))).as("__win"),
        sum(col("__nv")).as("n_voters"))
      .select(col("__k").as(keyCol), col("__win.l").as("label"),
        (-col("__win.nw")).as("weight_ppm"), col("n_voters"))
      .orderBy(keyCol)
  }

  /** Fleiss' kappa — CHANCE-CORRECTED inter-annotator agreement over
    * multiply-rated items, the go/no-go gate on a labeling campaign
    * ([[majorityVote]] tells you what won; kappa tells you whether the
    * raters agree more than coin-flipping would). Raw agreement is
    * inflated when one category dominates; kappa subtracts the
    * agreement a label-marginal-matching random rater achieves.
    *
    * Exact rational arithmetic on the standard statistic (Fleiss,
    * Psych. Bull. 1971): with N subjects, n ratings each, n_ij counts,
    * C_j category totals —
    *   A  = Σ_ij n_ij² − N·n          (observed pair-agreements)
    *   D1 = N·n·(n−1)                 (possible pair-agreements)
    *   B  = Σ_j C_j²,  T = (N·n)²     (chance mass)
    *   κ  = (A·T − D1·B) / (D1·T − D1·B)
    * all in DECIMAL(38,0); κ can be NEGATIVE (worse than chance), so
    * the ppm floor uses the sign-safe +K shift (K = 2·10⁶) that makes
    * Spark's truncating `div` agree with a flooring `//`. The
    * degenerate den = 0 case (every rating one category) yields NULL.
    *
    * Requires the same n ratings per subject (the statistic's own
    * precondition) — asserted with one control-plane scalar, failing
    * loud instead of returning a plausible-but-meaningless number.
    *
    * 100 TB shape: one (subject, label) count shuffle, a subject-keyed
    * and a label-keyed aggregate over the counts, then 1-row combines
    * — output is ONE row; nothing after the first aggregate is
    * data-sized.
    *
    * @return one row (n_subjects, n_raters, pbar_ppm, pe_ppm,
    *         kappa_ppm)
    */
  def fleissKappa(df: DataFrame, subjectCol: String, labelCol: String): DataFrame = {
    val cnt = df
      .select(col(subjectCol).as("__s"), col(labelCol).cast("string").as("__l"))
      .where(col("__s").isNotNull && col("__l").isNotNull)
      .groupBy("__s", "__l")
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("__n"))
      .transform(Materialize.once) // subject- and label-keyed aggs both read it
    val perSubject = cnt.groupBy("__s")
      .agg(sum(expr("__n * __n")).as("__sq"), sum(col("__n")).as("__nn"))
    // NS/NR, not N/n: Spark resolves identifiers case-insensitively
    val shape = perSubject.agg(
      count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("NS"),
      min(col("__nn")).as("__nmin"), max(col("__nn")).as("NR"),
      sum(col("__sq")).as("ssq"))
    val Seq(nMin, nMax) = shape.select(col("__nmin"), col("NR")).collect()
      .toSeq.flatMap(r => Seq(r.getDecimal(0), r.getDecimal(1)))
    require(nMin == nMax,
      s"fleissKappa needs the same rating count per subject; saw [$nMin, $nMax]")
    require(nMax.longValue >= 2,
      "fleissKappa needs >= 2 ratings per subject (pair agreement undefined at 1)")
    val catMass = cnt.groupBy("__l").agg(sum(col("__n")).as("__c"))
      .agg(sum(expr("__c * __c")).as("B"))
    shape.crossJoin(catMass)
      .select(
        expr("CAST(NS AS BIGINT)").as("n_subjects"),
        expr("CAST(NR AS BIGINT)").as("n_raters"),
        expr("ssq - NS * NR").as("A"), expr("NS * NR * (NR - 1)").as("D1"),
        col("B"), expr("(NS * NR) * (NS * NR)").as("T"))
      .select(col("n_subjects"), col("n_raters"),
        expr("CAST((A * 1000000) div D1 AS BIGINT)").as("pbar_ppm"),
        expr("CAST((B * 1000000) div T AS BIGINT)").as("pe_ppm"),
        expr("""CASE WHEN D1 * T - D1 * B = 0 THEN NULL ELSE CAST(
          ((A * T - D1 * B) * 1000000 + 2000000 * (D1 * T - D1 * B))
            div (D1 * T - D1 * B) - 2000000 AS BIGINT) END""").as("kappa_ppm"))
  }

  /** Krippendorff's α (nominal) — the agreement coefficient that,
    * unlike [[fleissKappa]], tolerates MISSING ratings: units keep
    * whatever raters they got, only units with ≥ 2 ratings are
    * pairable. Standard quantities (Krippendorff, Content Analysis):
    * per pairable unit u with m_u ratings and n_uc category counts,
    *   A_u = Σ_c n_uc·(m_u − n_uc)     (disagreeing ordered pairs)
    *   S   = Σ_u A_u/(m_u − 1)        (observed disagreement mass)
    *   D_e ∝ (n² − Σ_c n_c²)          (chance mass from margins)
    *   α   = 1 − (n−1)·S / (n² − Σ_c n_c²),  n = Σ_u m_u
    * The per-unit fraction S is the one non-integer — it
    * quantize-then-sums: d_u = (A_u·10⁶) div (m_u−1) floors BEFORE the
    * sum (the BM25/BLEU discipline), so Σ d_u is an exact integer on
    * every engine and α_ppm = 10⁶ − ((n−1)·Σd_u) div (10⁶-scaled
    * chance mass) is engine-exact. NULL when every rating is one
    * category (chance mass 0).
    *
    * 100 TB shape: one (unit, label) count shuffle, then unit-keyed
    * and label-keyed aggregates over the counts — nothing after the
    * first aggregate is data-sized; output is ONE row.
    *
    * @return one row (n_units — pairable — n_ratings, s_micro,
    *         chance_mass, alpha_ppm)
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        labelCol: String): DataFrame =
    krippendorffFromCounts(df
      .select(col(unitCol).as("__u"), col(labelCol).cast("string").as("__l"))
      .where(col("__u").isNotNull && col("__l").isNotNull)
      .groupBy("__u", "__l")
      .agg(count(lit(1)).as("__n")))

  /** [[krippendorffAlpha]] from the PRE-COUNTED sufficient statistic —
    * one row per (unit, label) with its rating count. */
  private def krippendorffFromCounts(cnt0: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cnt = cnt0
      .select(col("__u"), col("__l"), col("__n").cast(dec).as("__n"))
      .transform(Materialize.once) // unit- and label-keyed aggs read it
    val perUnit = cnt.groupBy("__u")
      .agg(sum(col("__n")).as("__m"), sum(expr("__n * __n")).as("__sq"))
      .filter(col("__m") >= 2) // pairable units only
      .transform(Materialize.once) // margins must see the same filter
    val sMass = perUnit.agg(
      count(lit(1)).cast(dec).as("n_units"),
      sum(col("__m")).as("n"),
      sum(expr("((__m * __m - __sq) * 1000000) div (__m - 1)")).as("s_micro"))
    // category margins over PAIRABLE units only (join back on __u)
    val catMass = cnt.join(perUnit.select("__u"), Seq("__u"), "left_semi")
      .groupBy("__l").agg(sum(col("__n")).as("__c"))
      .agg(sum(expr("__c * __c")).as("B"))
    sMass.crossJoin(catMass)
      .select(
        expr("CAST(n_units AS BIGINT)").as("n_units"),
        expr("CAST(n AS BIGINT)").as("n_ratings"),
        expr("CAST(s_micro AS BIGINT)").as("s_micro"),
        expr("CAST(n * n - B AS BIGINT)").as("chance_mass"),
        expr("""CASE WHEN n * n - B = 0 THEN NULL ELSE CAST(
          1000000 - ((n - 1) * s_micro) div (n * n - B)
          AS BIGINT) END""").as("alpha_ppm"))
  }

  /** DuckDB replay of [[krippendorffAlpha]] over `relSql` rows
    * (unit, label). */
  def krippendorffAlphaOracleSql(relSql: String): String =
    s"""WITH r AS MATERIALIZED ($relSql),
       |cnt AS MATERIALIZED (
       |  SELECT unit, label, CAST(count(*) AS HUGEINT) AS n
       |  FROM r WHERE unit IS NOT NULL AND label IS NOT NULL
       |  GROUP BY unit, label),
       |per AS MATERIALIZED (
       |  SELECT unit, sum(n) AS m, sum(n * n) AS sq
       |  FROM cnt GROUP BY unit HAVING sum(n) >= 2),
       |sm AS (SELECT CAST(count(*) AS HUGEINT) AS n_units,
       |    sum(m) AS n,
       |    sum(((m * m - sq) * 1000000) // (m - 1)) AS s_micro
       |  FROM per),
       |cat AS (SELECT sum(c * c) AS B FROM (
       |  SELECT sum(n) AS c FROM cnt
       |  WHERE unit IN (SELECT unit FROM per) GROUP BY label))
       |SELECT CAST(n_units AS BIGINT) AS n_units,
       |  CAST(n AS BIGINT) AS n_ratings,
       |  CAST(s_micro AS BIGINT) AS s_micro,
       |  CAST(n * n - B AS BIGINT) AS chance_mass,
       |  CASE WHEN n * n - B = 0 THEN NULL ELSE CAST(
       |    1000000 - ((n - 1) * s_micro) // (n * n - B) AS BIGINT) END
       |    AS alpha_ppm
       |FROM sm, cat""".stripMargin

  /** DuckDB replay of [[fleissKappa]] over `relSql` rows
    * (subject, label). */
  def fleissKappaOracleSql(relSql: String): String =
    s"""WITH r AS MATERIALIZED ($relSql),
       |cnt AS MATERIALIZED (
       |  SELECT subject, label, CAST(count(*) AS HUGEINT) AS n
       |  FROM r WHERE subject IS NOT NULL AND label IS NOT NULL
       |  GROUP BY subject, label),
       |per AS (SELECT subject, sum(n * n) AS sq, sum(n) AS nn
       |        FROM cnt GROUP BY subject),
       |shape AS (SELECT CAST(count(*) AS HUGEINT) AS NS, max(nn) AS NR,
       |                 sum(sq) AS ssq FROM per),
       |cat AS (SELECT sum(c * c) AS B FROM (
       |        SELECT sum(n) AS c FROM cnt GROUP BY label)),
       |parts AS (SELECT CAST(NS AS BIGINT) AS n_subjects,
       |  CAST(NR AS BIGINT) AS n_raters,
       |  ssq - NS * NR AS A, NS * NR * (NR - 1) AS D1, B,
       |  (NS * NR) * (NS * NR) AS T FROM shape, cat)
       |SELECT n_subjects, n_raters,
       |  CAST((A * 1000000) // D1 AS BIGINT) AS pbar_ppm,
       |  CAST((B * 1000000) // T AS BIGINT) AS pe_ppm,
       |  CASE WHEN D1 * T - D1 * B = 0 THEN NULL ELSE CAST(
       |    ((A * T - D1 * B) * 1000000 + 2000000 * (D1 * T - D1 * B))
       |      // (D1 * T - D1 * B) - 2000000 AS BIGINT) END AS kappa_ppm
       |FROM parts""".stripMargin
}
