package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph scoring (PageRank) with DETERMINISTIC fixed-point
  * arithmetic, so the result is bit-identical across engines,
  * partitionings, and re-runs.
  *
  * Floating-point PageRank sums per-node contributions in shuffle
  * arrival order — the ranks drift in the low bits between runs, which
  * breaks both the cross-engine oracle and any downstream exact dedup
  * on rank. Here ranks are scaled longs (`SCALE = 1e9`) and every
  * operation is integer: contribution = `rank div out_degree`, damping
  * = `(85 * sum) div 100`. Long addition is associative and
  * commutative, so the groupBy sum is order-independent — the oracle
  * (q93) replays the identical arithmetic in SQL and hash-matches.
  * The mass lost to floor division (< out_degree per node per round)
  * is a deliberate, documented bias of ~1e-9 per rank unit — noise for
  * ranking purposes, determinism for engineering purposes.
  *
  * Scale shape per iteration: one hash join of ranks onto edges and
  * one aggregation on `dst`. Small graphs broadcast the rank frame
  * (shuffle-free join); big graphs pre-bucket the edge table by `src`
  * once, so every round's join moves ONLY the node-sized rank side —
  * the edge table never re-shuffles. Rank state is one long per node. Rounds are
  * checkpointed so the plan does not grow with iteration count —
  * lineage-safe via [[Materialize.once]]'s persist fallback.
  *
  * EAGER: [[pageRank]] runs Spark jobs at call time (edge/degree
  * materialization and the node count are actions, plus one action per
  * `checkpointEvery` rounds in the default [[Materialize]] mode).
  */
object GraphOps {

  val Scale: Long = 1000000000L

  /** `iterations` rounds of damped PageRank over a directed edge list.
    *
    * Rank frames are checkpointed only every `checkpointEvery` rounds:
    * checkpointing every round would (a) force a driver sync per
    * iteration and (b) strip size statistics from the rank side, so
    * Catalyst/AQE could no longer see that ranks (one row per NODE) are
    * broadcastable against edges (one row per EDGE — orders of
    * magnitude larger on real graphs). Between checkpoints the rounds
    * fuse into one multi-stage job whose shuffles AQE re-plans with
    * runtime sizes.
    *
    * @param edges  (src, dst) string-keyed edges; contributions flow
    *               src -> dst. Dangling nodes (no out-edges) leak their
    *               mass — standard for the simple formulation; make the
    *               graph symmetric if every node must keep mass.
    * @param broadcastCutoff node count at or below which the rank frame
    *               is broadcast per round; above it the edge table is
    *               pre-bucketed by `src` instead (see the layout note
    *               in the body). Both layouts compute identical ranks.
    * @return (node_id, rank_scaled) — rank in units of 1/SCALE, after
    *         `iterations` rounds from the uniform start.
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Int = 85,
               checkpointEvery: Int = 4,
               assumeDistinct: Boolean = false,
               broadcastCutoff: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && damping >= 0 && damping <= 100,
      "need iterations >= 1 and damping in [0,100]")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val normalized = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
    // a duplicate edge would double its contribution weight, so edges
    // dedup by default; callers constructing provably-distinct lists
    // (e.g. a symmetric union of one distinct pair set) skip the shuffle
    val e = Materialize.once(
      if (assumeDistinct) normalized else normalized.distinct())
    val nodes = Materialize.once(
      e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id"))).distinct())
    val nNodes = nodes.count() // control-plane scalar: one long
    // nNodes is KNOWN here (unlike a generic plan), so pick the
    // per-round join layout explicitly instead of hoping AQE infers it
    // through checkpoint-stripped statistics:
    //  - small graphs (<= broadcastCutoff nodes): broadcast the rank
    //    frame — each round's join has NO shuffle at all. A rank row
    //    is a node id (tens of bytes) + a long, so the default 1M-row
    //    cutoff is tens of MB, inside a sane broadcast budget; the
    //    explicit hint OVERRIDES autoBroadcastJoinThreshold, so it
    //    must stay well below memory, not at "technically fits".
    //  - big graphs: pre-bucket the degreed edge table by `src` (one
    //    extra shuffle, ONCE) and persist it. The cached
    //    InMemoryRelation REPORTS its hashpartitioning(src) to every
    //    round's join — localCheckpoint would erase it to
    //    UnknownPartitioning (its LogicalRDD drops the physical
    //    partitioning, verified on Spark 4.1) — so EnsureRequirements
    //    exchanges ONLY the node-sized rank side. Edges (row per EDGE,
    //    orders of magnitude larger than ranks on real graphs) never
    //    move again; the cache entry is dropped before returning.
    //    Explicit numPartitions keeps AQE from coalescing the layout
    //    into a partitioning the per-round planner can't reuse.
    val bucketed = nNodes > broadcastCutoff
    val degreedPlan =
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val degreed =
      if (bucketed) degreedPlan.repartition(nParts, col("src")).persist()
      else Materialize.once(degreedPlan)
    val base = (Scale / nNodes) * (100 - damping) / 100
    val rankHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // SPARSE per-round state (round 18, the HITS pattern): after any
    // round, a node MISSING from the frame has rank EXACTLY `base`
    // (no in-edges ⇒ __in = 0 ⇒ base + 0), so the dense `nodes`
    // left-join every round is value-redundant — roundStep reads the
    // floor back with coalesce(rank, base) at the gather and the
    // dense expansion happens once after the loop. Round 1 starts
    // dense (uniform Scale/nNodes ≠ base), where the left join ≡ the
    // old inner join.
    var ranks = nodes.withColumn("rank_scaled", lit(Scale / nNodes))
    for (round <- 1 to iterations) {
      val next = roundStep(degreed, ranks, rankHint, damping, base)
      // LAZY round checkpoint (round 18): the barrier (plan truncation
      // + clamped stats) is what the cadence needs; the next round's
      // single reference materializes the chunk inside its first stage
      // job, so the separate eager count job per checkpoint folds away
      ranks = if (round % checkpointEvery == 0 && round < iterations)
        Materialize.lazily(next)
      else next
    }
    val dense = nodes.join(ranks, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("rank_scaled"), lit(base)).as("rank_scaled"))
    if (!bucketed) dense
    else {
      // cache hygiene: materialize the final ranks, then drop the edge
      // cache so pageRank leaves no SQL-cache entry behind (count()
      // forces the job even in persist-fallback Materialize mode,
      // where once() is lazy)
      val out = Materialize.once(dense)
      out.count()
      degreed.unpersist(false)
      out
    }
  }

  /** One damped-PageRank round over SPARSE ranks: contributions flow
    * along `degreed` edges from the current `ranks` — a src absent
    * from the frame reads its floor value `base` via the left-join
    * coalesce — and aggregate on `dst`. Output carries ONLY nodes
    * with in-edges; every other node's rank is `base` by definition.
    * Factored out so the spec can pin the per-round plan shape — the
    * call sites ARE this plan. */
  private[graft] def roundStep(degreed: DataFrame, ranks: DataFrame,
                               rankHint: DataFrame => DataFrame,
                               damping: Int, base: Long): DataFrame =
    degreed
      .join(rankHint(ranks), degreed("src") === ranks("node_id"), "left")
      .groupBy(col("dst").as("node_id"))
      .agg(sum(expr(s"coalesce(rank_scaled, ${base}L) div deg")).as("__in"))
      .select(col("node_id"),
        (lit(base) + expr(s"($damping * __in) div 100")).as("rank_scaled"))

  /** Multi-source BFS: hop distance from the nearest seed over a
    * directed edge list — the "crawl depth from trusted roots" prior a
    * web-corpus curation pipeline scores documents with (seeds = vetted
    * domains, hops = link distance; cf. the q93 graph machinery).
    *
    * Synchronous Bellman–Ford relaxation on INTEGER distances over a
    * SPARSE per-round frame: only REACHED nodes are held, a missing
    * node is implicitly at the unreached sentinel (`maxHops + 1`), and
    * each round folds `min over in-edges (dist_src + 1)` back with a
    * union + min-regroup — min is order-independent, so the run
    * replays exactly in SQL ([[bfsDepthOracleSql]], which keeps the
    * equivalent DENSE sentinel formulation: a relaxation through an
    * unreached node lands ≥ sentinel and is clamped back, i.e. never
    * kept — exactly the rows the sparse frame never emits). No floats,
    * no NULL-ordering semantics, no tie-breaks needed.
    *
    * Scale shape per round, same layout discipline as [[pageRank]]:
    * small graphs broadcast the reached-nodes distance frame
    * (shuffle-free join); big graphs pre-bucket the edge table by
    * `src` once and persist, so each round exchanges only the distance
    * side. Rounds stay identical and oracle-replayable; the per-round
    * frame is bounded by reached nodes and the wasted re-relaxations
    * by `maxHops` · |E| row visits.
    *
    * EAGER like [[pageRank]]: the edge/node inputs materialize at
    * construction; ROUND checkpoints are lazy (each materializes
    * inside the next round's first job — see the loop).
    *
    * @param seeds   frame whose FIRST column holds seed node ids
    *                (cast to string); seeds not present in the graph
    *                are still reported at hops = 0
    * @param maxHops rounds to relax; nodes farther than this from
    *                every seed report NULL
    * @return (node_id, hops) for every node in the graph ∪ seeds
    */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, maxHops: Int,
               broadcastCutoff: Long = 1000000L): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val normalized = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
    val e = Materialize.once(normalized.distinct())
    val seedSet = seeds
      .select(col(seeds.columns.head).cast("string").as("node_id")).distinct()
    val nodes = Materialize.once(
      e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .union(seedSet.select(col("node_id"))).distinct())
    val nNodes = nodes.count()
    val bucketed = nNodes > broadcastCutoff
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val eLayout =
      if (bucketed) e.repartition(nParts, col("src")).persist()
      else e
    val distHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // SPARSE per-round state (round 18, the HITS pattern): the frame
    // holds only REACHED nodes — every held value is a real hop count
    // ≤ maxHops < inf, a missing node is at exactly `inf`, and a
    // relaxation THROUGH a missing node lands ≥ inf (so the dense
    // formulation's clamp never fired on it anyway): dropping
    // unreached rows from the gather and folding the relaxation back
    // with a union + min-regroup is value-identical to the dense
    // node-sized left join, on a frontier-sized frame.
    var dist = seedSet.withColumn("hops", lit(0L))
    for (round <- 1 to maxHops) {
      val relaxed = eLayout
        .join(distHint(dist), eLayout("src") === dist("node_id"))
        .groupBy(col("dst").as("node_id"))
        .agg(min(col("hops") + lit(1L)).as("hops"))
      val next = dist.unionByName(relaxed)
        .groupBy("node_id").agg(min(col("hops")).as("hops"))
      // LAZY round checkpoint — see pageRank's loop
      dist = if (round % 4 == 0 && round < maxHops) Materialize.lazily(next)
      else next
    }
    // the one dense expansion: absent ≡ unreached ≡ NULL
    val out = nodes.join(dist, Seq("node_id"), "left")
      .select(col("node_id"), col("hops"))
    if (!bucketed) out
    else {
      val fin = Materialize.once(out)
      fin.count()
      eLayout.unpersist(false)
      fin
    }
  }

  /** The DuckDB oracle for [[bfsDepth]]: unrolled relaxation rounds on
    * the identical integer-sentinel arithmetic. Lives here so the
    * Spark rounds and the oracle can never drift apart. */
  def bfsDepthOracleSql(edgesSql: String, seedsSql: String, maxHops: Int): String = {
    val inf = maxHops + 1L
    val rounds = (1 to maxHops).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT nodes.node_id,
         |         least(d.hops, COALESCE(c.mh, $inf)) AS hops
         |  FROM nodes
         |  JOIN d${i - 1} d ON d.node_id = nodes.node_id
         |  LEFT JOIN (
         |    SELECT e.dst AS node_id, min(p.hops + 1) AS mh
         |    FROM edges e JOIN d${i - 1} p ON p.node_id = e.src
         |    GROUP BY e.dst) c ON c.node_id = nodes.node_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |seeds AS MATERIALIZED (SELECT DISTINCT node_id FROM ($seedsSql)),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node_id FROM seeds),
       |d0 AS MATERIALIZED (SELECT nodes.node_id,
       |         CASE WHEN s.node_id IS NULL THEN $inf ELSE 0 END AS hops
       |       FROM nodes LEFT JOIN seeds s ON s.node_id = nodes.node_id),
       |$rounds
       |SELECT node_id,
       |       CASE WHEN hops >= $inf THEN NULL
       |            ELSE CAST(hops AS BIGINT) END AS hops
       |FROM d$maxHops ORDER BY node_id""".stripMargin
  }

  /** k-core decomposition by synchronous peeling: each round drops
    * every node whose degree in the CURRENT surviving subgraph is
    * < k, together with its edges, and repeats. After enough rounds
    * the survivor set is exactly the k-core (the maximal subgraph of
    * minimum degree k); `rounds` is fixed and unrolled so the DuckDB
    * oracle can replay the identical computation, and the spec
    * asserts the test graph reaches its fixpoint within the budget
    * (synchronous peeling removes at least one node per non-fixpoint
    * round, so `rounds` bounds the eccentricity of the peel, not an
    * approximation knob at convergence).
    *
    * Input contract: `src`/`dst` columns, SYMMETRIC edge list (both
    * directions present) — degree is then out-degree of the
    * deduplicated list. Self-loops count once.
    *
    * Scale shape per round: one degree aggregation + two semi-joins
    * of edges against the surviving node set — all hash equi-joins
    * on node keys (the node frame broadcasts below the same ~1M-node
    * cutoff as [[pageRank]]); the edge frame only ever SHRINKS, and
    * each round is materialized so lineage stays flat. Peeling STOPS
    * EARLY at the fixpoint (edge count unchanged ⇒ all remaining
    * rounds are identical no-ops, so the early exit returns exactly
    * the full unroll — and exactly what the unrolled oracle computes).
    * `assumeDistinct` skips the input dedup shuffle for edge lists
    * that are distinct by construction.
    *
    * Output: `node_id, core_degree` for nodes surviving `rounds`
    * peels, ordered by node. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            broadcastCutoff: Long = 1000000L,
            assumeDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val normalized = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    var e = Materialize.once(
      if (assumeDistinct) normalized else normalized.distinct())
    var eCount = e.count()
    val small = e.select("src").distinct().count() <= broadcastCutoff
    val hint: DataFrame => DataFrame = if (small) broadcast(_) else identity
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val survivors = e.groupBy("src").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select(col("src").as("__node"))
      val next = Materialize.once(
        e.join(hint(survivors), e("src") === col("__node"), "left_semi")
          .join(hint(survivors), e("dst") === col("__node"), "left_semi"))
      val nextCount = next.count()
      // fixpoint: no edge was peeled, so every remaining round is an
      // identical no-op — the result equals the full `rounds` unroll
      // (and therefore the unrolled oracle), skip the dead work
      converged = nextCount == eCount
      e = next
      eCount = nextCount
      round += 1
    }
    e.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("node_id")
  }

  /** DuckDB replica of [[kCore]]: unrolled peeling rounds on the
    * identical degree arithmetic. Lives here so the Spark rounds and
    * the oracle can never drift apart. */
  def kCoreOracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY src),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN d$i a ON a.src = e.src AND a.deg >= $k
         |  JOIN d$i b ON b.src = e.dst AND b.deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |$steps
       |SELECT src AS node_id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e$rounds GROUP BY src ORDER BY node_id""".stripMargin
  }

  /** The q93 DuckDB oracle for [[pageRank]]: unrolled CTE rounds that
    * replay the identical integer arithmetic. Lives here so the Spark
    * constant (SCALE, damping) and the oracle can never drift apart. */
  def pageRankOracleSql(edgesSql: String, iterations: Int, damping: Int = 85): String = {
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.node_id,
         |         (SELECT base FROM bb)
         |         + ($damping * COALESCE(c.s, 0)) // 100 AS rank_scaled
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node_id, sum(r.rank_scaled // d.deg) AS s
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.node_id = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.node_id = nodes.node_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |bb AS MATERIALIZED (SELECT (($Scale // n) * (100 - $damping)) // 100 AS base FROM nn),
       |r0 AS MATERIALIZED (SELECT node_id, $Scale // (SELECT n FROM nn) AS rank_scaled FROM nodes),
       |$rounds
       |SELECT node_id, CAST(rank_scaled AS BIGINT) AS rank_scaled
       |FROM r$iterations ORDER BY node_id""".stripMargin
  }

  /** Personalized PageRank: the damped walk TELEPORTS BACK TO THE SEED
    * SET instead of to the uniform distribution — rank becomes
    * "probability of being here on a random walk that keeps restarting
    * from the seeds", the standard relevance-to-these-nodes score for
    * crawl-frontier prioritization, related-item panels, and
    * trust propagation (seeds = vetted pages).
    *
    * Identical integer recurrence to [[pageRank]] except the restart
    * mass `(SCALE/|S|)·(100−d)/100` lands only on seed nodes (others
    * re-base at 0), and the walk starts AT the seeds
    * (`r₀ = SCALE/|S|` on S, 0 elsewhere). Same layout discipline:
    * rank frame broadcast below `broadcastCutoff` nodes, edge table
    * pre-bucketed by src above it; same checkpoint cadence; same
    * dangling-mass caveat. Deterministic — replayed round-for-round by
    * [[personalizedPageRankOracleSql]].
    *
    * @param seeds frame whose FIRST column holds the seed node ids;
    *              seeds absent from the edge list still hold restart
    *              mass (they are added to the node set). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           damping: Int = 85, checkpointEvery: Int = 4,
                           assumeDistinct: Boolean = false,
                           broadcastCutoff: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && damping >= 0 && damping <= 100,
      "need iterations >= 1 and damping in [0,100]")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val normalized = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
    val e = Materialize.once(
      if (assumeDistinct) normalized else normalized.distinct())
    val seedSet = Materialize.once(seeds
      .select(col(seeds.columns.head).cast("string").as("node_id")).distinct())
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "personalizedPageRank needs at least one seed")
    val nodes = Materialize.once(
      e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .union(seedSet.select(col("node_id"))).distinct()
        .join(seedSet.withColumn("__s", lit(1)), Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("__s"), lit(0)).as("__seed")))
    val nNodes = nodes.count()
    val bucketed = nNodes > broadcastCutoff
    val degreedPlan =
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val degreed =
      if (bucketed) degreedPlan.repartition(nParts, col("src")).persist()
      else Materialize.once(degreedPlan)
    val baseSeed = (Scale / nSeeds) * (100 - damping) / 100
    val rankHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // SPARSE per-round state (round 18, the HITS pattern): a node
    // absent from the frame has rank EXACTLY 0 (non-seed, no in-edge
    // contributions), so the dense `nodes` left-join every round is
    // value-redundant. A zero-rank src contributes 0 div deg = 0, so
    // the inner gather join dropping absent srcs is exact; the seed
    // restart mass re-attaches per round via a full-outer against the
    // TINY static seed-base frame (contrib keys vary round to round —
    // a seed's in-neighbors may all be rankless early — so the union
    // must be computed, not precomputed). Dense expansion happens
    // once at the end.
    val seedBase = Materialize.once(
      seedSet.select(col("node_id"), lit(baseSeed).as("__sb")))
    var ranks = seedSet.select(col("node_id"),
      lit(Scale / nSeeds).as("rank_scaled"))
    for (round <- 1 to iterations) {
      val contrib = degreed
        .join(rankHint(ranks), degreed("src") === ranks("node_id"))
        .groupBy(col("dst").as("node_id"))
        .agg(sum(expr("rank_scaled div deg")).as("__in"))
      val next = contrib.join(seedBase, Seq("node_id"), "full")
        .select(col("node_id"),
          (coalesce(col("__sb"), lit(0L)) +
            expr(s"($damping * coalesce(__in, 0L)) div 100"))
            .as("rank_scaled"))
      // LAZY round checkpoint — see pageRank's loop
      ranks = if (round % checkpointEvery == 0 && round < iterations)
        Materialize.lazily(next)
      else next
    }
    val out = nodes.join(ranks, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("rank_scaled"), lit(0L)).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node_id"))
    if (!bucketed) out
    else {
      val fin = Materialize.once(out)
      fin.count()
      degreed.unpersist(false)
      fin
    }
  }

  /** DuckDB replica of [[personalizedPageRank]]: unrolled rounds of
    * the identical integer recurrence with seed-gated restart mass. */
  def personalizedPageRankOracleSql(edgesSql: String, seedsSql: String,
                                    iterations: Int, damping: Int = 85): String = {
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.node_id,
         |         CASE WHEN nodes.seeded = 1 THEN (SELECT bs FROM bb) ELSE 0 END
         |         + ($damping * COALESCE(c.s, 0)) // 100 AS rank_scaled
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node_id, sum(r.rank_scaled // d.deg) AS s
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.node_id = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.node_id = nodes.node_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |seeds AS MATERIALIZED (SELECT DISTINCT node_id FROM ($seedsSql)),
       |nodes AS MATERIALIZED (SELECT n.node_id,
       |            CASE WHEN s.node_id IS NULL THEN 0 ELSE 1 END AS seeded
       |          FROM (SELECT src AS node_id FROM edges
       |                UNION SELECT dst FROM edges
       |                UNION SELECT node_id FROM seeds) n
       |          LEFT JOIN seeds s ON s.node_id = n.node_id),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ns AS MATERIALIZED (SELECT count(*) AS n FROM seeds),
       |bb AS MATERIALIZED (SELECT (($Scale // n) * (100 - $damping)) // 100 AS bs FROM ns),
       |r0 AS MATERIALIZED (SELECT node_id,
       |         CASE WHEN seeded = 1 THEN $Scale // (SELECT n FROM ns)
       |              ELSE 0 END AS rank_scaled
       |       FROM nodes),
       |$rounds
       |SELECT node_id, CAST(rank_scaled AS BIGINT) AS rank_scaled
       |FROM r$iterations ORDER BY rank_scaled DESC, node_id""".stripMargin
  }

  /** HyperANF-style neighborhood function (Boldi–Rosa–Vigna 2011): for
    * r = 0..rounds, the SUM over nodes of the estimated size of each
    * node's r-hop out-ball, via per-node HLL registers max-merged
    * along edges each round — THE way to measure reach / effective
    * diameter on graphs where per-node BFS is quadratic. When the
    * total stops growing, r has passed the effective diameter.
    *
    * Determinism: registers come from the corpus-standard md5 HLL
    * hash (Sketches contract), merge is MAX (order-free), and the
    * estimate is the dyadic-exact Profile formula — 2⁻ʳ sums are
    * exactly representable doubles, so both engines floor identical
    * values and the oracle replays bit-for-bit.
    *
    * Scale shape per round: state is SPARSE (node, bucket, register)
    * rows — ≤ |V|·2ᵇ — one equi-join of edges against it plus one
    * map-side-combined max per (node, bucket). Register propagation
    * costs |E|·(occupied buckets) rows through one shuffle; contrast
    * per-node BFS at |V|·|E|. The join layout follows [[pageRank]]'s
    * two-branch rule, sized on STATE rows (|V|·2ᵇ, not |V|): small
    * states broadcast (each round's join is shuffle-free; edges never
    * move), big states pre-bucket the persisted edge table by `src`
    * once so only the state side exchanges per round. EAGER: runs
    * rounds at call time. (A lazy-round-state variant measured exact
    * parity in the r18 load-gated runs=15 A/B — under AQE a lazy
    * clamped checkpoint still executes every upstream stage at
    * construction, so laziness only relocates each round's final
    * stage; kept eager as the simpler form.)
    *
    * @return one row per round: (round, total_reach_est) */
  def hyperAnf(edges: DataFrame, b: Int, rounds: Int,
               broadcastStateRows: Long = 2000000L): DataFrame = {
    require(b >= 2 && b <= 12, s"register bits out of range: $b")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val m = 1 << b
    // PACKED registers (one INT column per bucket) up to m = 64: the
    // propagation join then moves |E| rows instead of |E|·m — the
    // sparse layout's m× row blow-up was the measured scale-killer at
    // 10× data (sf1: 12M directed edges × 16 buckets = 190M rows per
    // round through the merge shuffle). Beyond 64 buckets the wide row
    // stops paying (codegen width, per-row cost) — keep sparse there.
    if (m <= 64) hyperAnfPacked(edges, b, rounds, broadcastStateRows)
    else hyperAnfSparse(edges, b, rounds, broadcastStateRows)
  }

  /** Sparse (node, bucket, register) recurrence — the m > 64 tier. */
  private def hyperAnfSparse(edges: DataFrame, b: Int, rounds: Int,
                             broadcastStateRows: Long): DataFrame = {
    val spark = edges.sparkSession
    val m = 1 << b
    val e0 = Materialize.once(edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).distinct())
    val nodes = Materialize.once(
      e0.select(col("src").as("node_id"))
        .union(e0.select(col("dst").as("node_id"))).distinct())
    val bucketed = nodes.count() * m > broadcastStateRows
    val nParts = spark.sessionState.conf.numShufflePartitions
    val e = if (bucketed) e0.repartition(nParts, col("src")).persist() else e0
    val stateHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    var state = Materialize.once(nodes.select(col("node_id"),
      Sketches.hllBucket(col("node_id"), b).as("bucket"),
      Sketches.hllRegister(col("node_id"), b).as("r")))
    // per-round totals stay LAZY one-row frames over the (already
    // materialized) round states, unioned into a single final action —
    // an eager head() per round would double the driver actions, and
    // at local[32] scheduling overhead dominates these node-sized aggs
    def totalReach(st: DataFrame, round: Int): DataFrame = st
      .groupBy("node_id")
      .agg(count(lit(1)).as("present"),
        sum(pow(lit(2.0), -col("r"))).as("zsum"))
      .select(lit(round.toLong).as("round"),
        sum(Profile.estimate(m, col("present"), col("zsum")))
          .as("total_reach_est"))
    val out = scala.collection.mutable.ArrayBuffer(totalReach(state, 0))
    for (round <- 1 to rounds) {
      val prop = e.join(
          stateHint(state.withColumnRenamed("node_id", "src")), Seq("src"))
        .select(col("dst").as("node_id"), col("bucket"), col("r"))
      state = Materialize.once(state.unionByName(prop)
        .groupBy("node_id", "bucket").agg(max("r").as("r")))
      out += totalReach(state, round)
    }
    val result = out.reduce(_.unionByName(_)).orderBy("round")
    if (!bucketed) result
    else {
      // round states are materialized, so the output plan no longer
      // references the persisted edge layout — force it, then drop the
      // cache entry (pageRank's hygiene rule)
      val o = Materialize.once(result)
      o.count()
      e.unpersist(false)
      o
    }
  }

  /** Wide-register recurrence: state is (node_id, r0..r{m-1}) with 0
    * as the EMPTY sentinel (real registers are ≥ 1 — leading zeros
    * + 1), merge is m compiled column-wise `max` aggregates with
    * map-side combine, and the propagation join moves ONE row per
    * edge. Registers, merges, and estimates are value-identical to
    * the sparse path — only the layout differs — so the oracle and
    * every caller see byte-identical results. */
  private def hyperAnfPacked(edges: DataFrame, b: Int, rounds: Int,
                             broadcastStateRows: Long): DataFrame = {
    val spark = edges.sparkSession
    val m = 1 << b
    val rcols = (0 until m).map(i => s"r$i")
    val e0 = Materialize.once(edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).distinct())
    val nodes = Materialize.once(
      e0.select(col("src").as("node_id"))
        .union(e0.select(col("dst").as("node_id"))).distinct())
    val bucketed = nodes.count() * m > broadcastStateRows
    val nParts = spark.sessionState.conf.numShufflePartitions
    val e = if (bucketed) e0.repartition(nParts, col("src")).persist() else e0
    val stateHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // each node starts with exactly its own (bucket, register)
    var state = Materialize.once(nodes
      .select(col("node_id"),
        Sketches.hllBucket(col("node_id"), b).as("__b"),
        Sketches.hllRegister(col("node_id"), b).as("__r"))
      .select(col("node_id") +:
        (0 until m).map(i =>
          when(col("__b") === i, col("__r")).otherwise(lit(0))
            .as(s"r$i")): _*))
    def totalReach(st: DataFrame, round: Int): DataFrame = {
      val present = rcols.map(c => when(col(c) > 0, 1L).otherwise(0L))
        .reduce(_ + _)
      val zsum = rcols.map(c =>
        when(col(c) > 0, pow(lit(2.0), -col(c))).otherwise(lit(0.0)))
        .reduce(_ + _)
      st.select(Profile.estimate(m, present, zsum).as("__est"))
        .select(lit(round.toLong).as("round"),
          sum(col("__est")).as("total_reach_est"))
    }
    val out = scala.collection.mutable.ArrayBuffer(totalReach(state, 0))
    for (round <- 1 to rounds) {
      val prop = e.join(
          stateHint(state.withColumnRenamed("node_id", "src")), Seq("src"))
        .select(col("dst").as("node_id") +: rcols.map(col): _*)
      state = Materialize.once(state.unionByName(prop)
        .groupBy("node_id")
        .agg(max(col(rcols.head)).as(rcols.head),
          rcols.tail.map(c => max(col(c)).as(c)): _*))
      out += totalReach(state, round)
    }
    val result = out.reduce(_.unionByName(_)).orderBy("round")
    if (!bucketed) result
    else {
      val o = Materialize.once(result)
      o.count()
      e.unpersist(false)
      o
    }
  }

  /** DuckDB replica of [[hyperAnf]]: unrolled register-propagation
    * rounds + the identical dyadic-exact estimate. */
  def hyperAnfOracleSql(edgesSql: String, b: Int, rounds: Int): String = {
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
      else if (m == 64) 0.709 else if (m == 32) 0.697 else 0.673
    val am2 = s"($alpha * $m * $m)"
    val restBits = 60 - b
    val steps = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT node_id, bucket, max(r) AS r FROM (
         |  SELECT * FROM s${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node_id, p.bucket, p.r
         |  FROM edges e JOIN s${i - 1} p ON p.node_id = e.src)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    def est(i: Int) =
      s"""SELECT CAST($i AS BIGINT) AS round, CAST(sum(est) AS BIGINT)
         |  AS total_reach_est FROM (
         |  SELECT CASE WHEN $am2 / (($m.0 - present) + zsum) <= ${2.5 * m}
         |         AND ($m - present) > 0
         |    THEN CAST(floor($m.0 * ln($m.0 / ($m - present))) AS BIGINT)
         |    ELSE CAST(floor($am2 / (($m.0 - present) + zsum)) AS BIGINT) END AS est
         |  FROM (SELECT node_id, count(*) AS present,
         |          sum(pow(2.0, -r)) AS zsum
         |        FROM s$i GROUP BY node_id))""".stripMargin
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges
       |          UNION SELECT dst FROM edges),
       |h AS MATERIALIZED (SELECT node_id,
       |        CAST(CAST(('0x' || substr(md5('hll:' || node_id), 1, 15))
       |          AS UBIGINT) AS BIGINT) AS h
       |      FROM nodes),
       |s0 AS MATERIALIZED (SELECT node_id, h % $m AS bucket,
       |         CASE WHEN h // $m = 0 THEN ${restBits + 1}
       |              ELSE ${restBits + 1} - length(bin(h // $m)) END AS r
       |       FROM h),
       |$steps
       |SELECT * FROM (${(0 to rounds).map(est).mkString("\nUNION ALL\n")})
       |ORDER BY round""".stripMargin
  }

  /** Synchronous label propagation (community detection, Raghavan et
    * al. 2007) made deterministic: every round each node adopts the
    * most frequent label among its in-neighbors with the
    * (count desc, label asc) tie-break — no RNG, no visit order, so
    * the result is engine-exact and the q128 oracle replays it.
    * Labels start as the node's own id; a node with no in-edges
    * keeps its current label.
    *
    * Scale shape per round (the pageRank layout): one join of the
    * node-sized label frame onto edges (labels broadcast below the
    * same ~1M-node cutoff as [[pageRank]]), one (node, label) count,
    * one per-node window on re-used partitioning, one node-sized left
    * join. EAGER like [[pageRank]] (edge materialization + node
    * count at call time). */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       assumeDistinct: Boolean = false,
                       broadcastCutoff: Long = 1000000L): DataFrame = {
    require(iterations >= 1)
    val normalized = edges
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
    val e = Materialize.once(
      if (assumeDistinct) normalized else normalized.distinct())
    val nodes = e.select(col("src").as("node_id"))
      .union(e.select(col("dst").as("node_id"))).distinct()
    // dense string-order ranking (the louvain trick): the loop runs on
    // LONG keys and the per-round argmax packs (−count, label rank)
    // into ONE integer code, so it hash-aggregates — a struct-typed
    // min buffer would SortAggregate the (node, label) frame twice per
    // round (the r11 louvain plan bug, same shape here)
    val rank = Materialize.once(rankNodes(nodes))
    val nNodes = rank.count()
    // checkpointed frames carry NO size stats (LogicalRDD defaults to
    // "huge"), so the node-sized rank frame must be broadcast
    // EXPLICITLY below the cutoff or every rank join plans as a full
    // sort-merge of the edge table
    val rankHint: DataFrame => DataFrame =
      if (nNodes > broadcastCutoff) identity else broadcast(_)
    val eR = e
      .join(rankHint(rank.select(col("node_id").as("src"), col("rk").as("si"))),
        Seq("src"))
      .join(rankHint(rank.select(col("node_id").as("dst"), col("rk").as("di"))),
        Seq("dst"))
      .select(col("si"), col("di"))
    // pageRank's two-branch join layout: small graphs broadcast the
    // label frame (shuffle-free round); big graphs pre-bucket the
    // persisted edge table by src ONCE so per round only the
    // node-sized label side exchanges — edges never re-shuffle
    val bucketed = nNodes > broadcastCutoff
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val eJ = if (bucketed) eR.repartition(nParts, col("si")).persist()
      else Materialize.once(eR)
    val labelHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // |code| ≤ n² + n: primitive LONG arithmetic (codegen'd hash-agg
    // buffer) whenever it fits — i.e. up to ~3.03e9 nodes — with the
    // exact-same-valued DECIMAL(38,0) path above that (10¹⁰-node
    // graphs at 100 TB overflow LONG); both are exact integers, so
    // the result is bit-identical either way
    val dec: Column => Column =
      if (BigInt(nNodes) * BigInt(nNodes) + BigInt(nNodes) <
          BigInt(Long.MaxValue)) _.cast("long")
      else _.cast("decimal(38,0)")
    var labels = rank.select(col("rk").as("i"), col("rk").as("label"))
    for (round <- 1 to iterations) {
      // argmax-by-(count desc, label asc) as ONE hash aggregate over
      // the packed code −c·n + label (label ∈ [0,n) ⇒ min(code) is
      // the lex argmax); pmod decodes the winner back out
      val winner = eJ
        .join(labelHint(labels.select(col("i").as("si"), col("label"))), Seq("si"))
        .groupBy(col("di").as("i"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("i")
        .agg(min(-dec(col("c")) * dec(lit(nNodes)) + dec(col("label")))
          .as("__code"))
        .select(col("i"),
          pmod(col("__code"), dec(lit(nNodes))).cast("long").as("__new"))
      // every round lands a checkpoint (the louvain discipline): the
      // label frame is referenced TWICE per round (winner + fallback
      // join) and twice more by the sizes/decode stage, so an
      // unmaterialized chain recomputes early rounds exponentially —
      // the checkpoint is one node-sized local write per round
      val next = labels.join(winner, Seq("i"), "left")
        .select(col("i"), coalesce(col("__new"), col("label")).as("label"))
      labels = Materialize.once(next)
    }
    // sizes via groupBy + join (a label window would make one
    // mega-community one partition), then decode ranks to id strings
    val out = labels
      .join(labels.groupBy(col("label"))
        .agg(count(lit(1)).as("community_size")), Seq("label"))
      .join(rankHint(rank.select(col("rk").as("i"), col("node_id"))), Seq("i"))
      .join(rankHint(rank.select(col("rk").as("label"),
        col("node_id").as("__lb"))), Seq("label"))
      .select(col("node_id"), col("__lb").as("label"), col("community_size"))
    if (!bucketed) out
    else {
      // force the result off the persisted edge layout, then drop the
      // cache entry (pageRank's hygiene rule)
      val o = Materialize.once(out)
      o.count()
      eJ.unpersist(false)
      o
    }
  }

  /** [[labelPropagation]] over a pre-built [[RankedGraph]] — the
    * UNDIRECTED variant (the prep symmetrizes): identical to the
    * edge-frame entry point whenever the input edges are already
    * symmetric, distinct, and self-loop-free (q128's supplier↔part
    * graph is, and its unchanged oracle pins the equivalence). Skips
    * the per-call normalize + rank + encode prep entirely, and
    * checkpoints the label frame every `checkpointEvery` rounds
    * (default 4) instead of every round. Each round references the
    * previous label frame exactly ONCE (every RankedGraph node has
    * degree ≥ 1, so the directed variant's keep-own-label fallback
    * join is dead code here) — the chain is linear, recompute factor
    * 1, and the gap is purely a lineage-depth cap. The final round
    * always checkpoints (read 4× by sizes + decode). */
  def labelPropagation(g: RankedGraph, iterations: Int): DataFrame =
    labelPropagation(g, iterations, checkpointEvery = 4)

  def labelPropagation(g: RankedGraph, iterations: Int,
                       checkpointEvery: Int): DataFrame = {
    require(iterations >= 1 && checkpointEvery >= 1)
    val bucketed = g.n > 1000000L
    val nParts = g.dir.sparkSession.sessionState.conf.numShufflePartitions
    val eR = g.dir.select(col("i").as("si"), col("j").as("di"))
    // big graphs pre-bucket the materialized edge table by src ONCE so
    // per round only the node-sized label side exchanges; small graphs
    // broadcast the label frame (shuffle-free round) — g.dir is already
    // materialized, so the !bucketed path needs no extra checkpoint
    val eJ = if (bucketed) eR.repartition(nParts, col("si")).persist()
      else eR
    val labelHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    val dec: Column => Column =
      if (BigInt(g.n) * BigInt(g.n) + BigInt(g.n) <
          BigInt(Long.MaxValue)) _.cast("long")
      else _.cast("decimal(38,0)")
    var labels = g.rank.select(col("rk").as("i"), col("rk").as("label"))
    for (round <- 1 to iterations) {
      // every node in a RankedGraph has degree ≥ 1 (the node set is
      // derived FROM the symmetric edges), so the winner aggregate
      // covers EVERY node and the directed variant's keep-own-label
      // left-join fallback is dead code here. Dropping it makes each
      // round reference the previous label frame exactly ONCE — the
      // chain is linear, recompute factor 1 — so rounds fuse into one
      // job between checkpoints (every `checkpointEvery` rounds, a
      // lineage-depth cap, not a recompute guard; the final round
      // always lands one — it is read 4× by sizes + decode).
      val next = eJ
        .join(labelHint(labels.select(col("i").as("si"), col("label"))),
          Seq("si"))
        .groupBy(col("di").as("i"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("i")
        .agg(min(-dec(col("c")) * dec(lit(g.n)) + dec(col("label")))
          .as("__code"))
        .select(col("i"),
          pmod(col("__code"), dec(lit(g.n))).cast("long").as("label"))
      labels = if (round % checkpointEvery == 0 || round == iterations)
        Materialize.once(next) else next
    }
    val out = louvainDecode(labels, g.rank, g.hint)
    if (!bucketed) out
    else {
      val o = Materialize.once(out)
      o.count()
      eJ.unpersist(false)
      o
    }
  }

  /** One-time dense rank of a (node_id) frame in string-sort order: a
    * range-partitioned sort + per-partition zipWithIndex (the one
    * legitimate RDD hop — a row_number window would collapse to a
    * single partition). Rank order ≡ string order, so smallest-label
    * tie-breaks transfer exactly to rank space. */
  private def rankNodes(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = nodes.select(col("node_id")).distinct().orderBy("node_id")
      .rdd.zipWithIndex()
      .map { case (row, rk) => org.apache.spark.sql.Row(row.getString(0), rk) }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("node_id", StringType),
        StructField("rk", LongType))))
  }

  /** The q128 oracle for [[labelPropagation]]: unrolled rounds of the
    * identical frequency/tie-break arithmetic. Lives here so the
    * semantics and the oracle can never drift apart. */
  def labelPropagationOracleSql(edgesSql: String, iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""w$i AS MATERIALIZED (SELECT node_id, label FROM (
         |  SELECT e.dst AS node_id, l.label,
         |         row_number() OVER (PARTITION BY e.dst
         |           ORDER BY count(*) DESC, l.label) AS rn
         |  FROM edges e JOIN l${i - 1} l ON l.node_id = e.src
         |  GROUP BY e.dst, l.label) WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l.node_id, coalesce(w.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN w$i w ON l.node_id = w.node_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges),
       |l0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM nodes),
       |$rounds
       |SELECT node_id, label,
       |  count(*) OVER (PARTITION BY label) AS community_size
       |FROM l$iterations ORDER BY node_id""".stripMargin
  }

  /** Triangle count + global clustering coefficient by DEGREE-ORDERED
    * edge orientation (the MapReduce triangle algorithm of Suri &
    * Vassilvitskii, WWW '11): orient every undirected edge from its
    * lower to its higher endpoint under the total order (degree,
    * node), enumerate wedges from each node's OUT-neighborhood, and
    * close them against the oriented edge set. Orientation bounds
    * out-degree by O(√m) even on power-law graphs, so the wedge join
    * never explodes around hub nodes — the naive per-node wedge count
    * is quadratic in the hub's FULL degree.
    *
    * Exactly-once counting needs no distinct: a triangle's three
    * nodes have one (degree, node)-ordering a < b < c, and it is
    * enumerated only as wedge (a→b, a→c) closed by edge b→c.
    *
    * 100 TB shape: edge normalization is one distinct shuffle; degrees
    * one aggregate; the wedge self-join shuffles on the wedge apex and
    * the closing join on the (b, c) pair — each a plain hash
    * equi-join, no node ever sees more than its O(√m) out-list.
    * clustering_ppm = (10⁶ · 3 · triangles) div wedges, exact integer
    * (DECIMAL(38) intermediates).
    *
    * @param edges undirected edge list, self-loops and duplicates
    *              (either direction) tolerated
    * @return one row: (n_nodes, n_edges, n_wedges, n_triangles,
    *         clustering_ppm)
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .transform(Materialize.once)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .transform(Materialize.once)

    // orient low -> high under (degree, node); keep dst's rank for the
    // wedge-leg ordering below
    val oriented = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
        .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.dd").as("dd"))
      .transform(Materialize.once)

    val w1 = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val w2 = oriented.select(col("src"), col("dst").as("c"), col("dd").as("dc"))
    val wedges = w1.join(w2, Seq("src"))
      .where(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tri = wedges.join(closing, Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))

    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0L)).otherwise(expr(
          "(CAST(3000000 AS DECIMAL(38,0)) * n_triangles) div n_wedges"))
          .as("clustering_ppm"))
  }

  /** Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg,
    * CIKM 2003): for every NON-adjacent node pair that shares at least
    * one common neighbor, the common-neighbor count and the
    * Adamic–Adar score AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) —
    * the "which links are missing" signal used for recommendation
    * backfill and for graph-based data augmentation (propose item
    * pairs the co-occurrence graph ALMOST contains).
    *
    * Determinism: the per-apex weight floor(10⁹/ln(deg z)) is an
    * integer computed ONCE per node from its integer degree (one float
    * boundary per NODE, the q93 quantize-then-sum rule); pair scores
    * are then pure integer sums — partitioning-stable and replayed
    * exactly by [[linkPredictionOracleSql]].
    *
    * Scale shape: the wedge join fans each apex to deg²/2 pairs, so
    * apexes above `maxApexDegree` are EXCLUDED (the standard hub cut:
    * a node connected to everything certifies nothing about a specific
    * pair — its 1/ln(deg) weight is asymptotically noise, and its
    * wedge fan-out is the whole quadratic cost). Within the cap the
    * shape is q134's: one apex-keyed equi-join, one (a,b) hash-agg,
    * one anti-join against the edge set, one bounded TakeOrdered.
    * `cn`/`aa_nano` count qualifying apexes only — a pair whose every
    * witness is a super-hub scores 0 by design.
    *
    * @param edges undirected edge list; duplicates and self-loops
    *              tolerated (normalized like [[triangleStats]])
    * @return top-`topK` rows (a, b, cn, aa_nano), aa_nano DESC with
    *         (a, b) tie-break; a < b canonical */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     topK: Int, maxApexDegree: Long = 10000L): DataFrame = {
    require(topK >= 1 && maxApexDegree >= 2,
      s"need topK >= 1 and maxApexDegree >= 2: $topK, $maxApexDegree")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .transform(Materialize.once)
    val adj = e.select(col("u").as("z"), col("v").as("n"))
      .union(e.select(col("v").as("z"), col("u").as("n")))
    val apexW = adj.groupBy("z").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= maxApexDegree)
      .select(col("z"),
        floor(lit(1e9) / log(col("deg").cast("double"))).cast("long").as("w"))
    val adjW = adj.join(apexW, Seq("z"))
    val wedges = adjW.select(col("z"), col("n").as("a"), col("w"))
      .join(adjW.select(col("z"), col("n").as("b")), Seq("z"))
      .where(col("a") < col("b"))
    wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("aa_nano"))
      .join(e, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .orderBy(col("aa_nano").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** DuckDB replica of [[linkPrediction]]: `edgesSql` must yield the
    * RAW edge rows as (u, v) — normalization happens here, like the
    * operator. */
  def linkPredictionOracleSql(edgesSql: String, topK: Int,
                              maxApexDegree: Long = 10000L): String =
    s"""WITH raw AS ($edgesSql),
       |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
       |      FROM raw WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v),
       |adj AS (SELECT u AS z, v AS n FROM e UNION ALL SELECT v, u FROM e),
       |apx AS (SELECT z,
       |    CAST(floor(1000000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
       |      AS w
       |  FROM adj GROUP BY z
       |  HAVING count(*) >= 2 AND count(*) <= $maxApexDegree),
       |aw AS (SELECT adj.z, adj.n, apx.w FROM adj JOIN apx USING (z)),
       |sc AS (SELECT a1.n AS a, a2.n AS b,
       |    CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(a1.w) AS BIGINT) AS aa_nano
       |  FROM aw a1 JOIN aw a2 ON a1.z = a2.z AND a1.n < a2.n
       |  GROUP BY 1, 2)
       |SELECT sc.a, sc.b, sc.cn, sc.aa_nano
       |FROM sc LEFT JOIN e ON e.u = sc.a AND e.v = sc.b
       |WHERE e.u IS NULL
       |ORDER BY sc.aa_nano DESC, sc.a, sc.b
       |LIMIT $topK""".stripMargin

  /** HITS hubs-and-authorities (Kleinberg, JSODA'98) over a directed
    * edge list — the bipartite-flavored complement of [[pageRank]]:
    * a node is a good HUB when it points at good authorities and a
    * good AUTHORITY when good hubs point at it. On a
    * customer→supplier purchase graph this separates "buys broadly
    * from the good suppliers" from "supplies the serious buyers" —
    * two rankings PageRank's single score conflates.
    *
    * Determinism: scores are ppm longs; each half-round is an exact
    * integer sum along edges followed by max-normalization
    * `(s·10⁶) div max` — the max rides in as a broadcast 1-row frame
    * (no per-round driver action). Sums are order-independent long
    * adds, so the result is partitioning-stable and replayed exactly
    * by [[hitsOracleSql]]. Overflow-safe while degree·10⁶ < 2⁶³.
    *
    * Scale shape: each round is two edge⋈score joins (one per
    * direction) + two dst/src aggregations. Small graphs broadcast
    * the node-sized score frame both ways (no shuffle); big graphs
    * pre-bucket TWO persisted edge layouts — by src for the
    * hub-gather, by dst for the authority-gather — so edges never
    * re-shuffle and only the score side exchanges ([[pageRank]]'s
    * layout argument, doubled because HITS alternates join keys).
    * Rounds checkpoint every `checkpointEvery` like PageRank.
    *
    * @return (node_id, hub_q, auth_q) ppm scores after `iterations`
    *         full rounds; nodes with no out-edges have hub_q 0, no
    *         in-edges auth_q 0.
    */
  def hits(edges: DataFrame, iterations: Int, checkpointEvery: Int = 1,
           broadcastCutoff: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    val M = 1000000L
    val e0 = Materialize.once(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .distinct())
    val nodes = Materialize.once(
      e0.select(col("src").as("node_id"))
        .union(e0.select(col("dst").as("node_id"))).distinct())
    val bucketed = nodes.count() > broadcastCutoff
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val (eBySrc, eByDst) =
      if (bucketed)
        (e0.repartition(nParts, col("src")).persist(),
          e0.repartition(nParts, col("dst")).persist())
      else (e0, e0)
    val scoreHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    def normalize(raw: DataFrame, c: String): DataFrame = {
      // max-normalize to [0, 10^6]; the 1-row max frame broadcasts so
      // no round needs a driver-side action. LAZY-checkpoint the raw
      // gather first: `raw` is referenced twice (the max subquery and
      // the value pass) and the copies do NOT plan a ReusedExchange —
      // Catalyst infers asymmetric null filters on the two references,
      // so the subtrees never canonicalize equal (r18 plan dump: two
      // full join+agg gather subtrees per normalize) and every
      // half-round's edge⋈score gather ran TWICE. The lazy clamped
      // checkpoint shares one materialization at no extra driver
      // action. Measured (r18, load-gated runs=15 A/B, q175 medians):
      // 9.27/9.37 s → 7.32/6.93 s, −24 %, control query at parity.
      val rawM = Materialize.lazily(raw)
      val mx = rawM.agg(max(col(c)).as("__mx"))
      rawM.crossJoin(broadcast(mx))
        .select(col("node_id"), expr(s"($c * $M) div __mx").as(c))
    }
    // SPARSE per-round state (round 18): frames carry only gather-
    // reachable nodes — a missing node's score is EXACTLY 0 (the
    // gather-sum of an empty edge set) and normalize maps 0 → 0
    // ((0·M) div mx = 0), while max-normalization ignores added zeros
    // (every present score is ≥ 0), so the dense per-half-round
    // `nodes` left-join + coalesce is value-redundant: expand back to
    // all nodes ONCE at the end instead of 2·iterations times. At
    // sf0.1 those joins were 2 broadcast jobs per round of pure
    // driver orchestration (the tier's measured bottleneck); at
    // cluster scale they were 2 node-sized joins per round of real
    // work. Values are bit-identical — exact integer sums over the
    // same edge contributions, same max, same div.
    var hubs: DataFrame = null // null ⇒ round-1 uniform score M
    var auths: DataFrame = null
    for (round <- 1 to iterations) {
      val aRaw = if (hubs == null)
        // uniform initial hubs: Σ_src M = M · in-degree — the same
        // values the edge⋈score join computes, minus the join
        eByDst.groupBy(col("dst").as("node_id"))
          .agg((count(lit(1)) * M).as("a"))
      else
        eByDst.join(scoreHint(hubs.withColumnRenamed("node_id", "src")),
            Seq("src"))
          .groupBy(col("dst").as("node_id")).agg(sum(col("h")).as("a"))
      auths = normalize(aRaw, "a")
      val hRaw = eBySrc.join(scoreHint(auths.withColumnRenamed("node_id", "dst")),
          Seq("dst"))
        .groupBy(col("src").as("node_id")).agg(sum(col("a")).as("h"))
      hubs = normalize(hRaw, "h")
      // materialize HUBS by default EVERY round (checkpointEvery = 1):
      // each normalize references its input twice (score ⨯ its own
      // max), so an un-truncated round k carries 2^k plan copies — and
      // the guard must also fire on the LAST round (the old
      // `round < iterations` exclusion let the final plan explode).
      // Cadence 2 was A/B'd on q175 at sf0.1 (r15): arms {5.90, 7.48}
      // vs cadence-1 {5.72, 5.64} s — same-or-worse, the q190 lesson
      // (multi-reference rounds make skipped checkpoints superlinear);
      // keep 1.
      // Auths stay lazy: the NEXT round reads only hubs, so an
      // un-truncated auths plan is re-evaluated a bounded (~4×)
      // number of times within its own round — half the per-round
      // driver actions for the same bounded-plan guarantee
      // LAZY round checkpoint — see pageRank's loop (hubs is read once
      // by the next round's gather and once by the final expansion)
      if (round % checkpointEvery == 0)
        hubs = Materialize.lazily(hubs)
    }
    // the one dense expansion: absent ≡ 0 (no out-edges ⇒ hub 0, no
    // in-edges ⇒ auth 0 — the documented contract)
    val out = nodes
      .join(hubs, Seq("node_id"), "left")
      .join(auths, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("h"), lit(0L)).as("hub_q"),
        coalesce(col("a"), lit(0L)).as("auth_q"))
    if (!bucketed) out
    else {
      val o = Materialize.once(out)
      o.count()
      eBySrc.unpersist(false); eByDst.unpersist(false)
      o
    }
  }

  /** DuckDB replay of [[hits]]: per-round CTE pairs (authority gather
    * + max-normalize, hub gather + max-normalize), integer `//`
    * arithmetic identical to the Spark fold.
    *
    * Every CTE is `AS MATERIALIZED`: each round references the
    * previous one 2–3× (join + scalar max subquery), and DuckDB's
    * default CTE inlining re-evaluates per reference — cost multiplies
    * per round and the un-materialized form of this oracle burned
    * >25 min single-core at sf0.01. Materialized, each round is
    * evaluated exactly once (seconds). */
  def hitsOracleSql(edgesSql: String, iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT n.node_id, COALESCE(g.a, 0) AS a FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node_id, sum(h.h) AS a
         |    FROM edges e JOIN hn${i - 1} h ON h.node_id = e.src
         |    GROUP BY e.dst) g ON g.node_id = n.node_id),
         |an$i AS MATERIALIZED (SELECT node_id,
         |    (a * 1000000) // (SELECT max(a) FROM ar$i) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT n.node_id, COALESCE(g.h, 0) AS h FROM nodes n LEFT JOIN (
         |    SELECT e.src AS node_id, sum(a.a) AS h
         |    FROM edges e JOIN an$i a ON a.node_id = e.dst
         |    GROUP BY e.src) g ON g.node_id = n.node_id),
         |hn$i AS MATERIALIZED (SELECT node_id,
         |    (h * 1000000) // (SELECT max(h) FROM hr$i) AS h FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges),
       |hn0 AS MATERIALIZED (SELECT node_id, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT h.node_id, CAST(h.h AS BIGINT) AS hub_q,
       |       CAST(a.a AS BIGINT) AS auth_q
       |FROM hn$iterations h JOIN an$iterations a ON a.node_id = h.node_id
       |ORDER BY h.node_id""".stripMargin
  }

  /** Newman modularity of a community assignment, in ppm:
    * Q = Σ_c (e_c/m − (d_c/2m)²) — the standard "is this partition
    * better than chance" score used to audit [[labelPropagation]] (or
    * any clustering) before acting on it. e_c = intra-community edge
    * count, d_c = total degree of community c, m = |E| (undirected
    * distinct edges, no self-loops).
    *
    * Exact rational on common denominator 4m²:
    * Q = Σ_c (4m·e_c − d_c²) / (4m²), DECIMAL(38,0) inside; Q can be
    * NEGATIVE (worse than chance), so the ppm floor uses the sign-safe
    * +K shift ((x + K·den) div den − K with K = 2·10⁶, since the
    * quotient Q·10⁶ lies in [−10⁶, 10⁶]) — Spark's truncating div and
    * DuckDB's flooring `//` agree once the dividend is nonnegative.
    *
    * Scale shape: two node-keyed joins stamp each edge endpoint's
    * community, one community aggregate for e_c (intra edges only) and
    * one for d_c, then a scalar combine — nothing beyond the joins
    * touches edge volume.
    *
    * @param edges  (src, dst) undirected distinct edges
    * @param assign (node_id, label) community per node; must cover
    *               every endpoint (inner joins drop uncovered edges)
    * @return one row (m, n_communities, modularity_ppm)
    */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val e = Materialize.once(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst")))
    val a = assign.select(col("node_id").cast("string").as("node_id"),
      col("label").cast("string").as("__c"))
    val stamped = e
      .join(a.select(col("node_id").as("src"), col("__c").as("ca")), Seq("src"))
      .join(a.select(col("node_id").as("dst"), col("__c").as("cb")), Seq("dst"))
      .transform(Materialize.once) // intra-edge and degree aggs both read it
    val intra = stamped.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("__c")).agg(count(lit(1)).as("ec"))
    val degs = stamped
      .select(explode(array(col("ca"), col("cb"))).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("dc"))
    val perC = degs.join(intra, Seq("__c"), "left")
      .select(col("__c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
    val mRow = stamped.agg(count(lit(1)).as("m"))
    perC.crossJoin(broadcast(mRow))
      .agg(first(col("m")).as("m"), count(lit(1)).as("n_communities"),
        sum(lit(4).cast("decimal(38,0)") * col("m") * col("ec")
          - col("dc").cast("decimal(38,0)") * col("dc")).as("__num"))
      .select(col("m"), col("n_communities"),
        (expr("""(__num * 1000000 + 2000000 * (4 * CAST(m AS DECIMAL(38,0)) * m))
                |  div (4 * CAST(m AS DECIMAL(38,0)) * m)""".stripMargin)
          - lit(2000000L)).as("modularity_ppm"))
  }

  /** DuckDB replay of [[modularity]] over `edgesSql` (src, dst) and
    * `assignSql` (node_id, label). */
  def modularityOracleSql(edgesSql: String, assignSql: String): String =
    s"""WITH e AS MATERIALIZED (SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst
       |           FROM ($edgesSql)),
       |a AS MATERIALIZED (SELECT CAST(node_id AS VARCHAR) AS node_id,
       |             CAST(label AS VARCHAR) AS c FROM ($assignSql)),
       |st AS MATERIALIZED (SELECT sa.c AS ca, sb.c AS cb FROM e
       |       JOIN a sa ON sa.node_id = e.src
       |       JOIN a sb ON sb.node_id = e.dst),
       |mm AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS m FROM st),
       |degs AS MATERIALIZED (SELECT c, CAST(count(*) AS HUGEINT) AS dc
       |         FROM (SELECT ca AS c FROM st UNION ALL SELECT cb FROM st)
       |         GROUP BY c),
       |intra AS MATERIALIZED (SELECT ca AS c, CAST(count(*) AS HUGEINT) AS ec
       |          FROM st WHERE ca = cb GROUP BY ca)
       |SELECT CAST((SELECT m FROM mm) AS BIGINT) AS m,
       |       CAST(count(*) AS BIGINT) AS n_communities,
       |       CAST((sum(4 * (SELECT m FROM mm) * COALESCE(i.ec, 0)
       |               - d.dc * d.dc) * 1000000
       |             + 2000000 * (4 * (SELECT m FROM mm) * (SELECT m FROM mm)))
       |            // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
       |            - 2000000 AS BIGINT) AS modularity_ppm
       |FROM degs d LEFT JOIN intra i ON i.c = d.c""".stripMargin

  /** ONE level of Louvain community detection (Blondel et al. 2008,
    * arXiv:0803.0476) in the deterministic synchronous variant: every
    * node simultaneously evaluates moving to each NEIGHBORING
    * community (based on the previous round's assignment) and takes
    * the modularity-maximizing one. The classic sequential sweep is
    * order-dependent and unreplayable; the synchronous form is the
    * standard distributed adaptation and every decision here is EXACT
    * INTEGER arithmetic with a pinned tie-break, so an unrolled SQL
    * oracle replays it bit-for-bit ([[louvainOracleSql]]).
    *
    * Per round, node i scores each candidate community c (its
    * neighbors' communities plus its own) by the ΔQ numerator on the
    * common denominator 2m²:
    *
    *   gain(i→c) = 2m·k_{i,c} − k_i·(Σtot(c) − [c = c_i]·k_i)
    *
    * (k_{i,c} = edges from i into c, k_i = degree, Σtot(c) = total
    * degree of c; removing i's own degree when scoring its current
    * community is the standard "gain of staying" correction). Winner =
    * max gain, ties to the smallest label — a single hash-aggregated
    * min over the integer code −gain·|V| + rank(label), where ranks
    * come from a one-time dense string-order ranking of the node ids
    * (the whole loop then runs on LONG keys; the candidate frame never
    * sort-aggregates). DECIMAL(38,0) products:
    * at 100 TB, 2m·k is ~10¹⁹ and overflows a LONG (the q168 lesson).
    *
    * Pure synchronous updates OSCILLATE on symmetric structure (two
    * adjacent nodes each grab the other's community and swap forever —
    * the known pathology of parallel Louvain). The standard
    * distributed remedy is to let only an alternating node subset move
    * per round; the subset here is pinned by the portable md5 hash —
    * node i may move in round r iff (portableHash(i) + r) is even —
    * so it is deterministic and replays in any engine (no RNG, no
    * partition order).
    *
    * Input edges are symmetrized, deduped and self-loop-stripped here
    * (undirected semantics; pass either direction or both). Returns
    * (node_id, label, community_size), q128's shape — audit with
    * [[modularity]], iterate coarsening by contracting communities to
    * nodes and re-running (level 2+).
    *
    * Scale shape per round: one edge-keyed join stamping neighbor
    * communities + one (i, c) count (both partial-aggregate map-side),
    * one community-sized Σtot aggregate, one node-sized argmax — the
    * edge table never re-shuffles (bucketed once, like [[pageRank]]).
    * EAGER: materializes the canonical edge set at call time. */
  def louvainLevel(edges: DataFrame, rounds: Int): DataFrame =
    louvainLevel(rankGraph(edges), rounds)

  /** [[louvainLevel]] over a pre-built [[RankedGraph]] — callers that
    * run several community queries on the SAME graph (label
    * propagation, Louvain levels, the fixpoint) build the prep once
    * (optionally disk-shared across queries via [[rankGraph]]'s `mat`
    * hook) and pay only the sweep here. */
  def louvainLevel(g: RankedGraph, rounds: Int): DataFrame =
    louvainDecode(louvainLevelAssign(g, rounds), g.rank, g.hint)

  /** The rank-keyed LEVEL-1 assignment (i, label) every multi-level
    * entry point starts from — level 1 is the only sweep that runs on
    * the full node-sized graph (contracted levels are community-
    * sized), and q210/q212/q246 all run the IDENTICAL level-1 sweep
    * on the same graph. Public so callers can materialize it once
    * (e.g. [[Materialize.sharedDurable]]) and hand it back via the
    * assignment-taking [[louvainTwoLevel]]/[[louvainLevels]]
    * overloads; determinism makes the materialized frame
    * bit-identical to a fresh sweep with the same `rounds`. */
  def louvainLevelAssign(g: RankedGraph, rounds: Int): DataFrame = {
    require(rounds >= 1)
    louvainGainRounds(g.dir.withColumn("w", lit(1L)), g.deg, g.m, g.n,
      rounds, g.hint)
  }

  /** Rank-keyed canonical UNDIRECTED graph shared by the community
    * tier (label propagation, Louvain, the multi-level fixpoint): the
    * dense node ranking (string-sort order, move-gate hash parity
    * precomputed), the rank-keyed symmetric edge set, and the per-node
    * degree frame — built once and read by every algorithm/level.
    * `hint` broadcasts node-sized frames into edge-sized joins below
    * the ~1M-node cutoff — materialized frames carry no size stats, so
    * without the explicit hint every such join plans as a full
    * sort-merge of the edge table. */
  final case class RankedGraph(m: Long, n: Long, rank: DataFrame,
      dir: DataFrame, deg: DataFrame) {
    private[operators] val hint: DataFrame => DataFrame =
      if (n > 1000000L) identity else (df => broadcast(df))
  }

  /** Build the [[RankedGraph]] prep: symmetrize + dedup + strip
    * self-loops, dense-rank the node ids in string-sort order (a
    * range-partitioned sort + per-partition zipWithIndex — the one
    * legitimate RDD hop; a row_number window would collapse to a
    * single partition), rank-encode the edge set so every loop key is
    * a LONG, and precompute degrees + the move-gate hash parity so the
    * loops never touch the id strings.
    *
    * `mat` materializes each named stage ("und"/"rank"/"dir"/"deg").
    * Default is per-call [[Materialize.once]]; pass a
    * [[Materialize.sharedDurable]]-backed hook to share ONE prep across every
    * query on the same graph in the session — the r12 verdict measured
    * the per-query re-prep (sort + zipWithIndex + two encode joins) as
    * the dominant constant of the community tier. */
  def rankGraph(edges: DataFrame,
      mat: (String, () => DataFrame) => DataFrame =
        (_, build) => Materialize.once(build())): RankedGraph = {
    val spark = edges.sparkSession
    val und = mat("und", () => edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    def dirS = und.select(col("a").as("i"), col("b").as("j"))
      .unionByName(und.select(col("b").as("i"), col("a").as("j")))
    val rank = mat("rank", () => {
      val nodeRows = dirS.select(col("i").as("node_id")).distinct()
        .orderBy("node_id")
        .withColumn("hp",
          graft.functions.TextFunctions.portableHash(col("node_id")) % 2)
        .rdd.zipWithIndex()
        .map { case (row, rk) =>
          org.apache.spark.sql.Row(row.getString(0), row.getLong(1), rk) }
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      spark.createDataFrame(nodeRows,
        StructType(Seq(StructField("node_id", StringType),
          StructField("hp", LongType), StructField("rk", LongType))))
    })
    val n = rank.count() // driver scalar: |V|, the argmax-code modulus
    val hint: DataFrame => DataFrame =
      if (n > 1000000L) identity else broadcast(_)
    val dir = mat("dir", () => dirS
      .join(hint(rank.select(col("node_id").as("i"), col("rk").as("__ri"))),
        Seq("i"))
      .join(hint(rank.select(col("node_id").as("j"), col("rk").as("__rj"))),
        Seq("j"))
      .select(col("__ri").as("i"), col("__rj").as("j")))
    val deg = mat("deg", () =>
      dir.groupBy(col("i")).agg(count(lit(1)).as("k"))
        .join(hint(rank.select(col("rk").as("i"), col("hp"))), Seq("i")))
    val m = dir.count() / 2 // driver scalar: |E| undirected
    RankedGraph(m, n, rank, dir, deg)
  }

  /** The synchronous gain loop shared by every Louvain level, over a
    * rank-keyed WEIGHTED directed edge frame `dirW` (i, j, w) with no
    * self-loops and a degree frame `deg` (i, k, hp) that already folds
    * self-loop weight in (k = Σ_j w(i,j) + 2·w(i,i)). Level 1 is the
    * w = 1 special case; contracted levels carry the inter-community
    * edge multiplicities. Arithmetic, tie-break and move gate are
    * exactly [[louvainLevel]]'s scaladoc: gain(i→c) = 2m·k_{i,c} −
    * k_i·(Σtot(c) − [c = c_i]·k_i) in exact integers, argmax by
    * min(−gain·n + c), hash-parity gate on (hp + r). Returns the
    * rank-keyed assignment (i, label).
    *
    * Integer width is gated on the true bound |code| ≤ 4m²·n + n:
    * primitive LONG (codegen'd multiplies, mutable hash-agg buffer)
    * whenever that fits, the same-valued DECIMAL(38,0) above it —
    * 100 TB graphs (m~10¹³, n~10¹⁰ ⇒ |code|~4·10³⁶) take the decimal
    * path; both are exact, so results are bit-identical. */
  private def louvainGainRounds(dirW: DataFrame, deg: DataFrame,
      m: Long, n: Long, rounds: Int,
      hint: DataFrame => DataFrame,
      checkpointEvery: Int = 1): DataFrame = {
    require(checkpointEvery >= 1)
    val dec: Column => Column =
      if (BigInt(4) * BigInt(m) * BigInt(m) * BigInt(n) + BigInt(n) <
          BigInt(Long.MaxValue)) _.cast("long")
      else _.cast("decimal(38,0)")
    var assign = deg.select(col("i"), col("i").as("label")) // rank-keyed
    for (r <- 1 to rounds) {
      val tot = assign.join(deg, Seq("i"))
        .groupBy(col("label").as("c")).agg(sum(col("k")).as("tot"))
      // candidate set = neighbor communities ∪ own community, with
      // k_{i,c} in the SAME aggregate: edge rows carry their weight,
      // the own-community inject weighs 0 — one (i,c) shuffle, not a
      // kic groupBy followed by a second union+groupBy over its output
      val cands = dirW
        .join(hint(assign.select(col("i").as("j"), col("label").as("c"))),
          Seq("j"))
        .select(col("i"), col("c"), col("w"))
        .unionByName(assign.select(col("i"), col("label").as("c"),
          lit(0L).as("w")))
        .groupBy("i", "c").agg(sum(col("w")).as("kic"))
      // Single-aggregate argmax on a mutable (DECIMAL) buffer: the
      // winner key packs (−gain, label rank) into one integer,
      // code = −gain·|V| + rank(c) with rank ∈ [0,|V|), so min(code)
      // IS the lexicographic (max gain, smallest label) argmax — and
      // it compiles to HashAggregate, where a struct-typed key would
      // sort-aggregate the full candidate frame twice per round.
      // Headroom: |gain| ≤ 4m², so |code| ≤ 4m²·|V| ~ 4·10³⁶ at
      // 100 TB (m~10¹³, |V|~10¹⁰) — inside DECIMAL(38,0).
      val best = cands
        .join(hint(tot), Seq("c"))
        .join(hint(assign.select(col("i"), col("label").as("cur"))), Seq("i"))
        .join(hint(deg), Seq("i"))
        .withColumn("gain", lit(2) * dec(lit(m)) * dec(col("kic")) -
          dec(col("k")) * (dec(col("tot")) -
            when(col("c") === col("cur"), dec(col("k"))).otherwise(dec(lit(0)))))
        .groupBy(col("i"))
        .agg(min(-col("gain") * dec(lit(n)) + dec(col("c"))).as("__code"),
          min(col("cur")).as("__cur"), min(col("hp")).as("__hp"))
      // alternating move gate (see scaladoc): only half the nodes,
      // selected by hash parity, may move this round; pmod decodes the
      // winning label rank back out of the argmax code
      val next = best.select(col("i"),
        when((col("__hp") + lit(r)) % 2 === 0,
          pmod(col("__code"), dec(lit(n))).cast("long"))
          .otherwise(col("__cur")).as("label"))
      // checkpoint policy: the FINAL round always lands one (it is read
      // twice downstream — sizes + decode). Intermediate rounds land
      // one per checkpointEvery rounds: node-sized level-1 graphs use
      // cadence 1; COMMUNITY-sized contracted levels use cadence 2 and
      // accept a bounded 3× recompute of one tiny round (each round
      // references the previous assign 3×: tot, cands inject, cur
      // join) in exchange for one fewer eager job per skipped round —
      // at sf0.1 the job-count tax, not the data, dominates those
      // levels. The CADENCE, not a skip-all flag, is what keeps the
      // bound: skipping every intermediate round would compound the
      // 3× fan-out to 3^(rounds-1) for rounds > 2 (r14 ADVICE) —
      // cadence K caps uncheckpointed chains at K−1 rounds, so the
      // recompute factor never exceeds 3^(K−1) for ANY rounds value.
      assign = if (r % checkpointEvery == 0 || r == rounds)
        Materialize.once(next) else next
    }
    assign
  }

  /** Community sizes via partial-agg groupBy + join, not a window over
    * the label — a mega-community must not become one window partition
    * (AQE splits a skewed label join; a window can't) — then decode
    * ranks back to id strings. */
  private def louvainDecode(assign: DataFrame, rank: DataFrame,
      hint: DataFrame => DataFrame): DataFrame =
    assign.join(hint(assign.groupBy(col("label"))
        .agg(count(lit(1)).as("community_size"))), Seq("label"))
      .join(hint(rank.select(col("rk").as("i"), col("node_id"))), Seq("i"))
      .join(hint(rank.select(col("rk").as("label"), col("node_id").as("__lb"))),
        Seq("label"))
      .select(col("node_id"), col("__lb").as("label"), col("community_size"))

  /** TWO levels of Louvain (Blondel et al. 2008 §2): run
    * [[louvainLevel]]'s synchronous sweep for `rounds1` rounds, then
    * CONTRACT each community to a super-node — inter-community edge
    * multiplicities become edge weights, intra-community edges become
    * self-loop weight folded into the super-node degree — and run the
    * identical weighted sweep for `rounds2` rounds on the condensed
    * graph. m (total edge weight) is INVARIANT under contraction, so
    * every level-2 gain is on the same 2m² denominator and stays exact
    * integer arithmetic; [[louvainTwoLevelOracleSql]] replays the whole
    * pipeline bit-for-bit. Output is [[louvainLevel]]'s shape with
    * labels from the coarse partition and sizes in ORIGINAL nodes.
    *
    * Scale shape: level 1 as [[louvainLevel]]; the contraction is one
    * community-stamping join pair over the (already rank-keyed,
    * checkpointed) edge set plus one (ca, cb) aggregate, and every
    * level-2 frame is community-sized — strictly smaller than level
    * 1's. The move gate and tie-break reuse the LEVEL-1 node ranking
    * (labels are member node ids), so no second global sort happens. */
  def louvainTwoLevel(edges: DataFrame, rounds1: Int, rounds2: Int): DataFrame =
    louvainTwoLevel(rankGraph(edges), rounds1, rounds2)

  /** [[louvainTwoLevel]] over a pre-built [[RankedGraph]]. */
  def louvainTwoLevel(g: RankedGraph, rounds1: Int, rounds2: Int): DataFrame = {
    require(rounds1 >= 1)
    louvainTwoLevel(g, louvainLevelAssign(g, rounds1), rounds2)
  }

  /** [[louvainTwoLevel]] starting from a precomputed level-1
    * assignment (the [[louvainLevelAssign]] frame, possibly served
    * from a durable materialization) — only the contraction and the
    * community-sized level-2 sweep run here. */
  def louvainTwoLevel(g: RankedGraph, a1: DataFrame,
      rounds2: Int): DataFrame = {
    require(rounds2 >= 1)
    checkAssignment(g, a1)
    val a2 = louvainContractedSweep(g, a1, rounds2)
    // node → level-1 community → level-2 community, then decode; sizes
    // count original nodes (groupBy + join, never a label window)
    val fin = Materialize.once(a1.select(col("i"), col("label").as("l1"))
      .join(g.hint(a2.select(col("i").as("l1"), col("label"))), Seq("l1"))
      .select(col("i"), col("label")))
    louvainDecode(fin, g.rank, g.hint)
  }

  /** Cheap sanity guard for the assignment-taking overloads: the
    * precomputed frame must carry the (i, label) shape and exactly one
    * row per graph node. Catches the silent-wrong-partition failure of
    * handing an assignment built from a DIFFERENT graph (or a stale
    * durable materialization that outlived a node-count change) — the
    * count is a metadata read on a materialized/parquet-served frame,
    * so the guard costs milliseconds, not a sweep. It cannot catch a
    * same-sized frame from different roundsPerLevel — that contract
    * stays documented (and the durable key's algorithm-version
    * component owns code-change staleness). */
  private def checkAssignment(g: RankedGraph, a: DataFrame): Unit = {
    val cols = a.columns.toSet
    require(cols.contains("i") && cols.contains("label"),
      s"assignment must have (i, label) columns, got ${a.columns.mkString(",")}")
    val rows = a.count()
    require(rows == g.n,
      s"assignment has $rows rows but the graph has ${g.n} nodes — " +
        "was it built from a different graph?")
  }

  /** One CONTRACTED Louvain sweep: contract the ORIGINAL graph by the
    * composed assignment `comp` (node rank → community label) —
    * inter-community edge multiplicities become weights, intra edges
    * self-loop weight folded twice into the super-node degree — and
    * run `rounds` weighted gain rounds on the condensed graph. m is
    * invariant under contraction, so gains stay on the same 2m²
    * denominator (exact integers). Contracting the ORIGINAL edge set
    * by the composed labels is identical to contracting the previous
    * level's weighted super-graph by its labels (weights carry the
    * multiplicities), and keeps every level one stamping-join pair +
    * one (ca, cb) aggregate away from the canonical edges. */
  private def louvainContractedSweep(g: RankedGraph, comp: DataFrame,
      rounds: Int): DataFrame =
    sweepWeighted(g, contractWeighted(
      g.dir.filter(col("i") < col("j")).withColumn("w", lit(1L))
        .select(col("i").as("ca"), col("j").as("cb"), col("w")),
      comp, g.hint), rounds)

  /** Contract a weighted undirected edge frame (ca ≤ cb, w; self-loop
    * rows carry intra weight) by an assignment (i → label): stamp both
    * endpoints, re-canonicalize, sum multiplicities. Contracting level
    * k's super-graph by level k's assignment is identical to
    * contracting the ORIGINAL edges by the composed assignment
    * (weights carry the multiplicities), which is what lets
    * [[louvainLevels]] keep each contraction community-sized instead
    * of re-stamping the full canonical edge set every level. */
  private def contractWeighted(wund: DataFrame, assign: DataFrame,
      hint: DataFrame => DataFrame): DataFrame =
    Materialize.once(wund
      .join(hint(assign.select(col("i").as("ca"), col("label").as("la"))),
        Seq("ca"))
      .join(hint(assign.select(col("i").as("cb"), col("label").as("lb"))),
        Seq("cb"))
      .groupBy(least(col("la"), col("lb")).as("ca"),
        greatest(col("la"), col("lb")).as("cb"))
      .agg(sum(col("w")).as("w")))

  /** Run `rounds` weighted gain rounds on a contracted graph given as
    * the canonical weighted undirected frame (ca ≤ cb, w). The node
    * set is recovered from the edge endpoints — every community holds
    * a degree-≥1 node, so after contraction it has an external edge or
    * a self-loop row and therefore appears as an endpoint; no
    * node-sized distinct over the composed assignment is needed. */
  private def sweepWeighted(g: RankedGraph, wund: DataFrame,
      rounds: Int): DataFrame = {
    val ext = wund.filter(col("ca") =!= col("cb"))
    val sdir = ext.select(col("ca").as("i"), col("cb").as("j"), col("w"))
      .unionByName(ext.select(col("cb").as("i"), col("ca").as("j"), col("w")))
    // super-node degree k = external weighted degree + 2·self-loop
    // weight; communities with ONLY intra edges still need rows, hence
    // the left joins from the endpoint-derived label set
    val labs = wund.select(col("ca").as("i"))
      .unionByName(wund.select(col("cb").as("i"))).distinct()
    val degK = Materialize.once(labs
      .join(sdir.groupBy("i").agg(sum(col("w")).as("__ke")), Seq("i"), "left")
      .join(wund.filter(col("ca") === col("cb"))
        .select(col("ca").as("i"), col("w").as("__sw")), Seq("i"), "left")
      .select(col("i"), (coalesce(col("__ke"), lit(0L)) +
        lit(2) * coalesce(col("__sw"), lit(0L))).as("k"))
      .join(g.hint(g.rank.select(col("rk").as("i"), col("hp"))), Seq("i")))
    // sdir is a filter+union PROJECTION of the already-checkpointed
    // wund — recomputing it once per gain round is cheaper than the
    // eager checkpoint job it would take to pin it; same call for the
    // per-round checkpoints (community-sized frames, cadence 2 — see
    // louvainGainRounds' checkpoint policy for the recompute bound)
    louvainGainRounds(sdir, degK, g.m, g.n, rounds, g.hint,
      checkpointEvery = 2)
  }

  /** FULL multi-level Louvain (Blondel et al. 2008 §2, iterated to a
    * fixpoint): level 1 is [[louvainLevel]]'s synchronous sweep; every
    * further level contracts the graph by the COMPOSED assignment and
    * sweeps the condensed graph ([[louvainContractedSweep]]), until
    * either a level nets zero moves or `maxLevels` levels ran.
    *
    * The early exit is EXACT, not approximate: the sweep is a
    * deterministic function of the contracted graph (exact integers,
    * pinned ties, hash-parity gates restarting at r = 1 each level),
    * so a level that nets zero label changes leaves the composed
    * assignment — and therefore the next level's contracted graph —
    * identical, and by induction every later level is also a net
    * no-op. [[louvainLevelsOracleSql]] replays ALL `maxLevels` levels
    * unconditionally and still matches bit-for-bit.
    *
    * Scale shape: level 1 as [[louvainLevel]]; the level-2 contraction
    * is the ONLY pass over the full canonical edge set — the weighted
    * super-graph is carried level to level and every later contraction
    * stamps community-sized frames ([[contractWeighted]]'s identity).
    * The convergence probe is one filter-isEmpty on the (already
    * materialized) community-sized assignment. */
  def louvainLevels(g: RankedGraph, roundsPerLevel: Int,
      maxLevels: Int): DataFrame =
    louvainLevels(g, louvainLevelAssign(g, roundsPerLevel),
      roundsPerLevel, maxLevels)

  /** [[louvainLevels]] starting from a precomputed level-1 assignment
    * — `l1` MUST be the [[louvainLevelAssign]] frame for the same
    * graph and the same `roundsPerLevel` (determinism makes a
    * materialized copy bit-identical); levels 2+ (contractions and
    * community-sized sweeps) run here. */
  def louvainLevels(g: RankedGraph, l1: DataFrame, roundsPerLevel: Int,
      maxLevels: Int): DataFrame = {
    require(roundsPerLevel >= 1 && maxLevels >= 1)
    checkAssignment(g, l1)
    var comp = l1
    // the weighted super-graph carried level to level: contracting it
    // by the LEVEL assignment equals contracting the original edges by
    // the COMPOSED assignment (see [[contractWeighted]]), so only the
    // level-2 contraction ever touches the full canonical edge set —
    // levels 3+ stamp community-sized frames
    var wund: DataFrame = null // built lazily — maxLevels=1 never contracts
    var level = 1
    var converged = false
    while (level < maxLevels && !converged) {
      if (wund == null) wund = contractWeighted(
        g.dir.filter(col("i") < col("j")).withColumn("w", lit(1L))
          .select(col("i").as("ca"), col("j").as("cb"), col("w")),
        comp, g.hint)
      val aK = sweepWeighted(g, wund, roundsPerLevel)
      converged = aK.filter(col("label") =!= col("i")).isEmpty
      if (!converged) {
        comp = Materialize.once(comp.select(col("i"), col("label").as("__l"))
          .join(g.hint(aK.select(col("i").as("__l"), col("label"))),
            Seq("__l"))
          .select(col("i"), col("label")))
        wund = contractWeighted(wund, aK, g.hint)
        level += 1
      }
    }
    louvainDecode(comp, g.rank, g.hint)
  }

  /** The oracle for [[louvainLevel]]: unrolled rounds of the identical
    * exact-integer gain arithmetic (HUGEINT — same overflow headroom
    * as the DECIMAL(38,0) engine side). Lives here so the semantics
    * and the oracle can never drift apart. */
  def louvainOracleSql(edgesSql: String, rounds: Int): String =
    s"""WITH ${louvainL1Ctes(edgesSql, rounds)}
       |SELECT node_id, label,
       |  count(*) OVER (PARTITION BY label) AS community_size
       |FROM a$rounds ORDER BY node_id""".stripMargin

  /** One unrolled synchronous round over weighted state CTEs — the
    * shared generator behind both oracle levels. `st` names the
    * assignment CTE family (`a0..aR` level 1, `b0..bR` level 2), `ed`
    * the directed edge CTE (w column), `dg` the degree CTE. */
  private def louvainRoundCte(st: String, ed: String, dg: String,
      r: Int): String =
    s"""${st}kic$r AS MATERIALIZED (SELECT d.i, a.label AS c, CAST(sum(d.w) AS HUGEINT) AS kic
       |  FROM $ed d JOIN $st${r - 1} a ON a.node_id = d.j GROUP BY d.i, a.label),
       |${st}tot$r AS MATERIALIZED (SELECT a.label AS c, CAST(sum($dg.k) AS HUGEINT) AS tot
       |  FROM $st${r - 1} a JOIN $dg ON $dg.node_id = a.node_id GROUP BY a.label),
       |${st}cand$r AS MATERIALIZED (SELECT i, c, max(kic) AS kic FROM (
       |  SELECT i, c, kic FROM ${st}kic$r UNION ALL
       |  SELECT node_id AS i, label AS c, CAST(0 AS HUGEINT) FROM $st${r - 1})
       |  GROUP BY i, c),
       |${st}sc$r AS MATERIALIZED (SELECT cd.i, cd.c,
       |    2 * (SELECT m FROM mm) * cd.kic
       |      - $dg.k * (t.tot - CASE WHEN cd.c = cur.label THEN $dg.k ELSE 0 END) AS gain
       |  FROM ${st}cand$r cd JOIN ${st}tot$r t ON t.c = cd.c
       |  JOIN $st${r - 1} cur ON cur.node_id = cd.i
       |  JOIN $dg ON $dg.node_id = cd.i),
       |${st}w$r AS MATERIALIZED (SELECT i AS node_id, c AS label FROM (
       |  SELECT i, c, row_number() OVER (PARTITION BY i
       |    ORDER BY gain DESC, c) AS rn FROM ${st}sc$r) WHERE rn = 1),
       |$st$r AS MATERIALIZED (SELECT w.node_id,
       |  CASE WHEN (CAST(CAST(('0x' || substr(md5(w.node_id), 1, 8)) AS UBIGINT) AS BIGINT)
       |             + $r) % 2 = 0
       |       THEN w.label ELSE p.label END AS label
       |  FROM ${st}w$r w JOIN $st${r - 1} p ON p.node_id = w.node_id)""".stripMargin

  /** Level-1 CTE chain (`eraw` through `a$rounds`), WITHOUT the `WITH`
    * keyword or a final SELECT — shared by [[louvainOracleSql]] and
    * [[louvainTwoLevelOracleSql]]. */
  private def louvainL1Ctes(edgesSql: String, rounds: Int): String = {
    val roundCtes =
      (1 to rounds).map(louvainRoundCte("a", "dir", "deg", _)).mkString(",\n")
    s"""eraw AS MATERIALIZED (SELECT CAST(src AS VARCHAR) AS src,
       |  CAST(dst AS VARCHAR) AS dst FROM ($edgesSql)),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |  greatest(src, dst) AS b FROM eraw WHERE src <> dst),
       |mm AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS m FROM und),
       |dir AS MATERIALIZED (SELECT a AS i, b AS j, CAST(1 AS HUGEINT) AS w FROM und
       |  UNION ALL SELECT b, a, CAST(1 AS HUGEINT) FROM und),
       |deg AS MATERIALIZED (SELECT i AS node_id, CAST(count(*) AS HUGEINT) AS k
       |  FROM dir GROUP BY i),
       |a0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM deg)""".stripMargin +
      ",\n" + roundCtes
  }

  /** DuckDB replay of [[louvainTwoLevel]]: the level-1 chain, then the
    * contraction (inter-community multiplicities as weights, intra
    * weight folded twice into the super-node degree) and the identical
    * weighted rounds on `b0..b$rounds2` — bit-for-bit, HUGEINT
    * arithmetic throughout. */
  def louvainTwoLevelOracleSql(edgesSql: String, rounds1: Int,
      rounds2: Int): String = {
    val l2Rounds =
      (1 to rounds2).map(louvainRoundCte("b", "sd2", "deg2", _)).mkString(",\n")
    s"""WITH ${louvainL1Ctes(edgesSql, rounds1)},
       |u2 AS MATERIALIZED (SELECT least(x.label, y.label) AS ca,
       |    greatest(x.label, y.label) AS cb, CAST(count(*) AS HUGEINT) AS w
       |  FROM und u JOIN a$rounds1 x ON x.node_id = u.a
       |  JOIN a$rounds1 y ON y.node_id = u.b GROUP BY 1, 2),
       |sd2 AS MATERIALIZED (SELECT ca AS i, cb AS j, w FROM u2 WHERE ca <> cb
       |  UNION ALL SELECT cb, ca, w FROM u2 WHERE ca <> cb),
       |deg2 AS MATERIALIZED (SELECT l.label AS node_id,
       |    CAST(COALESCE(e.ke, 0) + 2 * COALESCE(s.w, 0) AS HUGEINT) AS k
       |  FROM (SELECT DISTINCT label FROM a$rounds1) l
       |  LEFT JOIN (SELECT i, sum(w) AS ke FROM sd2 GROUP BY i) e ON e.i = l.label
       |  LEFT JOIN (SELECT ca, w FROM u2 WHERE ca = cb) s ON s.ca = l.label),
       |b0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM deg2),
       |$l2Rounds,
       |fin AS MATERIALIZED (SELECT n.node_id, b.label
       |  FROM a$rounds1 n JOIN b$rounds2 b ON b.node_id = n.label)
       |SELECT node_id, label,
       |  count(*) OVER (PARTITION BY label) AS community_size
       |FROM fin ORDER BY node_id""".stripMargin
  }

  /** DuckDB replay of [[louvainLevels]]: the level-1 chain, then for
    * every level k ≤ maxLevels the contraction of the ORIGINAL edge
    * set by the composed assignment `cmp(k−1)` and the identical
    * weighted rounds — unrolled UNCONDITIONALLY to `maxLevels` levels.
    * The engine's early exit matches bit-for-bit because a level that
    * nets zero moves leaves `cmp` (and therefore every later level's
    * contracted graph and sweep) identical — see [[louvainLevels]]. */
  def louvainLevelsOracleSql(edgesSql: String, roundsPerLevel: Int,
      maxLevels: Int): String = {
    require(roundsPerLevel >= 1 && maxLevels >= 1)
    require(maxLevels <= 9 && roundsPerLevel <= 9,
      "CTE naming scheme assumes single-digit levels/rounds")
    if (maxLevels == 1) return louvainOracleSql(edgesSql, roundsPerLevel)
    val sb = new StringBuilder(
      s"WITH ${louvainL1Ctes(edgesSql, roundsPerLevel)}")
    var prev = s"a$roundsPerLevel" // composed (node_id, label) so far
    for (k <- 2 to maxLevels) {
      val st = s"lv$k"
      val lvlRounds = (1 to roundsPerLevel)
        .map(louvainRoundCte(st, s"sd$k", s"dg$k", _)).mkString(",\n")
      sb ++= s""",
        |u$k AS MATERIALIZED (SELECT least(x.label, y.label) AS ca,
        |    greatest(x.label, y.label) AS cb, CAST(count(*) AS HUGEINT) AS w
        |  FROM und u JOIN $prev x ON x.node_id = u.a
        |  JOIN $prev y ON y.node_id = u.b GROUP BY 1, 2),
        |sd$k AS MATERIALIZED (SELECT ca AS i, cb AS j, w FROM u$k WHERE ca <> cb
        |  UNION ALL SELECT cb, ca, w FROM u$k WHERE ca <> cb),
        |dg$k AS MATERIALIZED (SELECT l.label AS node_id,
        |    CAST(COALESCE(e.ke, 0) + 2 * COALESCE(s.w, 0) AS HUGEINT) AS k
        |  FROM (SELECT DISTINCT label FROM $prev) l
        |  LEFT JOIN (SELECT i, sum(w) AS ke FROM sd$k GROUP BY i) e ON e.i = l.label
        |  LEFT JOIN (SELECT ca, w FROM u$k WHERE ca = cb) s ON s.ca = l.label),
        |${st}0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM dg$k),
        |$lvlRounds,
        |cmp$k AS MATERIALIZED (SELECT n.node_id, b.label
        |  FROM $prev n JOIN $st$roundsPerLevel b ON b.node_id = n.label)""".stripMargin
      prev = s"cmp$k"
    }
    sb ++= s"""
      |SELECT node_id, label,
      |  count(*) OVER (PARTITION BY label) AS community_size
      |FROM $prev ORDER BY node_id""".stripMargin
    sb.toString
  }

  /** Weighted single-source(-set) shortest paths — [[bfsDepth]]'s
    * estimator upgrade from hop counts to NONNEGATIVE INTEGER edge
    * weights (cents, micros, latency µs): synchronous Bellman–Ford,
    * `dist' = least(dist, min over in-edges (dist_src + w))`. After
    * `rounds` relaxations the result is exact for every path of at
    * most `rounds` edges — run `rounds` ≥ the graph's hop diameter
    * for the true distances (the spec pins a fixpoint the same way
    * kCore does).
    *
    * Determinism: min over longs on a SPARSE reached-only frame (as
    * in [[bfsDepth]]) — a missing node is implicitly at the sentinel
    * `inf = rounds · w_max + 1`, and a relaxation through a missing
    * node lands ≥ inf, which the dense formulation clamps back with
    * `least` and the sparse union + min-regroup simply never emits.
    * No floats, no NULL-ordering, order-independent — the oracle
    * ([[weightedSsspOracleSql]]) replays the equivalent DENSE rounds
    * with the sentinel computed inline from the same edge data.
    *
    * Scale shape: identical to [[bfsDepth]] — parallel edges collapse
    * to min weight once; small graphs broadcast the reached-nodes
    * distance frame each round (shuffle-free), big graphs pre-bucket
    * edges by `src` and persist so rounds exchange only the distance
    * side. EAGER at construction (input materializations + the weight
    * guard); round checkpoints are lazy like [[bfsDepth]]'s.
    *
    * @param edges (src, dst, w) — w cast to long, must be ≥ 0
    * @param seeds frame whose FIRST column holds seed node ids
    * @return (node_id, dist) for every node in the graph ∪ seeds;
    *         NULL dist = unreached within `rounds` hops
    */
  def weightedSssp(edges: DataFrame, seeds: DataFrame, rounds: Int,
                   broadcastCutoff: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = Materialize.once(edges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w")))
    val Array(minW, maxW) = e.agg(min("w"), max("w")).head() match {
      case r if r.isNullAt(0) => Array(0L, 0L)
      case r => Array(r.getLong(0), r.getLong(1))
    }
    require(minW >= 0, s"edge weights must be nonnegative, got min $minW")
    require(maxW < Long.MaxValue / (rounds + 2L),
      s"rounds*w_max overflows long: rounds=$rounds w_max=$maxW")
    val seedSet = seeds
      .select(col(seeds.columns.head).cast("string").as("node_id")).distinct()
    val nodes = Materialize.once(
      e.select(col("src").as("node_id"))
        .union(e.select(col("dst").as("node_id")))
        .union(seedSet.select(col("node_id"))).distinct())
    val bucketed = nodes.count() > broadcastCutoff
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val eLayout =
      if (bucketed) e.repartition(nParts, col("src")).persist()
      else e
    val distHint: DataFrame => DataFrame =
      if (bucketed) identity else broadcast(_)
    // SPARSE per-round state, as in [[bfsDepth]]: only REACHED nodes
    // are held (every value is a real path length ≤ rounds·w_max
    // < inf), a missing node is at exactly `inf`, and a relaxation
    // through a missing node lands ≥ inf — the dense clamp never kept
    // one — so the union + min-regroup equals the dense node-sized
    // left join on a frontier-sized frame.
    var dist = seedSet.withColumn("dist", lit(0L))
    for (round <- 1 to rounds) {
      val relaxed = eLayout
        .join(distHint(dist), eLayout("src") === dist("node_id"))
        .groupBy(col("dst").as("node_id"))
        .agg(min(col("dist") + col("w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy("node_id").agg(min(col("dist")).as("dist"))
      // LAZY round checkpoint — see pageRank's loop
      dist = if (round % 4 == 0 && round < rounds) Materialize.lazily(next)
      else next
    }
    // the one dense expansion: absent ≡ unreached ≡ NULL
    val out = nodes.join(dist, Seq("node_id"), "left")
      .select(col("node_id"), col("dist"))
    if (!bucketed) out
    else {
      val fin = Materialize.once(out)
      fin.count()
      eLayout.unpersist(false)
      fin
    }
  }

  /** DuckDB oracle for [[weightedSssp]]: unrolled relaxations with
    * the sentinel computed inline from the same min-collapsed edge
    * table, so both engines derive the identical `inf`. */
  def weightedSsspOracleSql(edgesSql: String, seedsSql: String,
                            rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT d.node_id,
         |         least(d.dist, COALESCE(c.md, (SELECT inf FROM p))) AS dist
         |  FROM d${i - 1} d
         |  LEFT JOIN (
         |    SELECT e.dst AS node_id, min(q.dist + e.w) AS md
         |    FROM edges e JOIN d${i - 1} q ON q.node_id = e.src
         |    GROUP BY e.dst) c ON c.node_id = d.node_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT src, dst, min(w) AS w FROM (
       |    SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
       |           CAST(w AS BIGINT) AS w FROM ($edgesSql))
       |  GROUP BY src, dst),
       |p AS MATERIALIZED (SELECT $rounds * COALESCE(max(w), 0) + 1 AS inf FROM edges),
       |seeds AS MATERIALIZED (SELECT DISTINCT CAST(node_id AS VARCHAR) AS node_id
       |          FROM ($seedsSql)),
       |nodes AS MATERIALIZED (SELECT src AS node_id FROM edges
       |          UNION SELECT dst FROM edges
       |          UNION SELECT node_id FROM seeds),
       |d0 AS MATERIALIZED (SELECT nodes.node_id,
       |         CASE WHEN s.node_id IS NULL THEN (SELECT inf FROM p)
       |              ELSE 0 END AS dist
       |       FROM nodes LEFT JOIN seeds s ON s.node_id = nodes.node_id),
       |$steps
       |SELECT node_id,
       |       CASE WHEN dist >= (SELECT inf FROM p) THEN NULL
       |            ELSE CAST(dist AS BIGINT) END AS dist
       |FROM d$rounds ORDER BY node_id""".stripMargin
  }
}
