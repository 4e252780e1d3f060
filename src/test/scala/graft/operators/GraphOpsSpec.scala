package graft.operators

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // path graph a-b-c (symmetric): b is the hub and must outrank a and c,
  // which are symmetric and must tie exactly (integer arithmetic)
  private val path = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")
  ).toDF("src", "dst")

  test("hub outranks leaves; symmetric leaves tie bit-exactly") {
    val r = GraphOps.pageRank(path, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(r("b") > r("a"))
    assert(r("a") == r("c"))
    assert(r.size == 3)
  }

  test("replays the reference integer recurrence exactly") {
    // hand-rolled fixed-point recurrence, same integer ops
    val n = 3L
    val base = (GraphOps.Scale / n) * 15 / 100
    var ra, rb, rc = GraphOps.Scale / n
    for (_ <- 1 to 3) {
      val (na, nb, nc) = (
        base + 85 * (rb / 2) / 100,            // a <- half of b
        base + 85 * (ra / 1 + rc / 1) / 100,   // b <- all of a and c
        base + 85 * (rb / 2) / 100)            // c <- half of b
      ra = na; rb = nb; rc = nc
    }
    val r = GraphOps.pageRank(path, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(r("a") == ra && r("b") == rb && r("c") == rc)
  }

  test("total mass stays within floor-division loss of SCALE") {
    val r = GraphOps.pageRank(path, iterations = 3)
      .as[(String, Long)].collect().map(_._2)
    val total = r.sum
    // each round loses < (deg sum + nodes*100) units to floors
    assert(total <= GraphOps.Scale && total > GraphOps.Scale - 10000)
  }

  test("edge-bucketed branch computes identical ranks to the broadcast branch") {
    // force the big-graph layout (cutoff 0 -> every graph "is big");
    // bit-identical output is the whole point of integer arithmetic
    val small = GraphOps.pageRank(path, iterations = 3)
      .as[(String, Long)].collect().toMap
    val bucketed = GraphOps.pageRank(path, iterations = 3, broadcastCutoff = 0)
      .as[(String, Long)].collect().toMap
    assert(bucketed == small)
    // denser asymmetric graph, across a checkpoint boundary too
    val rnd = new scala.util.Random(41)
    val edges = (1 to 400)
      .map(_ => (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val a = GraphOps.pageRank(edges, iterations = 5, checkpointEvery = 2)
      .as[(String, Long)].collect().toMap
    val b = GraphOps.pageRank(edges, iterations = 5, checkpointEvery = 2,
      broadcastCutoff = 0).as[(String, Long)].collect().toMap
    assert(a == b)
    // hygiene: the bucketed branch's edge cache must not outlive the call
    assert(spark.sharedState.cacheManager.isEmpty,
      "bucketed pageRank leaked a SQL-cache entry")
  }

  test("edge-bucketed branch: per-round joins never re-shuffle the edge table") {
    // drive GraphOps.roundStep (the loop body) against the bucketed
    // layout pageRank builds for big graphs: the edge side must arrive
    // pre-partitioned from the cache (no "hashpartitioning(src"
    // anywhere in the round plan), while the rank side DOES exchange —
    // that shuffle moves node-sized data only. On a toy graph Catalyst
    // would auto-broadcast the rank side from size stats (fine in
    // production, but it hides the shuffle layout this pin is about),
    // so switch auto-broadcast off to surface the big-graph shape.
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val e = path.distinct()
    val degreed = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .repartition(4, col("src")).persist()
    try {
      spark.conf.set(thresholdKey, "-1")
      degreed.count()
      // materialized, as in pageRank — a lazy union-distinct would drag
      // its own (src, dst) exchange into the round plan under audit
      val nodes = e.select(col("src").as("node_id"))
        .union(e.select(col("dst"))).distinct().localCheckpoint(true)
      val ranks = nodes.withColumn("rank_scaled", lit(GraphOps.Scale / 3))
      val df = GraphOps.roundStep(degreed, ranks, identity,
        damping = 85, base = 50000000L)
      df.count() // AQE: finalize the adaptive plan before reading it
      // audit the per-round EDGE side above the cache boundary: the
      // plan string embeds the cached InMemoryRelation's BUILD plan
      // (its own exchanges included) below the InMemoryTableScan, and
      // a per-round edge re-shuffle would sit ABOVE it (between the
      // SortMergeJoin and the InMemoryTableScan) — cut at the relation
      // NB the outer (unexecuted) adaptive plan has no Initial/Final
      // sections of its own — any "== Initial Plan ==" marker in the
      // string belongs to the EMBEDDED cached-build dump, so splitting
      // on it would chop the SMJ's right child off the audit
      val full = df.queryExecution.executedPlan.toString
      val p = full.split("InMemoryRelation").head
      assert(!p.contains("hashpartitioning(src"),
        s"edge table re-shuffled in the bucketed branch:\n$p")
      assert(!p.contains("BroadcastExchange"),
        s"bucketed branch must not broadcast (that's the small-graph path):\n$p")
      // the rank side is the SMJ's RIGHT child — it prints AFTER the
      // embedded build, so its exchange is asserted on the full
      // string (the build has no node_id-keyed exchange to confuse it)
      assert(full.contains("hashpartitioning(node_id"),
        s"expected the rank-side exchange:\n$full")
    } finally {
      degreed.unpersist(true)
      spark.conf.set(thresholdKey, saved)
    }
  }

  test("result is invariant to input partitioning") {
    val r1 = GraphOps.pageRank(path.repartition(7), iterations = 2)
      .as[(String, Long)].collect().toMap
    val r2 = GraphOps.pageRank(path.coalesce(1), iterations = 2)
      .as[(String, Long)].collect().toMap
    assert(r1 == r2)
  }

  test("bfsDepth: multi-seed hop distances with sentinel NULL past maxHops") {
    // directed path a -> b -> c -> d -> e, plus disconnected f -> g
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("f", "g")).toDF("src", "dst")
    def run(seeds: Seq[String], hops: Int) =
      GraphOps.bfsDepth(edges, seeds.toDF("node_id"), maxHops = hops)
        .collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
    val one = run(Seq("a"), 3)
    assert(one == Map("a" -> Some(0L), "b" -> Some(1L), "c" -> Some(2L),
      "d" -> Some(3L), "e" -> None, "f" -> None, "g" -> None))
    // a second seed pulls the tail in; directedness: d's seed never
    // reaches back to c
    val two = run(Seq("a", "d"), 2)
    assert(two("e") == Some(1L) && two("c") == Some(2L) && two("d") == Some(0L))
    assert(two("g") == None)
    // a seed absent from the edge list still reports at distance 0
    val ghost = run(Seq("z"), 1)
    assert(ghost("z") == Some(0L))
    assert(ghost.filterNot(_._1 == "z").values.forall(_ == None))
  }

  test("bfsDepth: bucketed branch identical to broadcast branch, cache clean") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 300)
      .map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val seeds = Seq("n0", "n7").toDF("node_id")
    val a = GraphOps.bfsDepth(edges, seeds, maxHops = 4)
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    val b = GraphOps.bfsDepth(edges, seeds, maxHops = 4, broadcastCutoff = 0)
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(a == b)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bucketed bfsDepth leaked a SQL-cache entry")
  }

  test("labelPropagation: two cliques converge to per-clique communities") {
    // clique {a,b,c} and clique {x,y,z}, symmetric edges within each
    def clique(ns: Seq[String]) =
      for { u <- ns; v <- ns if u != v } yield (u, v)
    val edges = (clique(Seq("a", "b", "c")) ++ clique(Seq("x", "y", "z")))
      .toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // min-label tie-breaks pull each clique to its smallest member
    assert(Seq("a", "b", "c").map(out(_)._1).distinct.size == 1)
    assert(Seq("x", "y", "z").map(out(_)._1).distinct.size == 1)
    assert(out("a")._1 != out("x")._1, "cliques must not merge")
    assert(out.values.forall(_._2 == 3L), "community_size = clique size")
  }

  test("labelPropagation: bucketed branch ≡ broadcast branch, cache clean") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 300).map { _ =>
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}")
    }.filter(e => e._1 != e._2).toDF("src", "dst")
    val small = GraphOps.labelPropagation(edges, iterations = 3)
      .collect().map(_.toString).sorted.toSeq
    val big = GraphOps.labelPropagation(edges, iterations = 3,
        broadcastCutoff = 1) // force the pre-bucketed layout
      .collect().map(_.toString).sorted.toSeq
    assert(small == big)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bucketed labelPropagation leaked a cache entry")
  }

  test("labelPropagation: hand-replayed round on a directed path") {
    // a -> b -> c: round 1: b takes a's label 'a', c takes b's label 'b';
    // a has no in-edges and keeps 'a'. Round 2: c takes b's CURRENT
    // label ('a' after round 1)... replay exactly:
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r1 = GraphOps.labelPropagation(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r1 == Map("a" -> "a", "b" -> "a", "c" -> "b"))
    val r2 = GraphOps.labelPropagation(edges, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r2 == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("triangleStats: K4 has 4 triangles, clustering 1.0") {
    val k4 = (for {
      a <- 1 to 4; b <- 1 to 4 if a != b
    } yield (a.toLong, b.toLong)).toDF("src", "dst") // both directions + dups
    val r = GraphOps.triangleStats(k4, "src", "dst").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 6L, 12L, 4L))
    assert(r.getLong(4) == 1000000L) // 3*4/12
  }

  test("triangleStats matches brute force on a random graph with hubs") {
    val rnd = new scala.util.Random(19)
    // skewed: node 0 joins to many (hub), plus random sparse edges
    val raw = (1 to 40).map(i => (0L, i.toLong)) ++
      (1 to 300).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)) ++
      Seq((7L, 7L)) // self-loop must be dropped
    val edges = raw.filter { case (a, b) => a != b }.toSet ++ Seq((7L, 7L))
    val und = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val ns = nodes.toSeq.sorted
    val expTri = (for {
      a <- ns; b <- ns if a < b; c <- ns if b < c
      if und((a, b)) && und((b, c)) && und((a, c))
    } yield 1).size.toLong
    val deg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n)).toMap
    val expWedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val r = GraphOps.triangleStats(edges.toSeq.toDF("src", "dst"), "src", "dst")
      .collect()(0)
    assert(r.getLong(0) == nodes.size.toLong)
    assert(r.getLong(1) == und.size.toLong)
    assert(r.getLong(2) == expWedges)
    assert(r.getLong(3) == expTri)
    assert(r.getLong(4) == (if (expWedges == 0) 0L else 3000000L * expTri / expWedges))
  }

  private def sym(pairs: Seq[(String, String)]) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  test("personalizedPageRank: hand-replayed recurrence, teleport only to seeds") {
    // path a-b-c, seed {a}: r0 = (1e9, 0, 0); two exact integer rounds
    val seeds = Seq("a").toDF("node_id")
    val r = GraphOps.personalizedPageRank(path, seeds, iterations = 2)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 511250000L, "b" -> 127500000L, "c" -> 361250000L))
    // proximity to the seed dominates: a > c despite symmetric degrees
    assert(r("a") > r("c") && r("c") > r("b"))
  }

  test("personalizedPageRank: uniform-on-all-nodes seeds reproduce plain pageRank") {
    val allNodes = Seq("a", "b", "c").toDF("node_id")
    val ppr = GraphOps.personalizedPageRank(path, allNodes, iterations = 3)
      .as[(String, Long)].collect().toMap
    val pr = GraphOps.pageRank(path, iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(ppr == pr, "seeding every node uniformly must equal the global walk")
  }

  test("hyperAnf: round-0 totals the nodes; reach grows to the diameter then saturates") {
    // path a-b-c (diameter 2): singleton sets estimate exactly 1 each
    // at round 0 (linear counting, one occupied bucket), totals are
    // monotone, and rounds past the diameter change nothing
    val r = GraphOps.hyperAnf(path, b = 4, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(0L) == 3L, "round 0 = one ball of size 1 per node")
    assert(r(1L) >= r(0L) && r(2L) >= r(1L))
    assert(r(3L) == r(2L), "past the diameter the register state is a fixpoint")
    assert(r(2L) >= 5L && r(2L) <= 10L,
      s"true 2-ball total is 7; m=16 small-set estimates land nearby: ${r(2L)}")
  }

  test("hyperAnf: determinism across partitionings") {
    val g = sym(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "e")))
    val x = GraphOps.hyperAnf(g, b = 4, rounds = 2).collect().toSeq
    val y = GraphOps.hyperAnf(g.repartition(7), b = 4, rounds = 2).collect().toSeq
    assert(x == y)
  }

  test("kCore: triangle with a pendant — 2-core strips the pendant, keeps the triangle") {
    val g = sym(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    val out = GraphOps.kCore(g, k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kCore: cascading peel — a chain hanging off a clique unravels one round at a time") {
    // K4 on a,b,c,d plus chain d-e-f and k=2: f (deg 1) drops in round
    // 1; e STARTS at degree 2 and only falls below k once f is gone,
    // so it survives round 1 and drops in round 2 — the 2-core is K4
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d") if x < y }
      yield (x, y)
    val g = sym(k4 ++ Seq(("d", "e"), ("e", "f")))
    val afterOne = GraphOps.kCore(g, k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(afterOne.contains("e") && !afterOne.contains("f"),
      "round 1 drops f but e still hangs on via d")
    val out = GraphOps.kCore(g, k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCore: k above max degree empties the graph") {
    val g = sym(Seq(("a", "b"), ("b", "c")))
    assert(GraphOps.kCore(g, k = 5, rounds = 2).count() == 0)
  }

  test("q155 budget reaches the fixpoint on the supplier-part graph") {
    val sp = graft.Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .selectExpr("concat('s', l_suppkey) AS s", "concat('p', l_partkey) AS p")
      .distinct()
    val edges = sp.selectExpr("s AS src", "p AS dst")
      .unionByName(sp.selectExpr("p AS src", "s AS dst"))
    val atBudget = GraphOps.kCore(edges, k = 10, rounds = 6)
      .as[(String, Long)].collect().sorted.toSeq
    val onePast = GraphOps.kCore(edges, k = 10, rounds = 7)
      .as[(String, Long)].collect().sorted.toSeq
    assert(atBudget == onePast, "6 peeling rounds must be a fixpoint")
    assert(atBudget.nonEmpty, "the 10-core should be non-empty at sf0.001")
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    val bip = (for (a <- 1 to 5; b <- 6 to 10) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val r = GraphOps.triangleStats(bip, "src", "dst").collect()(0)
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
  }

  /** Reference HITS: the exact integer recurrence in plain Scala. */
  private def refHits(edges: Set[(String, String)], iterations: Int) = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.sorted
    val M = 1000000L
    var h = nodes.map(_ -> M).toMap
    var a = Map.empty[String, Long]
    for (_ <- 1 to iterations) {
      val araw = nodes.map(n => n ->
        edges.filter(_._2 == n).toSeq.map(e => h(e._1)).sum).toMap
      val amx = araw.values.max
      a = araw.map { case (n, v) => n -> v * M / amx }
      val hraw = nodes.map(n => n ->
        edges.filter(_._1 == n).toSeq.map(e => a(e._2)).sum).toMap
      val hmx = hraw.values.max
      h = hraw.map { case (n, v) => n -> v * M / hmx }
    }
    nodes.map(n => (n, h(n), a(n))).toSet
  }

  test("hits ≡ reference recurrence; bucketed layout computes identical scores") {
    val rnd = new scala.util.Random(43)
    val edges = (1 to 150).map(_ =>
      (s"u${rnd.nextInt(20)}", s"v${rnd.nextInt(15)}")).toSet ++
      Set(("u0", "v0"), ("u0", "v1"), ("u1", "v0")) // guaranteed structure
    val df = edges.toSeq.toDF("src", "dst")
    val expected = refHits(edges, 4)
    val broadcastPath = GraphOps.hits(df, iterations = 4)
      .as[(String, Long, Long)].collect().toSet
    assert(broadcastPath == expected)
    val bucketedPath = GraphOps.hits(df, iterations = 4, broadcastCutoff = 1L)
      .as[(String, Long, Long)].collect().toSet
    assert(bucketedPath == expected, "bucketed branch must match broadcast branch")
  }

  test("hits on a pure bipartite star: hub and authority roles separate") {
    // u0 points at every v; each v also has one weak dedicated fan
    val edges = (0 until 5).flatMap(i => Seq(("u0", s"v$i"), (s"w$i", s"v$i")))
    val out = GraphOps.hits(edges.toDF("src", "dst"), iterations = 3)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("u0")._1 == 1000000L, "the broad buyer is the top hub")
    assert(out.filter(_._1.startsWith("v")).values.forall(_._2 == 1000000L),
      "symmetric authorities all normalize to the max")
    assert(out.filter(_._1.startsWith("w")).values.forall(_._1 < 1000000L),
      "single-edge fans are weaker hubs")
    assert(out.values.forall { case (h, a) => h >= 0 && a >= 0 })
  }

  /** Reference modularity with exact BigInt rationals + floor. */
  private def refModularity(edges: Seq[(String, String)],
                            label: Map[String, String]): Long = {
    val m = BigInt(edges.size)
    val cs = label.values.toSet.toSeq
    val num = cs.map { c =>
      val ec = BigInt(edges.count(e => label(e._1) == c && label(e._2) == c))
      val dc = BigInt(edges.count(e => label(e._1) == c) +
        edges.count(e => label(e._2) == c))
      4 * m * ec - dc * dc
    }.sum
    val den = 4 * m * m
    val q = (num * 1000000 + 2000000 * den) / den - 2000000 // floor via shift
    q.toLong
  }

  test("modularity: clean two-community graph scores high, exact vs reference") {
    // two triangles joined by one bridge
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val label = Map("a" -> "1", "b" -> "1", "c" -> "1",
      "x" -> "2", "y" -> "2", "z" -> "2")
    val got = GraphOps.modularity(edges.toDF("src", "dst"),
      label.toSeq.toDF("node_id", "label"))
      .as[(Long, Long, Long)].collect().head
    assert(got._1 == 7L && got._2 == 2L)
    assert(got._3 == refModularity(edges, label))
    assert(got._3 > 300000L, "clean split should beat chance clearly")
  }

  test("modularity: anti-community assignment goes NEGATIVE with exact floor") {
    // complete bipartite K23 with the bipartition AS the communities:
    // no intra edges at all -> Q < 0 exercises the sign-safe shift
    val edges = for (a <- Seq("a1", "a2"); b <- Seq("b1", "b2", "b3"))
      yield (a, b)
    val label = Map("a1" -> "A", "a2" -> "A",
      "b1" -> "B", "b2" -> "B", "b3" -> "B")
    val got = GraphOps.modularity(edges.toDF("src", "dst"),
      label.toSeq.toDF("node_id", "label"))
      .as[(Long, Long, Long)].collect().head
    assert(got._3 == refModularity(edges, label))
    assert(got._3 < 0L)
  }

  /** Reference Dijkstra on a small weighted graph. */
  private def refDijkstra(edges: Seq[(String, String, Long)],
                          seeds: Set[String]): Map[String, Long] = {
    val adj = edges.groupBy(_._1)
    val dist = scala.collection.mutable.Map(seeds.map(_ -> 0L).toSeq: _*)
    val pq = scala.collection.mutable.PriorityQueue(
      seeds.map(s => (0L, s)).toSeq: _*)(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dist(u) == d)
        adj.getOrElse(u, Nil).foreach { case (_, v, w) =>
          if (dist.getOrElse(v, Long.MaxValue) > d + w) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
    }
    dist.toMap
  }

  test("weightedSssp ≡ Dijkstra at fixpoint; shorter-hop truncation exact") {
    val rnd = new scala.util.Random(23)
    val nodes = (0 until 40).map(i => s"n$i")
    val edges = (1 to 160).map { _ =>
      (nodes(rnd.nextInt(40)), nodes(rnd.nextInt(40)),
        rnd.nextInt(100).toLong)
    }
    val seeds = Set("n0", "n7")
    val expected = refDijkstra(edges, seeds)
    val got = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"),
        seeds.toSeq.toDF("node_id"), rounds = 45)
      .as[(String, Option[Long])].collect().toMap
    val reached = got.collect { case (n, Some(d)) => n -> d }
    assert(reached == expected, "fixpoint distances match Dijkstra")
    assert(got.collect { case (n, None) => n }.toSet ==
      got.keySet -- expected.keySet, "unreached stay NULL")
  }

  test("weightedSssp: parallel edges collapse to min; zero weights legal") {
    val edges = Seq(("a", "b", 5L), ("a", "b", 2L), ("b", "c", 0L),
      ("a", "c", 9L))
    val got = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node_id"), rounds = 3)
      .as[(String, Option[Long])].collect().toMap
    assert(got == Map("a" -> Some(0L), "b" -> Some(2L), "c" -> Some(2L)))
  }

  test("weightedSssp: rounds bound path length, not correctness beyond it") {
    // chain a→b→c→d of weight 1 each plus a direct expensive edge a→d
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 10L))
    val oneRound = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node_id"), rounds = 1)
      .as[(String, Option[Long])].collect().toMap
    assert(oneRound("d") == Some(10L), "1 round sees only the direct edge")
    val three = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node_id"), rounds = 3)
      .as[(String, Option[Long])].collect().toMap
    assert(three("d") == Some(3L), "3 rounds find the cheap chain")
  }

  test("weightedSssp: negative weights rejected; bucketed branch matches") {
    intercept[IllegalArgumentException] {
      GraphOps.weightedSssp(Seq(("a", "b", -1L)).toDF("src", "dst", "w"),
        Seq("a").toDF("node_id"), rounds = 2)
    }
    val rnd = new scala.util.Random(29)
    val edges = (1 to 120).map { _ =>
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}", rnd.nextInt(50).toLong)
    }
    val seeds = Seq("n1").toDF("node_id")
    val bc = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"), seeds, 6)
      .as[(String, Option[Long])].collect().toMap
    val bucketed = GraphOps.weightedSssp(edges.toDF("src", "dst", "w"),
        seeds, 6, broadcastCutoff = 1L)
      .as[(String, Option[Long])].collect().toMap
    assert(bc == bucketed, "bucketed branch must match broadcast branch")
  }

  test("linkPrediction: hand graphs — path, square, adjacency exclusion") {
    val wDeg2 = math.floor(1e9 / math.log(2.0)).toLong
    // path a-b-c: only (a,c) is predictable, via apex b (deg 2)
    val p = GraphOps.linkPrediction(path, "src", "dst", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(p.toSeq == Seq(("a", "c", 1L, wDeg2)))
    // square a-b-c-d-a: (a,c) via {b,d}, (b,d) via {a,c}; all deg 2
    val sq = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val out = GraphOps.linkPrediction(sq, "src", "dst", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(("a", "c", 2L, 2 * wDeg2), ("b", "d", 2L, 2 * wDeg2)))
  }

  test("linkPrediction: hub cap excludes super-hub witnesses") {
    // star: hub h with 5 leaves — every leaf pair's only witness is h
    val star = (1 to 5).map(i => ("h", s"x$i")).toDF("src", "dst")
    val capped = GraphOps.linkPrediction(star, "src", "dst",
      topK = 100, maxApexDegree = 4)
    assert(capped.count() == 0)
    val uncapped = GraphOps.linkPrediction(star, "src", "dst",
      topK = 100, maxApexDegree = 100)
    assert(uncapped.count() == 10) // C(5,2) leaf pairs
    val w5 = math.floor(1e9 / math.log(5.0)).toLong
    assert(uncapped.collect().forall(r =>
      r.getLong(2) == 1L && r.getLong(3) == w5))
  }

  test("linkPrediction: brute-force differential on a random-ish graph") {
    val edges = (0 until 60).map { i =>
      (s"n${(i * 7) % 12}", s"n${(i * i + 3) % 12}")
    }.filter { case (a, b) => a != b }
    val got = GraphOps.linkPrediction(edges.toDF("src", "dst"),
      "src", "dst", topK = 1000)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // driver replay
    val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val nbrs = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (z, xs) => z -> xs.map(_._2).toSet }
    val expected = (for {
      (z, ns) <- nbrs.toSeq; if ns.size >= 2
      w = math.floor(1e9 / math.log(ns.size.toDouble)).toLong
      a <- ns; b <- ns; if a < b; if !und.contains((a, b))
    } yield ((a, b), w))
      .groupBy(_._1)
      .map { case (k, xs) => k -> (xs.size.toLong, xs.map(_._2).sum) }
    assert(got == expected)
  }

  test("louvainLevel: two bridged triangles collapse to the two true communities") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val out = GraphOps.louvainLevel(edges.toDF("src", "dst"), rounds = 4)
      .select("node_id", "label", "community_size")
      .as[(String, String, Long)].collect()
    val byNode = out.map(r => r._1 -> r._2).toMap
    assert(byNode("a") == byNode("b") && byNode("b") == byNode("c"))
    assert(byNode("x") == byNode("y") && byNode("y") == byNode("z"))
    assert(byNode("a") != byNode("x"), "bridge must not merge the triangles")
    assert(out.forall(_._3 == 3L))
    // the found partition must score at least the ground-truth Q
    val truth = Seq("a" -> "1", "b" -> "1", "c" -> "1",
      "x" -> "2", "y" -> "2", "z" -> "2").toDF("node_id", "label")
    def q(assign: org.apache.spark.sql.DataFrame) =
      GraphOps.modularity(edges.toDF("src", "dst"), assign)
        .select("modularity_ppm").as[Long].collect().head
    assert(q(out.map(r => r._1 -> r._2).toSeq.toDF("node_id", "label")) == q(truth))
  }

  test("louvainLevel: gain arithmetic matches a driver-side replay on a random-ish graph") {
    // deterministic pseudo-random graph, then replay the synchronous
    // update rule in plain Scala and demand bit-identical labels
    val nodes = (0 until 14).map(i => s"n$i")
    val edges = (for {
      i <- 0 until 14; j <- (i + 1) until 14
      if (i * 31 + j * 17) % 5 == 0
    } yield (s"n$i", s"n$j")).toSeq
    val rounds = 3
    val got = GraphOps.louvainLevel(edges.toDF("src", "dst"), rounds)
      .select("node_id", "label").as[(String, String)].collect().toMap
    // reference replay, including the hash-parity move gate
    val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    var assign: Map[String, String] = adj.keys.map(k => k -> k).toMap
    for (r <- 1 to rounds) {
      val tot = assign.groupBy(_._2).map { case (c, ns) => c -> ns.keys.map(deg).sum }
      val cur = assign
      assign = cur.keys.map { i =>
        val kic: Map[String, Long] = adj(i).groupBy(j => cur(j))
          .map { case (c, js) => c -> js.size.toLong }
        val cands: Seq[String] = (kic.keySet + cur(i)).toSeq.sorted
        val gains: Seq[(String, BigInt)] = cands.map { c =>
          val totx: Long = tot(c) - (if (c == cur(i)) deg(i) else 0L)
          c -> (BigInt(2) * BigInt(m) * BigInt(kic.getOrElse(c, 0L)) -
            BigInt(deg(i)) * BigInt(totx))
        }
        val mx: BigInt = gains.map(_._2).max
        // max gain, ties to the smallest label — the operator's rule
        val winner = gains.filter(_._2 == mx).map(_._1).min
        val mayMove = (Bm25Index.portableHashJvm(i) + r) % 2 == 0
        i -> (if (mayMove) winner else cur(i))
      }.toMap
    }
    assert(got == assign)
  }

  test("louvainTwoLevel: coarsens level 1 — every community maps whole") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val l1 = GraphOps.louvainLevel(edges.toDF("src", "dst"), rounds = 4)
      .select("node_id", "label").as[(String, String)].collect().toMap
    val l2 = GraphOps.louvainTwoLevel(edges.toDF("src", "dst"),
      rounds1 = 4, rounds2 = 2)
      .select("node_id", "label", "community_size")
      .as[(String, String, Long)].collect()
    // a partition of all nodes, sizes counted in original nodes
    assert(l2.map(_._1).sorted.toSeq == Seq("a", "b", "c", "x", "y", "z"))
    val bySize = l2.groupBy(_._2)
    l2.foreach { case (_, lb, sz) => assert(bySize(lb).length.toLong == sz) }
    // coarsening: two nodes sharing a level-1 community never split
    for (Seq(p, q) <- l2.toSeq.combinations(2))
      if (l1(p._1) == l1(q._1)) assert(p._2 == q._2,
        s"${p._1} and ${q._1} share a level-1 community but split at level 2")
    // the bridge must still not merge the triangles (ΔQ of the merge
    // is 2m·1 − 7·7 < 0 on the contracted 2-node graph)
    val byNode = l2.map(r => r._1 -> r._2).toMap
    assert(byNode("a") != byNode("x"))
  }

  test("louvainTwoLevel: bit-identical to a driver replay incl. contraction") {
    val nodes = (0 until 14).map(i => s"n$i")
    val edges = (for {
      i <- 0 until 14; j <- (i + 1) until 14
      if (i * 31 + j * 17) % 5 == 0
    } yield (s"n$i", s"n$j")).toSeq
    val (r1, r2) = (2, 2)
    val got = GraphOps.louvainTwoLevel(edges.toDF("src", "dst"), r1, r2)
      .select("node_id", "label").as[(String, String)].collect().toMap
    val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val m = und.size.toLong
    // the shared synchronous weighted sweep, replayed in plain Scala
    def sweep(adjW: Map[String, Seq[(String, Long)]], deg: Map[String, Long],
        rounds: Int): Map[String, String] = {
      var assign: Map[String, String] = deg.keys.map(k => k -> k).toMap
      for (r <- 1 to rounds) {
        val tot = assign.groupBy(_._2).map { case (c, ns) => c -> ns.keys.map(deg).sum }
        val cur = assign
        assign = cur.keys.map { i =>
          val kic: Map[String, Long] = adjW.getOrElse(i, Seq.empty)
            .groupBy { case (j, _) => cur(j) }
            .map { case (c, js) => c -> js.map(_._2).sum }
          val cands: Seq[String] = (kic.keySet + cur(i)).toSeq.sorted
          val gains: Seq[(String, BigInt)] = cands.map { c =>
            val totx: Long = tot(c) - (if (c == cur(i)) deg(i) else 0L)
            c -> (BigInt(2) * BigInt(m) * BigInt(kic.getOrElse(c, 0L)) -
              BigInt(deg(i)) * BigInt(totx))
          }
          val mx: BigInt = gains.map(_._2).max
          val winner = gains.filter(_._2 == mx).map(_._1).min
          val mayMove = (Bm25Index.portableHashJvm(i) + r) % 2 == 0
          i -> (if (mayMove) winner else cur(i))
        }.toMap
      }
      assign
    }
    val adj1 = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(j => (j._2, 1L)) }
    val a1 = sweep(adj1, adj1.map { case (k, v) => k -> v.size.toLong }, r1)
    // contraction: inter-community multiplicities, self-loop degree
    val wund = und.map { case (a, b) =>
      val (la, lb) = (a1(a), a1(b))
      (if (la < lb) la else lb, if (la < lb) lb else la)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val adj2 = wund.toSeq.filter { case ((ca, cb), _) => ca != cb }
      .flatMap { case ((ca, cb), w) => Seq(ca -> (cb, w), cb -> (ca, w)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val deg2 = a1.values.toSeq.distinct.map { c =>
      c -> (adj2.getOrElse(c, Seq.empty).map(_._2).sum +
        2L * wund.getOrElse((c, c), 0L))
    }.toMap
    val a2 = sweep(adj2, deg2, r2)
    assert(got == a1.map { case (nd, l1) => nd -> a2(l1) })
  }

  test("louvainLevels: fixpoint ≡ deeper unroll, modularity non-decreasing per level") {
    // random-ish graph with enough structure to contract at least once
    val edges = (for {
      i <- 0 until 14; j <- (i + 1) until 14
      if (i * 31 + j * 17) % 5 == 0
    } yield (s"n$i", s"n$j")).toDF("src", "dst")
    val g = GraphOps.rankGraph(edges)
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("node_id", "label").as[(String, String)].collect().toMap
    def q(assign: Map[String, String]) =
      GraphOps.modularity(edges, assign.toSeq.toDF("node_id", "label"))
        .select("modularity_ppm").as[Long].collect().head
    // modularity must not decrease level over level on this fixture
    val perLevel = (1 to 4).map(k =>
      q(labelsOf(GraphOps.louvainLevels(g, roundsPerLevel = 2, maxLevels = k))))
    perLevel.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"modularity decreased across a level: $perLevel")
    }
    // the early exit is exact: once converged, deeper maxLevels are a no-op
    val fix4 = labelsOf(GraphOps.louvainLevels(g, roundsPerLevel = 2, maxLevels = 4))
    val fix8 = labelsOf(GraphOps.louvainLevels(g, roundsPerLevel = 2, maxLevels = 8))
    assert(fix4 == fix8, "converged fixpoint changed under a deeper level cap")
    // and level 2 of the fixpoint ≡ the dedicated two-level operator
    val two = labelsOf(GraphOps.louvainTwoLevel(g, rounds1 = 2, rounds2 = 2))
    assert(labelsOf(GraphOps.louvainLevels(g, roundsPerLevel = 2, maxLevels = 2)) == two)
  }

  test("precomputed-L1 overloads ≡ inline, incl. a parquet round-trip") {
    // the shared-materialization contract behind WarehouseQueries'
    // spLouvainL1: a MATERIALIZED copy of louvainLevelAssign handed to
    // the assignment-taking overloads must reproduce the inline result
    // bit-for-bit (q212/q246 read the durable frame; their oracles
    // recompute from scratch)
    val edges = (for {
      i <- 0 until 14; j <- (i + 1) until 14
      if (i * 31 + j * 17) % 5 == 0
    } yield (s"n$i", s"n$j")).toDF("src", "dst")
    val g = GraphOps.rankGraph(edges)
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("node_id", "label").as[(String, String)].collect().toMap
    val dir = SparkSpec.tempDir("l1").resolve("a1")
    GraphOps.louvainLevelAssign(g, rounds = 2)
      .write.mode("overwrite").parquet(dir.toString)
    val l1 = spark.read.parquet(dir.toString)
    assert(labelsOf(GraphOps.louvainTwoLevel(g, l1, rounds2 = 2)) ==
      labelsOf(GraphOps.louvainTwoLevel(g, rounds1 = 2, rounds2 = 2)))
    assert(labelsOf(GraphOps.louvainLevels(g, l1, roundsPerLevel = 2,
        maxLevels = 4)) ==
      labelsOf(GraphOps.louvainLevels(g, roundsPerLevel = 2, maxLevels = 4)))
  }

  test("rankGraph overloads ≡ edge-frame entry points on a symmetric input") {
    val und = (for {
      i <- 0 until 12; j <- (i + 1) until 12
      if (i * 13 + j * 7) % 4 == 0
    } yield (s"n$i", s"n$j")).toSeq
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val g = GraphOps.rankGraph(sym)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("node_id", "label", "community_size")
        .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    assert(m(GraphOps.labelPropagation(g, 3)) ==
      m(GraphOps.labelPropagation(sym, 3, assumeDistinct = true)),
      "RankedGraph labelPropagation diverged from the edge-frame variant")
    assert(m(GraphOps.louvainLevel(g, 2)) == m(GraphOps.louvainLevel(sym, 2)))
    assert(m(GraphOps.louvainTwoLevel(g, 2, 2)) ==
      m(GraphOps.louvainTwoLevel(sym, 2, 2)))
  }
}
