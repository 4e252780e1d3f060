package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = (0 until 200).map { i =>
    val rnd = new scala.util.Random(i)
    (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)
  }.toDF("id", "vec").cache()

  test("cosine basics") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f)),
      (Seq(0.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val out = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].collect()
    assert(out(0) == 1.0 && math.abs(out(1)) < 1e-12 && out(2) == -1.0 && out(3) == 0.0)
  }

  test("bruteForceTopK: k rows per query, self excluded, ranked desc") {
    val queries = vecs.filter($"id" < 5)
    val out = Similarity.bruteForceTopK(queries, vecs, "id", "vec", k = 5).cache()
    assert(out.count() == 25)
    assert(out.filter($"query_id" === $"neighbor_id").count() == 0)
    val r0 = out.filter($"query_id" === 0).orderBy("rank")
      .select("cosine").as[Double].collect()
    assert(r0.toSeq == r0.sortBy(-_).toSeq) // descending
  }

  test("maxSimTopK: bit-identical to a driver MaxSim replay; self-doc excluded") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val dims = 4
    // 6 docs × 3 tokens each, integer vectors (already "quantized")
    val toks = (0 until 18).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val out = Similarity.maxSimTopK(df, q, k = 3, excludeSelfDoc = true)
      .select("query_id", "doc_id", "maxsim", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    // driver replay: per query token the max dot over each doc's
    // tokens, summed per doc, top-3 docs by (score desc, doc asc)
    val byDoc = toks.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    val expected = (0L until 2L).flatMap { qd =>
      val scores = byDoc.keys.filter(_ != qd).toSeq.map { d =>
        val s = byDoc(qd).map { qt =>
          byDoc(d).map(dt => qt.zip(dt).map { case (a, b) => a * b }.sum).max
        }.sum
        (d, s)
      }
      scores.sortBy { case (d, s) => (-s, d) }.take(3).zipWithIndex
        .map { case ((d, s), r) => (qd, d, s, r + 1) }
    }.sorted
    assert(out == expected)
    assert(out.forall { case (qd, d, _, _) => qd != d })
  }

  test("maxSimRefineTopK: full-width candidates ≡ exact; survivors keep exact scores") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val dims = 4
    val toks = (0 until 24).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "doc_id", "maxsim", "rank")
        .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    // kCand ≥ #docs: pruning is a no-op, the pipeline IS the exact path
    val exact = rows(Similarity.maxSimTopK(df, q, k = 3, excludeSelfDoc = true))
    assert(rows(Similarity.maxSimRefineTopK(df, q, kCand = 8, k = 3,
      excludeSelfDoc = true)) == exact)
    // tight kCand: pruning may change the SET, never a survivor's score
    val exactScores = rows(Similarity.maxSimTopK(df, q, k = 7,
      excludeSelfDoc = true)).map { case (qd, d, s, _) => (qd, d) -> s }.toMap
    val pruned = rows(Similarity.maxSimRefineTopK(df, q, kCand = 2, k = 3,
      excludeSelfDoc = true))
    assert(pruned.nonEmpty)
    assert(pruned.forall { case (qd, d, s, _) => exactScores((qd, d)) == s })
  }

  test("maxSimSrpTopK: SRP candidates are a subset pruning — survivors keep exact scores") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(17)
    val dims = 8
    val toks = (0 until 36).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "doc_id", "maxsim", "rank")
        .as[(Long, Long, Long, Int)].collect().toSeq.sorted
    // exact score of EVERY (query, doc) pair as the reference
    val exactScores = rows(Similarity.maxSimTopK(df, q, k = 12,
      excludeSelfDoc = true)).map { case (qd, d, s, _) => (qd, d) -> s }.toMap
    // few planes → frequent collisions; the ANN path may prune the SET
    // but must never alter a survivor's score, rank order, or self-excl
    val ann = rows(Similarity.maxSimSrpTopK(df, q, kCand = 8, k = 3,
      planes = 2, tables = 3, dims = dims, excludeSelfDoc = true))
    assert(ann.nonEmpty)
    assert(ann.forall { case (qd, d, s, _) => qd != d && exactScores((qd, d)) == s })
    for ((qd, g) <- ann.groupBy(_._1)) {
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4) == (1 to sorted.size), s"ranks for query $qd")
      assert(sorted.map(r => (-r._3, r._2)) == sorted.map(r => (-r._3, r._2)).sorted,
        s"(maxsim desc, doc asc) order for query $qd")
    }
  }

  test("maxSimRecallCurve: each cut ≡ running the two-stage pipeline at that kCand") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    val dims = 4
    // 10 docs × 3 tokens — wide enough that tight cuts actually prune
    val toks = (0 until 30).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val cuts = Seq(2, 4, 16)
    val curve = Similarity.maxSimRecallCurve(df, q, cuts, k = 3,
        excludeSelfDoc = true)
      .select("kcand", "hits", "total", "recall_ppm")
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val exact = Similarity.maxSimTopK(df, q, k = 3, excludeSelfDoc = true)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    // per cut: the sweep's hit count equals what an independent
    // maxSimRefineTopK run at that kCand scores against the exact set
    for ((kc, hits, total, ppm) <- curve) {
      val refine = Similarity.maxSimRefineTopK(df, q, kCand = kc, k = 3,
          excludeSelfDoc = true)
        .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
      assert(total == exact.size.toLong, s"total at kCand=$kc")
      assert(hits == refine.count(exact).toLong, s"hits at kCand=$kc")
      assert(ppm == hits * 1000000L / total, s"ppm at kCand=$kc")
    }
    // monotone in kCand, and the ≥-all-docs cut is exact (recall 1)
    assert(curve.map(_._2) == curve.map(_._2).sorted)
    assert(curve.last._4 == 1000000L)
  }

  test("buildMaxSimSrpIndex + maxSimSrpProbe: pruned scan, bit-identical to the scan path") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    val dims = 8
    val toks = (0 until 48).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val dir = SparkSpec.tempDir("maxsimsrpidx").toString
    Similarity.buildMaxSimSrpIndex(df, dir, planes = 2, tables = 3, dims = dims)
    val probed = Similarity.maxSimSrpProbe(df, q, dir, kCand = 8, k = 3,
      excludeSelfDoc = true)
    // partition pruning on the (t, bucket) directories is in the plan
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[.*bucket.*"), planStr)
    // bit-identical to the scan path at the index's pinned parameters
    val direct = Similarity.maxSimSrpTopK(df, q, kCand = 8, k = 3,
      planes = 2, tables = 3, dims = dims, excludeSelfDoc = true)
    assert(probed.collect().map(_.toString).sorted.toSeq ==
      direct.collect().map(_.toString).sorted.toSeq)
    assert(probed.count() > 0)
    // meta pins the build parameters
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Int]("planes") == 2 && meta.getAs[Int]("tables") == 3 &&
      meta.getAs[Int]("dims") == dims)
    // an empty query set probes nothing and returns an empty frame
    assert(Similarity.maxSimSrpProbe(df, q.filter(col("query_id") < 0),
      dir, kCand = 8, k = 3).count() == 0)
  }

  test("maxSimSrpTablesCurve: each cut ≡ running maxSimSrpTopK at that tables count") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    val dims = 8
    val toks = (0 until 60).map { i =>
      (i.toLong / 3, i.toLong, Seq.fill(dims)(rnd.nextInt(2001) - 1000L))
    }
    val df = toks.toDF("doc_id", "tok_id", "qv")
    val q = df.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val cuts = Seq(1, 2, 4)
    val curve = Similarity.maxSimSrpTablesCurve(df, q, cuts, kCand = 6,
        k = 3, planes = 2, dims = dims, excludeSelfDoc = true)
      .select("tables", "hits", "total", "recall_ppm")
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(curve.map(_._1) == cuts, "one row per cut, even an empty one")
    val exact = Similarity.maxSimTopK(df, q, k = 3, excludeSelfDoc = true)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    // per cut: hits equal what an independent maxSimSrpTopK run at
    // that tables count scores against the exact set
    for ((t, hits, total, ppm) <- curve) {
      val indep = Similarity.maxSimSrpTopK(df, q, kCand = 6, k = 3,
          planes = 2, tables = t, dims = dims, excludeSelfDoc = true)
        .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
      assert(total == exact.size.toLong, s"total at tables=$t")
      assert(hits == indep.count(exact).toLong, s"hits at tables=$t")
      assert(ppm == hits * 1000000L / total, s"ppm at tables=$t")
    }
    // NOTE: recall is typically but not provably monotone in tables —
    // the candidate SETS nest, but a wider set can push a low-pdot
    // true positive out of the kCand stage-1 cut — so the pin is the
    // per-cut differential above, not monotonicity
  }

  test("marginMineQuantized: bit-identical to a driver replay; hub demotion") {
    val rnd = new scala.util.Random(41)
    val dims = 6
    val rows = (0 until 24).map(i =>
      (i.toLong, Seq.fill(dims)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "vec")
    val k = 3
    val got = Similarity.marginMineQuantized(
      df.filter($"id" % 2 === 0), df.filter($"id" % 2 === 1),
      "id", "vec", k = k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap

    // driver replay of the exact pipeline
    def q(v: Seq[Double]) = v.map(x => math.floor(x * 1e6).toLong)
    def cosPpm(a: Seq[Long], b: Seq[Long]): Long = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val n = math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble)
      if (n == 0.0) 0L else math.floor(d / n * 1e6).toLong
    }
    val lhs = rows.filter(_._1 % 2 == 0).map { case (i, v) => i -> q(v) }
    val rhs = rows.filter(_._1 % 2 == 1).map { case (i, v) => i -> q(v) }
    val sc = for ((x, xv) <- lhs; (y, yv) <- rhs)
      yield (x, y, cosPpm(xv, yv))
    val sx = sc.groupBy(_._1).map { case (x, xs) =>
      x -> xs.sortBy(t => (-t._3, t._2)).take(k).map(_._3).sum }
    val sy = sc.groupBy(_._2).map { case (y, ys) =>
      y -> ys.sortBy(t => (-t._3, t._1)).take(k).map(_._3).sum }
    val expected = sc
      .filter(t => t._3 > 0 && sx(t._1) + sy(t._2) > 0)
      .map { case (x, y, c) =>
        (x, y, c, c * 2 * k * 1000000L / (sx(x) + sy(y))) }
      .groupBy(_._1).map { case (x, ps) =>
        val best = ps.minBy(p => (-p._4, p._2))
        x -> (best._2, best._3, best._4)
      }
    assert(got == expected)
  }

  test("marginMineQuantized: margin separates an aligned pair from a hub") {
    // y0 is a hub (equal cosine to every x); y1 aligns only with x2.
    // Raw cosine would pair every x with the hub; the margin pairs x2
    // with its exclusive partner.
    val base = Seq(1.0, 0.0, 0.0)
    val lhs = Seq(
      (0L, Seq(1.0, 0.2, 0.0)), (2L, Seq(1.0, 0.0, 0.9)), (4L, Seq(1.0, -0.2, 0.0)))
    val rhs = Seq(
      (1L, base),                    // hub: high cos to all lhs
      (3L, Seq(1.0, 0.0, 1.1)))      // exclusive partner of x=2
    val out = Similarity.marginMineQuantized(
      lhs.toDF("id", "vec"), rhs.toDF("id", "vec"), "id", "vec", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 3L) // the aligned pair wins over the hub
  }

  test("ivfTopK: good recall vs brute force") {
    val queries = vecs.filter($"id" < 10)
    val brute = Similarity.bruteForceTopK(queries, vecs, "id", "vec", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, vecs, "id", "vec", k = 5,
      nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("NearestCentroids: argmin matches driver math, zero Exchange in plan") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.NearestCentroids
    val rnd = new scala.util.Random(11)
    val cents = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val assigned = vecs.withColumn("cell", NearestCentroids.nearestCell(col("vec"), cents))
    // projection only — the whole point is no Exchange for assignment
    assert(!assigned.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = assigned.select("id", "cell").as[(Long, Int)].collect().toMap
    val raw = vecs.select("id", "vec").as[(Long, Seq[Float])].collect()
    raw.foreach { case (id, v) =>
      val dists = cents.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      val expect = dists.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      assert(got(id) == expect, s"id=$id got=${got(id)} expect=$expect")
    }
    // top-n probe order: strictly increasing distance, ties by index
    val probe2 = vecs.withColumn("cells", NearestCentroids(col("vec"), cents, 3))
      .select("id", "cells").as[(Long, Seq[Int])].collect()
    probe2.foreach { case (id, cells) =>
      val v = raw.toMap.apply(id)
      val dists = cents.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      val expect = dists.zipWithIndex.sortBy { case (d, i) => (d, i) }.take(3).map(_._2)
      assert(cells == expect.toSeq, s"id=$id")
    }
  }

  test("NearestCentroids: structurally identical expressions are semantically equal") {
    // the Array[Array[Double]] field would compare by reference under
    // the synthesized case-class equals, defeating Catalyst
    // canonicalization and subexpression elimination — content equality
    // is overridden, and must survive independently-built copies
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.graft.NearestCentroids
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def build() = new NearestCentroids(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      Array(Array(1.0, 2.0), Array(3.0, 4.0)), 1)
    val (a, b) = (build(), build())
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b), "canonicalized forms diverged")
    val c = new NearestCentroids(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      Array(Array(1.0, 2.0), Array(3.0, 9.0)), 1)
    assert(a != c, "different centroids must not compare equal")
  }

  test("buildIvfIndex + ivfProbe: prunes partitions, matches ivfTopK") {
    val dir = SparkSpec.tempDir("ivf").toString
    val queries = vecs.filter($"id" < 10)
    Similarity.buildIvfIndex(vecs, "id", "vec", dir, nCells = 8)
    assert(new java.io.File(s"$dir/data").listFiles()
      .count(_.getName.startsWith("cell=")) == 8)
    val probed = Similarity.ivfProbe(queries, dir, "id", "vec", k = 5, nProbe = 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val direct = Similarity.ivfTopK(queries, vecs, "id", "vec", k = 5,
      nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(probed == direct) // same seed → same quantizer → identical results
  }

  test("buildIvfIndexQuantized + ivfProbeQuantized: pruned scan, exact integer ranking") {
    val dir = SparkSpec.tempDir("ivfq").toString
    val queries = vecs.filter($"id" < 10)
    val cents = Similarity.buildIvfIndexQuantized(vecs, "id", "vec", dir, nCells = 8)
    assert(cents.length == 8 && cents.forall(_.length == 16))
    val probed = Similarity.ivfProbeQuantized(queries, dir, "id", "vec", k = 5, nProbe = 4)
    // the scale property is in the PLAN: the index scan must carry a
    // partition filter on the cell directory column (pruned read)
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[.*cell.*"), planStr)
    // replay the whole probe pipeline on the driver in the same exact
    // integer arithmetic — results must match row for row
    val raw = vecs.select("id", "vec").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray }
    def sq(a: Array[Long], c: Array[Long]): Long =
      a.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val assign = raw.map { case (id, q) =>
      id -> cents.zipWithIndex.minBy { case (c, i) => (sq(q, c), i) }._2
    }.toMap
    val expect = raw.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val cells = cents.zipWithIndex.sortBy { case (c, i) => (sq(qv, c), i) }
        .take(4).map(_._2).toSet
      raw.filter { case (nid, _) => nid != qid && cells(assign(nid)) }
        .map { case (nid, nv) =>
          val cos = dot(qv, nv).toDouble /
            (math.sqrt(dot(qv, qv).toDouble) * math.sqrt(dot(nv, nv).toDouble))
          (qid, nid, cos)
        }
        .sortBy { case (_, nid, cos) => (-cos, nid) }.take(5).zipWithIndex
        .map { case ((q, n, c), r) => (q, n, c, r + 1) }
    }.toSet
    val got = probed.select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == expect)
  }

  test("buildSrpIndex + srpProbe: pruned scan, identical to the direct path") {
    val dir = SparkSpec.tempDir("srpidx").toString
    val queries = vecs.filter($"id" < 10)
    Similarity.buildSrpIndex(vecs, "id", "vec", dir, planes = 4, tables = 2, dims = 16)
    val probed = Similarity.srpProbe(queries, dir, "id", "vec", k = 5)
    // partition pruning on the (t, bucket) directories is in the plan
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[.*bucket.*"), planStr)
    val direct = Similarity.srpTopKQuantized(queries, vecs, "id", "vec",
      k = 5, planes = 4, tables = 2, dims = 16)
    assert(probed.collect().map(_.toString).sorted.toSeq ==
      direct.collect().map(_.toString).sorted.toSeq)
    // probing with the index's own pinned parameters: meta round-trips
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Int]("planes") == 4 && meta.getAs[Int]("tables") == 2)
    // an empty query set probes nothing and returns an empty frame
    assert(Similarity.srpProbe(vecs.filter($"id" < 0), dir, "id", "vec", 5)
      .count() == 0)
  }

  test("srpTopKQuantized: deterministic, identical vectors rank first") {
    val withDup = vecs.unionByName(
      vecs.filter($"id" === 3).select(($"id" + 500).as("id"), $"vec"))
    val queries = withDup.filter($"id" === 3)
    val out = Similarity.srpTopKQuantized(queries, withDup, "id", "vec",
      k = 5, planes = 6, tables = 4, dims = 16)
    val top = out.filter($"rank" === 1)
      .select("neighbor_id", "cosine").as[(Long, Double)].head()
    assert(top._1 == 503L && top._2 == 1.0) // identical vector always collides & ranks first
    // bit-determinism across runs (quantized path has no float summation)
    val a = out.collect().map(_.toString).toSeq
    val b = Similarity.srpTopKQuantized(queries, withDup, "id", "vec",
      k = 5, planes = 6, tables = 4, dims = 16).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("hardNegativesQuantized: same-label and self excluded, ranked desc") {
    import org.apache.spark.sql.functions.col
    // labels: two interleaved groups; nearest same-label twin must be skipped
    val labeled = Seq(
      (0L, 0, Seq(1.0f, 0.0f)),
      (1L, 0, Seq(0.99f, 0.01f)),   // near-twin of 0, SAME label → excluded
      (2L, 1, Seq(0.9f, 0.1f)),     // nearest different-label
      (3L, 1, Seq(0.0f, 1.0f)),     // far different-label
      (4L, 0, Seq(-1.0f, 0.0f)))
      .toDF("id", "label", "vec")
    val out = Similarity.hardNegativesQuantized(labeled, "id", "vec", "label",
      col("id") === 0, k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 3L),
      "negatives must be different-label, nearest first")
    assert(out.map(_.getInt(3)).forall(_ == 1))
    assert(out(0).getDouble(4) > out(1).getDouble(4))
  }

  test("srpTopK: candidates only, correct shape") {
    val queries = vecs.filter($"id" < 5)
    val out = Similarity.srpTopK(queries, vecs, "id", "vec", k = 5,
      planes = 6, tables = 4).cache()
    assert(out.filter($"query_id" === $"neighbor_id").count() == 0)
    assert(out.groupBy("query_id").count()
      .select("count").as[Long].collect().forall(_ <= 5))
  }

  test("fitBalancedQuantizedCentroids: hot cell re-splits under the bound") {
    // 60% of the corpus in one tight (but jittered, so splittable)
    // blob, the rest spread — with nCells=4 the blob lands in one
    // cell far over a 0.2 bound; the balanced fit must break it up
    val rnd = new scala.util.Random(7)
    val hot = (0 until 300).map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        5.0f + (rnd.nextGaussian() * 0.3).toFloat + d * 0.01f))
    }
    val cold = (300 until 500).map { i =>
      (i.toLong, Seq.fill(8)((rnd.nextGaussian() * 4).toFloat))
    }
    val corpus = (hot ++ cold).toDF("id", "vec").cache()
    val bound = math.ceil(500 * 0.2).toLong
    val plain = Similarity.fitQuantizedCentroids(corpus, "vec", nCells = 4)
    def sizes(cents: Array[Array[Double]]): Map[Int, Long] = {
      import org.apache.spark.sql.functions._
      corpus.select(org.apache.spark.sql.graft.NearestCentroids
          .nearestCell(VectorFunctions.quantize(col("vec")), cents).as("cell"))
        .groupBy("cell").count()
        .as[(Int, Long)].collect().toMap
    }
    assert(sizes(plain).values.max > bound, "setup: the blob must overflow")
    val bal = Similarity.fitBalancedQuantizedCentroids(corpus, "vec",
      nCells = 4, maxCellFraction = 0.2)
    assert(bal.length > plain.length, "hot cell must have been re-split")
    assert(sizes(bal).values.max <= bound,
      s"balanced sizes ${sizes(bal)} must all be under $bound")
    // deterministic: the re-fit is seeded per (round, cell)
    val bal2 = Similarity.fitBalancedQuantizedCentroids(corpus, "vec",
      nCells = 4, maxCellFraction = 0.2)
    assert(bal.map(_.toSeq).toSeq == bal2.map(_.toSeq).toSeq)
    // no hot cell -> identical to the plain fit (zero-cost cold path)
    val loose = Similarity.fitBalancedQuantizedCentroids(corpus, "vec",
      nCells = 4, maxCellFraction = 1.0)
    assert(loose.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("mutualPairs keeps only reciprocal neighbors, once, with both ranks") {
    import spark.implicits._
    // a<->b mutual; c->a one-directional (a's list doesn't contain c)
    val knn = Seq(
      (1L, 2L, 0.9, 1), (1L, 4L, 0.5, 2),
      (2L, 1L, 0.8, 2), (2L, 4L, 0.85, 1),
      (3L, 1L, 0.7, 1), (3L, 2L, 0.6, 2),
      (4L, 2L, 0.85, 1), (4L, 1L, 0.5, 2)
    ).toDF("query_id", "neighbor_id", "cosine", "rank")
    val out = Similarity.mutualPairs(knn).orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getInt(4))).toSeq
    // mutual: (1,2) ranks (1,2); (1,4) ranks (2,2); (2,4) ranks (1,1);
    // 3's claims are one-directional -> dropped
    assert(out == Seq((1L, 2L, 1, 2), (1L, 4L, 2, 2), (2L, 4L, 1, 1)))
  }

  test("mutualTopKQuantized: a hub in everyone's list survives only toward its true peers") {
    import spark.implicits._
    // hub at the origin-ish center, two tight satellite pairs far apart:
    // with k=1 each satellite's list holds its twin, so hub pairs die
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.1f)),   // pair A
      (3L, Seq(-1.0f, 0.05f)), (4L, Seq(-0.99f, 0.0f)) // pair B
    ).toDF("vec_id", "embedding")
    val out = Similarity.mutualTopKQuantized(emb, "vec_id", "embedding", k = 1)
      .orderBy("id_a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L), (3L, 4L)))
  }
}
