package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query
  *    set against the corpus, per-query top-k window. Scales linearly in
  *    corpus size with no shuffle of the corpus itself.
  *  - [[ivfTopK]]: IVF scale path — k-means coarse quantizer (MLlib),
  *    corpus bucketed by nearest centroid, queries probe only
  *    `nProbe` nearest cells. Corpus-side work drops by
  *    ~nProbe/nCells; the bucketed corpus can be written partitioned by
  *    cell so probes prune partitions at read time.
  *  - [[srpTopK]]: LSH alternative when training a quantizer is
  *    undesirable — multi-table sign-random-projection buckets.
  *
  * Results are deterministic: ranking on rounded similarity with id
  * tie-break.
  *
  * Construction-time side effects: quantizer fitting, index builds, and
  * [[Materialize.once]] stages run Spark jobs when the result DataFrame
  * is CONSTRUCTED, not at the first caller action (see Materialize's
  * doc for the localCheckpoint trade-off).
  */
object Similarity {

  /** See Dedup.fanOut: don't inherit a small file's split count for
    * O(pairs) compute stages. */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-query top-k + rank over a scored candidate frame — through
    * the bounded-heap [[ScaleOps.topKPerKey]] plan node, NOT a
    * row_number window over the candidates: the window composition
    * full-sorts the entire candidate frame per partition (at sf1 the
    * brute mutual-kNN candidate frame is 4·10⁸ rows — measured
    * 12 MINUTES of TimSort; the heap pass is O(rows·log k)). The rank
    * column is then attached by a window over the k-BOUNDED result
    * (≤ queries·k rows), which reproduces row_number's exact values
    * because the order (scoreCol desc, idCol asc) is total. */
  private def rankTopK(scored: DataFrame, k: Int,
                       idCol: String = "neighbor_id",
                       scoreCol: String = "cosine"): DataFrame =
    ScaleOps.topKPerKey(scored, Seq("query_id"),
        Seq(col(scoreCol).desc, col(idCol).asc), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(scoreCol).desc, col(idCol).asc)))

  /** Exact top-k neighbors for each query vector (excluding self-match
    * on equal ids). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = fanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    * SIGIR 2020): queries and documents are BAGS of token vectors and
    * score(Q, D) = Σ_{q∈Q} max_{d∈D} ⟨q, d⟩ — each query token finds
    * its best-matching document token and the per-token maxima sum.
    * Inputs are PRE-QUANTIZED integer vectors (`VectorFunctions
    * .quantize`), so every dot is an exact integer, every max is
    * order-free, and the summed score is an exact BIGINT — the q250
    * oracle replays it bit-for-bit (ColBERT normalizes token vectors,
    * where inner product ≡ cosine; the quantized-dot form keeps that
    * semantics engine-exact).
    *
    * `docTokens`: (doc_id, qv) one row per document token;
    * `queryTokens`: (query_id, tok_id, qv) one row per query token.
    * Returns (query_id, doc_id, maxsim, rank), top `k` docs per query.
    *
    * 100 TB shape: the query token set broadcasts; the corpus token
    * table streams through ONE codegen'd dot projection and two
    * re-aggregable hash aggregates (max, then sum — both map-side
    * partial), so shuffle volume is |queries·qtokens·docs| AFTER
    * partial max, never the token-pair count; ranking is the bounded-
    * heap [[ScaleOps.topKPerKey]] node, no full sort. For corpus-scale
    * retrieval, prefilter candidate doc_ids with the IVF/SRP paths
    * over pooled doc vectors and keep this as the exact re-scorer —
    * the standard two-stage late-interaction deployment. */
  def maxSimTopK(docTokens: DataFrame, queryTokens: DataFrame, k: Int,
                 excludeSelfDoc: Boolean = false): DataFrame = {
    val c = fanOut(docTokens).select(col("doc_id"), col("qv").as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok_id"),
      col("qv").as("qtv"))
    val pairs0 = c.crossJoin(broadcast(q))
    val pairs = (if (excludeSelfDoc)
        pairs0.filter(col("doc_id") =!= col("query_id")) else pairs0)
      .select(col("query_id"), col("tok_id"), col("doc_id"),
        graft.functions.VectorFunctions.intDot(col("qtv"), col("dv"))
          .as("dot"))
    scoreAndRank(pairs, k)
  }

  /** The MaxSim scoring + ranking tail shared by every late-
    * interaction entry point: per-(query token, doc) max integer dot,
    * summed per (query, doc), bounded-heap top-k with the
    * (maxsim desc, doc_id asc) total order and row_number rank. ONE
    * copy so the exact scorer, the two-stage refiner, and the recall
    * sweep cannot drift apart in tie-break or aggregation semantics.
    * `pairs`: (query_id, tok_id, doc_id, dot). */
  private def scoreAndRank(pairs: DataFrame, k: Int): DataFrame =
    ScaleOps.topKPerKey(maxSimScores(pairs), Seq("query_id"),
        Seq(col("maxsim").desc, col("doc_id").asc), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("maxsim").desc, col("doc_id").asc)))
      .select(col("query_id"), col("doc_id"), col("maxsim"), col("rank"))

  /** The two re-aggregable hash aggregates of the MaxSim score —
    * (query_id, doc_id, maxsim) with no ranking cut, for callers that
    * need every candidate's exact score (the recall sweep scores one
    * widened candidate set and ranks it at several cuts). */
  private def maxSimScores(pairs: DataFrame): DataFrame =
    pairs.groupBy("query_id", "tok_id", "doc_id")
      .agg(max(col("dot")).as("mx"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("mx")).as("maxsim"))

  /** Sum-pooled single-vector sketch of a token bag: element-wise
    * integer sum per id — the cheap bi-encoder-style representation
    * the two-stage late-interaction pipeline prunes with. Sum (not
    * mean) pooling keeps everything division-free and exact; the
    * length bias it carries toward bigger bags is absorbed by the
    * exact [[maxSimTopK]] re-score of the surviving candidates. */
  private def sumPooled(tokens: DataFrame, idCol: String): DataFrame =
    // ONE hash aggregate (ObjectHashAggregate, map-side partial) with a
    // primitive long[dims] accumulator — the posexplode → groupBy(id,
    // dim) → collect_list+array_sort formulation fanned every token out
    // to `dims` rows and paid TWO exchanges per pooling (r17 "not yet
    // optimized" item; guide §2.3/§2.4). Values are bit-identical: long
    // adds are order-free (see LongArraySum's scaladoc for the edge-case
    // contract). The isNotNull filter reproduces the explode form's
    // drop of ids whose every token vector is null/empty.
    tokens.groupBy(idCol)
      .agg(org.apache.spark.sql.graft.LongArraySum(col("qv")).as("pool"))
      .filter(col("pool").isNotNull)

  /** Two-stage late-interaction retrieval: prune with sum-pooled
    * single-vector dots (`kCand` candidates per query), then re-score
    * ONLY the candidates with the exact [[maxSimTopK]] MaxSim and
    * keep the top `k`. Both stages are all-integer on quantized
    * vectors, so the q251 oracle replays candidate selection and
    * re-scoring bit-for-bit — the recall-vs-exact audit is then a
    * meaningful measurement, not float noise.
    *
    * 100 TB shape: stage 1 touches one pooled row per document
    * (corpus-token table reduced by an 8–100× pooling factor before
    * the broadcast-join scoring); stage 2's token-level work is
    * bounded by |queries|·kCand documents instead of the corpus.
    * The candidate frame (|queries|·kCand rows) broadcasts into the
    * token join, so the corpus token table is filtered by a
    * broadcast semi-join — never shuffled. */
  def maxSimRefineTopK(docTokens: DataFrame, queryTokens: DataFrame,
                       kCand: Int, k: Int,
                       excludeSelfDoc: Boolean = false): DataFrame = {
    val dPool = fanOut(sumPooled(docTokens, "doc_id"))
    val qPool = sumPooled(queryTokens.select(col("query_id").as("doc_id"),
        col("tok_id"), col("qv")), "doc_id")
      .select(col("doc_id").as("query_id"), col("pool").as("qpool"))
    val scored0 = dPool.crossJoin(broadcast(qPool))
    val scored = (if (excludeSelfDoc)
        scored0.filter(col("doc_id") =!= col("query_id")) else scored0)
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorFunctions.intDot(col("pool"), col("qpool"))
          .as("pdot"))
    val cand = ScaleOps.topKPerKey(scored, Seq("query_id"),
        Seq(col("pdot").desc, col("doc_id").asc), kCand)
      .select(col("query_id"), col("doc_id"))
    rescoreCandidates(docTokens, queryTokens, cand, k)
  }

  /** Stage 2 of every two-stage MaxSim pipeline: exact re-score of a
    * (query_id, doc_id) candidate frame — the candidate list broadcast-
    * semi-joins the corpus token table (never shuffles it), the query
    * tokens broadcast into the pair dots, and [[scoreAndRank]] ranks.
    * ONE copy shared by the pooled refiner and the ANN generator. */
  private def rescoreCandidates(docTokens: DataFrame, queryTokens: DataFrame,
                                cand: DataFrame, k: Int): DataFrame = {
    val candTokens = docTokens.join(broadcast(cand), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("qv").as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok_id"),
      col("qv").as("qtv"))
    val pairs = candTokens.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("tok_id"), col("doc_id"),
        graft.functions.VectorFunctions.intDot(col("qtv"), col("dv"))
          .as("dot"))
    scoreAndRank(pairs, k)
  }

  /** ANN-fronted late-interaction retrieval — the production
    * deployment shape ColBERT-family systems run (Khattab & Zaharia,
    * SIGIR 2020 §3.6: candidate generation over single-vector
    * representations, exact MaxSim only on survivors): stage 1 finds
    * candidate docs by SRP-LSH bucket match over SUM-POOLED vectors
    * (md5-seeded hyperplane literals — deterministic, no fitted
    * state, so the whole pipeline replays in plain SQL), ranks the
    * bucket hits by pooled dot, keeps `kCand`; stage 2 is the shared
    * exact re-score. Unlike [[maxSimRefineTopK]] — whose stage 1
    * still dots EVERY pooled doc — the bucket equi-join touches only
    * colliding (table, bucket) groups, the IVF/SRP sublinear shape;
    * [[buildMaxSimSrpIndex]]/[[maxSimSrpProbe]] persist that layout
    * (q118's pattern) so a probe reads only its buckets' partitions.
    *
    * All-integer: pooled coords ≤ 8·10⁶ and quantized hyperplane
    * weights ≤ 10⁶ keep the 64-dim projection ≤ 5.2·10¹⁴ ≪ 2⁵³, so
    * bucket bits, pooled dots, and MaxSim scores are engine-exact.
    * Pair recall with an `in_exact` audit (q253) — SRP stage 1 can
    * miss true top-k docs whose pooled sketches land in other
    * buckets; the audit puts that loss IN the output. */
  def maxSimSrpTopK(docTokens: DataFrame, queryTokens: DataFrame,
                    kCand: Int, k: Int, planes: Int = 8, tables: Int = 4,
                    dims: Int = 64,
                    excludeSelfDoc: Boolean = false): DataFrame = {
    val dPool = fanOut(sumPooled(docTokens, "doc_id"))
    val qb = maxSimQueryBuckets(queryTokens, planes, tables, dims)
    val cb = dPool.select(col("doc_id"), col("pool"),
      posexplode(srpBucketsAll(col("pool"), planes, tables, dims))
        .as(Seq("t", "bucket")))
    srpCollisionTail(docTokens, queryTokens, cb, qb, kCand, k, excludeSelfDoc)
  }

  /** Sum-pooled + SRP-bucketed query side shared by the scan and
    * indexed ANN-MaxSim fronts: (query_id, qpool, t, bucket), one row
    * per (query, table). */
  private def maxSimQueryBuckets(queryTokens: DataFrame, planes: Int,
                                 tables: Int, dims: Int): DataFrame =
    sumPooled(queryTokens.select(col("query_id").as("doc_id"),
        col("tok_id"), col("qv")), "doc_id")
      .select(col("doc_id").as("query_id"), col("pool").as("qpool"))
      .select(col("query_id"), col("qpool"),
        posexplode(srpBucketsAll(col("qpool"), planes, tables, dims))
          .as(Seq("t", "bucket")))

  /** Stage 1 tail shared by the scan ([[maxSimSrpTopK]]) and indexed
    * ([[maxSimSrpProbe]]) ANN-MaxSim fronts: bucket-collision candidate
    * pairs → distinct → pooled-dot rank to `kCand` → the shared exact
    * re-score. ONE copy so the two fronts cannot drift in candidate,
    * tie-break, or re-score semantics — the indexed path differs from
    * the scan path ONLY in where `cb` rows come from.
    * `cb`: (doc_id, pool, t, bucket); `qb`: (query_id, qpool, t,
    * bucket). */
  private def srpCollisionTail(docTokens: DataFrame, queryTokens: DataFrame,
                               cb: DataFrame, qb: DataFrame,
                               kCand: Int, k: Int,
                               excludeSelfDoc: Boolean): DataFrame = {
    val cands0 = cb.join(broadcast(qb), Seq("t", "bucket"))
      .select(col("query_id"), col("qpool"), col("doc_id"), col("pool"))
      .distinct() // a pair colliding in several tables ranks once
    val cands = if (excludeSelfDoc)
      cands0.filter(col("doc_id") =!= col("query_id")) else cands0
    val scored = cands.select(col("query_id"), col("doc_id"),
      graft.functions.VectorFunctions.intDot(col("pool"), col("qpool"))
        .as("pdot"))
    val cand = ScaleOps.topKPerKey(scored, Seq("query_id"),
        Seq(col("pdot").desc, col("doc_id").asc), kCand)
      .select(col("query_id"), col("doc_id"))
    rescoreCandidates(docTokens, queryTokens, cand, k)
  }

  /** Persistent bucket-partitioned layout for [[maxSimSrpTopK]]'s
    * stage 1 — the q118/[[buildSrpIndex]] pattern applied to the
    * late-interaction front: the sum-pooled doc vectors written once,
    * partitioned `data/t=<table>/bucket=<key>/` (one file per dir —
    * the write is keyed on (t, bucket) so a probe never pays a
    * footer-read tax over stragglers), plus a one-row `meta/` table
    * pinning (planes, tables, dims). Probing with different
    * parameters would compute different buckets and silently miss, so
    * [[maxSimSrpProbe]] always reads them from the index.
    *
    * 100 TB shape: the pooling pass is the one corpus-token scan the
    * scan path pays PER QUERY BATCH, amortized here across every
    * future probe; a probe then reads only its buckets' partitions —
    * ~`tables / 2^planes` of the pooled bytes — instead of re-pooling
    * and re-bucketing the whole corpus.
    *
    * EAGER: runs the pooling + partitioned write now. */
  def buildMaxSimSrpIndex(docTokens: DataFrame, path: String,
                          planes: Int = 8, tables: Int = 4,
                          dims: Int = 64): Unit = {
    require(planes >= 1 && planes <= 20, s"planes=$planes out of [1, 20]")
    fanOut(sumPooled(docTokens, "doc_id"))
      .select(col("doc_id"), col("pool"),
        posexplode(srpBucketsAll(col("pool"), planes, tables, dims))
          .as(Seq("t", "bucket")))
      .repartition(col("t"), col("bucket"))
      .write.mode("overwrite").partitionBy("t", "bucket")
      .parquet(s"$path/data")
    docTokens.sparkSession.createDataFrame(Seq((planes, tables, dims)))
      .toDF("planes", "tables", "dims")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** ANN-fronted MaxSim through a [[buildMaxSimSrpIndex]] index:
    * bucket the queries with the index's pinned parameters, resolve
    * the probed (t, bucket) set ON THE DRIVER (≤ |queries|·tables
    * values — control-plane), prune the index scan to those
    * partitions, and hand the pruned rows to the SAME collision tail
    * as the scan path. Bit-identical to [[maxSimSrpTopK]] at the
    * index's (planes, tables, dims) by construction: the stored pools
    * are the same deterministic integer sums, the buckets the same
    * md5-seeded projections, and everything downstream of the scan is
    * one shared code path (asserted in SimilaritySpec; partition
    * pruning pinned in PlanAuditSpec). `docTokens` is still needed for
    * the exact stage-2 re-score — the index accelerates stage 1 only. */
  def maxSimSrpProbe(docTokens: DataFrame, queryTokens: DataFrame,
                     indexPath: String, kCand: Int, k: Int,
                     excludeSelfDoc: Boolean = false): DataFrame = {
    val spark = docTokens.sparkSession
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val (planes, tables, dims) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dims"))
    val qb = maxSimQueryBuckets(queryTokens, planes, tables, dims)
      .transform(Materialize.once) // read twice: partition list + join
    // control-plane: ≤ |queries|·tables (t, bucket) values
    val probed = qb.select("t", "bucket").distinct()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val prune = probed.groupBy(_._1).map { case (t, bs) =>
        col("t") === t && col("bucket").isin(bs.map(_._2).toSeq: _*)
      } // partition-level predicate → directory pruning
      .reduceOption(_ || _).getOrElse(lit(false)) // no queries → empty
    val cb = spark.read.parquet(s"$indexPath/data").filter(prune)
      .select(col("doc_id"), col("pool"), col("t"), col("bucket"))
    srpCollisionTail(docTokens, queryTokens, cb, qb, kCand, k, excludeSelfDoc)
  }

  /** Recall sweep over the SRP front's (tables) knob — the
    * [[maxSimRecallCurve]] trick applied to [[maxSimSrpTopK]]: how
    * fast does recall@k approach 1 as hash tables widen? One row per
    * cut in `tablesCuts` — (tables, hits, total, recall_ppm) vs the
    * exact full-corpus MaxSim top-k.
    *
    * Table t's hyperplanes depend only on seed = t, so the candidate
    * set at cut T is EXACTLY the pairs whose minimum colliding table
    * index is < T — nested across cuts. The sweep therefore computes
    * collisions once at max(tablesCuts), tags each pair with that
    * minimum (`mt`), re-ranks stage 1 per cut (pdot desc, doc_id asc,
    * keep kCand), exact-scores the UNION of survivors once (a pair's
    * exact MaxSim is cut-independent), and re-ranks per cut —
    * bit-identical to running [[maxSimSrpTopK]] at each tables count,
    * for the cost of one (asserted in SimilaritySpec). All-integer
    * (recall_ppm = hits·10⁶ div total), so the curve replays exactly.
    *
    * 100 TB shape: one pooled row per doc bucketed max(tablesCuts)
    * times (the widest run's own cost), candidate work bounded by the
    * widest run's collisions, stage-2 token work by queries·kCand·
    * |cuts| distinct pairs — never the corpus; every rank site is the
    * bounded-heap plan node. */
  def maxSimSrpTablesCurve(docTokens: DataFrame, queryTokens: DataFrame,
                           tablesCuts: Seq[Int], kCand: Int, k: Int,
                           planes: Int = 8, dims: Int = 64,
                           excludeSelfDoc: Boolean = false): DataFrame = {
    require(tablesCuts.nonEmpty && tablesCuts.forall(_ >= 1),
      s"tablesCuts must be non-empty positive, got $tablesCuts")
    val spark = docTokens.sparkSession
    val maxT = tablesCuts.max
    val dPool = fanOut(sumPooled(docTokens, "doc_id"))
    val qb = maxSimQueryBuckets(queryTokens, planes, maxT, dims)
    val cb = dPool.select(col("doc_id"), col("pool"),
      posexplode(srpBucketsAll(col("pool"), planes, maxT, dims))
        .as(Seq("t", "bucket")))
    // min colliding table per pair: cut T's candidate set is {mt < T}
    val coll0 = cb.join(broadcast(qb), Seq("t", "bucket"))
      .groupBy("query_id", "qpool", "doc_id", "pool")
      .agg(min(col("t")).as("mt"))
    val coll = (if (excludeSelfDoc)
        coll0.filter(col("doc_id") =!= col("query_id")) else coll0)
      .select(col("query_id"), col("doc_id"), col("mt"),
        graft.functions.VectorFunctions.intDot(col("pool"), col("qpool"))
          .as("pdot"))
    val perCut = coll.select(col("query_id"), col("doc_id"), col("mt"),
        col("pdot"),
        explode(array(tablesCuts.sorted.map(lit(_)): _*)).as("tables"))
      .filter(col("mt") < col("tables"))
    val cand = ScaleOps.topKPerKey(perCut, Seq("tables", "query_id"),
        Seq(col("pdot").desc, col("doc_id").asc), kCand)
      .select(col("tables"), col("query_id"), col("doc_id"))
      .transform(Materialize.once) // read twice: distinct union + rank join
    // exact MaxSim scored ONCE per distinct surviving pair
    val uniq = cand.select(col("query_id"), col("doc_id")).distinct()
    val candTokens = docTokens.join(broadcast(uniq), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("qv").as("dv"))
    val qt = queryTokens.select(col("query_id"), col("tok_id"),
      col("qv").as("qtv"))
    val scores = maxSimScores(candTokens.join(broadcast(qt), Seq("query_id"))
      .select(col("query_id"), col("tok_id"), col("doc_id"),
        graft.functions.VectorFunctions.intDot(col("qtv"), col("dv"))
          .as("dot")))
    // ground truth materialized once (hit join + denominator count)
    val exact = Materialize.once(
      maxSimTopK(docTokens, queryTokens, k, excludeSelfDoc)
        .select(col("query_id"), col("doc_id"), lit(1L).as("hit")))
    val total = exact.count()
    val hitsPerCut = ScaleOps.topKPerKey(
        cand.join(scores, Seq("query_id", "doc_id")),
        Seq("tables", "query_id"),
        Seq(col("maxsim").desc, col("doc_id").asc), k)
      .join(exact, Seq("query_id", "doc_id"), "left")
      .groupBy("tables")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    // a cut whose candidate set is empty has no survivor rows at all —
    // it must still appear in the curve, with hits = 0
    spark.createDataFrame(tablesCuts.sorted.map(Tuple1(_)))
      .toDF("tables")
      .join(hitsPerCut, Seq("tables"), "left")
      .select(col("tables"), coalesce(col("hits"), lit(0L)).as("hits"),
        lit(total).as("total"))
      .withColumn("recall_ppm", expr(s"hits * 1000000 div $total"))
  }

  /** Recall-convergence audit of the two-stage pipeline: how fast does
    * [[maxSimRefineTopK]]'s recall@k approach 1 as the stage-1
    * candidate budget widens? One row per candidate cut in `kCands` —
    * (kcand, hits, total, recall_ppm) against the exact full-corpus
    * MaxSim top-k — the committed evidence that widening kCand
    * converges recall → 1 while stage-2 cost stays bounded by
    * queries·kCand.
    *
    * The exact MaxSim of a (query, doc) pair does not depend on the
    * cut, so the sweep scores ONE widened candidate set (max cut) and
    * re-ranks it at every cut: the pooled rank `cr` is computed once
    * from the stage-1 total order (pdot desc, doc_id asc), each cut K
    * keeps cr ≤ K, and [[scoreAndRank]]'s tie-break re-ranks the
    * survivors — bit-identical to running the two-stage pipeline at
    * that kCand, for the cost of one. All-integer throughout
    * (recall_ppm = hits·10⁶ div total), so the curve replays exactly.
    *
    * 100 TB shape: identical to [[maxSimRefineTopK]] — one pooled row
    * per doc in stage 1, stage-2 token work bounded by
    * queries·max(kCands), the per-cut re-ranking runs on a frame of
    * ≤ queries·max(kCands) rows. */
  def maxSimRecallCurve(docTokens: DataFrame, queryTokens: DataFrame,
                        kCands: Seq[Int], k: Int,
                        excludeSelfDoc: Boolean = false): DataFrame = {
    require(kCands.nonEmpty, "kCands must be non-empty")
    val maxCand = kCands.max
    val dPool = fanOut(sumPooled(docTokens, "doc_id"))
    val qPool = sumPooled(queryTokens.select(col("query_id").as("doc_id"),
        col("tok_id"), col("qv")), "doc_id")
      .select(col("doc_id").as("query_id"), col("pool").as("qpool"))
    val scored0 = dPool.crossJoin(broadcast(qPool))
    val scored = (if (excludeSelfDoc)
        scored0.filter(col("doc_id") =!= col("query_id")) else scored0)
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorFunctions.intDot(col("pool"), col("qpool"))
          .as("pdot"))
    // stage-1 rank within the widened cut: topKPerKey bounds the frame,
    // then row_number over the bounded rows reproduces the global rank
    // because (pdot desc, doc_id asc) is a total order
    val cand = ScaleOps.topKPerKey(scored, Seq("query_id"),
        Seq(col("pdot").desc, col("doc_id").asc), maxCand)
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("pdot").desc, col("doc_id").asc)))
      .select(col("query_id"), col("doc_id"), col("cr"))
    val candTokens = docTokens.join(broadcast(cand), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("cr"), col("qv").as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok_id"),
      col("qv").as("qtv"))
    val pairs = candTokens.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("tok_id"), col("doc_id"), col("cr"),
        graft.functions.VectorFunctions.intDot(col("qtv"), col("dv"))
          .as("dot"))
    // exact score once per (query, candidate); cr is functionally
    // dependent on (query_id, doc_id) so min() just carries it through
    val rescored = pairs.groupBy("query_id", "tok_id", "doc_id")
      .agg(max(col("dot")).as("mx"), min(col("cr")).as("cr"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("mx")).as("maxsim"), min(col("cr")).as("cr"))
    // ground truth: the exact full-corpus top-k (materialized once —
    // consumed by the hit join AND the denominator count)
    val exact = Materialize.once(
      maxSimTopK(docTokens, queryTokens, k, excludeSelfDoc)
        .select(col("query_id"), col("doc_id"), lit(1L).as("hit")))
    val total = exact.count()
    val cuts = explode(array(kCands.sorted.map(lit(_)): _*)).as("kcand")
    val perCut = rescored.select(col("query_id"), col("doc_id"),
        col("maxsim"), col("cr"), cuts)
      .filter(col("cr") <= col("kcand"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("kcand"), col("query_id"))
          .orderBy(col("maxsim").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)
      .join(exact, Seq("query_id", "doc_id"), "left")
    perCut.groupBy("kcand")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("kcand"), col("hits"), lit(total).as("total"),
        expr(s"hits * 1000000 div $total").as("recall_ppm"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT label
    * — near misses, the negatives that actually teach a bi-encoder
    * (random negatives are trivially separable). Runs on quantized
    * integer vectors so the scores — and therefore the mined set —
    * are engine-exact (the q116 oracle replays it).
    *
    * 100 TB shape: identical to [[bruteForceTopK]] — query set
    * broadcast, corpus never shuffled, label filter applied before
    * ranking so positives don't occupy candidate slots. For corpus-
    * scale query sets, swap the candidate generator for the IVF/SRP
    * paths and keep the same label-filter + window tail. */
  def hardNegativesQuantized(emb: DataFrame, idCol: String, vecCol: String,
                             labelCol: String,
                             queryPred: org.apache.spark.sql.Column,
                             k: Int): DataFrame = {
    val base = emb.select(col(idCol), col(labelCol), col(vecCol))
    val q = base.filter(queryPred)
      .select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
        quantize(col(vecCol)).as("qq"))
    val c = fanOut(base)
      .select(col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
        quantize(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neg_id") =!= col("query_id") &&
        col("neg_label") =!= col("q_label"))
      .withColumn("cosine", quantizedCosine(col("qq"), col("qv")))
    rankTopK(scored, k, idCol = "neg_id")
      .select(col("query_id"), col("rank"), col("neg_id"),
        col("neg_label"), col("cosine"))
  }

  /** Reciprocal-nearest-neighbor gate (the mutual-kNN filter of
    * bitext-mining and SemDeDup-style pipelines): keep pair (a, b)
    * only when b is in a's top-k AND a is in b's top-k. Hubness
    * control — a hub vector sits in everyone's neighbor list, but its
    * own list holds only its true peers, so one-directional "near"
    * claims die here. Generator-AGNOSTIC: takes any
    * (query_id, neighbor_id, cosine, rank) kNN frame (brute, IVF, SRP,
    * PQ-refined — they all emit this shape), joins it against itself
    * on the reversed pair, and emits each mutual pair once with both
    * ranks. One shuffle keyed on the (n·k)-sized kNN frame — never on
    * the corpus.
    *
    * @return (id_a, id_b, cosine, rank_ab, rank_ba) with id_a < id_b */
  def mutualPairs(knn: DataFrame): DataFrame =
    knn.as("f").join(knn.as("r"),
        col("f.query_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.query_id") &&
          col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("id_a"), col("f.neighbor_id").as("id_b"),
        col("f.cosine"), col("f.rank").as("rank_ab"), col("r.rank").as("rank_ba"))

  /** Self-kNN (quantized cosine, engine-exact ranking) + the
    * [[mutualPairs]] gate. The candidate generator here is the brute
    * path — both sides are the corpus, so this wrapper is for
    * bounded/sampled sets and oracle anchoring; at corpus scale
    * generate the kNN frame with [[srpTopKQuantized]] /
    * [[ivfProbeQuantized]] and pipe it through [[mutualPairs]]
    * unchanged. */
  def mutualTopKQuantized(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val base = Materialize.once(fanOut(emb)
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")))
    val scored = base.select(col("id").as("neighbor_id"), col("qv").as("cv"))
      .crossJoin(broadcast(
        base.select(col("id").as("query_id"), col("qv").as("qq"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", quantizedCosine(col("qq"), col("cv")))
    val knn = rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    mutualPairs(knn)
  }

  /** Fit the k-means coarse quantizer and return the centroids, indexed
    * by cell id. Training is capped at `maxTrainRows` via a seeded
    * sample — a coarse quantizer needs a representative sample, not the
    * corpus: at 100 TB the multi-pass k-means must NOT scan everything,
    * while the (single-pass, shuffle-free) assignment step still covers
    * every row. */
  private def fitCentroids(corpus: DataFrame, vecCol: String, nCells: Int,
                           seed: Long, maxTrainRows: Long): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = corpus.count()
    val base = if (n > maxTrainRows)
      corpus.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)
    else corpus
    // 10 Lloyd iterations must not inherit a small file's split count
    // (fanOut discipline); round-robin is deterministic for a fixed
    // input order, so the fit stays reproducible per layout
    val train = fanOut(base).select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(train).clusterCenters.map(_.toArray)
  }

  /** Per-row nearest-cell assignment as a shuffle-free projection: the
    * centroids ride along as literals and the argmin runs inside
    * whole-stage codegen (see o.a.s.sql.graft.NearestCentroids). The
    * naive alternative — crossJoin(centroids) + window argmin —
    * materializes AND shuffles corpus×nCells rows, which at 100 TB is a
    * petabyte-class Exchange for what is per-row arithmetic. */
  private[operators] def assignCells(df: DataFrame, vecCol: String,
                          centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("cell",
      org.apache.spark.sql.graft.NearestCentroids.nearestCell(col(vecCol), centroids))

  /** IVF (inverted-file) ANN: train a k-means coarse quantizer, assign
    * the corpus to cells in a zero-shuffle projection, then search only
    * the `nProbe` cells nearest each query (queries broadcast, so the
    * corpus is never shuffled; only the probed candidates are ranked).
    * For repeated querying against a fixed corpus, build the index once
    * with [[buildIvfIndex]] and query with [[ivfProbe]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 3,
              seed: Long = 42L, maxTrainRows: Long = 100000L): DataFrame = {
    val centroids = fitCentroids(corpus, vecCol, nCells, seed, maxTrainRows)
    val assigned = assignCells(
      fanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "cv", centroids)
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
    rankCandidates(assigned.join(broadcast(probes), Seq("cell")), k)
  }

  /** Each query row fanned out to its `nProbe` nearest cells (clamped
    * to the cell count — probing more cells than exist means probing
    * all of them). */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Double]], nProbe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(
        org.apache.spark.sql.graft.NearestCentroids(col("qv"), centroids,
          math.min(nProbe, centroids.length))))

  private def rankCandidates(cands: DataFrame, k: Int): DataFrame =
    rankTopK(cands.filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("qv"), col("cv"))), k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))

  /** Build a persistent IVF index at `path`: the corpus written
    * partitioned by cell (`data/cell=N/...`) plus the centroids
    * (`centroids/`). A probe then reads ONLY the probed cells'
    * partitions — at 100 TB with nCells=4096, nProbe=8, a query touches
    * ~0.2% of the bytes. Returns the centroids for immediate reuse.
    *
    * Hot-cell skew (measured on the sf1skew corpus: 10% of vectors
    * collapsed into one cell inflated probe cost ~8×) is a CANDIDATE
    * problem, not a shuffle problem — AQE splits the cell join fine;
    * the cost is ranking the hot cell's whole membership for every
    * probe that fans into it. The mitigation at scale is quantizer
    * capacity, not salting: grow `nCells` with the corpus (FAISS
    * practice: ~√n to 16·√n) and re-split any cell past a size bound
    * by k-means on its members (the IMI/two-level path).
    *
    * EAGER: runs Spark jobs at call time (the k-means training sample,
    * then the partitioned write — index construction IS the work). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nCells: Int = 16, seed: Long = 42L,
                    maxTrainRows: Long = 100000L): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    val centroids = fitCentroids(corpus, vecCol, nCells, seed, maxTrainRows)
    assignCells(
      fanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "cv", centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    spark.createDataFrame(centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    centroids
  }

  /** Query a [[buildIvfIndex]] index. Probe cells are resolved on the
    * driver (the query set is small by contract) and pushed as a
    * partition filter, so the scan prunes to the probed `cell=`
    * directories — the index is never read in full. */
  def ivfProbe(queries: DataFrame, indexPath: String, idCol: String,
               vecCol: String, k: Int, nProbe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    val centroids = spark.read.parquet(s"$indexPath/centroids")
      .orderBy("cell").select("centroid")
      .collect().map(_.getSeq[Double](0).toArray)
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .transform(Materialize.once) // read twice: cell list + candidate join
    val cells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // control-plane: ≤ |queries|·nProbe values
    val data = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*)) // static partition pruning
    rankCandidates(data.join(broadcast(probes), Seq("cell")), k)
  }

  // ------------------------------------------------- quantized IVF (exact)

  /** [[buildIvfIndex]] over integer-quantized vectors — the
    * oracle-checkable IVF form (q31). The k-means quantizer trains on
    * the float vectors as usual, but the FITTED centroids are quantized
    * to the same floor(x·10⁶) integer grid as the vectors, so cell
    * assignment is an argmin over exact integer squared-L2 distances
    * (integer-valued doubles; |q|≤~2·10⁶ ⇒ per-dim square ≤ 4·10¹²,
    * 64-dim sums ≪ 2⁵³ — bit-exact in double AND in an engine-portable
    * BIGINT SQL oracle). Index layout matches [[buildIvfIndex]]:
    * `data/cell=N/` parquet (with the quantized vector) + `centroids/`.
    * Returns the quantized centroids — embed them as literals in an
    * oracle's VALUES CTE to replay assignment/probe/rank in plain SQL. */
  /** Fit the k-means quantizer and return the centroids quantized to
    * the floor(x·10⁶) integer grid (as integer-valued doubles, ready
    * for [[org.apache.spark.sql.graft.NearestCentroids]]) — the shared
    * primitive behind quantized IVF (q31) and semantic dedup (q86).
    * Embed the values as BIGINT[] literals in an oracle VALUES CTE to
    * replay assignment in plain SQL. */
  def fitQuantizedCentroids(corpus: DataFrame, vecCol: String, nCells: Int,
                            seed: Long = 42L,
                            maxTrainRows: Long = 100000L): Array[Array[Double]] =
    fitCentroids(corpus, vecCol, nCells, seed, maxTrainRows)
      .map(_.map(x => math.floor(x * 1e6)))

  /** [[fitQuantizedCentroids]] + hot-cell RE-SPLIT (the FAISS
    * IMI/rebalance practice): any cell holding more than
    * `maxCellFraction` of the corpus is re-fit with its own k-means
    * (k = ⌈size/bound⌉) over just its members, and its centroid is
    * replaced by the sub-centroids. Repeats until every cell is under
    * the bound or `maxRounds` is hit — cold cells can only SHRINK
    * under a refined list (new centroids only attract members away),
    * so only fresh sub-cells ever need another round.
    *
    * The result is a plain flat centroid list: build, probe, and the
    * q31-family oracle replay apply unchanged. This is the mitigation
    * for the sf1skew finding (one collapsed cell made every probe
    * rank 10% of the corpus, ~8×): probe cost is bounded by
    * nProbe·bound instead of the hottest cell's mass.
    *
    * Driver loop is control-plane only: per round one cell-size
    * aggregate (≤ |cells| rows collected) and one bounded k-means per
    * hot cell (sampled at `maxTrainRows`, like the base fit).
    * Deterministic: sub-fit seeds derive from (round, cell); ordering
    * is cold-cells-in-place then sub-centroids by (cell, sub-index). */
  def fitBalancedQuantizedCentroids(corpus: DataFrame, vecCol: String,
                                    nCells: Int, seed: Long = 42L,
                                    maxTrainRows: Long = 100000L,
                                    maxCellFraction: Double = 0.10,
                                    maxRounds: Int = 4): Array[Array[Double]] = {
    require(maxCellFraction > 0.0 && maxCellFraction <= 1.0,
      s"maxCellFraction=$maxCellFraction must be in (0, 1]")
    require(maxRounds >= 1)
    val rows = Materialize.once(fanOut(corpus)
      .select(col(vecCol).as("__v"), quantize(col(vecCol)).as("__qv")))
    val n = rows.count()
    val bound = math.max(1L, math.ceil(n * maxCellFraction).toLong)
    var cents = fitQuantizedCentroids(corpus, vecCol, nCells, seed, maxTrainRows)
    var round = 0
    var balanced = false
    while (!balanced && round < maxRounds) {
      val asn = assignCells(rows, "__qv", cents)
      val sizes = asn.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val hotCells = sizes.filter(_._2 > bound).keys.toSeq.sorted
      if (hotCells.isEmpty) balanced = true
      else {
        val hotSet = hotCells.toSet
        val subs = hotCells.flatMap { c =>
          val k = math.max(2, math.ceil(sizes(c).toDouble / bound).toInt)
          fitCentroids(asn.filter(col("cell") === c).select(col("__v").as(vecCol)),
            vecCol, k, seed + 7919L * (round.toLong * 65536L + c), maxTrainRows)
            .map(_.map(x => math.floor(x * 1e6)))
        }
        cents = cents.zipWithIndex.collect {
          case (cv, i) if !hotSet.contains(i) => cv
        } ++ subs
        round += 1
      }
    }
    cents
  }

  /** `preFitted`: inject an already-fitted quantizer (from
    * [[fitQuantizedCentroids]] or [[fitBalancedQuantizedCentroids]])
    * instead of training here. */
  def buildIvfIndexQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                             path: String, nCells: Int = 16, seed: Long = 42L,
                             maxTrainRows: Long = 100000L,
                             preFitted: Option[Array[Array[Double]]] = None)
      : Array[Array[Long]] = {
    val spark = corpus.sparkSession
    val qCentroids = preFitted.getOrElse(
      fitQuantizedCentroids(corpus, vecCol, nCells, seed, maxTrainRows))
    assignCells(
      fanOut(corpus).select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv")),
      "cv", qCentroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    val longs = qCentroids.map(_.map(_.toLong))
    spark.createDataFrame(longs.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    longs
  }

  /** [[ivfProbe]] against a [[buildIvfIndexQuantized]] index: probe-cell
    * selection and final cosine are exact integer arithmetic, so the
    * whole probe pipeline is bit-identical across engines and partition
    * counts. The `cell isin` filter is static partition pruning — a
    * probe reads only the probed cells' directories. */
  def ivfProbeQuantized(queries: DataFrame, indexPath: String, idCol: String,
                        vecCol: String, k: Int, nProbe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    val qCentroids = spark.read.parquet(s"$indexPath/centroids")
      .orderBy("cell").select("centroid")
      .collect().map(_.getSeq[Long](0).map(_.toDouble).toArray)
    val probes = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("cell", explode(
        org.apache.spark.sql.graft.NearestCentroids(col("qv"), qCentroids,
          math.min(nProbe, qCentroids.length))))
      .transform(Materialize.once) // read twice: cell list + candidate join
    val cells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val data = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*)) // static partition pruning
    rankCandidatesQuantized(data.join(broadcast(probes), Seq("cell")), k)
  }

  private[operators] def rankCandidatesQuantized(cands: DataFrame, k: Int): DataFrame =
    rankTopK(cands.filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", quantizedCosine(col("qv"), col("cv"))), k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))

  // ------------------------------------------------ persistent SRP index

  /** Persistent multi-table SRP-LSH index at `path`: the quantized
    * corpus written `tables` times, partitioned by `t=<table>/bucket=
    * <key>` (`data/`), plus a one-row `meta/` table pinning (planes,
    * tables, dims) — probing with different parameters would compute
    * different buckets and silently miss, so the probe always reads
    * them from the index. The LSH trade vs [[buildIvfIndex]]: no
    * training pass, `tables`× storage, and `tables × 2^planes`
    * partitions (pick `planes` so partitions stay file-sized at the
    * corpus scale). A probe reads only the probed (t, bucket)
    * directories — `tables`/`2^planes` of the bytes per query.
    *
    * EAGER: runs the partitioned index write (a Spark job) at call
    * time. */
  def buildSrpIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, planes: Int = 8, tables: Int = 4,
                    dims: Int = 64): Unit = {
    require(planes >= 1 && planes <= 20, s"planes=$planes out of [1, 20]")
    fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      // one corpus scan: all tables' buckets in a single projection
      .select(col("neighbor_id"), col("cv"),
        posexplode(srpBucketsAll(col("cv"), planes, tables, dims)).as(Seq("t", "bucket")))
      .write.mode("overwrite").partitionBy("t", "bucket").parquet(s"$path/data")
    corpus.sparkSession.createDataFrame(Seq((planes, tables, dims)))
      .toDF("planes", "tables", "dims")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Query a [[buildSrpIndex]] index: bucket each query with the
    * index's pinned parameters, prune the scan to the probed
    * (t, bucket) partitions, union candidates across tables, exact
    * re-rank by quantized cosine. Bit-identical to [[srpTopKQuantized]]
    * on the same corpus (asserted in SimilaritySpec). */
  def srpProbe(queries: DataFrame, indexPath: String, idCol: String,
               vecCol: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    val (planes, tables, dims) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"), meta.getAs[Int]("dims"))
    val probes = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(srpBucketsAll(col("qv"), planes, tables, dims)).as(Seq("t", "bucket")))
      .transform(Materialize.once) // read twice: partition list + join
    // control-plane: ≤ |queries|·tables (t, bucket) values
    val probed = probes.select("t", "bucket").distinct()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val prune = probed.groupBy(_._1).map { case (t, bs) =>
        col("t") === t && col("bucket").isin(bs.map(_._2).toSeq: _*)
      } // partition-level predicate → directory pruning
      .reduceOption(_ || _).getOrElse(lit(false)) // empty query set → empty result
    val data = spark.read.parquet(s"$indexPath/data").filter(prune)
    rankCandidatesQuantized(
      data.join(broadcast(probes), Seq("t", "bucket"))
        .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))
        .distinct(), // a pair found by several tables ranks once
      k)
  }

  /** All `tables` bucket keys of a vector in one projection —
    * `posexplode` it into (t, bucket) rows so multi-table LSH costs ONE
    * pass over the source instead of a union of per-table scans. Bucket
    * bits are identical to calling [[srpBucketQuantized]] per table. */
  private[operators] def srpBucketsAll(vec: org.apache.spark.sql.Column, planes: Int,
                            tables: Int, dims: Int): org.apache.spark.sql.Column =
    array((0 until tables).map(t =>
      srpBucketQuantized(vec, planes, seed = t, dims)): _*)

  /** [[srpTopK]] over integer-quantized vectors (floor(x·10⁶)): buckets
    * and cosines are exact integer arithmetic, so results are
    * bit-identical across engines and partition counts — the
    * oracle-checkable form (q32). `dims` should be the true vector
    * dimensionality so the hyperplane literals stay small.
    *
    * The corpus is scanned and quantized ONCE: all `tables` bucket keys
    * are computed in a single projection and fanned out with
    * `posexplode`, and the (tiny by contract) query side is broadcast —
    * one equi-join on (t, bucket) instead of `tables` separate
    * scan+join branches. */
  def srpTopKQuantized(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int, planes: Int = 10,
                       tables: Int = 4, dims: Int = 512): DataFrame = {
    val qb = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(srpBucketsAll(col("qv"), planes, tables, dims)).as(Seq("t", "bucket")))
    val cb = fanOut(corpus)
      .select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      .select(col("neighbor_id"), col("cv"),
        posexplode(srpBucketsAll(col("cv"), planes, tables, dims)).as(Seq("t", "bucket")))
    val cands = cb.join(broadcast(qb), Seq("t", "bucket"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))
      .distinct() // a pair found by several tables ranks once
    rankCandidatesQuantized(cands, k)
  }

  /** Margin-based pair mining (Artetxe & Schwenk, ACL 2019 — the
    * LASER/CCMatrix bitext-mining criterion): for every LEFT vector x,
    * the best RIGHT partner y scored not by raw cosine but by the
    * MARGIN — cosine relative to the average of both sides' k-nearest
    * cosines:
    *   margin(x,y) = cos(x,y) / ((avgₖ cos(x,·) + avgₖ cos(·,y)) / 2)
    * A pair is aligned when it stands out from BOTH neighborhoods;
    * raw-cosine thresholds can't separate "genuinely aligned" from
    * "x is close to everything" (hubness). This is the standard miner
    * for parallel-corpus extraction and any cross-source pairing
    * (caption↔image, question↔answer) a training pipeline runs.
    *
    * Exactness: per-pair cosine floor-quantizes to ppm LONGs (rule-6
    * quantize-then-sum), so the k-nearest sums are exact integers and
    * `margin_ppm = cos_ppm·2k·10⁶ div (sumₖ(x) + sumₖ(y))` is a pure
    * integer — the mined set replays on any engine. Pairs with a
    * non-positive quantized cosine or denominator are dropped (a
    * margin against negative neighborhoods is meaningless — miners
    * operate in the high-similarity regime).
    *
    * 100 TB shape: the exactness anchor is the [[bruteForceTopK]]
    * layout — LEFT side broadcast, RIGHT side never shuffles, the
    * scored frame materialized ONCE and read by both direction
    * rankings and the final join. For corpus-scale sides, swap the
    * candidate generator for the IVF/SRP paths (the margin tail is
    * unchanged) — the same swap [[hardNegativesQuantized]] documents.
    *
    * @return per LEFT id: (x, y, cos_ppm, margin_ppm), the
    *         best-margin partner, margin ≥ `minMarginPpm`, ordered
    *         by x */
  def marginMineQuantized(left: DataFrame, right: DataFrame, idCol: String,
                          vecCol: String, k: Int,
                          minMarginPpm: Long = 0L): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    // norms hoisted out of the pair loop: sqrt(dot(v,v)) is
    // bit-identical per vector or per pair, and the O(|l|·|r|) stage
    // then costs ONE integer dot instead of three
    val l = left.select(col(idCol).as("x"), quantize(col(vecCol)).as("xv"))
      .withColumn("xn", sqrt(intDot(col("xv"), col("xv")).cast("double")))
    val r = fanOut(right)
      .select(col(idCol).as("y"), quantize(col(vecCol)).as("yv"))
      .withColumn("yn", sqrt(intDot(col("yv"), col("yv")).cast("double")))
    val scored = Materialize.once(r.crossJoin(broadcast(l))
      .withColumn("cos_ppm", floor(
        when(col("xn") * col("yn") === 0.0, lit(0.0))
          .otherwise(intDot(col("xv"), col("yv")).cast("double") /
            (col("xn") * col("yn"))) * 1e6).cast("long"))
      .select(col("x"), col("y"), col("cos_ppm")))
    // every per-key rank runs on the bounded-heap TopKPerKey plan node
    // (map-side partial combine), NOT a row_number window: a window
    // would full-sort the |l|·|r| scored frame per direction — the
    // dominant cost at scale (measured 64 s -> heap-bounded at sf1)
    def kSum(key: String, other: String) = ScaleOps
      .topKPerKey(scored, Seq(key),
        Seq(col("cos_ppm").desc, col(other).asc), k)
      .groupBy(key).agg(sum(col("cos_ppm")).as(s"s_$key"))
    val margins = scored
      .join(kSum("x", "y"), Seq("x"))
      .join(kSum("y", "x"), Seq("y"))
      .filter(col("cos_ppm") > 0 && col("s_x") + col("s_y") > 0)
      .withColumn("margin_ppm",
        expr(s"(cos_ppm * ${2L * k} * 1000000L) div (s_x + s_y)"))
    ScaleOps.topKPerKey(margins, Seq("x"),
      Seq(col("margin_ppm").desc, col("y").asc), 1)
      .filter(col("margin_ppm") >= minMarginPpm)
      .select(col("x"), col("y"), col("cos_ppm"), col("margin_ppm"))
      .orderBy("x")
  }

  /** Multi-table SRP-LSH top-k: union candidates from `tables`
    * independent bucketings, then exact re-rank. */
  def srpTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 10, tables: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = fanOut(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val cands = (0 until tables).map { t =>
      val qb = q.withColumn("bucket", srpBucket(col("qv"), planes, seed = t))
      val cb = c.withColumn("bucket", srpBucket(col("cv"), planes, seed = t))
      qb.join(cb, Seq("bucket")).select(col("query_id"), col("qv"),
        col("neighbor_id"), col("cv"))
    }.reduce(_.unionByName(_)).distinct()
    val scored = cands
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}
