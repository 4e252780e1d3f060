package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle on a blocking key so the work distributes at
  * 100 TB:
  *
  *  - exact:          hash-groupBy on a content fingerprint
  *  - MinHash + LSH:  shingle → signature → band bucket → in-bucket
  *                    verify (candidate pairs only, never O(n²))
  *  - SimHash:        32-bit signature → byte-pigeonhole buckets →
  *                    in-bucket Hamming verify
  *  - n-gram Jaccard: prefix-filter join (PPJoin-style candidate
  *                    generation) → exact Jaccard verify
  *  - embedding:      sign-random-projection buckets → in-bucket cosine
  *                    verify
  *
  * Pair outputs are canonical: (idA < idB), ordered, deterministic.
  *
  * Re-read intermediates (shingle sets, band keys) are materialized
  * exactly once via [[Materialize.once]] — eager localCheckpoint by
  * default (no SQL-cache registration leaks to the caller; DedupSpec
  * asserts the cache stays empty), with
  * `spark.graft.localCheckpoint=false` falling back to `persist()` on
  * clusters where lineage truncation is unsafe (see Materialize's doc
  * for the trade-off). In the default mode that materialization is
  * EAGER: these operators run Spark jobs at DataFrame-CONSTRUCTION
  * time, before any caller action.
  */
object Dedup {

  /** Default hot-shingle document-frequency cap for the overlap-dedup
    * family ([[ngramJaccardDuplicates]], [[containmentPairs]]). The
    * postings self-join does Σ_shingle df² work, so ONE boilerplate
    * shingle with df = 10⁶ emits ~5·10¹¹ candidate rows — the classic
    * 100 TB killer. Capping df bounds per-shingle work at cap² while
    * candidates are still verified EXACTLY against the full shingle
    * sets, so every emitted pair carries its true score; the only
    * semantic change is lost recall for pairs sharing NOTHING but
    * hotter-than-cap shingles (the standard ssjoin trade). Callers who
    * genuinely want the uncapped quadratic (brute-force oracle anchors)
    * must say so explicitly with a negative value. */
  val DefaultMaxDocFrequency: Long = 128L

  /** CPU-heavy per-row stages (shingling, hashing) must not inherit the
    * input's split count — a single small parquet file reads as one
    * partition and serializes the whole operator on one core. Fan out
    * to the cluster's parallelism first. */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup: canonical row per fingerprint = min id; also returns
    * group size. One shuffle on the 128-bit fingerprint. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping full rows: first row (by id) per fingerprint. */
  def exactRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    MergeOps.dedupLatest(
      df.withColumn("__fp", fingerprint(col(textCol))),
      keys = Seq(col("__fp")), order = Seq(col(idCol).asc))
      .drop("__fp")

  /** Candidate pairs whose MinHash band keys collide.
    * numHashes = bands × rowsPerBand. Each band is one shuffle key; a
    * pair appears once regardless of how many bands it collides in.
    * Signatures are a compiled per-row projection (zero shuffle — see
    * o.a.s.sql.graft.MinhashSignature); docs with no shingles drop
    * out, mirroring the oracle's len>0 filter. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2): DataFrame =
    minhashCandidatesFromShingles(shingleSets(df, idCol, textCol, shingleSize),
      bands, rowsPerBand)

  /** (id, sh) per document: the distinct word-shingle set. Shingling is
    * the dominant per-row cost of every MinHash/Jaccard operator, so
    * callers that need it twice (signature pass + verify pass)
    * materialize this ONCE via localCheckpoint. */
  private[operators] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                                     shingleSize: Int): DataFrame =
    fanOut(df).select(col(idCol).as("id"),
      array_distinct(wordShingles(col(textCol), shingleSize)).as("sh"))

  /** (id, band, key) LSH band keys from a pre-computed (id, sh) frame —
    * the blocking side of every MinHash operator (self-join dedup here,
    * cross-corpus probe in Decontaminate). Signatures are a compiled
    * per-row projection (zero shuffle — see MinhashSignature); docs
    * with no shingles drop out, mirroring the oracle's len>0 filter. */
  private[operators] def bandedKeys(sh: DataFrame, bands: Int,
                                    rowsPerBand: Int): DataFrame = {
    val n = bands * rowsPerBand
    val sig = sh.filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), n).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(col("sig"), b, rowsPerBand).as("key"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
  }

  /** Band-collision candidate pairs from a pre-computed (id, sh) frame. */
  private def minhashCandidatesFromShingles(sh: DataFrame, bands: Int,
                                            rowsPerBand: Int): DataFrame = {
    val banded = bandedKeys(sh, bands, rowsPerBand)
      .transform(Materialize.once) // read twice by the self-join; computed once
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard between two documents' shingle sets. */
  private[operators] def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb))
    val uni = size(array_union(sa, sb))
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** MinHash-LSH near-dup pairs, verified: candidates from
    * [[minhashCandidates]], then exact shingle-set Jaccard ≥ threshold.
    * The verify join touches only candidate ids — the full corpus is
    * never self-joined, and the corpus is shingled exactly ONCE (the
    * checkpointed shingle sets feed both the signature pass and the
    * verify joins).
    *
    * EAGER: checkpointing the shingle sets runs a Spark job at
    * DataFrame-construction time in the default [[Materialize]] mode;
    * `spark.graft.localCheckpoint=false` defers to lazy persist. */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleSize: Int = 3,
                        bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sh = Materialize.once(shingleSets(df, idCol, textCol, shingleSize))
    val cands = minhashCandidatesFromShingles(sh, bands, rowsPerBand)
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs: Hamming(sig_a, sig_b) <= maxHamming.
    * Pigeonhole blocking: a 32-bit signature is split into
    * (maxHamming+1) bytes — any pair within maxHamming bits must agree
    * on at least one whole block, so each block is an equi-join key.
    * With maxHamming <= 3 the 4 byte-blocks cover all pairs. */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "32-bit simhash pigeonhole supports maxHamming <= 3")
    // signature as a compiled per-row projection (zero shuffle — the
    // earlier explode+groupBy shape shuffled one row per TOKEN); docs
    // with no tokens are excluded, as the explode formulation did —
    // tokens() is non-empty iff trim(text) is, so test THAT (a full
    // regex tokenization per row just for blankness would double the
    // per-row scan this path exists to avoid)
    val sig = fanOut(df)
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"), simhash32(col(textCol)).as("sig"))
    val blocked = sig.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        blk => struct(blk.as("blk"),
          pmod(floor(col("sig").cast("double") / pow(lit(256.0), blk)).cast("long"),
            lit(256L)).as("key")))).as("bk"))
      .select(col("id"), col("sig"), col("bk.blk"), col("bk.key"))
      .transform(Materialize.once) // sig fold computed once; self-join reads it twice
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming32(col("a.sig"), col("b.sig")).as("hamming"))
      // verify BEFORE distinct: the block join's false positives (same
      // byte, far signatures) die in the codegen'd filter instead of
      // being shuffled through the pair dedup
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** n-gram Jaccard near-dup pairs via an inverted-index count join:
    * explode distinct shingles, self-join the postings on the shingle
    * key (with the ssjoin length filter — J(a,b) ≤ min/max(|a|,|b|), so
    * size-incompatible pairs can never reach the threshold), and count
    * matches per pair. Then |A∩B| = shared and |A∪B| = |A|+|B|−shared,
    * so Jaccard falls out of the codegen'd groupBy — no per-pair array
    * intersection (interpreted, allocation-heavy) at all.
    *
    * Work is Σ_shingle (postings²), i.e. proportional to real shingle
    * overlap, never O(n²) over the corpus; one shuffle on the shingle
    * key + one on the pair key.
    *
    * Hot-shingle capping is ON BY DEFAULT ([[DefaultMaxDocFrequency]]):
    * shingles appearing in more than `maxDocFrequency` documents are
    * excluded from CANDIDATE GENERATION (bounding the postings² blowup),
    * and surviving candidate pairs carry the exact full-set Jaccard
    * (reassembled from cold- and hot-shingle match counts) — so every
    * emitted pair has its true score, and the only semantic change is
    * lost recall for pairs
    * sharing nothing but hot shingles (the standard ssjoin trade).
    * Pass a NEGATIVE `maxDocFrequency` to explicitly run the uncapped
    * quadratic (brute-force oracle anchor only — Σdf² work); 0, the old
    * silent-uncapped sentinel, now fails loudly. */
  def ngramJaccardDuplicates(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double, shingleSize: Int = 3,
                             maxDocFrequency: Long = DefaultMaxDocFrequency): DataFrame = {
    require(maxDocFrequency != 0L,
      "maxDocFrequency = 0 (the old silent-uncapped sentinel) is a corpus² " +
        "risk at scale; pass a positive cap, or a negative value to " +
        "explicitly run uncapped")
    val docs = fanOut(df).select(col(idCol).as("id"),
      array_distinct(wordShingles(col(textCol), shingleSize)).as("sh"))
      .filter(size(col("sh")) > 0)
    if (maxDocFrequency < 0L) {
      // exact path: |A∩B| falls straight out of the count join
      val postings = docs.select(col("id"), size(col("sh")).as("len"),
        explode(col("sh")).as("s"))
        .transform(Materialize.once) // shingling is the expensive stage; both join sides read it
      postings.as("a")
        .join(postings.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.len") >= col("b.len") * threshold &&
          col("b.len") >= col("a.len") * threshold)
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.len").as("la"), col("b.len").as("lb"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", col("shared").cast("double") /
          (col("la") + col("lb") - col("shared")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    } else {
      // Capped path: cold-posting candidates (symmetric length
      // prefilter intact), exact Jaccard REASSEMBLED from cold-match +
      // hot-match counts — |A∩B| = |cold∩| + |hot∩| because the df cap
      // partitions the shingle space. Shingle arrays never cross a
      // join, df is a partial aggregate (map-side combine, not a
      // windowed count that lands every hot posting in one task), and
      // the over-cap list is a tiny broadcast.
      // compact array form materialized once; postings re-derive from
      // the cache per use instead of checkpointing every posting row
      val sh = Materialize.once(docs)
      val postings = sh.select(col("id"), size(col("sh")).as("len"),
        explode(col("sh")).as("s"))
      val hots = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFrequency)
        .select(col("s"))
        .transform(Materialize.once) // anti-join + semi-join both read it
      val cold = postings.join(broadcast(hots), Seq("s"), "left_anti")
      // LAZY barrier (r18): read ONCE — prune and verify sit on one
      // linear chain (see containmentPairs), so the eager checkpoint
      // paid a write+re-read of the candidate frame for nothing
      val coldShared = Materialize.lazily(cold.as("a")
        .join(cold.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.len") >= col("b.len") * threshold &&
          col("b.len") >= col("a.len") * threshold)
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.len").as("la"), col("b.len").as("lb"))
        .agg(count(lit(1)).as("cold_shared")))
      // Same bound-then-verify shape as containmentPairs (see the
      // comment there): scalar hot counts give the lossless prune
      // J ≤ smax/(la+lb−smax) with smax = cold + min(|hotA|,|hotB|)
      // (x/(C−x) and IEEE rounding are monotone, so no pair at or
      // above threshold is pruned); only survivors touch the per-doc
      // hot arrays, once, behind a materialization barrier.
      val hotArr = Materialize.once(
        postings.join(broadcast(hots), Seq("s"), "left_semi")
          .groupBy(col("id")).agg(collect_list(col("s")).as("hsh")))
      val hotCnt = hotArr.select(col("id"), size(col("hsh")).cast("long").as("hc"))
      val pruned = coldShared
        .join(hotCnt.select(col("id").as("id_a"), col("hc").as("hc_a")), Seq("id_a"), "left")
        .join(hotCnt.select(col("id").as("id_b"), col("hc").as("hc_b")), Seq("id_b"), "left")
        .withColumn("__smax", col("cold_shared") +
          least(coalesce(col("hc_a"), lit(0L)), coalesce(col("hc_b"), lit(0L))))
        .filter(col("__smax").cast("double") /
          (col("la") + col("lb") - col("__smax")).cast("double") >= threshold)
      // LAZY: read once by the final threshold/projection chain —
      // barrier kept, eager checkpoint job dropped (r18)
      val verified = Materialize.lazily(pruned
        .join(hotArr.select(col("id").as("id_a"), col("hsh").as("__ha")), Seq("id_a"), "left")
        .join(hotArr.select(col("id").as("id_b"), col("hsh").as("__hb")), Seq("id_b"), "left")
        .withColumn("shared", col("cold_shared") +
          when(col("__ha").isNull || col("__hb").isNull, lit(0L))
            .otherwise(size(array_intersect(col("__ha"), col("__hb"))).cast("long")))
        .select(col("id_a"), col("id_b"), col("la"), col("lb"), col("shared")))
      verified
        .withColumn("jaccard", col("shared").cast("double") /
          (col("la") + col("lb") - col("shared")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** ASYMMETRIC containment pairs: C(A→B) = |A∩B| / |A| over distinct
    * word-shingle sets — the quotation/partial-copy detector Jaccard
    * misses (a 50-token doc pasted inside a 5000-token doc has
    * containment 1.0 but Jaccard ≈ 0.01, invisible to
    * [[ngramJaccardDuplicates]] at any usable threshold).
    *
    * Same inverted-index count join as the Jaccard path, but WITHOUT
    * the symmetric length pre-filter — wildly different sizes are
    * exactly the target. All arithmetic is integer: containments are
    * emitted in ppm via `(shared·10⁶) div len` and the threshold is a
    * ppm long, so results are engine-exact with no float boundary.
    * One shuffle on the shingle key, one on the pair key.
    *
    * Hot-shingle capping is ON BY DEFAULT ([[DefaultMaxDocFrequency]]):
    * candidate pairs come only from shingles with df ≤ cap (bounding
    * per-shingle join work at cap²), then every candidate's shared /
    * lengths / ppm containments are reassembled EXACTLY over the
    * UNCAPPED sets (cold-match count + hot-match count), so emitted
    * rows are bit-identical to the uncapped join's; the only semantic
    * change is lost recall for pairs sharing nothing but
    * hotter-than-cap shingles. Pass a NEGATIVE `maxDocFrequency` for
    * the explicit uncapped Σdf² join (oracle anchor only); 0 fails
    * loudly.
    *
    * @return (id_a, id_b, shared, a_sh, b_sh, cont_a_q, cont_b_q) with
    *         id_a < id_b, kept when either direction ≥ thresholdPpm
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       thresholdPpm: Long = 800000L,
                       shingleSize: Int = 3,
                       maxDocFrequency: Long = DefaultMaxDocFrequency): DataFrame = {
    require(maxDocFrequency != 0L,
      "maxDocFrequency = 0 is ambiguous; pass a positive cap, or a " +
        "negative value to explicitly run the uncapped quadratic join")
    val docs = fanOut(df).select(col(idCol).as("id"),
      array_distinct(wordShingles(col(textCol), shingleSize)).as("sh"))
      .filter(size(col("sh")) > 0)
    if (maxDocFrequency < 0L) {
      val postings = docs.select(col("id"), size(col("sh")).cast("long").as("len"),
        explode(col("sh")).as("s"))
        .transform(Materialize.once) // both join sides read the shingling pass
      postings.as("a")
        .join(postings.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.len").as("a_sh"), col("b.len").as("b_sh"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("cont_a_q", expr("(shared * 1000000) div a_sh"))
        .withColumn("cont_b_q", expr("(shared * 1000000) div b_sh"))
        .filter(greatest(col("cont_a_q"), col("cont_b_q")) >= thresholdPpm)
        .select(col("id_a"), col("id_b"), col("shared"), col("a_sh"),
          col("b_sh"), col("cont_a_q"), col("cont_b_q"))
    } else {
      // Capped candidates from cold postings; the exact overlap is then
      // REASSEMBLED as cold-match counts + hot-match counts instead of
      // an array_intersect verify — |A∩B| = |cold(A)∩cold(B)| +
      // |hot(A)∩hot(B)| because the df cap partitions the shingle
      // space. Shingle arrays never cross a join, df is a partial
      // aggregate (map-side combine, no single-task hot-key window),
      // and the over-cap list is a tiny broadcast — the two 100 TB
      // liabilities of the windowed-df + full-set-verify plan.
      // materialize the COMPACT array form once (shingling is the
      // expensive stage); the exploded postings re-derive from it per
      // use — a cheap cached scan, vs checkpointing every posting row
      val sh = Materialize.once(docs)
      val postings = sh.select(col("id"), explode(col("sh")).as("s"))
      val hots = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFrequency)
        .select(col("s"))
        .transform(Materialize.once) // anti-join + semi-join both read it
      val cold = postings.join(broadcast(hots), Seq("s"), "left_anti")
      // candidate pairs carry their exact cold overlap out of one agg —
      // per-shingle join work is bounded by cap² by construction.
      // LAZY barrier (r18): the frame is read ONCE — the bound prune
      // and the verify assembly sit on one linear chain (pruned is
      // BUILT FROM coldShared; the old "read twice" note miscounted) —
      // so the eager checkpoint paid a full write+re-read of the
      // biggest intermediate (every co-occurring pair) for nothing.
      // The barrier itself stays: it pins the cap²-bounded join as its
      // own unit and keeps downstream filters from migrating into it.
      val coldShared = Materialize.lazily(cold.as("a")
        .join(cold.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("cold_shared")))
      // Per-doc HOT slices as compact arrays (≤ |hots| entries, doc-id
      // keyed — no df-sized skew). The candidate frame is orders of
      // magnitude bigger than the output (cap²-bounded, but every
      // co-occurrence), so hot overlap must NOT be computed per
      // candidate: first a lossless upper-bound prune using only the
      // SCALAR hot counts — shared ≤ cold_shared + min(|hotA|,|hotB|),
      // and integer div is monotone, so no pair at or above the ppm
      // threshold can be pruned — then the exact array overlap runs
      // once per SURVIVOR behind a materialization barrier (a fan-out
      // join of candidates × hot postings measured 45× this plan).
      val hotArr = Materialize.once(
        postings.join(broadcast(hots), Seq("s"), "left_semi")
          .groupBy(col("id")).agg(collect_list(col("s")).as("hsh")))
      val hotCnt = hotArr.select(col("id"), size(col("hsh")).cast("long").as("hc"))
      val lens = sh.select(col("id"), size(col("sh")).cast("long").as("len"))
      val pruned = coldShared
        .join(lens.select(col("id").as("id_a"), col("len").as("a_sh")), Seq("id_a"))
        .join(lens.select(col("id").as("id_b"), col("len").as("b_sh")), Seq("id_b"))
        .join(hotCnt.select(col("id").as("id_a"), col("hc").as("hc_a")), Seq("id_a"), "left")
        .join(hotCnt.select(col("id").as("id_b"), col("hc").as("hc_b")), Seq("id_b"), "left")
        .withColumn("__smax", col("cold_shared") +
          least(coalesce(col("hc_a"), lit(0L)), coalesce(col("hc_b"), lit(0L))))
        .filter(expr("(__smax * 1000000) div least(a_sh, b_sh)") >= thresholdPpm)
      // LAZY: read once by the final threshold/projection chain —
      // barrier kept, eager checkpoint job dropped (r18)
      val verified = Materialize.lazily(pruned
        .join(hotArr.select(col("id").as("id_a"), col("hsh").as("__ha")), Seq("id_a"), "left")
        .join(hotArr.select(col("id").as("id_b"), col("hsh").as("__hb")), Seq("id_b"), "left")
        .withColumn("shared", col("cold_shared") +
          when(col("__ha").isNull || col("__hb").isNull, lit(0L))
            .otherwise(size(array_intersect(col("__ha"), col("__hb"))).cast("long")))
        .select(col("id_a"), col("id_b"), col("shared"), col("a_sh"), col("b_sh")))
      verified
        .withColumn("cont_a_q", expr("(shared * 1000000) div a_sh"))
        .withColumn("cont_b_q", expr("(shared * 1000000) div b_sh"))
        .filter(greatest(col("cont_a_q"), col("cont_b_q")) >= thresholdPpm)
        .select(col("id_a"), col("id_b"), col("shared"), col("a_sh"),
          col("b_sh"), col("cont_a_q"), col("cont_b_q"))
    }
  }

  /** [[embeddingDuplicates]] over integer-quantized vectors: buckets
    * are signs of exact integer projections and the verify cosine is
    * exact integer arithmetic, so the whole blocking+verify pipeline is
    * deterministic across engines and partition counts — the
    * oracle-checked form (q48). */
  def embeddingDuplicatesQuantized(df: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double, planes: Int = 12,
                                   seed: Int = 0, dims: Int = 512): DataFrame = {
    val b = fanOut(df).select(col(idCol).as("id"),
      VectorFunctions.quantize(col(vecCol)).as("qv"))
      .withColumn("bucket",
        VectorFunctions.srpBucketQuantized(col("qv"), planes, seed, dims))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine", VectorFunctions.quantizedCosine(col("a.qv"), col("b.qv")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a k-means coarse
    * quantizer, then verify cosine similarity ONLY within a cluster —
    * the cluster is the blocking key, so the pair work is
    * Σ|cell|² instead of n². A row is dropped when a SAME-CELL row
    * with a SMALLER id has quantized cosine ≥ `threshold`
    * (first-occurrence keep, the same total-order rule as
    * [[paragraphDedup]] — deterministic, no RNG).
    *
    * `qCentroids` come from [[Similarity.fitQuantizedCentroids]];
    * assignment is the zero-shuffle codegen argmin
    * (o.a.s.sql.graft.NearestCentroids) and the cosine is exact
    * integer arithmetic, so the full decision — cell, pair, verdict —
    * replays bit-identically in a SQL oracle (q86).
    *
    * Returns (id, cell, keep). At 100 TB size the quantizer so cells
    * stay small (nCells ≈ n/1000 in the paper's regime): the one
    * shuffle is on `cell`, and a degenerate giant cell turns the
    * in-cell self-join quadratic — AQE skew-join splits it, but the
    * real fix is more cells. */
  def semanticDedupQuantized(df: DataFrame, idCol: String, vecCol: String,
                             qCentroids: Array[Array[Double]],
                             threshold: Double): DataFrame = {
    val assigned = Materialize.once( // both sides of the self-join read it
      fanOut(df).select(col(idCol).as("id"),
          VectorFunctions.quantize(col(vecCol)).as("qv"))
        .withColumn("cell",
          org.apache.spark.sql.graft.NearestCentroids.nearestCell(col("qv"), qCentroids)))
    val dupIds = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          VectorFunctions.quantizedCosine(col("a.qv"), col("b.qv")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dupIds.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), not(coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** Embedding near-dup pairs: SRP-LSH buckets then in-bucket cosine
    * verify. `planes` trades recall for bucket size (16 planes ≈ 65k
    * buckets). */
  def embeddingDuplicates(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, planes: Int = 12): DataFrame = {
    val b = fanOut(df).select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.srpBucket(col(vecCol), planes).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine", VectorFunctions.cosine(col("a.v"), col("b.v")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Corpus-level PARAGRAPH dedup — the sub-document hygiene pass (à la
    * C4/Dolma) that strips boilerplate repeated across pages: split
    * every document on `sep`, keep only the globally FIRST occurrence
    * of each distinct paragraph (first = minimal (id, position) — total
    * and engine-independent), and reassemble documents preserving
    * original paragraph order. Returns one row per input document:
    * (idCol, n_paras, n_kept, textCol rebuilt from the kept
    * paragraphs; "" when every paragraph was claimed elsewhere).
    *
    * Scale shape: one shuffle keyed on the 128-bit paragraph
    * fingerprint to elect keepers (paragraph text never travels — only
    * fingerprint + (id, idx)), a fingerprint-keyed join back, and one
    * doc-keyed shuffle to reassemble. No pairwise comparisons, no
    * driver-side state. Null-text documents contribute no paragraphs
    * and report n_paras = 0. */
  /** Cross-document repeated-span coverage: for each doc, the fraction
    * of its tokens lying inside an n-gram that ALSO appears in some
    * other document — the per-document signal behind exact-substring
    * dedup pipelines (trim or drop documents that are mostly boilerplate
    * shared with the rest of the corpus). n-gram granularity bounds the
    * index at one row per (doc, position) instead of a suffix
    * structure, and is the standard practical proxy.
    *
    * Determinism: coverage is the exact union length of the
    * [p, p+n) intervals of duplicated grams, computed by an ARRAY-SIDE
    * fold over the sorted position list with the running (end, total)
    * state PACKED into one long (`end·10⁹ + total`) — the same fold,
    * same packing, replayed by DuckDB's `list_reduce` in the oracle, so
    * the ppm fraction hash-matches.
    *
    * Scale shape: one (gram) count shuffle to find grams in ≥ 2
    * distinct docs (map-side combined), one equi-join of per-position
    * gram rows against that set, one per-doc collect of POSITIONS
    * (ints, not text). Hot boilerplate grams fan back to every doc
    * that holds them — that is the answer, not a skew accident; the
    * per-doc position lists stay document-bounded. Token counts
    * and positions must stay < 10⁹ (packing base; loudly documented
    * contract, generous vs any real document). */
  def duplicatedSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                             n: Int, minDocs: Long = 2L): DataFrame = {
    require(n >= 2, s"gram size must be >= 2: $n")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    import graft.functions.TextFunctions.{tokens, wordShingles}
    val base = fanOut(df).select(col(idCol).as("id"),
      tokens(col(textCol)).as("ts"), wordShingles(col(textCol), n).as("gs"))
    val pos = base.select(col("id"), size(col("ts")).as("n_tokens"),
      posexplode(col("gs")).as(Seq("p", "g")))
    val dupGrams = pos.groupBy("g")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("g")
    val covered = pos.join(dupGrams, Seq("g"))
      .groupBy("id", "n_tokens")
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        count(lit(1)).as("n_dup_grams"))
      // fold state packed end*1e9 + total; p is 0-based, spans [p, p+n)
      .withColumn("covered", aggregate(col("ps"), lit(0L),
        (acc, p0) => {
          val pL = p0.cast("long")
          // packed-state unpack: end = acc div 1e9 (the double divide
          // is exact here: acc < 2^53 and any fractional part is
          // >= 1e-9, far above ulp — so floor equals integer div)
          val end = floor(acc / lit(1000000000L)).cast("long")
          val tot = pmod(acc, lit(1000000000L))
          val add = greatest(lit(0L), pL + lit(n.toLong) - greatest(end, pL))
          greatest(end, pL + lit(n.toLong)) * lit(1000000000L) + tot + add
        }))
      .select(col("id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_dup_grams"),
        pmod(col("covered"), lit(1000000000L)).as("covered_tokens"))
    base.select(col("id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(covered.drop("n_tokens"), Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(coalesce(covered_tokens, 0L) * 1000000) div n_tokens"))
          .as("dup_ppm"))
      .orderBy(idCol)
  }

  /** DuckDB replica of [[duplicatedSpanCoverage]] — same shingling,
    * same packed-state fold via `list_reduce` (a 0 sentinel prepended
    * as the initial accumulator). `docsSql` must yield (id, text);
    * `idOut` renames the id column to match the Spark output. */
  def duplicatedSpanOracleSql(docsSql: String, n: Int, minDocs: Long = 2L,
                              idOut: String = "id"): String =
    s"""WITH docs AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |              FROM ($docsSql) WHERE trim(text) <> ''),
       |blank AS (SELECT id FROM ($docsSql) WHERE trim(text) = ''),
       |pos AS (SELECT id, len(ts) AS n_tokens, i.i - 1 AS p,
       |               array_to_string(ts[i.i:i.i + ${n - 1}], ' ') AS g
       |        FROM docs, LATERAL (SELECT unnest(range(1, len(ts) - ${n - 2})) AS i) i),
       |dup AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT id) >= $minDocs),
       |cov AS (SELECT id, any_value(n_tokens) AS n_tokens,
       |               count(*) AS n_dup_grams,
       |               list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                   list_sort(list(CAST(p AS BIGINT)))),
       |                 (acc, p) -> greatest(acc // 1000000000, p + $n)
       |                     * 1000000000
       |                   + acc % 1000000000
       |                   + greatest(0, p + $n - greatest(acc // 1000000000, p)))
       |                 % 1000000000 AS covered
       |        FROM pos JOIN dup USING (g) GROUP BY id)
       |SELECT d.id AS $idOut, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
       |  CAST(CASE WHEN d.n_tokens = 0 THEN 0
       |       ELSE (COALESCE(c.covered, 0) * 1000000) // d.n_tokens END AS BIGINT)
       |    AS dup_ppm
       |FROM (SELECT id, len(ts) AS n_tokens FROM docs
       |      UNION ALL SELECT id, 0 FROM blank) d
       |LEFT JOIN cov c USING (id)
       |ORDER BY d.id""".stripMargin

  /** Exact corpus-wide repeated-substring DISCOVERY (the suffix-array
    * tier of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", re-expressed relationally): find, per
    * document, every MAXIMAL token span in which each n-token window
    * occurs at least `minCount` times in the whole corpus — i.e. the
    * spans an ExactSubstr dedup pass would surgically remove (feed
    * them to [[Decontaminate.scrubSpans]]-style removal or drop them
    * directly). Unlike [[duplicatedSpanCoverage]] (a per-doc coverage
    * FRACTION), this emits the spans themselves: start, length, and
    * the repeated text.
    *
    * Exactness: a span [a, b) is emitted iff positions a..b-n are all
    * repeated-window positions and a-1 / b-n+1 are not (or fall off
    * the document) — the gaps-and-islands merge of the repeated
    * n-gram position set, which is precisely the "every length-n
    * window of this span appears ≥ minCount times corpus-wide"
    * predicate, the removal criterion of the suffix-array pipeline.
    * Within-doc repeats count toward `minCount` (total occurrences,
    * not distinct documents) — self-repeated boilerplate is exactly
    * what the pass must catch.
    *
    * Scale shape: one map-side-combined n-gram count shuffle elects
    * repeated grams (gram TEXT never rides past the aggregate — only
    * the (id, position) pairs that survive); the island merge is a
    * per-document window (document-bounded state); the text of each
    * span is re-sliced from the doc's own token array at emit. No
    * suffix structure, no pairwise comparisons, no driver state.
    */
  def maximalRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 2, s"gram size must be >= 2: $n")
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    import graft.functions.TextFunctions.{tokens, wordShingles}
    val base = fanOut(df).select(col(idCol).as("id"),
        tokens(col(textCol)).as("ts"),
        wordShingles(col(textCol), n).as("gs"))
      .transform(Materialize.once) // read by position rows AND join-back
    val pos = base.select(col("id"), posexplode(col("gs")).as(Seq("p", "g")))
    val rep = pos.groupBy("g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("g")
    val hits = pos.join(rep, Seq("g")).select("id", "p")
    val isl = hits.withColumn("__grp", col("p") -
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("p")))
    val spans = isl.groupBy("id", "__grp")
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(n)).cast("long").as("__end"),
        count(lit(1)).as("n_windows"))
    spans.join(base.select(col("id"), col("ts")), Seq("id"))
      .select(col("id").as(idCol), col("span_start"),
        (col("__end") - col("span_start")).as("span_len"),
        col("n_windows"),
        concat_ws(" ", slice(col("ts"), col("span_start") + lit(1),
          col("__end") - col("span_start"))).as("span_text"))
      .orderBy(idCol, "span_start")
  }

  /** DuckDB replica of [[maximalRepeatedSpans]]: same shingling as
    * [[duplicatedSpanOracleSql]], repeated grams by TOTAL occurrence
    * count, gaps-and-islands span merge, span text re-sliced from the
    * token array. `docsSql` must yield (id, text). */
  def maximalRepeatedSpansOracleSql(docsSql: String, n: Int,
                                    minCount: Long = 2L,
                                    idOut: String = "id"): String =
    s"""WITH docs AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |              FROM ($docsSql) WHERE trim(text) <> ''),
       |pos AS (SELECT id, i.i - 1 AS p,
       |               array_to_string(ts[i.i:i.i + ${n - 1}], ' ') AS g
       |        FROM docs, LATERAL (SELECT unnest(range(1, len(ts) - ${n - 2})) AS i) i),
       |rep AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= $minCount),
       |isl AS (SELECT id, p,
       |               p - row_number() OVER (PARTITION BY id ORDER BY p) AS grp
       |        FROM pos JOIN rep USING (g)),
       |spans AS (SELECT id, min(p) AS span_start, max(p) + $n AS e,
       |                 count(*) AS n_windows
       |          FROM isl GROUP BY id, grp)
       |SELECT s.id AS $idOut, CAST(s.span_start AS BIGINT) AS span_start,
       |  CAST(s.e - s.span_start AS BIGINT) AS span_len,
       |  CAST(s.n_windows AS BIGINT) AS n_windows,
       |  array_to_string(d.ts[s.span_start + 1:s.e], ' ') AS span_text
       |FROM spans s JOIN docs d USING (id)
       |ORDER BY $idOut, span_start""".stripMargin

  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    val paras = fanOut(df)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__idx", "__para")))
      .withColumn("__fp", md5(col("__para")))
      .transform(Materialize.once) // read by keeper election AND join-back
    val keepers = paras
      .groupBy("__fp")
      .agg(min(struct(col("__id"), col("__idx"))).as("__keep"))
    val kept = paras.join(keepers, Seq("__fp"))
      .filter(col("__id") === col("__keep.__id") &&
        col("__idx") === col("__keep.__idx"))
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__idx"), col("__para")))),
            p => p.getField("__para")), sep).as("__text"))
    val totals = paras.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_paras"))
    df.select(col(idCol))
      .join(totals.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__text"), lit("")).as(textCol))
  }
}
