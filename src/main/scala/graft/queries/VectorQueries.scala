package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** Similarity search over `embeddings` + multimodal binary plumbing.
  *
  * Oracle-checked queries quantize vectors to integers
  * (floor(x·10⁶)) so dot products are exact and identical in both
  * engines — float summation order would otherwise flip rankings at
  * the 1e-16 level. The float-path operators (`Similarity.*`) are
  * exercised by the rows-only queries and the ScalaTest suite.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")

  /** Exact k-NN by quantized cosine: queries = vec_id < 10, k = 5.
    * Corpus fanned out to all cores — the single parquet file would
    * otherwise serialize the O(n·q) scoring on one partition. */
  val q28KnnBrute: Q = (s, d) => {
    val e = emb(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", quantizedCosine(col("qq"), col("qv")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** All-pairs with quantized cosine above threshold — the exact
    * embedding near-dup baseline. */
  val q29EmbeddingPairs: Q = (s, d) => {
    val e = emb(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", quantizedCosine(col("a.qv"), col("b.qv")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Per-label centroid stats via quantized sums — the "embedding
    * aggregation" shape (mean pooling by group). */
  val q30LabelCentroids: Q = (s, d) => {
    val e = emb(s, d).select(col("label"), quantize(col("embedding")).as("qv"))
    e.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(element_at(col("qv"), 1)).as("sum_d0"),
        sum(element_at(col("qv"), 2)).as("sum_d1"),
        sum(intDot(col("qv"), col("qv"))).as("sum_sqnorm"))
      .orderBy("label")
  }

  /** Persistent-index state for q31: the index is built ONCE per (JVM,
    * sf dir) through [[graft.operators.Materialize.buildOnce]] —
    * repeated bench passes and the verify run all probe the same
    * on-disk index, the shape a real user runs. The fitted
    * quantized centroids are held so [[oracles]] can render them as
    * BIGINT[] literals in the DuckDB oracle (training isn't
    * SQL-expressible; replaying the FITTED quantizer is — Verify runs
    * every query before dumping oracle_sql.json, so the centroids are
    * always set by render time). */
  private[queries] object IvfIndex {
    val NCells = 16
    val NProbe = 4
    @volatile private[queries] var lastCentroids: Option[Array[Array[Long]]] = None

    def getOrBuild(s: SparkSession, sfDir: String): String = {
      val (path, cents) = graft.operators.Materialize.buildOnce("ivf", sfDir) { dir =>
        Similarity.buildIvfIndexQuantized(
          Tables(s, sfDir, "embeddings"), "vec_id", "embedding", dir,
          nCells = NCells, seed = 42L)
      }
      lastCentroids = Some(cents)
      path
    }
  }

  /** The q213 twin of [[IvfIndex]]: same corpus, same probe spec, but
    * the quantizer is the BALANCED fit — hot cells past 10% of the
    * corpus re-split by a member-local k-means
    * ([[Similarity.fitBalancedQuantizedCentroids]], the sf1skew
    * collapsed-cell mitigation). The flattened centroid list feeds the
    * unchanged build/probe/oracle machinery. */
  private[queries] object IvfIndexBalanced {
    val NCells = 16
    val NProbe = 4
    val MaxCellFraction = 0.10
    @volatile private[queries] var lastCentroids: Option[Array[Array[Long]]] = None

    def getOrBuild(s: SparkSession, sfDir: String): String = {
      val (path, cents) = graft.operators.Materialize.buildOnce("ivf-bal", sfDir) { dir =>
        val corpus = Tables(s, sfDir, "embeddings")
        val balanced = Similarity.fitBalancedQuantizedCentroids(corpus,
          "embedding", nCells = NCells, seed = 42L,
          maxCellFraction = MaxCellFraction)
        Similarity.buildIvfIndexQuantized(corpus, "vec_id",
          "embedding", dir, nCells = NCells, seed = 42L,
          preFitted = Some(balanced))
      }
      lastCentroids = Some(cents)
      path
    }
  }

  /** IVF ANN through the persistent index (k-means coarse quantizer,
    * nProbe cells, quantized arithmetic): build-once [[IvfIndex]] +
    * partition-pruned probe. Oracle replays the fitted quantized
    * centroids as literals — assignment argmin, probe fan-out, and
    * quantized-cosine ranking are plain SQL. */
  val q31AnnIvf: Q = (s, d) => {
    val e = emb(s, d)
    val idx = IvfIndex.getOrBuild(s, d)
    Similarity.ivfProbeQuantized(e.filter(col("vec_id") < 10), idx,
      "vec_id", "embedding", k = 5, nProbe = IvfIndex.NProbe)
      .orderBy("query_id", "rank")
  }

  /** q31 through the BALANCED quantizer ([[IvfIndexBalanced]]): the
    * probe pipeline and oracle shape are identical — only the centroid
    * list differs (hot cells re-split, so probe candidate volume is
    * bounded by nProbe·(maxCellFraction·n) whatever the data's skew).
    * The oracle replays the balanced centroids as literals, proving
    * the re-split list is served exactly, not approximately. */
  val q213AnnIvfBalanced: Q = (s, d) => {
    val e = emb(s, d)
    val idx = IvfIndexBalanced.getOrBuild(s, d)
    Similarity.ivfProbeQuantized(e.filter(col("vec_id") < 10), idx,
      "vec_id", "embedding", k = 5, nProbe = IvfIndexBalanced.NProbe)
      .orderBy("query_id", "rank")
  }

  /** Multi-table SRP-LSH ANN over quantized vectors: buckets are signs
    * of exact integer projections against md5-seeded hyperplane
    * literals, so the full candidate-generation + re-rank pipeline is
    * bit-identical in DuckDB — a hash-matched oracle for the LSH ANN
    * path (the float variant stays available as Similarity.srpTopK). */
  val q32AnnSrp: Q = (s, d) => {
    val e = emb(s, d)
    Similarity.srpTopKQuantized(e.filter(col("vec_id") < 10), e, "vec_id",
      "embedding", k = 5, planes = 8, tables = 4, dims = 64)
      .orderBy("query_id", "rank")
  }

  /** Multimodal plumbing: text → opaque binary content column + typed
    * metadata + deterministic stub "decode" (the container has no media
    * libs — SURVEY-mandated stub; the schema/partitioning/batch shape is
    * the real deliverable, see graft.multimodal.Multimodal). */
  val q33Multimodal: Q = (s, d) => {
    val b = Tables(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("content"), col("source"))
    b.select(
      col("doc_id"),
      length(col("content")).cast("long").as("byte_len"),
      md5(col("content")).as("content_md5"),
      col("source"),
      // stub decode: deterministic fake dimensions from the content hash
      pmod(conv(substring(md5(col("content")), 1, 8), 16, 10).cast("long"), lit(1280L))
        .as("fake_width"),
      pmod(conv(substring(md5(col("content")), 9, 8), 16, 10).cast("long"), lit(720L))
        .as("fake_height"))
      .orderBy("doc_id")
  }

  /** SRP-LSH embedding near-dup END-TO-END (blocking + verify), oracle
    * checked: the corpus is extended with exact copies of every 10th
    * vector (identical vectors always share a bucket), buckets are
    * quantized-projection signs, verification is quantized cosine ≥
    * 0.5. Both engines build the same corpus, so the pair list must
    * match bit-for-bit. */
  val q48EmbeddingLsh: Q = (s, d) => {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val corpus = e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    graft.operators.Dedup.embeddingDuplicatesQuantized(corpus, "vec_id",
      "embedding", threshold = 0.5, planes = 8, seed = 0, dims = 64)
      .orderBy("id_a", "id_b")
  }

  /** The q86 corpus: embeddings plus an exact copy of every 10th vector
    * (id+1000000) — guaranteed semantic duplicates (cosine 1.0) that
    * must land in the same k-means cell. Shared by the query and the
    * oracle renderer. */
  private def semCorpus(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
  }

  /** Fitted-quantizer state for q86 (the q31 holder pattern): fit once
    * per (JVM, sf dir); hold the quantized centroids so [[oracles]]
    * can replay assignment as a VALUES CTE. */
  private[queries] object SemCentroids {
    val NCells = 8
    val Threshold = 0.9
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
    @volatile private[queries] var lastCentroids: Option[Array[Array[Double]]] = None

    def getOrFit(s: SparkSession, sfDir: String): Array[Array[Double]] = {
      val cents = cache.computeIfAbsent(sfDir, { _ =>
        Similarity.fitQuantizedCentroids(semCorpus(s, sfDir), "embedding",
          NCells, seed = 7L)
      })
      lastCentroids = Some(cents)
      cents
    }
  }

  /** SemDeDup (cluster-then-verify semantic dedup, arXiv:2303.09540):
    * k-means cells as the blocking key, within-cell quantized cosine ≥
    * 0.9 with first-occurrence keep. The planted exact copies MUST be
    * dropped; the oracle replays the fitted centroids, assignment
    * argmin, and pair verdicts in plain SQL. */
  val q86SemDedup: Q = (s, d) => {
    val cents = SemCentroids.getOrFit(s, d)
    graft.operators.Dedup.semanticDedupQuantized(semCorpus(s, d), "vec_id",
        "embedding", cents, SemCentroids.Threshold)
      .select(col("id").as("vec_id"), col("cell"), col("keep"))
      .orderBy("vec_id")
  }

  /** REAL image decode end-to-end, oracle-checked: every doc becomes a
    * solid-color PNG whose dimensions and RGB derive from doc_id; Spark
    * must actually ENCODE, DECODE (javax.imageio), and feature-extract
    * the pixels to recover them, while the oracle replays the closed
    * forms in SQL. The luminance check: feature f = (lum/127.5 − 1)
    * as float, so round((f+1)·127.5·1000) must equal the exact integer
    * 299r+587g+114b (float roundoff ≈ 8·10⁻³ ≪ 0.5). PNG is lossless —
    * any decoder deviation breaks the hash. */
  val q58ImageDecode: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.Multimodal
    val media = Tables(s, d, "documents").select(col("doc_id")).as[Long]
      // CPU-heavy per-row encode must not inherit the parquet file's
      // 1-2 splits (the Dedup.fanOut rule)
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // ImageIO defaults to a temp-FILE-backed stream cache — a large
        // constant cost per tiny in-memory image; decode/encode from
        // heap (once-per-JVM switch, free after the first touch)
        graft.multimodal.ImageIoConfig.heapOnly()
        it.map { id =>
          val w = 16 + (id % 32).toInt
          val h = 16 + (id % 24).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val gfx = img.createGraphics()
          gfx.setColor(new java.awt.Color(((id * 7) % 256).toInt,
            ((id * 13) % 256).toInt, ((id * 29) % 256).toInt))
          gfx.fillRect(0, 0, w, h)
          gfx.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          (id, out.toByteArray)
        }
      }.toDF("doc_id", "content")
      // both the meta branch and the feature branch read the PNGs —
      // encode once, not once per branch
      .transform(graft.operators.Materialize.once)
    val rows = Multimodal.withMetadata(media, "doc_id", "content",
      Multimodal.ImageIoDecoder)
    val feats = Multimodal.extractFeatures(rows, dim = 4,
      Multimodal.ImageIoDecoder)
    rows.toDF().select(col("id").as("doc_id"),
        col("meta.mimeType").as("mime"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(feats.toDF().select(col("id").as("doc_id"),
        col("frames").as("n_frames"),
        round((element_at(col("embedding"), 1).cast("double") + 1.0)
          * 127.5 * 1000.0).cast("long").as("lum_x1000")), Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** REAL audio decode end-to-end, oracle-checked: every doc becomes a
    * planted waveform — sign flips every `hp` samples, magnitude is a
    * per-doc base + a per-channel offset + a 16-step ramp — encoded
    * into a genuine RIFF/WAV container, then decoded back THROUGH
    * `javax.sound.sampled` ([[graft.multimodal.WavDecoder]], reached
    * via the AutoDecoder magic-byte route) into integer features:
    * duration_µs, per-channel integer RMS (isqrt of the mean square),
    * and zero-crossing counts. The oracle replays the waveform
    * arithmetic sample-by-sample in SQL (lateral range + lag) — any
    * deviation in the container round-trip, channel de-interleave, or
    * sample decode breaks the hash. */
  val q145AudioDecode: Q = (s, d) => {
    import s.implicits._
    import graft.multimodal.{Multimodal, WavDecoder}
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // ImageIO defaults to a temp-FILE-backed stream cache — a large
        // constant cost per tiny in-memory image; decode/encode from
        // heap (once-per-JVM switch, free after the first touch)
        graft.multimodal.ImageIoConfig.heapOnly()
        it.map { id =>
          val sr = 8000
          val nch = 1 + (id % 2).toInt
          val n = 800 + (id % 5).toInt * 40
          val hp = 4 + (id % 8).toInt
          val base = 500 + (id % 7).toInt * 300
          val pcm = new Array[Byte](n * nch * 2)
          var i = 0
          while (i < n) {
            val sgn = if ((i / hp) % 2 == 0) 1 else -1
            var c = 0
            while (c < nch) {
              val v = sgn * (base + 173 * c + (i % 16))
              val off = (i * nch + c) * 2
              pcm(off) = (v & 0xff).toByte
              pcm(off + 1) = ((v >> 8) & 0xff).toByte
              c += 1
            }
            i += 1
          }
          val wav = WavDecoder.encodeWav(pcm, sr.toFloat, nch)
          // decode THROUGH the codec: every emitted number must come
          // from the container bytes, not the synthesis parameters
          val meta = Multimodal.AutoDecoder.decodeMeta(wav)
          val chs = WavDecoder.decodeSamples(wav)
          val frames = chs(0).length.toLong
          (id, meta.mimeType, meta.width.toLong, meta.height.toLong, frames,
            frames * 1000000L / meta.width,
            WavDecoder.intRms(chs.head), WavDecoder.zeroCrossings(chs.head),
            WavDecoder.intRms(chs.last), WavDecoder.zeroCrossings(chs.last))
        }
      }
      .toDF("doc_id", "mime", "sample_rate", "channels", "n_frames",
        "duration_us", "rms0", "zc0", "rms_last", "zc_last")
      .orderBy("doc_id")
  }

  /** Perceptual image dedup end-to-end: every doc becomes a 72×64
    * textured PNG (pattern from doc_id/10) with a per-member uniform
    * brightness shift (doc_id%10) — ten exposure variants of each base
    * picture. The integer dHash is EXACTLY shift-invariant (see
    * [[graft.operators.ImageDedup]]), so decode→hash→group must
    * reassemble the planted clusters, and the oracle reproduces the
    * hash bits from the texture's closed form — never seeing the
    * shifts the Spark side must prove irrelevant. */
  val q102ImagePhash: Q = (s, d) => {
    import s.implicits._
    val media = Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // ImageIO defaults to a temp-FILE-backed stream cache — a large
        // constant cost per tiny in-memory image; decode/encode from
        // heap (once-per-JVM switch, free after the first touch)
        graft.multimodal.ImageIoConfig.heapOnly()
        it.map { id =>
          val g = id / 10
          val shift = (id % 10).toInt
          val img = new java.awt.image.BufferedImage(72, 64,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 64) {
            var x = 0
            while (x < 72) {
              val v = (60L + (g * 31 + x * 7 + y * 13) % 120 + shift).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          (id, out.toByteArray)
        }
      }.toDF("doc_id", "content")
    graft.operators.ImageDedup.clusters(media, "doc_id", "content")
      .orderBy("doc_id")
  }

  /** Near-miss image dedup: the q102 texture family, but variants
    * 1..9 of each base picture get a +50 luminance bump over ONE 8×8
    * block (block (j−1)%8 on the diagonal) instead of a uniform shift
    * — a localized edit (logo overlay, scratch, re-render artifact)
    * that flips at most the two dHash bits comparing the bumped block
    * to its horizontal neighbors. Exact grouping (q102) would scatter
    * these into singletons; the byte-pigeonhole hamming join must pair
    * them. The oracle replays the bumped block sums in closed form and
    * then does the BRUTE-FORCE popcount cross join — a hash match
    * proves the blocked join found every pair. */
  val q105ImageNearDup: Q = (s, d) => {
    import s.implicits._
    val media = Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // ImageIO defaults to a temp-FILE-backed stream cache — a large
        // constant cost per tiny in-memory image; decode/encode from
        // heap (once-per-JVM switch, free after the first touch)
        graft.multimodal.ImageIoConfig.heapOnly()
        it.map { id =>
          val g = id / 10
          val j = (id % 10).toInt
          val (bx, by) = (((j - 1) % 8), ((j - 1) % 8))
          val img = new java.awt.image.BufferedImage(72, 64,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 64) {
            var x = 0
            while (x < 72) {
              val bump =
                if (j > 0 && x / 8 == bx && y / 8 == by) 50 else 0
              val v = (60L + (g * 31 + x * 7 + y * 13) % 120 + bump).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          (id, out.toByteArray)
        }
      }.toDF("doc_id", "content")
    graft.operators.ImageDedup.nearDuplicatePairs(media, "doc_id", "content",
      maxHamming = 4)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Deterministic integer k-means: 3 Lloyd rounds, k=8, seeds = the
    * 8 smallest vec_ids, every distance/update in exact integer math —
    * the oracle replays all three rounds as an unrolled CTE chain
    * (the q93 PageRank pattern). */
  val q115Kmeans: Q = (s, d) =>
    graft.operators.KMeansInt.lloyd(emb(s, d), "vec_id", "embedding",
      k = 8, iters = 3, dim = 64, scale = 1000.0, offset = 10000L,
      carryCols = Seq("label"))
      .orderBy("vec_id")

  /** Hard negatives: top-5 nearest different-label vectors for each
    * query (vec_id < 10) — exact quantized-cosine ranking. */
  /** Margin-based cross-source pair mining: the even-id half of the
    * embedding table mined against the odd-id half with the
    * Artetxe–Schwenk margin criterion (k = 4 neighborhood) — per even
    * vector, its best odd partner scored RELATIVE to both sides'
    * nearest-neighbor cosines, the hubness-robust alignment signal a
    * raw cosine threshold can't give (see
    * [[graft.operators.Similarity.marginMineQuantized]]). Integer ppm
    * margins, engine-exact. */
  val q220MarginMine: Q = (s, d) => {
    val e = emb(s, d)
    Similarity.marginMineQuantized(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4)
  }

  val q116HardNegatives: Q = (s, d) =>
    Similarity.hardNegativesQuantized(
      emb(s, d).repartition(s.sparkContext.defaultParallelism),
      "vec_id", "embedding", "label", col("vec_id") < 10, k = 5)
      .orderBy("query_id", "rank")

  /** Hybrid retrieval: BM25 lexical ranking fused with a
    * pseudo-relevance-feedback dense ranking (the query vector is the
    * embedding of BM25's top-1 doc — classic PRF), merged by integer
    * reciprocal-rank fusion. Every stage is engine-exact: integer BM25
    * scores, quantized-cosine dense ranking, integer RRF sums. */
  val q119HybridRrf: Q = (s, d) => {
    val lexical = graft.operators.Bm25.topK(
      Tables(s, d, "documents"), "doc_id", "text", TextQueries.bm25Queries, k = 10)
      .transform(graft.operators.Materialize.once) // feeds ranking a AND the PRF top-1
    val e = emb(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val qvecs = lexical.filter(col("rank") === 1)
      .select(col("qid"), col("doc_id"))
      .join(e, col("vec_id") === col("doc_id"))
      .select(col("qid"), col("qv").as("qq"))
    val dense = e.crossJoin(broadcast(qvecs))
      .withColumn("cosine", quantizedCosine(col("qq"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    graft.operators.RankFusion.rrf2(
      lexical.select(col("qid"), col("doc_id"), col("rank")), dense,
      Seq("qid"), "doc_id", c = 60, topK = 10)
      .orderBy("qid", "rank")
  }

  /** Int8 scalar-quantization reconstruction report: per-dimension
    * codebook plus exact round-trip error sums — the "how lossy is 4×
    * compression on THIS corpus" audit (see
    * [[graft.operators.Int8Quant]]). */
  val q156Int8Recon: Q = (s, d) =>
    graft.operators.Int8Quant.reconReport(emb(s, d), "embedding")

  /** Top-10 neighbors in int8 CODE space for every 50th vector — the
    * quantized first-pass ranking of a compressed ANN serving tier;
    * integer code dot products, engine-exact. */
  val q157Int8TopK: Q = (s, d) =>
    graft.operators.Int8Quant.codeTopK(
      emb(s, d).filter(col("vec_id") % 50 === 0), emb(s, d),
      "vec_id", "embedding", k = 10)

  /** MMR diversified top-10 against the vec_id=0 probe (λ=70%):
    * greedy relevance-vs-redundancy selection, replayed move-for-move
    * by the oracle's chained argmax CTEs (see
    * [[graft.operators.Mmr]]). */
  val q161MmrSelect: Q = (s, d) => {
    val qvec = emb(s, d).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qv"))
      .head().getSeq[Long](0).toArray
    graft.operators.Mmr.selectTopK(
      emb(s, d).filter(col("vec_id") =!= 0), "vec_id", "embedding",
      qvec, k = 10, lambdaPct = 70)
  }

  /** Recall@10 of int8 code-space ranking vs the exact integer-dot
    * ranking for every 50th vector — the compression-quality audit
    * (see [[graft.operators.Int8Quant.recallVsExact]]). */
  val q167Int8Recall: Q = (s, d) =>
    graft.operators.Int8Quant.recallVsExact(
      emb(s, d).filter(col("vec_id") % 50 === 0), emb(s, d),
      "vec_id", "embedding", k = 10)

  /** Fitted-PQ state (the q31 holder pattern): codebooks train once
    * per (JVM, sf dir) on the deterministic capped sample, and the
    * last fit renders into the oracle as VALUES literals. */
  private[queries] object PqModel {
    val M = 4; val K = 16; val Dims = 64; val TopK = 5
    val NCells = 16; val NProbe = 4; val RefineCand = 25
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Pq.Codebooks]()
    private val cellCache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()
    @volatile private[queries] var last: Option[graft.operators.Pq.Codebooks] = None
    @volatile private[queries] var lastCells: Option[Array[Array[Long]]] = None

    def getOrTrain(s: SparkSession, sfDir: String): graft.operators.Pq.Codebooks = {
      val cb = cache.computeIfAbsent(sfDir, _ =>
        graft.operators.Pq.train(Tables(s, sfDir, "embeddings"),
          "vec_id", "embedding", M, K, Dims))
      last = Some(cb)
      cb
    }

    def getOrFitCells(s: SparkSession, sfDir: String): Array[Array[Long]] = {
      val cc = cellCache.computeIfAbsent(sfDir, _ =>
        graft.operators.Similarity.fitQuantizedCentroids(
          Tables(s, sfDir, "embeddings"), "embedding", NCells, seed = 42L)
          .map(_.map(_.toLong)))
      lastCells = Some(cc)
      cc
    }
  }

  /** Product-quantization ANN: train (capped deterministic sample) →
    * encode the corpus to m-byte codes (zero-shuffle projection) →
    * ADC top-k over the CODES with exact queries. The oracle replays
    * the fitted codebooks as literals — every code and every ADC
    * distance is integer-exact in both engines; see
    * [[graft.operators.Pq]]. */
  val q194PqSearch: Q = (s, d) => {
    val cb = PqModel.getOrTrain(s, d)
    val e = emb(s, d)
    val codes = graft.operators.Pq.encode(e, "vec_id", "embedding", cb)
    graft.operators.Pq.adcTopK(e.filter(col("vec_id") < 10), codes,
      "vec_id", "embedding", cb, PqModel.TopK)
      .orderBy("query_id", "rank")
  }

  /** PQ recall audit vs the exact quantized-L2 top-k — the
    * m/k-sizing gate (the q167 pattern for the PQ tier); see
    * [[graft.operators.Pq.recallVsExact]]. */
  val q195PqRecall: Q = (s, d) => {
    val cb = PqModel.getOrTrain(s, d)
    val e = emb(s, d)
    graft.operators.Pq.recallVsExact(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", cb, PqModel.TopK)
  }

  /** IVF×PQ composed ANN (the FAISS-style architecture): coarse cells
    * prune the scan, PQ codes bound its memory — both codebooks ride
    * as literals and every stage replays integer-exact; see
    * [[graft.operators.Pq.ivfPqTopK]]. */
  val q196IvfPq: Q = (s, d) => {
    val cb = PqModel.getOrTrain(s, d)
    val cells = PqModel.getOrFitCells(s, d)
    val e = emb(s, d)
    graft.operators.Pq.ivfPqTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", cells, cb, PqModel.NProbe, PqModel.TopK)
      .orderBy("query_id", "rank")
  }

  /** Two-stage ANN: IVF×PQ candidate cut (25 per query) re-ranked by
    * EXACT quantized vectors — the production recall-recovery stage;
    * see [[graft.operators.Pq.refineTopK]]. */
  val q202AnnRefine: Q = (s, d) => {
    val cb = PqModel.getOrTrain(s, d)
    val cells = PqModel.getOrFitCells(s, d)
    val e = emb(s, d)
    graft.operators.Pq.refineTopK(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", cells, cb, PqModel.NProbe,
      PqModel.RefineCand, PqModel.TopK)
      .orderBy("query_id", "rank")
  }

  /** Recall@k of the two-stage pipeline vs the exact top-k — read
    * against q195 (ADC-only recall): the delta is what the exact
    * re-rank of 25 candidates buys back; see
    * [[graft.operators.Pq.refineRecallVsExact]]. */
  val q203RefineRecall: Q = (s, d) => {
    val cb = PqModel.getOrTrain(s, d)
    val cells = PqModel.getOrFitCells(s, d)
    val e = emb(s, d)
    graft.operators.Pq.refineRecallVsExact(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", cells, cb, PqModel.NProbe,
      PqModel.RefineCand, PqModel.TopK)
  }

  /** MJPEG frame extraction + REAL per-frame decode, oracle-checked:
    * every doc becomes a concatenated-JPEG stream of 1 + doc_id%3
    * textured frames with closed-form dims; Spark must walk the
    * marker structure (stuffed FFs in entropy data and all), split
    * exact frame ranges, parse SOF dims, AND genuinely decode each
    * frame through javax.imageio — the decoded dims ride in the
    * output, so a decoder/walk divergence breaks the hash (see
    * [[graft.multimodal.Mjpeg]]). */
  val q205MjpegFrames: Q = (s, d) => {
    import s.implicits._
    val media = Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // ImageIO defaults to a temp-FILE-backed stream cache — a large
        // constant cost per tiny in-memory image; decode/encode from
        // heap (once-per-JVM switch, free after the first touch)
        graft.multimodal.ImageIoConfig.heapOnly()
        it.map { id =>
          val f = 1 + (id % 3).toInt
          val out = new java.io.ByteArrayOutputStream()
          var j = 0
          while (j < f) {
            val w = 48 + ((id + j) % 4).toInt * 16
            val h = 32 + ((id + j) % 3).toInt * 16
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = (40L + (id * 31 + j * 17 + x * 7 + y * 13) % 160).toInt
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            javax.imageio.ImageIO.write(img, "jpg", out)
            j += 1
          }
          (id, out.toByteArray)
        }
      }
    graft.multimodal.Mjpeg.explodeFrames(media)
      .as[(Long, Long, Long, Int, Int, Array[Byte])].map {
        case (id, idx, n, w, h, frame) =>
          graft.multimodal.ImageIoConfig.heapOnly() // once-per-JVM heap-only streams
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(frame))
          (id, idx, n, w, h, img.getWidth, img.getHeight)
      }.toDF("doc_id", "frame_idx", "n_frames", "width", "height",
        "dec_width", "dec_height")
      .orderBy("doc_id", "frame_idx")
  }

  /** Greedy k-center coreset (Gonzalez farthest-point traversal) over
    * the embedding corpus: 8 maximal-spread exemplars + the coverage
    * radius each pick certifies — the pure-coverage data-selection
    * pass (see [[graft.operators.Coreset]]). Exact integer squared-L2
    * on the KMeansInt quantization; every round one corpus scan with a
    * scalar struct-min argmax (no Window, no per-row state). */
  val q223Coreset: Q = (s, d) =>
    graft.operators.Coreset.kCenterGreedy(emb(s, d), "vec_id", "embedding",
        k = 8)
      .orderBy("round")

  /** Reciprocal-nearest-neighbor pairs over the corpus (mutual top-10
    * by quantized cosine): b must rank in a's list AND a in b's — the
    * hubness-robust near-dup/alignment gate (see
    * [[graft.operators.Similarity.mutualPairs]]); generator swaps to
    * IVF/SRP at corpus scale, the gate is unchanged. */
  val q233MutualKnn: Q = (s, d) =>
    graft.operators.Similarity.mutualTopKQuantized(
      emb(s, d), "vec_id", "embedding", k = 10)
      .orderBy("id_a", "id_b")

  private val DbscanEps = 150L
  private val DbscanMinPts = 5

  /** Exact grid-blocked DBSCAN over the first two embedding dims
    * quantized to an integer plane (×10⁴ floor — float32→double is
    * exact, so both engines hold identical coords): density clusters
    * of any shape + explicit noise, no k chosen up front — the
    * density complement of k-means/coreset (see
    * [[graft.operators.Dbscan]]). The ε-join is 3×3 grid-blocked on
    * the Spark side; the oracle proves it equals the brute-force
    * all-pairs definition. */
  val q231Dbscan: Q = (s, d) =>
    graft.operators.Dbscan.cluster(
      emb(s, d).select(col("vec_id").as("id"),
        floor(element_at(col("embedding"), 1).cast("double") * 10000)
          .cast("long").as("x"),
        floor(element_at(col("embedding"), 2).cast("double") * 10000)
          .cast("long").as("y")),
      "id", "x", "y", eps = DbscanEps, minPts = DbscanMinPts)
      .orderBy("id")

  private def ivfPqOracle: Map[String, String] =
    (PqModel.last, PqModel.lastCells) match {
      case (Some(cb), Some(cells)) => Map(
        "q196_ivf_pq" ->
          graft.operators.Pq.ivfPqOracleSql(cb, cells,
            "SELECT vec_id, embedding FROM embeddings",
            "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10",
            PqModel.NProbe, PqModel.TopK),
        "q202_ann_refine" ->
          graft.operators.Pq.refineOracleSql(cb, cells,
            "SELECT vec_id, embedding FROM embeddings",
            "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10",
            PqModel.NProbe, PqModel.RefineCand, PqModel.TopK),
        "q203_refine_recall" ->
          graft.operators.Pq.refineRecallOracleSql(cb, cells,
            "SELECT vec_id, embedding FROM embeddings",
            "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10",
            PqModel.NProbe, PqModel.RefineCand, PqModel.TopK))
      case _ => Map.empty
    }

  private def pqOracle: Map[String, String] = PqModel.last match {
    case None => Map.empty
    case Some(cb) => Map(
      "q194_pq_search" ->
        graft.operators.Pq.adcOracleSql(cb,
          "SELECT vec_id, embedding FROM embeddings",
          "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10",
          PqModel.TopK),
      "q195_pq_recall" ->
        graft.operators.Pq.recallOracleSql(cb,
          "SELECT vec_id, embedding FROM embeddings",
          "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10",
          PqModel.TopK))
  }

  /** Simplified (centroid) silhouette of the ground-truth labels over
    * quantized embeddings — the cluster-quality audit: a = squared L2
    * to the own-label centroid, b = min to any other, s in ppm, all
    * exact integers on floor-quantized integer means; see
    * [[graft.operators.ClusterEval.simplifiedSilhouette]]. */
  val q241Silhouette: Q = (s, d) =>
    graft.operators.ClusterEval.simplifiedSilhouette(
      emb(s, d).select(col("label"), quantize(col("embedding")).as("qv")),
      "label", "qv")
      .orderBy("label")

  /** ColBERT-style late-interaction retrieval: the embeddings table
    * sliced into 8-token "documents" (doc_id = vec_id div 8 — the
    * fixed-stride packing a token-vector store uses), queries = the
    * first 4 docs' token bags, score = Σ per-query-token max quantized
    * inner product over the doc's tokens, top-5 docs per query
    * excluding the query doc itself — see
    * [[graft.operators.Similarity.maxSimTopK]]. */
  val q250Maxsim: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    Similarity.maxSimTopK(toks, q, k = 5, excludeSelfDoc = true)
      .orderBy("query_id", "rank")
  }

  /** The two-stage deployment of q250: sum-pooled single-vector dots
    * prune to 16 candidate docs per query (one pooled row per doc —
    * the 8× cheaper bi-encoder pass), exact MaxSim re-scores only the
    * survivors, and each surviving row carries `in_exact` — whether
    * the exact full-corpus MaxSim top-5 (q250's ranking) also
    * contains it — so the pipeline's recall is IN the hashed output,
    * not a side claim; see
    * [[graft.operators.Similarity.maxSimRefineTopK]]. */
  val q251MaxsimRefine: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val refined = Similarity.maxSimRefineTopK(toks, q, kCand = 16, k = 5,
      excludeSelfDoc = true)
    val exact = Similarity.maxSimTopK(toks, q, k = 5, excludeSelfDoc = true)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_exact"))
    refined.join(exact, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("maxsim"), col("rank"),
        coalesce(col("in_exact"), lit(0L)).as("in_exact"))
      .orderBy("query_id", "rank")
  }

  /** The recall-convergence curve of the q251 two-stage pipeline:
    * recall@5 vs the exact full-corpus MaxSim (q250's ranking) at
    * stage-1 candidate budgets kCand ∈ {16, 32, 64}, one hashed row
    * per cut — the committed evidence that widening kCand converges
    * recall → 1 while stage-2 work stays bounded by queries·kCand;
    * see [[graft.operators.Similarity.maxSimRecallCurve]]. */
  val q252MaxsimRecallCurve: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    Similarity.maxSimRecallCurve(toks, q, kCands = Seq(16, 32, 64), k = 5,
      excludeSelfDoc = true)
      .orderBy("kcand")
  }

  /** ANN-fronted two-stage MaxSim — the sublinear deployment: SRP-LSH
    * bucket match over sum-pooled doc vectors generates candidates
    * (only colliding (table, bucket) groups are ever paired — stage 1
    * no longer dots every doc as q251 does), pooled dots rank the
    * collisions to 16 survivors, exact MaxSim re-scores them, and
    * every output row carries the `in_exact` audit vs q250's exact
    * top-5; see [[graft.operators.Similarity.maxSimSrpTopK]]. */
  val q253MaxsimAnn: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val ann = Similarity.maxSimSrpTopK(toks, q, kCand = 16, k = 5,
      planes = 4, tables = 4, dims = 64, excludeSelfDoc = true)
    val exact = Similarity.maxSimTopK(toks, q, k = 5, excludeSelfDoc = true)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_exact"))
    ann.join(exact, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("maxsim"), col("rank"),
        coalesce(col("in_exact"), lit(0L)).as("in_exact"))
      .orderBy("query_id", "rank")
  }

  /** Build-once persistent SRP layout for the ANN-MaxSim stage 1 per
    * (JVM, sf dir) through [[graft.operators.Materialize.buildOnce]]
    * (the q118/q31 pattern): pooled doc vectors partitioned by
    * (t, bucket) + parameter-pinning meta. Parameters match q253's
    * scan path so q254 can assert indexed ≡ scan. */
  private[queries] object MaxSimSrpIndexCache {
    def getOrBuild(s: SparkSession, sfDir: String): String =
      graft.operators.Materialize.buildOnce("maxsimsrp", sfDir) { path =>
        val toks = emb(s, sfDir)
          .select(expr("vec_id div 8").cast("long").as("doc_id"),
            col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
        Similarity.buildMaxSimSrpIndex(toks, path,
          planes = 4, tables = 4, dims = 64)
      }._1
  }

  /** q253 through the persistent bucket-partitioned SRP index: stage 1
    * reads only the probed (t, bucket) partitions of the pooled-vector
    * layout instead of re-pooling and re-bucketing the corpus — and
    * must return EXACTLY what the scan path returns (same oracle as
    * q253, plus an in-engine bit-exact pin in SimilaritySpec and a
    * PartitionFilters pin in PlanAuditSpec); see
    * [[graft.operators.Similarity.maxSimSrpProbe]]. */
  val q254MaxsimAnnIndexed: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    val ann = Similarity.maxSimSrpProbe(toks, q,
      MaxSimSrpIndexCache.getOrBuild(s, d), kCand = 16, k = 5,
      excludeSelfDoc = true)
    val exact = Similarity.maxSimTopK(toks, q, k = 5, excludeSelfDoc = true)
      .select(col("query_id"), col("doc_id"), lit(1L).as("in_exact"))
    ann.join(exact, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("maxsim"), col("rank"),
        coalesce(col("in_exact"), lit(0L)).as("in_exact"))
      .orderBy("query_id", "rank")
  }

  /** Recall curve over the SRP front's (tables) knob — q252's trick
    * applied to q253's stage 1: bucket collisions computed once at 16
    * tables, each pair tagged with its minimum colliding table, per-cut
    * stage-1 rank + one shared exact re-score — each row bit-identical
    * to running q253's pipeline at that tables count; the committed
    * evidence for how the SRP front's recall knob converges; see
    * [[graft.operators.Similarity.maxSimSrpTablesCurve]]. */
  val q255MaxsimSrpTables: Q = (s, d) => {
    val toks = emb(s, d)
      .select(expr("vec_id div 8").cast("long").as("doc_id"),
        col("vec_id").as("tok_id"), quantize(col("embedding")).as("qv"))
    val q = toks.filter(col("doc_id") < 4)
      .select(col("doc_id").as("query_id"), col("tok_id"), col("qv"))
    Similarity.maxSimSrpTablesCurve(toks, q,
      tablesCuts = Seq(1, 2, 4, 8, 16), kCand = 16, k = 5,
      planes = 4, dims = 64, excludeSelfDoc = true)
      .orderBy("tables")
  }

  val queries: Map[String, Q] = Map(
    "q255_maxsim_srp_tables" -> q255MaxsimSrpTables,
    "q254_maxsim_ann_indexed" -> q254MaxsimAnnIndexed,
    "q253_maxsim_ann" -> q253MaxsimAnn,
    "q252_maxsim_recall_curve" -> q252MaxsimRecallCurve,
    "q251_maxsim_refine" -> q251MaxsimRefine,
    "q250_maxsim" -> q250Maxsim,
    "q241_silhouette" -> q241Silhouette,
    "q233_mutual_knn" -> q233MutualKnn,
    "q231_dbscan" -> q231Dbscan,
    "q223_coreset" -> q223Coreset,
    "q205_mjpeg_frames" -> q205MjpegFrames,
    "q202_ann_refine" -> q202AnnRefine,
    "q203_refine_recall" -> q203RefineRecall,
    "q194_pq_search" -> q194PqSearch,
    "q195_pq_recall" -> q195PqRecall,
    "q196_ivf_pq" -> q196IvfPq,
    "q167_int8_recall" -> q167Int8Recall,
    "q156_int8_recon" -> q156Int8Recon,
    "q157_int8_topk" -> q157Int8TopK,
    "q161_mmr_select" -> q161MmrSelect,
    "q102_image_phash" -> q102ImagePhash,
    "q105_image_near_dup" -> q105ImageNearDup,
    "q58_image_decode" -> q58ImageDecode,
    "q145_audio_decode" -> q145AudioDecode,
    "q48_embedding_lsh" -> q48EmbeddingLsh,
    "q28_knn_brute" -> q28KnnBrute,
    "q29_embedding_pairs" -> q29EmbeddingPairs,
    "q30_label_centroids" -> q30LabelCentroids,
    "q31_ann_ivf" -> q31AnnIvf,
    "q213_ann_ivf_balanced" -> q213AnnIvfBalanced,
    "q32_ann_srp" -> q32AnnSrp,
    "q33_multimodal" -> q33Multimodal,
    "q86_semdedup" -> q86SemDedup,
    "q115_kmeans" -> q115Kmeans,
    "q116_hard_negatives" -> q116HardNegatives,
    "q220_margin_mine" -> q220MarginMine,
    "q119_hybrid_rrf" -> q119HybridRrf,
  )

  /** The q115 oracle: quantize → seed from the k smallest ids →
    * (assign, update)×(iters−1) → final assign, fully unrolled.
    * Assignment ties break to the lower cell (the NearestCentroids
    * contract); an emptied cluster carries its centroid via the LEFT
    * JOIN + CASE; means are positive-integer floor divisions. */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val qvq = "list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 1000.0) AS BIGINT) + 10000)"
    def round(t: Int): String = {
      val assign =
        s"""d$t AS (SELECT q.vec_id, c.cell,
           |  sum((q.qv[c.dim] - c.val) * (q.qv[c.dim] - c.val)) AS d2
           |  FROM e0 q, c${t - 1}d c GROUP BY q.vec_id, c.cell),
           |a$t AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
           |  FROM d$t) WHERE rn = 1)""".stripMargin
      val update = if (t == iters) "" else
        s""",
           |s$t AS (SELECT a.cell, d.dim, CAST(sum(q.qv[d.dim]) AS BIGINT) AS sm, count(*) AS n
           |  FROM a$t a JOIN e0 q USING (vec_id), dims d GROUP BY a.cell, d.dim),
           |c${t}d AS (SELECT p.cell, p.dim,
           |  CASE WHEN s.sm IS NULL THEN p.val ELSE s.sm // s.n END AS val
           |  FROM c${t - 1}d p LEFT JOIN s$t s ON p.cell = s.cell AND p.dim = s.dim)""".stripMargin
      assign + update
    }
    s"""WITH e0 AS (SELECT vec_id, $qvq AS qv FROM embeddings),
       |dims AS (SELECT unnest(range(1, ${dim + 1})) AS dim),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv
       |  FROM (SELECT vec_id, qv FROM e0 ORDER BY vec_id LIMIT $k) s),
       |c0d AS (SELECT cell, d.dim, qv[d.dim] AS val FROM c0, dims d),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT e.vec_id, e.label, CAST(a.cell AS INTEGER) AS cell
       |FROM a$iters a JOIN embeddings e ON a.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  private val qv =
    """list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000.0) AS BIGINT))"""
  /** Integer dot product in oracle SQL via DuckDB's NATIVE
    * list_inner_product, not a per-element list comprehension: the
    * comprehension is interpreted per pair and made the brute-force
    * all-pairs replays grind for hours at sf1 (4·10⁸ pairs × 3 dots).
    * Bit-exact equivalence under the quantize contract: |coord| ≤ 10⁶
    * ⇒ every product ≤ 10¹² and every partial sum ≤ 4096·10¹² <
    * 2⁵³, all exactly representable in the DOUBLE accumulation, so
    * CAST(... AS BIGINT) equals the integer-summed value (differential
    * check: 250 k pairs, 0 mismatches). */
  private def dot(a: String, b: String) =
    s"CAST(list_inner_product($a, $b) AS BIGINT)"

  /** A def, not a val: the q31 oracle embeds the centroids FITTED during
    * the query run (set by [[IvfIndex.getOrBuild]]), so it must render
    * after the queries execute — Verify's dump order guarantees that. */
  def oracles: Map[String, String] =
    staticOracles ++ ivfOracle ++ balancedIvfOracle ++ semOracle ++
      pqOracle ++ ivfPqOracle

  private def sqdist(a: String, b: String) =
    s"CAST(list_sum([($a[i] - $b[i]) * ($a[i] - $b[i]) for i in range(1, len($a) + 1)]) AS BIGINT)"

  /** q31's oracle: the fitted quantized centroids as a VALUES CTE, then
    * assignment (argmin squared-L2, ties → lower cell — the
    * NearestCentroids tie-break), probe fan-out (nProbe nearest cells
    * per query), and quantized-cosine ranking, all exact integer
    * arithmetic. Empty until q31 has run in this JVM (→ rows-only). */
  private def ivfOracle: Map[String, String] = IvfIndex.lastCentroids match {
    case None => Map.empty
    case Some(cents) =>
      Map("q31_ann_ivf" -> ivfOracleSqlFor(cents, IvfIndex.NProbe))
  }

  /** q213's oracle: the identical replay over the BALANCED centroid
    * list — the literals are the only difference from q31's. */
  private def balancedIvfOracle: Map[String, String] =
    IvfIndexBalanced.lastCentroids match {
      case None => Map.empty
      case Some(cents) =>
        Map("q213_ann_ivf_balanced" ->
          ivfOracleSqlFor(cents, IvfIndexBalanced.NProbe))
    }

  /** Shared q31/q213 oracle body: fitted quantized centroids as a
    * VALUES CTE, assignment (argmin squared-L2, ties → lower cell —
    * the NearestCentroids tie-break), probe fan-out, quantized-cosine
    * ranking — exact integer arithmetic end to end. */
  private def ivfOracleSqlFor(cents: Array[Array[Long]], nProbe: Int): String = {
    val rows = cents.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ",", "]")}::BIGINT[])" }
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
       |cent(cell, cv) AS (VALUES
       |$rows),
       |asn AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.qv", "cent.cv")}, cent.cell) AS rn
       |  FROM e, cent) WHERE rn = 1),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT e.vec_id AS query_id, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqdist("e.qv", "cent.cv")}, cent.cell) AS rn
       |  FROM e, cent WHERE e.vec_id < 10) WHERE rn <= $nProbe),
       |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN asn a ON a.cell = p.cell
       |  WHERE p.query_id <> a.vec_id),
       |scored AS (SELECT cands.query_id, cands.neighbor_id,
       |  CAST(${dot("qe.qv", "ce.qv")} AS DOUBLE) /
       |  (sqrt(CAST(${dot("qe.qv", "qe.qv")} AS DOUBLE)) * sqrt(CAST(${dot("ce.qv", "ce.qv")} AS DOUBLE))) AS cosine
       |  FROM cands JOIN e qe ON qe.vec_id = cands.query_id
       |  JOIN e ce ON ce.vec_id = cands.neighbor_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q86's oracle: the fitted quantized centroids as a VALUES CTE →
    * same-cell argmin assignment → within-cell pair verdicts → LEFT
    * JOIN for the keep flag. Exact integer arithmetic end to end. */
  private def semOracle: Map[String, String] = SemCentroids.lastCentroids match {
    case None => Map.empty
    case Some(cents) =>
      val rows = cents.zipWithIndex
        .map { case (c, i) => s"($i, ${c.map(_.toLong).mkString("[", ",", "]")}::BIGINT[])" }
        .mkString(",\n")
      Map("q86_semdedup" ->
        s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
           |c AS (SELECT vec_id, qv FROM e
           |      UNION ALL SELECT vec_id + 1000000, qv FROM e WHERE vec_id % 10 = 0),
           |cent(cell, cv) AS (VALUES
           |$rows),
           |asn AS (SELECT vec_id, qv, cell FROM (
           |  SELECT c.vec_id, c.qv, cent.cell,
           |    row_number() OVER (PARTITION BY c.vec_id
           |      ORDER BY ${sqdist("c.qv", "cent.cv")}, cent.cell) AS rn
           |  FROM c, cent) WHERE rn = 1),
           |d AS (SELECT DISTINCT b.vec_id FROM asn a JOIN asn b
           |  ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE CAST(${dot("a.qv", "b.qv")} AS DOUBLE) /
           |    (sqrt(CAST(${dot("a.qv", "a.qv")} AS DOUBLE)) * sqrt(CAST(${dot("b.qv", "b.qv")} AS DOUBLE)))
           |    >= ${SemCentroids.Threshold})
           |SELECT asn.vec_id, CAST(asn.cell AS INTEGER) AS cell,
           |  (d.vec_id IS NULL) AS keep
           |FROM asn LEFT JOIN d ON d.vec_id = asn.vec_id
           |ORDER BY asn.vec_id""".stripMargin)
  }

  /** Shared int8 oracle scaffolding: per-dim codebook over the
    * zip-unnested quantized coords, then codes by integer floor
    * division — the Int8Quant arithmetic in DuckDB. */
  private val int8CbSql =
    s"""e AS (SELECT vec_id, $qv AS qv FROM embeddings),
       |ex AS (SELECT vec_id, unnest(range(1, len(qv) + 1)) AS dim,
       |              unnest(qv) AS x FROM e),
       |cb AS (SELECT dim, min(x) AS min_q, max(x) AS max_q,
       |              greatest(max(x) - min(x), 1) AS rng
       |       FROM ex GROUP BY dim)""".stripMargin

  // ANN-fronted two-stage MaxSim: SRP buckets over the sum-pooled
  // vectors (the same md5-seeded quantized hyperplanes as q32,
  // rendered as literals), bucket-collision candidates ranked by
  // pooled dot to 16, exact MaxSim re-score, in_exact audit vs the
  // exact top-5. Pooled coords <= 8e6, weights <= 1e6 => projections
  // <= 5.2e14; pooled dots <= 4.1e15 — all exact under 2^53.
  // ONE replay serves BOTH q253 (scan stage 1) and q254 (persistent
  // bucket-partitioned index stage 1): the indexed path must return
  // exactly the scan path's rows — that equality IS q254's check.
  private lazy val maxSimAnnSql: String = {
      val wRows = (0 until 4).flatMap { t =>
        (0 until 4).map { p =>
          val w = graft.functions.VectorFunctions.quantizedHyperplane(t, p, 64)
            .mkString("[", ",", "]")
          s"($t, $p, $w::BIGINT[])"
        }
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id // 8 AS doc_id, vec_id AS tok_id, $qv AS qv
         |           FROM embeddings),
         |q AS (SELECT doc_id AS query_id, tok_id, qv AS qtv FROM e WHERE doc_id < 4),
         |u AS (SELECT doc_id, i, CAST(sum(qv[i]) AS BIGINT) AS s
         |      FROM e CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY doc_id, i),
         |pool AS (SELECT doc_id, list(s ORDER BY i) AS pl FROM u GROUP BY doc_id),
         |qu AS (SELECT query_id, i, CAST(sum(qtv[i]) AS BIGINT) AS s
         |       FROM q CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY query_id, i),
         |qpool AS (SELECT query_id, list(s ORDER BY i) AS qpl FROM qu GROUP BY query_id),
         |w(t, p, wv) AS (VALUES
         |$wRows),
         |bkd AS (SELECT pool.doc_id, w.t,
         |  CAST(sum(CASE WHEN ${dot("pool.pl", "w.wv")} >= 0
         |    THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM pool, w GROUP BY pool.doc_id, w.t),
         |bkq AS (SELECT qpool.query_id, w.t,
         |  CAST(sum(CASE WHEN ${dot("qpool.qpl", "w.wv")} >= 0
         |    THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qpool, w GROUP BY qpool.query_id, w.t),
         |cands AS (SELECT DISTINCT bq.query_id, bd.doc_id
         |  FROM bkq bq JOIN bkd bd ON bq.t = bd.t AND bq.bucket = bd.bucket
         |  WHERE bd.doc_id <> bq.query_id),
         |cs AS (SELECT c.query_id, c.doc_id, ${dot("p.pl", "qp.qpl")} AS pdot
         |       FROM cands c JOIN pool p ON p.doc_id = c.doc_id
         |       JOIN qpool qp ON qp.query_id = c.query_id),
         |cand AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY pdot DESC, doc_id) AS cr FROM cs) WHERE cr <= 16),
         |p2 AS (SELECT q.query_id, q.tok_id, c.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM cand c JOIN q ON q.query_id = c.query_id
         |       JOIN e ON e.doc_id = c.doc_id),
         |m2 AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM p2 GROUP BY query_id, tok_id, doc_id),
         |s2 AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM m2 GROUP BY query_id, doc_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY maxsim DESC, doc_id) AS rank FROM s2),
         |pe AS (SELECT q.query_id, q.tok_id, e.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM q, e WHERE e.doc_id <> q.query_id),
         |me AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM pe GROUP BY query_id, tok_id, doc_id),
         |se AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM me GROUP BY query_id, doc_id),
         |re AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, doc_id) AS rank FROM se) WHERE rank <= 5)
         |SELECT r2.query_id, r2.doc_id, r2.maxsim,
         |  CAST(r2.rank AS INTEGER) AS rank,
         |  CAST(CASE WHEN re.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_exact
         |FROM r2 LEFT JOIN re ON re.query_id = r2.query_id
         |  AND re.doc_id = r2.doc_id
         |WHERE r2.rank <= 5 ORDER BY r2.query_id, r2.rank""".stripMargin
  }

  // recall sweep over the SRP front's tables knob: collisions computed
  // once at 16 tables, each (query, doc) pair tagged with its minimum
  // colliding table mt, cut T's candidates = {mt < T} (table t's
  // hyperplanes depend only on seed = t, so the candidate sets nest),
  // per-cut stage-1 rank to 16, exact MaxSim re-score, per-cut top-5
  // vs the exact top-5. All-integer; a cut with zero candidates still
  // emits its row (hits = 0) via the ks LEFT JOIN
  private lazy val maxSimSrpTablesSql: String = {
      val wRows = (0 until 16).flatMap { t =>
        (0 until 4).map { p =>
          val w = graft.functions.VectorFunctions.quantizedHyperplane(t, p, 64)
            .mkString("[", ",", "]")
          s"($t, $p, $w::BIGINT[])"
        }
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id // 8 AS doc_id, vec_id AS tok_id, $qv AS qv
         |           FROM embeddings),
         |q AS (SELECT doc_id AS query_id, tok_id, qv AS qtv FROM e WHERE doc_id < 4),
         |u AS (SELECT doc_id, i, CAST(sum(qv[i]) AS BIGINT) AS s
         |      FROM e CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY doc_id, i),
         |pool AS (SELECT doc_id, list(s ORDER BY i) AS pl FROM u GROUP BY doc_id),
         |qu AS (SELECT query_id, i, CAST(sum(qtv[i]) AS BIGINT) AS s
         |       FROM q CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY query_id, i),
         |qpool AS (SELECT query_id, list(s ORDER BY i) AS qpl FROM qu GROUP BY query_id),
         |w(t, p, wv) AS (VALUES
         |$wRows),
         |bkd AS (SELECT pool.doc_id, w.t,
         |  CAST(sum(CASE WHEN ${dot("pool.pl", "w.wv")} >= 0
         |    THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM pool, w GROUP BY pool.doc_id, w.t),
         |bkq AS (SELECT qpool.query_id, w.t,
         |  CAST(sum(CASE WHEN ${dot("qpool.qpl", "w.wv")} >= 0
         |    THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qpool, w GROUP BY qpool.query_id, w.t),
         |coll AS (SELECT bq.query_id, bd.doc_id, min(bq.t) AS mt
         |  FROM bkq bq JOIN bkd bd ON bq.t = bd.t AND bq.bucket = bd.bucket
         |  WHERE bd.doc_id <> bq.query_id GROUP BY bq.query_id, bd.doc_id),
         |cs AS (SELECT c.query_id, c.doc_id, c.mt,
         |         ${dot("p.pl", "qp.qpl")} AS pdot
         |       FROM coll c JOIN pool p ON p.doc_id = c.doc_id
         |       JOIN qpool qp ON qp.query_id = c.query_id),
         |ks AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16)) AS t(tables)),
         |cand AS (SELECT tables, query_id, doc_id FROM (
         |    SELECT ks.tables, cs.query_id, cs.doc_id,
         |      row_number() OVER (PARTITION BY ks.tables, cs.query_id
         |        ORDER BY cs.pdot DESC, cs.doc_id) AS cr
         |    FROM cs JOIN ks ON cs.mt < ks.tables) WHERE cr <= 16),
         |p2 AS (SELECT c.tables, q.query_id, q.tok_id, c.doc_id,
         |         ${dot("q.qtv", "e.qv")} AS dot
         |       FROM cand c JOIN q ON q.query_id = c.query_id
         |       JOIN e ON e.doc_id = c.doc_id),
         |m2 AS (SELECT tables, query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM p2 GROUP BY tables, query_id, tok_id, doc_id),
         |s2 AS (SELECT tables, query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM m2 GROUP BY tables, query_id, doc_id),
         |r2 AS (SELECT tables, query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY tables, query_id
         |      ORDER BY maxsim DESC, doc_id) AS rank FROM s2) WHERE rank <= 5),
         |pe AS (SELECT q.query_id, q.tok_id, e.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM q, e WHERE e.doc_id <> q.query_id),
         |me AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM pe GROUP BY query_id, tok_id, doc_id),
         |se AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM me GROUP BY query_id, doc_id),
         |re AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, doc_id) AS rank FROM se) WHERE rank <= 5),
         |tot AS (SELECT count(*) AS total FROM re),
         |h AS (SELECT r2.tables,
         |        sum(CASE WHEN re.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
         |      FROM r2 LEFT JOIN re ON re.query_id = r2.query_id
         |        AND re.doc_id = r2.doc_id
         |      GROUP BY r2.tables)
         |SELECT CAST(ks.tables AS INTEGER) AS tables,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(tot.total AS BIGINT) AS total,
         |  CAST((coalesce(h.hits, 0) * 1000000) // tot.total AS BIGINT)
         |    AS recall_ppm
         |FROM ks LEFT JOIN h ON h.tables = ks.tables, tot
         |ORDER BY tables""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    "q253_maxsim_ann" -> maxSimAnnSql,
    "q254_maxsim_ann_indexed" -> maxSimAnnSql,
    "q255_maxsim_srp_tables" -> maxSimSrpTablesSql,
    // recall curve of the two-stage MaxSim: ONE widened candidate set
    // (cr <= 64, exact MaxSim scored once) re-ranked at each cut —
    // the exact score of a (query, doc) pair is cut-independent, so
    // each cut's ranking is bit-identical to running the two-stage
    // pipeline at that kCand. recall_ppm = hits*10^6 // total (integer)
    "q252_maxsim_recall_curve" ->
      s"""WITH e AS (SELECT vec_id // 8 AS doc_id, vec_id AS tok_id, $qv AS qv
         |           FROM embeddings),
         |q AS (SELECT doc_id AS query_id, tok_id, qv AS qtv FROM e WHERE doc_id < 4),
         |u AS (SELECT doc_id, i, CAST(sum(qv[i]) AS BIGINT) AS s
         |      FROM e CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY doc_id, i),
         |pool AS (SELECT doc_id, list(s ORDER BY i) AS pl FROM u GROUP BY doc_id),
         |qu AS (SELECT query_id, i, CAST(sum(qtv[i]) AS BIGINT) AS s
         |       FROM q CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY query_id, i),
         |qpool AS (SELECT query_id, list(s ORDER BY i) AS qpl FROM qu GROUP BY query_id),
         |cs AS (SELECT qp.query_id, p.doc_id,
         |         ${dot("p.pl", "qp.qpl")} AS pdot
         |       FROM pool p, qpool qp WHERE p.doc_id <> qp.query_id),
         |candr AS (SELECT query_id, doc_id, cr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY pdot DESC, doc_id) AS cr FROM cs) WHERE cr <= 64),
         |p2 AS (SELECT q.query_id, q.tok_id, c.doc_id, c.cr,
         |         ${dot("q.qtv", "e.qv")} AS dot
         |       FROM candr c JOIN q ON q.query_id = c.query_id
         |       JOIN e ON e.doc_id = c.doc_id),
         |m2 AS (SELECT query_id, tok_id, doc_id, cr, max(dot) AS mx
         |       FROM p2 GROUP BY query_id, tok_id, doc_id, cr),
         |s2 AS (SELECT query_id, doc_id, cr, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM m2 GROUP BY query_id, doc_id, cr),
         |pe AS (SELECT q.query_id, q.tok_id, e.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM q, e WHERE e.doc_id <> q.query_id),
         |me AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM pe GROUP BY query_id, tok_id, doc_id),
         |se AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM me GROUP BY query_id, doc_id),
         |re AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, doc_id) AS rank FROM se) WHERE rank <= 5),
         |ks AS (SELECT * FROM (VALUES (16), (32), (64)) AS t(kcand)),
         |pc AS (SELECT * FROM (
         |    SELECT s2.query_id, s2.doc_id, ks.kcand,
         |      row_number() OVER (PARTITION BY ks.kcand, s2.query_id
         |        ORDER BY s2.maxsim DESC, s2.doc_id) AS rk
         |    FROM s2 JOIN ks ON s2.cr <= ks.kcand) WHERE rk <= 5),
         |tot AS (SELECT count(*) AS total FROM re)
         |SELECT CAST(pc.kcand AS INTEGER) AS kcand,
         |  CAST(sum(CASE WHEN re.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits,
         |  CAST(tot.total AS BIGINT) AS total,
         |  CAST((sum(CASE WHEN re.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000) // tot.total AS BIGINT) AS recall_ppm
         |FROM pc LEFT JOIN re ON re.query_id = pc.query_id
         |  AND re.doc_id = pc.doc_id, tot
         |GROUP BY pc.kcand, tot.total ORDER BY kcand""".stripMargin,
    // two-stage MaxSim: sum-pooled candidate pruning (dims fixed at 64
    // in this corpus — the literal series rebuilds the pooled arrays),
    // exact re-score of the 16 survivors, audit flag vs the exact
    // full-corpus top-5. All-integer; pooled partial sums stay < 2^53
    // (|coord| <= 10^6, <= 8 tokens pooled, 64 dims => <= 4.1e15)
    "q251_maxsim_refine" ->
      s"""WITH e AS (SELECT vec_id // 8 AS doc_id, vec_id AS tok_id, $qv AS qv
         |           FROM embeddings),
         |q AS (SELECT doc_id AS query_id, tok_id, qv AS qtv FROM e WHERE doc_id < 4),
         |u AS (SELECT doc_id, i, CAST(sum(qv[i]) AS BIGINT) AS s
         |      FROM e CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY doc_id, i),
         |pool AS (SELECT doc_id, list(s ORDER BY i) AS pl FROM u GROUP BY doc_id),
         |qu AS (SELECT query_id, i, CAST(sum(qtv[i]) AS BIGINT) AS s
         |       FROM q CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY query_id, i),
         |qpool AS (SELECT query_id, list(s ORDER BY i) AS qpl FROM qu GROUP BY query_id),
         |cs AS (SELECT qp.query_id, p.doc_id,
         |         ${dot("p.pl", "qp.qpl")} AS pdot
         |       FROM pool p, qpool qp WHERE p.doc_id <> qp.query_id),
         |cand AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY pdot DESC, doc_id) AS cr FROM cs) WHERE cr <= 16),
         |p2 AS (SELECT q.query_id, q.tok_id, c.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM cand c JOIN q ON q.query_id = c.query_id
         |       JOIN e ON e.doc_id = c.doc_id),
         |m2 AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM p2 GROUP BY query_id, tok_id, doc_id),
         |s2 AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM m2 GROUP BY query_id, doc_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY maxsim DESC, doc_id) AS rank FROM s2),
         |pe AS (SELECT q.query_id, q.tok_id, e.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |       FROM q, e WHERE e.doc_id <> q.query_id),
         |me AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |       FROM pe GROUP BY query_id, tok_id, doc_id),
         |se AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |       FROM me GROUP BY query_id, doc_id),
         |re AS (SELECT query_id, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, doc_id) AS rank FROM se) WHERE rank <= 5)
         |SELECT r2.query_id, r2.doc_id, r2.maxsim,
         |  CAST(r2.rank AS INTEGER) AS rank,
         |  CAST(CASE WHEN re.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_exact
         |FROM r2 LEFT JOIN re ON re.query_id = r2.query_id
         |  AND re.doc_id = r2.doc_id
         |WHERE r2.rank <= 5 ORDER BY r2.query_id, r2.rank""".stripMargin,
    // late-interaction MaxSim: per (query token, doc) max integer dot,
    // summed per (query, doc), top-5 per query — all-integer, so the
    // replay is exact under the same <2^53 contract as the other dots
    "q250_maxsim" ->
      s"""WITH e AS (SELECT vec_id // 8 AS doc_id, vec_id AS tok_id, $qv AS qv
         |           FROM embeddings),
         |q AS (SELECT doc_id AS query_id, tok_id, qv AS qtv FROM e WHERE doc_id < 4),
         |p AS (SELECT q.query_id, q.tok_id, e.doc_id, ${dot("q.qtv", "e.qv")} AS dot
         |      FROM q, e WHERE e.doc_id <> q.query_id),
         |m AS (SELECT query_id, tok_id, doc_id, max(dot) AS mx
         |      FROM p GROUP BY query_id, tok_id, doc_id),
         |s AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS maxsim
         |      FROM m GROUP BY query_id, doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY maxsim DESC, doc_id) AS rank FROM s)
         |SELECT query_id, doc_id, maxsim, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q241_silhouette" ->
      graft.operators.ClusterEval.simplifiedSilhouetteOracleSql(
        s"SELECT vec_id AS id, label, $qv AS qv FROM embeddings",
        "label", dim = 64),
    // self-kNN both directions via one ranked CTE, then the mutual
    // join on the reversed pair — same quantized-integer cosine
    "q233_mutual_knn" ->
      s"""WITH e AS (SELECT vec_id, $qv AS v FROM embeddings),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(${dot("q.v", "c.v")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("q.v", "q.v")} AS DOUBLE)) *
         |   sqrt(CAST(${dot("c.v", "c.v")} AS DOUBLE))) AS cosine
         |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
         |knn AS (SELECT * FROM (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 10)
         |SELECT f.query_id AS id_a, f.neighbor_id AS id_b, f.cosine,
         |  CAST(f.rank AS INTEGER) AS rank_ab, CAST(r.rank AS INTEGER) AS rank_ba
         |FROM knn f JOIN knn r ON f.query_id = r.neighbor_id
         |  AND f.neighbor_id = r.query_id AND f.query_id < f.neighbor_id
         |ORDER BY id_a, id_b""".stripMargin,
    // brute-force all-pairs eps-join + recursive min-label components:
    // proves the 3x3 grid-blocked plan IS the textbook definition
    "q231_dbscan" -> graft.operators.Dbscan.dbscanOracleSql(
      """SELECT vec_id AS id,
        |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) AS x,
        |  CAST(floor(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT) AS y
        |FROM embeddings""".stripMargin,
      eps = DbscanEps, minPts = DbscanMinPts),
    // k-center greedy: every round unrolled (min-dist update vs the
    // previous pick, ORDER BY mind DESC, id LIMIT 1 argmax) on the
    // same floor(x*1000)+10000 integer grid
    "q223_coreset" -> graft.operators.Coreset.kCenterOracleSql(
      "SELECT vec_id AS id, embedding AS vec FROM embeddings", k = 8,
      idOut = "vec_id"),
    // margin = cos relative to both sides' k-NN cosines; cosines
    // floor-quantized to ppm BEFORE the neighborhood sums (rule 6),
    // margin a pure integer division — full replay of q220
    "q220_margin_mine" -> {
      // per-vector norms hoisted out of the pair loop: sqrt(dot(v,v))
      // is bit-identical whether computed per vector or per pair, and
      // the pair stage then costs ONE dot instead of five
      s"""WITH l0 AS (SELECT vec_id AS x, $qv AS xv FROM embeddings
         |            WHERE vec_id % 2 = 0),
         |l AS (SELECT x, xv,
         |      sqrt(CAST(${dot("xv", "xv")} AS DOUBLE)) AS xn FROM l0),
         |r0 AS (SELECT vec_id AS y, $qv AS yv FROM embeddings
         |       WHERE vec_id % 2 = 1),
         |r AS (SELECT y, yv,
         |      sqrt(CAST(${dot("yv", "yv")} AS DOUBLE)) AS yn FROM r0),
         |sc AS (SELECT x, y,
         |    CAST(floor(CASE WHEN xn * yn = 0.0 THEN 0.0
         |      ELSE CAST(${dot("xv", "yv")} AS DOUBLE) / (xn * yn) END
         |      * 1000000.0) AS BIGINT) AS cos_ppm
         |  FROM l, r),
         |sx AS (SELECT x, CAST(sum(cos_ppm) AS BIGINT) AS s_x FROM (
         |    SELECT x, cos_ppm, row_number() OVER (PARTITION BY x
         |      ORDER BY cos_ppm DESC, y) AS rk FROM sc)
         |  WHERE rk <= 4 GROUP BY x),
         |sy AS (SELECT y, CAST(sum(cos_ppm) AS BIGINT) AS s_y FROM (
         |    SELECT y, cos_ppm, row_number() OVER (PARTITION BY y
         |      ORDER BY cos_ppm DESC, x) AS rk FROM sc)
         |  WHERE rk <= 4 GROUP BY y),
         |mg AS (SELECT sc.x, sc.y, sc.cos_ppm,
         |    (sc.cos_ppm * 8 * 1000000) // (s_x + s_y) AS margin_ppm
         |  FROM sc JOIN sx USING (x) JOIN sy USING (y)
         |  WHERE sc.cos_ppm > 0 AND s_x + s_y > 0),
         |best AS (SELECT *, row_number() OVER (PARTITION BY x
         |    ORDER BY margin_ppm DESC, y) AS rk FROM mg)
         |SELECT x, y, cos_ppm, CAST(margin_ppm AS BIGINT) AS margin_ppm
         |FROM best WHERE rk = 1 ORDER BY x""".stripMargin
    },
    "q156_int8_recon" ->
      s"""WITH $int8CbSql,
         |codes AS (SELECT ex.vec_id, ex.dim, ex.x, cb.min_q, cb.max_q, cb.rng,
         |  ((ex.x - cb.min_q) * 255) // cb.rng AS code
         |  FROM ex JOIN cb USING (dim))
         |SELECT dim, CAST(min_q AS BIGINT) AS min_q,
         |  CAST(max_q AS BIGINT) AS max_q,
         |  CAST(sum(code) AS BIGINT) AS sum_codes,
         |  CAST(sum(abs(x - (min_q + (code * rng) // 255))) AS BIGINT)
         |    AS sum_abs_err
         |FROM codes GROUP BY dim, min_q, max_q ORDER BY dim""".stripMargin,
    "q157_int8_topk" ->
      s"""WITH $int8CbSql,
         |lists AS (SELECT list(min_q ORDER BY dim) AS mn,
         |                 list(rng ORDER BY dim) AS rg FROM cb),
         |enc AS (SELECT vec_id,
         |  [((qv[i] - mn[i]) * 255) // rg[i] for i in range(1, len(qv) + 1)] AS cd
         |  FROM e, lists),
         |q AS (SELECT vec_id AS query_id, cd AS qc FROM enc WHERE vec_id % 50 = 0),
         |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dot("q.qc", "c.cd")} AS code_dot
         |  FROM q, enc c WHERE c.vec_id <> q.query_id),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY code_dot DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, code_dot
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q167_int8_recall" ->
      s"""WITH $int8CbSql,
         |lists AS (SELECT list(min_q ORDER BY dim) AS mn,
         |                 list(rng ORDER BY dim) AS rg FROM cb),
         |enc AS (SELECT vec_id, qv,
         |  [((qv[i] - mn[i]) * 255) // rg[i] for i in range(1, len(qv) + 1)] AS cd
         |  FROM e, lists),
         |q AS (SELECT vec_id AS query_id, qv AS qq, cd AS qc
         |      FROM enc WHERE vec_id % 50 = 0),
         |apx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY ${dot("q.qc", "c.cd")} DESC, c.vec_id ASC) AS rank
         |  FROM q, enc c WHERE c.vec_id <> q.query_id) WHERE rank <= 10),
         |exct AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY ${dot("q.qq", "c.qv")} DESC, c.vec_id ASC) AS rank
         |  FROM q, enc c WHERE c.vec_id <> q.query_id) WHERE rank <= 10),
         |hits AS (SELECT exct.query_id, count(*) AS n_overlap
         |         FROM exct JOIN apx USING (query_id, neighbor_id)
         |         GROUP BY exct.query_id)
         |SELECT q.query_id,
         |  CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST((COALESCE(h.n_overlap, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
         |FROM q LEFT JOIN hits h USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    "q161_mmr_select" -> graft.operators.Mmr.mmrOracleSql(
      s"SELECT vec_id AS id, $qv AS qv FROM embeddings WHERE vec_id <> 0",
      s"SELECT $qv AS qv FROM embeddings WHERE vec_id = 0",
      k = 10, lambdaPct = 70),
    "q115_kmeans" -> kmeansOracleSql(k = 8, iters = 3, dim = 64),
    // BM25 replay (shared CTEs) → PRF query vectors from its top-1 →
    // quantized-cosine dense ranking → integer RRF fusion
    "q119_hybrid_rrf" ->
      s"""WITH ${TextQueries.bm25OracleCtes(TextQueries.bm25Queries)},
         |a AS (SELECT qid, doc_id, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 10),
         |top1 AS (SELECT qid, doc_id FROM r WHERE rank = 1),
         |e AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |qv2 AS (SELECT t.qid, e.qv AS qq FROM top1 t JOIN e ON e.vec_id = t.doc_id),
         |ds AS (SELECT q.qid, e.vec_id AS doc_id,
         |  CAST(${dot("q.qq", "e.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("q.qq", "q.qq")} AS DOUBLE)) * sqrt(CAST(${dot("e.qv", "e.qv")} AS DOUBLE))) AS cosine
         |  FROM qv2 q, e),
         |b AS (SELECT qid, doc_id, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rank FROM ds)
         |  WHERE rank <= 10),
         |f AS (SELECT coalesce(a.qid, b.qid) AS qid, coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  CAST(coalesce(1000000000 // (60 + a.rank), 0) + coalesce(1000000000 // (60 + b.rank), 0) AS BIGINT) AS rrf_q,
         |  a.rank AS rank_a, b.rank AS rank_b
         |  FROM a FULL OUTER JOIN b ON a.qid = b.qid AND a.doc_id = b.doc_id),
         |fr AS (SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_q DESC, doc_id) AS INTEGER) AS rank,
         |  doc_id, rrf_q, rank_a, rank_b FROM f)
         |SELECT qid, rank, doc_id, rrf_q, rank_a, rank_b
         |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // closed-form dHash replay WITH the per-variant block bump, then
    // the BRUTE-FORCE popcount cross join — proving the pigeonhole
    // join's completeness (every pair), not just its soundness
    "q105_image_near_dup" ->
      """WITH docs AS (SELECT doc_id, doc_id // 10 AS grp, doc_id % 10 AS j
        |              FROM documents),
        |px AS (SELECT doc_id, x, y,
        |         60 + (grp * 31 + x * 7 + y * 13) % 120
        |         + CASE WHEN j > 0 AND x // 8 = (j - 1) % 8
        |                     AND y // 8 = (j - 1) % 8 THEN 50 ELSE 0 END AS v
        |       FROM docs, generate_series(0, 71) AS gx(x),
        |                  generate_series(0, 63) AS gy(y)),
        |blocks AS (SELECT doc_id, x // 8 AS bx, y // 8 AS by, sum(v) AS s
        |           FROM px GROUP BY 1, 2, 3),
        |bits AS (SELECT a.doc_id, a.by * 8 + a.bx AS k,
        |           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        |         FROM blocks a JOIN blocks b
        |           ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8),
        |hashes AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN k < 32 AND bit = 1
        |      THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS phash_lo,
        |    CAST(sum(CASE WHEN k >= 32 AND bit = 1
        |      THEN (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS phash_hi
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash_lo, b.phash_lo))
        |     + bit_count(xor(a.phash_hi, b.phash_hi)) AS BIGINT) AS hamming
        |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash_lo, b.phash_lo))
        |    + bit_count(xor(a.phash_hi, b.phash_hi)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // closed-form dHash replay: block sums of the planted texture
    // (brightness shifts PROVABLY cancel — the oracle never models
    // them), then the same adjacent-block bits and cluster assembly
    "q205_mjpeg_frames" ->
      """SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
        |  CAST(48 + ((doc_id + j) % 4) * 16 AS INTEGER) AS width,
        |  CAST(32 + ((doc_id + j) % 3) * 16 AS INTEGER) AS height,
        |  CAST(48 + ((doc_id + j) % 4) * 16 AS INTEGER) AS dec_width,
        |  CAST(32 + ((doc_id + j) % 3) * 16 AS INTEGER) AS dec_height
        |FROM documents, LATERAL (SELECT unnest(range(1 + doc_id % 3)) AS j) g
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q102_image_phash" ->
      """WITH docs AS (SELECT doc_id, doc_id // 10 AS grp FROM documents),
        |grps AS (SELECT DISTINCT grp FROM docs),
        |px AS (SELECT grp, x, y, 60 + (grp * 31 + x * 7 + y * 13) % 120 AS v
        |       FROM grps, generate_series(0, 71) AS gx(x),
        |                  generate_series(0, 63) AS gy(y)),
        |blocks AS (SELECT grp, x // 8 AS bx, y // 8 AS by, sum(v) AS s
        |           FROM px GROUP BY 1, 2, 3),
        |bits AS (SELECT a.grp, a.by * 8 + a.bx AS k,
        |           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        |         FROM blocks a JOIN blocks b
        |           ON b.grp = a.grp AND b.by = a.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8),
        |hashes AS (SELECT grp,
        |    CAST(sum(CASE WHEN k < 32 AND bit = 1
        |      THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS phash_lo,
        |    CAST(sum(CASE WHEN k >= 32 AND bit = 1
        |      THEN (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS phash_hi
        |  FROM bits GROUP BY grp),
        |assigned AS (SELECT d.doc_id, h.phash_lo, h.phash_hi
        |             FROM docs d JOIN hashes h USING (grp)),
        |cl AS (SELECT phash_lo, phash_hi, min(doc_id) AS cluster_id,
        |              count(*) AS cluster_size
        |       FROM assigned GROUP BY 1, 2)
        |SELECT a.doc_id, a.phash_lo, a.phash_hi, c.cluster_id,
        |       c.cluster_size, a.doc_id = c.cluster_id AS is_canonical
        |FROM assigned a JOIN cl c USING (phash_lo, phash_hi)
        |ORDER BY a.doc_id""".stripMargin,
    "q145_audio_decode" ->
      """WITH params AS (
        |  SELECT doc_id,
        |         CAST(8000 AS BIGINT) AS sample_rate,
        |         CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |         CAST(800 + (doc_id % 5) * 40 AS BIGINT) AS n_frames,
        |         4 + doc_id % 8 AS hp,
        |         500 + (doc_id % 7) * 300 AS base
        |  FROM documents),
        |samples AS (
        |  SELECT p.doc_id, cc.c, ii.i,
        |         (CASE WHEN ((ii.i // p.hp) % 2) = 0 THEN 1 ELSE -1 END)
        |           * (p.base + 173 * cc.c + (ii.i % 16)) AS s
        |  FROM params p, range(0, 960) ii(i), range(0, 2) cc(c)
        |  WHERE ii.i < p.n_frames AND cc.c < p.channels),
        |flips AS (
        |  SELECT doc_id, c, s,
        |         lag(s) OVER (PARTITION BY doc_id, c ORDER BY i) AS prev
        |  FROM samples),
        |ch AS (
        |  SELECT doc_id, c,
        |         CAST(floor(sqrt(CAST(CAST(sum(s * s) AS BIGINT) // count(*) AS DOUBLE))) AS BIGINT) AS rms,
        |         CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev * s < 0) AS BIGINT) AS zc
        |  FROM flips GROUP BY doc_id, c)
        |SELECT p.doc_id, 'audio/wav' AS mime, p.sample_rate, p.channels,
        |       p.n_frames,
        |       CAST((p.n_frames * 1000000) // p.sample_rate AS BIGINT) AS duration_us,
        |       c0.rms AS rms0, c0.zc AS zc0,
        |       cl.rms AS rms_last, cl.zc AS zc_last
        |FROM params p
        |JOIN ch c0 ON c0.doc_id = p.doc_id AND c0.c = 0
        |JOIN ch cl ON cl.doc_id = p.doc_id AND cl.c = p.channels - 1
        |ORDER BY p.doc_id""".stripMargin,
    "q58_image_decode" ->
      """SELECT doc_id, 'image/png' AS mime,
        |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 24 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_frames,
        |  CAST(299 * ((doc_id * 7) % 256) + 587 * ((doc_id * 13) % 256)
        |    + 114 * ((doc_id * 29) % 256) AS BIGINT) AS lum_x1000
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same integer-dot cosine as q28 with the label filter applied
    // before ranking (positives must not occupy candidate slots)
    "q116_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, $qv AS qv FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS q_label, qv AS qq FROM e WHERE vec_id < 10),
         |scored AS (SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
         |  CAST(${dot("q.qq", "e.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("q.qq", "q.qq")} AS DOUBLE)) * sqrt(CAST(${dot("e.qv", "e.qv")} AS DOUBLE))) AS cosine
         |  FROM q, e WHERE q.query_id <> e.vec_id AND e.label <> q.q_label),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neg_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neg_id, neg_label, cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q28_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |q AS (SELECT vec_id AS query_id, qv AS qq FROM e WHERE vec_id < 10),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  CAST(${dot("q.qq", "e.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("q.qq", "q.qq")} AS DOUBLE)) * sqrt(CAST(${dot("e.qv", "e.qv")} AS DOUBLE))) AS cosine
         |  FROM q, e WHERE q.query_id <> e.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q29_embedding_pairs" ->
      s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(${dot("a.qv", "b.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("a.qv", "a.qv")} AS DOUBLE)) * sqrt(CAST(${dot("b.qv", "b.qv")} AS DOUBLE))) AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE CAST(${dot("a.qv", "b.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("a.qv", "a.qv")} AS DOUBLE)) * sqrt(CAST(${dot("b.qv", "b.qv")} AS DOUBLE))) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    "q30_label_centroids" ->
      s"""WITH e AS (SELECT label, $qv AS qv FROM embeddings)
         |SELECT label, count(*) AS n,
         |  CAST(sum(qv[1]) AS BIGINT) AS sum_d0,
         |  CAST(sum(qv[2]) AS BIGINT) AS sum_d1,
         |  CAST(sum(${dot("qv", "qv")}) AS BIGINT) AS sum_sqnorm
         |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "q48_embedding_lsh" -> {
      val wRows = (0 until 8).map { p =>
        val w = graft.functions.VectorFunctions.quantizedHyperplane(0, p, 64)
          .mkString("[", ",", "]")
        s"($p, $w::BIGINT[])"
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |c AS (SELECT vec_id, qv FROM e
         |      UNION ALL SELECT vec_id + 1000000, qv FROM e WHERE vec_id % 10 = 0),
         |w(p, wv) AS (VALUES
         |$wRows),
         |bk AS (SELECT c.vec_id,
         |  CAST(sum(CASE WHEN ${dot("c.qv", "w.wv")} >= 0 THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM c, w GROUP BY c.vec_id)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(${dot("ca.qv", "cb.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("ca.qv", "ca.qv")} AS DOUBLE)) * sqrt(CAST(${dot("cb.qv", "cb.qv")} AS DOUBLE))) AS cosine
         |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |JOIN c ca ON ca.vec_id = a.vec_id JOIN c cb ON cb.vec_id = b.vec_id
         |WHERE CAST(${dot("ca.qv", "cb.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("ca.qv", "ca.qv")} AS DOUBLE)) * sqrt(CAST(${dot("cb.qv", "cb.qv")} AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q32_ann_srp" -> {
      // the same (table, plane) hyperplanes the Spark side uses,
      // quantized to BIGINT — one VALUES row per (t, p)
      val wRows = (0 until 4).flatMap { t =>
        (0 until 8).map { p =>
          val w = graft.functions.VectorFunctions.quantizedHyperplane(t, p, 64)
            .mkString("[", ",", "]")
          s"($t, $p, $w::BIGINT[])"
        }
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, $qv AS qv FROM embeddings),
         |w(t, p, wv) AS (VALUES
         |$wRows),
         |bk AS (SELECT e.vec_id, w.t,
         |  CAST(sum(CASE WHEN ${dot("e.qv", "w.wv")} >= 0 THEN power(2, w.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e, w GROUP BY e.vec_id, w.t),
         |cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |scored AS (SELECT cands.query_id, cands.neighbor_id,
         |  CAST(${dot("qe.qv", "ce.qv")} AS DOUBLE) /
         |  (sqrt(CAST(${dot("qe.qv", "qe.qv")} AS DOUBLE)) * sqrt(CAST(${dot("ce.qv", "ce.qv")} AS DOUBLE))) AS cosine
         |  FROM cands JOIN e qe ON qe.vec_id = cands.query_id JOIN e ce ON ce.vec_id = cands.neighbor_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "q33_multimodal" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS content_md5, source,
        |CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) AS BIGINT) % 1280 AS fake_width,
        |CAST(CAST(('0x' || substr(md5(text), 9, 8)) AS UBIGINT) AS BIGINT) % 720 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
