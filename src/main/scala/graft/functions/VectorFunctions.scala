package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float|double>` embedding columns, as
  * pure higher-order-function `Column`s (no UDFs — stays inside
  * whole-stage codegen; the O(n²)/LSH machinery lives in
  * `operators.Similarity`).
  *
  * All arithmetic is done in double with left-to-right summation so
  * results are deterministic and engine-portable.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val n = norm(a) * norm(b)
    when(n === 0.0, lit(0.0)).otherwise(dot(a, b) / n)
  }

  /** Unit-normalize (zero vector passes through unchanged). */
  def normalize(a: Column): Column = {
    val n = norm(a)
    when(n === 0.0, d(a)).otherwise(transform(d(a), x => x / n))
  }

  // ---------------------------------------------------- quantized (exact)
  /** Quantize to integers: floor(x * scale). Integer dot products are
    * exact and commutative — identical on any engine and any partition
    * count, unlike float summation. Used by the oracle-checked queries;
    * error vs true cosine is O(1/scale). */
  def quantize(vec: Column, scale: Double = 1e6): Column =
    transform(d(vec), x => floor(x * scale).cast("long"))

  /** Exact integer dot product — codegen'd custom Expression (the HOF
    * equivalent is interpreted and allocates per row; see
    * org.apache.spark.sql.graft.LongArrayDot). */
  def intDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.LongArrayDot(a, b)

  /** Cosine over pre-quantized integer vectors — bit-identical across
    * engines (integer dot, one sqrt, one division). */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    val n = sqrt(intDot(qa, qa).cast("double")) * sqrt(intDot(qb, qb).cast("double"))
    when(n === 0.0, lit(0.0)).otherwise(intDot(qa, qb).cast("double") / n)
  }

  /** Deterministic hyperplane component in [-1, 1): first 8 md5 hex
    * chars of "hp:seed:plane:dim" scaled — computed once on the driver
    * (plain JVM md5; same derivation as the Column version it
    * replaces), so the per-row work is pure arithmetic with literal
    * weights instead of millions of md5 calls. */
  private[graft] def hyperplane(seed: Int, plane: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { i =>
      val hex = md.digest(s"hp:$seed:$plane:$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0) - 1.0
    }
  }

  /** [[hyperplane]] quantized to integers (floor(w·10⁶)) — the weight
    * form used by the oracle-checkable SRP path: the projection is then
    * an exact integer dot product, bit-identical across engines. */
  private[graft] def quantizedHyperplane(seed: Int, plane: Int, dims: Int): Array[Long] =
    hyperplane(seed, plane, dims).map(x => math.floor(x * 1e6).toLong)

  /** SRP bucket over a PRE-QUANTIZED `array<long>` vector (see
    * [[quantize]]): bit p = sign(qv · floor(h_p·10⁶)) — exact,
    * commutative, and therefore expressible 1:1 in a DuckDB oracle,
    * unlike the float [[srpBucket]] whose projection sign can depend on
    * summation order at the zero boundary. All `planes` projections run
    * in ONE compiled matrix-vector expression
    * (o.a.s.sql.graft.LongMatrixBits) rather than `planes` separate
    * dot-product expressions; bit semantics are identical. */
  def srpBucketQuantized(qvec: Column, planes: Int, seed: Int = 0,
                         dims: Int = 512): Column =
    org.apache.spark.sql.graft.LongMatrixBits(qvec,
      Array.tabulate(planes)(p => quantizedHyperplane(seed, p, dims)))

  /** Sign-random-projection LSH bucket: one bit per hyperplane, bit p =
    * sign(v · h_p), hyperplanes seeded deterministically per (seed, p,
    * dim). Vectors with equal buckets are cosine-similar candidates;
    * different seeds give independent hash tables. `dims` must cover
    * the vector length (extra components are harmless). */
  def srpBucket(vec: Column, planes: Int, seed: Int = 0, dims: Int = 512): Column =
    (0 until planes).map { p =>
      val w = hyperplane(seed, p, dims)
      // slice the weight literal to the vector length — zip_with would
      // otherwise null-pad the shorter side and null out the whole sum
      val proj = aggregate(
        zip_with(d(vec), slice(lit(w), lit(1), size(vec)), (x, c) => x * c),
        lit(0.0), (a2, x) => a2 + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
}
