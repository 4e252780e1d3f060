package graft.operators

import graft.SparkSpec

/** [[Materialize.buildOnce]] contract: one build per (name, sf dir)
  * per JVM, nested builds, concurrent callers, failed builds, the
  * cold-build counters, and a directory of each memo's own. */
class MaterializeDurableSpec extends SparkSpec {
  import spark.implicits._

  private val key = s"durable-spec-${java.util.UUID.randomUUID()}"
  private var builds = 0
  private def build() = { builds += 1; Seq(1L, 2L, 3L).toDF("v") }
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.as[Long].collect().sorted.toSeq

  test("a key builds once; later calls reuse it") {
    val before = builds
    val a = Materialize.shared(spark, key, "/sf")(build())
    assert(builds == before + 1 && rows(a) == Seq(1L, 2L, 3L))
    val b = Materialize.shared(spark, key, "/sf")(build())
    assert(builds == before + 1 && rows(b) == Seq(1L, 2L, 3L))
    // the sf dir is half of the key
    Materialize.shared(spark, key, "/other-sf")(build())
    assert(builds == before + 2)
  }

  test("a build may read another shared frame whose key shares its memo bin") {
    // spLpa3 builds over spGraph: a nested key in the building key's
    // ConcurrentHashMap bin failed with "Recursive update" (q180 at sf0.001)
    def bin(k: String) = { val h = (k + "\u0001" + "fp").hashCode; (h ^ (h >>> 16)) & 0xfff }
    val outer = s"$key-outer"
    val inner = Iterator.from(0).map(i => s"$key-inner-$i").find(bin(_) == bin(outer)).get
    val df = Materialize.shared(spark, outer, "fp")(
      Materialize.shared(spark, inner, "fp")(build()))
    assert(rows(df) == Seq(1L, 2L, 3L))
  }

  test("8 threads asking for one key get exactly one cold build") {
    val k = s"$key-race"
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val c0 = Materialize.coldBuildCount
    val threads = (1 to 8).map { _ =>
      val t = new Thread(() => {
        gate.await()
        got.add(Materialize.buildOnce(k, "/sf") { _ =>
          Thread.sleep(50); runs.incrementAndGet() })
        ()
      })
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join())
    assert(got.size == 8 && runs.get == 1 && Materialize.coldBuildCount == c0 + 1)
    assert(got.toArray.distinct.length == 1, "every caller gets the one build")
  }

  test("a build that throws leaves the key unbuilt; the next call builds it") {
    val k = s"$key-throw"
    intercept[RuntimeException] {
      Materialize.shared(spark, k, "/sf")(throw new RuntimeException("build failed"))
    }
    val before = builds
    val df = Materialize.shared(spark, k, "/sf")(build())
    assert(builds == before + 1 && rows(df) == Seq(1L, 2L, 3L))
  }

  test("cold-build bookkeeping: a real build records wall time, cache hits record nothing") {
    val k5 = s"$key-cold"
    val c0 = Materialize.coldBuildCount
    val s0 = Materialize.coldBuildSecs
    Materialize.shared(spark, k5, "/sf")(build()).count()
    assert(Materialize.coldBuildCount == c0 + 1, "a MISS must count a build")
    val s1 = Materialize.coldBuildSecs
    assert(s1 > s0, "a MISS must record positive build wall time")
    Materialize.shared(spark, k5, "/sf")(build()).count()
    assert(Materialize.coldBuildCount == c0 + 1 &&
      Materialize.coldBuildSecs == s1)
  }

  test("two memos on one temp root never hand out the same directory") {
    // two JVMs sharing java.io.tmpdir: neither may write into the
    // other's index while it is being read
    val root = org.apache.spark.sql.graft.ShutdownDeleteDir
      .create(sys.props("java.io.tmpdir"), "memo-spec").getPath
    val (a, b) = (new Materialize.Memo(root), new Materialize.Memo(root))
    def index(m: Materialize.Memo, v: Long) =
      m("idx", "/sf")(dir => Seq(v).toDF("v").write.parquet(dir))._1
    val (pa, pb) = (index(a, 1L), index(b, 2L))
    assert(!pa.startsWith(pb) && !pb.startsWith(pa), s"$pa vs $pb")
    assert(rows(spark.read.parquet(pa)) == Seq(1L) &&
      rows(spark.read.parquet(pb)) == Seq(2L))
  }
}
