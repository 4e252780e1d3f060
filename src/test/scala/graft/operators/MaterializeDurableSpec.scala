package graft.operators

import graft.SparkSpec

/** [[Materialize.sharedDurable]] contract: build-once per (key,
  * fingerprint) ACROSS JVMs (simulated by clearing the in-JVM memo —
  * the disk side is what a fresh JVM sees), staleness re-keying on a
  * fingerprint change, and eviction of a crashed half-build. */
class MaterializeDurableSpec extends SparkSpec {
  import spark.implicits._

  private val key = s"durable-spec-${java.util.UUID.randomUUID()}"
  private var builds = 0
  private def build() = { builds += 1; Seq(1L, 2L, 3L).toDF("v") }

  test("second JVM reads the published parquet instead of rebuilding") {
    val a = Materialize.sharedDurable(spark, key, "fp1")(build())
    assert(builds == 1 && a.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // same JVM: served from the path memo
    Materialize.sharedDurable(spark, key, "fp1")(build())
    assert(builds == 1)
    // "new JVM": memo gone, _SUCCESS on disk → read, not rebuild
    Materialize.clearSharedPathsForTest()
    val b = Materialize.sharedDurable(spark, key, "fp1")(build())
    assert(builds == 1 && b.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a build may read another shared frame whose key shares its memo bin") {
    // spLpa3 builds over spGraph: a nested key in the building key's
    // ConcurrentHashMap bin failed with "Recursive update" (q180 at sf0.001)
    def bin(k: String) = { val h = (k + "\u0001" + "fp").hashCode; (h ^ (h >>> 16)) & 0xfff }
    val outer = s"$key-outer"
    val inner = Iterator.from(0).map(i => s"$key-inner-$i").find(bin(_) == bin(outer)).get
    val df = Materialize.sharedDurable(spark, outer, "fp")(
      Materialize.sharedDurable(spark, inner, "fp")(build()))
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a changed fingerprint re-keys: stale data is never served") {
    Materialize.sharedDurable(spark, key, "fp1")(build())
    val before = builds
    Materialize.sharedDurable(spark, key, "fp2")(build())
    assert(builds == before + 1) // new directory, fresh build
  }

  test("a crashed half-build (no _SUCCESS) is evicted and rebuilt") {
    val k2 = s"$key-crash"
    val df = Materialize.sharedDurable(spark, k2, "fp")(build())
    df.count()
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest((k2 + "\u0001" + "fp").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val dir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-shared/$tag")
    assert(new java.io.File(dir, "_SUCCESS").delete()) // simulate crash
    Materialize.clearSharedPathsForTest()
    val before = builds
    val again = Materialize.sharedDurable(spark, k2, "fp")(build())
    assert(builds == before + 1)
    assert(again.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(new java.io.File(dir, "_SUCCESS").exists()) // republished
  }

  test("build-time sweep: superseded fingerprints deleted, live builds and other keys kept") {
    def tagOf(k: String, fp: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest((k + "\u0001" + fp).getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-shared")
    val k3 = s"$key-sweep"
    val other = s"$key-other"
    Materialize.sharedDurable(spark, k3, "fpA")(build()).count()
    Materialize.sharedDurable(spark, other, "fpX")(build()).count()
    val dirA = new java.io.File(root, tagOf(k3, "fpA"))
    val dirOther = new java.io.File(root, tagOf(other, "fpX"))
    assert(dirA.exists() && dirOther.exists())
    // crash leftovers: one past the age horizon, one fresh (a live build)
    val oldTmp = new java.io.File(root, "deadbeef.tmp.spec-old")
    val newTmp = new java.io.File(root, "deadbeef.tmp.spec-new")
    assert(oldTmp.mkdirs() && newTmp.mkdirs())
    assert(oldTmp.setLastModified(
      System.currentTimeMillis() - 10L * 3600 * 1000))
    // "new JVM" regenerates the corpus: same key, new fingerprint
    Materialize.clearSharedPathsForTest()
    val b = Materialize.sharedDurable(spark, k3, "fpB")(build())
    assert(b.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(!dirA.exists(), "superseded fingerprint must be swept")
    assert(!oldTmp.exists(), "aged-out crash leftover must be swept")
    assert(newTmp.exists(), "a fresh tmp dir (live build) must survive")
    assert(dirOther.exists(), "other keys must survive")
    // repeated regeneration cycles keep exactly ONE published dir per key
    Materialize.clearSharedPathsForTest()
    Materialize.sharedDurable(spark, k3, "fpC")(build()).count()
    assert(!new java.io.File(root, tagOf(k3, "fpB")).exists())
    assert(new java.io.File(root, tagOf(k3, "fpC")).exists())
    // hygiene: drop the fresh fake so later suites don't inherit it
    newTmp.delete(); ()
  }

  test("a failed replacement build never orphans the key (superseded sweep is post-publish)") {
    def tagOf(k: String, fp: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest((k + "\u0001" + fp).getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-shared")
    val k4 = s"$key-failsafe"
    Materialize.sharedDurable(spark, k4, "fpA")(build()).count()
    val dirA = new java.io.File(root, tagOf(k4, "fpA"))
    assert(dirA.exists())
    // "new JVM" regenerates the corpus but its replacement build dies:
    // the only on-disk copy of the key must SURVIVE the failure
    Materialize.clearSharedPathsForTest()
    intercept[RuntimeException] {
      Materialize.sharedDurable(spark, k4, "fpB")(
        throw new RuntimeException("build failed"))
    }
    assert(dirA.exists(),
      "superseded dir must outlive a FAILED replacement build")
    // ... and a successful replacement publish then sweeps it
    Materialize.clearSharedPathsForTest()
    Materialize.sharedDurable(spark, k4, "fpB")(build()).count()
    assert(!dirA.exists(), "superseded dir must be swept post-publish")
    assert(new java.io.File(root, tagOf(k4, "fpB")).exists())
  }

  test("tmp-age sweep keys off the newest nested mtime, not the top-level dir") {
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-shared")
    val old = System.currentTimeMillis() - 10L * 3600 * 1000
    // a live build: Spark's committer writes under nested _temporary/
    // without refreshing the top-level tmp dir's mtime — simulate with
    // an ancient top dir holding a FRESH nested part file
    val live = new java.io.File(root, "cafebabe.tmp.spec-live")
    val nested = new java.io.File(live, "_temporary/0")
    assert(nested.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(nested, "part-00000").toPath, Array[Byte](1))
    assert(live.setLastModified(old) && nested.setLastModified(old) &&
      nested.getParentFile.setLastModified(old))
    Materialize.clearSharedPathsForTest()
    Materialize.sharedDurable(spark, s"$key-mtime-a", "fp")(build()).count()
    assert(live.exists(),
      "tmp dir with a fresh nested write is a live build — must survive")
    // once EVERYTHING under it is past the horizon it is a true
    // crash leftover and goes
    def ageAll(f: java.io.File): Unit = {
      f.setLastModified(old)
      Option(f.listFiles()).foreach(_.foreach(ageAll))
    }
    ageAll(live)
    Materialize.clearSharedPathsForTest()
    Materialize.sharedDurable(spark, s"$key-mtime-b", "fp")(build()).count()
    assert(!live.exists(), "fully-aged tmp leftover must be swept")
  }

  test("cold-build bookkeeping: a real build records wall time, cache hits record nothing") {
    val k5 = s"$key-cold"
    val c0 = Materialize.coldBuildCount
    val s0 = Materialize.coldBuildSecs
    Materialize.sharedDurable(spark, k5, "fp1")(build()).count()
    assert(Materialize.coldBuildCount == c0 + 1, "a MISS must count a build")
    val s1 = Materialize.coldBuildSecs
    assert(s1 > s0, "a MISS must record positive build wall time")
    // in-JVM memo hit: nothing recorded
    Materialize.sharedDurable(spark, k5, "fp1")(build()).count()
    assert(Materialize.coldBuildCount == c0 + 1 &&
      Materialize.coldBuildSecs == s1)
    // "new JVM", published dir on disk: a warm read records nothing —
    // this is exactly the distinction graph_prep_cold_sec surfaces
    Materialize.clearSharedPathsForTest()
    Materialize.sharedDurable(spark, k5, "fp1")(build()).count()
    assert(Materialize.coldBuildCount == c0 + 1 &&
      Materialize.coldBuildSecs == s1)
  }

  test("pathFingerprint tracks file metadata, not just the path") {
    val f = java.nio.file.Files.createTempFile("fp-spec", ".bin")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val fp1 = Materialize.pathFingerprint(f.toString)
    assert(fp1 == Materialize.pathFingerprint(f.toString)) // stable
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    f.toFile.setLastModified(System.currentTimeMillis() + 5000)
    assert(fp1 != Materialize.pathFingerprint(f.toString))
  }
}
