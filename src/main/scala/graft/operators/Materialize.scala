package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialize-once policy for re-read intermediates (shingle sets,
  * band keys, label frames): compute the expensive stage exactly once
  * and serve both downstream readers from it.
  *
  * Default mode is `localCheckpoint(eager = true)`: nothing is
  * registered in the SQL cache (no unpersist obligation leaks to the
  * caller — DedupSpec asserts the cache stays empty) and the blocks
  * are freed by the ContextCleaner once the plan is GC'd. The
  * trade-off is truncated lineage: a lost executor's blocks cannot be
  * recomputed, so on clusters with aggressive dynamic allocation or
  * preemptible nodes set `spark.graft.localCheckpoint=false` to fall
  * back to `persist()` (recomputable lineage; callers then own cache
  * hygiene, e.g. `spark.catalog.clearCache()` between corpora as
  * Bench does). Eager materialization also means operators run their
  * heavy stage at CONSTRUCTION time in the default mode.
  */
private[graft] object Materialize {
  def once(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.localCheckpoint", "true").toBoolean)
      // clamped: plain localCheckpoint carries the origin plan's
      // sizeInBytes, and iterative checkpoint-per-round operators
      // compound join-size PRODUCTS into BigInts the planner chokes on
      // — see [[org.apache.spark.sql.graft.CheckpointStats]]
      org.apache.spark.sql.graft.CheckpointStats.clampedLocalCheckpoint(df)
    else df.persist()

  /** LAZY variant of [[once]] (the canonicalize-round pattern): the
    * checkpoint/persist is registered here but materializes inside the
    * FIRST downstream action — for call sites whose very next
    * statement is an aggregation over the frame, one job instead of
    * eager-checkpoint-job + agg-job. Same share-the-materialization
    * guarantee once that first action has run; callers own the action
    * ordering (a plan referencing the frame twice BEFORE any action
    * computes it twice). */
  def lazily(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.localCheckpoint", "true").toBoolean)
      org.apache.spark.sql.graft.CheckpointStats
        .clampedLocalCheckpoint(df, eager = false)
    else df.persist()

  private val sharedPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val sharedLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Build-once-per-key memo over [[sharedPaths]]. A build may itself
    * read another shared frame (`spLpa3` builds over `spGraph`), so it
    * must not run inside `ConcurrentHashMap.computeIfAbsent`, which
    * throws "Recursive update" when the nested key lands in the bin of
    * the key being built. */
  private def memo(key: String)(build: => String): String =
    sharedLocks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      Option(sharedPaths.get(key)).getOrElse {
        val path = build
        sharedPaths.put(key, path)
        path
      }
    }

  /** Cold-build bookkeeping for [[sharedDurable]]: count and wall
    * seconds of builds actually RUN in this JVM — cache hits (in-JVM
    * memo or a published on-disk copy) record nothing. Bench snapshots
    * it around the graph-prep warm so every capture self-documents
    * what the per-query graph numbers exclude: `graph_prep_cold_sec`
    * is the real build cost on a MISS and −3 ("served warm from a
    * prior run") on a hit (r17 verdict #4). */
  private val coldBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private val coldBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  def coldBuildCount: Int = coldBuilds.get()
  def coldBuildSecs: Double = coldBuildNanos.get() / 1e9

  /** Build-once shared frame, durable across JVMs: the first caller
    * materializes `build` to parquet under the JVM temp dir and every
    * later caller — other queries in the same session included — gets
    * a plain parquet scan of it. Unlike [[once]], the result survives
    * cache hygiene (Bench unpersists every block between queries)
    * because it lives on disk. The materialization is
    * keyed by (key, input FINGERPRINT) and a later JVM whose
    * fingerprint still matches reads the existing parquet instead of
    * rebuilding — the on-disk amortization the Bm25/IVF persistent
    * indexes already have, generalized (r14 verdict: the shared graph
    * prep cost 11.8 s per (JVM, dir) while the indexes amortized).
    * The fingerprint participates in the directory tag, so
    * regenerated input data lands in a NEW directory and can never be
    * served stale rows; stale tags are orphaned under the temp dir
    * (bounded, cleared on reboot — same lifecycle as the indexes).
    *
    * Concurrency: the build lands in a unique temp dir, then an
    * atomic rename publishes it. A racing JVM either wins the rename
    * or reads the winner's COMPLETED directory — never a half-written
    * one. A crashed build leaves only an unpublished `*.tmp.*` dir.
    *
    * Key discipline for ALGORITHM-derived materializations (community
    * assignments, index layouts — anything whose rows depend on code,
    * not just input bytes): the fingerprint only tracks the INPUT, so
    * the `key` string must carry an algorithm-version component (e.g.
    * `"sp_louvain_l1_r2#a1"`) that is bumped with any semantic change
    * to the producing sweep — otherwise a later JVM keeps serving the
    * pre-change rows from disk and only an oracle run would notice.
    *
    * Disk hygiene: each published dir carries its logical `key` in a
    * `_graft_key` marker (underscore-prefixed → invisible to parquet
    * readers). Two sweeps bracket the build: BEFORE it, unpublished
    * `*.tmp.*` crash leftovers whose newest recursive mtime is older
    * than `spark.graft.shared.tmpMaxAgeHours` (default 6) are
    * deleted; AFTER a successful publish, published dirs holding the
    * SAME key under a different (therefore superseded) fingerprint
    * are deleted — the old copy disappears only once a valid
    * replacement exists, so a failed build never orphans the key and
    * a concurrent reader of the old dir is disturbed only when its
    * data is truly superseded. Repeated corpus regeneration therefore
    * churns bounded disk instead of accumulating multi-GB orphans
    * until reboot. Both sweeps run only on the build path: a cache
    * hit never pays the directory walk. */
  def sharedDurable(s: org.apache.spark.sql.SparkSession, key: String,
                    fingerprint: String)(build: => DataFrame): DataFrame = {
    val fullKey = key + "\u0001" + fingerprint
    val path = memo(fullKey) {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(fullKey.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val dir = new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft-shared/$tag")
      def done = new java.io.File(dir, "_SUCCESS").exists()
      if (done) dir.getAbsolutePath
      else {
        // pre-build: only the crash-leftover tmp sweep. The superseded-
        // fingerprint sweep runs AFTER a successful publish — deleting
        // the old dir first would leave NO on-disk copy if this build
        // throws, and break a concurrent JVM mid-read of it for
        // nothing (r16 advice)
        sweepTmp(s, dir.getParentFile)
        val tmp = new java.io.File(dir.getParentFile,
          s"$tag.tmp.${java.util.UUID.randomUUID()}")
        val b0 = System.nanoTime()
        build.write.mode("overwrite").parquet(tmp.getAbsolutePath)
        coldBuildNanos.addAndGet(System.nanoTime() - b0)
        coldBuilds.incrementAndGet()
        java.nio.file.Files.write(
          new java.io.File(tmp, KeyMarker).toPath, key.getBytes("UTF-8"))
        def published(): String = {
          sweepSuperseded(dir.getParentFile, key, tag)
          dir.getAbsolutePath
        }
        if (tmp.renameTo(dir)) published()
        else if (done) { // lost the race to a completed winner
          deleteRec(tmp); dir.getAbsolutePath
        } else { // stale crash leftover occupies the slot: evict, retry
          deleteRec(dir)
          if (tmp.renameTo(dir)) published()
          else tmp.getAbsolutePath // unpublishable: serve the private build
        }
      }
    }
    s.read.parquet(path)
  }

  private val KeyMarker = "_graft_key"

  /** Pre-build sweep of crash-leftover `*.tmp.*` dirs under the
    * shared root (see [[sharedDurable]]): a tmp dir is deleted only
    * when the NEWEST mtime found in a recursive walk is past the
    * configured horizon. The walk matters: Spark's committer lands
    * part files under nested `_temporary/` subdirs, which does NOT
    * refresh the top-level tmp dir's mtime on Linux — aging off the
    * top-level mtime alone could kill a build still writing past the
    * horizon (r16 advice). */
  private def sweepTmp(s: org.apache.spark.sql.SparkSession,
                       parent: java.io.File): Unit = {
    val kids = parent.listFiles()
    if (kids == null) return
    val maxAgeMs = (s.conf.get("spark.graft.shared.tmpMaxAgeHours", "6")
      .toDouble * 3600 * 1000).toLong
    val now = System.currentTimeMillis()
    kids.filter(d => d.isDirectory && d.getName.contains(".tmp."))
      .foreach { d =>
        if (now - newestMtime(d) > maxAgeMs) deleteRec(d)
      }
  }

  /** Newest mtime under `f`, the dir's own included (recursive —
    * bounded by the build's file count, a driver-side metadata
    * walk). */
  private def newestMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    val kids = f.listFiles()
    if (kids == null) own
    else kids.foldLeft(own)((m, k) => math.max(m, newestMtime(k)))
  }

  /** Post-publish sweep of published dirs whose `_graft_key` equals
    * `key` but whose tag differs from `keepTag` — superseded
    * fingerprints of the same materialization (the caller JUST
    * published the replacement, so the old rows are unreachable
    * through any correct key; a long-lived JVM still memoizing the
    * old path lost its INPUT when the corpus was regenerated). Runs
    * only after a successful publish so the old dir disappears only
    * once a valid replacement exists. Dirs published before the
    * marker existed are left alone — they age out at reboot as
    * before. */
  private def sweepSuperseded(parent: java.io.File, key: String,
                              keepTag: String): Unit = {
    val kids = parent.listFiles()
    if (kids == null) return
    kids.filter(d => d.isDirectory && !d.getName.contains(".tmp.") &&
        d.getName != keepTag)
      .foreach { d =>
        val marker = new java.io.File(d, KeyMarker)
        if (marker.exists() &&
            new String(java.nio.file.Files.readAllBytes(marker.toPath),
              "UTF-8") == key)
          deleteRec(d)
      }
  }

  /** Test hook: forget the in-JVM path memo so a spec can exercise
    * the cross-JVM path (disk hit / stale-dir eviction) in-process. */
  private[operators] def clearSharedPathsForTest(): Unit = sharedPaths.clear()

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  /** Cheap input fingerprint for [[sharedDurable]]: md5 over the
    * sorted (absolute path, length, mtime) listing of `path` — a
    * driver-side metadata walk, no data scan. Regenerated test data
    * (new mtime/size) changes it, which is the staleness guard; the
    * absolute path keys the same bytes under a different mount as a
    * different corpus, a conservative (rebuild, never stale) choice. */
  def pathFingerprint(path: String): String = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    walk(root).foreach { f =>
      md.update(s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}\n"
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
