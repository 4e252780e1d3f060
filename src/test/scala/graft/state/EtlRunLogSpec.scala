package graft.state

import java.nio.file.{Files, Paths, StandardWatchEventKinds}
import java.time.{LocalDate, LocalDateTime}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Encoders
import graft.SparkSpec
import graft.state.EtlRunLog.Run

/** The run log's in-process index: it must answer exactly what the rows
  * on disk say, whoever wrote them, and read and append them without a
  * Spark job. */
class EtlRunLogSpec extends SparkSpec {
  import spark.implicits._

  private val today = LocalDate.parse("2025-12-08")
  private def at(ts: String) = LocalDateTime.parse(ts)
  private def newPath() = SparkSpec.tempDir("graft-runlog").toString + "/etl_run_log"
  private def onDisk(store: EtlRunLog.Store): Seq[Run] =
    store.all().as[Run].collect().toSeq.sortBy(r => (r.id, r.ingestedAt))
  private def names(path: String): Set[String] =
    Files.list(Paths.get(path)).iterator().asScala.map(_.getFileName.toString).toSet
  private def parts(path: String): Set[String] = names(path).filter(_.endsWith(".parquet"))
  private def sorted(runs: Seq[Run]) = runs.sortBy(r => (r.id, r.ingestedAt))
  private def footer(path: String, file: String): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(path, file), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  test("two Stores on one path see each other's appends") {
    val path = newPath()
    val a = new EtlRunLog.Store(spark, path)
    val b = new EtlRunLog.Store(spark, path)
    val id1 = a.logStart("retail", "orders", at("2025-12-06T05:45:00"))
    a.logStagingSuccess(id1, Some("2025-12-06T04:00:00Z"), at("2025-12-06T05:50:00"))
    assert(b.resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-04"))
    val id2 = b.logStart("retail", "orders", at("2025-12-07T05:45:00"))
    assert(id2 == id1 + 1)
    b.logStagingSuccess(id2, Some("2025-12-07T04:00:00Z"), at("2025-12-07T05:50:00"))
    assert(a.logStart("wholesale", "orders", at("2025-12-07T05:46:00")) == id2 + 1)
    assert(a.resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-05"))
    assert(a.runs().sortBy(r => (r.id, r.ingestedAt)) == onDisk(a))
    assert(b.runs().sortBy(r => (r.id, r.ingestedAt)) == onDisk(b))
  }

  test("concurrent logStart → logStagingSuccess give distinct ids, each SUCCESS") {
    val store = new EtlRunLog.Store(spark, newPath())
    val steps = for (s <- Seq("retail", "wholesale"); e <- Seq("orders", "customers", "products"))
      yield (s, e)
    val pool = Executors.newFixedThreadPool(steps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val ids = try steps.zipWithIndex.map { case ((s, e), i) =>
      Future {
        val id = store.logStart(s, e, at("2025-12-08T05:45:00"))
        store.logStagingSuccess(id, Some(s"2025-12-0${i + 1}T00:00:00Z"),
          at("2025-12-08T05:50:00"))
        (s, e) -> id
      }
    }.map(Await.result(_, Duration.Inf)).toMap
    finally pool.shutdown()
    assert(ids.values.toSet.size == steps.size)
    val latest = onDisk(store).groupBy(_.id).map { case (id, rs) => id -> rs.maxBy(_.ingestedAt) }
    steps.zipWithIndex.foreach { case ((s, e), i) =>
      val r = latest(ids((s, e)))
      assert(r.status == "SUCCESS" && r.storeName == s && r.entityName == e)
      assert(r.sourceUpdatedAt.contains(s"2025-12-0${i + 1}T00:00:00Z"))
    }
  }

  test("a part file deleted behind the index's back is noticed") {
    val path = newPath()
    val store = new EtlRunLog.Store(spark, path)
    val id1 = store.logStart("retail", "orders", at("2025-12-06T05:45:00"))
    store.logStagingSuccess(id1, Some("2025-12-06T04:00:00Z"), at("2025-12-06T05:50:00"))
    val id2 = store.logStart("retail", "orders", at("2025-12-07T05:45:00"))
    val before = parts(path)
    store.logStagingSuccess(id2, Some("2025-12-07T04:00:00Z"), at("2025-12-07T05:50:00"))
    assert(store.resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-05"))
    val added = parts(path) -- before
    assert(added.size == 1)
    Files.delete(Paths.get(path, added.head))
    Files.deleteIfExists(Paths.get(path, s".${added.head}.crc"))
    assert(store.runs().sortBy(r => (r.id, r.ingestedAt)) == onDisk(store))
    assert(store.runs().count(_.id == id2) == 1) // only its RUNNING row is left
    assert(store.resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-04"))
  }

  test("after a mixed sequence the index equals the rows on disk") {
    val path = newPath()
    val store = new EtlRunLog.Store(spark, path)
    val id1 = store.logStart("retail", "orders", at("2025-12-08T05:45:00"))
    store.logStagingSuccess(id1, Some("2025-12-08T04:00:00Z"), at("2025-12-08T05:50:00"))
    val id2 = store.logStart("wholesale", "customers", at("2025-12-08T05:45:01"))
    store.logFailure(id2, "bronze unreadable", at("2025-12-08T05:51:00"))
    store.logMergeSuccess(id1, at("2025-12-08T06:00:00"))
    val id3 = store.logStart("retail", "products", at("2025-12-08T05:45:02"))
    store.logStagingSuccess(id3, None, at("2025-12-08T05:52:00"))
    val rows = store.runs().sortBy(r => (r.id, r.ingestedAt))
    assert(rows == onDisk(store))
    assert(rows.size == 7)
    // a fresh Store loads the same rows from scratch
    assert(new EtlRunLog.Store(spark, path).runs().sortBy(r => (r.id, r.ingestedAt)) == rows)
    // status rows carry the prior row's store, entity and watermark
    assert(rows.last == Run(id3, "retail", "products", "SUCCESS", "2025-12-08T05:52:00",
      stagingSuccess = true, None, mergeSuccess = false, None))
    assert(rows.filter(_.id == id1).last == Run(id1, "retail", "orders", "SUCCESS",
      "2025-12-08T06:00:00", stagingSuccess = true, Some("2025-12-08T04:00:00Z"),
      mergeSuccess = true, None))
    assert(rows.filter(_.id == id2).last.notes.contains("bronze unreadable"))
  }

  test("run-log reads and appends run no Spark job") {
    val path = newPath()
    val store = new EtlRunLog.Store(spark, path)
    val id = store.logStart("retail", "orders", at("2025-12-06T05:45:00"))
    store.logStagingSuccess(id, Some("2025-12-06T04:00:00Z"), at("2025-12-06T05:50:00"))
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val group = s"runlog-${System.nanoTime()}"
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "run-log index")
      (1 to 5).foreach(_ => store.resolveStartDate("retail", "orders", today))
      val id2 = store.logStart("retail", "orders", at("2025-12-07T05:45:00"))
      store.logStagingSuccess(id2, Some("2025-12-07T04:00:00Z"), at("2025-12-07T05:50:00"))
      store.logFailure(id2, "bronze unreadable", at("2025-12-07T05:51:00"))
      store.logMergeSuccess(id, at("2025-12-07T06:00:00"))
      // listener events arrive in order: once the sentinel's job is seen,
      // every job before it has been counted
      spark.sparkContext.setJobGroup(s"$group-end", "sentinel")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(s"$group-end"))
      assert(groups.asScala.count(_ == group) == 0)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(sorted(store.runs()) == onDisk(store))
    assert(store.runs().size == 6)
  }

  test("an append killed before its rename leaves nothing a reader sees") {
    val path = newPath()
    val store = new EtlRunLog.Store(spark, path)
    // the names real appends create, seen as they appear: a temp file
    // lives only until its rename, so a listing would miss it
    val watcher = Paths.get(path).getFileSystem.newWatchService()
    val created = try {
      val id1 = store.logStart("retail", "orders", at("2025-12-06T05:45:00"))
      Paths.get(path).register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
      store.logStagingSuccess(id1, Some("2025-12-06T04:00:00Z"), at("2025-12-06T05:50:00"))
      store.logMergeSuccess(id1, at("2025-12-06T06:00:00"))
      Iterator.continually(watcher.poll(2, TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .flatMap { k => val es = k.pollEvents().asScala.map(_.context.toString); k.reset(); es }
        .toSet
    } finally watcher.close()
    val temps = created.filter(_.startsWith("_"))
    assert(temps.size == 2, created)
    assert(!temps.exists(_.endsWith(".parquet")), temps)
    assert(!names(path).exists(n => temps(n)), "temp files are renamed away")
    val published = created.filter(_.endsWith(".parquet"))
    assert(published.size == 2 && published.forall(n => n.startsWith("part-") && parts(path)(n)))
    // a killed append: a temp file with a truncated part file's bytes, and one of garbage
    val bytes = Files.readAllBytes(Paths.get(path, parts(path).head))
    val tmpName = temps.head.replaceAll("[0-9a-f-]{36}", UUID.randomUUID().toString)
    Files.write(Paths.get(path, tmpName), bytes.take(bytes.length / 2))
    Files.write(Paths.get(path, "_append-garbage"), "PAR1 not a footer".getBytes)
    val rows = sorted(store.runs())
    assert(rows.size == 3)
    assert(rows == onDisk(store))
    assert(sorted(new EtlRunLog.Store(spark, path).runs()) == rows)
    assert(store.resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-04"))
    assert(new EtlRunLog.Store(spark, path)
      .resolveStartDate("retail", "orders", today) == LocalDate.parse("2025-12-04"))
    assert(store.logStart("retail", "orders", at("2025-12-07T05:45:00")) == rows.last.id + 1)
    assert(new EtlRunLog.Store(spark, path)
      .logStart("wholesale", "orders", at("2025-12-07T05:46:00")) == rows.last.id + 2)
  }

  test("a run log begun by Spark's writer reads the same after direct appends") {
    val path = newPath()
    Seq(Run(1L, "retail", "orders", "RUNNING", "2025-12-06T05:45:00",
      stagingSuccess = false, None, mergeSuccess = false, None))
      .toDF().coalesce(1).write.mode("append").parquet(path)
    val sparkPart = parts(path).head
    val store = new EtlRunLog.Store(spark, path)
    store.logStagingSuccess(1L, Some("2025-12-06T04:00:00Z"), at("2025-12-06T05:50:00"))
    val id2 = store.logStart("wholesale", "customers", at("2025-12-06T05:45:01"))
    assert(id2 == 2L)
    store.logFailure(id2, "bronze unreadable", at("2025-12-06T05:51:00"))
    val rows = sorted(store.runs())
    assert(rows.size == 4)
    assert(rows == onDisk(store))
    assert(sorted(new EtlRunLog.Store(spark, path).runs()) == rows)
    assert(rows(1) == Run(1L, "retail", "orders", "SUCCESS", "2025-12-06T05:50:00",
      stagingSuccess = true, Some("2025-12-06T04:00:00Z"), mergeSuccess = false, None))
    // each direct part file carries the schema Spark's writer gives Run
    val direct = parts(path) - sparkPart
    assert(direct.size == 3 && direct.forall(_.startsWith("part-")))
    val want = Encoders.product[Run].schema.map(f => (f.name, f.dataType))
    val sparkSchema = footer(path, sparkPart).getFileMetaData.getSchema
    direct.foreach { f =>
      assert(spark.read.parquet(s"$path/$f").schema.map(f => (f.name, f.dataType)) == want)
      val meta = footer(path, f)
      assert(meta.getFileMetaData.getSchema == sparkSchema)
      assert(meta.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .forall(_.getCodec == CompressionCodecName.SNAPPY))
    }
  }
}
