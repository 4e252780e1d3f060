package graft.state

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSpec
import graft.state.EtlRunLog.Run

/** The run log's in-process index: it must answer exactly what the rows
  * on disk say, whoever wrote them, and read them without a Spark job. */
class EtlRunLogSpec extends SparkSpec {
  import spark.implicits._

  private val today = LocalDate.parse("2025-12-08")
  private def at(ts: String) = LocalDateTime.parse(ts)
  private def newPath() = SparkSpec.tempDir("graft-runlog").toString + "/etl_run_log"
  private def onDisk(store: EtlRunLog.Store): Seq[Run] =
    store.all().as[Run].collect().toSeq.sortBy(r => (r.id, r.ingestedAt))
  private def parts(path: String): Set[String] =
    Files.list(Paths.get(path)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet

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

  test("run-log reads run no Spark job; each event is one append job") {
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
      store.logStart("retail", "orders", at("2025-12-07T05:45:00"))
      // listener events arrive in order: once the sentinel's job is seen,
      // every job before it has been counted
      spark.sparkContext.setJobGroup(s"$group-end", "sentinel")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(s"$group-end"))
      assert(groups.asScala.count(_ == group) == 1)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
