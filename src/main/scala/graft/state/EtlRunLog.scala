package graft.state

import java.io.IOException
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter

/** O4/O5 — run-status + watermark state table (`etl_run_log`,
  * daily_scheduler.py:24-83; columns per FIXTURES.md §6).
  *
  * A small driver-side state table: one single-row parquet part file per
  * event, written from the driver without a Spark job; latest status
  * resolved by max(id) per run.
  */
object EtlRunLog {
  val ISO: DateTimeFormatter = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  case class Run(id: Long, storeName: String, entityName: String,
                 status: String, ingestedAt: String,
                 stagingSuccess: Boolean, sourceUpdatedAt: Option[String],
                 mergeSuccess: Boolean, notes: Option[String])

  private val RunSchema = Encoders.product[Run].schema

  /** The run log at `path`, answered from an in-process index of its
    * rows — the role the reference's indexed Postgres `etl_run_log`
    * played — so a run-log read costs a directory listing, not a Spark
    * job, however long the history grows.
    *
    * Every call lists the directory and reads, with the known schema,
    * only the part files the index has not seen; another writer's
    * appends are therefore picked up on the next call. A seen file that
    * disappeared makes it reload from scratch.
    *
    * An append writes its one row with parquet-mr's example writer, in
    * the Parquet schema Spark's writer gives `Run`, to a `_`-prefixed
    * temp file that Spark, this index and a `*.parquet` glob all skip,
    * then renames it to `part-<uuid>.parquet`: an append killed before
    * the rename leaves no row behind. The Store adopts the renamed file
    * and its row into the index without listing or reading it back.
    *
    * The index assumes one writer lock per Store: every read and write
    * of this Store is serialized through it. Two Stores on one path see
    * each other's appends, but their appends are not serialized against
    * each other (ids can collide), as before the index.
    */
  final class Store(spark: SparkSession, path: String) {
    import spark.implicits._

    /** Id allocation (max + 1) and the index are serialized through
      * this lock, as the reference leaned on Postgres for them; it is
      * held for a one-row file write, not for a Spark job. */
    private val writeLock = new Object
    private val dir = new Path(path)
    private val hadoopConf = spark.sparkContext.hadoopConfiguration
    private val fs: FileSystem = dir.getFileSystem(hadoopConf)
    private val parquetSchema =
      new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(RunSchema)
    private val groups = new SimpleGroupFactory(parquetSchema)

    /** Part files the index holds, and their rows. Guarded by writeLock. */
    private var seen = Set.empty[String]
    private var rows = Vector.empty[Run]

    private def partFiles(): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).iterator
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString).toSet

    private def read(files: Set[String]): Vector[Run] =
      if (files.isEmpty) Vector.empty
      else spark.read.schema(RunSchema).parquet(files.toSeq.sorted: _*)
        .as[Run].collect().toVector

    /** Bring the index in line with the part files on disk. */
    private def refresh(): Unit = {
      val onDisk = partFiles()
      if (!seen.subsetOf(onDisk)) {
        rows = read(onDisk)
        seen = onDisk
      } else if (onDisk.size > seen.size) {
        rows ++= read(onDisk -- seen)
        seen = onDisk
      }
    }

    /** The index's rows, current with the part files on disk. */
    def runs(): Seq[Run] = writeLock.synchronized { refresh(); rows }

    /** The rows on disk, read with the known schema. */
    def all(): DataFrame =
      if (fs.exists(dir)) spark.read.schema(RunSchema).parquet(path)
      else spark.emptyDataset[Run].toDF()

    /** One row as a Parquet record: each field under its schema name, an
      * absent value (None, null) left unset. */
    private def group(run: Run): Group = {
      val g = groups.newGroup()
      run.productIterator.zip(RunSchema.fieldNames).foreach {
        case (v: Long, f) => g.append(f, v)
        case (v: Boolean, f) => g.append(f, v)
        case (v: String, f) => g.append(f, v)
        case (Some(v: String), f) => g.append(f, v)
        case (None | null, _) =>
      }
      g
    }

    /** One-row append without a Spark job: write a temp file, rename it
      * into place, adopt it. Caller holds writeLock and has just
      * refreshed the index. */
    private def append(run: Run): Unit = {
      val uuid = UUID.randomUUID()
      val tmp = new Path(dir, s"_append-$uuid")
      val part = new Path(dir, s"part-$uuid.parquet")
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, hadoopConf))
        .withConf(hadoopConf).withType(parquetSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try writer.write(group(run)) finally writer.close()
      if (!fs.rename(tmp, part)) throw new IOException(s"could not rename $tmp to $part")
      rows :+= run
      seen += fs.makeQualified(part).toString
    }

    /** Insert a RUNNING row, returning its id (daily_scheduler.py:24-36). */
    def logStart(store: String, entity: String, now: LocalDateTime): Long =
      writeLock.synchronized {
        refresh()
        val id = if (rows.isEmpty) 1L else rows.map(_.id).max + 1
        append(Run(id, store, entity, "RUNNING", now.format(ISO),
          stagingSuccess = false, None, mergeSuccess = false, None))
        id
      }

    /** Mark staging success + watermark (daily_scheduler.py:38-49). */
    def logStagingSuccess(id: Long, watermark: Option[String], now: LocalDateTime): Unit =
      appendStatus(id, "SUCCESS", stagingSuccess = true, watermark, mergeSuccess = false, None, now)

    def logFailure(id: Long, notes: String, now: LocalDateTime): Unit =
      appendStatus(id, "FAILED", stagingSuccess = false, None, mergeSuccess = false, Some(notes), now)

    def logMergeSuccess(id: Long, now: LocalDateTime): Unit =
      appendStatus(id, "SUCCESS", stagingSuccess = true, None, mergeSuccess = true, None, now)

    private def appendStatus(id: Long, status: String, stagingSuccess: Boolean,
                             watermark: Option[String], mergeSuccess: Boolean,
                             notes: Option[String], now: LocalDateTime): Unit = writeLock.synchronized {
      refresh()
      val prior = rows.filter(_.id == id).maxByOption(_.ingestedAt)
      val (store, entity) = prior.map(r => (r.storeName, r.entityName)).getOrElse(("", ""))
      val wm = watermark.orElse(prior.flatMap(_.sourceUpdatedAt))
      append(Run(id, store, entity, status, now.format(ISO),
        stagingSuccess, wm, mergeSuccess, notes))
    }

    /** O5 — watermark resolution with overlap lookback
      * (daily_scheduler.py:64-83): restart from
      * `today − (2 + days_since_success)` — i.e. two days BEFORE the
      * last success (the reference's get_start_date computes
      * now − (2 + days_gap)); 3-day default lookback when no history.
      * The last success is the watermarked SUCCESS row with the highest
      * `id`, then the latest `ingestedAt`. `daysSince` is clamped at 0
      * against clock skew. Rerun-safety comes from upsert idempotence,
      * not from exactness here. */
    def resolveStartDate(store: String, entity: String, today: LocalDate): LocalDate = {
      val last = runs()
        .filter(r => r.storeName == store && r.entityName == entity &&
          r.status == "SUCCESS" && r.sourceUpdatedAt.isDefined)
        .maxByOption(r => (r.id, r.ingestedAt)).flatMap(_.sourceUpdatedAt)
      last match {
        case Some(ts) =>
          val lastDate = LocalDate.parse(ts.take(10))
          val daysSince = math.max(
            java.time.temporal.ChronoUnit.DAYS.between(lastDate, today), 0L)
          today.minusDays(2 + daysSince)
        case None => today.minusDays(3)
      }
    }
  }
}
