package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge engine (SURVEY §2.8 W1–W7): upsert / full-refresh /
  * delete-reload / snapshot-append re-expressed as DataFrame
  * composition. No Delta/Iceberg jars are present, so MERGE is emulated
  * as `staged ∪ (target ⟕anti staged)` and persisted via
  * `AtomicTableWriter` (write-temp + atomic swap ≈ the reference's
  * per-entity Postgres transaction, run_etl_with_retries.py:60-94).
  *
  * Scale notes (100 TB): the anti-join shuffles target by the merge key
  * once — on a partitioned target, pair with
  * `partitionOverwriteMode=dynamic` so only partitions containing
  * staged keys rewrite (SURVEY §7.6). Staged batches are typically tiny
  * relative to target → Spark broadcasts the staged key set
  * automatically under AQE.
  */
object MergeOps {

  /** A5 — keep-latest-per-key (`DISTINCT ON` semantics,
    * run_logs.txt:346-361). `order` must be a TOTAL order: Postgres
    * `DISTINCT ON` with ties is nondeterministic; we fix the tie-break
    * explicitly (SURVEY §7.3). */
  def dedupLatest(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** W1/W6-style upsert (`INSERT ... ON CONFLICT (k) DO UPDATE`,
    * run_logs.txt:510-536): staged rows win; unmatched target rows
    * survive. Staged must be unique per key (pre-dedup with
    * [[dedupLatest]] if not). Idempotent: re-running with the same
    * staged batch yields the same table — the property the reference's
    * overlap-lookback rescan depends on (daily_scheduler.py:75-81). */
  def upsert(target: DataFrame, staged: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    staged.unionByName(
      target.join(staged.select(keyCols: _*).distinct(), keys, "left_anti"))
  }

  /** W2 — delete-matched + reload (`DELETE WHERE order_id IN (staged)`
    * then reinsert, run_logs.txt:545-573). `stagedKeys` carries the key
    * column(s) only. */
  def deleteReload(target: DataFrame, stagedRows: DataFrame, stagedKeys: DataFrame,
                   keys: Seq[String]): DataFrame =
    target.join(stagedKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(stagedRows)

  /** W3–W5 — full refresh (`TRUNCATE` + insert): trivially the staged
    * frame; kept for a uniform job registry. */
  def fullRefresh(staged: DataFrame): DataFrame = staged

  /** W7 — idempotent snapshot append: upsert on (keys..., snapshot key)
    * so a same-day re-run overwrites rather than duplicates
    * (run_logs.txt:455-461). The result is the whole snapshot table:
    * `Orchestrator` rewrites all of `inventory_snapshot` with it through
    * [[graft.sources.AtomicTableWriter]], partitioned by snapshot date. */
  def snapshotAppend(snapshots: DataFrame, todays: DataFrame, keys: Seq[String]): DataFrame =
    upsert(snapshots, todays, keys)

  /** U1 — two-store federation: union staged frames per store; degenerate
    * single-side case allowed (run_etl_with_retries.py:41-44). */
  def combineStores(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_))

  /** CDC-style snapshot diff: classify every key as insert / delete /
    * update / unchanged between two versions of a table — the change
    * feed a downstream incremental consumer (or an audit) wants from
    * two [[graft.sources.VersionedTable]] snapshots.
    *
    * Value comparison hashes each non-key column INDIVIDUALLY (md5 of
    * its string rendering, null → a reserved sentinel), then hashes
    * the fixed-width concatenation — so a data value containing the
    * separator (or a literal sentinel string vs a real NULL) can never
    * make two different rows render identically; the per-column digests
    * are constant-width hex, leaving nothing for a hostile value to
    * collide with. Each engine compares its OWN renderings, so equal
    * values always classify `unchanged` and any real change flips to
    * `update`; the hash never crosses engines. One full-outer hash
    * join on the keys, both
    * sides shuffled once; at 100 TB diff two bucketed snapshots so
    * the join is co-partitioned.
    *
    * @return keyCols ++ (op) for every key where op ≠ 'unchanged'
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(before.columns.sorted.sameElements(after.columns.sorted),
      "snapshotDiff: schemas must match")
    val dataCols = after.columns.filterNot(keyCols.contains).sorted
    def hashed(df: DataFrame, as: String) = df.select(
      keyCols.map(col) :+ md5(concat_ws("\u0001",
        dataCols.map(c => when(col(c).isNull, lit("\u0000"))
          .otherwise(md5(col(c).cast("string")))): _*))
        .as(as): _*)
    hashed(before, "__hb")
      .join(hashed(after, "__ha"), keyCols, "full_outer")
      .withColumn("op",
        when(col("__hb").isNull, "insert")
          .when(col("__ha").isNull, "delete")
          .when(col("__hb") =!= col("__ha"), "update")
          .otherwise("unchanged"))
      .filter(col("op") =!= "unchanged")
      .select(keyCols.map(col) :+ col("op"): _*)
  }
}
