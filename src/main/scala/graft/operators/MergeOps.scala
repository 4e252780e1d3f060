package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge engine (SURVEY §2.8 W1–W7) re-expressed as DataFrame
  * composition: keep-latest dedup, upsert (W1, W6, and W7 keyed on
  * `(sku, snapshot_date)`), delete-reload (W2) and the two-store union.
  * No Delta/Iceberg jars are present, so MERGE is emulated as
  * `staged ∪ (target ⟕anti staged)`. These functions only build the
  * merged frame; [[PartitionedMerge]] applies them to the touched
  * partitions of a gold table and overwrites just those. The
  * full-refresh tables (W3–W5) need no merge: their staged frame
  * replaces the table through [[graft.sources.AtomicTableWriter]].
  *
  * Scale notes (100 TB): the anti-join reads the touched partitions
  * only (SURVEY §7.6). A staged key set under
  * `spark.sql.autoBroadcastJoinThreshold` (10 MB) is broadcast into it
  * when the query is planned — the bucketed merge's plan shows
  * `BroadcastHashJoin LeftAnti BuildRight` over the persisted batch — so
  * the target is not shuffled. A larger key set shuffles both sides by
  * the merge key once (sort-merge), which AQE may still turn into a
  * broadcast at run time.
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

  /** U1 — two-store federation: union staged frames per store; degenerate
    * single-side case allowed (run_etl_with_retries.py:41-44). */
  def combineStores(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_))

  /** CDC-style snapshot diff: classify every key as insert / delete /
    * update / unchanged between two versions of a table — the change
    * feed a downstream incremental consumer (or an audit) wants from
    * two snapshots of a table.
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
