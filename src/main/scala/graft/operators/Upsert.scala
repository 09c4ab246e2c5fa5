package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert plans (SURVEY §2.1 S9-S11, §2.3 J1-J3), expressed as DataFrame
  * compositions so Catalyst picks the physical join strategy (broadcast
  * hash when the key side is small, shuffle hash / sort-merge otherwise;
  * AQE may switch at runtime).
  *
  * These produce the post-merge state functionally. Tables commit it
  * through [[graft.sources.TxLogTable]], graft's transactional format
  * with real MERGE, or through [[graft.sources.ParquetTable]]'s staged
  * overwrite and insert-only commit.
  */
object Upsert {

  /** Insert-ignore: `INSERT ... ON CONFLICT (key) DO NOTHING`
    * (`monthly_price_paid_data.py:153`) = `target` plus [[newRows]].
    * This frame is the spec oracle; tables commit through
    * [[graft.sources.ParquetTable.insertIgnore]] (or
    * [[graft.sources.TxLogTable.insertIgnore]]), which write only the
    * new rows instead of rewriting `target`.
    */
  def insertIgnore(
      target: DataFrame,
      updates: DataFrame,
      key: Seq[String],
      broadcastTarget: Boolean = false): DataFrame =
    target.unionByName(newRows(target, updates, key, broadcastTarget))

  /** Rows of `updates` whose key is absent from `target`, in `target`'s
    * column order. Dedups updates on the key first: one row per key
    * (including one null-keyed row, which never conflicts).
    *
    * Scale note: the anti-join shuffles both sides on the key unless the
    * target's key projection broadcasts; pass `broadcastTarget=true` when
    * the target key set fits in the driver-configured broadcast threshold.
    */
  def newRows(
      target: DataFrame,
      updates: DataFrame,
      key: Seq[String],
      broadcastTarget: Boolean = false): DataFrame = {
    // no distinct(): a left-anti join drops the same rows whether or
    // not the key side repeats a key, and skipping it saves a shuffle
    val targetKeys0 = target.select(key.map(col): _*)
    val targetKeys = if (broadcastTarget) broadcast(targetKeys0) else targetKeys0
    updates
      .dropDuplicates(key)
      .join(targetKeys, key, "left_anti")
      .select(target.columns.map(col).toSeq: _*)
  }

  /** Merge-by-key, latest-wins: `ON CONFLICT (key) DO UPDATE SET ...`
    * (`pull_new_sales_list.py:252-264`). Union target+updates, keep the
    * single row per key that sorts first by `precedence` (e.g.
    * `desc("updated_date")` — ties MUST be broken deterministically by
    * the caller via extra precedence columns).
    */
  def mergeByKey(
      target: DataFrame,
      updates: DataFrame,
      key: Seq[String],
      precedence: Seq[Column]): DataFrame = {
    val unioned = target.unionByName(updates.select(target.columns.map(col).toSeq: _*))
    val w = Window.partitionBy(key.map(col): _*).orderBy(precedence: _*)
    unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keyed update with case-normalized key (`rightmove_outcodes.py:63`:
    * `WHERE lower(outcode) = lower(%s)`): rows of `target` get `setCols`
    * overwritten from `updates` when keys match case-insensitively;
    * unmatched target rows pass through, unmatched updates are dropped
    * (UPDATE semantics, not upsert).
    */
  def updateByNormalizedKey(
      target: DataFrame,
      updates: DataFrame,
      key: String,
      setCols: Seq[String]): DataFrame = {
    val norm = (c: Column) => lower(trim(c))
    val u = updates
      .dropDuplicates(key)
      .select(norm(col(key)).as("__k") +: setCols.map(c => col(c).as(s"__u_$c")): _*)
    val joined = target.join(u, norm(target(key)) === col("__k"), "left")
    val replaced = target.columns.toSeq.map { c =>
      if (setCols.contains(c))
        when(col("__k").isNotNull, col(s"__u_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    joined.select(replaced: _*)
  }
}
