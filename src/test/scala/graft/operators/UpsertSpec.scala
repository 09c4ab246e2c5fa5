package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** S9/S10/S11 upsert semantics: replay idempotency, latest-wins,
  * case-normalized keyed update (SURVEY §5 test plan).
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def sales(rows: (String, Boolean, Long, Long)*) =
    rows.toDF("property_id", "is_processed", "created_date", "updated_date")

  test("insertIgnore: existing key kept, new key appended, replay idempotent") {
    val target = sales(("p1", true, 20240101L, 20240101L))
    val updates = sales(
      ("p1", false, 20240501L, 20240501L), // conflict → ignored
      ("p2", false, 20240501L, 20240501L)) // new → inserted
    val once = Upsert.insertIgnore(target, updates, Seq("property_id"))
    val rows = once.orderBy("property_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("updated_date") == 20240101L) // p1 untouched
    val twice = Upsert.insertIgnore(once, updates, Seq("property_id"))
    assert(twice.orderBy("property_id").collect().toSeq == rows.toSeq)
  }

  test("insertIgnore: duplicate and null target keys give the distinct-key plan's result") {
    val target = Seq(
      (Some("p1"), 1L), (Some("p1"), 2L), // duplicate key
      (None, 3L), (None, 4L))             // null keys
      .toDF("property_id", "updated_date")
    val updates = Seq(
      (Some("p1"), 10L), (Some("p2"), 11L), (None, 12L))
      .toDF("property_id", "updated_date")
    val key = Seq("property_id")
    // the plan before the distinct() was dropped from the key side
    val distinctKeys = target.select(key.map(col): _*).distinct()
    val old = target.unionByName(
      updates.dropDuplicates(key).join(distinctKeys, key, "left_anti")
        .select(target.columns.map(col).toSeq: _*))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getLong(1))).sortBy(_.toString).toSeq
    Seq(false, true).foreach { b =>
      val got = rows(Upsert.insertIgnore(target, updates, key, broadcastTarget = b))
      assert(got == rows(old))
      // p2 and the null-keyed update are new; p1 is a conflict
      assert(got.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 11L, 12L))
    }
  }

  test("mergeByKey: later updated_date wins, replay idempotent") {
    val target = sales(("p1", false, 20240101L, 20240101L))
    val updates = sales(("p1", false, 20240101L, 20240601L))
    val merged = Upsert.mergeByKey(target, updates, Seq("property_id"),
      Seq(col("updated_date").desc))
    assert(merged.collect().head.getAs[Long]("updated_date") == 20240601L)
    val again = Upsert.mergeByKey(merged, updates, Seq("property_id"),
      Seq(col("updated_date").desc))
    assert(again.collect().toSeq == merged.collect().toSeq)
  }

  test("updateByNormalizedKey: lower(trim) match updates only set columns") {
    val target = Seq(("OX1", 0L, "old", 1L), ("OX2", 0L, "keep", 2L))
      .toDF("outcode", "area_id", "display_name", "last_updated_sale")
    val updates = Seq((" ox1 ", 42L, "Oxford Central"))
      .toDF("outcode", "area_id", "display_name")
    val out = Upsert.updateByNormalizedKey(target, updates, "outcode",
      Seq("area_id", "display_name"))
    val m = out.collect().map(r => r.getAs[String]("outcode") ->
      (r.getAs[Long]("area_id"), r.getAs[String]("display_name"),
        r.getAs[Long]("last_updated_sale"))).toMap
    assert(m("OX1") == ((42L, "Oxford Central", 1L))) // updated, untouched col kept
    assert(m("OX2") == ((0L, "keep", 2L)))            // unmatched row unchanged
  }

  test("workqueue sentinels: null-or-zero and stale-or-never") {
    val areas = Seq(("a", Some(5L)), ("b", None), ("c", Some(0L)))
      .toDF("outcode", "area_id")
    val eligible = areas.filter(WorkQueue.nullOrZero("area_id"))
      .select("outcode").as[String].collect().toSet
    assert(eligible == Set("b", "c"))
  }
}
