package graft

import graft.relational.ChangeCapture

class ChangeCaptureSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot diff: added/deleted/changed classified, unchanged rows drop out") {
    val oldSnap = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
    val newSnap = Seq((2L, "B"), (3L, "X"), (4L, "D")).toDF("k", "v")
    val out = ChangeCapture.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("change_type")).toMap
    assert(out === Map(1L -> "deleted", 3L -> "changed", 4L -> "added"))
  }

  test("snapshot diff: digest is injective — null vs empty and shifted delimiters both surface") {
    // null → '\N' sentinel, distinct from '' → these rows are CHANGED
    val o1 = Seq((1L, Option.empty[String])).toDF("k", "v")
    val n1 = Seq((1L, Option(""))).toDF("k", "v")
    assert(ChangeCapture.snapshotDiff(o1, n1, Seq("k"), Seq("v"))
      .collect().map(_.getAs[String]("change_type")).toSeq === Seq("changed"))
    // '|' inside a value must not shift column boundaries:
    // ("x", "y|z") vs ("x|y", "z") concat differently once escaped
    val o2 = Seq((1L, "x", "y|z")).toDF("k", "a", "b")
    val n2 = Seq((1L, "x|y", "z")).toDF("k", "a", "b")
    assert(ChangeCapture.snapshotDiff(o2, n2, Seq("k"), Seq("a", "b"))
      .collect().map(_.getAs[String]("change_type")).toSeq === Seq("changed"))
    // a literal backslash-N value is NOT confused with the null sentinel
    val o3 = Seq((1L, Option("\\N"))).toDF("k", "v")
    val n3 = Seq((1L, Option.empty[String])).toDF("k", "v")
    assert(ChangeCapture.snapshotDiff(o3, n3, Seq("k"), Seq("v"))
      .collect().map(_.getAs[String]("change_type")).toSeq === Seq("changed"))
    // identical rows (including identical nulls) still drop out
    assert(ChangeCapture.snapshotDiff(o1, o1, Seq("k"), Seq("v")).count() === 0)
  }

  test("reconcile: hot_only / cold_only / drift classified, summary rates add up") {
    import graft.pipeline.Reconcile
    val hot = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val cold = Seq((2L, 20L), (3L, 99L), (4L, 40L)).toDF("k", "v")
    val d = Reconcile.diff(hot, cold, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(d === Map(1L -> "hot_only", 3L -> "drift", 4L -> "cold_only"))
    val s = Reconcile.summary(hot, cold, Seq("k"), Seq("v")).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5))
      === ((3L, 3L, 1L, 1L, 1L, 1L)))
    assert(math.abs(s.getDouble(6) - 1.0 / 3) < 1e-12)
  }

  test("scd2: runs collapse (nulls included), intervals chain, last is current") {
    val events = Seq(
      ("s", Option(10), 1L), ("s", Option(10), 2L), ("s", Option(20), 3L),
      ("s", Option.empty[Int], 4L), ("s", Option.empty[Int], 5L), ("s", Option(10), 6L),
      ("t", Option(7), 1L)
    ).toDF("key", "doc", "ts")
    val out = ChangeCapture.scd2Intervals(events, "key", "doc", "ts")
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2),
        Option(r.get(3)), r.getBoolean(4)))
      .sortBy(r => (r._1, r._3))
    assert(out.toSeq === Seq(
      ("s", Some(10), 1L, Some(3L), false),
      ("s", Some(20), 3L, Some(4L), false),
      ("s", None, 4L, Some(6L), false),
      ("s", Some(10), 6L, None, true),
      ("t", Some(7), 1L, None, true)))
  }
}
