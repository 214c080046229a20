package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake
import graft.sources.GraftLake.MergeClause

/** Flexible MERGE actions (computed SET, matched DELETE, conditional
  * INSERT, NOT MATCHED BY SOURCE) over the one lake write path.
  */
class MergeActionsSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("graft-macts").resolve("t").toString

  private def rows(path: String): Set[(Long, Long, Long)] =
    GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("computed SET, matched DELETE, conditional INSERT, by-source DELETE compose") {
    import spark.implicits._
    val path = freshTable()
    val base = (1L to 12L).map(i => (i, i % 3, i * 10)).toDF("id", "grp", "v")
    GraftLake.create(base, path, Some("id"))
    val src = (9L to 16L).map(i => (i, i * 100)).toDF("id", "sv")
    val (_, rewritten, _) = GraftLake.mergeActions(spark, path, src,
      Seq("id"), "id", Seq(
        MergeClause("matched", "update", Some("s.sv >= 1100"),
          Seq("v" -> "t.v + s.sv")),
        MergeClause("matched", "delete", None),
        MergeClause("notMatched", "insert", Some("s.id % 2 = 0"),
          Seq("id" -> "s.id", "grp" -> "-1", "v" -> "s.sv")),
        MergeClause("bySource", "delete", Some("t.grp = 0"))))
    assert(rewritten >= 1)
    // matched 9..12: 9,10 fail the update cond -> DELETE; 11,12 update
    // v (grp passes through untouched). target-only grp==0 (3,6)
    // deleted by the by-source clause; source-only evens (14,16)
    // insert with grp=-1; odds (13,15) match no clause and drop.
    val expected = Set(
      (1L, 1L, 10L), (2L, 2L, 20L), (4L, 1L, 40L), (5L, 2L, 50L),
      (7L, 1L, 70L), (8L, 2L, 80L),
      (11L, 2L, 110L + 1100L), (12L, 0L, 120L + 1200L),
      (14L, -1L, 1400L), (16L, -1L, 1600L))
    assert(rows(path) == expected)
  }

  test("star UPDATE / star INSERT match the canonical merge; assignment case-insensitive") {
    import spark.implicits._
    val pathA = freshTable()
    val pathB = freshTable()
    val base = (1L to 10L).map(i => (i, i % 2, i * 10)).toDF("id", "grp", "v")
    GraftLake.create(base, pathA, Some("id"))
    GraftLake.create(base, pathB, Some("id"))
    val src = (6L to 13L).map(i => (i, 9L, i * 1000)).toDF("id", "grp", "v")
    GraftLake.merge(spark, pathA, src, Seq("id"), "id")
    GraftLake.mergeActions(spark, pathB, src, Seq("id"), "id", Seq(
      MergeClause("matched", "update", None, Seq.empty),
      MergeClause("notMatched", "insert", None, Seq.empty)))
    assert(rows(pathA) == rows(pathB))
    // Mixed-case assignment targets canonicalize to the table column.
    val pathC = freshTable()
    GraftLake.create(base, pathC, Some("id"))
    GraftLake.mergeActions(spark, pathC, src.select(col("id")), Seq("id"),
      "id", Seq(MergeClause("matched", "update", None, Seq("V" -> "0"))))
    assert(rows(pathC).filter(_._1 >= 6).forall(_._3 == 0L))
  }

  test("duplicate source keys reject only when they match a target row") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create(
      (1L to 5L).map(i => (i, 0L, i)).toDF("id", "grp", "v"), path, Some("id"))
    val clauses = Seq(
      MergeClause("matched", "update", None, Seq("v" -> "s.sv")),
      MergeClause("notMatched", "insert", None,
        Seq("id" -> "s.id", "grp" -> "0", "v" -> "s.sv")))
    // Dup key 3 matches target row 3 -> ambiguous, loud error.
    val dupMatched = Seq((3L, 30L), (3L, 31L)).toDF("id", "sv")
    intercept[IllegalArgumentException] {
      GraftLake.mergeActions(spark, path, dupMatched, Seq("id"), "id", clauses)
    }
    // Dup key 99 matches nothing -> both rows legally insert.
    val dupInsert = Seq((99L, 1L), (99L, 2L)).toDF("id", "sv")
    GraftLake.mergeActions(spark, path, dupInsert, Seq("id"), "id", clauses)
    assert(GraftLake.read(spark, path).filter(col("id") === 99).count() == 2)
  }

  test("matched-only merges zone-prune; insert-only merges rewrite nothing") {
    import spark.implicits._
    val path = freshTable()
    val mk = (lo: Long, hi: Long) =>
      (lo to hi).map(i => (i, 0L, i)).toDF("id", "grp", "v")
    GraftLake.create(mk(1, 100), path, Some("id"))
    (1 to 3).foreach(b =>
      GraftLake.append(mk(b * 100 + 1, b * 100 + 100), path, Some("id")))
    // Matched-only: source span sits inside set 2 -> exactly 1 rewrite.
    val upd = Seq((150L, 7L)).toDF("id", "sv")
    val (_, r1, k1) = GraftLake.mergeActions(spark, path, upd, Seq("id"),
      "id", Seq(MergeClause("matched", "update", None, Seq("v" -> "s.sv"))))
    assert(r1 == 1 && k1 == 3)
    assert(GraftLake.read(spark, path).filter(col("id") === 150)
      .head.getLong(2) == 7L)
    // Insert-only: no rewrite, but the anti-join still sees existing
    // keys (200 exists -> dropped; 999 inserts).
    val ins = Seq((200L, 1L), (999L, 2L)).toDF("id", "sv")
    val before = GraftLake.snapshot(path).live.map(_.set).toSet
    val (_, r2, _) = GraftLake.mergeActions(spark, path, ins, Seq("id"),
      "id", Seq(MergeClause("notMatched", "insert", None,
        Seq("id" -> "s.id", "grp" -> "1", "v" -> "s.sv"))))
    assert(r2 == 0)
    assert(before.subsetOf(GraftLake.snapshot(path).live.map(_.set).toSet))
    val got = GraftLake.read(spark, path)
      .filter(col("id").isin(200L, 999L)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == Set((200L, 200L), (999L, 2L)))
  }

  test("CDF images: update pre/post, delete, insert, all in one sidecar") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create(
      (1L to 6L).map(i => (i, i % 2, i * 10)).toDF("id", "grp", "v"),
      path, Some("id"))
    GraftLake.enableCdf(path)
    val v0 = GraftLake.snapshot(path).version
    val src = Seq((5L, 500L), (6L, 600L), (7L, 700L)).toDF("id", "sv")
    GraftLake.mergeActions(spark, path, src, Seq("id"), "id", Seq(
      MergeClause("matched", "update", Some("s.id = 5"),
        Seq("v" -> "s.sv")),
      MergeClause("matched", "delete", None),
      MergeClause("notMatched", "insert", None,
        Seq("id" -> "s.id", "grp" -> "3", "v" -> "s.sv")),
      MergeClause("bySource", "delete", Some("t.id = 1"))))
    val feed = GraftLake.changesTyped(spark, path, v0)
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // id 5 updates (pre+post), id 6 matched-deletes, id 1 by-source
    // deletes, id 7 inserts.
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 2L, "insert" -> 1L))
    val post = feed.filter(col("_change_type") === "update_postimage").head
    assert(post.getLong(0) == 5L && post.getLong(2) == 500L)
    val deleted = feed.filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(deleted == Set(1L, 6L))
  }

  test("NULL-evaluating clause conditions mean NOT-satisfied, never delete") {
    import spark.implicits._
    val path = freshTable()
    // flag is nullable on both sides; SQL/Delta treat a NULL clause
    // condition as not-satisfied — a NULL must neither delete the row
    // nor poison the first-match chain for later clauses.
    val base = Seq(
      (1L, None: Option[Long], 10L), (2L, Some(1L), 20L),
      (3L, Some(0L), 30L), (4L, None: Option[Long], 40L),
      (5L, Some(1L), 50L)).toDF("id", "flag", "v")
    GraftLake.create(base, path, Some("id"))
    val src = Seq(
      (1L, None: Option[Long]), (2L, Some(1L)), (3L, Some(0L)))
      .toDF("id", "sflag")
    GraftLake.mergeActions(spark, path, src, Seq("id"), "id", Seq(
      // id=2 (sflag=1) deletes; id=1 (NULL) and id=3 (0) must NOT.
      MergeClause("matched", "delete", Some("s.sflag = 1")),
      // ...and must still reach this later unconditional update.
      MergeClause("matched", "update", None, Seq("v" -> "t.v + 1000")),
      // target-only id=4 has flag NULL: by-source NULL condition must
      // not delete it; id=5 (flag=1) legitimately deletes.
      MergeClause("bySource", "delete", Some("t.flag = 1"))))
    val got = GraftLake.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1010L, 3L -> 1030L, 4L -> 40L))
  }

  test("the merge join executes once: fan-out consumers read the checkpointed frame") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create(
      (1L to 10L).map(i => (i, i % 2, i * 10)).toDF("id", "grp", "v"),
      path, Some("id"))
    GraftLake.enableCdf(path) // all 6 consumers in play
    val src = Seq((5L, 500L), (11L, 1100L)).toDF("id", "sv")
    // Every query execution the merge runs, by its optimized plan: the
    // full-outer join must appear in exactly one — the checkpoint that
    // materializes it. A consumer (survivors, inserts, CDF images)
    // re-deriving the join would be a second.
    val joinRuns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.collect {
            case j: Join if j.joinType == FullOuter => j
          }.nonEmpty) joinRuns.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      GraftLake.mergeActions(spark, path, src, Seq("id"), "id", Seq(
        MergeClause("matched", "update", None, Seq("v" -> "s.sv")),
        MergeClause("notMatched", "insert", None,
          Seq("id" -> "s.id", "grp" -> "9", "v" -> "s.sv"))))
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(joinRuns.size == 1, s"full-outer join executions: $joinRuns")
    // And the merge itself still landed correctly.
    val got = GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got(5L) == 500L && got(11L) == 1100L && got.size == 11)
  }

  test("clause validation: bad shapes fail loudly") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create(Seq((1L, 1L, 1L)).toDF("id", "grp", "v"), path, Some("id"))
    val src = Seq((1L, 2L)).toDF("id", "sv")
    // by-source star update has no source row to copy from.
    intercept[IllegalArgumentException] {
      GraftLake.mergeActions(spark, path, src, Seq("id"), "id",
        Seq(MergeClause("bySource", "update", None, Seq.empty)))
    }
    // matched insert is not a thing.
    intercept[IllegalArgumentException] {
      GraftLake.mergeActions(spark, path, src, Seq("id"), "id",
        Seq(MergeClause("matched", "insert", None, Seq.empty)))
    }
    // assignment to an unknown column.
    intercept[IllegalArgumentException] {
      GraftLake.mergeActions(spark, path, src, Seq("id"), "id",
        Seq(MergeClause("matched", "update", None, Seq("nope" -> "1"))))
    }
    // star update with a source missing target columns.
    intercept[IllegalArgumentException] {
      GraftLake.mergeActions(spark, path, src, Seq("id"), "id",
        Seq(MergeClause("matched", "update", None, Seq.empty)))
    }
  }
}
