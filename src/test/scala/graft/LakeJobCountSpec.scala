package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLake, LakeSql}
import graft.sources.GraftLake.MergeClause

/** Pins the number of Spark jobs each GraftLake DML entry point
  * submits for a fixed small shape: a listener counts the job starts
  * tagged with a per-call job group, and the bus is drained before the
  * count is read. The counts are a property of the plans, so a change
  * that moves one changes the physical work of that mutation and has
  * to move the pin on purpose.
  */
class LakeJobCountSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("graft-jobcount").resolve("t").toString

  /** Result of `body` and the Spark jobs it submitted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "graft-jobcount-" + java.util.UUID.randomUUID()
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count pin", interruptOnCancel = false)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, n.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Two range-disjoint sets (ids 1..100 and 101..200) with zone maps
    * on `id`; `m = id % 4`.
    */
  private def twoSets(cdf: Boolean = false): String = {
    import spark.implicits._
    val p = freshTable()
    def rows(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, i * 10, i % 4)).toDF("id", "v", "m")
    GraftLake.create(rows(1L, 100L), p, Some("id"))
    GraftLake.append(rows(101L, 200L), p, Some("id"))
    if (cdf) GraftLake.enableCdf(p)
    p
  }

  private def pin[T](key: String)(body: => T): T = {
    val (r, jobs) = jobsOf(body)
    assert(jobs == JobPins(key), s"$key job count moved: $jobs, pinned ${JobPins(key)}")
    r
  }

  test("merge (key-span pruned upsert, four k4 sets) job count") {
    import spark.implicits._
    val p = freshTable()
    val o = (1L to 400L).map(i => (i, if (i % 3 == 0) "F" else "O", i * 7, i % 4))
      .toDF("o_orderkey", "o_orderstatus", "cents", "k4")
    GraftLake.create(o.filter(col("k4") === 0), p, Some("k4"))
    (1 to 3).foreach(i => GraftLake.append(o.filter(col("k4") === i), p, Some("k4")))
    val updates = o.filter(col("k4") === 1).withColumn("cents", col("cents") * 2)
    val (_, rewritten, kept) =
      pin("merge")(GraftLake.merge(spark, p, updates, Seq("o_orderkey"), "k4"))
    assert(rewritten == 1 && kept == 3)
  }

  test("SQL DELETE ... IN (subquery) job count") {
    import spark.implicits._
    val p = freshTable()
    def rows(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, i * 3)).toDF("id", "v")
    GraftLake.create(rows(1L, 100L), p, Some("id"))
    GraftLake.append(rows(101L, 200L), p, Some("id"))
    GraftLake.append(rows(201L, 300L), p, Some("id"))
    LakeSql.register(spark, p, "jobcount_delin", "id")
    (101L to 200L).filter(_ % 10 == 3).toDF("id")
      .createOrReplaceTempView("jobcount_delin_keys")
    pin("sqlDeleteIn")(spark.sql(
      "DELETE FROM jobcount_delin WHERE id IN (SELECT id FROM jobcount_delin_keys)"))
    assert(GraftLake.lastDeleteKeysShortlist.size == 1)
    assert(GraftLake.read(spark, p).count() == 290)
  }

  test("update job count, CDF off and on") {
    Seq(false -> "update", true -> "updateCdf").foreach { case (cdf, key) =>
      val p = twoSets(cdf)
      val (_, rewritten, _, n) = pin(key)(GraftLake.update(spark, p,
        col("id") <= 50, Seq("v" -> (col("v") + 1))))
      assert(rewritten == 1 && n == 50)
    }
  }

  test("delete job count, CDF off and on, partial and emptied") {
    Seq(false -> "delete", true -> "deleteCdf").foreach { case (cdf, key) =>
      val p = twoSets(cdf)
      val (_, rewritten, _, n) =
        pin(key)(GraftLake.delete(spark, p, col("id") <= 30))
      assert(rewritten == 1 && n == 30)
    }
    val p = twoSets()
    val (_, rewritten, _, n) =
      pin("deleteRangeEmptied")(GraftLake.deleteRange(spark, p, "id", 101L, 200L))
    assert(rewritten == 1 && n == 100)
  }

  test("mergeDv job count, CDF off and on, and pure insert") {
    import spark.implicits._
    Seq(false -> "mergeDv", true -> "mergeDvCdf").foreach { case (cdf, key) =>
      val p = twoSets(cdf)
      val upd = ((41L to 59L by 2).map(i => (i, -i, 0L)) ++
        (201L to 205L).map(i => (i, i, 1L))).toDF("id", "v", "m")
      val (_, nm, ni) = pin(key)(GraftLake.mergeDv(spark, p, upd, Seq("id"), "id"))
      assert(nm == 10L && ni == 5L)
    }
    val p = twoSets()
    val ins = (301L to 305L).map(i => (i, i, 1L)).toDF("id", "v", "m")
    val (_, nm, ni) =
      pin("mergeDvInsert")(GraftLake.mergeDv(spark, p, ins, Seq("id"), "id"))
    assert(nm == 0L && ni == 5L)
  }

  test("updateDv and deleteDv job counts") {
    val p = twoSets()
    val (_, nu) = pin("updateDv")(GraftLake.updateDv(spark, p,
      col("m") === 1, Seq("v" -> lit(7L))))
    assert(nu == 50L)
    val (_, nd) = pin("deleteDv")(GraftLake.deleteDv(spark, p, col("id") <= 20))
    assert(nd == 20L)
    val pc = twoSets(cdf = true)
    pin("updateDvCdf")(GraftLake.updateDv(spark, pc,
      col("m") === 1, Seq("v" -> lit(7L))))
    pin("deleteDvCdf")(GraftLake.deleteDv(spark, pc, col("id") <= 20))
  }

  test("mergeActions, mergeActionsDv, deleteKeys and replaceWhere job counts") {
    import spark.implicits._
    val clauses = Seq(
      MergeClause("matched", "update", None, Seq("v" -> "s.v")),
      MergeClause("notMatched", "insert", None))
    val src = ((91L to 110L).map(i => (i, -i, 0L)) ++
      (201L to 203L).map(i => (i, i, 1L))).toDF("id", "v", "m")
    val pa = twoSets()
    val (_, rw, _) = pin("mergeActions")(
      GraftLake.mergeActions(spark, pa, src, Seq("id"), "id", clauses))
    assert(rw == 2)
    val pd = twoSets()
    val (_, nUpd, _, nIns) = pin("mergeActionsDv")(
      GraftLake.mergeActionsDv(spark, pd, src, Seq("id"), "id", clauses))
    assert(nUpd == 20L && nIns == 3L)
    val pdd = twoSets()
    val (_, _, nDel, _) = pin("mergeActionsDvDelete")(
      GraftLake.mergeActionsDv(spark, pdd, src.filter(col("id") <= 100), Seq("id"), "id",
        Seq(MergeClause("matched", "delete", None))))
    assert(nDel == 10L)
    val pk = twoSets()
    val (_, hit, _, nk) = pin("deleteKeys")(GraftLake.deleteKeys(spark, pk,
      (150L to 160L).toDF("id"), "id", Some("id")))
    assert(hit == 1 && nk == 11L)
    val pr = twoSets()
    val repl = (101L to 150L).map(i => (i, 0L, 0L)).toDF("id", "v", "m")
    val (_, rs, _, nr) = pin("replaceWhere")(
      GraftLake.replaceWhere(spark, pr, repl, "id", 101L, 150L))
    assert(rs == 1 && nr == 50L)
  }

  test("replaceWhere job count does not grow with the sets fully inside the range") {
    import spark.implicits._
    def repl(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, 0L, 0L)).toDF("id", "v", "m")
    val p1 = twoSets()
    val (_, rs1, _, n1) = pin("replaceWhereInside")(
      GraftLake.replaceWhere(spark, p1, repl(101L, 200L), "id", 101L, 200L))
    assert(rs1 == 1 && n1 == 100L)
    val p2 = twoSets()
    val (_, rs2, _, n2) = pin("replaceWhereInsideBoth")(
      GraftLake.replaceWhere(spark, p2, repl(1L, 200L), "id", 1L, 200L))
    assert(rs2 == 2 && n2 == 200L)
    assert(JobPins("replaceWhereInside") == JobPins("replaceWhereInsideBoth"))
  }

  test("compaction job counts: compact, compactWhere, compactZOrder, compactPartitionedBy") {
    val pc = twoSets()
    pin("compact")(GraftLake.compact(spark, pc, Seq("id"), numFiles = 2, Some("id")))
    val pw = twoSets()
    val (_, rw, _) = pin("compactWhere")(GraftLake.compactWhere(spark, pw,
      col("id") >= 1, Seq("id"), numFiles = 2, Some("id")))
    assert(rw == 2)
    val pz = twoSets()
    pin("compactZOrder")(GraftLake.compactZOrder(spark, pz, "id", "v", numFiles = 2))
    val pp = twoSets()
    pin("compactPartitionedBy")(GraftLake.compactPartitionedBy(spark, pp, Seq("m")))
    Seq(pc, pw, pz, pp).foreach(p => assert(GraftLake.read(spark, p).count() == 200L))
  }

  test("compaction job counts on Bloom-indexed sets") {
    import spark.implicits._
    def bloomSets(): String = {
      val p = freshTable()
      def evens(lo: Long, hi: Long): DataFrame =
        (lo to hi by 2).map(i => (i, i * 10, i % 4)).toDF("id", "v", "m")
      GraftLake.create(evens(2L, 100L), p, Some("id"), bloomCols = Seq("id"))
      GraftLake.append(evens(102L, 200L), p, Some("id"), bloomCols = Seq("id"))
      p
    }
    val pc = bloomSets()
    pin("compactBloom")(GraftLake.compact(spark, pc, Seq("id"), numFiles = 2, Some("id")))
    val pz = bloomSets()
    pin("compactZOrderBloom")(GraftLake.compactZOrder(spark, pz, "id", "v", numFiles = 2))
    val pp = bloomSets()
    pin("compactPartitionedByBloom")(GraftLake.compactPartitionedBy(spark, pp, Seq("m")))
    // Each pays the same Bloom sidecar build on top of its plain shape.
    assert(JobPins("compactZOrderBloom") - JobPins("compactZOrder") ==
      JobPins("compactBloom") - JobPins("compact"))
    assert(JobPins("compactPartitionedByBloom") - JobPins("compactPartitionedBy") ==
      JobPins("compactBloom") - JobPins("compact"))
  }

  /** Jobs per call, measured on local[4] with the shapes above. */
  private val JobPins: Map[String, Int] = Map(
    "merge" -> 5,
    "sqlDeleteIn" -> 8,
    "update" -> 2,
    "updateCdf" -> 2,
    "delete" -> 2,
    "deleteCdf" -> 2,
    "deleteRangeEmptied" -> 1,
    "mergeDv" -> 12,
    "mergeDvCdf" -> 15,
    "mergeDvInsert" -> 3,
    "updateDv" -> 3,
    "deleteDv" -> 3,
    "updateDvCdf" -> 4,
    "deleteDvCdf" -> 4,
    "mergeActions" -> 8,
    "mergeActionsDv" -> 11,
    "mergeActionsDvDelete" -> 10,
    "deleteKeys" -> 8,
    "replaceWhere" -> 4,
    "replaceWhereInside" -> 2,
    "replaceWhereInsideBoth" -> 2,
    "compact" -> 3,
    "compactWhere" -> 3,
    "compactZOrder" -> 5,
    "compactPartitionedBy" -> 2,
    "compactBloom" -> 5,
    "compactZOrderBloom" -> 7,
    "compactPartitionedByBloom" -> 4)
}
