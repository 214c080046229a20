package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake

/** `lastDeleteKeysShortlist` is read back as a flag by the thread that
  * just ran a `deleteKeys` (the SQL DELETE ... IN gate), while other
  * threads run their own key deletes on other tables — concurrent
  * gates in the verify pool, or a streaming `foreachBatch`. Each
  * thread must read its own call's shortlist.
  */
class LakeShortlistThreadSpec extends AnyFunSuite with SparkSpec {

  private def threeSets(): String = {
    import spark.implicits._
    val p = Files.createTempDirectory("graft-shortlist").resolve("t").toString
    def rows(lo: Long, hi: Long): DataFrame =
      (lo to hi).map(i => (i, i * 2)).toDF("id", "v")
    GraftLake.create(rows(1L, 100L), p, Some("id"))
    GraftLake.append(rows(101L, 200L), p, Some("id"))
    GraftLake.append(rows(201L, 300L), p, Some("id"))
    p
  }

  test("a concurrent deleteKeys on another table does not overwrite this thread's shortlist") {
    import spark.implicits._
    val pa = threeSets()
    val pb = threeSets()
    val aDone = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    @volatile var ownA: Seq[String] = Seq.empty
    @volatile var seenByA: Seq[String] = Seq.empty
    @volatile var failure: Option[Throwable] = None
    val a = new Thread(() =>
      try {
        // One key in the first set: the shortlist is that set alone.
        GraftLake.deleteKeys(spark, pa, Seq(50L).toDF("id"), "id")
        ownA = GraftLake.lastDeleteKeysShortlist
        aDone.countDown()
        assert(bDone.await(120, TimeUnit.SECONDS), "thread B never finished")
        seenByA = GraftLake.lastDeleteKeysShortlist
      } catch { case t: Throwable => failure = Some(t); aDone.countDown() })
    val b = new Thread(() =>
      try {
        assert(aDone.await(120, TimeUnit.SECONDS), "thread A never finished")
        // Keys spanning two sets of another table: a different shortlist.
        GraftLake.deleteKeys(spark, pb, Seq(150L, 250L).toDF("id"), "id")
        assert(GraftLake.lastDeleteKeysShortlist.size == 2)
      } catch { case t: Throwable => failure = Some(t) }
      finally bDone.countDown())
    a.start(); b.start()
    a.join(); b.join()
    failure.foreach(throw _)
    assert(ownA.size == 1)
    assert(seenByA == ownA,
      s"thread A read another thread's shortlist: $seenByA, its own was $ownA")
  }
}
