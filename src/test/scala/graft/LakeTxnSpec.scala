package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake

/** Cross-table transactions: all-or-nothing visibility through the
  * coordinator marker, abort cleanup, the pre-marker death window
  * (pending → operator decision), streaming-offset stalls, checkpoint
  * refusal, and the feature refusals.
  */
class LakeTxnSpec extends AnyFunSuite with SparkSpec {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft-txn-$tag").resolve("t").toString

  private def mk(n: Int, from: Int = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"r$i")).toDF("id", "tag")
  }

  test("appendAtomic lands on every table or none") {
    val a = fresh("a"); val b = fresh("b")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    val Seq(va, vb) = GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(7, 200), b)))
    assert(va == 1 && vb == 1)
    assert(GraftLake.read(spark, a).count() == 15)
    assert(GraftLake.read(spark, b).count() == 17)
    // committed txn commits read as ordinary appends in history
    val h = GraftLake.history(spark, a).collect().map(r => r.getString(1))
    assert(h.toSeq == Seq("create", "append"))
    // later plain appends build on top normally
    GraftLake.append(mk(3, 300), a)
    assert(GraftLake.read(spark, a).count() == 18)
  }

  test("a failing participant aborts the WHOLE transaction; tables stay unchanged") {
    val a = fresh("a2"); val b = fresh("b2")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    GraftLake.addConstraint(spark, b, "small_ids", "id < 50")
    val e = intercept[Exception](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 100), b)))) // violates b's CHECK
    assert(e.getMessage.toLowerCase.contains("small_ids") ||
      e.getMessage.toLowerCase.contains("check"))
    // table a's provisional commit is a permanent no-op: content
    // unchanged, version slot consumed, later writes fine
    assert(GraftLake.read(spark, a).count() == 10)
    assert(GraftLake.read(spark, b).count() == 10)
    assert(GraftLake.latestVersion(a) == 1) // the no-op slot
    val acts = GraftLake.history(spark, a).collect().map(_.getString(1))
    assert(acts.toSeq == Seq("create", "txnnoop"))
    GraftLake.append(mk(2, 500), a)
    assert(GraftLake.read(spark, a).count() == 12)
    // the aborted staged set was reclaimed from disk (best-effort)
    val dataDirs = Files.list(Paths.get(a, "data")).count()
    assert(dataDirs == 2, s"expected 2 live set dirs, got $dataDirs")
    // the no-op slot never poisons incremental readers
    assert(GraftLake.changesSince(spark, a, -1).count() == 12)
  }

  test("coordinator death pre-marker leaves the txn PENDING: invisible, stalls streams, blocks checkpoints — until decided") {
    val a = fresh("a3"); val b = fresh("b3")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    // fatal error right before the marker = the in-process crash model
    GraftLake.beforeTxnMarkerHook.set(Some(() =>
      throw new InterruptedException("coordinator died")))
    intercept[InterruptedException](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 200), b))))
    val token = GraftLake.lastTxnToken.get
    // invisible on BOTH tables
    assert(GraftLake.read(spark, a).count() == 10)
    assert(GraftLake.read(spark, b).count() == 10)
    // streaming offsets stall just below the pending commit
    assert(GraftLake.latestVersion(a) == 1)
    assert(GraftLake.latestStableVersion(a) == 0)
    assert(GraftLake.latestStableVersion(b) == 0)
    // checkpoints refuse to bake an undecided commit
    val ce = intercept[IllegalArgumentException](GraftLake.checkpoint(a))
    assert(ce.getMessage.contains("pending cross-table transaction"))
    // incremental feeds refuse a pending commit (skipping would lose
    // its rows forever if the transaction later commits)
    val pe = intercept[IllegalStateException](
      GraftLake.changesSince(spark, a, -1))
    assert(pe.getMessage.contains("PENDING cross-table transaction"))
    // operator decision: COMMIT — both tables gain their rows at once
    GraftLake.commitTxn(token)
    assert(GraftLake.read(spark, a).count() == 15)
    assert(GraftLake.read(spark, b).count() == 15)
    assert(GraftLake.latestStableVersion(a) == 1)
    GraftLake.checkpoint(a) // now allowed
    assert(GraftLake.read(spark, a).count() == 15)
    // deciding the other way refuses
    val de = intercept[IllegalArgumentException](GraftLake.abortTxn(token))
    assert(de.getMessage.contains("already decided"))
    GraftLake.commitTxn(token) // idempotent
    // the decision was CACHED LOCALLY on first read: participants
    // outlive the coordinator's marker (relocation/deletion)
    val i = token.lastIndexOf('|')
    Files.delete(Paths.get(token.take(i), s"txn_${token.substring(i + 1)}.decided"))
    assert(GraftLake.read(spark, a).count() == 15)
    assert(GraftLake.read(spark, b).count() == 15)
  }

  test("a pending transaction's claims outlive later commits: DDL still waits for the decision") {
    val a = fresh("a9"); val b = fresh("b9")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    GraftLake.beforeTxnMarkerHook.set(Some(() =>
      throw new InterruptedException("coordinator died")))
    intercept[InterruptedException](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 200), b))))
    val token = GraftLake.lastTxnToken.get
    GraftLake.append(mk(3, 300), a) // an ordinary commit after the pending one
    assert(GraftLake.snapshot(a).pendingTxn)
    intercept[java.util.ConcurrentModificationException](
      GraftLake.addConstraint(spark, a, "nonneg", "id >= 0"))
    GraftLake.abortTxn(token)
    GraftLake.addConstraint(spark, a, "nonneg", "id >= 0")
    assert(GraftLake.read(spark, a).count() == 13)
  }

  test("a corrupt (empty/garbage) decision marker refuses loudly — never silently not-committed") {
    val a = fresh("a6"); val b = fresh("b6")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    GraftLake.beforeTxnMarkerHook.set(Some(() =>
      throw new InterruptedException("coordinator died")))
    intercept[InterruptedException](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 200), b))))
    val token = GraftLake.lastTxnToken.get
    val i = token.lastIndexOf('|')
    val marker = Paths.get(token.take(i), s"txn_${token.substring(i + 1)}.decided")
    // the torn-write artifact an atomic publisher can never produce:
    // a marker that exists with content that is neither decision
    Files.writeString(marker, "")
    val e1 = intercept[IllegalArgumentException](
      GraftLake.read(spark, b).count())
    assert(e1.getMessage.contains("corrupt txn decision marker"))
    Files.writeString(marker, "commit")  // partial content, same refusal
    val e2 = intercept[IllegalArgumentException](
      GraftLake.read(spark, b).count())
    assert(e2.getMessage.contains("corrupt txn decision marker"))
    // commitTxn/abortTxn also refuse (the marker exists) rather than
    // misreading it — the operator repairs by removing the bad marker
    val e3 = intercept[IllegalArgumentException](GraftLake.commitTxn(token))
    assert(e3.getMessage.contains("corrupt txn decision marker"))
    Files.delete(marker)
    GraftLake.commitTxn(token)  // recovery path: decide normally
    assert(GraftLake.read(spark, a).count() == 15)
    assert(GraftLake.read(spark, b).count() == 15)
  }

  test("vacuum reclaims the sets of an ABORTED txn the cleanup missed") {
    val a = fresh("a5"); val b = fresh("b5")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    // coordinator dies pre-marker: staged sets stay on disk
    GraftLake.beforeTxnMarkerHook.set(Some(() =>
      throw new InterruptedException("coordinator died")))
    intercept[InterruptedException](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 200), b))))
    val token = GraftLake.lastTxnToken.get
    assert(Files.list(Paths.get(a, "data")).count() == 2) // live + orphan
    // PENDING: vacuum must NOT touch the undecided set
    assert(GraftLake.vacuum(a).isEmpty)
    assert(Files.list(Paths.get(a, "data")).count() == 2)
    // decided ABORTED: the orphan is reclaimable
    GraftLake.abortTxn(token)
    val swept = GraftLake.vacuum(a)
    assert(swept.size == 1, s"expected 1 reclaimed set, got $swept")
    assert(Files.list(Paths.get(a, "data")).count() == 1)
    assert(GraftLake.read(spark, a).count() == 10)
  }

  test("two racing transactions over the same tables both land; claim loop orders them") {
    val a = fresh("a6"); val b = fresh("b6")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until 2).map { i =>
      new Thread(() =>
        try GraftLake.appendAtomic(Seq(
          (mk(3, 1000 + 100 * i), a), (mk(4, 2000 + 100 * i), b)))
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racing transactions failed: ${errs.toArray.toSeq}")
    assert(GraftLake.read(spark, a).count() == 16)
    assert(GraftLake.read(spark, b).count() == 18)
    assert(GraftLake.latestVersion(a) == 2 && GraftLake.latestVersion(b) == 2)
  }

  test("a late-decided transaction is visible through time travel at its original version") {
    val a = fresh("a7"); val b = fresh("b7")
    GraftLake.create(mk(10), a)
    GraftLake.create(mk(10), b)
    GraftLake.beforeTxnMarkerHook.set(Some(() =>
      throw new InterruptedException("coordinator died")))
    intercept[InterruptedException](GraftLake.appendAtomic(Seq(
      (mk(5, 100), a), (mk(5, 200), b))))
    val token = GraftLake.lastTxnToken.get
    GraftLake.append(mk(2, 300), a) // lands on top of the pending slot
    assert(GraftLake.readAt(spark, a, 1).count() == 10) // pending = no-op
    assert(GraftLake.readAt(spark, a, 2).count() == 12)
    GraftLake.commitTxn(token)
    // the decision back-fills the ORIGINAL version slot — snapshots at
    // or past it gain the rows on the next read
    assert(GraftLake.readAt(spark, a, 1).count() == 15)
    assert(GraftLake.readAt(spark, a, 2).count() == 17)
    assert(GraftLake.read(spark, a).count() == 17)
  }

  test("refusals: <2 tables, duplicates, uncreated, CDF, row tracking") {
    val a = fresh("a4"); val b = fresh("b4")
    GraftLake.create(mk(5), a)
    intercept[IllegalArgumentException](
      GraftLake.appendAtomic(Seq((mk(1), a))))
    intercept[IllegalArgumentException](
      GraftLake.appendAtomic(Seq((mk(1), a), (mk(1), a))))
    intercept[IllegalArgumentException](
      GraftLake.appendAtomic(Seq((mk(1), a), (mk(1), b)))) // b uncreated
    GraftLake.create(mk(5), b)
    GraftLake.enableCdf(b)
    val e = intercept[IllegalArgumentException](
      GraftLake.appendAtomic(Seq((mk(1), a), (mk(1), b))))
    assert(e.getMessage.contains("CDF"))
    val c = fresh("c4")
    GraftLake.create(mk(5), c)
    GraftLake.enableRowTracking(c)
    val e2 = intercept[IllegalArgumentException](
      GraftLake.appendAtomic(Seq((mk(1), a), (mk(1), c))))
    assert(e2.getMessage.contains("row-tracking"))
  }
}
