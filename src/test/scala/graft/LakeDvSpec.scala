package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake

/** Positional deletion vectors (merge-on-read DELETE for any
  * predicate): the full lifecycle — mask-at-scan semantics, zero
  * rewrite, append-after-delete visibility, stacking, fences,
  * compact materialization, vacuum, CDF, and composition with key
  * tombstones.
  */
class LakeDvSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("graft-dv").resolve("t").toString

  private def dataFiles(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    GraftLake.snapshot(path).live.map(_.set).flatMap { set =>
      Files.list(java.nio.file.Paths.get(path, set)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet"))
    }.toSet
  }

  test("deleteDv masks exactly the predicate rows: zero rewrite, no key column needed") {
    import spark.implicits._
    val path = freshTable()
    // Duplicate values everywhere — no unique key exists, which is
    // the case key tombstones cannot serve.
    val df1 = (1L to 50L).map(i => (i % 5, s"g${i % 3}", i)).toDF("k", "tag", "v")
    val df2 = (51L to 100L).map(i => (i % 5, s"g${i % 3}", i)).toDF("k", "tag", "v")
    GraftLake.create(df1, path)
    GraftLake.append(df2, path)
    val liveBefore = GraftLake.snapshot(path).live.map(_.set).toSet
    val filesBefore = dataFiles(path)
    val hit = GraftLake.read(spark, path).filter(col("tag") === "g1").count()
    val (_, n) = GraftLake.deleteDv(spark, path, col("tag") === "g1")
    assert(n == hit && n > 0)
    // Logically gone, physically untouched: same live sets, same files.
    assert(GraftLake.read(spark, path).filter(col("tag") === "g1").count() == 0)
    assert(GraftLake.read(spark, path).count() == 100 - hit)
    assert(GraftLake.snapshot(path).live.map(_.set).toSet == liveBefore)
    assert(dataFiles(path) == filesBefore)
    assert(GraftLake.snapshot(path).tombstones.size == 1)
    // NULL predicate keeps the row (SQL DELETE semantics).
    val (_, n2) = GraftLake.deleteDv(spark, path,
      when(col("v") < 3, lit(null).cast("boolean")).otherwise(lit(false)))
    assert(n2 == 0L)
    // Time travel to pre-delete still shows everything.
    assert(GraftLake.readAt(spark, path, 1).count() == 100)
  }

  test("rows appended after a DV stay visible even when they match the predicate") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 40L).map(i => (i, i % 4)).toDF("id", "m"), path)
    val (_, n) = GraftLake.deleteDv(spark, path, col("m") === 0)
    assert(n == 10)
    // Position identity, not value identity: the SAME values come back.
    GraftLake.append(Seq((100L, 0L), (101L, 0L)).toDF("id", "m"), path)
    val visible = GraftLake.read(spark, path).filter(col("m") === 0)
      .collect().map(_.getLong(0)).toSet
    assert(visible == Set(100L, 101L))
    assert(GraftLake.read(spark, path).count() == 32)
  }

  test("DVs stack across commits; already-deleted rows never re-match") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 30L).map(i => (i, i)).toDF("id", "v"), path)
    val (_, n1) = GraftLake.deleteDv(spark, path, col("v") <= 10)
    assert(n1 == 10)
    // Overlapping predicate: only the still-visible 11..20 match.
    val (_, n2) = GraftLake.deleteDv(spark, path, col("v") <= 20)
    assert(n2 == 10)
    assert(GraftLake.snapshot(path).tombstones.size == 2)
    assert(GraftLake.read(spark, path).collect().map(_.getLong(0)).toSet
      == (21L to 30L).toSet)
  }

  test("fences hold; compact materializes and clears; vacuum reclaims the sidecar") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 40L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))
    GraftLake.deleteDv(spark, path, col("v") % 4 === 0)
    // The standard MoR fences: CoW delete and merge refuse.
    intercept[IllegalArgumentException] {
      GraftLake.delete(spark, path, col("id") < 5)
    }
    intercept[IllegalArgumentException] {
      GraftLake.merge(spark, path,
        Seq((1L, 99L)).toDF("id", "v"), Seq("id"), "id")
    }
    // The CDC feed rejects the tombstone-family commit.
    intercept[IllegalStateException] {
      GraftLake.changesSince(spark, path, 0).count()
    }
    val dvSet = GraftLake.snapshot(path).tombstones.head
    // Compaction materializes the masked state and clears the DV.
    GraftLake.compact(spark, path, Seq("id"), numFiles = 2, Some("id"))
    assert(GraftLake.snapshot(path).tombstones.isEmpty)
    assert(GraftLake.read(spark, path).count() == 30)
    assert(GraftLake.read(spark, path).filter(col("v") % 4 === 0).count() == 0)
    // Mutations work again, and vacuum reclaims the dead sidecar.
    GraftLake.delete(spark, path, col("id") === 1)
    val dead = GraftLake.vacuum(path, retainMillis = 0L)
    assert(dead.contains(dvSet))
    assert(GraftLake.read(spark, path).count() == 29)
  }

  test("CDF: DV deletes stage exactly the visible matched rows, never double-reported") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i * 10)).toDF("id", "v"), path)
    GraftLake.enableCdf(path)
    val v0 = GraftLake.snapshot(path).version
    GraftLake.deleteDv(spark, path, col("id") <= 5)
    GraftLake.deleteDv(spark, path, col("id") <= 8) // 6,7,8 only
    val feed = GraftLake.changesTyped(spark, path, v0)
      .filter(col("_change_type") === "delete")
    assert(feed.count() == 8)
    assert(feed.collect().map(_.getLong(0)).toSet == (1L to 8L).toSet)
  }

  test("DVs compose with key tombstones; pruned and point reads apply the mask") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 100L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"), bloomCols = Seq("id"))
    GraftLake.append((101L to 200L).map(i => (i, i)).toDF("id", "v"), path,
      statsCol = Some("id"), bloomCols = Seq("id"))
    // A key tombstone and a DV outstanding at once: both apply.
    GraftLake.deleteMoR(spark, path, col("id") === 150, "id")
    val (_, n) = GraftLake.deleteDv(spark, path, col("id") <= 10)
    assert(n == 10)
    // deleteDv over an already-tombstoned row matches nothing.
    val (_, n2) = GraftLake.deleteDv(spark, path, col("id") === 150)
    assert(n2 == 0L)
    assert(GraftLake.read(spark, path).count() == 189)
    // Zone-pruned read applies both sidecar families.
    val (pr, scanned, _) = GraftLake.readPruned(spark, path,
      Seq(("id", 1L, 100L)))
    assert(scanned == 1)
    assert(pr.filter(col("id") <= 100).count() == 90)
    // Bloom point lookup of a DV-deleted row returns nothing.
    val (pt, _, _) = GraftLake.readPoint(spark, path, "id", 5L)
    assert(pt.filter(col("id") === 5).count() == 0)
  }

  // -------- deterministic mutation-fence interleavings: the
  // beforePublishHook lands a racing commit INSIDE another mutation's
  // read→publish window (after it staged, before its first claim),
  // pinning both directions of the lost-delete anomaly and the
  // compose-without-abort case.

  private def allStagedDirs(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(path, "data")
    if (!Files.exists(d)) Set.empty
    else Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
  }

  test("fence: a compact landing inside deleteDv's window aborts it, staged set cleaned") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i)).toDF("id", "v"),
      path, Some("id"))
    GraftLake.beforePublishHook.set(Some(() => {
      GraftLake.compact(spark, path, Seq("id"), numFiles = 1, Some("id"))
      ()
    }))
    intercept[java.util.ConcurrentModificationException] {
      GraftLake.deleteDv(spark, path, col("id") <= 5)
    }
    // The aborted tombstone's staged parquet was deleted: every dir
    // under data/ is referenced by the log (live or removed), none
    // orphaned.
    import scala.jdk.CollectionConverters._
    val referenced = GraftLake.commits(path).flatMap(c =>
      c.add ++ c.remove).map(_.stripPrefix("data/")).toSet
    assert(allStagedDirs(path).subsetOf(referenced))
    // A re-run against the fresh snapshot succeeds and deletes the rows.
    val (_, n) = GraftLake.deleteDv(spark, path, col("id") <= 5)
    assert(n == 5L)
    assert(GraftLake.read(spark, path).count() == 15L)
  }

  test("fence: a deleteDv landing inside a compact's window aborts the compact (reverse direction)") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i)).toDF("id", "v"),
      path, Some("id"))
    GraftLake.beforePublishHook.set(Some(() => {
      GraftLake.deleteDv(spark, path, col("id") <= 5)
      ()
    }))
    // Without the rewrite-side fence the compact (whose rewritten set
    // was computed BEFORE the mask landed) would remove the masked
    // set and resurrect ids 1-5.
    intercept[java.util.ConcurrentModificationException] {
      GraftLake.compact(spark, path, Seq("id"), numFiles = 1, Some("id"))
    }
    assert(GraftLake.read(spark, path).count() == 15L)
    // Re-run materializes the mask and drains the tombstone list.
    GraftLake.compact(spark, path, Seq("id"), numFiles = 1, Some("id"))
    assert(GraftLake.snapshot(path).tombstones.isEmpty)
    assert(GraftLake.read(spark, path).count() == 15L)
  }

  test("fence: a deleteDv landing inside a compactPartitioned's window aborts the re-layout") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i % 4)).toDF("id", "m"),
      path, Some("id"))
    GraftLake.beforePublishHook.set(Some(() => {
      GraftLake.deleteDv(spark, path, col("id") <= 5)
      ()
    }))
    // The re-layout's partition sets were staged before the mask
    // landed: publishing them would remove the masked set and bring
    // ids 1-5 back.
    intercept[java.util.ConcurrentModificationException] {
      GraftLake.compactPartitioned(spark, path, "m")
    }
    assert(GraftLake.read(spark, path).count() == 15L)
    // The aborted re-layout leaves no staged set behind.
    val s = GraftLake.snapshot(path)
    assert(Files.list(java.nio.file.Paths.get(path, "data")).count() ==
      s.live.size + s.tombstones.size)
    GraftLake.compactPartitioned(spark, path, "m")
    assert(GraftLake.snapshot(path).tombstones.isEmpty)
    assert(GraftLake.snapshot(path).live.size == 4)
    assert(GraftLake.read(spark, path).count() == 15L)
  }

  test("fence: two deleteDv on the same set conflict; on disjoint sets they compose") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"),
      path, Some("id"))
    GraftLake.append((101L to 110L).map(i => (i, i)).toDF("id", "v"),
      path, Some("id"))
    // Same set: the racing mask lands on the set our positions point
    // into — two position-resolved transactions over the same bytes
    // do not commute (ours was resolved before theirs masked).
    GraftLake.beforePublishHook.set(Some(() => {
      GraftLake.deleteDv(spark, path, col("id") === 2L)
      ()
    }))
    intercept[java.util.ConcurrentModificationException] {
      GraftLake.deleteDv(spark, path, col("id") === 1L)
    }
    // Unrelated set: zone-map pruning scopes our refSets to the first
    // set only, so a racing mask on the second composes and lands.
    GraftLake.beforePublishHook.set(Some(() => {
      GraftLake.deleteDv(spark, path, col("id") === 105L)
      ()
    }))
    val (_, n) = GraftLake.deleteDv(spark, path, col("id") === 3L)
    assert(n == 1L)
    val left = GraftLake.read(spark, path).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(!left.contains(2L) && !left.contains(3L) && !left.contains(105L))
    assert(left.size == 17)
  }
}
