package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake

class LakeSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("graft-lake").resolve("t").toString

  test("partitioned append: per-value sets, exact manifest stats, content-neutral read") {
    import spark.implicits._
    val path = freshTable()
    val df = (1L to 300L).map(i => (i, i % 3 + 10, i * 7)).toDF("id", "p", "v")
    GraftLake.appendPartitioned(df, path, "p", statsCols = Seq("id"))
    val s = GraftLake.snapshot(path)
    // One set per partition value, each with an EXACT min==max stat.
    assert(s.live.size == 3)
    assert(s.live.flatMap(_.statsFor("p")).forall(st => st.min == st.max))
    assert(s.live.flatMap(_.statsFor("p")).map(_.min).sorted == Seq(10L, 11L, 12L))
    // Extra stats dimension recorded per set too.
    assert(s.live.forall(_.statsFor("id").isDefined))
    // Content neutrality: the partition column reads back through the
    // hive subdir with the declared (long) type.
    val got = GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (1L to 300L).map(i => (i, i % 3 + 10, i * 7)).toSet)
    // Equality predicate prunes the manifest to exactly one set.
    val (pr, scanned, skipped) =
      GraftLake.readPruned(spark, path, Seq(("p", 11L, 11L)))
    assert(scanned == 1 && skipped == 2)
    assert(pr.count() == df.filter(col("p") === 11).count())
    // A second partitioned append adds per-value sets independently.
    GraftLake.appendPartitioned(
      (301L to 400L).map(i => (i, i % 2 + 10, i * 7)).toDF("id", "p", "v"),
      path, "p")
    assert(GraftLake.snapshot(path).live.size == 5)
    val (_, sc2, sk2) = GraftLake.readPruned(spark, path, Seq(("p", 12L, 12L)))
    assert(sc2 == 1 && sk2 == 4)
  }

  test("partitioned layout survives checkpoint, merge prunes by partition, compactPartitioned restores it") {
    import spark.implicits._
    val path = freshTable()
    val df = (1L to 300L).map(i => (i, i % 3, i)).toDF("id", "p", "v")
    GraftLake.appendPartitioned(df, path, "p")
    GraftLake.checkpoint(path)
    // Per-set stats ride through the checkpoint fast path.
    assert(GraftLake.snapshot(path).live.flatMap(_.statsFor("p"))
      .forall(st => st.min == st.max))
    // A merge whose updates live in ONE partition rewrites one set and
    // keeps the others' exact manifests (p is functionally dependent
    // on id: p = id % 3).
    val updates = Seq((3L, 0L, 999L), (6L, 0L, 998L)).toDF("id", "p", "v")
    val (_, rewritten, kept) =
      GraftLake.merge(spark, path, updates, Seq("id"), "p")
    assert(rewritten == 1 && kept == 2)
    assert(GraftLake.read(spark, path).filter(col("id") === 3L)
      .head.getLong(2) == 999L)
    val (_, sc, sk) = GraftLake.readPruned(spark, path, Seq(("p", 1L, 1L)))
    assert(sc == 1 && sk == 2)
    // Flat append widens the layout; partitioned compaction restores
    // one-set-per-value in one atomic commit, content-neutrally.
    GraftLake.append(Seq((400L, 1L, 400L)).toDF("id", "p", "v"), path)
    val before = GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    GraftLake.compactPartitioned(spark, path, "p")
    val s2 = GraftLake.snapshot(path)
    assert(s2.live.size == 3)
    assert(s2.live.flatMap(_.statsFor("p")).forall(st => st.min == st.max))
    val after = GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before)
    // changesSince represents partitioned appends as plain inserts.
    val ch = GraftLake.changesSince(spark, freshPadd(), -1)
    assert(ch.count() == 6)
    assert(ch.columns.contains("_commit_version"))
  }

  private def freshPadd(): String = {
    import spark.implicits._
    val p = freshTable()
    GraftLake.appendPartitioned(
      (1L to 6L).map(i => (i, i % 2)).toDF("id", "p"), p, "p")
    p
  }

  test("shallow clone: zero-copy snapshot, independent divergence, vacuum fence") {
    import spark.implicits._
    val src = freshTable()
    val dst = freshTable()
    val df = (1L to 100L).map(i => (i, i * 2)).toDF("id", "v")
    GraftLake.create(df, src, Some("id"))
    GraftLake.addConstraint(spark, src, "v_pos", "v > 0")
    GraftLake.shallowClone(src, dst)
    // Fork reads the source snapshot without copying a byte: every
    // live reference is absolute, none under the clone's data dir.
    assert(GraftLake.snapshot(dst).live.forall(_.set.startsWith("/")))
    assert(GraftLake.read(spark, dst).count() == 100)
    // Constraints copied: the fork enforces the same rules.
    intercept[IllegalStateException] {
      GraftLake.append(Seq((200L, -1L)).toDF("id", "v"), dst)
    }
    // Divergence is two-way isolated.
    GraftLake.append(Seq((101L, 202L)).toDF("id", "v"), dst)
    GraftLake.append(Seq((999L, 42L)).toDF("id", "v"), src)
    assert(GraftLake.read(spark, dst).count() == 101)
    assert(GraftLake.read(spark, src).count() == 101)
    assert(GraftLake.read(spark, dst).filter(col("id") === 999L).isEmpty)
    assert(GraftLake.read(spark, src).filter(col("id") === 101L).isEmpty)
    // Source rewrite orphans the original set in the SOURCE, but the
    // clone still references it: vacuum must fence it.
    GraftLake.overwrite(Seq((1000L, 1L)).toDF("id", "v"), src)
    val dead = GraftLake.vacuum(src)
    assert(GraftLake.read(spark, dst).count() == 101) // fence held
    // The clone-side merge path works over absolute refs too.
    GraftLake.merge(spark, dst, Seq((1L, 111L)).toDF("id", "v"),
      Seq("id"), "id")
    assert(GraftLake.read(spark, dst).filter(col("id") === 1L)
      .head.getLong(1) == 111L)
    // Compact makes the clone independent; dropClone lifts the fence
    // and the source vacuum NOW reclaims the orphaned sets.
    GraftLake.compact(spark, dst, Seq("id"), 2)
    assert(GraftLake.snapshot(dst).live.forall(!_.set.startsWith("/")))
    assert(GraftLake.dropClone(src, dst))
    val dead2 = GraftLake.vacuum(src)
    assert((dead ++ dead2).nonEmpty)
    assert(GraftLake.read(spark, dst).count() == 101) // independent now
    assert(GraftLake.read(spark, src).count() == 1)
  }

  test("shallow clone refuses a source with outstanding MoR tombstones") {
    import spark.implicits._
    val src = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), src)
    GraftLake.deleteMoR(spark, src, col("v") > 8, "id")
    intercept[IllegalArgumentException] {
      GraftLake.shallowClone(src, freshTable())
    }
  }

  test("partitioned append rejects non-integral and NULL partition values") {
    import spark.implicits._
    val path = freshTable()
    intercept[Exception] {
      GraftLake.appendPartitioned(
        Seq((1L, "a"), (2L, "b")).toDF("id", "p"), path, "p")
    }
    val path2 = freshTable()
    intercept[Exception] {
      GraftLake.appendPartitioned(
        Seq((1L, Some(1L)), (2L, None)).toDF("id", "p"), path2, "p")
    }
  }

  test("time travel: every version stays readable and immutable after later commits") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val y = year(col("o_orderdate"))
    GraftLake.create(orders.filter(y.isNull || y < 1998), path) // v0
    val v0Count = GraftLake.read(spark, path).count()
    GraftLake.append(orders.filter(y >= 1998), path)            // v1
    assert(GraftLake.latestVersion(path) == 1)
    // v0 is untouched by the append; v1 is the full table.
    assert(GraftLake.readAt(spark, path, 0).count() == v0Count)
    assert(GraftLake.readAt(spark, path, 1).count() == orders.count())
    // Value-level: the v1 snapshot equals the source table exactly.
    val got = GraftLake.read(spark, path)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val want = orders.orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("timestamp time travel: readAsOf picks the last commit at or before the stamp") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(100), path)            // v0
    Thread.sleep(5)
    GraftLake.append(orders.limit(50), path)             // v1
    val cs = GraftLake.commits(path)
    assert(cs.map(_.tsMillis) == cs.map(_.tsMillis).sorted, "stamps are monotone")
    assert(cs.head.tsMillis > 0)
    // Exactly at v0's stamp → v0; between stamps → v0; at/after v1 → v1.
    assert(GraftLake.readAsOf(spark, path, cs(0).tsMillis).count() == 100)
    assert(GraftLake.readAsOf(spark, path, cs(1).tsMillis - 1).count() == 100)
    assert(GraftLake.readAsOf(spark, path, cs(1).tsMillis).count() == 150)
    assert(GraftLake.readAsOf(spark, path, Long.MaxValue).count() == 150)
    // Before creation → loud failure, like Delta's timestampAsOf.
    intercept[IllegalArgumentException] {
      GraftLake.readAsOf(spark, path, cs(0).tsMillis - 1)
    }
  }

  test("overwrite replaces contents atomically; old snapshots still time-travel") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(100), path)                  // v0
    GraftLake.overwrite(orders.limit(10), path)                // v1
    assert(GraftLake.readAt(spark, path, 0).count() == 100)
    assert(GraftLake.read(spark, path).count() == 10)
  }

  test("schema evolution: later columns null-fill old file-sets, no rewrite") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val narrow = orders.select(col("o_orderkey"), col("o_orderstatus"))
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
    val wide = orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .filter(pmod(col("o_orderkey"), lit(2)) === 1)
    GraftLake.create(narrow, path)
    val dataFilesBefore = Files.walk(java.nio.file.Paths.get(path))
      .filter(_.toString.endsWith(".parquet")).count()
    GraftLake.append(wide, path)
    val latest = GraftLake.read(spark, path)
    assert(latest.columns.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    // old rows carry null for the new column; new rows carry values
    assert(latest.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .filter(col("o_totalprice").isNotNull).count() == 0)
    assert(latest.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .filter(col("o_totalprice").isNull).count() == 0)
    // v0 read still shows the 2-column schema of its day
    assert(GraftLake.readAt(spark, path, 0).columns.toSeq ==
      Seq("o_orderkey", "o_orderstatus"))
    // and evolution rewrote nothing: v0's data files are all still live
    val dataFilesAfter = Files.walk(java.nio.file.Paths.get(path))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(dataFilesAfter > dataFilesBefore)
  }

  test("schema evolution rejects a type change on an existing column") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.select(col("o_orderkey"), col("o_totalprice")), path)
    val bad = orders.select(col("o_orderkey"),
      col("o_totalprice").cast("string").as("o_totalprice"))
    assertThrows[IllegalArgumentException] {
      GraftLake.append(bad, path)
    }
  }

  test("concurrent appends: every writer lands in its own version, none lost") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(0), path)
    val slices = (0 until 4).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(4)) === i))
    // 4 threads race the commit protocol; O_EXCL claims serialize them.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val versions = Await.result(
      Future.sequence(slices.map(s => Future(GraftLake.append(s, path)))),
      5.minutes)
    assert(versions.sorted == Seq(1, 2, 3, 4)) // distinct, gapless
    assert(GraftLake.read(spark, path).count() == orders.count())
  }

  test("readers see only the committed prefix during an in-flight claim") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(50), path)
    // simulate a claimed-but-unpublished commit (empty O_EXCL file)
    Files.createFile(java.nio.file.Paths.get(path, "_graft_log", "00000001.json"))
    assert(GraftLake.latestVersion(path) == 0)
    assert(GraftLake.read(spark, path).count() == 50)
  }

  test("stale claim adoption: a dead writer's empty claim is taken over after the lease") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(50), path)
    // A writer died between claim and publish: empty file, old mtime.
    val orphan = java.nio.file.Paths.get(path, "_graft_log", "00000001.json")
    Files.createFile(orphan)
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    // Within the lease a fresh claim would still block; past it the
    // next writer must adopt version 1 instead of wedging forever.
    sys.props("graft.lake.staleClaimLeaseMs") = "1000"
    try {
      val v = GraftLake.append(orders.limit(25), path)
      assert(v == 1, s"expected adoption of the orphaned version 1, got $v")
      assert(GraftLake.latestVersion(path) == 1)
      assert(GraftLake.read(spark, path).count() == 75)
    } finally sys.props.remove("graft.lake.staleClaimLeaseMs")
  }

  test("merge fails fast on NULL statsCol update rows instead of silently dropping them") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(100), path, statsCol = Some("o_orderkey"))
    val updates = orders.limit(5)
      .withColumn("o_orderkey", lit(null).cast("long"))
    val e = intercept[IllegalArgumentException] {
      GraftLake.merge(spark, path, updates,
        keyCols = Seq("o_orderkey"), statsCol = "o_orderkey")
    }
    assert(e.getMessage.contains("NULL 'o_orderkey'"))
    // And a genuinely empty update set is still a clean no-op.
    val (v, rewritten, _) = GraftLake.merge(spark, path, orders.limit(0),
      keyCols = Seq("o_orderkey"), statsCol = "o_orderkey")
    assert(v == 0 && rewritten == 0)
  }

  test("idempotent tagged appends: replay is a no-op, even under a same-tag race") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(0), path)
    val slice = orders.limit(200)
    val v1 = GraftLake.appendIdempotent(slice, path, "epoch-0")
    // sequential replay: same tag → same version, no growth
    assert(GraftLake.appendIdempotent(slice, path, "epoch-0") == v1)
    assert(GraftLake.latestVersion(path) == v1)
    assert(GraftLake.read(spark, path).count() == 200)
    // concurrent same-tag race: exactly one of 4 writers lands
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val vs = Await.result(
      Future.sequence((0 until 4).map(_ =>
        Future(GraftLake.appendIdempotent(slice, path, "epoch-1")))),
      5.minutes)
    assert(vs.distinct.size == 1, s"same-tag race committed twice: $vs")
    assert(GraftLake.read(spark, path).count() == 400)
  }

  test("st10 gate: streamed lake equals the batch answer and replay is skipped") {
    val rows = graft.streaming.LakeStream.st10StreamToLake(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(r.fieldIndex("replay_skipped")), r.toString))
    val want = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("o_orderstatus").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      want.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("merge rewrites only zone-map-overlapping file-sets and upserts exactly") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val t = orders.select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      pmod(col("o_orderkey"), lit(4)).as("k4"))
    GraftLake.create(t.filter(col("k4") === 0), path, Some("k4"))
    (1 to 3).foreach(i => GraftLake.append(t.filter(col("k4") === i), path, Some("k4")))
    // upsert: double bucket 1's cents AND insert two brand-new keys
    val maxKey = t.agg(max(col("o_orderkey"))).head.getLong(0)
    val newRows = spark.range(maxKey + 4, maxKey + 6)
      .select(col("id").as("o_orderkey"), lit("Z").as("o_orderstatus"),
        lit(100L).as("cents"), pmod(col("id"), lit(4)).as("k4"))
    val updates = t.filter(col("k4") === 1).withColumn("cents", col("cents") * 2)
      .unionByName(newRows.filter(pmod(col("o_orderkey"), lit(4)) === 1))
    val (_, nRewritten, nKept) =
      GraftLake.merge(spark, path, updates, Seq("o_orderkey"), "k4")
    assert(nRewritten == 1 && nKept == 3,
      s"expected 1 rewritten / 3 kept, got $nRewritten / $nKept")
    val merged = GraftLake.read(spark, path)
    // matched rows doubled, unmatched untouched, inserts present
    val want = t.withColumn("cents",
        when(col("k4") === 1, col("cents") * 2).otherwise(col("cents")))
      .unionByName(newRows.filter(pmod(col("o_orderkey"), lit(4)) === 1))
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(merged.orderBy("o_orderkey").collect().map(_.toString).toSeq == want)
  }

  test("ranged delete rewrites only the overlapping set; untouched sets keep their files") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val mk = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val (k1, k2) = (mk / 3, 2 * mk / 3)
    GraftLake.create(orders.filter(col("o_orderkey") <= k1), path, Some("o_orderkey"))
    GraftLake.append(orders.filter(col("o_orderkey") > k1 && col("o_orderkey") <= k2),
      path, Some("o_orderkey"))
    GraftLake.append(orders.filter(col("o_orderkey") > k2), path, Some("o_orderkey"))
    val n0 = GraftLake.read(spark, path).count()
    def liveSets = GraftLake.commits(path).foldLeft(Seq.empty[String]) { (l, c) =>
      l.filterNot(c.remove.contains) ++ c.add
    }
    val before = liveSets
    def filesOf(set: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(path, set)).iterator().asScala
        .map(_.getFileName.toString).toSet
    }
    val untouchedFiles = Seq(before.head, before.last).map(s => s -> filesOf(s))
    val expect = orders
      .filter(col("o_orderkey") > k1 + 10 && col("o_orderkey") <= k2 - 10).count()
    val (_, nRewritten, nKept, nDeleted) =
      GraftLake.deleteRange(spark, path, "o_orderkey", k1 + 11, k2 - 10)
    assert(nRewritten == 1, "only the overlapping middle set rewrites")
    assert(nKept == 2)
    assert(nDeleted == expect)
    assert(GraftLake.read(spark, path).count() == n0 - expect)
    // Non-overlapping sets survive BY REFERENCE: same set dirs, same files.
    val after = liveSets
    assert(after.contains(before.head) && after.contains(before.last))
    untouchedFiles.foreach { case (s, fs) => assert(filesOf(s) == fs) }
    assert(!after.contains(before(1)), "the hit set was replaced")

    // Generic-predicate delete: scan-based hit detection, exact count.
    val expect7 = GraftLake.read(spark, path)
      .filter(pmod(col("o_orderkey"), lit(7)) === 3).count()
    val (_, _, _, nDel7) =
      GraftLake.delete(spark, path, pmod(col("o_orderkey"), lit(7)) === 3)
    assert(nDel7 == expect7)
    assert(GraftLake.read(spark, path)
      .filter(pmod(col("o_orderkey"), lit(7)) === 3).count() == 0)

    // A no-hit delete commits nothing.
    val vBefore = GraftLake.latestVersion(path)
    val (v, r, _, d) = GraftLake.delete(spark, path, col("o_orderkey") < -1)
    assert(v == vBefore && r == 0 && d == 0)

    // NULL predicate keeps the row (SQL DELETE semantics).
    val (v2, _, _, d2) = GraftLake.delete(spark, path,
      (col("o_orderkey") < lit(null).cast("long")))
    assert(v2 == vBefore && d2 == 0)
  }

  test("multi-column zone maps: a two-predicate scan prunes sets on both dimensions") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val mk = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val mc = orders.agg(max(col("o_custkey"))).head.getLong(0)
    // 2x2 grid of file-sets: (key half) x (cust half), stats on BOTH.
    for (kh <- 0 to 1; ch <- 0 to 1) {
      val slice = orders.filter(
        (if (kh == 0) col("o_orderkey") <= mk / 2 else col("o_orderkey") > mk / 2) &&
          (if (ch == 0) col("o_custkey") <= mc / 2 else col("o_custkey") > mc / 2))
      if (kh == 0 && ch == 0)
        GraftLake.create(slice, path, statsCols = Seq("o_orderkey", "o_custkey"))
      else
        GraftLake.append(slice, path, statsCols = Seq("o_orderkey", "o_custkey"))
    }
    // One-dimension range: prunes to the matching key half (2 sets).
    val (_, scan1, skip1) =
      GraftLake.readPruned(spark, path, Seq(("o_orderkey", 0L, mk / 2)))
    assert(scan1 == 2 && skip1 == 2)
    // Two dimensions compose: exactly ONE quadrant survives.
    val (df2, scan2, skip2) = GraftLake.readPruned(spark, path,
      Seq(("o_orderkey", 0L, mk / 2), ("o_custkey", 0L, mc / 2)))
    assert(scan2 == 1 && skip2 == 3,
      s"expected 1 quadrant scanned, got scan=$scan2 skip=$skip2")
    // Pruning is sound: the filtered pruned scan equals the full scan.
    val pred = col("o_orderkey") <= mk / 2 && col("o_custkey") <= mc / 2
    assert(df2.filter(pred).count() == orders.filter(pred).count())
    // Compaction re-records both dimensions, so pruning still works
    // (single set now — nothing skippable, but stats must survive).
    GraftLake.compact(spark, path, Seq("o_orderkey"), numFiles = 2)
    val liveStats = GraftLake.commits(path).last.stats.map(_.col)
    assert(liveStats.toSet == Set("o_orderkey", "o_custkey"))
  }

  test("merge-on-read delete: tombstone suppresses rows with zero rewrite; compact materializes") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    GraftLake.create(orders, path)
    val n0 = GraftLake.read(spark, path).count()
    def dataFiles: Set[String] = {
      import scala.jdk.CollectionConverters._
      GraftLake.commits(path).head.add.flatMap { set =>
        Files.list(java.nio.file.Paths.get(path, set)).iterator().asScala
          .map(_.toString)
      }.toSet
    }
    val before = dataFiles
    val toDelete = orders.filter(pmod(col("o_orderkey"), lit(5)) === 2).count()
    val (_, nDel) = GraftLake.deleteMoR(
      spark, path, pmod(col("o_orderkey"), lit(5)) === 2, "o_orderkey")
    assert(nDel == toDelete)
    // Logically gone, physically untouched — the MoR contract.
    assert(GraftLake.read(spark, path).count() == n0 - toDelete)
    assert(GraftLake.read(spark, path)
      .filter(pmod(col("o_orderkey"), lit(5)) === 2).count() == 0)
    assert(dataFiles == before, "no data file may be rewritten by a MoR delete")
    // Time travel to pre-delete still shows everything.
    assert(GraftLake.readAt(spark, path, 0).count() == n0)
    // CoW delete and merge refuse while tombstones are outstanding.
    intercept[IllegalArgumentException] {
      GraftLake.delete(spark, path, col("o_orderkey") < 10)
    }
    // The CDC feed and the streaming source reject the delete commit.
    intercept[IllegalStateException] {
      GraftLake.changesSince(spark, path, 0).count()
    }
    // Compaction materializes the delete and clears the tombstone.
    GraftLake.compact(spark, path, Seq("o_orderkey"), numFiles = 2)
    assert(GraftLake.read(spark, path).count() == n0 - toDelete)
    val afterCompact = GraftLake.commits(path)
    assert(afterCompact.last.action == "compact")
    // Re-inserting a previously deleted key now works (tombstones gone).
    GraftLake.append(orders.filter(col("o_orderkey") === 2), path)
    assert(GraftLake.read(spark, path)
      .filter(col("o_orderkey") === 2).count() ==
      orders.filter(col("o_orderkey") === 2).count())
    // Vacuum reclaims the pre-compaction sets including the tombstone.
    val dead = GraftLake.vacuum(path)
    assert(dead.nonEmpty)
    assert(GraftLake.read(spark, path).count() == n0 - toDelete +
      orders.filter(col("o_orderkey") === 2).count())
  }

  test("deleteKeys: distributed key-set delete, pruned and tag-idempotent") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))
    GraftLake.append((11L to 20L).map(i => (i, i)).toDF("id", "v"), path,
      statsCol = Some("id"))
    // Keys hit only the second set: exactly one rewrite.
    val keys = Seq(15L, 16L, 99L).toDF("id")
    val (_, rew, kept, n) =
      GraftLake.deleteKeys(spark, path, keys, "id", Some("id"),
        tag = Some("e1"))
    assert(rew == 1 && kept == 1 && n == 2L)
    assert(GraftLake.read(spark, path).count() == 18)
    // Replaying the epoch is a no-op.
    val before = GraftLake.latestVersion(path)
    val (v2, rew2, _, n2) =
      GraftLake.deleteKeys(spark, path, keys, "id", Some("id"),
        tag = Some("e1"))
    assert(v2 == before && rew2 == 0 && n2 == 0L)
    assert(GraftLake.read(spark, path).count() == 18)
  }

  test("deleteKeys shortlists victims via zone maps and blooms — never-hit sets are not scanned") {
    import spark.implicits._
    // Zone-map leg: three sets with disjoint recorded key spans; a
    // delta inside the middle span must scan ONLY the middle set.
    val path = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))
    GraftLake.append((11L to 20L).map(i => (i, i)).toDF("id", "v"), path,
      statsCol = Some("id"))
    GraftLake.append((21L to 30L).map(i => (i, i)).toDF("id", "v"), path,
      statsCol = Some("id"))
    val midSet = GraftLake.snapshot(path).live
      .find(_.statsFor("id").exists(_.min == 11L)).get.set
    val (_, rew, kept, n) =
      GraftLake.deleteKeys(spark, path, Seq(15L, 16L).toDF("id"), "id",
        Some("id"))
    assert(rew == 1 && kept == 2 && n == 2L)
    assert(GraftLake.lastDeleteKeysShortlist == Seq(midSet),
      s"zone-disjoint sets reached the scan: ${GraftLake.lastDeleteKeysShortlist}")

    // Bloom leg: a mod-split layout — every set spans the FULL key
    // range, so zone maps cannot prune; the per-set bloom sidecars
    // must shortlist to only the sets that might contain the delta.
    val path2 = freshTable()
    val all = (1L to 400L)
    GraftLake.create(all.filter(_ % 4 == 0).map(i => (i, i)).toDF("id", "v"),
      path2, Some("id"), bloomCols = Seq("id"))
    (1 to 3).foreach { m =>
      GraftLake.append(all.filter(_ % 4 == m).map(i => (i, i)).toDF("id", "v"),
        path2, statsCol = Some("id"), bloomCols = Seq("id"))
    }
    // Keys all ≡ 2 (mod 4): exactly one residue set truly matches.
    val keys2 = Seq(6L, 10L, 14L).toDF("id")
    val (_, rew2, _, n2) =
      GraftLake.deleteKeys(spark, path2, keys2, "id", Some("id"))
    assert(rew2 == 1 && n2 == 3L)
    // The shortlist is bloom-narrowed: strictly fewer sets than the 4
    // zone survivors (false positives allowed at the published rate,
    // but 3 sets with verified blooms answering "no" for every key
    // cannot ALL survive).
    assert(GraftLake.lastDeleteKeysShortlist.size < 4,
      s"blooms pruned nothing: ${GraftLake.lastDeleteKeysShortlist}")
    assert(GraftLake.read(spark, path2).count() == 397)

    // Provably-empty delta: no scan at all, version unchanged.
    val before = GraftLake.latestVersion(path2)
    val (v3, rew3, _, n3) = GraftLake.deleteKeys(
      spark, path2, Seq.empty[Long].toDF("id"), "id")
    assert(v3 == before && rew3 == 0 && n3 == 0L)
  }

  test("partition marker is sealed log state: checkpoint, clone, restore preserve it") {
    import spark.implicits._
    val path = freshTable()
    val df = (1L to 60L).map(i => (i, i % 3, i)).toDF("id", "yr", "v")
    GraftLake.appendPartitioned(df, path, "yr", statsCols = Seq("id"))
    GraftLake.setPartitionColumn(path, "yr")
    assert(GraftLake.partitionColumnOf(path).contains("yr"))
    // Idempotent re-record; a DIFFERENT column refuses loudly.
    GraftLake.setPartitionColumn(path, "yr")
    intercept[IllegalArgumentException] {
      GraftLake.setPartitionColumn(path, "v")
    }
    // Unknown column refuses too.
    intercept[IllegalArgumentException] {
      GraftLake.setPartitionColumn(path, "nope")
    }
    // Rides a checkpoint: resolution through the ckpt fast path keeps it.
    GraftLake.append(Seq((100L, 0L, 100L)).toDF("id", "yr", "v"), path)
    GraftLake.checkpoint(path)
    assert(GraftLake.partitionColumnOf(path).contains("yr"))
    // Survives restore (the marker is monotonic table metadata).
    val vNow = GraftLake.latestVersion(path)
    GraftLake.restore(spark, path, vNow - 1)
    assert(GraftLake.partitionColumnOf(path).contains("yr"))
    // Copies into a shallow clone like constraints do.
    val dst = freshTable()
    GraftLake.shallowClone(path, dst)
    assert(GraftLake.partitionColumnOf(dst).contains("yr"))
    // Time travel: the marker is absent at v0 (pre-record).
    val all = GraftLake.readAt(spark, path, 0)
    assert(all.count() == 60)
  }

  test("deleteKeys bloom probing is batch-bounded: many sets, unchanged shortlist") {
    import spark.implicits._
    // 6 bloom-bearing sets probed with a batch size of 2 must produce
    // the SAME shortlist (and deletes) as one unbounded broadcast —
    // batching bounds peak memory, never changes the answer.
    val path = freshTable()
    val all = (1L to 600L)
    GraftLake.create(all.filter(_ % 6 == 0).map(i => (i, i)).toDF("id", "v"),
      path, Some("id"), bloomCols = Seq("id"))
    (1 to 5).foreach { m =>
      GraftLake.append(all.filter(_ % 6 == m).map(i => (i, i)).toDF("id", "v"),
        path, statsCol = Some("id"), bloomCols = Seq("id"))
    }
    val prev = sys.props.put("graft.lake.bloomProbeBatch", "2")
    try {
      // Keys all ≡ 3 (mod 6): one residue set truly matches.
      val (_, rew, _, n) = GraftLake.deleteKeys(
        spark, path, Seq(9L, 15L, 21L).toDF("id"), "id", Some("id"))
      assert(rew == 1 && n == 3L)
      assert(GraftLake.lastDeleteKeysShortlist.size < 6,
        s"blooms pruned nothing: ${GraftLake.lastDeleteKeysShortlist}")
      assert(GraftLake.read(spark, path).count() == 597)
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.lake.bloomProbeBatch", v)
        case None => sys.props.remove("graft.lake.bloomProbeBatch")
      }
    }
  }

  test("deleteKeys on string keys: stat-less sets scan conservatively, mixed/numeric strings delete correctly") {
    import spark.implicits._
    // String keys are legal — the semi-join matches them. This table
    // records NO stats on `k`, so every delta scans all sets; the
    // prefix-image spans (which make stats-bearing string keys prune
    // soundly — LakeStringStatsSpec) never apply here. Mixed
    // ({"9","x"}) and order-inverting numeric-string ({"10","30"})
    // deltas must both delete exactly.
    val path = freshTable()
    GraftLake.create(
      (1L to 20L).map(i => (i.toString, i)).toDF("k", "v"), path)
    GraftLake.append(
      (21L to 40L).map(i => (i.toString, i)).toDF("k", "v"), path)
    // Mixed castable/uncastable delta: "9" deletes, "x" matches nothing.
    val (_, rew1, _, n1) = GraftLake.deleteKeys(
      spark, path, Seq("9", "x").toDF("k"), "k")
    assert(n1 == 1L && rew1 == 1)
    // All-numeric strings whose lexicographic order inverts the cast
    // span (min "10" -> 10 > max "9"... here {"10","30"} spans sets).
    val (_, rew2, _, n2) = GraftLake.deleteKeys(
      spark, path, Seq("10", "30").toDF("k"), "k")
    assert(n2 == 2L && rew2 == 2)
    assert(GraftLake.read(spark, path).count() == 37)
    assert(GraftLake.read(spark, path)
      .filter(col("k").isin("9", "10", "30")).count() == 0)
  }

  test("rewrites survive a legal drop of a stats/bloom-bearing column") {
    import spark.implicits._
    // The victims carry zone-map stats AND a bloom on `aux`; dropping
    // `aux` leaves those recorded dimensions resolving to the reserved
    // __dropped_* lineage name — merge/delete/update/compact must
    // re-record only dimensions the current schema still has, not
    // throw on the dropped one.
    val path = freshTable()
    GraftLake.create(
      (1L to 40L).map(i => (i, i * 10, i)).toDF("id", "aux", "v"),
      path, Some("id"), statsCols = Seq("aux"), bloomCols = Seq("aux"))
    GraftLake.dropColumn(path, "aux")
    // delete rewrites the victim set — previously AnalysisException.
    val (_, rewD, _, nD) =
      GraftLake.delete(spark, path, col("id") <= 5L, Some("id"))
    assert(rewD == 1 && nD == 5L)
    // merge after the drop works too.
    val (_, rewM, _) = GraftLake.merge(spark, path,
      Seq((6L, 999L)).toDF("id", "v"), Seq("id"), "id")
    assert(rewM == 1)
    // update and compact as well; recorded stats never name __dropped_*.
    GraftLake.update(spark, path, col("id") === 7L,
      Seq("v" -> lit(777L)), Some("id"))
    GraftLake.compact(spark, path, Seq("id"), numFiles = 2, Some("id"))
    assert(GraftLake.commits(path)
      .flatMap(_.stats.map(_.col)).forall(!_.startsWith("__dropped_")))
    val got = GraftLake.read(spark, path)
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.count() == 35)
    assert(got.filter(col("id") === 6L).head.getLong(1) == 999L)
    assert(got.filter(col("id") === 7L).head.getLong(1) == 777L)
  }

  test("restore aborts when ANY commit lands after the state it diffed — vacuum race safe") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))                                                    // v0
    GraftLake.merge(spark, path,
      (1L to 5L).map(i => (i, i * 2)).toDF("id", "v"), Seq("id"), "id") // v1
    // Restore to v0 races a zero-retention vacuum storm: the fence
    // must either land the restore cleanly or abort with CME — and
    // whatever lands, EVERY live set must still exist on disk (the
    // bug being prevented: a restore committing references to sets a
    // concurrent vacuum just deleted).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val restored = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rf = pool.submit(new Runnable {
      def run(): Unit = {
        var tries = 0
        while (!restored.get && tries < 10) {
          tries += 1
          try { GraftLake.restore(spark, path, 0); restored.set(true) }
          catch {
            case _: java.util.ConcurrentModificationException => ()
            case _: IllegalArgumentException => return // v0 vacuumed away: legal
          }
        }
      }
    })
    val vf = pool.submit(new Runnable {
      def run(): Unit = (1 to 5).foreach { _ => GraftLake.vacuum(path) }
    })
    rf.get(); vf.get(); pool.shutdown()
    // The invariant that matters: no live set dangles.
    val live = GraftLake.snapshot(path).live
    live.foreach { ls =>
      assert(Files.exists(java.nio.file.Paths.get(path, ls.set)),
        s"live set ${ls.set} references a vacuumed directory")
    }
    assert(GraftLake.read(spark, path).count() == 20)
  }

  test("racing updates on disjoint predicates serialize via CME + retry") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 40L).map(i => (i, 0L)).toDF("id", "v"), path,
      Some("id"))
    // Both updates hit the SAME file-set, so the loser's rewrite is
    // invalidated and must observe ConcurrentModificationException —
    // the documented optimistic contract; the caller retries on a
    // fresh snapshot. No outcome may lose either update.
    def updateWithRetry(pred: org.apache.spark.sql.Column, delta: Long): Unit = {
      var done = false
      var tries = 0
      while (!done) {
        tries += 1; require(tries <= 10, "too many CME retries")
        try {
          GraftLake.update(spark, path, pred,
            Seq("v" -> (col("v") + delta)), Some("id")); done = true
        } catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val f1 = pool.submit(new Runnable {
      def run(): Unit = updateWithRetry(col("id") <= 20L, 7L) })
    val f2 = pool.submit(new Runnable {
      def run(): Unit = updateWithRetry(col("id") > 20L, 11L) })
    f1.get(); f2.get(); pool.shutdown()
    val got = GraftLake.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 20L).forall(got(_) == 7L))
    assert((21L to 40L).forall(got(_) == 11L))
  }

  test("conflict matrix: update vs merge, replaceWhere vs compact, restore vs append all serialize cleanly") {
    import spark.implicits._
    def withRetry(op: () => Unit): Unit = {
      var done = false; var tries = 0
      while (!done) {
        tries += 1; require(tries <= 10, "too many CME retries")
        try { op(); done = true }
        catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    def race(a: () => Unit, b: () => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val fa = pool.submit(new Runnable { def run(): Unit = withRetry(a) })
      val fb = pool.submit(new Runnable { def run(): Unit = withRetry(b) })
      fa.get(); fb.get(); pool.shutdown()
    }

    // UPDATE racing MERGE on the same file-set: the loser observes CME
    // and retries on a fresh snapshot; the ops commute (update touches
    // existing rows, the merge inserts new keys), so the final state
    // is the same whichever lands first — neither write may be lost.
    val p1 = freshTable()
    GraftLake.create((1L to 40L).map(i => (i, 0L)).toDF("id", "v"), p1,
      Some("id"))
    race(
      () => { GraftLake.update(spark, p1, col("id") <= 20L,
        Seq("v" -> (col("v") + 7L)), Some("id")); () },
      () => { GraftLake.merge(spark, p1,
        Seq((101L, 1L), (102L, 2L)).toDF("id", "v"), Seq("id"), "id"); () })
    val g1 = GraftLake.read(spark, p1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 20L).forall(g1(_) == 7L))
    assert((21L to 40L).forall(g1(_) == 0L))
    assert(g1(101L) == 1L && g1(102L) == 2L)

    // REPLACE-WHERE racing COMPACT: compact is content-neutral, so any
    // serialization ends with the replaced range — and both rewrites
    // remove live sets, forcing the loser through the CME + retry path.
    val p2 = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i)).toDF("id", "v"), p2,
      Some("id"))
    GraftLake.append((21L to 40L).map(i => (i, i)).toDF("id", "v"), p2,
      statsCol = Some("id"))
    race(
      () => { GraftLake.replaceWhere(spark, p2,
        (1L to 20L).map(i => (i, i * 100L)).toDF("id", "v"),
        "id", 1L, 20L); () },
      () => { GraftLake.compact(spark, p2, Seq("id"), numFiles = 2,
        Some("id")); () })
    val g2 = GraftLake.read(spark, p2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 20L).forall(i => g2(i) == i * 100L))
    assert((21L to 40L).forall(i => g2(i) == i))

    // RESTORE racing APPEND: genuinely non-commuting — the legal
    // outcomes are exactly the two serializations (append then
    // rollback erases it; rollback then append keeps it). Whichever
    // lands, the log is gapless, every live set exists, and the state
    // IS one of the two.
    val p3 = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), p3,
      Some("id"))                                                    // v0
    GraftLake.merge(spark, p3, Seq((1L, 99L)).toDF("id", "v"),
      Seq("id"), "id")                                               // v1
    race(
      () => { GraftLake.restore(spark, p3, 0); () },
      () => { GraftLake.append(Seq((50L, 50L)).toDF("id", "v"), p3,
        statsCol = Some("id")); () })
    val ids3 = GraftLake.read(spark, p3).collect().map(_.getLong(0)).toSet
    val base10 = (1L to 10L).toSet
    assert(ids3 == base10 || ids3 == base10 + 50L, s"illegal state: $ids3")
    val vs = GraftLake.commits(p3).map(_.version)
    assert(vs == vs.indices.map(identity), s"gapless log expected: $vs")
    GraftLake.snapshot(p3).live.foreach { ls =>
      assert(Files.exists(java.nio.file.Paths.get(p3, ls.set)))
    }
  }

  test("vacuum retention keeps time travel alive inside the window") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 20L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))                                                    // v0
    GraftLake.overwrite((1L to 5L).map(i => (i, i * 2)).toDF("id", "v"),
      path)                                                          // v1
    // Retention window covering everything: nothing reclaimed, v0
    // still readable; and the sweep leaves an audit commit.
    val dead0 = GraftLake.vacuum(path, retainMillis = 3600L * 1000)
    assert(dead0.isEmpty)
    assert(GraftLake.commits(path).last.action == "vacuum")
    assert(GraftLake.readAt(spark, path, 0).count() == 20)
    // Zero retention: the overwritten set dies, v0 travel refuses,
    // HEAD unchanged.
    val dead1 = GraftLake.vacuum(path)
    assert(dead1.nonEmpty)
    intercept[Exception] { GraftLake.readAt(spark, path, 0).count() }
    assert(GraftLake.read(spark, path).count() == 5)
    // The feeds skip vacuum audit commits.
    assert(GraftLake.changesSince(spark, path, 2).count() == 0)
  }

  test("vacuum excludes writers via the claim lock; staged sets survive") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), path,
      Some("id"))
    GraftLake.overwrite((1L to 3L).map(i => (i, i)).toDF("id", "v"), path)
    // A STAGED-but-uncommitted set (writer between stage and claim):
    // present under data/, named by no commit — vacuum must not touch
    // it even with zero retention.
    val staged = java.nio.file.Paths.get(path, "data/cstagedwriter")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("part-0.parquet"), "x")
    val dead = GraftLake.vacuum(path)
    assert(dead.nonEmpty && !dead.contains("data/cstagedwriter"))
    assert(java.nio.file.Files.exists(staged.resolve("part-0.parquet")))
    // Concurrent appenders racing MANY vacuums: every append lands,
    // the log stays gapless, and nothing live is ever reclaimed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val jobs = (1 to 4).map { w =>
      pool.submit(new Runnable { def run(): Unit =
        GraftLake.append(Seq((100L + w, w.toLong)).toDF("id", "v"), path) })
    } ++ (1 to 4).map { _ =>
      pool.submit(new Runnable { def run(): Unit = { GraftLake.vacuum(path); () } })
    }
    jobs.foreach(_.get())
    pool.shutdown()
    val got = GraftLake.read(spark, path).collect()
      .map(r => r.getLong(0)).toSet
    assert(Set(1L, 2L, 3L, 101L, 102L, 103L, 104L).subsetOf(got))
    val versions = GraftLake.commits(path).map(_.version)
    assert(versions == versions.indices.map(identity),
      s"gapless log expected, got $versions")
  }

  test("lake z-order compaction narrows per-file spans on both dims in one atomic commit") {
    val path = freshTable()
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    GraftLake.create(li.repartition(8), path)
    val nBefore = GraftLake.read(spark, path).count()
    GraftLake.compactZOrder(spark, path, "l_partkey", "l_suppkey", numFiles = 8)
    // Content-neutral, single live set, both stats dims recorded.
    assert(GraftLake.read(spark, path).count() == nBefore)
    val last = GraftLake.commits(path).last
    assert(last.action == "compact")
    assert(last.stats.map(_.col).toSet == Set("l_partkey", "l_suppkey"))
    // Per-file min/max of BOTH dims must narrow vs global (a linear
    // sort leaves the second dim full-range in every file).
    import scala.jdk.CollectionConverters._
    val files = Files.list(java.nio.file.Paths.get(path, last.add.head))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size >= 4)
    Seq("l_partkey", "l_suppkey").foreach { c =>
      val g = {
        val r = li.agg(min(col(c).cast("double")), max(col(c).cast("double"))).head
        r.getDouble(1) - r.getDouble(0)
      }
      val avg = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head
        r.getDouble(1) - r.getDouble(0)
      }.sum / files.size
      assert(avg < 0.75 * g, f"$c avg per-file span $avg%.0f vs global $g%.0f")
    }
  }

  test("z-order compaction keeps Bloom point-lookup skipping, like compact") {
    import spark.implicits._
    def bloomTable(): String = {
      val path = freshTable()
      def evens(lo: Long, hi: Long) =
        (lo to hi by 2).map(i => (i, i * 10)).toDF("id", "v")
      GraftLake.create(evens(2L, 100L), path, Some("id"), bloomCols = Seq("id"))
      GraftLake.append(evens(102L, 200L), path, Some("id"), bloomCols = Seq("id"))
      path
    }
    val compacted = bloomTable()
    GraftLake.compact(spark, compacted, Seq("id"), numFiles = 1, Some("id"))
    val zordered = bloomTable()
    GraftLake.compactZOrder(spark, zordered, "id", "v", numFiles = 1)
    Seq("compact" -> compacted, "compactZOrder" -> zordered).foreach {
      case (how, path) =>
        // 101 is odd, so the rewritten set's Bloom rules it out.
        val (_, scanned, skipped) = GraftLake.readPoint(spark, path, "id", 101L)
        assert((scanned, skipped) == (0, 1), s"after $how")
        val (df, _, _) = GraftLake.readPoint(spark, path, "id", 100L)
        assert(df.filter(col("id") === 100L).count() == 1L, s"after $how")
    }
  }

  test("partitioned re-layout keeps Bloom point-lookup skipping, like compact") {
    import spark.implicits._
    val path = freshTable()
    def evens(lo: Long, hi: Long) =
      (lo to hi by 2).map(i => (i, i * 10, i % 4)).toDF("id", "v", "m")
    GraftLake.create(evens(2L, 100L), path, Some("id"), bloomCols = Seq("id"))
    GraftLake.append(evens(102L, 200L), path, Some("id"), bloomCols = Seq("id"))
    GraftLake.compactPartitioned(spark, path, "m")
    // 101 is odd, so every re-laid-out set's Bloom rules it out.
    val (_, scanned, skipped) = GraftLake.readPoint(spark, path, "id", 101L)
    assert((scanned, skipped) == (0, 2))
    val (df, _, _) = GraftLake.readPoint(spark, path, "id", 100L)
    assert(df.filter(col("id") === 100L).count() == 1L)
  }

  test("vacuum reclaims merged-away sets; latest survives, old snapshots don't") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val t = orders.select(col("o_orderkey"), col("o_orderstatus"),
      pmod(col("o_orderkey"), lit(4)).as("k4"))
    GraftLake.create(t.filter(col("k4") === 0), path, Some("k4"))
    GraftLake.append(t.filter(col("k4") === 1), path, Some("k4"))
    GraftLake.merge(spark, path,
      t.filter(col("k4") === 1).withColumn("o_orderstatus", lit("M")),
      Seq("o_orderkey"), "k4")
    val latestBefore = GraftLake.read(spark, path)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val dead = GraftLake.vacuum(path)
    assert(dead.size == 1, s"expected exactly the merged-away set, got $dead")
    // latest reads identically after vacuum …
    assert(GraftLake.read(spark, path)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq == latestBefore)
    // … but the pre-merge snapshot's files are gone (time travel traded away)
    assertThrows[Exception] {
      GraftLake.readAt(spark, path, 1).count()
    }
  }

  test("changesSince returns exactly the later commits' rows, versioned") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val t = orders.select(col("o_orderkey"), col("o_orderstatus"))
    GraftLake.create(t.filter(pmod(col("o_orderkey"), lit(3)) === 0), path)
    GraftLake.append(t.filter(pmod(col("o_orderkey"), lit(3)) === 1), path)
    GraftLake.append(t.filter(pmod(col("o_orderkey"), lit(3)) === 2), path)
    val changes = GraftLake.changesSince(spark, path, 0)
    assert(changes.columns.contains("_commit_version"))
    val byV = changes.groupBy("_commit_version").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byV.keySet == Set(1, 2))
    assert(byV(1) == t.filter(pmod(col("o_orderkey"), lit(3)) === 1).count())
    assert(byV(2) == t.filter(pmod(col("o_orderkey"), lit(3)) === 2).count())
    // a fully-caught-up reader gets an empty, correctly-shaped feed
    assert(GraftLake.changesSince(spark, path, 2).count() == 0)
    // a rewriting commit cannot masquerade as inserts
    GraftLake.overwrite(t.limit(1), path)
    assertThrows[IllegalStateException] {
      GraftLake.changesSince(spark, path, 0)
    }
  }

  test("compaction is one atomic content-neutral commit with a sorted layout") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    val t = orders.select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    GraftLake.create(t.filter(pmod(col("o_orderkey"), lit(4)) === 0), path)
    (1 to 3).foreach(i =>
      GraftLake.append(t.filter(pmod(col("o_orderkey"), lit(4)) === i), path))
    val before = GraftLake.read(spark, path)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val vPre = GraftLake.latestVersion(path)
    GraftLake.compact(spark, path, Seq("cents"), numFiles = 2, Some("cents"))
    // content-neutral …
    assert(GraftLake.read(spark, path)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq == before)
    // … one live set remains …
    val live = GraftLake.commits(path).foldLeft(Set.empty[String]) {
      (acc, c) => acc -- c.remove ++ c.add
    }
    assert(live.size == 1)
    // … pre-compaction snapshot still time-travels …
    assert(GraftLake.readAt(spark, path, vPre)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq == before)
    // … the CDC feed refuses to represent the rewrite as inserts …
    assertThrows[IllegalStateException] {
      GraftLake.changesSince(spark, path, 0)
    }
    // … and vacuum then reclaims exactly the 4 compacted-away sets.
    assert(GraftLake.vacuum(path).size == 4)
  }

  test("history() exposes the audit trail; registerView serves SQL over the snapshot") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(100), path)
    GraftLake.appendIdempotent(orders.limit(30), path, "epoch-7")
    GraftLake.deleteMoR(spark, path, col("o_orderkey") % 2 === 0, "o_orderkey")
    val h = GraftLake.history(spark, path).orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq == Seq("create", "append", "tombstone"))
    assert(h.forall(_.getTimestamp(2).getTime > 0))
    assert(h(1).getString(5) == "epoch-7")
    GraftLake.registerView(spark, path, "lake_orders_v")
    val viaSql = spark.sql(
      "SELECT count(*) FROM lake_orders_v WHERE o_orderkey % 2 = 0").head.getLong(0)
    assert(viaSql == 0, "the SQL view must serve the tombstone-applied snapshot")
  }

  test("checkpoint: snapshot resolution reads only the log suffix; tags/tombstones/evolution carry through") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(100), path, statsCol = Some("o_orderkey")) // v0
    GraftLake.appendIdempotent(orders.limit(20), path, "epoch-1")            // v1
    GraftLake.append(                                                        // v2: schema evolution
      orders.limit(10).withColumn("note", lit("late")), path)
    val delKey = GraftLake.read(spark, path)
      .agg(min("o_orderkey")).head.getLong(0)
    GraftLake.deleteMoR(spark, path,
      col("o_orderkey") === delKey, "o_orderkey")                            // v3: tombstone
    val before = GraftLake.read(spark, path).count()
    val ckptV = GraftLake.checkpoint(path)
    assert(ckptV == 3)
    assert(Files.exists(java.nio.file.Paths.get(path, "_graft_log", "00000003.ckpt")))
    assert(Files.readString(
      java.nio.file.Paths.get(path, "_graft_log", "_last_checkpoint")).trim == "3")
    // The checkpointed snapshot is byte-for-byte the folded log state.
    assert(GraftLake.read(spark, path).count() == before)
    // Exactly-once tags survive the checkpoint: a replayed epoch is a no-op.
    assert(GraftLake.appendIdempotent(orders.limit(20), path, "epoch-1") == 1)
    assert(GraftLake.latestVersion(path) == 3)
    // Proof the latest-snapshot path never parses the pre-checkpoint log:
    // corrupt v0's entry — read()/append() keep working, time travel to v0
    // (which must replay the full log) fails loudly on the crc.
    val v0 = java.nio.file.Paths.get(path, "_graft_log", "00000000.json")
    Files.writeString(v0, Files.readString(v0).replaceFirst("create", "craete"))
    assert(GraftLake.read(spark, path).count() == before)
    GraftLake.append( // v4, on top of the checkpoint
      orders.filter(col("o_orderkey") =!= delKey).limit(5), path)
    assert(GraftLake.read(spark, path).count() == before + 5)
    intercept[IllegalArgumentException] { GraftLake.readAt(spark, path, 0) }
    // A torn/bit-flipped checkpoint fails as loudly as a torn commit.
    val ck = java.nio.file.Paths.get(path, "_graft_log", "00000003.ckpt")
    val ckBytes = Files.readString(ck)
    Files.writeString(ck, ckBytes.replaceFirst("checkpoint", "chekcpoint"))
    intercept[IllegalArgumentException] { GraftLake.snapshot(path) }
    Files.writeString(ck, ckBytes) // restore
    assert(GraftLake.read(spark, path).count() == before + 5)
  }

  test("auto-checkpoint: the commit path writes checkpoints at the configured cadence") {
    val prev = sys.props.get("graft.lake.checkpointInterval")
    sys.props("graft.lake.checkpointInterval") = "4"
    try {
      val path = freshTable()
      val orders = Tables.orders(spark, sf)
      GraftLake.create(orders.limit(10), path)       // v0
      (1 to 9).foreach(_ => GraftLake.append(orders.limit(1), path)) // v1..v9
      val dir = java.nio.file.Paths.get(path, "_graft_log")
      import scala.jdk.CollectionConverters._
      val ckpts = Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".ckpt")).toSeq.sorted
      assert(ckpts == Seq("00000004.ckpt", "00000008.ckpt"))
      assert(Files.readString(dir.resolve("_last_checkpoint")).trim == "8")
      assert(GraftLake.read(spark, path).count() == 19)
      // Every historical version still travels (the log is never deleted).
      assert(GraftLake.readAt(spark, path, 4).count() == 14)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.lake.checkpointInterval") = p
        case None => sys.props -= "graft.lake.checkpointInterval"
      }
    }
  }

  test("commit log entries carry a crc seal; a corrupted entry fails loudly") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(50), path)
    GraftLake.append(orders.limit(20), path)
    assert(GraftLake.read(spark, path).count() == 70) // seals verify
    // Flip one byte inside the published v1 entry: every read that
    // touches the log must now fail loudly, not serve a wrong table.
    val f = java.nio.file.Paths.get(path, "_graft_log", "00000001.json")
    val txt = Files.readString(f)
    val i = txt.indexOf("\"add\"") + 10
    Files.writeString(f, txt.updated(i, if (txt(i) == 'a') 'b' else 'a'))
    val e = intercept[IllegalArgumentException] {
      GraftLake.read(spark, path).count()
    }
    assert(e.getMessage.contains("crc"))
  }

  test("commit log round-trips hostile tag strings (the log IS the table)") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders.limit(1), path)
    val nasty = Seq(
      """quote " inside""", """back\slash""", "new\nline", "tab\tchar",
      "unicode-é中文", """{"json":"looking","add":["x"]}""")
    nasty.foreach(t => GraftLake.appendIdempotent(orders.limit(1), path, t))
    val tags = GraftLake.commits(path).flatMap(_.tag)
    assert(tags == nasty, s"tags corrupted by log round-trip: $tags")
    // and the tag-keyed idempotence still holds through the round-trip
    val before = GraftLake.latestVersion(path)
    nasty.foreach(t => GraftLake.appendIdempotent(orders.limit(1), path, t))
    assert(GraftLake.latestVersion(path) == before)
  }

  test("model-based property: random append/overwrite/merge sequences match an in-memory model at EVERY version") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { round =>
      val path = freshTable()
      def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v")
      var nextId = 0L
      def freshRows(n: Int): Seq[(Long, Long)] = {
        val rs = (0 until n).map(i => (nextId + i, rnd.nextLong(1000)))
        nextId += n
        rs
      }
      // model(i) = table contents as of version i
      var model = Vector.empty[Map[Long, Long]]
      val init = freshRows(5 + rnd.nextInt(5))
      GraftLake.create(df(init), path, Some("id"))
      model :+= init.toMap
      (0 until 6).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => // append fresh ids
            val rs = freshRows(1 + rnd.nextInt(6))
            GraftLake.append(df(rs), path, Some("id"))
            model :+= (model.last ++ rs)
          case 1 => // overwrite with a random subset re-valued
            val keep = model.last.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).map(id => (id, rnd.nextLong(1000)))
            val rs = if (keep.nonEmpty) keep else freshRows(2)
            GraftLake.overwrite(df(rs), path)
            model :+= rs.toMap
          case 2 => // merge: update half the existing ids, insert one
            val upd = model.last.keys.toSeq.sorted
              .filter(_ % 2 == 0).map(id => (id, rnd.nextLong(1000)))
            val ins = freshRows(1)
            GraftLake.merge(spark, path, df(upd ++ ins), Seq("id"), "id")
            model :+= (model.last ++ upd ++ ins)
        }
      }
      (0 until model.size).foreach { v =>
        val got = GraftLake.readAt(spark, path, v).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model(v),
          s"round $round version $v: lake ${got.size} rows != model ${model(v).size}")
      }
    }
  }

  test("predicate pushdown reaches the lake's parquet scans") {
    val path = freshTable()
    val orders = Tables.orders(spark, sf)
    GraftLake.create(orders, path)
    val q = GraftLake.read(spark, path).filter(col("o_totalprice") >= 400000.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_totalprice,400000.0)"),
      s"filter not pushed into the lake scan:\n$plan")
  }

  test("CHECK constraints: violations refuse commits, NULL passes, drop re-opens") {
    import spark.implicits._
    val path = freshTable()
    GraftLake.create(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    GraftLake.addConstraint(spark, path, "v_pos", "v > 0")
    // Valid delta lands; violating delta is refused atomically.
    GraftLake.append(Seq((3L, 30L)).toDF("id", "v"), path)
    val vBefore = GraftLake.latestVersion(path)
    intercept[IllegalStateException] {
      GraftLake.append(Seq((4L, -4L)).toDF("id", "v"), path)
    }
    assert(GraftLake.latestVersion(path) == vBefore)
    assert(GraftLake.read(spark, path).count() == 3)
    // SQL CHECK semantics: a NULL predicate passes (unknown != false).
    GraftLake.append(
      Seq((5L, Option.empty[Long])).toDF("id", "v"), path)
    assert(GraftLake.read(spark, path).count() == 4)
    // Merge is gated too.
    intercept[IllegalStateException] {
      GraftLake.merge(spark, path,
        Seq((1L, -1L)).toDF("id", "v"), Seq("id"), "id")
    }
    // Existing-data validation refuses a retroactively-false rule.
    intercept[IllegalStateException] {
      GraftLake.addConstraint(spark, path, "small", "v < 25")
    }
    // Re-using a live rule name is refused (no silent predicate swap
    // — Delta's ADD CONSTRAINT semantics).
    intercept[IllegalArgumentException] {
      GraftLake.addConstraint(spark, path, "v_pos", "v > 100")
    }
    // Drop re-opens the gate; history/travel still work across the
    // constraint commits.
    GraftLake.dropConstraint(path, "v_pos")
    GraftLake.append(Seq((6L, -6L)).toDF("id", "v"), path)
    assert(GraftLake.constraintsOf(path).isEmpty)
    assert(GraftLake.read(spark, path).count() == 5)
    assert(GraftLake.readAt(spark, path, 0).count() == 2)
  }

  test("CHECK constraints survive checkpoints and gate the DSv2 sink; streams skip rule commits") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-lake-cons")
    val path = base.resolve("t").toString
    GraftLake.create(Seq((1L, 10L)).toDF("id", "v"), path)
    GraftLake.addConstraint(spark, path, "v_pos", "v > 0")
    GraftLake.checkpoint(path)
    // Snapshot resolved THROUGH the checkpoint still carries the rule.
    assert(GraftLake.constraintsOf(path) == Map("v_pos" -> "v > 0"))
    intercept[IllegalStateException] {
      GraftLake.append(Seq((2L, -2L)).toDF("id", "v"), path)
    }
    // DSv2 sink path: violating batch write refused, staging cleaned.
    val vBefore = GraftLake.latestVersion(path)
    intercept[Exception] {
      Seq((3L, -3L)).toDF("id", "v")
        .write.format("graft-lake").option("path", path).mode("append").save()
    }
    assert(GraftLake.latestVersion(path) == vBefore)
    Seq((4L, 40L)).toDF("id", "v")
      .write.format("graft-lake").option("path", path).mode("append").save()
    assert(GraftLake.read(spark, path).count() == 2)
    // The lake stream treats rule commits as empty batches: it must
    // deliver exactly the data rows and not choke on version gaps.
    val outDir = base.resolve("out").toString
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream
      .option("checkpointLocation", base.resolve("ck").toString)
      .format("parquet").option("path", outDir)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
    assert(got.count() == 2)
    assert(got.select("_commit_version").distinct().count() == 2)
  }

  test("bloom point lookup: sound on every key, prunes a mod-split layout") {
    val path = freshTable()
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    GraftLake.create(o.filter(pmod(col("o_orderkey"), lit(4)) === 0), path,
      bloomCols = Seq("o_orderkey"))
    (1 to 3).foreach(b => GraftLake.append(
      o.filter(pmod(col("o_orderkey"), lit(4)) === b), path,
      bloomCols = Seq("o_orderkey")))
    // Soundness: every probed key returns exactly its rows (a bloom
    // "no" is only ever exact), including keys from every set.
    (0 to 11).foreach { key =>
      val (df, scanned, skipped) =
        GraftLake.readPoint(spark, path, "o_orderkey", key.toLong)
      assert(scanned + skipped == 4)
      val got = df.filter(col("o_orderkey") === key).count()
      assert(got == 1, s"key $key: $got rows")
      // The home set must be scanned; FPs may add at most a couple.
      assert(scanned >= 1 && scanned <= 2, s"key $key scanned $scanned")
    }
    // An absent key skips (almost) everything.
    val (_, missScan, missSkip) =
      GraftLake.readPoint(spark, path, "o_orderkey", 99999999L)
    assert(missScan <= 1 && missSkip >= 3)
  }

  test("corrupted bloom sidecar degrades to a conservative scan, never a wrong answer") {
    val path = freshTable()
    val o = Tables.orders(spark, sf).select(col("o_orderkey"))
    GraftLake.create(o.filter(col("o_orderkey") < 100), path,
      bloomCols = Seq("o_orderkey"))
    GraftLake.append(o.filter(col("o_orderkey") >= 100), path,
      bloomCols = Seq("o_orderkey"))
    // Flip a byte in every sidecar: the crc rejects them and readPoint
    // must fall back to reading all sets.
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dataDir = JPaths.get(path, "data")
    JFiles.list(dataDir).forEach { setDir =>
      val sc = setDir.resolve("_bloom_o_orderkey.json")
      val bytes = JFiles.readAllBytes(sc)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
      JFiles.write(sc, bytes)
    }
    val (df, scanned, skipped) =
      GraftLake.readPoint(spark, path, "o_orderkey", 42L)
    assert(scanned == 2 && skipped == 0, "corrupt blooms must not prune")
    assert(df.filter(col("o_orderkey") === 42).count() == 1)
  }

  test("BloomAgg bytes are partitioning-invariant (OR-merge determinism)") {
    import graft.functions.VectorFunctions
    val o = Tables.orders(spark, sf).select(col("o_orderkey"))
    def bloomOf(parts: Int): Array[Byte] =
      o.repartition(parts)
        .agg(VectorFunctions.bloomAgg(col("o_orderkey"), 1024).as("b"))
        .head.getAs[Array[Byte]]("b")
    val a = bloomOf(1)
    val b = bloomOf(13)
    assert(java.util.Arrays.equals(a, b),
      "bloom bytes must not depend on partitioning")
    // And membership behaves: all present keys hit, far keys mostly miss.
    val words = graft.plans.GraftBloom.fromBytes(a)
    val keys = o.limit(200).collect().map(_.getLong(0))
    assert(keys.forall(k =>
      graft.plans.GraftBloom.mightContain(words, graft.plans.GraftBloom.DefaultK, k)))
    val fps = (10000000L until 10001000L)
      .count(k => graft.plans.GraftBloom.mightContain(
        words, graft.plans.GraftBloom.DefaultK, k))
    assert(fps < 50, s"false-positive rate too high: $fps/1000")
  }

  test("a many-set read plans O(schemas) scan nodes, not O(sets)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val p = java.nio.file.Files.createTempDirectory("graft-bulkread")
      .resolve("t").toString
    GraftLake.create(Seq((0L, 0L)).toDF("id", "v"), p, Some("id"))
    (1 to 30).foreach(i => GraftLake.append(
      Seq((i.toLong, i.toLong)).toDF("id", "v"), p, Some("id")))
    val df = GraftLake.read(spark, p)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"31 same-schema sets must plan ONE scan relation, got ${scans.size}")
    assert(df.count() == 31)
    assert(df.agg(sum(col("v"))).head.getLong(0) == (0 to 30).map(_.toLong).sum)
    // schema evolution splits the bulk read by written schema — one
    // relation per DISTINCT schema, evolved columns null-filled
    GraftLake.append(Seq((31L, 31L, "x")).toDF("id", "v", "tag"), p, Some("id"))
    val df2 = GraftLake.read(spark, p)
    val scans2 = df2.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans2.size == 2,
      s"two written schemas must plan TWO scan relations, got ${scans2.size}")
    assert(df2.count() == 32)
    assert(df2.filter(col("tag").isNull).count() == 31)
    // outstanding deletion vectors keep one relation per schema: the
    // mask is one (set, file, pos) anti-join, not one join per set.
    // optimizedPlan, not executedPlan: AQE hides the physical scans.
    val pd = freshTable()
    GraftLake.create(Seq((0L, 0L)).toDF("id", "v"), pd, Some("id"))
    (1 to 30).foreach(i => GraftLake.append(
      Seq((i.toLong, i.toLong)).toDF("id", "v"), pd, Some("id")))
    val (_, nDel) = GraftLake.deleteDv(spark, pd, expr("id % 2 = 0"))
    assert(nDel == 16)
    assert(GraftLake.lastDvScanSets == ((31, 0)))
    val (pruned, scanned, skipped) =
      GraftLake.readPruned(spark, pd, Seq(("id", 0L, 30L)))
    assert(scanned == 31 && skipped == 0)
    Seq("read" -> GraftLake.read(spark, pd),
        "readAt" -> GraftLake.readAt(spark, pd, GraftLake.latestVersion(pd)),
        "readPruned" -> pruned).foreach { case (what, dvDf) =>
      val dataScans = dvDf.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if !r.output.exists(_.name == "__dv_pos") => r
      }
      assert(dataScans.size == 1,
        s"$what of 31 DV-masked same-schema sets must plan ONE data " +
          s"relation, got ${dataScans.size}")
      assert(dvDf.count() == 15, what)
      assert(dvDf.filter(expr("id % 2 = 0")).count() == 0, what)
      assert(dvDf.agg(sum(col("v"))).head.getLong(0) ==
        (1 to 29 by 2).map(_.toLong).sum, what)
    }
  }
}
