package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLake, LakeStreamSource}

class LakeStreamSourceSpec extends AnyFunSuite with SparkSpec {

  private def freshBase(): java.nio.file.Path =
    Files.createTempDirectory("graft-lakestream")

  private def orders: DataFrame =
    Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  test("tailing stream delivers mid-stream appends exactly once, tagged by commit") {
    val base = freshBase()
    val path = base.resolve("t").toString
    val outDir = base.resolve("out").toString
    val ckDir = base.resolve("ck").toString
    val v0 = orders.filter(col("o_orderkey") % 3 === 0)
    val v1 = orders.filter(col("o_orderkey") % 3 === 1)
    val v2 = orders.filter(col("o_orderkey") % 3 === 2)
    GraftLake.create(v0, path)
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream.option("checkpointLocation", ckDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .start()
    try {
      q.processAllAvailable()
      GraftLake.append(v1, path) // arrives while the stream runs
      q.processAllAvailable()
      GraftLake.append(v2, path)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir)
    // Every commit's rows exactly once, with the right version tag.
    assert(got.count() == orders.count())
    val byV = got.groupBy("_commit_version").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byV == Map(0 -> v0.count(), 1 -> v1.count(), 2 -> v2.count()))
    assert(got.select("o_orderkey").distinct().count() == orders.count())

    // RESTART from the checkpoint with no new commits: nothing replays
    // (the offset is the committed log version — exactly-once on
    // recovery, the read dual of appendIdempotent).
    val q2 = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream.option("checkpointLocation", ckDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == orders.count(),
      "checkpoint restart must not re-deliver already-committed versions")
  }

  test("non-insert commits are rejected: the tail is an insert-only CDC stream") {
    val base = freshBase()
    val path = base.resolve("t").toString
    GraftLake.create(orders.limit(100), path)
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .format("noop")
      .start()
    try {
      q.processAllAvailable()
      GraftLake.overwrite(orders.limit(10), path)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("not representable") ||
        Option(e.getCause).exists(_.getMessage.contains("not representable")))
    } finally q.stop()
  }

  test("a plain tail rejects a mid-stream updatedv commit loudly (use cdf=true)") {
    import org.apache.spark.sql.functions._
    val base = freshBase()
    val path = base.resolve("t").toString
    GraftLake.create(orders.limit(100), path, Some("o_orderkey"))
    GraftLake.enableDeletionVectors(path)
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .format("noop")
      .start()
    try {
      q.processAllAvailable()
      // a DV update mutates in place — rows change without moving
      // bytes, so an insert-only tail cannot represent it
      GraftLake.updateDv(spark, path, expr("o_orderkey <= 5"),
        Seq("o_orderstatus" -> lit("X")))
      assert(GraftLake.commits(path).last.action == "updatedv")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("updatedv") && msg.contains("not representable"),
        s"expected a loud updatedv rejection, got: $msg")
    } finally q.stop()
  }

  test("column pruning reaches the parquet readers; schema evolution null-fills") {
    val base = freshBase()
    val path = base.resolve("t").toString
    val outDir = base.resolve("out").toString
    GraftLake.create(orders.drop("cents").limit(50), path)        // narrow v0
    GraftLake.append(orders.limit(50), path)                      // wide v1
    LakeStreamSource.readSchemas.clear()
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path)
      .option("columns", "o_orderstatus,cents")                   // prune o_orderkey
      .load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val schemas = {
      import scala.jdk.CollectionConverters._
      LakeStreamSource.readSchemas.iterator().asScala.toSeq
    }
    assert(schemas.exists(s => !s.contains("o_orderkey")),
      s"pruned column still reached the reader: $schemas")
    val got = spark.read.parquet(outDir)
    assert(got.count() == 100)
    // v0 predates the cents column: those rows null-fill.
    assert(got.filter(col("_commit_version") === 0 && col("cents").isNull).count() == 50)
    assert(got.filter(col("_commit_version") === 1 && col("cents").isNotNull).count() == 50)
  }

  test("stream reads sets written with non-nullable columns (required parquet fields)") {
    // lit() columns are non-nullable: Spark writes them as parquet
    // `required`, while the log's merged schema stays nullable — the
    // reader's projection must follow the FILE, not the log.
    val base = freshBase()
    val path = base.resolve("t").toString
    val o = orders.select(col("o_orderkey"))
    GraftLake.create(o.limit(20), path)
    GraftLake.append(
      o.limit(10).withColumn("src", org.apache.spark.sql.functions.lit("U")),
      path)
    val outDir = base.resolve("out").toString
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream
      .option("checkpointLocation", base.resolve("ck").toString)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(outDir)
    assert(got.count() == 30)
    assert(got.filter(col("src") === "U").count() == 10)
    assert(got.filter(col("_commit_version") === 0 && col("src").isNull).count() == 20)
  }

  test("tagged merge is exactly-once: replaying an epoch is a no-op") {
    val base = freshBase()
    val path = base.resolve("m").toString
    val o = orders.select(col("o_orderkey"), col("cents"))
    GraftLake.create(o, path, Some("o_orderkey"))
    val upd = o.limit(40).withColumn("cents", col("cents") + 1)
    val (v1, rew1, _) = GraftLake.merge(
      spark, path, upd, Seq("o_orderkey"), "o_orderkey", tag = Some("e1"))
    assert(v1 == 1 && rew1 >= 1)
    val countAfter = GraftLake.read(spark, path).count()
    // Replay: same tag → same version, nothing rewritten, no new commit.
    val (v2, rew2, _) = GraftLake.merge(
      spark, path, upd, Seq("o_orderkey"), "o_orderkey", tag = Some("e1"))
    assert(v2 == v1 && rew2 == 0)
    assert(GraftLake.latestVersion(path) == v1)
    assert(GraftLake.read(spark, path).count() == countAfter)
    // A NEW tag applies (and is idempotent in content here anyway).
    val (v3, _, _) = GraftLake.merge(
      spark, path, upd, Seq("o_orderkey"), "o_orderkey", tag = Some("e2"))
    assert(v3 == v1 + 1)
  }

  test("cdf=true streams typed changes across merge and delete commits") {
    import spark.implicits._
    val base = freshBase()
    val path = base.resolve("t").toString
    val outDir = base.resolve("out").toString
    GraftLake.create(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), path, Some("k"))
    GraftLake.enableCdf(path)
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).option("cdf", "true").load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .start()
    try {
      q.processAllAvailable()
      GraftLake.merge(spark, path,                       // v1: update + insert
        Seq((2L, 99L), (7L, 70L)).toDF("k", "v"), Seq("k"), "k")
      q.processAllAvailable()
      GraftLake.delete(spark, path, col("k") === 1L, Some("k")) // v2
      q.processAllAvailable()
      GraftLake.deleteMoR(spark, path, col("k") === 3L, "k")    // v3
      q.processAllAvailable()
      GraftLake.updateDv(spark, path, col("k") === 2L,          // v4 (MoR,
        Seq("v" -> (col("v") + 1)))     // atop the outstanding tombstone)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).collect().map(r => (
      r.getLong(r.fieldIndex("k")), r.getLong(r.fieldIndex("v")),
      r.getString(r.fieldIndex("_change_type")),
      r.getInt(r.fieldIndex("_commit_version")))).toSet
    assert(got == Set(
      (1L, 10L, "insert", 0), (2L, 20L, "insert", 0), (3L, 30L, "insert", 0),
      (2L, 20L, "update_preimage", 1), (2L, 99L, "update_postimage", 1),
      (7L, 70L, "insert", 1),
      (1L, 10L, "delete", 2),
      (3L, 30L, "delete", 3),
      (2L, 99L, "update_preimage", 4), (2L, 100L, "update_postimage", 4)))
    // The non-CDF tail over the same log still refuses the mutations.
    val q2 = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream
      .option("checkpointLocation", base.resolve("ck2").toString)
      .format("noop").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("not representable") ||
      Option(e.getCause).exists(_.getMessage.contains("not representable")))
  }

  test("maxCommitsPerTrigger bounds each micro-batch without losing or doubling commits") {
    import spark.implicits._
    val base = freshBase()
    val path = base.resolve("t").toString
    // Five commits before the stream starts — an unthrottled tail
    // would catch up in ONE batch; the throttle must step through in
    // batches of at most 2 commits, delivering every row exactly once.
    GraftLake.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), path)
    (1 to 4).foreach { k =>
      GraftLake.append(
        (k * 10L + 1 to k * 10L + 10).map(i => (i, i)).toDF("id", "v"), path)
    }
    val outDir = base.resolve("out").toString
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).option("maxCommitsPerTrigger", "2").load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        batchSizes.add(
          b.select(col("_commit_version")).distinct().collect().length)
        b.write.mode("append").parquet(outDir); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.iterator().asScala.toSeq.filter(_ > 0)
    assert(sizes.forall(_ <= 2), s"a batch exceeded the throttle: $sizes")
    assert(sizes.size >= 3, s"throttle produced too few batches: $sizes")
    val got = spark.read.parquet(outDir)
    assert(got.count() == 50)
    assert(got.select("id").distinct().count() == 50)
    assert(got.select("_commit_version").distinct().count() == 5)
  }

  test("cdf mirror survives a mid-mutation-sequence checkpoint restart: nothing doubled, nothing skipped") {
    import spark.implicits._
    val base = freshBase()
    val src = base.resolve("src").toString
    val dst = base.resolve("dst").toString
    val ck = base.resolve("ck").toString
    val df = (1L to 40L).map(i => (i, i * 10)).toDF("k", "v")
    GraftLake.create(df, src, Some("k"))
    GraftLake.enableCdf(src)
    GraftLake.create(df.limit(0), dst, Some("k"))

    // The st19 apply loop, restartable: per batch the per-key latest
    // change wins; deletes via deleteKeys, images via merge — both
    // tag-idempotent per epoch.
    def runMirror(): Unit = {
      val q = spark.readStream.format("graft-lake-stream")
        .option("path", src).option("cdf", "true").load()
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("k"))
            .orderBy(col("_commit_version").desc,
              when(col("_change_type") === "update_preimage", 0)
                .otherwise(1).desc)
          val latest = batch.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).localCheckpoint(true)
          GraftLake.deleteKeys(spark, dst,
            latest.filter(col("_change_type") === "delete").select(col("k")),
            "k", Some("k"), tag = Some(s"cdf-del-$batchId"))
          GraftLake.merge(spark, dst,
            latest.filter(col("_change_type") =!= "delete")
              .drop("rn", "_change_type", "_commit_version"),
            Seq("k"), "k", tag = Some(s"cdf-up-$batchId"))
          ()
        }
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // Leg 1: seed + one update wave, then the stream DIES (stop()).
    GraftLake.update(spark, src, col("k") <= 10L,
      Seq("v" -> (col("v") + 1L)), Some("k"))                        // v1
    runMirror()
    val tagsAfterLeg1 = GraftLake.snapshot(dst).tags.keySet
    // Mid-sequence mutations land while the mirror is DOWN.
    GraftLake.delete(spark, src, col("k") % 5L === 0L, Some("k"))    // v2
    GraftLake.update(spark, src, col("k") === 3L,
      Seq("v" -> lit(999L)), Some("k"))                              // v3
    // Leg 2: resume from the SAME checkpoint — only v2/v3 apply.
    runMirror()
    // Leg 3: restart again with NO new source commits — the mirror
    // must not move at all (offsets consumed, tags already present).
    val dstVer = GraftLake.latestVersion(dst)
    runMirror()
    assert(GraftLake.latestVersion(dst) == dstVer,
      "an empty restart re-applied changes")

    // Nothing doubled: every apply tag is unique in the dst log (the
    // log is the ledger — a double apply would need a second commit
    // with the same tag, which appendIdempotent/merge refuse).
    val tags = GraftLake.commits(dst).flatMap(_.tag)
    assert(tags.distinct.size == tags.size, s"duplicated tags: $tags")
    assert(tagsAfterLeg1.subsetOf(GraftLake.snapshot(dst).tags.keySet))
    // Nothing skipped: the mirror equals the source row-for-row.
    val a = GraftLake.read(spark, src).collect().map(_.toSeq).toSet
    val b = GraftLake.read(spark, dst).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // And the final state is the mutation arithmetic, spot-checked.
    val got = GraftLake.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(5L) && !got.contains(20L)) // deleted (k%5==0)
    assert(got(3L) == 999L)                         // post-restart update
    assert(got(7L) == 71L)                          // pre-restart update
    assert(got(11L) == 110L)                        // untouched
  }

  test("padd commits stream as inserts in both plain and cdf tails (hive value reconstructed)") {
    import spark.implicits._
    val base = freshBase()
    val path = base.resolve("t").toString
    // A partitioned table (the src30 layout): the partition column is
    // hive-encoded in each set's directory, NOT in the parquet bytes —
    // the stream must reconstruct it per partition, not null-fill it.
    val df = (1L to 60L).map(i => (i, i % 3 + 10, i * 7)).toDF("id", "p", "v")
    GraftLake.appendPartitioned(df, path, "p", statsCols = Seq("id")) // v0
    GraftLake.enableCdf(path)

    // CDF tail: padd rows arrive as typed inserts.
    val outCdf = base.resolve("out-cdf").toString
    val q = spark.readStream.format("graft-lake-stream")
      .option("path", path).option("cdf", "true").load()
      .writeStream.option("checkpointLocation", base.resolve("ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outCdf); ()
      }
      .start()
    try {
      q.processAllAvailable()
      GraftLake.appendPartitioned(                                   // v1
        (61L to 80L).map(i => (i, i % 2 + 10, i * 7)).toDF("id", "p", "v"),
        path, "p")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outCdf).collect().map(r => (
      r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("p")),
      r.getLong(r.fieldIndex("v")), r.getString(r.fieldIndex("_change_type")),
      r.getInt(r.fieldIndex("_commit_version")))).toSet
    val want =
      (1L to 60L).map(i => (i, i % 3 + 10, i * 7, "insert", 0)).toSet ++
        (61L to 80L).map(i => (i, i % 2 + 10, i * 7, "insert", 1)).toSet
    assert(got == want)

    // Plain tail: padd is insert-only, so it streams too (no refusal),
    // with the same reconstructed partition values.
    val outPlain = base.resolve("out-plain").toString
    val q2 = spark.readStream.format("graft-lake-stream")
      .option("path", path).load()
      .writeStream.option("checkpointLocation", base.resolve("ck2").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outPlain); ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.read.parquet(outPlain).collect().map(r => (
      r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("p")),
      r.getLong(r.fieldIndex("v")))).toSet
    assert(got2 == (1L to 80L).map(i =>
      (i, if (i <= 60) i % 3 + 10 else i % 2 + 10, i * 7)).toSet)
  }

  test("the stream schema ignores a pending transaction's evolved schema") {
    import spark.implicits._
    val base = freshBase()
    val path = base.resolve("t").toString
    GraftLake.create(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path)
    val appended = new java.util.concurrent.CountDownLatch(1)
    val inferred = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // Thread A holds a SQL transaction open over an append that adds
    // a column; the transaction is pending to every other thread.
    val a = new Thread(() => {
      GraftLake.sqlTxnBegin()
      try {
        GraftLake.append(
          Seq((3L, 30L, 1L)).toDF("id", "v", "extra"), path)
        appended.countDown()
        inferred.await()
      } catch { case e: Throwable => failure.set(e); appended.countDown() }
      finally GraftLake.sqlTxnRollback()
    })
    a.start()
    try {
      assert(appended.await(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(failure.get == null, s"thread A failed: ${failure.get}")
      assert(GraftLake.latestStableVersion(path) == 0)
      val fields = spark.readStream.format("graft-lake-stream")
        .option("path", path).load().schema.fieldNames.toSeq
      assert(fields == Seq("id", "v", "_commit_version"))
    } finally { inferred.countDown(); a.join() }
  }
}
