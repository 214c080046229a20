package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Differential spec of the state resolver: with frequent automatic
  * checkpoints, the state `stateAt` resolves from a checkpoint plus
  * its log suffix equals the checkpoint-free fold of the same log at
  * every version — live sets and their stats, tombstones, tags,
  * renames, constraints, the row-id high water — and `readAt` serves
  * the same rows. The checkpoint-free fold is the resolver run over a
  * copy of the table without its checkpoint files.
  */
class LakeStateAtSpec extends AnyFunSuite with SparkSpec {

  private def withoutCheckpoints(table: String): String = {
    import scala.jdk.CollectionConverters._
    val src = Paths.get(table)
    val dst = Files.createTempDirectory("graft-stateat-fold").resolve("t")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val name = p.getFileName.toString
      val to: Path = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (!name.endsWith(".ckpt") && name != "_last_checkpoint")
        Files.copy(p, to)
    }
    dst.toString
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  test("a checkpointed state equals the checkpoint-free fold at every version") {
    import spark.implicits._
    val prev = sys.props.get("graft.lake.checkpointInterval")
    sys.props("graft.lake.checkpointInterval") = "4"
    try {
      val t = Files.createTempDirectory("graft-stateat").resolve("t").toString
      var next = 1L
      def batch(n: Int, c: String = "v"): DataFrame = {
        val df = (next until next + n).map(i => (i, i * 10)).toDF("id", c)
        next += n
        df
      }
      var fromCheckpoint = 0
      // After every commit: every version so far resolves equal both
      // ways, and the head reads the same rows.
      def check(): Unit = {
        val head = GraftLake.latestVersion(t)
        val fold = withoutCheckpoints(t)
        (0 to head).foreach { v =>
          assert(GraftLake.stateAt(t, v) == GraftLake.stateAt(fold, v), s"v$v")
          assert(GraftLake.stateAt(t, v, raw = true) ==
            GraftLake.stateAt(fold, v, raw = true), s"raw v$v")
        }
        assert(rowsOf(GraftLake.readAt(spark, t, head)) ==
          rowsOf(GraftLake.readAt(spark, fold, head)), s"readAt v$head")
        if (Files.exists(Paths.get(t, "_graft_log", "_last_checkpoint")))
          fromCheckpoint += 1
      }
      GraftLake.create(batch(10), t, Some("id"))
      GraftLake.enableRowTracking(t)
      GraftLake.enableDeletionVectors(t)
      check()
      val steps: Seq[() => Any] =
        Seq.fill(4)(() => GraftLake.append(batch(3), t, Some("id"))) ++
          Seq(() => GraftLake.renameColumn(t, "v", "w")) ++
          Seq.fill(2)(() => GraftLake.append(batch(3, "w"), t, Some("id"))) ++
          Seq(
            () => GraftLake.deleteDv(spark, t, col("id") <= 3L),
            () => GraftLake.appendIdempotent(batch(3, "w"), t, "tag-1"),
            () => GraftLake.addConstraint(spark, t, "pos", "w > 0"),
            () => GraftLake.deleteDv(spark, t, col("id").between(12L, 13L)),
            () => GraftLake.compact(spark, t, Seq("id"), numFiles = 1, Some("id"))) ++
          Seq.fill(3)(() => GraftLake.append(batch(2, "w"), t, Some("id"))) ++
          Seq(
            () => GraftLake.deleteMoR(spark, t, col("id") === 20L, "id"),
            () => GraftLake.appendIdempotent(batch(2, "w"), t, "tag-2")) ++
          Seq.fill(2)(() => GraftLake.append(batch(2, "w"), t, Some("id"))) ++
          Seq(
            () => GraftLake.compact(spark, t, Seq("id"), numFiles = 1, Some("id")),
            () => GraftLake.update(spark, t, col("id") === 5L,
              Seq("w" -> lit(1L)), Some("id"))) ++
          Seq.fill(8)(() => GraftLake.append(batch(1, "w"), t, Some("id"))) :+
          (() => GraftLake.deleteDv(spark, t, col("id") === 40L))
      steps.foreach { step => step(); check() }
      val head = GraftLake.latestVersion(t)
      assert(head >= 30)
      // from v4 on, every check resolved on top of a checkpoint
      assert(fromCheckpoint == head - 3)
      val s = GraftLake.snapshot(t)
      assert(s.tombstones.nonEmpty && s.renames.nonEmpty &&
        s.constraints.nonEmpty && s.tags.size == 2 && s.ridHighWater > 0L)
    } finally prev match {
      case Some(p) => sys.props("graft.lake.checkpointInterval") = p
      case None => sys.props -= "graft.lake.checkpointInterval"
    }
  }
}
