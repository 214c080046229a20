package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLake

/** Every change-feed surface serves one answer per commit action: the
  * batch feeds (`changesSince`, `changesTyped`) and the
  * `graft-lake-stream` source in both modes either serve the same rows
  * or refuse, as the one feed classification in GraftLake says.
  *
  * Each case builds a table whose v0 holds (1, 10) and (2, 20) — CDF-
  * enabled unless the action refuses CDF tables — runs one action
  * through the public API and reads the whole feed from version -1
  * through all four surfaces.
  */
class LakeFeedSurfaceSpec extends AnyFunSuite with SparkSpec {

  /** What one mode serves: rows on both surfaces (and how many), rows
    * on the batch surface with a stream refusal, or a refusal on both.
    */
  private sealed trait Serves
  private case class Both(rows: Int) extends Serves
  private case class BatchOnly(rows: Int) extends Serves
  private case object Neither extends Serves

  private def rows(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("id", "v")
  }

  private def fresh(cdf: Boolean): String = {
    val p = Files.createTempDirectory("graft-feedsurface").resolve("t").toString
    GraftLake.create(rows(1L -> 10L, 2L -> 20L), p, Some("id"))
    if (cdf) GraftLake.enableCdf(p)
    p
  }

  /** A row as sorted name=value pairs: surfaces may order columns
    * differently.
    */
  private def render(rs: Seq[Row]): Seq[String] =
    rs.map(r => r.schema.fieldNames.sorted
      .map(n => s"$n=${r.get(r.fieldIndex(n))}").mkString(",")).sorted

  private def refusal(e: Throwable): Option[String] = e match {
    case _: IllegalStateException | _: IllegalArgumentException =>
      Some(e.getMessage)
    case s: StreamingQueryException => Option(s.getCause).flatMap(refusal)
    case _ => Option(e.getCause).flatMap(refusal)
  }

  private def batch(read: => DataFrame): Either[String, Seq[String]] =
    try Right(render(read.collect().toSeq))
    catch { case e: Exception if refusal(e).isDefined => Left(refusal(e).get) }

  private def stream(
      path: String, cdf: Boolean, from: Int = -1): Either[String, Seq[String]] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val ck = Files.createTempDirectory("graft-feedsurface-ck").toString
    try {
      val q = spark.readStream.format("graft-lake-stream")
        .option("path", path).option("cdf", cdf.toString)
        .option("fromVersion", from.toString).load()
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(got.add); ()
        }
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      Right(render(got.iterator().asScala.toSeq))
    } catch { case e: Exception if refusal(e).isDefined => Left(refusal(e).get) }
  }

  private def check(
      mode: String, expect: Serves,
      b: Either[String, Seq[String]], s: Either[String, Seq[String]]): Unit =
    expect match {
      case Both(n) =>
        assert(b.isRight, s"$mode batch feed refused: $b")
        assert(s.isRight, s"$mode stream refused: $s")
        assert(b == s, s"$mode batch feed and stream serve different rows")
        assert(b.map(_.size) == Right(n), s"$mode rows: $b")
      case BatchOnly(n) =>
        assert(b.map(_.size) == Right(n), s"$mode batch feed: $b")
        assert(s.isLeft, s"$mode stream served rows, not a refusal: $s")
      case Neither =>
        assert(b.isLeft, s"$mode batch feed served rows: $b")
        assert(s.isLeft, s"$mode stream served rows: $s")
    }

  /** SQL transactions refuse CDF tables: this case's table has no CDF. */
  private val RolledBack = "a rolled-back SQL transaction"

  /** (action, insert-only expectation, CDF expectation, the action). */
  private val cases: Seq[(String, Serves, Serves, String => Unit)] = Seq(
    ("create", Both(2), Both(2), _ => ()),
    ("append", Both(3), Both(3), p => GraftLake.append(rows(3L -> 30L), p)),
    ("copyInto", Both(3), Both(3), { p =>
      val src = Files.createTempDirectory("graft-feedsurface-src")
      rows(3L -> 30L).coalesce(1).write.mode("overwrite")
        .parquet(src.resolve("x").toString)
      GraftLake.copyInto(spark, p, src.resolve("x").toString)
    }),
    ("appendPartitionedBy", Both(4), Both(4), p =>
      GraftLake.appendPartitionedBy(rows(3L -> 30L, 4L -> 40L), p, Seq("v"))),
    ("setPartitionColumns", Both(3), Both(3), { p =>
      GraftLake.setPartitionColumns(p, Seq("v"))
      GraftLake.append(rows(3L -> 30L), p)
    }),
    ("recordColDefs", Both(3), Both(3), { p =>
      GraftLake.recordColDefs(p, Seq("v" -> "0"), Seq.empty)
      GraftLake.append(rows(3L -> 30L), p)
    }),
    ("addConstraint", Both(3), Both(3), { p =>
      GraftLake.addConstraint(spark, p, "pos", "v > 0")
      GraftLake.append(rows(3L -> 30L), p)
    }),
    ("addColumns", Both(3), Both(3), { p =>
      GraftLake.addColumns(p, Seq("w" -> LongType))
      GraftLake.append(rows(3L -> 30L).withColumn("w", lit(7L)), p)
    }),
    ("renameColumn", BatchOnly(3), BatchOnly(3), { p =>
      GraftLake.renameColumn(p, "v", "w")
      GraftLake.append(rows(3L -> 30L).withColumnRenamed("v", "w"), p)
    }),
    ("dropColumn", BatchOnly(3), BatchOnly(3), { p =>
      GraftLake.dropColumn(p, "v")
      GraftLake.append(rows(3L -> 30L).drop("v"), p)
    }),
    ("vacuum", Both(3), Both(3), { p =>
      GraftLake.vacuum(p)
      GraftLake.append(rows(3L -> 30L), p)
    }),
    ("compact", Neither, Both(3), { p =>
      GraftLake.append(rows(3L -> 30L), p)
      GraftLake.compact(spark, p, Seq("id"), numFiles = 1)
    }),
    ("compactPartitionedBy", Neither, Both(2), p =>
      GraftLake.compactPartitionedBy(spark, p, Seq("v"))),
    // (2, 20) -> (2, 99) and an insert of (7, 70)
    ("merge", Neither, Both(5), p =>
      GraftLake.merge(spark, p, rows(2L -> 99L, 7L -> 70L), Seq("id"), "id")),
    ("update", Neither, Both(4), p =>
      GraftLake.update(spark, p, col("id") === 1L, Seq("v" -> lit(11L)))),
    ("delete", Neither, Both(3), p =>
      GraftLake.delete(spark, p, col("id") === 1L)),
    ("deleteMoR", Neither, Both(3), p =>
      GraftLake.deleteMoR(spark, p, col("id") === 1L, "id")),
    ("updateDv", Neither, Both(4), { p =>
      GraftLake.enableDeletionVectors(p)
      GraftLake.updateDv(spark, p, col("id") === 1L, Seq("v" -> lit(11L)))
    }),
    ("truncate", Neither, Both(4), p => GraftLake.truncate(p)),
    ("restore", Neither, Both(4), { p =>
      GraftLake.append(rows(3L -> 30L), p)
      GraftLake.restore(spark, p, 0)
    }),
    ("overwrite", Neither, Neither, p =>
      GraftLake.overwrite(rows(5L -> 50L), p)),
    // v1 records the layout and v2 re-lays the table out by v; the
    // dynamic overwrite replaces the v = 10 partition: delete (1, 10),
    // insert (3, 10)
    ("overwritePartitionsDynamic", Neither, Both(4), { p =>
      GraftLake.setPartitionColumns(p, Seq("v"))
      GraftLake.compactPartitionedBy(spark, p, Seq("v"))
      GraftLake.overwritePartitionsDynamic(spark, rows(3L -> 10L), p)
    }),
    (RolledBack, Both(3), Both(3), { p =>
      GraftLake.sqlTxnBegin()
      try GraftLake.append(rows(9L -> 90L), p)
      finally GraftLake.sqlTxnRollback()
      GraftLake.append(rows(3L -> 30L), p)
    }))

  cases.foreach { case (name, insertOnly, typed, action) =>
    test(s"feed surfaces agree after $name") {
      val p = fresh(cdf = name != RolledBack)
      action(p)
      check("insert-only", insertOnly,
        batch(GraftLake.changesSince(spark, p, -1)), stream(p, cdf = false))
      check("cdf", typed,
        batch(GraftLake.changesTyped(spark, p, -1)), stream(p, cdf = true))
    }
  }

  test("feed surfaces agree on a truncate of sets written before a rename") {
    val p = fresh(cdf = true)
    GraftLake.renameColumn(p, "v", "w")
    GraftLake.truncate(p)
    // read from v1: the rename itself is outside the range
    check("insert-only", Neither,
      batch(GraftLake.changesSince(spark, p, 1)), stream(p, cdf = false, from = 1))
    check("cdf", BatchOnly(2),
      batch(GraftLake.changesTyped(spark, p, 1)), stream(p, cdf = true, from = 1))
    assert(batch(GraftLake.changesTyped(spark, p, 1)).toOption.get
      .forall(r => r.contains("w=10") || r.contains("w=20")))
  }
}
