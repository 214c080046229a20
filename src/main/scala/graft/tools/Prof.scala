package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.Engine

/** Per-job profiler for single gate queries: runs each named query
  * (SPARK_GRAFT_ONLY prefix match) once warm, then three timed runs,
  * and prints the fastest run's Spark jobs — each one's wall time,
  * task-time sum and call site — so a slow key can be attributed to a
  * specific action instead of guessed at. Measurement tooling only;
  * not part of the query surface.
  */
object Prof {
  private case class JobRow(
      id: Int, wallMs: Long, taskMs: Long, tasks: Int, desc: String)

  /** Job group of the marker jobs [[main]]'s drain runs. */
  private val DrainGroup = "graft-prof-drain"

  /** The first `graft.` frame of a long-form call site, outside this
    * tool.
    */
  private def graftFrame(callSite: String): Option[String] =
    Option(callSite).flatMap(_.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.tools.Prof")))

  /** A job's label: its description, else the first `graft.` frame of
    * its call site — the job's own, else its SQL execution's (looked up
    * in `sqlRuns`: adaptive jobs run on a thread with no user frame),
    * else its last stage's — else a short call site.
    */
  private def label(
      e: SparkListenerJobStart,
      sqlRuns: ConcurrentHashMap[String, SparkListenerSQLExecutionStart]): String = {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    val sql = prop("spark.sql.execution.id").flatMap(id => Option(sqlRuns.get(id)))
    prop("spark.job.description")
      .orElse(prop("callSite.long").flatMap(graftFrame))
      .orElse(sql.flatMap(s => graftFrame(s.details)))
      .orElse(e.stageInfos.lastOption.flatMap(si => graftFrame(si.details)))
      .orElse(prop("callSite.short"))
      .orElse(sql.map(_.description))
      .getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(s"local[$cpus]", "graft-prof", cpus)
    val sc = spark.sparkContext

    val jobs = new ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.concurrent.TrieMap[Int, JobRow]()
    val stageTask = new ConcurrentHashMap[Int, (Long, Int)]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val sqlRuns = new ConcurrentHashMap[String, SparkListenerSQLExecutionStart]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val drained = new AtomicReference(new CountDownLatch(0))
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == DrainGroup))
          markerJobs.add(e.jobId)
        else {
          jobs.put(e.jobId, (System.nanoTime(), label(e, sqlRuns)))
          e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlRuns.put(s.executionId.toString, s)
        case s: SparkListenerSQLExecutionEnd => sqlRuns.remove(s.executionId.toString)
        case _ => ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val cur = stageTask.getOrDefault(s.stageId, (0L, 0))
        stageTask.put(s.stageId,
          (cur._1 + s.taskMetrics.executorRunTime, cur._2 + s.numTasks))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.remove(e.jobId)) drained.get.countDown()
        else Option(jobs.get(e.jobId)).foreach { case (t0, d) =>
          import scala.jdk.CollectionConverters._
          val stages = stageToJob.asScala.filter(_._2 == e.jobId).keys
          val (tms, nt) = stages.map(s =>
            stageTask.getOrDefault(s, (0L, 0))).foldLeft((0L, 0)) {
            case ((a, b), (c, d0)) => (a + c, b + d0)
          }
          done.put(e.jobId,
            JobRow(e.jobId, (System.nanoTime() - t0) / 1000000L, tms, nt, d))
        }
    })
    // One listener receives events in the order they were posted, so
    // once it sees a marker job end it has seen every earlier job end.
    def drain(): Unit = {
      val latch = new CountDownLatch(1)
      drained.set(latch)
      sc.setJobGroup(DrainGroup, "listener drain")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      latch.await()
    }

    val only = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.startsWith))

    names.foreach { name =>
      // One run's wall seconds and exactly its jobs (the drain runs
      // outside the timed wall).
      def run(): (Double, Seq[JobRow]) = {
        done.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        drain()
        (t, done.values.toSeq)
      }
      val warm = run()._1 // warmup: JIT + codegen + footer caches
      val (t, timed) = Seq(run(), run(), run()).minBy(_._1) // fastest warm run
      println(f"\n=== $name warm=$warm%.2fs timed=$t%.2fs jobs=${timed.size}")
      val rows = timed.sortBy(-_.wallMs)
      val totWall = rows.map(_.wallMs).sum
      println(f"    sum(job wall)=${totWall / 1000.0}%.2fs  (gaps = driver-side work)")
      rows.take(30).foreach { r =>
        println(f"    job ${r.id}%4d wall=${r.wallMs}%6dms task=${r.taskMs}%7dms n=${r.tasks}%4d  ${r.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
