package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One benchmark run: a single closed-loop client runs the workload's
  * `SparkEntry.queries` keys in passes, each op being the key's build
  * call followed by a `noop` write (as `graft.Bench` materializes).
  *
  *  1. check pass: each result is written as parquet, with its oracle
  *     SQL, for the caller to compare in DuckDB;
  *  2. [[WarmPasses]] untimed passes, so the JIT has compiled most of
  *     the hot paths before anything is timed;
  *  3. timed phase: whole passes, at least [[MinTimedPasses]], until
  *     `--seconds` have elapsed. With `--trace 1` every other pass runs
  *     with the Spark, query-execution and streaming listeners attached
  *     and per-op attribution; the passes between them are the
  *     untraced reference the tracing overhead is measured against.
  *
  * Everything is measured from outside the engine: the harness times
  * its own calls and reads public listeners, JMX beans and /proc.
  * The raw record is written as JSON to `--out`; `run.py` reduces it.
  */
object Main {
  val WarmPasses = 2
  val MinTimedPasses = 3

  /** One op: wall seconds of the build call and of the `noop` write, and
    * the CPU seconds the program used over both: the process's CPU time
    * less the JIT compiler threads' ([[Probe.jitCpuNs]]). */
  final case class Sample(key: String, buildS: Double, materializeS: Double, cpuS: Double,
      error: Option[String])

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys = opts("keys").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val data = opts("data")
    val checkDir = opts("check-dir")
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

    def runOp(key: String, sink: (String, DataFrame) => Unit): Sample = {
      // The JIT reads bracket the process CPU reads, so the harness's own
      // walk of the thread list falls outside the op's CPU time.
      val jit0 = Probe.jitCpuNs()
      val cpu0 = Probe.processCpuNs()
      val t0 = System.nanoTime()
      var built = -1L
      val error = try {
        val df = SparkEntry.queries(key)(spark, data)
        built = System.nanoTime()
        sink(key, df)
        None
      } catch {
        case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
      val now = System.nanoTime()
      val t1 = if (built < 0) now else built
      val cpu = Probe.processCpuNs() - cpu0 - (Probe.jitCpuNs() - jit0)
      Sample(key, (t1 - t0) / 1e9, (now - t1) / 1e9, cpu / 1e9, error)
    }
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    val toParquet: (String, DataFrame) => Unit =
      (k, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$k")
    def fields(s: Sample): Map[String, Any] = Map(
      "key" -> s.key, "build_s" -> s.buildS, "materialize_s" -> s.materializeS,
      "op_cpu_s" -> s.cpuS, "error" -> s.error)

    // Every pass: its wall, JIT, CPU and steal seconds (the warm-up's
    // plateau shows in these), and `book_s`, the harness's own per-op
    // bookkeeping in a traced pass, which is not the program's time.
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def pass(i: Int, phase: String, traced: Boolean)(run: String => (Map[String, Any], Double))
        : Seq[Map[String, Any]] = {
      val before = Probe.snapshot()
      val t0 = System.nanoTime()
      val out = order(i).map(run)
      val wall = (System.nanoTime() - t0) / 1e9
      val d = Probe.delta(before, Probe.snapshot())
      passes += Map("pass" -> i, "phase" -> phase, "traced" -> traced, "wall_s" -> wall,
        "book_s" -> out.map(_._2).sum, "jit_s" -> d("jit_s"), "cpu_s" -> d("cpu_s"),
        "gc_s" -> d("gc_s"), "steal_s" -> d("steal_s"), "load1" -> Probe.load1())
      out.map(_._1 + ("pass" -> i))
    }

    // 1. correctness pass
    val checked = pass(0, "check", traced = false)(k => fields(runOp(k, toParquet)) -> 0.0)
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json(keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
    // 2. warm-up
    (1 to WarmPasses).foreach(i => pass(i, "warm", traced = false)(k => fields(runOp(k, noop)) -> 0.0))

    // 3. timed phase
    val tracer = new Tracer(spark)
    val scratch = Paths.get(System.getProperty("java.io.tmpdir"))
    def tracedOp(key: String): (Map[String, Any], Double) = {
      val b0 = System.nanoTime()
      tracer.begin()
      val before = Probe.snapshot()
      val startMs = System.currentTimeMillis()
      val b1 = System.nanoTime()
      val s = runOp(key, noop)
      val b2 = System.nanoTime()
      val after = Probe.snapshot()
      val b3 = System.nanoTime()
      // The drain is the listeners catching up: it counts as tracing cost.
      val c = tracer.finish()
      val b4 = System.nanoTime()
      val lake = Lake.written(scratch, startMs)
      val book = ((b1 - b0) + (b3 - b2) + (System.nanoTime() - b4)) / 1e9
      val row = fields(s) ++ Probe.delta(before, after) ++ lake ++ Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "job_s" -> c.jobSeconds, "sql_executions" -> c.sqlExecutions,
        "analysis_s" -> c.analysisMs / 1e3, "optimization_s" -> c.optimizationMs / 1e3,
        "planning_s" -> c.planningMs / 1e3,
        "task_run_s" -> c.taskRunMs / 1e3, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "task_gc_s" -> c.taskGcMs / 1e3,
        "files_read" -> c.filesRead, "bytes_read" -> c.bytesRead,
        "records_read" -> c.recordsRead,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spillBytes,
        "batches" -> c.batches, "trigger_s" -> c.triggerMs / 1e3,
        "add_batch_s" -> c.addBatchMs / 1e3, "wal_commit_s" -> c.walCommitMs / 1e3,
        "heap_used_mb" -> Probe.heapUsedMb())
      row -> book
    }
    val firstTimed = WarmPasses + 1
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var i = 0
    while (i < MinTimedPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.attach()
      ops ++= pass(firstTimed + i, "timed", traced)(k =>
        if (traced) tracedOp(k) else fields(runOp(k, noop)) -> 0.0)
      if (traced) tracer.detach()
      i += 1
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val record = Map(
      "keys" -> keys, "seed" -> seed, "master" -> s"local[$cpus]",
      "setup_s" -> (timedStartMs - jvmStartMs) / 1e3,
      "warm_passes" -> WarmPasses, "passes" -> passes.toSeq,
      "checked" -> checked.map(s => Map("key" -> s("key"), "error" -> s("error"))),
      "ops" -> ops.toSeq, "rss_peak_mb" -> Probe.rssPeakMb())
    Files.writeString(Paths.get(opts("out")), Json(record))
    spark.stop()
  }
}

/** Process, JVM and host counters read from /proc and the JMX beans. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val userHz = 100.0

  private def procIo(): Map[String, Long] =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala.map { l =>
      val Array(k, v) = l.split(":\\s*")
      k -> v.trim.toLong
    }.toMap

  /** Ticks of stolen CPU time over all of the host's CPUs. */
  private def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")(8).toLong

  def snapshot(): Map[String, Double] = {
    val io = procIo()
    Map(
      "cpu_s" -> os.getProcessCpuTime / 1e9,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "io_read_bytes" -> io("rchar").toDouble, "io_write_bytes" -> io("wchar").toDouble,
      "io_read_syscalls" -> io("syscr").toDouble, "io_write_syscalls" -> io("syscw").toDouble,
      "steal_s" -> stealTicks() / userHz)
  }

  private val jitThreads = scala.collection.mutable.Map[String, Long]()

  def processCpuNs(): Long = os.getProcessCpuTime

  /** CPU nanoseconds the JIT compiler threads have used, from each
    * thread's schedstat. The JVM starts and stops compiler threads as
    * load changes; one that has exited keeps the last value read. The
    * JIT is left out of an op's CPU time because how far it has got
    * depends on the CPU the host gave it, not on the op. */
  def jitCpuNs(): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.foreach { t =>
      scala.util.Try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) {
          val stat = Files.readString(t.resolve("stat"))
          val started = stat.substring(stat.lastIndexOf(')') + 2).split(" ")(19)
          jitThreads(s"${t.getFileName}@$started") =
            Files.readString(t.resolve("schedstat")).split(" ")(0).toLong
        }
      }
    } finally tasks.close()
    jitThreads.values.sum
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (b(k) - v) }

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** GraftLake tables an op wrote, found by walking the run's scratch
  * root for `_graft_log` directories. Each commit JSON lists the
  * file-sets (paths relative to the table) it adds and removes;
  * folding them gives the live sets. */
object Lake {
  private val Commit = """\d+\.json""".r
  private val Sets = """"(add|remove)":\[([^\]]*)\]""".r

  private final case class FileInfo(path: Path, size: Long, mtimeMs: Long)

  /** Every regular file under `root`; files that vanish mid-walk are skipped. */
  private def files(root: Path): Seq[FileInfo] = {
    val out = scala.collection.mutable.ArrayBuffer[FileInfo]()
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) out += FileInfo(f, a.size, a.lastModifiedTime.toMillis)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    out.toSeq
  }

  def written(root: Path, sinceMs: Long): Map[String, Double] = {
    val all = files(root)
    val logs = all.map(_.path.getParent).filter(_.getFileName.toString == "_graft_log").distinct
    var commits, nFiles, bytes, live = 0L
    logs.foreach { log =>
      val table = log.getParent
      val tableFiles = all.filter(_.path.startsWith(table))
      val fresh = tableFiles.filter(_.mtimeMs >= sinceMs)
      def isCommit(f: FileInfo) = f.path.getParent == log && Commit.matches(f.path.getFileName.toString)
      if (fresh.nonEmpty) {
        commits += fresh.count(isCommit)
        nFiles += fresh.size
        bytes += fresh.map(_.size).sum
        val liveSets = scala.collection.mutable.Set[Path]()
        tableFiles.filter(isCommit).sortBy(_.path.getFileName.toString).foreach { f =>
          val json = scala.util.Try(Files.readString(f.path)).getOrElse("")
          Sets.findAllMatchIn(json).foreach { m =>
            val sets = m.group(2).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
              .filter(_.nonEmpty).map(table.resolve)
            if (m.group(1) == "add") liveSets ++= sets else liveSets --= sets
          }
        }
        live += tableFiles.filter(f => liveSets.exists(f.path.startsWith)).map(_.size).sum
      }
    }
    Map("log_commits" -> commits.toDouble, "files_written" -> nFiles.toDouble,
      "bytes_written" -> bytes.toDouble, "live_bytes" -> live.toDouble)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
