package graft

/** Benchmark main (driver contract): run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and print ONE JSON line with per-query seconds.
  *
  * Methodology: one warmup execution per query (JIT + codegen + parquet
  * footer caches), then the min of two timed runs. Materialization via
  * the `noop` sink — full compute, no write cost, and no count-only
  * short-circuit optimizations.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(s"local[$cpus]", "graft-bench", cpus)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Round-robin rounds (not per-query back-to-back runs): this host
    // shows occasional ~30s stall windows; interleaving means a stall
    // degrades one round of several queries — the min over rounds
    // still reflects true per-query cost.
    // SPARK_GRAFT_ONLY=q01_agg_pricing,d07_dedup_simhash restricts the
    // run — for controlled single-query measurement while iterating.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    val failed = scala.collection.mutable.Set[String]()
    def timedRound(): Map[String, Double] = names.flatMap { name =>
      if (failed(name)) None
      else try {
        val t0 = System.nanoTime()
        materialize(name)
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += name
        None
      }
    }.toMap
    // TIME-BUDGETED rounds with INCREMENTAL reporting: the harness
    // runs Bench under a wall-clock deadline (round 4 hit it — rc=124,
    // no metric line captured). So (a) the full metric JSON line is
    // printed and persisted after EVERY timed round — a mid-round kill
    // still leaves the previous round's complete line in the output
    // tail — and (b) further rounds are skipped when the projected
    // finish would cross the budget; min-of-fewer-rounds is still a
    // valid per-query time.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toDouble
    val wall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wall0) / 1e9

    def report(rounds: Seq[Map[String, Double]]): String = {
      val results = names.map { name =>
        val rs = rounds.flatMap(_.get(name))
        name -> (if (rs.nonEmpty) rs.min else -1.0)
      }
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    }

    def flush(line: String): Unit = {
      println(line)
      Console.out.flush()
      // Also persist the line: console tails can truncate the per-query
      // map past ~60 entries, losing numbers the round report needs.
      // A SPARK_GRAFT_ONLY-restricted (subset) run must NOT clobber
      // the committed full-run artifact — it stamps a sibling file
      // instead.
      val target = if (only.isDefined) "bench_subset_last.json" else "bench_last.json"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(target), line + "\n")
    }

    // Warmup round (JIT, codegen cache, footers) — its COLD numbers
    // flush immediately as a provisional line, so even a harness
    // deadline that lands inside the first timed round leaves a
    // complete (if pessimistic) capture; later lines supersede it.
    val warmup = timedRound()
    flush(report(Seq(warmup)))
    val warmupSec = elapsedSec
    val rounds = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var lastRoundSec = warmupSec
    var r = 0
    while (r < 3 && (r == 0 || elapsedSec + 1.2 * lastRoundSec < budgetSec)) {
      val t0 = elapsedSec
      rounds += timedRound()
      lastRoundSec = elapsedSec - t0
      flush(report(rounds.toSeq))
      r += 1
    }
    spark.stop()
  }
}
