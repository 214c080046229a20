package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan fan-out for compute-heavy per-row stages.
  *
  * The bench tables are single-file, single-row-group parquet, so a
  * scan yields ONE input partition however many cores the session has
  * — and every decode/hash/tokenize stage pinned to the scan runs on
  * one core while the other 31 idle. `fanOut` round-robin repartitions
  * to the session's default parallelism, but ONLY when the upstream
  * plan has fewer partitions than that: at production scale a 100 TB
  * scan already yields thousands of splits and the call is a no-op —
  * no extra exchange ever enters a large plan. The repartition itself
  * moves only the projected columns (keep the select narrow before
  * calling), and round-robin distribution is deterministic
  * (sort-before-repartition, SPARK-23207), so reruns see identical
  * partitions.
  *
  * Use only on stages whose downstream math is order-insensitive
  * (integer/hash arithmetic, exact aggregation) — which holds for the
  * d-, s- and m-family operators by the oracle-replay design.
  */
object Par {
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
