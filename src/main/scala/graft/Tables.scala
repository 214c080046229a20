package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed row models for the star schema (TESTDATA.md). */
object model {
  case class Region(r_regionkey: Int, r_name: String)
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Customer(
      c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(
      s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  case class Part(
      p_partkey: Long, p_name: String, p_brand: String, p_type: String,
      p_size: Int, p_retailprice: Double)
  case class Order(
      o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp,
      o_orderpriority: String)
  case class Lineitem(
      l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String,
      l_shipdate: java.sql.Timestamp)
  case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class Document(
      doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
}

/** Loaders for the driver-generated parquet tables.
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full
  * freedom for column pruning and filter pushdown into the scan —
  * verified via `.explain("formatted")` (PushedFilters / ReadSchema).
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** Normalize `events.ts` to session-zoned TIMESTAMP whatever the
    * parquet writer annotated:
    *  - TIMESTAMP(NANOS) (older generators): Spark's vectorized reader
    *    rejects it — read nanos as long (legacy conf) and truncate to
    *    micros with integer division, the same floor semantics as
    *    DuckDB's nanos->micros read.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current generator):
    *    Spark infers TIMESTAMP_NTZ — cast to TIMESTAMP, which under the
    *    engine's pinned UTC session zone preserves every field, so the
    *    micros line up bit-exactly with DuckDB's naive read.
    * Downstream operators then always see one type (TimestampType) and
    * Row.getTimestamp / unix_micros keep working.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is a session-construction default (Engine.session /
    // Verify / Bench all set it before any query runs) — per-reader
    // options can't express it because parquet schema inference reads
    // the session conf directly. The set below is only a fallback for
    // foreign sessions; engine-built sessions never mutate conf here.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        import org.apache.spark.sql.functions.{expr, timestamp_micros}
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        import org.apache.spark.sql.functions.col
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Typed variant, for callers who want compile-time field checks. */
  def eventsDs(spark: SparkSession, dir: String): Dataset[model.Event] = {
    import spark.implicits._
    events(spark, dir).as[model.Event]
  }
}
