package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-format sources & sinks (SURVEY.md §2: engine I/O surface).
  *
  * Readers take an explicit schema where the format can't carry one
  * (CSV/JSON) — at 100 TB, schema inference means a full extra pass
  * over the data and is never acceptable; parquet carries its own.
  *
  * `writePartitioned` lays data out hive-style so downstream readers
  * get partition PRUNING (directory-level skipping) for free — the
  * single most important layout decision for a 100 TB fact table.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC — the second self-describing columnar format the engine
    * speaks. Like parquet it carries its schema, per-stripe min/max
    * indexes (predicate pushdown) and column projection, so the same
    * scan-level optimizations apply; no schema argument needed.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet layout. `partitionCols` should be
    * low-cardinality derived columns (e.g. a date bucket), never a
    * high-cardinality key — millions of directories kill the driver
    * and the filesystem alike.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table write: pre-shuffles data into `numBuckets` hash
    * buckets on the join key at WRITE time, so every later join or
    * aggregation on that key runs with NO exchange — the 100 TB
    * pattern for a fact table joined repeatedly on the same key.
    */
  def writeBucketed(
      df: DataFrame, tableName: String,
      bucketCols: Seq[String], numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // A leftover warehouse directory from a previous session's
    // in-memory catalog is unregistered here and blocks saveAsTable
    // (LOCATION_ALREADY_EXISTS) — remove it so the write is idempotent
    // across JVMs.
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tableName.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head)
      .saveAsTable(tableName)
  }

  /** Orders laid out by order year — the canonical time-partitioned
    * fact-table layout; `readParquet(path).filter(year === y)` then
    * prunes at directory level (verify via explain PartitionFilters).
    */
  def exportOrdersByYear(spark: SparkSession, dir: String, outPath: String): Unit = {
    val orders = graft.Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    writePartitioned(orders, outPath, Seq("o_year"))
  }

  /** Small-files compaction — the table-maintenance pass every
    * long-lived 100 TB dataset needs: streaming sinks and fine-grained
    * partition writes accumulate thousands of tiny files, and each file
    * costs a task, a footer read, and a namenode entry. Rewrites the
    * dataset into ~`targetFileBytes` files based on its measured
    * on-disk size.
    *
    * Uses coalesce (narrow — no shuffle: merging files doesn't need a
    * repartition) unless the caller asks to also sort, in which case a
    * repartitionByRange lays files out for min/max data skipping.
    */
  def compact(
      spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Int = {
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(in).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inPath)
    val out =
      if (sortCols.isEmpty) df.coalesce(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    out.write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** 16-bit-per-dimension Morton (Z-order) key of two numeric columns,
    * each min-max normalized into [0, 65535] then bit-interleaved —
    * pure Column arithmetic, fully codegen'd.
    */
  private[sources] def zorderKey(
      a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double): Column = {
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(greatest(
        (((c.cast("double") - lit(lo)) / lit(hi - lo)) * 65535.0).cast("long"),
        lit(0L)), lit(65535L))
    val na = norm(a, aLo, aHi)
    val nb = norm(b, bLo, bHi)
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(na, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftrightunsigned(nb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order compaction — multi-dimensional clustering for min/max
    * data skipping: a linear sort makes ONE column's per-file ranges
    * disjoint while leaving every other column full-range per file;
    * interleaving the bits of two dimensions makes BOTH columns'
    * per-file ranges ~sqrt(1/nFiles) of the global range, so filters
    * on either (or both) skip most files via parquet statistics —
    * the lakehouse layout for fact tables filtered on two axes.
    */
  def compactZOrder(
      spark: SparkSession, inPath: String, outPath: String,
      colA: String, colB: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(in).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inPath)
    val r = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).collect().head
    val z = zorderKey(
      col(colA), r.getDouble(0), r.getDouble(1),
      col(colB), r.getDouble(2), r.getDouble(3))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }
}
