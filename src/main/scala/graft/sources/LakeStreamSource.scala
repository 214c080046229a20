package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING READ of a [[GraftLake]] table — the Delta-style
  * incremental source that completes the lake loop (st10 streams INTO
  * the lake, src14 reads CDC batches, this tails the commit log as a
  * Structured Streaming source):
  *
  * `spark.readStream.format("graft-lake-stream").option("path", t).load()`
  *
  * Design (all public Spark DSv2 + parquet-hadoop surface):
  *  - OFFSET = committed log version. `latestOffset` is one driver-side
  *    log listing; a micro-batch (start, end] is exactly the rows the
  *    commits in that version range ADDED, each tagged
  *    `_commit_version` — so batch boundaries never change the result,
  *    and checkpoint replay re-reads precisely the same commits
  *    (exactly-once per commit, the appendIdempotent dual).
  *  - PARALLELISM: one InputPartition per parquet part-file of each
  *    added file-set — executors read files directly (parquet-hadoop
  *    `GroupReadSupport`), nothing row-sized touches the driver, and a
  *    100-file commit fans out to 100 tasks.
  *  - COLUMN PRUNING: the read schema maps to a parquet projection
  *    (`parquet.read.schema`), so unread columns are never decoded.
  *    Spark does not run operator pushdown on streaming V2 scans, so
  *    the explicit `option("columns", "a,b")` is the projection path
  *    (SupportsPushDownRequiredColumns is implemented for the day the
  *    optimizer prunes streaming scans too).
  *  - SCHEMA EVOLUTION: each file-set decodes under its own written
  *    schema; columns added by later commits null-fill, exactly like
  *    the batch `GraftLake.scanSets` path. The stream's schema is the table's as
  *    of its latest stable version.
  *  - CONTRACT: insert-only by default, typed change rows with
  *    `option("cdf", "true")`; what each commit serves in either mode
  *    is [[GraftLake.feedRows]].
  *
  * Primitive column types (long/int/double/boolean/string/date) cover
  * every lake gate; nested/decimal payloads would extend the same
  * Group→InternalRow switch.
  */
class LakeStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft-lake-stream requires option 'path'")
    // not a pending transaction's schema: it may never commit
    val st = GraftLake.stateAt(path, GraftLake.latestStableVersion(path))
    require(st.version >= 0, s"no graft-lake table at $path")
    val cdf = options.getBoolean("cdf", false)
    val full = StructType.fromDDL(st.schemaDdl)
    val projected = Option(options.get("columns")) match {
      case Some(csv) =>
        val keep = csv.split(",").map(_.trim).filter(_.nonEmpty)
        val have = full.fieldNames.toSet
        keep.foreach(c => require(c == "_commit_version" ||
          (cdf && c == "_change_type") || have(c),
          s"unknown column '$c' in graft-lake-stream columns option"))
        StructType(full.fields.filter(f => keep.contains(f.name)))
      case None => full
    }
    val withType =
      if (cdf) projected.add("_change_type", StringType, nullable = false)
      else projected
    withType.add("_commit_version", IntegerType, nullable = false)
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LakeStreamTable(
      properties.asScala("path"),
      properties.asScala.getOrElse("fromVersion", "-1").toInt,
      schema,
      properties.asScala.get("cdf").exists(_.equalsIgnoreCase("true")),
      properties.asScala.get("maxCommitsPerTrigger").map(_.toInt))
}

private[sources] class LakeStreamTable(
    path: String, fromVersion: Int, tableSchema: StructType, cdf: Boolean,
    maxCommits: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"graft_lake_stream($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeStreamScanBuilder(path, fromVersion, tableSchema, cdf, maxCommits)
}

private[sources] class LakeStreamScanBuilder(
    path: String, fromVersion: Int, full: StructType, cdf: Boolean,
    maxCommits: Option[Int])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Keep the table's field order; requiredSchema may reorder.
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => keep(f.name)))
  }
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      LakeStreamSource.readSchemas.add(required.fieldNames.toSeq)
      new LakeMicroBatchStream(path, fromVersion, required, cdf, maxCommits)
    }
  }
}

object LakeStreamSource {
  /** Test observability: the (post-pruning) read schema of every
    * started stream — column pruning happens at plan time, so specs
    * assert here that unselected columns never reach the reader.
    */
  val readSchemas = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
}

/** Offset = highest committed log version included so far. */
private[sources] case class LakeVersionOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] class LakeMicroBatchStream(
    path: String, fromVersion: Int, required: StructType,
    cdf: Boolean = false,
    // ADMISSION CONTROL (Delta's maxFilesPerTrigger analog): cap each
    // micro-batch at this many log commits, so a backfill over a
    // long-lived table streams as bounded batches instead of one
    // giant catch-up batch. Exactly-once semantics are untouched —
    // offsets are still commit versions, just advanced in steps.
    maxCommits: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the catch-up target at query start —
  // the stream drains every commit through this version (in
  // maxCommitsPerTrigger-bounded batches) and stops; commits landing
  // after the pin wait for the next run (Delta-source semantics).
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftLake.latestStableVersion(path))

  override def initialOffset(): Offset = LakeVersionOffset(fromVersion)

  // Offsets advance only to the latest STABLE version: a PENDING
  // cross-table transaction commit has undecided visibility, and a
  // source that skipped past it as a no-op would silently LOSE its
  // rows if the transaction later commits — so the stream stalls just
  // below it until the marker decides (committed txn appends then
  // stream like ordinary appends; aborted ones fold as no-ops).
  override def latestOffset(): Offset =
    LakeVersionOffset(GraftLake.latestStableVersion(path))

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val latest = availableNowCap
      .map(math.min(_, GraftLake.latestStableVersion(path)))
      .getOrElse(GraftLake.latestStableVersion(path))
    LakeVersionOffset(
      maxCommits.map(m => math.min(latest, s + m)).getOrElse(latest))
  }

  override def reportLatestOffset(): Offset =
    LakeVersionOffset(GraftLake.latestStableVersion(path))

  override def deserializeOffset(json: String): Offset = {
    // {"version":N} — avoid a JSON lib for one int field.
    val v = json.replaceAll("[^0-9-]", "")
    LakeVersionOffset(v.toInt)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    def parts(sets: Seq[GraftLake.LiveSet], v: Int, change: Option[String]) =
      sets.flatMap(LakeFilePartition.ofSet(path, _))
        .map(_.copy(commitVersion = v, changeType = change): InputPartition)
    GraftLake.commitsFrom(path, s + 1, e).flatMap { c =>
      GraftLake.feedRows(path, c, cdf, stream = true) match {
        case GraftLake.FeedInserts(sets) =>
          parts(sets, c.version, if (cdf) Some("insert") else None)
        case GraftLake.FeedSidecar(ls) => parts(Seq(ls), c.version, None)
        case GraftLake.FeedDeletes(sets) => parts(sets, c.version, Some("delete"))
        case GraftLake.FeedNothing => Seq.empty
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeFileReaderFactory(required)
}

/** One parquet part-file of one commit's file-set, with the schema the
  * set was WRITTEN under (may be narrower than the read schema).
  */
private[sources] case class LakeFilePartition(
    file: String, writtenDdl: String, commitVersion: Int,
    // CDF streams only: a constant `_change_type` for this whole
    // partition (append commits = "insert"); None when the column is
    // real data in the file (mutation sidecars) or the stream is not
    // in CDF mode.
    changeType: Option[String] = None,
    // Partitioned ("padd") sets only: the hive-encoded partition
    // columns and their values, one pair per layout level — absent
    // from the parquet bytes, served as per-partition constants.
    constLongs: Seq[(String, Long)] = Seq.empty,
    // Outstanding positional deletion-vector DESCRIPTORS for THIS
    // file: its owning set name plus the live DV sidecar set
    // directories. The reader loads the positions TASK-side
    // ([[MorMasks.dvPositions]]) — O(sidecar dirs) driver metadata
    // per partition, never O(deleted rows). The batch scan's
    // merge-on-read leg; empty everywhere else.
    dvSet: String = "",
    dvDirs: Seq[String] = Seq.empty) extends InputPartition

private[sources] object LakeFilePartition {
  /** One set's part-files (commit version -1). A hive-layout set's
    * partition columns are encoded in its leaf directory names
    * (`col=value/`), NOT in the parquet bytes: its files plan under
    * the set schema minus those columns, whose values are served as
    * per-partition constants.
    */
  def ofSet(table: String, ls: GraftLake.LiveSet): Seq[LakeFilePartition] = {
    // setPathOf, not a raw join: a SHALLOW CLONE's sets are absolute
    // paths into the source table
    val dir = java.nio.file.Paths.get(GraftLake.setPathOf(table, ls.set))
    GraftLake.hiveLeaves(dir).flatMap { case (d, consts) =>
      val partNames = consts.map(_._1).toSet
      val ddl = StructType(StructType.fromDDL(ls.schemaDdl).fields
        .filterNot(f => partNames(f.name))).toDDL
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.toString)
        .map(f => LakeFilePartition(f.toString, ddl, -1, constLongs = consts))
    }
  }
}

private[sources] class LakeFileReaderFactory(
    required: StructType,
    // Outstanding KEY-tombstone DESCRIPTORS: (key column, sidecar set
    // directory). Value sets load executor-side with a per-directory
    // cache ([[MorMasks.keyMask]]) — the factory ships O(sidecar
    // sets) strings, never the values.
    keyRefs: Seq[(String, String)] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      // SPJ grouping: one partition VALUE's files read sequentially.
      case k: LakeKeyedPartition =>
        new PartitionReader[InternalRow] {
          private val it = k.files.iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                cur = new LakeFileReader(it.next(), required, keyRefs)
              }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case f: LakeFilePartition => new LakeFileReader(f, required, keyRefs)
    }
}

/** Executor-side parquet decode of one part-file via parquet-hadoop's
  * example Group API, projected to the (possibly pruned) read schema:
  * columns absent from this set's written schema null-fill; the
  * `_commit_version` column is a constant for the whole partition.
  */
private[sources] class LakeFileReader(
    part: LakeFilePartition, required: StructType,
    keyRefs: Seq[(String, String)] = Seq.empty)
    extends PartitionReader[InternalRow] {

  private val written = StructType.fromDDL(part.writtenDdl)
  private val writtenNames = written.fieldNames.toSet
  // Key-mask columns PRESENT IN THIS FILE must decode even when the
  // query pruned them away — the mask test needs the value; they
  // never join the output row. A hive-layout column lives in
  // `constLongs` (the value is a directory-name constant absent from
  // the parquet bytes), so masks on it test there — dropping them
  // would resurrect MoR-deleted rows. A mask column in NEITHER place
  // is a column added after this set was written: every row reads it
  // as NULL, and NULL never matches a mask. Value sets load HERE,
  // task-side, from the sidecar descriptors (cached per directory).
  private val maskFields: Array[(String, Set[Any])] =
    keyRefs.filter(km => writtenNames(km._1) ||
      part.constLongs.exists(_._1 == km._1))
      .map { case (c, dir) => c -> MorMasks.keyMask(dir)._2 }
      .groupBy(_._1).map { case (c, vs) =>
        c -> vs.map(_._2).reduce(_ ++ _)
      }.toArray
  // This file's positional deletion-vector mask, loaded task-side
  // from the DV sidecar sets (row-group pruned to this file's rows).
  private val maskedPos: java.util.HashSet[Long] =
    MorMasks.dvPositions(part.dvDirs, part.dvSet,
      java.nio.file.Paths.get(part.file).getFileName.toString)
  // Data fields to decode from THIS file (ordered as in `required`),
  // carrying the WRITTEN set's nullability: Spark writes non-nullable
  // columns as parquet `required`, and the projection's repetition
  // must match the file's or checkContains rejects the read.
  private val dataFields: Array[StructField] = {
    val fromRequired = required.fields.filter(f =>
      f.name != "_commit_version" && writtenNames(f.name))
    // const-served (hive layout) mask columns need no decode — only
    // masks on columns physically present in this file join the
    // projection
    val extraMaskCols = maskFields.map(_._1)
      .filter(c => writtenNames(c) && !fromRequired.exists(_.name == c))
      .map(c => StructField(c, written(c).dataType))
    (fromRequired ++ extraMaskCols)
      .map(f => f.copy(nullable = written(f.name).nullable))
  }

  /** The file's OWN footer schema — the one source of truth for both
    * the column projection and the per-value decode types. The set's
    * recorded DDL cannot be trusted for either: evolution relaxes
    * NOT NULL on merge, and a NARROW LATE WRITER against a widened
    * table lands files whose physical types are narrower than the
    * DDL at add time (an INT32 date file under a TIMESTAMP_NTZ DDL).
    */
  private val fileSchema: Option[org.apache.parquet.schema.MessageType] =
    if (dataFields.isEmpty) None
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.file), new Configuration())
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      Some(try fr.getFileMetaData.getSchema finally fr.close())
    }

  /** Physical Spark type of one file field, from its parquet
    * primitive type + logical annotation.
    */
  private def physTypeOf(t: org.apache.parquet.schema.Type): Option[DataType] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (!t.isPrimitive) return None
    val ann = t.asPrimitiveType.getLogicalTypeAnnotation
    t.asPrimitiveType.getPrimitiveTypeName match {
      case INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(DateType)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.getBitWidth == 8 => Some(ByteType)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.getBitWidth == 16 => Some(ShortType)
        case _ => Some(IntegerType)
      }
      case INT64 => ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          Some(if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType)
        case _ => Some(LongType)
      }
      case DOUBLE => Some(DoubleType)
      case FLOAT => Some(FloatType)
      case BOOLEAN => Some(BooleanType)
      case BINARY
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(StringType)
      case _ => None
    }
  }

  private val physTypes: Map[String, DataType] = fileSchema match {
    case None => Map.empty
    case Some(fs) => dataFields.flatMap { f =>
      physTypeOf(fs.getFields.get(fs.getFieldIndex(f.name))).map(f.name -> _)
    }.toMap
  }

  /** The decode type of a field in THIS file: its physical footer
    * type when recognized, else the recorded DDL's (pre-existing
    * behavior for anything exotic).
    */
  private def decodeType(name: String): DataType =
    physTypes.getOrElse(name, written(name).dataType)

  private val reader: ParquetReader[Group] = {
    val conf = new Configuration()
    fileSchema.foreach { fs =>
      // Column-pruned projection from the file's own Type nodes, so
      // repetition and logical annotations always match exactly.
      conf.set(ReadSupport.PARQUET_READ_SCHEMA,
        new org.apache.parquet.schema.MessageType(
          "spark_schema",
          dataFields.map(f =>
            fs.getFields.get(fs.getFieldIndex(f.name))): _*).toString)
    }
    ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(part.file))
      .withConf(conf)
      .build()
  }

  private var current: Group = _
  private var rowIdx: Long = -1L

  /** Normalized value of a mask column in the current row: integrals
    * widen to Long, strings stay String — the same normalization the
    * plan-time mask loader applied. A parquet-null (or absent) value
    * returns null, which matches no mask (tombstoned keys are values,
    * never null).
    */
  private def maskValue(c: String): Any = {
    part.constLongs.find(_._1 == c) match {
      case Some((_, v)) => return v
      case None => ()
    }
    val gi = current.getType.getFieldIndex(c)
    if (current.getFieldRepetitionCount(gi) == 0) null
    else decodeType(c) match {
      case LongType => current.getLong(gi, 0)
      case IntegerType | DateType => current.getInteger(gi, 0).toLong
      case ShortType => current.getInteger(gi, 0).toLong
      case ByteType => current.getInteger(gi, 0).toLong
      case StringType => current.getString(gi, 0)
      case TimestampType | TimestampNTZType => current.getLong(gi, 0)
      case dt => throw new IllegalArgumentException(
        s"unsupported key-tombstone column type $dt for '$c'")
    }
  }

  override def next(): Boolean = {
    while (true) {
      current = reader.read()
      if (current == null) return false
      rowIdx += 1
      // Merge-on-read masking, applied AT THE DECODER: positional DV
      // masks drop this file's masked row indices; key tombstones
      // drop rows whose key value is masked — exactly the DataFrame
      // path's anti-joins, without a separate join operator.
      val masked = maskedPos.contains(rowIdx) ||
        maskFields.exists { case (c, vs) =>
          val v = maskValue(c); v != null && vs.contains(v)
        }
      if (!masked) return true
    }
    false
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      if (f.name == "_commit_version") {
        row.update(i, part.commitVersion)
      } else if (f.name == "_change_type" && part.changeType.isDefined) {
        row.update(i, UTF8String.fromString(part.changeType.get))
      } else if (part.constLongs.exists(_._1 == f.name)) {
        val v = part.constLongs.find(_._1 == f.name).get._2
        f.dataType match {
          case LongType => row.update(i, v)
          case IntegerType | DateType => row.update(i, v.toInt)
          case dt => throw new IllegalArgumentException(
            s"unsupported partition-column type $dt")
        }
      } else if (!writtenNames(f.name)) {
        row.update(i, null) // column added by a later commit
      } else {
        val gi = current.getType.getFieldIndex(f.name)
        if (current.getFieldRepetitionCount(gi) == 0) {
          row.update(i, null)
        } else {
          // Decode with the file's PHYSICAL type (its own footer —
          // the recorded DDL lies for narrow late writers), then
          // widen to the read type when the table schema evolved —
          // the lossless ladder mergeSchemas admits; anything else
          // refuses loudly.
          val wt = decodeType(f.name)
          val v: Any = wt match {
            case LongType => current.getLong(gi, 0)
            case IntegerType => current.getInteger(gi, 0)
            // parquet stores byte/short as INT32 (annotated widths)
            case ShortType => current.getInteger(gi, 0).toShort
            case ByteType => current.getInteger(gi, 0).toByte
            case DoubleType => current.getDouble(gi, 0)
            case FloatType => current.getFloat(gi, 0)
            case BooleanType => current.getBoolean(gi, 0)
            case StringType => UTF8String.fromString(current.getString(gi, 0))
            case DateType => current.getInteger(gi, 0)
            // Spark writes both timestamp kinds as INT64 micros
            // (adjustedToUTC distinguishes them) — the physical long
            // IS the Catalyst internal value for each.
            case TimestampType | TimestampNTZType => current.getLong(gi, 0)
            case dt => throw new IllegalArgumentException(s"unsupported $dt")
          }
          val out: Any =
            if (wt == f.dataType) v
            else (v, f.dataType) match {
              case (x: java.lang.Byte, ShortType) => x.toShort
              case (x: java.lang.Byte, IntegerType) => x.toInt
              case (x: java.lang.Byte, LongType) => x.toLong
              case (x: java.lang.Short, IntegerType) => x.toInt
              case (x: java.lang.Short, LongType) => x.toLong
              case (x: java.lang.Integer, LongType) => x.toLong
              case (x: java.lang.Float, DoubleType) => x.toDouble
              // DATE (epoch days) -> TIMESTAMP_NTZ (local micros):
              // midnight of the same day, the date->ntz widening rung.
              case (x: java.lang.Integer, TimestampNTZType)
                  if wt == DateType => x.toLong * 86_400_000_000L
              case _ => throw new IllegalArgumentException(
                s"file type $wt does not widen to read type " +
                  s"${f.dataType} for '${f.name}'")
            }
          row.update(i, out)
        }
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}
