package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And => FAnd, DataSourceRegister, EqualTo => FEq, Filter, GreaterThan => FGt, GreaterThanOrEqual => FGe, In => FIn, LessThan => FLt, LessThanOrEqual => FLe}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BATCH DSv2 read of a [[GraftLake]] table with MANIFEST-level data
  * skipping — the scan-side twin of the mutation pruning:
  *
  * `spark.read.format("graftlake").load(tablePath)`
  *
  * Catalyst pushes the query's filters and required columns into the
  * scan (`SupportsPushDownFilters` / `SupportsPushDownRequiredColumns`);
  * the builder translates the pushed filters into the SAME
  * range/equality constraints every mutation extracts
  * ([[GraftLake.statLongExpr]]'s long images: integral value, DATE
  * epoch days, TIMESTAMP instant micros, TIMESTAMP_NTZ local micros)
  * and plans ONLY the live file-sets that might hold a matching row —
  * zone maps answer ranges, Bloom sidecars equalities. A one-day
  * filter over a date-laid-out table opens one day's sets at PLAN
  * time, before any task launches; unselected columns never reach the
  * parquet decoder (per-file footer projection). Every pushed filter
  * is also RETAINED for Spark to re-apply, so skipping is purely a
  * file-open optimization — never a correctness dependence.
  *
  * The snapshot is pinned when the scan builder is created (reads are
  * repeatable within a query). Outstanding merge-on-read state is
  * SERVED, not refused: DV sidecars resolve at plan time into
  * per-file row-index masks and key tombstones into key value masks
  * (both O(deleted rows) — the frames the DataFrame path broadcasts),
  * applied inside the per-file readers, so `spark.read.format
  * ("graftlake")` reads every table state the DataFrame API reads.
  * Metadata-served aggregates refuse while masks are outstanding
  * (physical counts would overstate visible rows). Column-mapping
  * renames still refuse loudly — their per-set name resolution lives
  * in [[GraftLake.read]]. Partitioned (`padd`) sets plan their hive
  * subdirectories with the partition value served as a per-partition
  * constant, exactly like the streaming source.
  */
class GraftLakeBatchSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlake"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    require(p.isDefined, "graftlake batch read requires a path")
    p.get
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val s = GraftLake.snapshot(pathOf(options))
    require(s.version >= 0, s"no graft-lake table at ${pathOf(options)}")
    StructType.fromDDL(s.schemaDdl)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Same path/paths resolution as inferSchema — a multi-path load
    // arrives under "paths", and a bare Map lookup would die with a
    // cryptic NoSuchElementException.
    val p = Option(properties.get("path")).orElse(Option(properties.get("paths")))
    require(p.isDefined, "graftlake batch read requires a path")
    new GraftLakeBatchTable(p.get, schema)
  }
}

private[sources] class GraftLakeBatchTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graftlake($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Pin the snapshot HERE: every scan of this builder reads one
    // consistent table version however long planning takes.
    val snap = GraftLake.snapshot(path)
    require(snap.renames.isEmpty,
      s"graftlake batch read at $path: column-mapping renames need " +
        "per-set name resolution — read through GraftLake.read")
    // Outstanding merge-on-read state (DV sidecars / key tombstones)
    // resolves at PLAN time into sidecar DESCRIPTORS only — O(sidecar
    // sets) driver strings; each partition reader loads its OWN
    // file's positions / the key value sets task-side (MorMasks).
    // Metadata-served aggregates refuse while masks are outstanding
    // (physical counts/extremes would overstate the visible rows).
    val masks = GraftLake.loadScanMaskRefs(path, snap.tombstones)
    new GraftLakeScanBuilder(path, snap, tableSchema, masks)
  }
}

private[sources] class GraftLakeScanBuilder(
    path: String, snap: GraftLake.Snapshot, full: StructType,
    masks: GraftLake.ScanMaskRefs)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // Filters this scan decides EXACTLY (whole-set keep/drop, no
  // Spark-side re-apply) — see [[hivePinnedCols]] for when that is
  // sound. Consuming them (returning no residual from pushFilters)
  // is what lets Catalyst push aggregates past a WHERE clause.
  private var consumed: Array[Filter] = Array.empty
  // Aggregation answered from METADATA alone: (partial-agg schema,
  // the precomputed rows — one ungrouped row, or one row per
  // partition-value group). Set only when every function resolves.
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  /** Layout columns on which pushed filters are EXACTLY decidable per
    * set: the column is in the table's recorded layout, its long
    * image is exact (integral/date/timestamp — never the lossy string
    * prefix), EVERY live set is pinned on it (manifest min==max), and
    * EVERY live set is a hive-layout set — so the value is a
    * directory-name constant shared by every row of the set and
    * structurally non-null (a flat pinned set could hide NULL rows:
    * zone maps ignore nulls, hive layouts refuse them). Under those
    * conditions any boolean combination of comparisons over these
    * columns is a per-set CONSTANT: a set either satisfies the filter
    * in every row or in none, so whole-set keep/drop IS the filter.
    */
  private lazy val hivePinnedCols: Map[String, DataType] = {
    val layout = GraftLake.partitionColumnsOf(path)
    if (layout.isEmpty || snap.live.isEmpty) Map.empty
    else if (!snap.live.forall(GraftLake.isHiveLayoutSet(path, _))) Map.empty
    else layout.flatMap { c =>
      full.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) if GraftLake.isExactImage(f.dataType) &&
            snap.live.forall(_.statsFor(c).exists(st => st.min == st.max)) =>
          Some(f.name -> f.dataType)
        case _ => None
      }
    }.toMap
  }

  /** Evaluate `f` against one pinned set's layout values (canonical
    * column name → recorded image). Some(bool) = exactly decided;
    * None = not decidable on this column set (caller must not consume
    * the filter). Comparisons run in IMAGE space — exact images are
    * order-isomorphic to their values. IsNull/IsNotNull decide
    * structurally: hive layout columns are never null.
    */
  private def evalExact(f: Filter, vals: Map[String, Long]): Option[Boolean] = {
    import org.apache.spark.sql.sources.{EqualNullSafe, IsNotNull, IsNull, Not, Or => FOr}
    def canon(c: String): Option[String] =
      vals.keys.find(_.equalsIgnoreCase(c))
    def imgOf(c: String, v: Any): Option[(Long, Long)] = for {
      cn <- canon(c)
      x <- GraftLakeBatchSource.longImageOf(v, hivePinnedCols(cn))
    } yield (vals(cn), x)
    f match {
      case FAnd(l, r) =>
        for (a <- evalExact(l, vals); b <- evalExact(r, vals)) yield a && b
      case FOr(l, r) =>
        for (a <- evalExact(l, vals); b <- evalExact(r, vals)) yield a || b
      case Not(c) => evalExact(c, vals).map(!_)
      case FEq(c, v) => imgOf(c, v).map { case (p, x) => p == x }
      case EqualNullSafe(c, v) =>
        if (v == null) canon(c).map(_ => false)
        else imgOf(c, v).map { case (p, x) => p == x }
      case FGt(c, v) => imgOf(c, v).map { case (p, x) => p > x }
      case FGe(c, v) => imgOf(c, v).map { case (p, x) => p >= x }
      case FLt(c, v) => imgOf(c, v).map { case (p, x) => p < x }
      case FLe(c, v) => imgOf(c, v).map { case (p, x) => p <= x }
      case FIn(c, vs) =>
        canon(c).flatMap { cn =>
          val xs = vs.toSeq.map(v =>
            GraftLakeBatchSource.longImageOf(v, hivePinnedCols(cn)))
          // A NULL in the list never matches (three-valued IN keeps
          // no row on NULL); an unconvertible non-null is undecidable.
          if (xs.exists(x => x.isEmpty)) None
          else Some(xs.flatten.contains(vals(cn)))
        }
      case IsNull(c) => canon(c).map(_ => false)
      case IsNotNull(c) => canon(c).map(_ => true)
      case _ => None
    }
  }

  private def pinnedVals(ls: GraftLake.LiveSet): Map[String, Long] =
    hivePinnedCols.keys.map(c => c -> ls.statsFor(c).get.min).toMap

  /** Whole-set exact decision of every consumed filter for `ls` —
    * total by construction (consumption required decidability on a
    * set with the same column domain).
    */
  private def keepsSet(ls: GraftLake.LiveSet): Boolean =
    consumed.forall(f => evalExact(f, pinnedVals(ls)).getOrElse(
      throw new IllegalStateException(
        s"consumed filter $f became undecidable for set ${ls.set}")))

  /** MIN/MAX from the manifest zone maps, COUNT(*) from the parquet
    * footers — ZERO data tasks at any table size. Partial pushdown:
    * Spark still runs its merge agg over our one row, so semantics
    * (null handling, final types) stay Spark's. Answerable only when
    * no filter is pushed (rows would need re-filtering), there is no
    * GROUP BY, and — for MIN/MAX — EVERY live set carries stats for
    * the column (a stat-less legacy set could hide the true extreme;
    * zone maps already ignore NULLs exactly like min/max do). The
    * long images invert exactly: integral value, DATE days,
    * TIMESTAMP(_NTZ) micros are each the column's internal form.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    // Only EXACTLY-consumed filters compose with a metadata-served
    // aggregate (whole-set keep/drop IS the filter, so the surviving
    // sets' manifests/footers answer the filtered aggregate). Any
    // residual filter means rows would need re-filtering — refuse.
    if (pushed.exists(f => !consumed.contains(f))) return false
    // Outstanding MoR masks: the manifests/footers describe PHYSICAL
    // rows, which overstate the visible ones — fall back to the real
    // (masked) scan.
    if (!masks.isEmpty) return false
    val effLive = if (consumed.isEmpty) snap.live else snap.live.filter(keepsSet)
    GraftLakeBatchSource.lastCountFooterOpens = 0
    def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        full.fieldNames.find(_.equalsIgnoreCase(r.fieldNames.head))
      case _ => None
    }
    // The value a recorded image stands for, re-typed to the column —
    // exactly-invertible images only (a STRING zone map is a lossy
    // prefix: sound for skipping, never for serving values back).
    def valueOf(img: Long, dt: DataType): Any = dt match {
      case ByteType => img.toByte
      case ShortType => img.toShort
      case IntegerType | DateType => img.toInt
      case _ => img // Long, Timestamp (micros), NTZ (local micros)
    }
    def extremeOf(sets: Seq[GraftLake.LiveSet], c: String, isMin: Boolean)
        : Option[(Any, DataType)] = {
      val dt = full(c).dataType
      if (!GraftLake.isExactImage(dt)) return None
      val stats = sets.map(_.statsFor(c))
      if (stats.exists(_.isEmpty)) return None // a stat-less set could hide the extreme
      if (stats.isEmpty) return Some((null, dt)) // empty table: SQL min/max = NULL
      val img =
        if (isMin) stats.flatten.map(_.min).min else stats.flatten.map(_.max).max
      Some((valueOf(img, dt), dt))
    }
    // SUM(col): served from the per-set sums footerStats records for
    // value-domain integral columns — O(sets) manifest arithmetic,
    // zero data tasks. Declines when any live set lacks a recorded
    // sum (legacy entry, all-null set, or per-set Long overflow) or
    // when the fold itself would overflow (the real scan then applies
    // the engine's own overflow semantics). Empty table: SUM = NULL.
    def sumOf(sets: Seq[GraftLake.LiveSet], c: String)
        : Option[(Any, DataType)] = {
      if (!GraftLake.sumStatEligible(full(c).dataType)) return None
      val sums = sets.map(_.statsFor(c).flatMap(_.sum))
      if (sums.exists(_.isEmpty)) return None
      if (sums.isEmpty) return Some((null, LongType))
      sums.flatten.foldLeft(Option(0L)) { (acc, s) =>
        acc.flatMap(a =>
          try Some(Math.addExact(a, s))
          catch { case _: ArithmeticException => None })
      }.map(t => (t: Any, LongType))
    }
    // COUNT(col): non-null counts recorded per set for every stat
    // column (no value-domain restriction — counting is type-blind).
    // With sums this also completes AVG, which Spark splits into a
    // partial sum + count pair. Declines on any nn-less live set.
    def nnOf(sets: Seq[GraftLake.LiveSet], c: String)
        : Option[(Any, DataType)] = {
      val nns = sets.map(_.statsFor(c).flatMap(_.nn))
      if (nns.exists(_.isEmpty)) return None
      Some((nns.flatten.sum: Any, LongType))
    }
    // COUNT(*): each set's commit-time `_ridmap` sidecar serves its
    // recorded total — O(sets) tiny metadata reads, ZERO parquet
    // footer opens (the 100 TB posture). The driver footer walk
    // survives only as the per-set fallback for pre-sidecar legacy
    // sets, counted by the instrument so specs can pin the zero.
    def footerCount(sets: Seq[GraftLake.LiveSet]): Option[Long] = {
      try Some(sets.map { ls =>
        GraftLake.setRecordCountFromSidecar(path, ls.set).getOrElse {
          GraftLakeBatchSource.lastCountFooterOpens =
            GraftLakeBatchSource.lastCountFooterOpens + 1
          GraftLake.setRecordCountFromFooters(path, ls.set)
        }
      }.sum)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    def rowFor(sets: Seq[GraftLake.LiveSet]): Option[Seq[(Any, DataType)]] = {
      val resolved = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => footerCount(sets).map(n => (n: Any, LongType))
        case m: Min => colNameOf(m.column).flatMap(extremeOf(sets, _, isMin = true))
        case m: Max => colNameOf(m.column).flatMap(extremeOf(sets, _, isMin = false))
        case s: Sum if !s.isDistinct => colNameOf(s.column).flatMap(sumOf(sets, _))
        case ct: Count if !ct.isDistinct =>
          colNameOf(ct.column).flatMap(nnOf(sets, _))
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
    }
    // GROUP BY pushdown: when every group-by expression is a column
    // on which EVERY live set is PINNED (min==max, exact image — the
    // partition-layout shape), the groups ARE the per-tuple set
    // groups, and each group's aggregates resolve from its own
    // manifests/footers: `SELECT day, region, count(*), max(id) FROM t
    // GROUP BY day, region` runs ZERO data tasks at any table size.
    val groupCols: Option[Seq[String]] = {
      val named = agg.groupByExpressions.toSeq.map(colNameOf)
      if (named.exists(_.isEmpty)) None else Some(named.flatten)
    }
    groupCols match {
      case None => return false
      case Some(gs) if gs.isEmpty =>
        rowFor(effLive) match {
          case None => return false
          case Some(row) =>
            val fields = row.zipWithIndex.map { case ((_, dt), i) =>
              StructField(s"agg_$i", dt, nullable = true)
            }
            aggAnswer = Some((StructType(fields), Seq(row.map(_._1))))
        }
      case Some(gs) =>
        val pinnedOk = gs.forall { g =>
          GraftLake.isExactImage(full(g).dataType) &&
            effLive.forall(_.statsFor(g).exists(st => st.min == st.max))
        }
        if (!pinnedOk) return false
        val groups = effLive
          .groupBy(ls => gs.map(g => ls.statsFor(g).get.min))
          .toSeq.sortBy(_._1.mkString(","))
        val rows = groups.map { case (key, sets) =>
          rowFor(sets).map { aggVals =>
            gs.zip(key).map { case (g, img) =>
              (valueOf(img, full(g).dataType), full(g).dataType)
            } ++ aggVals
          }
        }
        if (rows.exists(_.isEmpty)) return false
        // schema is derivable without rows (empty table → zero groups)
        val aggTypes = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some(LongType)
          case m: Min => colNameOf(m.column).map(full(_).dataType)
          case m: Max => colNameOf(m.column).map(full(_).dataType)
          case s: Sum if !s.isDistinct =>
            colNameOf(s.column).map(_ => LongType: DataType)
          case ct: Count if !ct.isDistinct =>
            colNameOf(ct.column).map(_ => LongType: DataType)
          case _ => None
        }
        if (aggTypes.exists(_.isEmpty)) return false
        val fields = gs.map(g => StructField(g, full(g).dataType,
          nullable = true)) ++
          aggTypes.zipWithIndex.map { case (dt, i) =>
            StructField(s"agg_$i", dt.get, nullable = true) }
        aggAnswer = Some((StructType(fields), rows.map(_.get.map(_._1))))
    }
    GraftLakeBatchSource.lastAggPushed = true
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => keep(f.name)))
  }

  /** Accept every filter for manifest skipping. Filters that are
    * EXACTLY decidable per set (boolean trees over [[hivePinnedCols]])
    * are CONSUMED — not returned as residual, so Spark plans no
    * re-apply and, crucially, V2ScanRelationPushDown is then willing
    * to push an aggregate past the WHERE clause (`WHERE day >= d
    * GROUP BY day` answered from manifests, zero data tasks).
    * Everything else is returned for Spark to re-apply, keeping set
    * skipping a pure file-open optimization for those.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    GraftLakeBatchSource.lastPushed = filters.map(_.toString).toSeq
    val probe = snap.live.headOption.map(pinnedVals).getOrElse(Map.empty)
    val (exact, residual) =
      if (hivePinnedCols.isEmpty) (Array.empty[Filter], filters)
      else filters.partition(f => evalExact(f, probe).isDefined)
    consumed = exact
    GraftLakeBatchSource.lastConsumed = exact.map(_.toString).toSeq
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggAnswer match {
    case Some((schema, rows)) =>
      GraftLakeBatchSource.lastScanSets = (0, snap.live.size)
      new GraftLakeAggScan(schema, rows)
    case None =>
      val (ranges0, eqs) = GraftLakeBatchSource.constraintsOf(pushed, full)
      // Transitive generated-column pruning (same rule as the
      // mutation paths): a base-column filter derives ranges on the
      // table's recognized monotone generated columns.
      val ranges = ranges0 ++ GraftLake.deriveGeneratedConstraints(
        ranges0, full, GraftLake.generatedColumnsOf(path))
      // CONSUMED filters are not re-applied by Spark: the whole-set
      // exact decision below IS the filter (the conservative
      // setMayMatch prune then only drops provably-matchless sets
      // for the residual ones).
      val afterExact =
        if (consumed.isEmpty) snap.live else snap.live.filter(keepsSet)
      val (scan, skip) = afterExact.partition(
        GraftLake.setMayMatch(path, _, ranges, eqs))
      GraftLakeBatchSource.lastScanSets =
        (scan.size, skip.size + (snap.live.size - afterExact.size))
      GraftLakeBatchSource.readSchemas.add(required.fieldNames.toSeq)
      new GraftLakeBatchScan(path, scan, required, masks)
  }
}

private[sources] class GraftLakeBatchScan(
    path: String, initialSets: Seq[GraftLake.LiveSet], required: StructType,
    masks: GraftLake.ScanMaskRefs =
      GraftLake.ScanMaskRefs(Seq.empty, Seq.empty))
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // Runtime (DPP-class) filtering may prune this at EXECUTION time —
  // after the broadcast side of a join materializes its key values.
  @volatile private var sets: Seq[GraftLake.LiveSet] = initialSets

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** TABLE STATISTICS from metadata (Delta/Iceberg-class join
    * planning): sizeInBytes = the PLANNED (post-static-prune) sets'
    * file bytes, numRows = their `_ridmap` sidecar totals — both
    * O(sets) driver metadata, no tasks. Without this a DSv2 relation
    * sizes at `spark.sql.defaultSizeInBytes` (effectively infinite)
    * and a kilobyte-sized lake dimension NEVER auto-broadcasts; with
    * it, fact⋈dim joins over lake tables pick broadcast exactly like
    * parquet tables do, and the estimate tightens with every pruned
    * set. Outstanding masks make physical rows an overestimate —
    * fine for an ESTIMATE (never a correctness input), and the bytes
    * estimate is unaffected.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    import scala.jdk.CollectionConverters._
    // Kill-switch (`spark.graft.lake.stats.enabled=false`): report
    // nothing, exactly like a stats-less DSv2 source — the ops
    // escape hatch for a corrupt-manifest incident, and the control
    // leg of the plan-flip gate (src68 proves the reported stats are
    // what FLIPS a fact⋈dim join to broadcast).
    if (!org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.lake.stats.enabled", "true")
        .equalsIgnoreCase("true"))
      return new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    val bytes =
      try {
        java.util.OptionalLong.of(sets.map { ls =>
          java.nio.file.Files.walk(
            java.nio.file.Paths.get(GraftLake.setPathOf(path, ls.set)))
            .iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(java.nio.file.Files.size(_)).sum
        }.sum)
      } catch { case scala.util.control.NonFatal(_) =>
        java.util.OptionalLong.empty()
      }
    val rowCounts = sets.map(ls =>
      GraftLake.setRecordCountFromSidecar(path, ls.set))
    val rows =
      if (sets.nonEmpty && rowCounts.forall(_.isDefined))
        java.util.OptionalLong.of(rowCounts.flatten.sum)
      else if (sets.isEmpty) java.util.OptionalLong.of(0L)
      else java.util.OptionalLong.empty()
    // COLUMN-LEVEL statistics for the cost-based optimizer, served
    // from the same manifests the pruning paths read: exact min/max
    // for value-domain integral stat columns (the image IS the value)
    // and exact nullCount wherever every planned set records a
    // non-null count (rows − Σnn). A column declines — never guesses —
    // when any planned set lacks the stat (legacy entry, all-null
    // set, non-integral image).
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (rows.isPresent && sets.nonEmpty) {
      val totalRows = rows.getAsLong
      required.fields.foreach { f =>
        val sts = sets.map(_.statsFor(f.name))
        if (sts.forall(_.isDefined)) {
          val integral = GraftLake.sumStatEligible(f.dataType)
          val minV: java.util.Optional[Object] =
            if (integral) {
              val img = sts.flatten.map(_.min).min
              java.util.Optional.of(boxImage(img, f.dataType))
            } else java.util.Optional.empty()
          val maxV: java.util.Optional[Object] =
            if (integral) {
              val img = sts.flatten.map(_.max).max
              java.util.Optional.of(boxImage(img, f.dataType))
            } else java.util.Optional.empty()
          val nns = sts.map(_.flatMap(_.nn))
          val nulls: java.util.OptionalLong =
            if (nns.forall(_.isDefined))
              java.util.OptionalLong.of(totalRows - nns.flatten.sum)
            else java.util.OptionalLong.empty()
          if (minV.isPresent || nulls.isPresent) {
            colStats.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def min(): java.util.Optional[Object] = minV
                override def max(): java.util.Optional[Object] = maxV
                override def nullCount(): java.util.OptionalLong = nulls
              })
          }
        }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Box an exact integral stat image as the column's external value. */
  private def boxImage(img: Long, dt: DataType): Object = dt match {
    case ByteType => java.lang.Byte.valueOf(img.toByte)
    case ShortType => java.lang.Short.valueOf(img.toShort)
    case IntegerType => java.lang.Integer.valueOf(img.toInt)
    case _ => java.lang.Long.valueOf(img)
  }

  /** RUNTIME SET PRUNING (the DSv2 dynamic partition pruning): offer
    * every prunable-typed output column that any planned set records
    * stats for; when the join's build side finishes, Spark hands back
    * `In(col, values)` filters with the ACTUAL key values, and the
    * scan re-prunes its set list through the same zone-map/Bloom
    * machinery the static path uses — a fact⋈dim join whose dim
    * filters to one day opens one day's sets, decided at runtime. The
    * prune is advisory (drops provably-matchless sets only; Spark
    * still applies the join), so composing with masks/filters is
    * free. Skipped when the scan reported KeyGroupedPartitioning:
    * dropping whole partition values after the grouping was reported
    * would break the SPJ contract — the exchange saved there already
    * dwarfs the file-open win.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (spjLayout.isDefined) Array.empty
    else required.fields
      .filter(f => GraftLake.isPrunableType(f.dataType) &&
        sets.exists(_.statsFor(f.name).isDefined))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions
        .column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    if (spjLayout.isDefined) return
    val (ranges, eqs) = GraftLakeBatchSource.constraintsOf(filters, required)
    if (ranges.isEmpty && eqs.isEmpty) return
    sets = sets.filter(GraftLake.setMayMatch(path, _, ranges, eqs))
    // Bounded instrument: a long-lived session scanning many distinct
    // paths must not grow the map without end.
    if (GraftLakeBatchSource.lastRuntimePrune.size > 512)
      GraftLakeBatchSource.lastRuntimePrune.clear()
    // AQE can replan and deliver the filter again to a FRESH scan
    // whose plan-time list was already pruned — merge so the entry
    // keeps the deepest prune observed for this table.
    GraftLakeBatchSource.lastRuntimePrune.merge(
      path, (sets.size, initialSets.size - sets.size),
      (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
  }

  /** STORAGE-PARTITIONED JOINS (Spark's SPJ, the DSv2 bucketed-join):
    * when the table has a recorded layout, every planned set is
    * PINNED (min==max) on all layout columns, and the session opted
    * into `spark.sql.sources.v2.bucketing.enabled`, the scan reports
    * `KeyGroupedPartitioning` over the layout columns and plans ONE
    * input partition per value tuple (`HasPartitionKey`). Two lake
    * tables laid out by the same key then JOIN WITHOUT A SHUFFLE —
    * at 100 TB that deletes the dominant exchange of every
    * fact-to-fact co-partitioned join. When the conf is off (or any
    * set is unpinned) the scan keeps one-partition-per-FILE
    * parallelism and reports nothing.
    */
  private def spjLayout: Option[Seq[(String, DataType)]] = {
    if (!org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
        .equalsIgnoreCase("true")) return None
    val layout = GraftLake.partitionColumnsOf(path)
    if (layout.isEmpty || sets.isEmpty) return None
    // every layout column must be in the scan output for Spark to
    // resolve the reported keys, and every set must be pinned
    val typed = layout.map(c =>
      required.fields.find(_.name.equalsIgnoreCase(c)).map(f => f.name -> f.dataType))
    if (typed.exists(_.isEmpty)) return None
    if (!sets.forall(ls => layout.forall(pc =>
      ls.statsFor(pc).exists(st => st.min == st.max)))) return None
    Some(typed.flatten)
  }

  private def keyOf(ls: GraftLake.LiveSet, layout: Seq[String]): Seq[Long] =
    layout.map(pc => ls.statsFor(pc).get.min)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjLayout match {
      case Some(typed) =>
        val groups = sets.groupBy(keyOf(_, typed.map(_._1))).size
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            typed.map { case (c, _) =>
              org.apache.spark.sql.connector.expressions.Expressions
                .identity(c): org.apache.spark.sql.connector.expressions.Expression
            }.toArray, groups)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** All file partitions of one set (per-file granularity). */
  private def setFilePartitions(ls: GraftLake.LiveSet): Seq[LakeFilePartition] =
    LakeFilePartition.ofSet(path, ls)
      .map(_.copy(dvSet = ls.set, dvDirs = masks.dvDirs))

  /** Under SPJ, ONE keyed partition per FILE (each `HasPartitionKey`),
    * not one per value tuple: Spark's BatchScanExec groups same-key
    * partitions itself (`groupPartitions`), and leaving the grouping
    * to Spark is what enables `partiallyClusteredDistribution` — on a
    * skewed join the storage-partitioned side keeps PER-FILE tasks
    * for its big partition values while the other side's groups are
    * replicated, instead of one giant task per hot key.
    */
  override def planInputPartitions(): Array[InputPartition] =
    spjLayout match {
      case Some(typed) =>
        sets.groupBy(keyOf(_, typed.map(_._1))).toSeq.sortBy(_._1.mkString(","))
          .flatMap { case (key, group) =>
            group.flatMap(setFilePartitions).map(f =>
              LakeKeyedPartition(Seq(f),
                key, typed.map(_._2.catalogString)): InputPartition)
          }.toArray
      case None => sets.flatMap(setFilePartitions(_): Seq[InputPartition]).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeFileReaderFactory(required, masks.keyRefs)
}

/** One partition VALUE TUPLE's worth of files — the SPJ grouping.
  * `partitionKey` serves the tuple typed per the layout columns'
  * catalog types (driver-side; Spark groups and matches both join
  * sides by these rows).
  */
private[sources] case class LakeKeyedPartition(
    files: Seq[LakeFilePartition], keyVals: Seq[Long], keyTypes: Seq[String])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = {
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(keyVals.length)
    keyVals.zip(keyTypes).zipWithIndex.foreach { case ((v, t), i) =>
      t match {
        case "int" | "date" => row.update(i, v.toInt)
        case "smallint" => row.update(i, v.toShort)
        case "tinyint" => row.update(i, v.toByte)
        case _ => row.update(i, v)
      }
    }
    row
  }
}

/** The metadata-answered aggregate scan: ONE partition emitting the
  * ONE precomputed partial row — no file is opened, no data task
  * runs; Spark's final merge agg consumes it.
  */
private[sources] class GraftLakeAggScan(schema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLakeAggPartition(schema.toDDL, rows.map(_.map {
      case null => null
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
    })))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val part = p.asInstanceOf[GraftLakeAggPartition]
        val st = StructType.fromDDL(part.ddl)
        new org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < part.rows.length }
          override def get(): org.apache.spark.sql.catalyst.InternalRow = {
            val out = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(st.length)
            part.rows(i).zipWithIndex.foreach {
              case (null, j) => out.update(j, null)
              case (l: Long, j) => st(j).dataType match {
                case ByteType => out.update(j, l.toByte)
                case ShortType => out.update(j, l.toShort)
                case IntegerType | DateType => out.update(j, l.toInt)
                case _ => out.update(j, l)
              }
              case (v, j) => out.update(j, v)
            }
            out
          }
          override def close(): Unit = ()
        }
      }
    }
}

/** Serialized as longs (the images); re-typed executor-side. */
private[sources] case class GraftLakeAggPartition(
    ddl: String, rows: Seq[Seq[Any]]) extends InputPartition

object GraftLakeBatchSource {

  /** Test observability: (scanned, skipped) live sets of the last
    * planned batch scan, the post-pruning read schemas, and whether
    * the last scan answered a pushed aggregation from metadata.
    * THREAD-LOCAL like GraftLake's pruning instrumentation: gates run
    * concurrently, and each asserts on the scan ITS OWN thread just
    * planned — a global would let one gate's plan clobber another's
    * flags mid-assert.
    */
  private[this] val _lastScanSets =
    ThreadLocal.withInitial[(Int, Int)](() => (0, 0))
  def lastScanSets: (Int, Int) = _lastScanSets.get()
  private[graft] def lastScanSets_=(v: (Int, Int)): Unit =
    _lastScanSets.set(v)
  private[this] val _lastPushed =
    ThreadLocal.withInitial[Seq[String]](() => Seq.empty)
  def lastPushed: Seq[String] = _lastPushed.get()
  private[graft] def lastPushed_=(v: Seq[String]): Unit =
    _lastPushed.set(v)
  private[this] val _lastAggPushed =
    ThreadLocal.withInitial[Boolean](() => false)
  def lastAggPushed: Boolean = _lastAggPushed.get()
  private[graft] def lastAggPushed_=(v: Boolean): Unit =
    _lastAggPushed.set(v)
  val readSchemas = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  // (scanned, runtime-skipped) of the last runtime-filter prune, per
  // table path: runtime filters arrive on Spark's execution threads,
  // so the thread-local pattern the plan-time instruments use would
  // miss them — path-keyed is race-free across concurrent gates as
  // long as each exercises its own scratch table (they do).
  val lastRuntimePrune =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[this] val _lastConsumed =
    ThreadLocal.withInitial[Seq[String]](() => Seq.empty)
  def lastConsumed: Seq[String] = _lastConsumed.get()
  private[graft] def lastConsumed_=(v: Seq[String]): Unit =
    _lastConsumed.set(v)
  // Legacy sets whose COUNT(*) fell back to a driver footer walk in
  // the last pushAggregation — 0 when every set served its sidecar.
  private[this] val _lastCountFooterOpens =
    ThreadLocal.withInitial[Int](() => 0)
  def lastCountFooterOpens: Int = _lastCountFooterOpens.get()
  private[graft] def lastCountFooterOpens_=(v: Int): Unit =
    _lastCountFooterOpens.set(v)

  /** One JVM value → the recorded long image under `dt` — the same
    * encoding the zone-map stats were written with ([[GraftLake
    * .statLongExpr]]): integral identity, DATE epoch days,
    * TIMESTAMP(_NTZ) micros, STRING order-preserving prefix (lossy —
    * callers that need exactness must not pass strings here).
    */
  private[sources] def longImageOf(v: Any, dt: DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    if (v == null) return None
    (dt, v) match {
      case (t, x) if GraftLake.isIntegralType(t) => x match {
        case b: java.lang.Byte => Some(b.toLong)
        case s: java.lang.Short => Some(s.toLong)
        case i: java.lang.Integer => Some(i.toLong)
        case l: java.lang.Long => Some(l.toLong)
        case _ => None
      }
      case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(DateTimeUtils.fromJavaTimestamp(t))
      case (TimestampType, t: java.time.Instant) =>
        Some(DateTimeUtils.instantToMicros(t))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(DateTimeUtils.localDateTimeToMicros(t))
      case (StringType, x: String) =>
        Some(GraftLake.stringPrefixImage(x))
      case (StringType, x: org.apache.spark.unsafe.types.UTF8String) =>
        Some(GraftLake.stringPrefixImage(x.toString))
      case _ => None
    }
  }

  /** Translate Catalyst's pushed V1 filters into the manifest
    * constraint shape ([[GraftLake.setMayMatch]]'s inputs), using the
    * SAME long images the stats were recorded under. Anything not
    * soundly convertible contributes nothing (conservative). Only
    * top-level conjuncts constrain — an OR could only be used if both
    * arms constrained the same column, which Spark already splits
    * where legal.
    */
  private[sources] def constraintsOf(
      filters: Array[Filter], schema: StructType)
      : (Seq[(String, Long, Long)], Seq[(String, Seq[Long])]) = {
    val kinds: Map[String, DataType] = schema.fields
      .filter(f => GraftLake.isPrunableType(f.dataType))
      .map(f => f.name -> f.dataType).toMap

    def longOf(colName: String, v: Any): Option[Long] =
      kinds.get(colName).flatMap(longImageOf(v, _))
    def exact(colName: String): Boolean =
      kinds.get(colName).exists(GraftLake.isExactImage)
    type Cons = (Seq[(String, Long, Long)], Seq[(String, Seq[Long])])
    val none: Cons = (Seq.empty, Seq.empty)
    def go(f: Filter): Cons = f match {
      case FAnd(l, r) =>
        val (a, b) = (go(l), go(r)); (a._1 ++ b._1, a._2 ++ b._2)
      case FEq(c, v) => longOf(c, v) match {
        case Some(x) => (Seq((c, x, x)), Seq((c, Seq(x))))
        case None => none
      }
      case FGe(c, v) => longOf(c, v) match {
        case Some(x) => (Seq((c, x, Long.MaxValue)), Seq.empty)
        case None => none
      }
      case FLe(c, v) => longOf(c, v) match {
        case Some(x) => (Seq((c, Long.MinValue, x)), Seq.empty)
        case None => none
      }
      case FGt(c, v) => longOf(c, v) match {
        case Some(x) if !exact(c) => (Seq((c, x, Long.MaxValue)), Seq.empty)
        case Some(x) if x < Long.MaxValue =>
          (Seq((c, x + 1, Long.MaxValue)), Seq.empty)
        case _ => none
      }
      case FLt(c, v) => longOf(c, v) match {
        case Some(x) if !exact(c) => (Seq((c, Long.MinValue, x)), Seq.empty)
        case Some(x) if x > Long.MinValue =>
          (Seq((c, Long.MinValue, x - 1)), Seq.empty)
        case _ => none
      }
      case FIn(c, vs) if vs.nonEmpty =>
        val xs = vs.toSeq.map(longOf(c, _))
        if (xs.forall(_.isDefined)) {
          val flat = xs.flatten
          (Seq((c, flat.min, flat.max)), Seq((c, flat)))
        } else none
      // Catalyst rewrites small IN lists into OR-of-equalities chains
      // before pushdown — flatten; sound only when every leaf is an
      // equality on the SAME column with convertible values.
      case or: org.apache.spark.sql.sources.Or =>
        def leaves(x: Filter): Seq[Filter] = x match {
          case org.apache.spark.sql.sources.Or(l, r) => leaves(l) ++ leaves(r)
          case other => Seq(other)
        }
        val ls = leaves(or)
        val eqsL = ls.collect { case FEq(c, v) => (c, longOf(c, v)) }
        if (eqsL.length == ls.length && eqsL.nonEmpty &&
            eqsL.map(_._1).distinct.length == 1 &&
            eqsL.forall(_._2.isDefined)) {
          val c = eqsL.head._1
          val flat = eqsL.flatMap(_._2)
          (Seq((c, flat.min, flat.max)), Seq((c, flat)))
        } else none
      case _ => none
    }
    filters.map(go).foldLeft(none) { (acc, c) =>
      (acc._1 ++ c._1, acc._2 ++ c._2)
    }
  }
}
