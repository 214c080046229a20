package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** A minimal ACID table format over parquet — the "lakehouse" surface
  * the plain directory layouts (Sources.scala) don't give: snapshot
  * isolation, TIME TRAVEL, SCHEMA EVOLUTION, and atomic concurrent
  * appends, all from an ordered JSON commit log, the same core design
  * as the open deltalake/iceberg formats re-expressed at this repo's
  * scope.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_log/00000000.json   // one JSON commit per version
  *     data/c<version>-<uuid>/    // immutable parquet file-sets
  * }}}
  *
  * Each commit records its action (create/append/overwrite), the
  * table schema AS OF that version (DDL), and the file-sets it adds /
  * removes. A reader at version v folds commits 0..v into the live
  * file-set list and reads each file-set WITH THE SCHEMA IT WAS
  * WRITTEN UNDER, null-filling columns added later — so old files
  * never need rewriting when the schema grows (evolution is a log
  * property, not a data rewrite).
  *
  * Commit protocol (optimistic concurrency, no locks held across the
  * data write):
  *   1. stage the parquet file-set under data/ (invisible to readers
  *      — only the log makes files live);
  *   2. CLAIM the next version by atomically creating the EMPTY log
  *      file (`Files.createFile` = O_EXCL — exactly one concurrent
  *      writer wins a version);
  *   3. PUBLISH by atomically moving the full JSON over the claimed
  *      empty file (`ATOMIC_MOVE`).
  * A loser re-reads the log and retries with the next version — its
  * staged data stays invisible until its own commit lands. Readers
  * treat an empty log file as in-flight and read the committed prefix
  * before it, so a half-done commit is never observable.
  *
  * Scale notes: the log is O(commits) driver-side metadata (like any
  * table format's manifest list); data reads are ordinary distributed
  * parquet scans unioned per schema epoch — predicates and projection
  * still push into every scan. Nothing row-sized ever passes through
  * the driver.
  */
object GraftLake {

  /** One clause of a flexible [[mergeActions]] MERGE. `when` is
    * `"matched"` / `"notMatched"` / `"bySource"`; `action` is
    * `"update"` / `"delete"` / `"insert"`. `condition` and assignment
    * values are SQL expression text over `t.<col>` (target) and
    * `s.<col>` (source). Empty `assignments` on update/insert is the
    * star form (`UPDATE SET *` / `INSERT *`).
    */
  final case class MergeClause(
      when: String, action: String, condition: Option[String],
      assignments: Seq[(String, String)] = Seq.empty)

  final case class Commit(
      version: Int, action: String, schemaDdl: String,
      add: Seq[String], remove: Seq[String], tag: Option[String] = None,
      stats: Seq[SetStats] = Seq.empty, tsMillis: Long = 0L,
      // Per-set manifests of a partitioned ("padd") commit: each added
      // set with its OWN exact stats (partition value as a min==max
      // zone map). Empty for ordinary one-set commits.
      perSet: Seq[LiveSet] = Seq.empty,
      // CHANGE-DATA-FEED sidecar: the name of a `cdf/...` set holding
      // this mutation's typed change rows (`_change_type` in
      // insert / update_preimage / update_postimage / delete) — the
      // Delta CDF `_change_data` shape. Written at mutation time by
      // merge/delete/deleteMoR when the table has CDF enabled; never
      // part of the live data sets.
      cdf: Option[String] = None,
      // COPY INTO file registry lines of a `copyinto` commit: the
      // source-file identities (relName:size) this commit ingested —
      // carried as sealed `ingestf` tail lines in the same atomic
      // file, folded into Snapshot.ingested for per-file idempotence.
      ingest: Seq[String] = Seq.empty,
      // CROSS-TABLE TRANSACTION token (`<coordinator log dir>|<id>`):
      // a provisional commit that is VISIBLE only once the single
      // `txn_<id>.decided` marker exists WITH content "committed"
      // (content "aborted" buries it) — the all-or-nothing gate of
      // [[appendAtomic]]. Pending/aborted tokens resolve the commit
      // to a version-only no-op at read time (commitsFrom), so a
      // half-landed transaction can never surface on any table.
      txn: Option[String] = None,
      // UNDECIDED-transaction claims, populated ONLY on the read-time
      // no-op a PENDING txn commit resolves to: the original action
      // and its add/remove lists. The mutation fence treats these as
      // held locks (a racing rewrite of a pending-removed set, or a
      // racing mask race against a pending mask, must wait for the
      // decision). An ABORTED txn resolves with no action and no
      // removes; its add list stays in `heldAdds` as vacuum's list of
      // dead staged sets.
      heldAction: String = "",
      heldAdds: Seq[String] = Seq.empty,
      heldRemoves: Seq[String] = Seq.empty)

  /** Per-file-set min/max of one long column, recorded at commit time
    * from the written files — the manifest-level zone map that lets
    * MERGE / DELETE / pruned scans touch only overlapping file-sets.
    * A commit carries one entry PER stats column, so pruning composes
    * across dimensions (the Z-order layout's manifest twin).
    *
    * `sum` (value-domain INTEGRAL columns only — byte/short/int/long,
    * where [[statLongExpr]]'s image IS the value) is the set's exact
    * non-null column sum, letting SUM aggregates resolve from O(sets)
    * manifest arithmetic with zero data tasks. Absent on temporal /
    * string / float columns (summing an image is meaningless) and on
    * pre-feature legacy entries — a single sum-less live set makes
    * the pushdown decline to the real scan.
    *
    * `nn` is the set's non-null count of the column (every stat-typed
    * column records it — counting needs no value domain): serves
    * `COUNT(col)` directly and, with `sum`, completes AVG pushdown
    * (Spark splits a partial avg into sum + count). Same legacy
    * posture: one nn-less live set declines.
    */
  final case class SetStats(col: String, min: Long, max: Long,
      sum: Option[Long] = None, nn: Option[Long] = None)

  /** A live file-set as of some version: its path, the schema it was
    * written under, and its zone-map stats (one per stats column).
    */
  final case class LiveSet(set: String, schemaDdl: String, stats: Seq[SetStats]) {
    def statsFor(c: String): Option[SetStats] = stats.find(_.col == c)
  }

  /** The folded state of the table at some version: everything a
    * reader or writer needs, with no reference back to the commits
    * that produced it. `tags` maps every idempotence tag committed so
    * far to its version — exactly-once appends must dedup against the
    * WHOLE history, so checkpoints carry tags forward.
    */
  final case class Snapshot(
      version: Int, schemaDdl: String, live: Seq[LiveSet],
      tombstones: Seq[String], tags: Map[String, Int], tsMillis: Long,
      constraints: Map[String, String] = Map.empty,
      // COLUMN MAPPING: logical column name -> its FORMER names,
      // newest first (Delta's column-mapping rename re-expressed in
      // name-lineage terms: files written before a rename keep their
      // physical column name; readers resolve logical -> first former
      // name present in each set's own schema).
      renames: Map[String, Seq[String]] = Map.empty,
      // The table's hive-partition layout columns IN LAYOUT ORDER
      // (one or several — Delta/Hive (date, region) tuples), recorded
      // as a SEALED log entry (action `partition`, add = the columns)
      // — rides checkpoints, clones, restore and time travel like
      // constraints do.
      partitionCols: Seq[String] = Seq.empty,
      // COPY INTO's exactly-once ledger: every source-file identity
      // ever ingested (monotone union over the whole history — like
      // Delta, neither RESTORE nor overwrite re-opens a loaded file).
      ingested: Set[String] = Set.empty,
      // Column DEFAULT expressions (SQL text) and GENERATED-column
      // expressions, recorded by `coldef` log entries — write-side
      // metadata the INSERT/COPY routes consult; rides checkpoints
      // and clones like constraints do.
      defaults: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty,
      // ROW TRACKING high-water mark: one past the largest row id
      // ever allocated (monotone over ALL commits, including sets
      // later removed — reuse would alias identities).
      ridHighWater: Long = 0L,
      // IDENTITY columns: col -> (start, step), recorded by `coldef`
      // entries ("i:" items). Values are allocated off the row-
      // tracking high water (identity tables require row tracking),
      // so the race-free monotone range claim is shared machinery.
      identities: Map[String, (Long, Long)] = Map.empty,
      // The subset of `identities` declared GENERATED BY DEFAULT
      // (Delta's allowExplicitInsert): writers MAY supply values;
      // the high water advances past supplied maxima so generated
      // values never collide. Recorded as a ",d" item suffix.
      identityDefaults: Set[String] = Set.empty,
      // Claims of UNDECIDED transactions folded from their read-time
      // no-ops: file-sets a pending txn commit REMOVES (a racing
      // rewrite/mask of one must wait for the decision) and position
      // sidecars a pending txn commit ADDS (a racing rewrite of the
      // masked sets must wait too) — the cross-writer face of "the
      // MutationFence claim is held across the transaction".
      pendingRemoves: Set[String] = Set.empty,
      pendingMasks: Seq[String] = Seq.empty,
      // true while ANY undecided-transaction commit is in the log —
      // schema/constraint DDL waits for the decision (a rule added
      // over pending rows would bypass their validation; a rename
      // would re-base a schema the pending commit already baked)
      pendingTxn: Boolean = false)

  /** Reserved manifest-stats name carrying a set's row-id range
    * ([base, base+rows-1]) — never a real column (guarded at
    * allocation). Riding the existing stats plumbing means row ids
    * checkpoint, clone, restore and time-travel for free.
    */
  private[sources] val RidStat = "__rid"

  private val EmptySnapshot =
    Snapshot(-1, "", Seq.empty, Seq.empty, Map.empty, 0L)

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")
  private def logFile(table: String, v: Int): Path =
    logDir(table).resolve(f"$v%08d.json")
  private def ckptFile(table: String, v: Int): Path =
    logDir(table).resolve(f"$v%08d.ckpt")
  private def ckptPointer(table: String): Path =
    logDir(table).resolve("_last_checkpoint")

  // ---------------------------------------------------------------- write

  /** Create the table at `path` from `df` (fails if it exists).
    * `statsCol` records a single zone-map column; `statsCols` records
    * several (multi-dimension pruning) — they compose.
    */
  def create(
      df: DataFrame, path: String, statsCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Int = {
    require(!Files.exists(logDir(path)), s"table already exists: $path")
    Files.createDirectories(logDir(path))
    commit(df, path, "create", statsCols = statsCol.toSeq ++ statsCols,
      bloomCols = bloomCols)
  }

  /** Create an EMPTY table at `path` from a declared schema — the
    * `CREATE TABLE t (a INT, ...)` shape (Delta's column-list create):
    * ONE zero-data `create` commit carries the schema and nothing
    * else, so the table is immediately readable (zero rows, full
    * schema), insertable, streamable, and DDL-able. Every later write
    * goes through the ordinary evolution/constraint fences — an empty
    * create is just version 0 with no file-set, not a special table
    * kind.
    */
  def createEmpty(path: String, schema: StructType): Int = {
    require(schema.fields.nonEmpty, s"createEmpty at $path: empty schema")
    require(!Files.exists(logDir(path)), s"table already exists: $path")
    Files.createDirectories(logDir(path))
    publishEntry(path, "create", "", schema, None, Seq.empty, Seq.empty)
  }

  /** TRUNCATE: drop every live file-set (and outstanding tombstone /
    * DV sidecar) BY REFERENCE in one O(1) metadata commit — zero
    * bytes scanned or rewritten whatever the table size; the schema,
    * constraints, rename lineage, and partition layout all survive,
    * and time travel still reads the pre-truncate versions until
    * VACUUM reclaims them. Under CDF the feed serves the truncate's
    * delete images FILE-LEVEL, by reading the removed sets at
    * feed-read time (zero bytes staged; images available until VACUUM
    * reclaims the sets) — sound only while the raw sets equal the
    * visible rows, so a CDF table with outstanding merge-on-read
    * tombstones refuses loudly (OPTIMIZE first).
    */
  def truncate(path: String): Int = {
    require(Files.exists(logDir(path)), s"no table at $path")
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"gave up truncating $path after 50 races")
      val s = snapshot(path)
      if (s.live.isEmpty && s.tombstones.isEmpty) return s.version
      // CDF tables serve a truncate's delete images by reading the
      // REMOVED sets at feed-read time (Delta's file-level remove) —
      // sound only when the raw sets equal the visible rows, i.e. no
      // outstanding MoR masks; refuse loudly otherwise.
      require(!cdfEnabled(path) || s.tombstones.isEmpty,
        s"TRUNCATE on $path: outstanding merge-on-read tombstones would " +
          "make the CDF delete images diverge from the visible rows — " +
          "OPTIMIZE first")
      try {
        // expectVersion serializes against racing writers: an append
        // landing first must ALSO be truncated (we re-snapshot and
        // retry), never silently survive a later truncate.
        return publishEntry(path, "truncate", "", new StructType(), None,
          Seq.empty, s.live.map(_.set) ++ s.tombstones,
          expectVersion = Some(s.version))
      } catch {
        case _: java.util.ConcurrentModificationException => ()
      }
    }
    -1 // unreachable
  }

  /** COPY INTO: idempotent batch file ingest (Delta's COPY INTO) —
    * load the top-level data files of `srcDir` into the table,
    * skipping every file already ingested. File identity is
    * `absolutePath:size` (path-keyed like Delta's — same-named
    * exports from different directories are distinct files); the
    * loaded identities ride the SAME atomic commit
    * as the data (sealed `ingestf` ledger lines, folded into
    * [[Snapshot.ingested]], carried by checkpoints), so re-running
    * the statement is a no-op and a directory that GREW loads exactly
    * the new files — the scheduled-batch-ingest shape that needs no
    * streaming checkpoint state. Cost is O(new files) whatever the
    * table size. Racing copies of the same directory serialize via a
    * ledger freshness fence (duplicate file → loud CME → re-diff and
    * retry), so a file can never load twice. Source columns align to
    * the table schema BY NAME with store-assign casts; unknown
    * columns refuse, missing ones null-fill; CHECK constraints gate
    * the batch. Like Delta, the ledger is monotone: neither RESTORE
    * nor overwrite re-opens a loaded file.
    *
    * Returns (version, filesLoaded, rowsLoaded).
    */
  def copyInto(
      spark: SparkSession, path: String, srcDir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      statsCol: Option[String] = None): (Int, Int, Long) = {
    import scala.jdk.CollectionConverters._
    require(Files.exists(logDir(path)),
      s"no table at $path — COPY INTO loads into an existing table " +
        "(CREATE TABLE it first, empty creates are fine)")
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    require(Set("parquet", "csv", "json")(fmt),
      s"COPY INTO: unsupported FILEFORMAT '$format' " +
        "(parquet, csv, json)")
    require(Files.isDirectory(Paths.get(srcDir)),
      s"COPY INTO: source '$srcDir' is not a directory")
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"gave up COPY INTO $path after 50 races")
      val s0 = snapshot(path)
      val target = StructType.fromDDL(s0.schemaDdl)
      val all = Files.list(Paths.get(srcDir)).iterator().asScala.toSeq
        .filter(Files.isRegularFile(_))
        .filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }
        .sortBy(_.getFileName.toString)
      // Ledger identity is the ABSOLUTE path + size (Delta keys its
      // COPY INTO ledger on path): two directories exporting the same
      // conventional name (data.parquet) at the same size are
      // DIFFERENT files and must both load. Legacy ledgers (pre-path
      // keying) recorded bare `name:size`; a file matching only a
      // legacy entry is ambiguous — already ingested, or a collision
      // from another directory — so it refuses LOUDLY rather than
      // silently skipping (possible data loss) or re-loading
      // (possible duplicates).
      def idOf(p: Path): String =
        s"${p.toAbsolutePath.normalize()}:${Files.size(p)}"
      def legacyIdOf(p: Path): String = s"${p.getFileName}:${Files.size(p)}"
      val fresh = all.filterNot(p => s0.ingested.contains(idOf(p)))
      val ambiguous = fresh.filter(p => s0.ingested.contains(legacyIdOf(p)))
      if (ambiguous.nonEmpty) throw new IllegalStateException(
        s"COPY INTO $path: ${ambiguous.map(_.getFileName).take(3).mkString(", ")} " +
          "match legacy name:size ledger entries recorded before path-keyed " +
          "identities — cannot tell an already-ingested file from a same-name " +
          "collision in another directory. Load these under a new file name, " +
          "or rebuild the table to refresh its ledger.")
      if (fresh.isEmpty) return (s0.version, 0, 0L)
      val reader = spark.read.options(options)
      val paths = fresh.map(_.toString)
      val raw = fmt match {
        case "parquet" => reader.parquet(paths: _*)
        // CSV reads headers by default here (override via options);
        // values land as strings and store-assign cast below.
        case "csv" =>
          spark.read.option("header", "true").options(options)
            .csv(paths: _*)
        case "json" => reader.json(paths: _*)
      }
      val unknown = raw.columns.filterNot(c =>
        target.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(unknown.isEmpty,
        s"COPY INTO $path: source column(s) ${unknown.mkString(", ")} " +
          "not in the table schema")
      // GENERATED columns are computed, never ingested; omitted
      // DEFAULTed columns fill with their recorded expression.
      val gens = s0.generated
      val defs = s0.defaults
      raw.columns.find(c => gens.keys.exists(_.equalsIgnoreCase(c)))
        .foreach(c => throw new IllegalArgumentException(
          s"COPY INTO $path: column '$c' is GENERATED — it is computed " +
            "on write, source files must not carry it"))
      val aligned0 = raw.select(target.fields
        .filterNot(f => gens.keys.exists(_.equalsIgnoreCase(f.name)))
        .map { f =>
          raw.columns.find(_.equalsIgnoreCase(f.name)) match {
            case Some(c) => col(c).cast(f.dataType).as(f.name)
            case None => defs.find(_._1.equalsIgnoreCase(f.name)) match {
              case Some((_, sql)) => functions.expr(sql).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }
        }.toIndexedSeq: _*)
      val aligned = gens.foldLeft(aligned0) { case (df0, (g, sql)) =>
        val gf = target.fields.find(_.name.equalsIgnoreCase(g)).get
        df0.withColumn(gf.name, functions.expr(sql).cast(gf.dataType))
      }.select(target.fields.map(f => col(f.name)).toIndexedSeq: _*)
      val setName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
      // CHECK + stats fused into the write ([[stageSet]]); the row
      // count comes from the `_ridmap` footer walk — no count() job.
      val stats = stageSet(aligned, path, setName, statsCol.toSeq,
        s0.constraints)
      val rows = setRowCount(path, setName) // sidecar for every set
      try {
        val v = publishEntry(path, "copyinto", setName, aligned.schema,
          None, stats, Seq.empty, Some(s0.constraints),
          ingestFiles = fresh.map(idOf),
          ridRows = if (rowTrackingEnabled(path)) Some(rows) else None)
        maybeAutoCompact(spark, path)
        return (v, fresh.size, rows)
      } catch {
        case _: java.util.ConcurrentModificationException =>
          // a racing copy/constraint landed: drop the staged set and
          // re-diff the directory against the fresh ledger.
          rmTree(Paths.get(path, setName))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append `df`; columns missing from the current schema are added
    * (schema evolution), columns missing from `df` stay null for the
    * new rows only if present in `df`'s schema — existing data is
    * never rewritten.
    */
  def append(
      df: DataFrame, path: String, statsCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Int =
    commit(df, path, "append", statsCols = statsCol.toSeq ++ statsCols,
      bloomCols = bloomCols)

  /** Replace the table contents with `df` in one atomic commit. */
  def overwrite(df: DataFrame, path: String): Int = commit(df, path, "overwrite")

  /** ATOMIC MULTI-TABLE APPEND — the cross-table transaction every
    * ingest pipeline wants (fact + summary tables land together, or
    * neither): stage and provisionally commit one append per table,
    * each carrying a shared txn token, then flip ONE marker file
    * (O_EXCL create in the coordinator's log dir). Readers of every
    * participant resolve provisional commits at read time
    * ([[resolveTxn]]): visible only once `.committed` exists — so any
    * snapshot anywhere sees all of the transaction or none of it.
    *
    * Failure model: any staging/commit error writes the `.aborted`
    * marker (the provisional commits become permanent version-slot
    * no-ops) and best-effort deletes the already-staged sets. A
    * coordinator that dies BETWEEN its last provisional commit and
    * the marker leaves the transaction PENDING — invisible
    * everywhere, later writers unaffected — until an operator decides
    * it with [[commitTxn]] / [[abortTxn]].
    *
    * Refusals (loud, never a silent subset): fewer than two tables,
    * duplicate paths, uncreated tables, and tables with CDF / row
    * tracking / IDENTITY — features that index the log by version
    * assuming visibility never changes retroactively (a later-decided
    * commit would insert change rows / id-range claims BEHIND a
    * consumer that already read past that version).
    *
    * Scale shape: the transaction adds O(tables) metadata commits +
    * ONE marker create on top of the ordinary distributed append
    * writes; read-side cost is one `Files.exists` per txn commit per
    * snapshot fold.
    */
  def appendAtomic(appends: Seq[(DataFrame, String)],
      statsCols: Map[String, Seq[String]] = Map.empty): Seq[Int] = {
    require(appends.size >= 2, "appendAtomic needs at least two tables")
    val paths = appends.map(_._2)
    require(paths.distinct.size == paths.size,
      s"duplicate table in appendAtomic: ${paths.mkString(", ")}")
    paths.foreach { p =>
      val sn = snapshotIfExists(p)
      require(sn.exists(_.version >= 0),
        s"appendAtomic target $p does not exist — create tables first")
      require(!cdfEnabled(p),
        s"appendAtomic on CDF-enabled table $p: the change feed indexes " +
          "versions assuming visibility never changes retroactively")
      require(!rowTrackingEnabled(p),
        s"appendAtomic on row-tracking table $p: a pending commit cannot " +
          "hold an id-range claim (later appends would overlap it)")
      require(sn.get.identities.isEmpty,
        s"appendAtomic on IDENTITY table $p: allocation rides row tracking")
    }
    val token = s"${logDir(paths.head).toAbsolutePath}|" +
      java.util.UUID.randomUUID().toString.take(12)
    lastTxnToken = Some(token)
    val done = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    try {
      val versions = appends.map { case (df, p) =>
        val v = commit(df, p, "append",
          statsCols = statsCols.getOrElse(p, Seq.empty), txn = Some(token))
        done += (p -> v)
        v
      }
      val hook = beforeTxnMarkerHook.get()
      if (hook.isDefined) { beforeTxnMarkerHook.set(None); hook.get.apply() }
      publishDecision(txnMarkerPath(token), "committed")
      cacheTxnDecisionLocally(paths, token, "committed")
      versions
    } catch {
      // NON-fatal failures decide the transaction: abort marker +
      // best-effort reclaim of the invisible staged sets. FATAL errors
      // (OOM, interrupt — the in-process stand-in for a dying
      // coordinator) propagate WITHOUT deciding: the transaction stays
      // PENDING, invisible everywhere, until commitTxn/abortTxn.
      case e if scala.util.control.NonFatal(e) =>
        try {
          publishDecision(txnMarkerPath(token), "aborted")
          cacheTxnDecisionLocally(done.map(_._1).toSeq, token, "aborted")
          done.foreach { case (p, v) =>
            parse(Files.readString(logFile(p, v))).add
              .foreach(reclaimStaged(p, _))
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Best-effort local decision caches for every participant, so the
    * tables are self-contained from the moment of decision (readers
    * fall back to the coordinator marker only for participants this
    * write missed).
    */
  private def cacheTxnDecisionLocally(
      paths: Seq[String], token: String, decision: String): Unit = {
    val id = token.substring(token.lastIndexOf('|') + 1)
    paths.foreach { p =>
      try publishDecision(logDir(p).resolve(s"txn_$id.decided"), decision)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Atomically publish a decision marker with its FULL content: the
    * decision is written to a sibling temp file first and lands via a
    * hard-link create, which is atomic AND exclusive — a reader can
    * never observe an empty/partial marker (a direct
    * `writeString(CREATE_NEW)` has a create-then-write window where a
    * crash leaves a contentless marker that resolves to neither
    * decision), and racing opposite decisions still cannot both win
    * (the link create fails with FileAlreadyExistsException, the
    * O_EXCL decision point).
    */
  private def publishDecision(
      marker: java.nio.file.Path, decision: String): Unit = {
    val tmp = marker.resolveSibling(
      s".${marker.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.writeString(tmp, decision)
    try Files.createLink(marker, tmp)
    finally Files.deleteIfExists(tmp)
  }

  /** Read + validate a decision marker: anything but the two legal
    * decisions is loud corruption (an empty marker from a non-atomic
    * writer, a torn write), never silently resolved to not-committed
    * — that resolution would make the rows invisible forever while
    * commitTxn/abortTxn both refuse, an undecidable transaction.
    */
  private def readDecision(marker: java.nio.file.Path): String = {
    val d = Files.readString(marker).trim
    require(d == "committed" || d == "aborted",
      s"corrupt txn decision marker $marker: content '$d' is neither " +
        "'committed' nor 'aborted' — repair or remove the marker")
    d
  }

  /** Token of the most recent [[appendAtomic]] on this JVM — lets
    * operators (and the interleaving specs) decide a transaction whose
    * coordinator died pre-marker.
    */
  @volatile private[graft] var lastTxnToken: Option[String] = None

  /** Test seam (the [[beforePublishHook]] pattern): runs once
    * immediately before the committed-marker create, then clears —
    * the deterministic way to exercise the pre-marker death window.
    */
  private[graft] val beforeTxnMarkerHook =
    ThreadLocal.withInitial[Option[() => Unit]](() => None)

  /** Decide a PENDING transaction whose coordinator died before its
    * marker: `commitTxn` makes every provisional commit visible,
    * `abortTxn` buries them. The O_EXCL create of the single decision
    * file IS the decision point — racing opposite decisions cannot
    * both win; the loser reads the winner's content and refuses
    * loudly. Re-deciding the same way is idempotent.
    */
  def commitTxn(token: String): Unit = decideTxn(token, "committed")
  def abortTxn(token: String): Unit = decideTxn(token, "aborted")
  private def decideTxn(token: String, decision: String): Unit = {
    val marker = txnMarkerPath(token)
    try publishDecision(marker, decision)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val existing = readDecision(marker)
        require(existing == decision,
          s"txn $token is already decided the other way ($existing)")
    }
  }

  /** PARTITIONED append: hive-layout write by `partCol` (one
    * distributed `partitionBy` pass — never a per-value filter loop),
    * then each partition directory becomes its OWN file-set whose
    * manifest entry records the partition value as an EXACT min==max
    * zone map, all published in ONE atomic multi-line commit. This is
    * Delta's per-file partitionValues re-expressed in zone-map terms:
    * an equality/range predicate on `partCol` prunes to exactly the
    * matching file-SETS before any file listing, stats read, or bloom
    * probe — the manifest IS the partition index. At 100 TB the win
    * is the usual hive one: a one-day query opens one day's sets.
    *
    * `partCol` must be an integral, non-null column (the zone-map
    * value domain); `statsCols` optionally records per-partition
    * min/max of extra columns via one grouped aggregate pass —
    * O(partitions) rows to the driver, bounded by layout design.
    * Creates the table when absent.
    */
  def appendPartitioned(
      df: DataFrame, path: String, partCol: String,
      statsCols: Seq[String] = Seq.empty): Int =
    appendPartitionedBy(df, path, Seq(partCol), statsCols)

  /** Multi-column PARTITIONED append: hive layout by the `partCols`
    * TUPLE (one `partitionBy(c1, c2, ...)` pass); each LEAF value
    * combination becomes its own file-set with exact min==max
    * manifests on EVERY layout column, so equality on any of them —
    * prefix or not — prunes at the manifest. One atomic multi-line
    * commit, same as the single-column form.
    */
  def appendPartitionedBy(
      df: DataFrame, path: String, partCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Int = {
    val cons = snapshotIfExists(path).map(_.constraints)
      .getOrElse(Map.empty[String, String])
    // CHECK rules and the per-leaf extra stats share ONE grouped pass
    // over the input ([[partitionedInputProbe]]) instead of one count
    // scan per rule plus a separate stats pass; with neither, nothing
    // but the write touches the rows.
    val extraPre =
      if (cons.isEmpty && statsCols.isEmpty) None
      else Some(partitionedInputProbe(df, partCols, statsCols, cons)._1)
    Files.createDirectories(logDir(path))
    val perSet = stagePartitionedMulti(df, path, partCols, statsCols, extraPre)
    publishEntry(path, "padd", "", df.schema, None,
      layoutStats(partCols, perSet), Seq.empty, Some(cons), perSet)
  }

  /** A partitioned commit's header stats: each layout column's span
    * over the staged partition sets.
    */
  private def layoutStats(partCols: Seq[String], perSet: Seq[LiveSet]): Seq[SetStats] =
    partCols.map(pc => SetStats(pc,
      perSet.flatMap(_.statsFor(pc)).map(_.min).min,
      perSet.flatMap(_.statsFor(pc)).map(_.max).max))

  /** Re-layout the WHOLE table into one file-set per `partCol` value
    * (one atomic partitioned commit, merge-on-read tombstones
    * materialized and cleared) — restores the exact per-partition
    * manifest after flat appends/merges widened it, the lake twin of
    * `OPTIMIZE ... PARTITION`.
    */
  def compactPartitioned(
      spark: SparkSession, path: String, partCol: String,
      statsCols: Seq[String] = Seq.empty): Int =
    compactPartitionedBy(spark, path, Seq(partCol), statsCols)

  /** Multi-column re-layout: one file-set per `partCols` VALUE TUPLE
    * (see [[appendPartitionedBy]]), whole table, one atomic commit.
    */
  def compactPartitionedBy(
      spark: SparkSession, path: String, partCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Int = {
    val d = openDml(spark, path)
    compactSets(d, d.s.live, statsCols, partCols)(_.localCheckpoint(true))
  }

  /** DYNAMIC PARTITION OVERWRITE (Hive/Delta `INSERT OVERWRITE ...
    * PARTITION (c)` under partitionOverwriteMode=dynamic): atomically
    * replace EXACTLY the partitions present in `df`, leaving every
    * other partition untouched BY REFERENCE — zero bytes of theirs
    * rewritten, zero rows of theirs scanned. One commit (action
    * `poverwrite`): remove = the replaced partitions' file-sets, add =
    * one fresh set per incoming value with exact min==max manifests
    * (the layout survives). Victims are picked off the MANIFEST — a
    * set drops only when its partition-column zone map pins it to one
    * incoming value; a live set that OVERLAPS an incoming value
    * without that purity (a flat append widened the layout) refuses
    * loudly: dropping it would lose other partitions' rows, rewriting
    * it would break the by-reference contract — run
    * [[compactPartitioned]] first. The idempotent daily-reload shape:
    * re-landing one day from upstream replaces that day and nothing
    * else, however many times it runs.
    *
    * CHECK constraints validate `df`; CDF stages delete(replaced
    * partitions' rows) + insert(new rows). The victim list is resolved
    * against THIS snapshot, so a concurrent commit aborts with
    * ConcurrentModificationException — re-run to re-resolve.
    *
    * Returns (version, replacedSets, keptSets).
    */
  def overwritePartitionsDynamic(
      spark: SparkSession, df: DataFrame, path: String,
      statsCols: Seq[String] = Seq.empty): (Int, Int, Int) = {
    val d = openDml(spark, path, refuseTombstones = Some("compact first"))
    import d.{s, target}
    val pcs = partitionColumnsOf(path)
    require(pcs.nonEmpty,
      s"dynamic partition overwrite: no partition layout recorded at $path")
    val cons = s.constraints
    pcs.foreach(pc => require(df.columns.contains(pc),
      s"dynamic partition overwrite: input has no '$pc' column"))
    val aligned = alignTo(df, target, cast = true)
    // ONE grouped pass over the input answers everything the commit
    // needs beyond the write itself: the incoming partition value
    // TUPLES (O(partitions) driver rows by layout design), the
    // per-leaf extra stats, and every CHECK rule's violation count —
    // previously a distinct pass + a stats pass + one scan per rule.
    val probeStats = reRecordable(target, s.renames,
      statsCols.filterNot(pcs.contains))
    val (extraPre, values) =
      partitionedInputProbe(aligned, pcs, probeStats, cons,
        nullKeyMsg = i =>
          s"dynamic partition overwrite: NULL ${pcs(i)} value in the input")
    require(values.nonEmpty, "dynamic partition overwrite: empty input")
    // A victim is PINNED: min==max on every layout column, and the
    // pinned tuple is one of the incoming values.
    def pinnedTuple(ls: LiveSet): Option[Seq[Long]] = {
      val pins = pcs.map(pc => ls.statsFor(pc).filter(st => st.min == st.max))
      if (pins.forall(_.isDefined)) Some(pins.map(_.get.min)) else None
    }
    val victims = s.live.filter(ls => pinnedTuple(ls).exists(values))
    val victimSets = victims.map(_.set).toSet
    val impure = s.live.filter(ls => !victimSets(ls.set) &&
      values.exists(v => pcs.zip(v).forall { case (pc, vi) =>
        ls.statsFor(pc) match {
          case Some(st) => st.min <= vi && vi <= st.max
          case None => true // unknown span — could hold any partition
        }
      }))
    require(impure.isEmpty,
      s"dynamic partition overwrite on $path: ${impure.size} live set(s) " +
        s"overlap incoming ${pcs.mkString("(", ", ", ")")} values without " +
        "an exact per-partition manifest — run compactPartitioned to " +
        "restore the layout first")
    val cdfSet = stageCdf(path, Seq(
      scanSets(spark, path, victims, target, s.renames, s.tombstones) -> "delete",
      aligned -> "insert"))
    val perSet = stagePartitionedMulti(aligned, path, pcs,
      probeStats, Some(extraPre))
    val v = publishEntry(path, "poverwrite", "", aligned.schema, None,
      layoutStats(pcs, perSet), victims.map(_.set), Some(cons), perSet, cdfSet,
      expectVersion = Some(s.version))
    (v, victims.size, s.live.size - victims.size)
  }

  /** SHALLOW CLONE: create `dstPath` as a ZERO-COPY fork of
    * `srcPath`'s current snapshot — the clone's first commit
    * references the source's live file-sets by ABSOLUTE path (no data
    * copied, Delta's `CREATE TABLE ... SHALLOW CLONE` shape). The
    * clone then evolves independently: appends/merges/deletes write
    * clone-LOCAL sets and drop source references from its live set
    * list; the source never sees any of it.
    *
    * THE VACUUM FENCE: a clone's referenced sets must survive a
    * source `vacuum`, or the fork silently loses data. The clone
    * registers itself in the source's log dir
    * (`_graft_log/_clones/<id>` → clone table path); [[vacuum]] on
    * the source unions every registered clone's still-referenced
    * source sets into its live fence. A clone whose directory was
    * deleted is an expired registration (skipped — its references die
    * with it); `dropClone` removes the registration explicitly after
    * a clone is compacted to independence or discarded. Like writers,
    * clones must not be CREATED concurrently with a source vacuum
    * (the standard vacuum exclusion this format already documents).
    *
    * Constraints copy (forks enforce the same rules); idempotence
    * tags do NOT (they dedup per-table histories); outstanding MoR
    * tombstones must be compacted first (same rule as merge — a
    * fork must not inherit suppressed keys by reference).
    *
    * Returns the clone's created version (0).
    */
  def shallowClone(srcPath: String, dstPath: String): Int = {
    // Clone padd lines must carry RAW stats (see [[stateAt]]).
    val s = stateAt(srcPath, Int.MaxValue, raw = true)
    require(s.version >= 0, s"no table at $srcPath")
    require(!Files.exists(logDir(dstPath)), s"table already exists: $dstPath")
    require(s.tombstones.isEmpty,
      s"outstanding merge-on-read tombstones at $srcPath: compact before cloning")
    val absSrc = Paths.get(srcPath).toAbsolutePath.normalize.toString
    val perSet = s.live.map(ls => ls.copy(set = s"$absSrc/${ls.set}"))
    Files.createDirectories(logDir(dstPath))
    // Register BEFORE publishing the clone's commit: if we crash
    // between the two, a stale registration is harmless (expired on
    // read); the reverse order could leave an unfenced clone.
    val clonesDir = logDir(srcPath).resolve("_clones")
    Files.createDirectories(clonesDir)
    Files.writeString(
      clonesDir.resolve(s"c${java.util.UUID.randomUUID().toString.take(12)}"),
      Paths.get(dstPath).toAbsolutePath.normalize.toString)
    val v = publishEntry(dstPath, "padd", "",
      StructType.fromDDL(s.schemaDdl), None, Seq.empty, Seq.empty, None,
      perSet)
    s.constraints.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      publishEntry(dstPath, "constraint", s"$n=$sql",
        new StructType(), None, Seq.empty, Seq.empty)
    }
    // Column-mapping lineage copies too: the referenced source sets
    // were written under their PHYSICAL (pre-rename) names, so a clone
    // without the lineage would null-fill every renamed column.
    s.renames.toSeq.sortBy(_._1).foreach { case (n, formers) =>
      publishEntry(dstPath, "lineage", n,
        new StructType(), None, Seq.empty, formers)
    }
    // The partition-layout marker is table state: the fork keeps it.
    if (s.partitionCols.nonEmpty)
      publishEntry(dstPath, "partition", "", new StructType(), None,
        Seq.empty, Seq.empty, addItemsOverride = s.partitionCols)
    // Column DEFAULT / GENERATED metadata forks with the table too.
    (s.defaults.toSeq.sortBy(_._1).map { case (c, q) => s"d:$c=$q" } ++
      s.generated.toSeq.sortBy(_._1).map { case (c, q) => s"g:$c=$q" } ++
      s.identities.toSeq.sortBy(_._1).map { case (c, (st, sp)) =>
        s"i:$c=$st,$sp" + (if (s.identityDefaults(c)) ",d" else "") })
      .foreach(item => publishEntry(dstPath, "coldef", item,
        new StructType(), None, Seq.empty, Seq.empty))
    // Row tracking (and with it identity allocation) forks too: the
    // clone's high water re-folds from the referenced sets' __rid
    // stats, so its future allocations stay unique within the fork.
    if (rowTrackingEnabled(srcPath)) enableRowTracking(dstPath)
    v
  }

  /** Remove `dstPath`'s registration from `srcPath`'s clone fence
    * (after the clone was compacted to independence or dropped).
    * Returns true if a registration was removed.
    */
  def dropClone(srcPath: String, dstPath: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val clonesDir = logDir(srcPath).resolve("_clones")
    if (!Files.exists(clonesDir)) return false
    val abs = Paths.get(dstPath).toAbsolutePath.normalize.toString
    val hits = Files.list(clonesDir).iterator().asScala.toSeq
      .filter(p => scala.util.Try(Files.readString(p).trim).toOption.contains(abs))
    hits.foreach(Files.deleteIfExists(_))
    hits.nonEmpty
  }

  /** Source sets still referenced by registered clones — the vacuum
    * fence. Resolves each registered clone's CURRENT snapshot (a
    * clone that merged/compacted away a reference no longer fences
    * it); vanished clone directories are expired registrations.
    */
  private def cloneFence(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val clonesDir = logDir(path).resolve("_clones")
    if (!Files.exists(clonesDir)) return Set.empty
    val absSrc = Paths.get(path).toAbsolutePath.normalize.toString
    Files.list(clonesDir).iterator().asScala.toSeq.flatMap { reg =>
      scala.util.Try {
        val clonePath = Files.readString(reg).trim
        snapshotIfExists(clonePath).toSeq.flatMap(_.live.map(_.set))
          .filter(_.startsWith(s"$absSrc/"))
          .map(_.stripPrefix(s"$absSrc/"))
      }.getOrElse(Seq.empty)
    }.toSet
  }

  /** ONE grouped pass over a partitioned write's input: per
    * partition-tuple extra stats (exactly the image domains the old
    * internal pass recorded), the distinct partition tuples, AND every
    * CHECK rule's violation count — the rule scans and the dynamic
    * overwrite's distinct pass used to be separate passes over the
    * same rows (guide §1.2). Null partition keys throw `nullKeyMsg`
    * when provided, otherwise their groups are skipped (the write
    * itself refuses them with the layout error).
    */
  private def partitionedInputProbe(
      df: DataFrame, partCols: Seq[String], statsCols: Seq[String],
      cons: Map[String, String],
      nullKeyMsg: Int => String = null)
      : (Map[Seq[Long], Seq[SetStats]], Set[Seq[Long]]) = {
    val aggs = statsCols.flatMap { c =>
      val e = statLongExpr(df.schema(c).dataType, col(c))
      Seq(org.apache.spark.sql.functions.min(e),
        org.apache.spark.sql.functions.max(e))
    }
    // Per-leaf SUMs for integral stat columns, same pass (see
    // footerStats) — lets grouped/filtered SUM pushdown serve
    // hive-laid-out tables from manifests alone.
    val sumIdx = statsCols.zipWithIndex.collect {
      case (c, i) if sumStatEligible(df.schema(c).dataType) => (c, i)
    }
    val sumAggs = sumIdx.map { case (c, _) =>
      org.apache.spark.sql.functions.sum(col(c).cast("decimal(38,0)"))
    }
    val nnAggs = statsCols.map(c =>
      org.apache.spark.sql.functions.count(col(c)))
    val rules = cons.toSeq.sortBy(_._1)
    val ckAggs = rules.map { case (_, sql) =>
      org.apache.spark.sql.functions.sum(
        when(coalesce(functions.expr(sql), lit(true)) === false, 1L)
          .otherwise(0L))
    }
    val all = (aggs ++ sumAggs ++ nnAggs ++ ckAggs) :+
      org.apache.spark.sql.functions.count(lit(1))
    val rows = df.groupBy(partCols.map(c => col(c).cast("long")): _*)
      .agg(all.head, all.tail: _*).collect()
    val base = partCols.length
    val sumBase = base + 2 * statsCols.length
    val nnBase = sumBase + sumIdx.length
    val ckBase = nnBase + statsCols.length
    rules.zipWithIndex.foreach { case ((name, sql), i) =>
      val bad = rows.map(r =>
        if (r.isNullAt(ckBase + i)) 0L else r.getLong(ckBase + i)).sum
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint '$name' ($sql) violated by $bad row(s) — " +
          "commit refused")
    }
    val extra = rows.flatMap { r =>
      val nullIdx = partCols.indices.find(r.isNullAt)
      nullIdx.foreach { i =>
        if (nullKeyMsg != null)
          throw new IllegalArgumentException(nullKeyMsg(i))
      }
      if (nullIdx.isDefined) None // write path raises the layout error
      else {
        val key: Seq[Long] = partCols.indices.map(r.getLong(_))
        val sums: Map[Int, Long] = sumIdx.zipWithIndex.flatMap {
          case ((_, origIdx), j) =>
            if (r.isNullAt(sumBase + j)) None
            else scala.util.Try(r.getDecimal(sumBase + j).longValueExact())
              .toOption.map(origIdx -> _)
        }.toMap
        Some(key -> statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(base + 2 * i)) None
          else Some(SetStats(c, r.getLong(base + 2 * i),
            r.getLong(base + 2 * i + 1), sums.get(i),
            Some(r.getLong(nnBase + i))))
        })
      }
    }.toMap
    (extra, extra.keySet)
  }

  /** Stage one hive-layout write by `partCols` (one distributed
    * `partitionBy` pass over the TUPLE — never a per-value loop) and
    * turn every LEAF directory into its own file-set whose manifest
    * records EVERY layout column as an exact min==max zone map, so
    * equality on any layout column — not just a prefix — prunes to
    * the matching sets before any file listing. The nested
    * `c1=v1/c2=v2` structure moves INTO the set directory intact:
    * Spark's own partition discovery re-derives the values at read
    * (the files do not carry the layout columns).
    */
  private def stagePartitionedMulti(
      df: DataFrame, path: String, partCols: Seq[String],
      statsCols: Seq[String],
      extraPre: Option[Map[Seq[Long], Seq[SetStats]]] = None,
      bloomCols: Seq[String] = Seq.empty): Seq[LiveSet] = {
    import scala.jdk.CollectionConverters._
    require(partCols.nonEmpty, "empty partition layout")
    val stage = Paths.get(path, s"_stage_p${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.partitionBy(partCols: _*).parquet(stage.toString)
    // Optional extra dimensions: ONE grouped pass, O(partitions) rows
    // — or the caller's precomputed probe ([[partitionedInputProbe]]),
    // which fused this pass with its CHECK/values needs.
    val extra: Map[Seq[Long], Seq[SetStats]] = extraPre.getOrElse {
      if (statsCols.isEmpty) Map.empty
      else partitionedInputProbe(df, partCols, statsCols, Map.empty)._1
    }
    // Walk the expected levels: depth i holds `partCols(i)=v` dirs.
    def leaves(dir: Path, depth: Int, acc: Seq[Long])
        : Seq[(Path, Seq[Long])] =
      if (depth == partCols.length) Seq((dir, acc))
      else {
        val pc = partCols(depth)
        Files.list(dir).iterator().asScala.toSeq
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith(s"$pc="))
          .sortBy(_.getFileName.toString)
          .flatMap { d =>
            val raw = d.getFileName.toString.stripPrefix(s"$pc=")
            val v =
              try raw.toLong
              catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"partition column '$pc' must be integral and non-null; " +
                    s"got directory '$raw'")
              }
            leaves(d, depth + 1, acc :+ v)
          }
      }
    val dirs = leaves(stage, 0, Seq.empty)
    require(dirs.nonEmpty, s"partitioned write produced no partitions at $path")
    val sets = dirs.map { case (d, values) =>
      val setName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
      // The set keeps the full relative hive path (c1=v1/c2=v2/...),
      // so every reader's partition discovery sees all the levels.
      val leafDir = Paths.get(path, setName)
        .resolve(stage.relativize(d.getParent).toString)
      Files.createDirectories(leafDir)
      Files.move(d, leafDir.resolve(d.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      // Per-file count sidecar for the staged leaf set too, so the
      // grouped COUNT(*) pushdown serves per-partition counts with
      // zero read-time footer opens.
      val rows = setRowCount(path, setName)
      (LiveSet(setName, df.schema.toDDL,
        partCols.zip(values).map { case (c, v) => SetStats(c, v, v) } ++
          extra.getOrElse(values, Seq.empty)), rows)
    }
    rmTree(stage)
    if (bloomCols.nonEmpty)
      writeBloomSidecars(df.sparkSession, path, df.schema,
        sets.map { case (ls, rows) => ls.set -> rows }, bloomCols)
    sets.map(_._1)
  }

  // ----------------------------------------------------------- constraints

  /** Fail if `df` violates any CHECK rule. SQL CHECK semantics: a row
    * passes when the predicate is TRUE or NULL (unknown); only FALSE
    * rejects. One scan of the delta per rule.
    */
  private def enforceConstraints(
      df: DataFrame, cons: Map[String, String]): Unit =
    cons.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad = df.filter(
        coalesce(functions.expr(sql), lit(true)) === false).count()
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint '$name' ($sql) violated by $bad row(s) — commit refused")
    }

  /** ADD a CHECK constraint (Delta's `ALTER TABLE ADD CONSTRAINT`):
    * the EXISTING table must already satisfy the rule (validated with
    * one scan), then every later create/append/overwrite/merge and
    * DSv2-sink commit validates its delta before publishing —
    * violations refuse the commit instead of landing bad rows. The
    * rule is a log entry (action `constraint`), so it time-travels,
    * checkpoints, and folds like any other table state.
    */
  def addConstraint(
      spark: SparkSession, path: String, name: String, sqlPred: String): Int = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\""),
      s"bad constraint name: '$name'")
    // Like Delta's ADD CONSTRAINT: re-using a live name is an error,
    // not a silent predicate swap — a swap would let rows validated
    // against the OLD rule race past the new one (same name, so a
    // name-set freshness check can't see it; we also compare full
    // name→SQL maps in the publish loop as a second fence).
    val consSeen = snapshotIfExists(path).map(_.constraints)
      .getOrElse(Map.empty[String, String])
    require(!consSeen.contains(name),
      s"constraint '$name' already exists on $path; drop it first")
    enforceConstraints(read(spark, path), Map(name -> sqlPred))
    // Thread the rule-map we checked against through the publish-loop
    // fence: a racing writer adding the same name between our
    // duplicate check and the claim aborts loudly.
    publishEntry(path, "constraint", s"$name=$sqlPred",
      new StructType(), None, Seq.empty, Seq.empty, Some(consSeen))
  }

  /** Drop a CHECK constraint by name (no-op if absent). */
  def dropConstraint(path: String, name: String): Int = {
    require(Files.exists(logDir(path)), s"no table at $path")
    publishEntry(path, "constraint", "",
      new StructType(), None, Seq.empty, Seq(name))
  }

  /** The CHECK constraints in force at the latest version. */
  def constraintsOf(path: String): Map[String, String] =
    snapshot(path).constraints

  /** ZERO-DATA column ADD (Delta's `ALTER TABLE ADD COLUMNS`): ONE
    * metadata commit (action `evolve`, no file-sets) widens the
    * schema by the new NULLABLE columns — existing file-sets keep
    * reading under their own written schema and null-fill, exactly
    * like append-driven evolution, but without having to write any
    * rows to get the column. The publish loop's former-name fence
    * applies unchanged: a name renamed or dropped away refuses to
    * rejoin (pre-rename/drop sets still carry its physical bytes).
    * Columns append at the end; defaults/positions are not supported.
    */
  def addColumns(
      path: String, cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Int = {
    require(cols.nonEmpty, "addColumns with no columns")
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val cur = StructType.fromDDL(s.schemaDdl)
    cols.foreach { case (n, _) =>
      require(n.nonEmpty && !n.contains("=") && !n.contains("\""),
        s"bad column name: '$n'")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"column '$n' already exists at $path")
    }
    require(cols.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.size ==
      cols.size, "duplicate column in ADD COLUMNS")
    val add = StructType(cols.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t, nullable = true)
    })
    publishEntry(path, "evolve", "", add, None, Seq.empty, Seq.empty)
  }

  /** RENAME a column WITHOUT rewriting any data file (Delta's
    * column-mapping rename): the commit carries the renamed schema
    * plus a name-lineage entry, and readers resolve each file-set's
    * physical name per its own written schema — zero data bytes
    * touched whatever the table size, which is the entire point at
    * 100 TB (a rewrite-rename is a full-table write). Renames chain
    * (a→b→c still reads files written under a), survive checkpoints,
    * and time travel resolves the lineage as of the read version.
    *
    * Refused while CHECK constraints reference the column (their SQL
    * would silently stop matching rows) and while merge-on-read
    * tombstones are outstanding (tombstone key-sets are keyed by the
    * physical column name; compact first) — loud errors, not silent
    * corruption, the same posture as merge's NULL-stats fence.
    *
    * Zone-map stats and bloom sidecars keyed by the old name degrade
    * to CONSERVATIVE reads for pre-rename sets (never wrong answers);
    * post-rename writes record stats under the new name.
    */
  def renameColumn(path: String, oldName: String, newName: String): Int = {
    require(oldName.nonEmpty && newName.nonEmpty && oldName != newName &&
      !oldName.contains("=") && !newName.contains("=") &&
      !oldName.contains("\"") && !newName.contains("\""),
      s"bad rename: '$oldName' -> '$newName'")
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    fenceRename(path, s, oldName)
    // Existence/duplicate/tombstone/constraint checks ALL re-run
    // INSIDE the claim loop against the then-current snapshot; these
    // early ones just fail fast.
    val cur = StructType.fromDDL(s.schemaDdl)
    require(cur.fieldNames.contains(oldName), s"no column '$oldName' at $path")
    require(!cur.fieldNames.contains(newName),
      s"column '$newName' already exists at $path")
    publishEntry(path, "rename", s"$oldName=$newName",
      new StructType(), None, Seq.empty, Seq.empty)
  }

  /** The rename refusal fences, evaluated against `snap`: outstanding
    * merge-on-read tombstones reference PHYSICAL column names, and
    * CHECK-constraint SQL would silently stop matching rows — both
    * refuse loudly. Called once caller-side (fail fast) and once per
    * claim attempt (racing deleteMoR/addConstraint freshness).
    */
  private def fenceRename(path: String, snap: Snapshot, oldName: String): Unit = {
    require(snap.tombstones.isEmpty,
      s"outstanding merge-on-read tombstones at $path reference physical " +
        "column names: compact first, then rename")
    val word = ("""\b""" + java.util.regex.Pattern.quote(oldName) + """\b""").r
    snap.constraints.find { case (_, sql) => word.findFirstIn(sql).isDefined }
      .foreach { case (n, sql) =>
        throw new IllegalStateException(
          s"constraint '$n' ($sql) references column '$oldName' — drop or " +
            "rewrite the constraint before renaming")
      }
  }

  /** DROP a column WITHOUT rewriting any data file (Delta's
    * column-mapping drop): the commit carries the narrowed schema
    * plus a lineage entry under a RESERVED name
    * (`__dropped_<col>_v<version>` — never part of any schema, so the
    * physical data becomes unreachable through every read path), and
    * the round-9 former-name fence then refuses re-adding the dropped
    * name via schema evolution — pre-drop file-sets still carry the
    * physical column, and a re-added logical twin would serve stale
    * bytes (the same aliasing hazard renames have; Delta prevents
    * both with field ids). `overwrite` clears the lineage and frees
    * the name. Same refusal fences as rename: CHECK constraints
    * referencing the column and outstanding MoR tombstones.
    */
  def dropColumn(path: String, name: String): Int = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\""),
      s"bad column name: '$name'")
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    fenceRename(path, s, name)
    val cur = StructType.fromDDL(s.schemaDdl)
    require(cur.fieldNames.contains(name), s"no column '$name' at $path")
    require(cur.fields.length > 1,
      s"cannot drop the only column of $path")
    publishEntry(path, "dropcol", name, new StructType(), None,
      Seq.empty, Seq.empty)
  }

  /** The column-name lineage in force at the latest version
    * (logical name -> former names, newest first). */
  def renamesOf(path: String): Map[String, Seq[String]] =
    snapshot(path).renames

  /** Map a (possibly former) column name to its CURRENT logical name
    * through the lineage. Rewrite paths (merge/delete/compact)
    * re-record the stats and bloom dimensions their victims carried —
    * those names may predate a rename, and the rewritten frame only
    * has the current names, so recording under the old name would
    * throw on a missing column.
    */
  private def currentName(renames: Map[String, Seq[String]], c: String): String =
    renames.collectFirst {
      case (cur, formers) if formers.contains(c) => cur
    }.getOrElse(c)

  /** The stats/bloom dimensions a rewrite may re-record: victims'
    * recorded names mapped through the rename lineage to their CURRENT
    * logical names, keeping only names the current schema still
    * carries. After a zero-rewrite DROP COLUMN, a victim's stats on
    * the dropped column resolve to the reserved `__dropped_*` lineage
    * name, which the rewritten frame does not have — re-recording it
    * would fail the commit's stats pass, so the dimension simply stops
    * being recorded (the drop made it unreachable anyway).
    */
  private def reRecordable(
      schema: StructType, renames: Map[String, Seq[String]],
      cols: Seq[String]): Seq[String] = {
    val present = schema.fieldNames.toSet
    cols.map(currentName(renames, _)).distinct.filter(present)
  }

  /** EXACTLY-ONCE append: commit `df` tagged with `tag` unless a
    * commit with that tag already exists — the foreachBatch sink
    * primitive (tag = query/batch id). Idempotence is RACE-SAFE: the
    * tag check re-runs inside every claim attempt, and claims are
    * O_EXCL-serialized per version, so of two same-tag racers exactly
    * one lands and the other observes the winner's published tag on
    * its retry. Returns the committed (or already-present) version.
    */
  def appendIdempotent(df: DataFrame, path: String, tag: String): Int = {
    // Auto-create on first epoch, like the DSv2 sink path
    // (commitStagedFiles) and Delta's streaming sink — a stream's
    // first batch should not require a separate create() ceremony.
    Files.createDirectories(logDir(path))
    snapshot(path).tags.get(tag)
      .getOrElse(commit(df, path, "append", Some(tag)))
  }

  /** Enable the CHANGE DATA FEED on `path` (Delta's
    * `delta.enableChangeDataFeed` table property): from now on,
    * merge / delete / deleteMoR commits stage a typed change-row
    * sidecar (`cdf/...` set, `_change_type` column) alongside their
    * data commit, and [[changesTyped]] / the streaming source (option
    * `cdf=true`) can serve row-level changes across mutations instead
    * of rejecting the table. Enabling is NOT retroactive: mutations
    * committed before the marker have no sidecar and still fail a
    * typed read over their range, exactly like Delta.
    */
  def enableCdf(path: String): Unit = {
    Files.createDirectories(logDir(path))
    val m = logDir(path).resolve("_cdf")
    if (!Files.exists(m)) Files.writeString(m, "1")
  }

  /** Record `c` as the table's hive-partition layout column — a
    * SEALED LOG ENTRY (action `partition`) published through the
    * claim loop, so the layout marker is transactional table state:
    * it rides checkpoints, copies into shallow clones, survives
    * restore, and time-travels — exactly like CHECK constraints.
    * (SQL INSERT routing and re-registration consult it; partitioned
    * layout is a property OF THE TABLE, not of whoever wrote first.)
    *
    * Re-recording the SAME column is a no-op; recording a DIFFERENT
    * one refuses loudly (the existing per-value file-sets would
    * silently stop matching the claimed layout).
    */
  def setPartitionColumn(path: String, c: String): Int =
    setPartitionColumns(path, Seq(c))

  /** Multi-column layout marker: `cols` IN LAYOUT ORDER (the Hive
    * (date, region) tuple shape). Same sealed-entry semantics as the
    * single-column form.
    */
  def setPartitionColumns(path: String, cols: Seq[String]): Int = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    require(cols.nonEmpty, "empty partition layout")
    require(cols.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size
      == cols.size, s"duplicate column in partition layout $cols")
    cols.foreach(c => require(StructType.fromDDL(s.schemaDdl).fieldNames
      .exists(_.equalsIgnoreCase(c)), s"no column '$c' at $path"))
    partitionColumnsOf(path) match {
      case prev if prev == cols => s.version // idempotent
      case prev if prev.nonEmpty => throw new IllegalArgumentException(
        s"$path is already partitioned by ${prev.mkString("(", ", ", ")")} " +
          s"— re-laying out as ${cols.mkString("(", ", ", ")")} needs " +
          "compactPartitioned, not a marker swap")
      case _ =>
        publishEntry(path, "partition", "", new StructType(), None,
          Seq.empty, Seq.empty, addItemsOverride = cols)
    }
  }

  /** The recorded SINGLE partition-layout column — None when the
    * table is unpartitioned OR laid out by a multi-column tuple
    * (single-column consumers must not treat a tuple's head as the
    * whole layout). Falls back to the pre-round-12 `_partition`
    * marker file for tables written before the sealed entry existed.
    */
  def partitionColumnOf(path: String): Option[String] =
    partitionColumnsOf(path) match {
      case Seq(c) => Some(c)
      case _ => None
    }

  /** The full recorded partition layout, in order (empty = none). */
  def partitionColumnsOf(path: String): Seq[String] = {
    val folded = snapshotIfExists(path).map(_.partitionCols)
      .getOrElse(Seq.empty)
    if (folded.nonEmpty) folded
    else {
      val m = logDir(path).resolve("_partition")
      if (Files.exists(m)) Some(Files.readString(m).trim).filter(_.nonEmpty).toSeq
      else Seq.empty
    }
  }

  /** Record column DEFAULT / GENERATED expressions — SEALED `coldef`
    * log entries (one per column), transactional table state like
    * constraints: they ride checkpoints, fork into shallow clones,
    * survive restore and time travel. The INSERT and COPY INTO routes
    * consult them: an omitted defaulted column fills with its DEFAULT
    * expression; a generated column is always COMPUTED from the row
    * (writing it explicitly refuses). DEFAULT expressions must be
    * row-independent (no column references); GENERATED expressions
    * may reference only existing non-generated columns.
    */
  def recordColDefs(
      path: String, defaults: Seq[(String, String)],
      generated: Seq[(String, String)],
      identity: Seq[(String, (Long, Long))] = Seq.empty,
      // Names among `identity` declared GENERATED BY DEFAULT
      // (explicit inserts allowed; high water advances past them).
      identityDefault: Set[String] = Set.empty): Unit = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val cur = StructType.fromDDL(s.schemaDdl)
    // IDENTITY columns allocate off the row-tracking high water — the
    // race-free monotone range claim inside the publish loop — so the
    // table must opt into row tracking first (the CREATE route does).
    identity.foreach { case (c, (_, step)) =>
      val f = cur.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"coldef: no column '$c' at $path"))
      require(f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType,
        s"IDENTITY column '$c' must be integral, got ${f.dataType.simpleString}")
      require(step != 0L, s"IDENTITY column '$c': step must be non-zero")
      require(rowTrackingEnabled(path),
        s"IDENTITY column '$c' at $path needs row tracking " +
          "(enableRowTracking) — its allocator is the row-id high water")
    }
    identityDefault.foreach(c => require(
      identity.exists(_._1.equalsIgnoreCase(c)),
      s"identityDefault names unknown identity column '$c'"))
    def attrsOf(sql: String): Seq[String] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      org.apache.spark.sql.GraftBridge.catalystExpression(functions.expr(sql))
        .collect { case a: UnresolvedAttribute => a.nameParts.mkString(".") }
    }
    val genCols = generated.map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet
    (defaults ++ generated).foreach { case (c, sql) =>
      require(cur.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"coldef: no column '$c' at $path")
      require(!sql.contains("\n") && sql.nonEmpty, s"bad coldef SQL for '$c'")
    }
    defaults.foreach { case (c, sql) =>
      require(attrsOf(sql).isEmpty,
        s"DEFAULT for '$c' must not reference columns: $sql")
    }
    generated.foreach { case (c, sql) =>
      val refs = attrsOf(sql)
      require(refs.nonEmpty,
        s"GENERATED column '$c' must derive from other columns: $sql")
      refs.foreach { r =>
        require(cur.fieldNames.exists(_.equalsIgnoreCase(r)) &&
          !genCols.contains(r.toLowerCase(java.util.Locale.ROOT)),
          s"GENERATED column '$c' references '$r' — must be an existing " +
            "non-generated column")
      }
    }
    (defaults.map { case (c, q) => s"d:$c=$q" } ++
      generated.map { case (c, q) => s"g:$c=$q" } ++
      identity.map { case (c, (st, sp)) => s"i:$c=$st,$sp" +
        (if (identityDefault.exists(_.equalsIgnoreCase(c))) ",d" else "") })
      .foreach(item => publishEntry(path, "coldef", item,
        new StructType(), None, Seq.empty, Seq.empty))
  }

  /** The recorded column DEFAULT expressions (SQL text). */
  def columnDefaultsOf(path: String): Map[String, String] =
    snapshotIfExists(path).map(_.defaults).getOrElse(Map.empty)

  /** The recorded GENERATED-column expressions (SQL text). */
  def generatedColumnsOf(path: String): Map[String, String] =
    snapshotIfExists(path).map(_.generated).getOrElse(Map.empty)

  /** The recorded IDENTITY columns: col -> (start, step). */
  def identityColumnsOf(path: String): Map[String, (Long, Long)] =
    snapshotIfExists(path).map(_.identities).getOrElse(Map.empty)

  /** The identity columns declared GENERATED BY DEFAULT. */
  def identityDefaultsOf(path: String): Set[String] =
    snapshotIfExists(path).map(_.identityDefaults).getOrElse(Set.empty)

  /** APPEND with IDENTITY allocation (Delta's GENERATED ALWAYS AS
    * IDENTITY): every recorded identity column is COMPUTED as
    * `start + step × ordinal`, where the ordinals are this commit's
    * contiguous row-tracking range — claimed from the snapshot's
    * monotone high water, so racing writers provably never allocate
    * overlapping values (uniqueness without coordination, the Delta
    * guarantee; like Delta, GAPS are possible — a compaction's
    * re-allocation or a lost race burns range, never reuses it).
    *
    * Values are written INTO the files, so the base is claimed
    * OPTIMISTICALLY before staging and fenced inside the publish loop
    * (`expectRidBase`): a racing allocation re-stages with the fresh
    * base instead of landing duplicate values. Zero extra cost when
    * uncontended. `df` must not carry the identity columns (ALWAYS
    * generated — explicit values refuse, Delta's rule).
    */
  def appendIdentity(
      df: DataFrame, path: String,
      statsCol: Option[String] = None): Int = {
    val ids = identityColumnsOf(path)
    if (ids.isEmpty) return append(df, path, statsCol)
    val byDefault = identityDefaultsOf(path)
    val (supplied, generatedIds) = ids.partition { case (c, _) =>
      df.columns.exists(_.equalsIgnoreCase(c)) }
    supplied.keys.foreach(c => require(
      byDefault.exists(_.equalsIgnoreCase(c)),
      s"column '$c' is GENERATED ALWAYS AS IDENTITY — do not supply it"))
    val target = StructType.fromDDL(snapshot(path).schemaDdl)
    // BY DEFAULT columns supplied explicitly: the high water must
    // advance PAST any supplied value a future generated ordinal
    // could reproduce (v = start + step*k, k >= 0), or generated ids
    // would collide with user ids (Delta's SYNC IDENTITY posture).
    // One delta-sized agg fetches each column's extremes; the max
    // colliding-capable ordinal resolves driver-side with exact
    // math.floorDiv (ordinals are monotone in the value, so only the
    // step-sign-matching extreme can carry it).
    val userOrdCeil: Long =
      if (supplied.isEmpty) 0L
      else {
        val aggs = supplied.toSeq.flatMap { case (c, _) => Seq(
          functions.max(col(c).cast("long")),
          functions.min(col(c).cast("long"))) }
        val r = df.agg(aggs.head, aggs.tail: _*).head
        supplied.toSeq.zipWithIndex.map { case ((_, (st, sp)), i) =>
          if (r.isNullAt(2 * i)) 0L
          else {
            val cand = if (sp > 0) r.getLong(2 * i) else r.getLong(2 * i + 1)
            val ord = math.floorDiv(cand - st, sp)
            if (ord >= 0) ord + 1L else 0L
          }
        }.max
      }
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"gave up identity append to $path after 50 races")
      val base = snapshot(path).ridHighWater
      val spark = df.sparkSession
      // Dense per-commit ordinals without a single-task window: one
      // zipWithIndex pass (per-partition counts + local offsets) —
      // skipped entirely when every identity column arrived explicit.
      val withOrd =
        if (generatedIds.isEmpty) df.withColumn("__ord", lit(0L))
        else {
          val schema2 = StructType(df.schema.fields :+
            org.apache.spark.sql.types.StructField(
              "__ord", org.apache.spark.sql.types.LongType, nullable = false))
          spark.createDataFrame(
            df.rdd.zipWithIndex.map { case (r, i) =>
              org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema2)
        }
      val valued0 = generatedIds.foldLeft(withOrd) { case (d, (c, (st, sp))) =>
        val f = target.fields.find(_.name.equalsIgnoreCase(c)).get
        d.withColumn(f.name,
          (lit(st) + lit(sp) * (lit(base) + col("__ord"))).cast(f.dataType))
      }.drop("__ord")
      // Supplied BY DEFAULT values pass through verbatim (store-
      // assign cast to the declared type).
      val valued = supplied.keys.foldLeft(valued0) { (d, c) =>
        val f = target.fields.find(_.name.equalsIgnoreCase(c)).get
        d.withColumn(f.name, col(f.name).cast(f.dataType))
      }.select(target.fields.map(f => col(f.name)).toIndexedSeq: _*)
      try {
        return commit(valued, path, "append",
          statsCols = statsCol.toSeq, expectRidBase = Some(base),
          ridMinClaim =
            if (userOrdCeil > base) Some(userOrdCeil - base) else None)
      } catch {
        case _: java.util.ConcurrentModificationException => () // re-base
      }
    }
    -1 // unreachable
  }

  /** Whether the CDF marker is set for `path`. */
  def cdfEnabled(path: String): Boolean =
    Files.exists(logDir(path).resolve("_cdf"))

  /** Opt this table's SQL DELETE route into POSITIONAL DELETION
    * VECTORS (Delta's `enableDeletionVectors` table property): once
    * set, `DELETE FROM <registered name> WHERE ...` runs [[deleteDv]]
    * — O(deleted rows) sidecar, zero data rewritten — instead of the
    * copy-on-write [[delete]]; `OPTIMIZE` (compact) materializes.
    * The Scala API is unaffected: both routes stay callable.
    */
  def enableDeletionVectors(path: String): Unit = {
    require(Files.exists(logDir(path)), s"no table at $path")
    val m = logDir(path).resolve("_dv")
    if (!Files.exists(m)) Files.writeString(m, "1")
  }

  /** Whether SQL DELETE routes to deletion vectors for `path`. */
  def dvDeletesEnabled(path: String): Boolean =
    Files.exists(logDir(path).resolve("_dv"))

  /** Opt this table into AUTO-COMPACTION (Delta's
    * `autoOptimize.autoCompact`): after any data-growing commit
    * (create / append / copyinto / sink epoch) leaves MORE than
    * `maxLiveSets` live file-sets, a best-effort compact runs
    * immediately in the writing session — the continuous-ingest
    * answer to one-set-per-micro-batch growth, so a long-running
    * stream never needs a scheduled OPTIMIZE just to stay readable.
    * Best-effort: a racing writer's CME or outstanding MoR tombstones
    * simply skip this round (the next commit retries); the property
    * is a pure behavior flag and toggles both ways.
    */
  def enableAutoCompact(path: String, maxLiveSets: Int = 16): Unit = {
    require(maxLiveSets >= 2, s"autoCompact threshold must be >= 2")
    require(Files.exists(logDir(path)), s"no table at $path")
    val tmp = logDir(path).resolve("_autocompact.tmp" +
      java.util.UUID.randomUUID().toString.take(8))
    Files.writeString(tmp, maxLiveSets.toString)
    Files.move(tmp, logDir(path).resolve("_autocompact"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def disableAutoCompact(path: String): Unit =
    Files.deleteIfExists(logDir(path).resolve("_autocompact"))

  /** The auto-compact threshold, if opted in. */
  def autoCompactThreshold(path: String): Option[Int] = {
    val m = logDir(path).resolve("_autocompact")
    if (!Files.exists(m)) None
    else scala.util.Try(Files.readString(m).trim.toInt).toOption
  }

  /** Opt this table into ROW TRACKING (Delta's row tracking): every
    * later data-growing commit (create/append/copyinto/sink epoch)
    * allocates its set a contiguous row-id range [base, base+rows-1]
    * — base claimed from the snapshot's monotone high-water mark
    * INSIDE the publish loop, so racing writers never collide — and
    * records it as a reserved `__rid` manifest stat (checkpointed,
    * cloned, time-traveling like any zone map). `readWithRowIds`
    * serves `_row_id` = base + file offset + row index. Row ids are
    * STABLE under the merge-on-read mutation family (deleteDv /
    * updateDv / mergeDv mask positions, never rewrite sets — a
    * surviving row keeps its id through any number of DV mutations);
    * copy-on-write rewrites and compaction allocate FRESH ids for the
    * rows they rewrite (the un-materialized Delta posture — pre-
    * tracking and rewritten-without-tracking sets read `_row_id` as
    * NULL rather than inventing unstable identities).
    */
  def enableRowTracking(path: String): Unit = {
    require(Files.exists(logDir(path)), s"no table at $path")
    require(!StructType.fromDDL(snapshot(path).schemaDdl)
      .fieldNames.exists(_.equalsIgnoreCase(RidStat)),
      s"row tracking reserves column name '$RidStat'")
    val m = logDir(path).resolve("_rowtracking")
    if (!Files.exists(m)) Files.writeString(m, "1")
  }

  def rowTrackingEnabled(path: String): Boolean =
    Files.exists(logDir(path).resolve("_rowtracking"))

  /** Row-id base map sidecar: `_ridmap.json` INSIDE the set directory
    * (underscore-hidden from parquet scans, like the bloom sidecars).
    * Records the set's per-file record counts in NAME-SORTED order —
    * the exact map [[readWithRowIds]] needs to turn the set's `__rid`
    * base into per-file bases WITHOUT re-opening any parquet footer at
    * read time. Written while the set is still staged (pre-publish),
    * so a published set and its row-id map appear atomically together
    * and travel through clone/restore/time-travel with the directory.
    */
  private def ridMapSidecar(table: String, set: String): Path =
    Paths.get(setPathOf(table, set), "_ridmap.json")

  /** Footer record count of a staged set — O(files) metadata reads at
    * WRITE time, no tasks — recorded as the `_ridmap.json` sidecar so
    * the read path never repeats the walk. Returns the set total (the
    * `__rid` range width the publish loop allocates).
    */
  private def setRowCount(path: String, setName: String): Long = {
    val perFile = footerCounts(path, setName)
    val body = s"""{"files":[""" + perFile.map { case (f, n) =>
      s"""["$f",$n]"""
    }.mkString(",") + "]"
    Files.write(ridMapSidecar(path, setName),
      (body + s""","crc":${crc32(body)}}""").getBytes(UTF_8))
    perFile.map(_._2).sum
  }

  /** One shared Hadoop Configuration for driver-side footer opens:
    * constructing one per file re-parses the XML resource chain —
    * milliseconds a per-commit O(files) walk pays per FILE otherwise.
    */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** (fileName, recordCount) of every parquet file in the set, name-
    * sorted — one footer open per file. Write-time helper and the
    * read path's legacy fallback for sets committed before `_ridmap`.
    */
  private def footerCounts(
      path: String, setName: String): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(setPathOf(path, setName))).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.toString)
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), footerConf)
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try fr.getRecordCount finally fr.close()
        f.getFileName.toString -> n
      }
  }

  private val RidMapFileRe = """\["([^"]+)",(\d+)\]""".r

  /** The set's recorded per-file counts, if the sidecar is present AND
    * intact. A missing or corrupted map yields None — the caller falls
    * back to the footer walk, so corruption degrades to slower reads,
    * never to wrong (or missing) row ids.
    */
  private def readRidMapSidecar(
      table: String, set: String): Option[Seq[(String, Long)]] = {
    val p = ridMapSidecar(table, set)
    if (!Files.exists(p)) return None
    try {
      val line = new String(Files.readAllBytes(p), UTF_8)
      val m = CrcRe.findFirstMatchIn(line).getOrElse(return None)
      val body = line.substring(0, line.lastIndexOf(""","crc":"""))
      if (crc32(body) != m.group(1).toLong) return None
      Some(RidMapFileRe.findAllMatchIn(body)
        .map(g => g.group(1) -> g.group(2).toLong).toSeq)
    } catch { case _: Exception => None }
  }

  /** Total recorded rows of a set, served from its `_ridmap` sidecar —
    * None for pre-sidecar (or corrupted-sidecar) sets, where the
    * caller decides between a footer walk and giving up. The
    * metadata-COUNT(*) consumers (DSv2 aggregate pushdown, DESCRIBE
    * DETAIL) ride this for ZERO read-time footer opens.
    */
  private[sources] def setRecordCountFromSidecar(
      table: String, set: String): Option[Long] =
    readRidMapSidecar(table, set).map(_.map(_._2).sum)

  /** Driver-side footer fallback count of one set (legacy sets without
    * a sidecar); exposed for the DSv2 aggregate pushdown.
    */
  private[sources] def setRecordCountFromFooters(
      table: String, set: String): Long =
    footerCounts(table, set).map(_._2).sum

  /** Recorded rows of a set from metadata alone — its `_ridmap`
    * sidecar, else its footers; no Spark job. Equals the visible count
    * only while no tombstone masks the set.
    */
  private def setRecordCount(table: String, set: String): Long =
    setRecordCountFromSidecar(table, set)
      .getOrElse(setRecordCountFromFooters(table, set))

  /** Instrumentation: parquet footers opened ON THE DRIVER by the last
    * [[readWithRowIds]] call — 0 when every rid-carrying set served its
    * `_ridmap` sidecar (the 100 TB posture; the footer walk is only the
    * legacy fallback for pre-sidecar sets). Thread-local for the same
    * concurrent-gate reason as [[lastDvScanSets]].
    */
  private[this] val _lastRidFooterOpens =
    ThreadLocal.withInitial[Int](() => 0)
  private[graft] def lastRidFooterOpens: Int = _lastRidFooterOpens.get()

  /** The table with a `_row_id` column: base (from the set's `__rid`
    * manifest stat) + the file's offset within its set (footer counts
    * over name-sorted files — deterministic) + the row's index in its
    * file. Sets without a recorded range serve NULL. Built on
    * [[positionedRows]], so DV masks and key tombstones apply
    * exactly as in [[read]] — a masked row never surfaces, and a
    * surviving row keeps its id through any number of MoR mutations.
    */
  def readWithRowIds(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    _lastRidFooterOpens.set(0)
    val (_, visible) = positionedRows(spark, path, s)
    // (set, fileName) -> base + in-set offset, tiny and broadcast.
    // Per-file counts come from each set's commit-time `_ridmap`
    // sidecar — O(sets) tiny metadata reads, ZERO parquet opens; the
    // footer walk below is only the legacy fallback for sets committed
    // before the sidecar existed (or with a corrupted one).
    val baseRows: Seq[(String, String, Long)] = s.live.flatMap { ls =>
      ls.statsFor(RidStat).toSeq.flatMap { st =>
        val perFile = readRidMapSidecar(path, ls.set).getOrElse {
          val walked = footerCounts(path, ls.set)
          _lastRidFooterOpens.set(_lastRidFooterOpens.get() + walked.size)
          walked
        }
        perFile.zip(perFile.map(_._2).scanLeft(0L)(_ + _)).map {
          case ((f, _), off) => (ls.set, f, st.min + off)
        }
      }
    }
    if (baseRows.isEmpty)
      return visible.withColumn("_row_id", lit(null).cast("long"))
        .drop("__dv_set", "__dv_file", "__dv_pos")
    val offDf = spark.createDataFrame(
      baseRows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)).asJava,
      new StructType()
        .add("__rb_set", org.apache.spark.sql.types.StringType, nullable = false)
        .add("__rb_file", org.apache.spark.sql.types.StringType, nullable = false)
        .add("__rb_base", org.apache.spark.sql.types.LongType, nullable = false))
    visible
      .join(functions.broadcast(offDf),
        visible("__dv_set") === offDf("__rb_set") &&
          visible("__dv_file") === offDf("__rb_file"), "left_outer")
      .withColumn("_row_id", col("__rb_base") + col("__dv_pos"))
      .drop("__dv_set", "__dv_file", "__dv_pos",
        "__rb_set", "__rb_file", "__rb_base")
  }

  /** Post-commit auto-compaction hook (see [[enableAutoCompact]]).
    * Never throws: compaction is maintenance, not part of the
    * caller's transaction — its own claim/publish run serializes it
    * against every other writer.
    */
  private def maybeAutoCompact(spark: SparkSession, path: String): Unit = {
    // never inside an open SQL transaction: the compact would fold a
    // self-visible snapshot and materialize pending rows durably
    if (activeSqlTxn.get.isDefined) return
    autoCompactThreshold(path).foreach { t =>
      try {
        val d = openDml(spark, path)
        if (d.s.live.size > t && d.s.tombstones.isEmpty) {
          val statsCols = reRecordable(d.target, d.s.renames,
            d.s.live.flatMap(_.stats.map(_.col)).distinct)
          compactSets(d, d.s.live, statsCols.headOption.toSeq)(
            rangeSorted(statsCols, numFiles = 4))
        }
      } catch {
        // Best-effort stays best-effort (a racing CME just means
        // someone else is maintaining the table) — but leave a TRACE:
        // an I/O error that permanently prevents compaction would
        // otherwise be invisible while small files pile up.
        case scala.util.control.NonFatal(e) =>
          lastAutoCompactError.set(Some(e))
          System.err.println(
            s"graft-lake auto-compact at $path skipped: " +
              s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  /** Test observability: the last swallowed auto-compact failure on
    * this thread (None after a clean round). Thread-local, same
    * rationale as [[lastDvScanSets]].
    */
  private[graft] val lastAutoCompactError =
    ThreadLocal.withInitial[Option[Throwable]](() => None)

  /** Opt this table's SQL MERGE route into SCHEMA AUTO-EVOLUTION
    * (Delta's `schema.autoMerge`): source columns missing from the
    * target are added as nullable columns (one zero-data `evolve`
    * commit) before the upsert lands, instead of refusing. Unlike the
    * DV/CDF opt-ins this is a pure ROUTE flag — nothing committed
    * depends on it — so it can be un-set.
    */
  def enableSchemaAutoMerge(path: String): Unit = {
    require(Files.exists(logDir(path)), s"no table at $path")
    val m = logDir(path).resolve("_automerge")
    if (!Files.exists(m)) Files.writeString(m, "1")
  }

  /** Un-set [[enableSchemaAutoMerge]] — unknown source columns refuse
    * again (the safe default).
    */
  def disableSchemaAutoMerge(path: String): Unit =
    Files.deleteIfExists(logDir(path).resolve("_automerge"))

  /** Whether SQL MERGE auto-evolves the schema for `path`. */
  def schemaAutoMergeEnabled(path: String): Boolean =
    Files.exists(logDir(path).resolve("_automerge"))

  /** MERGE schema evolution: add `source`'s unknown columns to the
    * target as nullable columns via ONE zero-data [[addColumns]]
    * commit (existing rows null-fill at read). Idempotent — a replay
    * finds no unknown columns and commits nothing. Only the CANONICAL
    * upserts ([[merge]]/[[mergeDv]], where source ⊆ target is the
    * contract) take this path: the general [[mergeActions]] source
    * legitimately carries expression-input columns (`s.sv`) that must
    * NOT become table columns.
    */
  private def evolveForSource(path: String, source: DataFrame): Unit = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val target = StructType.fromDDL(s.schemaDdl)
    val newCols = source.schema.fields.filterNot(f =>
      target.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    if (newCols.nonEmpty)
      addColumns(path, newCols.map(f => f.name -> f.dataType).toSeq)
  }

  /** Stage a positional-DV sidecar set WITH its `_dv_targets.json`
    * manifest: the distinct target sets ride the write job itself via
    * observe (zero extra passes), so MoR readers can skip sidecars
    * that cannot mask their file and conflict probes answer from
    * metadata instead of parquet rows ([[MorMasks.targetsOf]]).
    * Returns the target sets.
    */
  private def stageDvSidecar(
      dvRows: DataFrame, path: String, setName: String): Seq[String] = {
    val obs = org.apache.spark.sql.Observation(
      "graft-dvt-" + java.util.UUID.randomUUID().toString.take(8))
    dvRows.observe(obs,
        org.apache.spark.sql.functions.collect_set(col("__dv_set")).as("ts"))
      .write.parquet(s"$path/$setName")
    val targets = obs.get("ts") match {
      case s: scala.collection.Seq[_] => s.map(_.toString).toSeq
      case _ => Seq.empty[String]
    }
    MorMasks.writeTargetsManifest(setPathOf(path, setName), targets)
    targets
  }

  /** Stage a CDF sidecar set (when enabled): `parts` + a constant
    * `_change_type`, written under `cdf/` — OUTSIDE the data dir, so
    * vacuum's live-set sweep never touches it and it never joins the
    * snapshot's live list. Returns the set name to record in the
    * commit, or None when the feed is off (`parts` is then never
    * evaluated, so a caller's image-building jobs never run).
    */
  private def stageCdf(
      path: String, parts: => Seq[(DataFrame, String)]): Option[String] = {
    if (!cdfEnabled(path)) return None
    val typed = parts.map { case (df, ct) =>
      df.withColumn("_change_type", lit(ct))
    }.reduceLeft(_.unionByName(_))
    val setName = s"cdf/c${java.util.UUID.randomUUID().toString.take(12)}"
    typed.write.parquet(s"$path/$setName")
    Some(setName)
  }

  /** Flatten a `partitionBy("__si")`-staged CDF write into the final
    * sidecar dir and return each index's parquet row count (footer
    * metadata only — no job). This is how the CoW update/delete paths
    * fuse their per-set match-count pass INTO the CDF sidecar write:
    * one distributed pass stages the change images partitioned by
    * candidate-set index, and the per-set counts fall out of the
    * staged footers. Filenames get a per-dir prefix so same-named
    * part files from different partition dirs cannot collide.
    */
  private def flattenStagedCdf(
      stage: Path, dest: Path): Map[Int, Long] = {
    import scala.jdk.CollectionConverters._
    Files.createDirectories(dest)
    val out = scala.collection.mutable.Map[Int, Long]()
    Files.list(stage).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__si="))
      .foreach { d =>
        val idx = d.getFileName.toString.stripPrefix("__si=").toInt
        var n = 0L
        Files.list(d).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toString), footerConf)
            val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            n += (try fr.getRecordCount finally fr.close())
            Files.move(f, dest.resolve(s"si$idx-${f.getFileName}"),
              StandardCopyOption.ATOMIC_MOVE)
          }
        out(idx) = n
      }
    rmTree(stage)
    out.toMap
  }

  /** `localCheckpoint(true)` with the row count riding the SAME
    * materialization via observe — the separate count()/head(1)
    * execution (and its AQE job train) every mutation paid after
    * checkpointing its matched slice disappears (guide §1.2).
    * localCheckpoint runs through the same withAction/SQLExecution
    * machinery as the writes [[stageSet]] already observes, so the
    * blocking get resolves as soon as the bus drains (~1 ms).
    */
  private def checkpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation(
      "graft-ckc-" + java.util.UUID.randomUUID().toString.take(8))
    val ck = df.observe(obs,
      org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = obs.get("n") match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
      case other => other.toString.toLong
    }
    (ck, n)
  }

  /** Delete a staged (but unpublished) set directory, if present. */
  private def reclaimStaged(path: String, setName: String): Unit =
    rmTree(Paths.get(setPathOf(path, setName)))

  /** Delete `p` and everything under it, if present. */
  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  /** Rows per `__set` tag ([[CarrySet]]) of `tagged`, tallied per
    * partition and summed on the driver: ONE job and no shuffle, where
    * a hash aggregate by set name adds an exchange (and under AQE a
    * second job). The tally holds one entry per set a task read.
    */
  private def tallyBySet(tagged: DataFrame): Map[String, Long] =
    tagged.select(col("__set")).mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach(r => n(r.getString(0)) = n.getOrElse(r.getString(0), 0L) + 1L)
      n.iterator
    }(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong))
      .collect().groupMapReduce(_._1)(_._2)(_ + _)

  /** Candidate-set index column for the fused count+CDF pass: maps the
    * [[scanSets]] `__set` tag to its position in `candidates`.
    */
  private def setIndexCol(candidates: Seq[LiveSet]): Column =
    candidates.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (ls, i)) => when(col("__set") === ls.set, lit(i)).otherwise(acc)
    }

  private def commit(
      df: DataFrame, path: String, action: String,
      tag: Option[String] = None, statsCols: Seq[String] = Seq.empty,
      removeSets: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      cdfSet: Option[String] = None,
      expectRidBase: Option[Long] = None,
      // Claim AT LEAST this many row-tracking ids even if the staged
      // set has fewer rows — how a BY DEFAULT identity append burns
      // range past user-supplied values so generated ids never
      // collide (gaps, never reuse — the Delta posture).
      ridMinClaim: Option[Long] = None,
      fence: Option[MutationFence] = None,
      // A positional tombstone's fence, built from the sets its
      // positions point into as the sidecar write observed them.
      dvFence: Set[String] => Option[MutationFence] = _ => None,
      txn: Option[String] = None): Int = {
    // CHECK constraints gate the data-bearing writes: the delta (or
    // the merge's rewritten set) is validated BEFORE staging, one
    // scan per rule. Delete/compact/tombstone rewrite already-valid
    // rows and skip the pass. The validated rule-set is re-checked
    // inside the publish loop: a constraint added by a RACING writer
    // forces a loud ConcurrentModificationException (re-run to
    // re-validate) instead of silently landing unvalidated rows.
    val validatedCons: Option[Map[String, String]] =
      if (action == "create" || action == "append" ||
          action == "overwrite" || action == "merge" ||
          action == "update") {
        Some(
          if (Files.exists(logDir(path))) snapshot(path).constraints
          else Map.empty[String, String])
      } else None
    // 1. stage the file-set — invisible until the log names it.
    // CHECK validation and zone-map stats ride the write job itself
    // ([[stageSet]]'s observe) — no separate pass re-reads the bytes.
    // A positional-DV tombstone additionally records its target
    // manifest off the same write ([[stageDvSidecar]]).
    val setName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
    val (stats, effFence) =
      if (action == "tombstone" && df.columns.contains("__dv_set")) {
        val targets = stageDvSidecar(df, path, setName)
        (Seq.empty[SetStats], fence.orElse(dvFence(targets.toSet)))
      } else (stageSet(df, path, setName, statsCols,
        validatedCons.getOrElse(Map.empty)), fence)
    // EVERY staged set records its per-file counts as the `_ridmap`
    // sidecar (one write-time footer walk) so read-side metadata
    // consumers — COUNT(*) pushdown, DESCRIBE DETAIL num_rows, row-id
    // bases — never open a footer on the driver again. Row tracking
    // additionally claims a contiguous id range off the total
    // (rewrites re-assign — the un-materialized Delta posture).
    val nRows = setRowCount(path, setName)
    // Bloom sidecars are part of the STAGED set (written before the
    // log names it), so a published set and its point-lookup index
    // appear atomically together.
    if (bloomCols.nonEmpty)
      writeBloomSidecars(df.sparkSession, path, df.schema,
        Seq(setName -> nRows), bloomCols)
    val ridRows =
      if (rowTrackingEnabled(path))
        Some(math.max(nRows, ridMinClaim.getOrElse(0L)))
      else None
    val v =
      try publishEntry(path, action, setName, df.schema, tag, stats,
        removeSets, validatedCons, cdfSet = cdfSet, ridRows = ridRows,
        expectRidBase = expectRidBase, fence = effFence, txn = txn)
      catch {
        // A commit aborted by the identity-range or mutation fence
        // must not leave its staged set behind: positions/values were
        // computed off a snapshot the race invalidated, so the staged
        // bytes are garbage — drop them, let the caller re-stage
        // against the fresh snapshot.
        case e: java.util.ConcurrentModificationException
            if expectRidBase.isDefined || effFence.isDefined =>
          rmTree(Paths.get(path, setName))
          throw e
      }
    // Post-commit maintenance: data-GROWING commits may trigger the
    // opted-in auto-compaction (never compact's own commit — no
    // recursion; never mutations — their snapshot is the transaction).
    if (action == "create" || action == "append")
      maybeAutoCompact(df.sparkSession, path)
    v
  }

  /** Stage `df` as the parquet set `setName` with CHECK validation
    * and zone-map stats FUSED into the write job itself (one
    * `observe`/CollectMetrics node on the written plan): the staged
    * bytes are never re-read for validation or stats, which removes
    * one full pass (+ one pass per CHECK rule) from every data-
    * bearing commit — the guide's "remove passes" lever, and at
    * 100 TB the difference between writing a set once and scanning
    * it three times. Stats are recorded in the TABLE type's image
    * domain exactly as [[footerStats]] records them (the observe runs
    * over the same rows the files hold). A violated CHECK deletes the
    * staged directory and refuses with the same loud error the
    * pre-write validation raised — nothing is ever published.
    */
  private def stageSet(
      df: DataFrame, path: String, setName: String,
      statsCols: Seq[String], cons: Map[String, String]): Seq[SetStats] = {
    val dest = s"$path/$setName"
    if (statsCols.isEmpty && cons.isEmpty) {
      df.write.parquet(dest)
      return Seq.empty
    }
    val tableSt = snapshotIfExists(path)
      .filter(sn => sn.version >= 0 && sn.schemaDdl.nonEmpty)
      .map(sn => StructType.fromDDL(sn.schemaDdl))
    // Same domain rule as footerStats: record in the table's WIDER
    // type when the writer is the narrow side of a lossless widening.
    val effDt = statsCols.map { c =>
      val wdt = df.schema(c).dataType
      c -> tableSt.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        .filter(t => t != wdt && widensTo(wdt, t)).getOrElse(wdt)
    }
    val aggs = scala.collection.mutable.ArrayBuffer[Column]()
    effDt.zipWithIndex.foreach { case ((c, dt), i) =>
      val e = statLongExpr(dt, col(c).cast(dt))
      aggs += functions.min(e).as(s"mn_$i")
      aggs += functions.max(e).as(s"mx_$i")
      if (sumStatEligible(dt))
        aggs += functions.sum(col(c).cast("decimal(38,0)")).as(s"sm_$i")
      aggs += functions.count(col(c)).as(s"nn_$i")
    }
    val rules = cons.toSeq.sortBy(_._1)
    rules.zipWithIndex.foreach { case ((_, sql), i) =>
      aggs += functions.sum(
        when(coalesce(functions.expr(sql), lit(true)) === false, 1L)
          .otherwise(0L)).as(s"ck_$i")
    }
    val obs = org.apache.spark.sql.Observation(
      "graft-stage-" + java.util.UUID.randomUUID().toString.take(8))
    val t0 = System.nanoTime()
    df.observe(obs, aggs.head, aggs.tail.toSeq: _*).write.parquet(dest)
    val t1 = System.nanoTime()
    val m = obs.get
    if (sys.env.contains("GRAFT_STAGE_DEBUG"))
      System.err.println(f"[stage] write=${(t1 - t0) / 1e6}%.0f ms " +
        f"obsWait=${(System.nanoTime() - t1) / 1e6}%.0f ms")
    rules.zipWithIndex.foreach { case ((name, sql), i) =>
      val bad = m(s"ck_$i") match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
      if (bad > 0) {
        rmTree(Paths.get(dest))
        throw new IllegalStateException(
          s"CHECK constraint '$name' ($sql) violated by $bad row(s) — " +
            "commit refused")
      }
    }
    effDt.zipWithIndex.flatMap { case ((c, dt), i) =>
      if (m(s"mn_$i") == null) None
      else Some(SetStats(c, m(s"mn_$i").asInstanceOf[Long],
        m(s"mx_$i").asInstanceOf[Long],
        if (sumStatEligible(dt))
          Option(m(s"sm_$i")).flatMap(d => scala.util.Try(
            d.asInstanceOf[java.math.BigDecimal].longValueExact()).toOption)
        else None,
        Some(m(s"nn_$i").asInstanceOf[Long])))
    }
  }

  /** Zone-map stats from the WRITTEN files (parquet-footer-cheap
    * scan), so they describe exactly what readers will see — ALL
    * stats columns in one aggregate pass.
    */
  private def footerStats(
      spark: SparkSession, path: String, setName: String,
      statsCols: Seq[String]): Seq[SetStats] =
    if (statsCols.isEmpty) Seq.empty
    else {
      val written = spark.read.parquet(s"$path/$setName")
      // Stats are recorded in the TABLE type's image domain, not the
      // written file's: a NARROW writer against a widened column (a
      // DATE append into a date->ntz-widened table) must not record
      // day-domain numbers that every micros-domain probe — and the
      // metadata MIN/MAX pushdown — would silently misread. Integral
      // widening shares the value domain, so the cast is a no-op
      // there; when the WRITER is the wider side the table schema is
      // about to widen to it, so the written domain is already right.
      val tableSt = snapshotIfExists(path)
        .filter(sn => sn.version >= 0 && sn.schemaDdl.nonEmpty)
        .map(sn => StructType.fromDDL(sn.schemaDdl))
      val effDt = statsCols.map { c =>
        val wdt = written.schema(c).dataType
        c -> tableSt.flatMap(_.fields.find(_.name == c))
          .map(_.dataType)
          .filter(t => t != wdt && widensTo(wdt, t)).getOrElse(wdt)
      }
      val aggs = effDt.flatMap { case (c, dt) =>
        val e = statLongExpr(dt, col(c).cast(dt))
        Seq(org.apache.spark.sql.functions.min(e),
          org.apache.spark.sql.functions.max(e))
      }
      // Exact non-null SUMs for value-domain integral stat columns ride
      // the SAME pass (decimal(38,0) accumulation, so an ANSI long
      // overflow can never abort the commit — a sum that exceeds Long
      // simply records as absent and the pushdown declines).
      val sumIdx = effDt.zipWithIndex.collect {
        case ((c, dt), i) if sumStatEligible(dt) => (c, i)
      }
      val sumAggs = sumIdx.map { case (c, _) =>
        org.apache.spark.sql.functions.sum(col(c).cast("decimal(38,0)"))
      }
      // Non-null counts for EVERY stat column (counting needs no value
      // domain) — serves COUNT(col) and completes AVG pushdown.
      val nnAggs = statsCols.map(c => org.apache.spark.sql.functions.count(col(c)))
      val all = aggs ++ sumAggs ++ nnAggs
      val r = written.agg(all.head, all.tail: _*).head
      val base = 2 * statsCols.length
      val nnBase = base + sumIdx.length
      val sums: Map[Int, Long] = sumIdx.zipWithIndex.flatMap {
        case ((_, origIdx), j) =>
          if (r.isNullAt(base + j)) None
          else scala.util.Try(r.getDecimal(base + j).longValueExact())
            .toOption.map(origIdx -> _)
      }.toMap
      statsCols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(2 * i)) None
        else Some(SetStats(c, r.getLong(2 * i), r.getLong(2 * i + 1),
          sums.get(i), Some(r.getLong(nnBase + i))))
      }
    }

  /** SUM-stat eligibility: only value-domain integral columns — where
    * [[statLongExpr]]'s image IS the column value and SQL SUM is
    * defined — record per-set sums. Temporal images (days/micros) and
    * string prefixes are prunable but not summable; float sums are
    * order-dependent and never recorded.
    */
  private[sources] def sumStatEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** COMMIT a pre-staged file-set of already-written parquet files —
    * the entry point for writers that stage data OUTSIDE a DataFrame
    * write (the DSv2 streaming sink's executor-side part files). Files
    * are moved into a fresh set directory, then published through the
    * ordinary claim/publish loop. Exactly-once rides `tag` just like
    * [[appendIdempotent]]: a replayed epoch finds its tag, discards
    * its staged files, and returns the already-committed version. An
    * absent table is created on first commit (Delta-sink behavior).
    */
  private[sources] def commitStagedFiles(
      path: String, files: Seq[String], schema: StructType,
      tag: Option[String], stats: Seq[SetStats] = Seq.empty): Int = {
    Files.createDirectories(logDir(path)) // auto-create, idempotent
    tag.foreach { t =>
      snapshot(path).tags.get(t).foreach { v =>
        files.foreach(f => Files.deleteIfExists(Paths.get(f)))
        return v
      }
    }
    val setName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
    val setDir = Paths.get(path, setName)
    Files.createDirectories(setDir)
    files.zipWithIndex.foreach { case (f, i) =>
      Files.move(Paths.get(f), setDir.resolve(f"part-$i%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // Sink commits honor CHECK constraints too: the staged (still
    // unpublished) set is validated with one read-back scan — only
    // when rules exist, so unconstrained sinks pay nothing.
    val cons = snapshot(path).constraints
    if (cons.nonEmpty) {
      try enforceConstraints(
        org.apache.spark.sql.SparkSession.active.read.parquet(s"$path/$setName"),
        cons)
      catch {
        case e: Throwable =>
          rmTree(setDir)
          throw e
      }
    }
    // Pass the validated rule MAP into the publish loop: sink commits
    // get the same racing-writer freshness fence as batch commits —
    // a constraint added (or name-preservingly replaced) between this
    // read-back validation and the claim aborts loudly instead of
    // landing unvalidated rows.
    val nRows = setRowCount(path, setName) // sidecar for every set
    val ridRows = if (rowTrackingEnabled(path)) Some(nRows) else None
    val v = publishEntry(path, "append", setName, schema, tag, stats,
      Seq.empty, Some(cons), ridRows = ridRows)
    // Sink epochs are the canonical one-set-per-micro-batch growth:
    // the auto-compact hook keeps a long-running stream's live-set
    // count bounded without a scheduled OPTIMIZE.
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(sp => maybeAutoCompact(sp, path))
    v
  }

  /** CONVERT a plain parquet directory into a lake table IN PLACE
    * (Delta's CONVERT TO DELTA): the directory's top-level part files
    * are MOVED (same-filesystem atomic rename — zero bytes copied)
    * into the first file-set and published as the table's initial
    * commit, with `statsCol` zone maps recorded off the existing
    * footers. After conversion every lake capability works on the
    * data: time travel starts at the conversion, DML/streaming/SQL
    * route normally. Hive-partitioned directories (subdir layouts)
    * refuse loudly — read them with spark.read and CTAS instead,
    * because a by-value layout needs per-set manifests the flat
    * conversion cannot infer. Refuses if the directory is already a
    * lake table.
    */
  def convert(
      spark: SparkSession, path: String,
      statsCol: Option[String] = None): Int = {
    import scala.jdk.CollectionConverters._
    require(!Files.exists(logDir(path)),
      s"CONVERT: $path is already a lake table")
    require(Files.isDirectory(Paths.get(path)),
      s"CONVERT: no directory at $path")
    val entries = Files.list(Paths.get(path)).iterator().asScala.toSeq
    val files = entries.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).map(_.toString).sorted
    require(files.nonEmpty, {
      val subdirs = entries.filter(Files.isDirectory(_))
      if (subdirs.nonEmpty)
        s"CONVERT: $path holds no top-level part files but " +
          s"${subdirs.size} subdirectories — hive-partitioned layouts " +
          "don't convert in place; read + CTAS PARTITIONED BY instead"
      else s"CONVERT: no .parquet files at $path"
    })
    val df = spark.read.parquet(files: _*)
    // Zone maps off the EXISTING bytes, before the move names a set.
    val stats = statsCol.toSeq.flatMap { c =>
      require(df.columns.contains(c), s"CONVERT: no column '$c' at $path")
      val e = statLongExpr(df.schema(c).dataType, col(c))
      val doSum = sumStatEligible(df.schema(c).dataType)
      val aggs = Seq(
        org.apache.spark.sql.functions.min(e),
        org.apache.spark.sql.functions.max(e)) ++
        (if (doSum) Seq(org.apache.spark.sql.functions.sum(
          col(c).cast("decimal(38,0)"))) else Nil) ++
        Seq(org.apache.spark.sql.functions.count(col(c)))
      val r = df.agg(aggs.head, aggs.tail: _*).head
      if (r.isNullAt(0)) None
      else Some(SetStats(c, r.getLong(0), r.getLong(1),
        if (doSum && !r.isNullAt(2))
          scala.util.Try(r.getDecimal(2).longValueExact()).toOption
        else None,
        Some(r.getLong(if (doSum) 3 else 2))))
    }
    commitStagedFiles(path, files, df.schema, None, stats)
  }

  /** Logical conflict fence of one mutation transaction (the Delta
    * WriteSerializable conflict matrix re-expressed over file-sets):
    * `refSets` are the sets whose PHYSICAL layout the transaction's
    * staged artifacts depend on (position sidecars point into them /
    * rewrite outputs were computed from them); `readTombstones` the
    * mask sets visible at the transaction's read snapshot. At claim
    * time the commit aborts with ConcurrentModificationException
    * (caller re-runs against the fresh snapshot) iff a concurrent
    * commit (a) removed or rewrote a referenced set — positions into
    * it would silently mask nothing (the lost-delete anomaly) — or
    * (b) landed a NEW positional mask on one — two position-resolved
    * transactions over the same bytes do not commute (an update would
    * resurrect a concurrently-deleted row as its re-inserted image).
    * BOTH directions of the anomaly carry the fence: position-mask
    * commits fence the sets their positions point into (a racing
    * rewrite must abort them), and rewrite commits (delete/update/
    * merge/compact) fence the sets they remove (a racing position
    * mask landing on one must abort the rewrite — otherwise the
    * rewritten set, computed without the mask, resurrects the
    * concurrently-deleted rows). Everything else composes and lands
    * WITHOUT aborting: blind appends, schema evolution, masks on
    * unrelated sets, and key tombstones (value masks apply to any
    * physical layout, including sets rewritten after they landed).
    */
  private[sources] final case class MutationFence(
      refSets: Set[String], readTombstones: Set[String],
      masksTouch: Seq[String] => Boolean)

  /** [[MutationFence.masksTouch]] closure: do any of these freshly-
    * landed tombstone sets POSITIONALLY mask one of `refSets`? A
    * positional sidecar names the sets it masks in its commit-time
    * target manifest (legacy sidecars: in their own rows) — answered
    * by [[MorMasks.dvTargetSets]] with NO Spark job, and only on the
    * CONFLICT path (an uncontended commit sees no fresh tombstones
    * and never calls this). Key tombstones (no `__dv_set` column)
    * never conflict.
    */
  private def masksTouchFn(
      spark: SparkSession, path: String,
      refSets: Set[String]): Seq[String] => Boolean =
    newTombs => newTombs.exists(t =>
      MorMasks.dvTargetSets(setPathOf(path, t)).exists(refSets))

  private def fenceFor(
      spark: SparkSession, path: String, refSets: Set[String],
      readTombstones: Seq[String]): Option[MutationFence] =
    if (refSets.isEmpty) None
    else Some(MutationFence(refSets, readTombstones.toSet,
      masksTouchFn(spark, path, refSets)))

  /** Test-only interleaving hook: runs ONCE at the top of the next
    * [[publishEntry]] on THIS thread — after the transaction staged
    * its artifacts, before its first claim attempt — the
    * deterministic way to land a racing commit inside another
    * mutation's read→publish window. Cleared BEFORE invocation so the
    * racing commit it performs does not re-trigger it. Thread-local
    * for the same concurrent-gate reason as [[lastDvScanSets]].
    */
  private[graft] val beforePublishHook =
    ThreadLocal.withInitial[Option[() => Unit]](() => None)

  /** The claim/publish loop: resolve the current snapshot, conflict-
    * check, claim the next version (O_EXCL), publish atomically.
    * `dfSchema` is the writer's schema; evolution/overwrite semantics
    * are applied against the snapshot's schema per `action`.
    */
  private def publishEntry(
      path: String, action: String, setName: String, dfSchema: StructType,
      tag: Option[String], stats: Seq[SetStats],
      removeSets: Seq[String],
      validatedCons: Option[Map[String, String]] = None,
      perSet: Seq[LiveSet] = Seq.empty,
      cdfSet: Option[String] = None,
      expectVersion: Option[Int] = None,
      dvSidecar: Option[String] = None,
      ingestFiles: Seq[String] = Seq.empty,
      ridRows: Option[Long] = None,
      // Metadata commits whose add list is NOT a file-set (the
      // multi-column `partition` marker): carried verbatim.
      addItemsOverride: Seq[String] = Seq.empty,
      // IDENTITY fence: the staged files carry values computed off
      // this row-tracking base; a racing allocation moved it → CME so
      // the caller re-stages instead of landing duplicates.
      expectRidBase: Option[Long] = None,
      // Logical conflict fence (see [[MutationFence]]): re-checked on
      // EVERY claim attempt, so a conflict landing between retries is
      // still caught.
      fence: Option[MutationFence] = None,
      // Cross-table transaction token: rendered into the commit line;
      // the commit stays a read-time no-op until the coordinator's
      // marker exists (see [[resolveTxn]]).
      txn: Option[String] = None): Int = {
    val hook = beforePublishHook.get()
    if (hook.isDefined) { beforePublishHook.set(None); hook.get.apply() }
    // An open SQL transaction on this thread CAPTURES data-bearing
    // commits: they ride its shared token as provisional commits
    // (invisible until the decision marker). DDL passes through
    // non-transactionally (its prior contract); maintenance shapes
    // refuse loudly — a ROLLBACK could not undo them.
    val sqlCtx = activeSqlTxn.get
    val effTxn = txn.orElse {
      sqlCtx.flatMap { ctx =>
        if (TxnPassActions.contains(action)) None
        else {
          require(TxnAttachActions.contains(action),
            s"'$action' at $path inside BEGIN TRANSACTION: this " +
              "operation cannot be staged transactionally or rolled " +
              "back — COMMIT or ROLLBACK first")
          if (ctx.token.isEmpty)
            ctx.token = Some(s"${logDir(path).toAbsolutePath}|sql" +
              java.util.UUID.randomUUID().toString.take(12))
          ctx.token
        }
      }
    }
    val sqlAttached = txn.isEmpty && effTxn.isDefined
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"gave up committing to $path after 50 races")
      val snap = snapshot(path)
      // In-transaction writes refuse the version-indexed table
      // features (the appendAtomic refusal set): a pending commit's
      // later decision would insert change rows / id-range claims
      // BEHIND consumers that already read past its version.
      // Schema/constraint DDL cannot land over an UNDECIDED
      // transaction: a CHECK added now would bypass validation of the
      // pending rows at their later decision; a rename/drop re-bases
      // a schema a pending commit already baked into its line.
      if ((action == "constraint" || action == "rename" ||
          action == "dropcol") && snap.pendingTxn)
        throw new java.util.ConcurrentModificationException(
          s"'$action' at $path: an UNDECIDED transaction holds pending " +
            "commits on this table; retry after it commits or aborts")
      // A NON-transactional OVERWRITE over an UNDECIDED transaction
      // waits too: its remove list is computed from the PUBLIC live
      // set, so the pending commits' staged sets would survive the
      // "replace everything" semantics if the transaction later
      // commits — and the overwrite bypasses the per-set claim checks
      // below by design. (An overwrite staged INSIDE a transaction
      // resolves its own commits committed, so pendingTxn is false
      // for self-staged state.)
      if (action == "overwrite" && snap.pendingTxn)
        throw new java.util.ConcurrentModificationException(
          s"overwrite at $path: an UNDECIDED transaction holds pending " +
            "commits on this table; retry after it commits or aborts")
      if (sqlAttached) {
        require(!cdfEnabled(path),
          s"'$action' on CDF-enabled table $path inside BEGIN " +
            "TRANSACTION: the change feed indexes versions assuming " +
            "visibility never changes retroactively")
        require(!rowTrackingEnabled(path),
          s"'$action' on row-tracking table $path inside BEGIN " +
            "TRANSACTION: a pending commit cannot hold an id-range claim")
        require(snap.identities.isEmpty,
          s"'$action' on IDENTITY table $path inside BEGIN TRANSACTION: " +
            "allocation rides row tracking")
      }
      // Constraint-freshness check INSIDE the claim loop: if a racing
      // writer published new CHECK rules after this commit validated
      // its delta, landing would bypass them — fail loudly so the
      // caller re-runs (and re-validates) instead of silently
      // committing unvalidated rows past a rule.
      // Full name→SQL comparison (not just the name set): a racing
      // drop+re-add that keeps a rule's NAME but swaps its predicate
      // must also abort, or rows validated under the old predicate
      // would land past the new one.
      validatedCons.foreach { v =>
        if (snap.constraints != v)
          throw new java.util.ConcurrentModificationException(
            s"CHECK constraints changed during commit to $path " +
              s"(validated ${v.keySet.toSeq.sorted.mkString(",")} vs now " +
              s"${snap.constraints.keySet.toSeq.sorted.mkString(",")}); retry")
      }
      // Idempotence re-check under contention: if a same-tag commit
      // landed while we were racing, ours must NOT land again.
      tag.foreach { t => snap.tags.get(t).foreach { v => return v } }
      // Logical conflict fence: positions/rewrites bind to the
      // PHYSICAL layout of the sets they read — a concurrent commit
      // that rewrote one, or landed its own position mask on one,
      // invalidates the staged artifacts (both directions of the
      // lost-delete anomaly). Everything else composes and lands.
      fence.foreach { f =>
        val liveNames = snap.live.map(_.set).toSet
        f.refSets.find(r => !liveNames(r)).foreach { r =>
          throw new java.util.ConcurrentModificationException(
            s"file-set $r at $path was rewritten or removed by a " +
              "concurrent commit while this mutation held positions " +
              "into it; re-run against the fresh snapshot")
        }
        val freshMasks = snap.tombstones.filterNot(f.readTombstones)
        if (freshMasks.nonEmpty && f.masksTouch(freshMasks))
          throw new java.util.ConcurrentModificationException(
            s"a concurrent commit landed a position mask on a file-set " +
              s"this mutation at $path read; re-run against the fresh " +
              "snapshot")
        // UNDECIDED-transaction claims: a pending txn commit that
        // removes one of our reference sets, or holds a position mask
        // touching one, is a lock held across that transaction — this
        // mutation must wait for the decision (retry after COMMIT/
        // ROLLBACK/commitTxn/abortTxn), never land a rewrite the
        // pending commit's decision would invalidate.
        val held = f.refSets.intersect(snap.pendingRemoves)
        if (held.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"file-set(s) ${held.toSeq.sorted.mkString(", ")} at $path " +
              "are claimed by an UNDECIDED transaction's rewrite; " +
              "retry after it commits or aborts")
        val pendMasks = snap.pendingMasks.filterNot(f.readTombstones)
        if (pendMasks.nonEmpty && f.masksTouch(pendMasks))
          throw new java.util.ConcurrentModificationException(
            s"an UNDECIDED transaction holds a position mask on a " +
              s"file-set this mutation at $path read; retry after it " +
              "commits or aborts")
      }
      // IDENTITY freshness: the staged values embed a row-tracking
      // base; if a racing commit advanced the high water, landing
      // would publish duplicate identity values — abort to re-stage.
      expectRidBase.foreach { b =>
        if (snap.ridHighWater != b)
          throw new java.util.ConcurrentModificationException(
            s"identity range base moved ($b -> ${snap.ridHighWater}) during " +
              s"commit to $path; re-stage with the fresh base")
      }
      // COPY INTO freshness: a racing COPY that ingested any of OUR
      // source files must abort this commit loudly — the caller
      // re-diffs the directory and retries with the remaining files.
      if (ingestFiles.nonEmpty) {
        val dup = ingestFiles.filter(snap.ingested.contains)
        if (dup.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"COPY INTO race at $path: ${dup.take(3).mkString(", ")} " +
            "already ingested by a concurrent copy; re-run to re-diff")
      }
      val v = snap.version + 1
      require(action != "create" || v == 0, s"create on non-empty log: $path")
      // overwrite resets the schema along with the contents; append
      // evolves it (old columns keep position, new ones join at the end).
      val mergedDdl =
        // restore resets the schema to the TARGET version's, overwrite
        // to the writer's — both bypass evolution merging.
        if (v == 0 || action == "overwrite" || action == "restore")
          dfSchema.toDDL
        // A tombstone set is keys, not table data; a constraint commit
        // is rules; a partition commit is layout metadata — none
        // touches the table schema.
        else if (action == "tombstone" || action == "constraint" ||
          action == "lineage" || action == "partition" ||
          action == "coldef") snap.schemaDdl
        // A rename derives its schema from the CURRENT snapshot inside
        // the claim loop (not from a caller-captured one), so a racing
        // append's schema evolution is never clobbered. The existence/
        // duplicate checks re-run per attempt for the same reason.
        else if (action == "rename") {
          val i = setName.indexOf('=')
          val oldN = setName.take(i); val newN = setName.substring(i + 1)
          val cur = StructType.fromDDL(snap.schemaDdl)
          require(cur.fieldNames.contains(oldN),
            s"no column '$oldN' to rename at $path")
          require(!cur.fieldNames.contains(newN),
            s"column '$newN' already exists at $path")
          // The tombstone/constraint fences re-run HERE, against the
          // claim-attempt snapshot — renameColumn's caller-side checks
          // fail fast, but a racing deleteMoR or addConstraint landing
          // between that snapshot and this claim must still refuse
          // (same freshness posture as validatedCons for appends).
          fenceRename(path, snap, oldN)
          StructType(cur.fields.map(f =>
            if (f.name == oldN) f.copy(name = newN) else f)).toDDL
        }
        else if (action == "dropcol") {
          val cn = setName
          val cur = StructType.fromDDL(snap.schemaDdl)
          require(cur.fieldNames.contains(cn), s"no column '$cn' to drop at $path")
          require(cur.fields.length > 1, s"cannot drop the only column of $path")
          // Tombstone/constraint fences re-run per claim attempt, like
          // rename.
          fenceRename(path, snap, cn)
          StructType(cur.fields.filterNot(_.name == cn)).toDDL
        }
        else {
          val oldSt = StructType.fromDDL(snap.schemaDdl)
          // FORMER-NAME FENCE: a column renamed away must not rejoin
          // the schema via evolution. Pre-rename file-sets still carry
          // the physical old name, so a re-added logical column of
          // that name would serve the SAME bytes under BOTH the new
          // logical name (via lineage) and the re-added one — a stale
          // writer still emitting the old column name is the realistic
          // trigger. Delta avoids this with physical field IDs; here
          // the loud refusal mirrors the tombstone/constraint fences.
          val joining = dfSchema.fieldNames.toSet -- oldSt.fieldNames.toSet
          val formerNames = snap.renames.values.flatten.toSet
          val clash = joining.intersect(formerNames)
          if (clash.nonEmpty) throw new IllegalStateException(
            s"column(s) ${clash.toSeq.sorted.mkString(", ")} at $path were " +
              "renamed away (name lineage still resolves them in pre-rename " +
              "file-sets); re-adding the former name would alias old data — " +
              "use a different name or overwrite() to reset the lineage")
          val merged = mergeSchemas(oldSt, dfSchema)
          // DATE -> TIMESTAMP_NTZ changes the zone-map IMAGE DOMAIN
          // (epoch days -> local micros). Day-recorded stats on
          // ordinary columns are DOMAIN-CORRECTED at fold time
          // ([[normalizeStatDomains]] — the per-set schema is the
          // domain tag), so stats-bearing columns widen freely. The
          // one remaining fence is a LAYOUT column: its day-image
          // constants are baked into directory names and min==max
          // partition pins that SPJ / hive-pruning key on — those
          // cannot be retagged in place.
          merged.fields.foreach { f =>
            val was = oldSt.fields.find(_.name == f.name).map(_.dataType)
            if (was.contains(org.apache.spark.sql.types.DateType) &&
                f.dataType == org.apache.spark.sql.types.TimestampNTZType &&
                snap.partitionCols.contains(f.name))
              throw new IllegalArgumentException(
                s"widening '${f.name}' DATE -> TIMESTAMP_NTZ at $path: " +
                  "it is a partition-layout column whose day-image " +
                  "directory constants cannot be retagged — rewrite the " +
                  "layout (overwrite/clone) first")
          }
          merged.toDDL
        }
      val removed =
        if (action == "overwrite") snap.live.map(_.set) ++ snap.tombstones
        else removeSets
      // MERGE-style commits remove specific sets: they must ALL still
      // be live, or a concurrent commit has invalidated our rewrite.
      // (Constraint removes are rule names, not file-sets.)
      if (action != "overwrite" && action != "constraint" &&
          action != "lineage" && action != "partition" &&
          action != "coldef" && removed.nonEmpty) {
        val live = (snap.live.map(_.set) ++ snap.tombstones).toSet
        removed.find(r => !live(r)).foreach { r =>
          throw new java.util.ConcurrentModificationException(
            s"file-set $r was removed by a concurrent commit; retry the merge")
        }
        // An UNDECIDED transaction's rewrite holds its removed sets
        // as claims: a racing rewrite of one must wait for the
        // decision (committing it now would fork the set's lineage —
        // both rewrites computed from the same parent).
        val heldRw = removed.toSet.intersect(snap.pendingRemoves)
        if (heldRw.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"file-set(s) ${heldRw.toSeq.sorted.mkString(", ")} at $path " +
              "are claimed by an UNDECIDED transaction's rewrite; retry " +
              "after it commits or aborts")
        // An UNDECIDED transaction's POSITION masks pin the sets they
        // target exactly like its rewrites: a compact/merge removing a
        // masked set now would orphan the pending positions, and the
        // transaction's COMMIT (whose revalidate->decision-flip window
        // cannot see this commit) would silently resurrect its deleted
        // rows. O(pending sidecars) tiny-file reads, conflict path only.
        if (snap.pendingMasks.nonEmpty) {
          val rm = removed.toSet
          val heldMask = snap.pendingMasks.filter(t =>
            MorMasks.dvTargetSets(setPathOf(path, t)).exists(rm))
          if (heldMask.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"file-set(s) removed by this $action at $path are " +
                "position-masked by an UNDECIDED transaction; retry " +
                "after it commits or aborts")
        }
      }
      // RESTORE must replace the EXACT snapshot it diffed against —
      // by VERSION, not just by live-set equality: a racing commit
      // that leaves the live list unchanged still invalidates the
      // restore (a vacuum may have reclaimed the target version's
      // non-live sets the restore re-references; an addConstraint
      // would land the restored data unvalidated against the new
      // rule). Any log advance past the diffed version aborts loudly.
      if (expectVersion.exists(_ != snap.version) ||
          (action == "restore" &&
            (snap.live.map(_.set).toSet != removed.toSet ||
              snap.tombstones.nonEmpty))) {
        throw new java.util.ConcurrentModificationException(
          s"table state at $path changed during $action; re-run it")
      }
      // Commit wall-clock, stamped at claim time: MONOTONized against
      // the prior commit so timestamp time travel is well-defined even
      // if the system clock steps backward between writers.
      val ts = math.max(System.currentTimeMillis(), snap.tsMillis)
      // An updatedv commit names its DV sidecar FIRST, then its data
      // set(s) — foldState splits them back by position.
      val addItems = dvSidecar.toSeq ++
        (if (addItemsOverride.nonEmpty) addItemsOverride
         else if (perSet.nonEmpty) perSet.map(_.set)
         else if (setName.isEmpty) Seq.empty[String] else Seq(setName))
      // ROW TRACKING: the set's contiguous id range claims its base
      // from THIS attempt's snapshot high-water mark — computed inside
      // the loop, so racing writers can never allocate overlapping
      // ranges (the loser re-snapshots and re-bases).
      val statsEff = ridRows match {
        case Some(n) if n > 0 =>
          stats :+ SetStats(RidStat, snap.ridHighWater,
            snap.ridHighWater + n - 1)
        case _ => stats
      }
      val header = render(Commit(v, action, mergedDdl, addItems, removed, tag,
        statsEff, ts, cdf = cdfSet, txn = effTxn))
      // Partitioned commits append one sealed per-set manifest line
      // per added set — still ONE file, ONE atomic publish.
      val json = {
        val tail =
          perSet.map(ls => render(Commit(v, "paddset",
            ls.schemaDdl, Seq(ls.set), Seq.empty, None, ls.stats, 0L))) ++
          // COPY INTO ledger lines: each sealed like a commit, all
          // published in the same atomic file move.
          (if (ingestFiles.isEmpty) Seq.empty
           else Seq(render(Commit(v, "ingestf", "",
             ingestFiles, Seq.empty, None, Seq.empty, 0L))))
        if (tail.isEmpty) header else (header +: tail).mkString("\n")
      }
      // 2. claim the version: O_EXCL create of the empty final name.
      val f = logFile(path, v)
      val claimed =
        try { Files.createFile(f); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (claimed) {
        // 3. publish: atomic replace of the claimed empty file.
        val tmp = logDir(path).resolve(f.getFileName.toString + ".tmp")
        Files.writeString(tmp, json)
        Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        maybeAutoCheckpoint(path, v)
        if (sqlAttached)
          sqlCtx.get.journal += ((path, v, fence, removed, addItems))
        return v
      }
      // Lost the race. A claim that stays EMPTY past the stale-claim
      // lease is an orphan from a writer that died between claim and
      // publish — without takeover it wedges the table forever
      // (readers stop at the empty file; every writer burns its whole
      // retry budget on the same version). Adopt it by deleting the
      // empty file and re-racing for the version. The lease must
      // exceed any live writer's worst-case claim→publish gap (two
      // local-FS metadata ops, so seconds of headroom covers even a
      // long GC pause); a zombie stalled LONGER that later publishes
      // is the documented trade-off of lease-based recovery on stores
      // with no compare-and-swap.
      try {
        if (Files.exists(f) && Files.size(f) == 0 &&
            System.currentTimeMillis() -
              Files.getLastModifiedTime(f).toMillis > StaleClaimLeaseMs) {
          Files.deleteIfExists(f)
        }
      } catch { case _: java.io.IOException => () } // raced with the publisher
      // Exponential backoff (capped): the total retry window across 50
      // attempts is ~10 s, comfortably beyond worst-case publish
      // latency, so contention can't exhaust the attempt budget.
      Thread.sleep(math.min(5L << math.min(attempts, 6), 250L))
    }
    -1 // unreachable
  }

  /** Stale-claim lease: an empty claim file older than this is
    * adoptable by a competing writer (see commit()). Overridable for
    * tests via system property.
    */
  private[sources] def StaleClaimLeaseMs: Long =
    sys.props.get("graft.lake.staleClaimLeaseMs").map(_.toLong).getOrElse(10000L)

  /** Right-biased field merge: existing columns keep their position
    * and type; genuinely new columns append. A type CONFLICT on an
    * existing column is an error — silent coercion is how lakes rot.
    */
  /** TYPE WIDENING ladder (Delta's type-widening table feature):
    * whether values written as `from` read losslessly as `to`.
    * Integral byte < short < int < long, float -> double, DATE ->
    * TIMESTAMP_NTZ (midnight of the same local day), and DECIMAL
    * growth where neither the scale nor the integer-digit budget
    * shrinks — every step is exact, so old files serve the wide type
    * by a pure cast with zero rewrite.
    */
  private[sources] def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types.{DateType, DecimalType, TimestampNTZType}
    val ladder = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    val (a, b) = (ladder.indexOf(from), ladder.indexOf(to))
    if (a >= 0 && b >= 0) a < b
    else (from, to) match {
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale &&
          (d2.precision > d1.precision || d2.scale > d1.scale)
      case _ => false
    }
  }

  private[sources] def mergeSchemas(old: StructType, next: StructType): StructType = {
    val byName = next.fields.map(f => f.name -> f).toMap
    val merged = old.fields.map { f =>
      byName.get(f.name) match {
        case Some(g) if g.dataType == f.dataType => f
        // WIDENING evolution: a writer arriving with the wider type
        // widens the TABLE schema; pre-existing narrow file-sets read
        // through a lossless cast (projectToTarget / the DSv2 reader).
        case Some(g) if widensTo(f.dataType, g.dataType) =>
          f.copy(dataType = g.dataType)
        // A NARROW writer against a wide table schema: the files land
        // narrow and read up — the table schema is unchanged.
        case Some(g) if widensTo(g.dataType, f.dataType) => f
        case Some(g) => throw new IllegalArgumentException(
          s"schema evolution cannot change type of '${f.name}': " +
            s"${f.dataType} -> ${g.dataType} (only lossless widening — " +
            "byte<short<int<long, float<double — evolves)")
        case None => f
      }
    }
    val oldNames = old.fieldNames.toSet
    // Columns JOINING the schema must be nullable whatever the writer
    // declared: every pre-existing file-set null-fills them, so a
    // NOT NULL added column would be unsatisfiable history.
    StructType(merged ++
      next.fields.filterNot(f => oldNames(f.name)).map(_.copy(nullable = true)))
  }

  // ----------------------------------------------------------------- read

  /** Committed commits, in version order — the longest prefix of
    * fully-published log files (an empty file is an in-flight claim;
    * everything after it is not yet visible).
    */
  def commits(path: String): Seq[Commit] = commitsFrom(path, 0)

  /** Parsed-commit cache: a PUBLISHED commit file is immutable (it
    * appears via one atomic move; the takeWhile below stops at empty
    * in-flight claims), so its parse — crc check, regex extraction,
    * the occasional StructType.fromDDL — is cacheable. Every mutation
    * re-snapshots the log, so without this a gate with N commits pays
    * O(N²) re-parses of the same bytes (pure driver fixed cost, guide
    * §5). The key carries (size, mtime) so a table dropped and
    * re-created at the same path (scratch dirs between bench rounds)
    * can never serve a stale entry; only txn RESOLUTION — decision
    * markers can flip later — re-runs per read. Bounded wholesale
    * like the MorMasks caches.
    */
  private val commitCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long, Long), Commit]()

  /** Committed commits `from` through `until` (or the log's end). */
  private[sources] def commitsFrom(
      path: String, from: Int, until: Int = Int.MaxValue): Seq[Commit] = {
    val dir = logDir(path)
    if (!Files.exists(dir)) return Seq.empty
    Iterator.from(from).takeWhile(_ <= until)
      .map(v => (v, dir.resolve(f"$v%08d.json")))
      .takeWhile { case (_, f) => Files.exists(f) && Files.size(f) > 0 }
      .map { case (v, f) =>
        val key = (dir.toString, v, Files.size(f),
          Files.getLastModifiedTime(f)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS))
        val cached = commitCache.get(key)
        if (cached != null) cached
        else {
          val txt = Files.readString(f)
          // Partitioned commits are MULTI-LINE: a header entry followed
          // by one crc-sealed "paddset" line per added set carrying that
          // set's own stats (the manifest-level partition values). The
          // whole file is still published with one atomic move.
          val c =
            if (txt.indexOf('\n') < 0) parse(txt)
            else {
              val lines = txt.split("\n").toSeq
              val head = parse(lines.head)
              val body = lines.tail.map(parse)
              body.find(c => c.action != "paddset" && c.action != "ingestf")
                .foreach(c => throw new IllegalStateException(
                  s"bad multi-line commit line action: ${c.action}"))
              val sets = body.filter(_.action == "paddset")
                .map(c => LiveSet(c.add.head, c.schemaDdl, c.stats))
              head.copy(perSet = sets,
                ingest = body.filter(_.action == "ingestf").flatMap(_.add))
            }
          if (commitCache.size > 8192) commitCache.clear()
          commitCache.put(key, c)
          c
        }
      }
      .map(resolveTxn(path))
      .toSeq
  }

  /** Transaction visibility, resolved at READ time: a commit carrying
    * a txn token folds normally only when the transaction is DECIDED
    * committed; pending (no decision yet — the transaction is
    * mid-flight or its writer died) and aborted tokens resolve to a
    * version/timestamp-only no-op, so no reader of any participant
    * table can ever observe a half-landed transaction. Resolution is
    * one `Files.exists` per txn commit per fold — and since logs
    * re-read on every snapshot, a later decision simply becomes
    * visible on the next read.
    */
  private def resolveTxn(path: String)(c: Commit): Commit = c.txn match {
    case None => c
    case Some(token) =>
      // READ-YOUR-WRITES: the thread that holds an open SQL
      // transaction sees its OWN provisional commits as committed
      // (statements inside the transaction must observe the earlier
      // ones); every other thread/process resolves them pending.
      if (txnDecision(path, token).contains("committed") ||
          activeSqlTxn.get.exists(_.token.contains(token))) c
      else {
        val decided = txnDecision(path, token).isDefined // => aborted
        c.copy(action = "txnnoop", add = Seq.empty, remove = Seq.empty,
          tag = None, stats = Seq.empty, perSet = Seq.empty, cdf = None,
          ingest = Seq.empty,
          // a PENDING commit still HOLDS its mutation claims — an
          // aborted one holds nothing (its adds are dead bytes)
          heldAction = if (decided) "" else c.action,
          heldAdds = c.add,
          heldRemoves = if (decided) Seq.empty else c.remove)
      }
  }

  // ------------------------------------------------ SQL transactions

  /** Thread-scoped SQL-transaction context (BEGIN TRANSACTION …
    * COMMIT/ROLLBACK): statements execute EAGERLY as PROVISIONAL
    * commits carrying one shared token — invisible to every other
    * reader until the single decision marker flips (the
    * [[appendAtomic]] machinery), visible to this thread's own later
    * statements ([[resolveTxn]]'s read-your-writes). COMMIT
    * revalidates every journaled mutation fence against the PUBLIC
    * view and flips the marker; ROLLBACK (or a commit-time conflict)
    * publishes the abort decision and reclaims the invisible staged
    * sets — zero trace.
    *
    * VIEW-STALENESS CARVE-OUT: read-your-writes covers statements
    * that resolve lake tables by PATH (DML on the same table, or
    * reads through [[read]]). A SELECT through a REGISTERED lake
    * temp view inside the transaction reads the PRE-transaction
    * snapshot — views re-register only at COMMIT, because a
    * mid-transaction refresh would leak pending rows to every other
    * thread through the session-GLOBAL temp view. Statements that
    * must see earlier in-transaction writes should reference the
    * table, not a view over it.
    */
  private[sources] final class SqlTxn {
    // minted off the FIRST written table (its log dir hosts the
    // decision marker — the coordinator role of appendAtomic)
    var token: Option[String] = None
    // every provisional commit: (table path, version, its fence, the
    // sets it removed, the sets it added). Removed sets revalidate at
    // COMMIT against the public view; the added lists identify OUR
    // OWN intermediate sets (a later in-txn statement rewriting an
    // earlier one's output is internal chaining, not a conflict).
    val journal = scala.collection.mutable.ArrayBuffer[
      (String, Int, Option[MutationFence], Seq[String], Seq[String])]()
    // lake views touched by statements — re-registered at COMMIT
    // (mid-transaction refreshes would leak pending rows to other
    // threads through the session-global temp view)
    val views = scala.collection.mutable.LinkedHashMap[String, String]()
  }

  private[graft] val activeSqlTxn =
    ThreadLocal.withInitial[Option[SqlTxn]](() => None)

  /** Register a lake view touched by an in-transaction statement —
    * re-registered once at COMMIT (see [[SqlTxn.views]]).
    */
  private[sources] def txnTouchView(view: String, path: String): Unit =
    activeSqlTxn.get.foreach(_.views.put(view, path))

  /** Commit actions that PARTICIPATE in an open SQL transaction (the
    * data-bearing DML shapes). DDL/maintenance actions stay
    * non-transactional (their prior contract); anything else refuses
    * loudly inside a transaction rather than silently landing
    * durable state a ROLLBACK could not undo.
    */
  private val TxnAttachActions = Set(
    "append", "overwrite", "merge", "delete", "update", "tombstone",
    "updatedv", "padd", "poverwrite")
  private val TxnPassActions = Set(
    "create", "constraint", "evolve", "rename", "dropcol", "partition",
    "coldef", "lineage")

  def sqlTxnBegin(): Unit = {
    require(activeSqlTxn.get.isEmpty,
      "BEGIN TRANSACTION: a SQL transaction is already open — " +
        "COMMIT or ROLLBACK it first")
    activeSqlTxn.set(Some(new SqlTxn))
  }

  def sqlTxnOpen: Boolean = activeSqlTxn.get.isDefined

  /** COMMIT: revalidate every journaled fence against the PUBLIC view
    * (our own commits resolve pending there — exactly the racing-
    * writer perspective), then flip the ONE decision marker. Any
    * conflict aborts the WHOLE transaction and rethrows.
    */
  def sqlTxnCommit(spark: SparkSession): Unit = {
    val ctx = activeSqlTxn.get.getOrElse(
      throw new IllegalArgumentException("COMMIT: no open SQL transaction"))
    activeSqlTxn.set(None) // public view from here on
    ctx.token.foreach { tok =>
      try {
        val selfAdded = ctx.journal.groupBy(_._1).view
          .mapValues(_.flatMap(_._5).toSet).toMap
        ctx.journal.foreach { case (path, _, fenceOpt, removed0, _) =>
          val snap = snapshot(path)
          val liveNames = (snap.live.map(_.set) ++ snap.tombstones).toSet ++
            selfAdded.getOrElse(path, Set.empty)
          val removed = removed0
          // every set this transaction rewrote must still exist in
          // the PUBLIC view (our own removals resolve pending there,
          // so only a racing writer can have taken one)
          removed.find(r => !liveNames(r)).foreach { r =>
            throw new java.util.ConcurrentModificationException(
              s"file-set $r at $path was rewritten by a concurrent " +
                "commit while this transaction held a rewrite of it; " +
                "the transaction aborts — re-run it")
          }
          fenceOpt.foreach { f =>
            f.refSets.find(r => !liveNames(r)).foreach { r =>
              throw new java.util.ConcurrentModificationException(
                s"file-set $r at $path was rewritten by a concurrent " +
                  "commit while this transaction held positions into " +
                  "it; the transaction aborts — re-run it")
            }
            val freshMasks = snap.tombstones.filterNot(f.readTombstones)
            if (freshMasks.nonEmpty && f.masksTouch(freshMasks))
              throw new java.util.ConcurrentModificationException(
                s"a concurrent commit masked a file-set this " +
                  s"transaction read at $path; the transaction aborts " +
                  "— re-run it")
          }
        }
        publishDecision(txnMarkerPath(tok), "committed")
        cacheTxnDecisionLocally(ctx.journal.map(_._1).distinct.toSeq,
          tok, "committed")
      } catch {
        case e if scala.util.control.NonFatal(e) =>
          sqlTxnAbort(ctx, tok)
          throw e
      }
    }
    ctx.views.foreach { case (view, path) =>
      read(spark, path).createOrReplaceTempView(view)
    }
  }

  /** ROLLBACK: abort marker + best-effort reclaim of the invisible
    * staged sets — the table trees end byte-identical to BEGIN.
    */
  def sqlTxnRollback(): Unit = {
    val ctx = activeSqlTxn.get.getOrElse(
      throw new IllegalArgumentException("ROLLBACK: no open SQL transaction"))
    activeSqlTxn.set(None)
    ctx.token.foreach(tok => sqlTxnAbort(ctx, tok))
  }

  private def sqlTxnAbort(ctx: SqlTxn, tok: String): Unit = {
    try {
      publishDecision(txnMarkerPath(tok), "aborted")
      cacheTxnDecisionLocally(ctx.journal.map(_._1).distinct.toSeq,
        tok, "aborted")
      ctx.journal.foreach { case (p, v, _, _, _) =>
        // HEADER line only: partitioned (padd/poverwrite) commit files
        // are multi-line (header + per-set manifest lines), and the
        // header's add list already names every staged set — parsing
        // the whole file would throw and silently skip the reclaim.
        parse(Files.readString(logFile(p, v)).linesIterator.next())
          .add.foreach(reclaimStaged(p, _))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The single decision marker of a transaction: ONE file whose
    * CONTENT is "committed" or "aborted", created O_EXCL — the create
    * IS the decision point, so racing commitTxn/abortTxn callers
    * cannot both win (the two-marker scheme had a check-then-create
    * window where both could land).
    */
  private[sources] def txnMarkerPath(token: String): java.nio.file.Path = {
    val i = token.lastIndexOf('|')
    require(i > 0, s"bad txn token: $token")
    Paths.get(token.take(i), s"txn_${token.substring(i + 1)}.decided")
  }

  /** The decision of `token` as seen from participant `path`:
    * Some("committed"/"aborted") or None while pending. The
    * participant's LOCAL cached copy is consulted first and a remote
    * decision is cached locally on first observation (best-effort,
    * O_EXCL) — so a participant table keeps serving its decided
    * transactions even if the coordinator table is later relocated or
    * deleted; only the never-read-since-decision window stays coupled
    * to the coordinator path.
    */
  private def txnDecision(path: String, token: String): Option[String] = {
    val id = token.substring(token.lastIndexOf('|') + 1)
    val local = logDir(path).resolve(s"txn_$id.decided")
    if (Files.exists(local)) return Some(readDecision(local))
    val coord = txnMarkerPath(token)
    if (!Files.exists(coord)) return None
    val d = readDecision(coord)
    try publishDecision(local, d)
    catch { case scala.util.control.NonFatal(_) => () }
    Some(d)
  }

  /** True while `token` is undecided from `path`'s view. */
  private def txnPending(path: String, token: String): Boolean =
    txnDecision(path, token).isEmpty

  def latestVersion(path: String): Int = snapshot(path).version

  /** Highest version a STREAMING consumer may safely include: stops
    * just below the first commit whose cross-table txn token is still
    * PENDING. Its visibility is undecided — an offset advanced past
    * it would permanently lose the rows if the transaction later
    * commits; stalling until the marker decides is the only
    * exactly-once-preserving behavior (see [[appendAtomic]]).
    */
  def latestStableVersion(path: String): Int = {
    // a checkpoint never holds an undecided commit: scan its suffix
    val ckpt = readPointer(path)
    val cs = commitsFrom(path, ckpt + 1)
    cs.find(undecided(path))
      .map(_.version - 1)
      .getOrElse(cs.lastOption.fold(ckpt)(_.version))
  }

  /** True for a commit whose transaction is undecided: resolved as a
    * pending no-op, or this thread's own provisional commit.
    */
  private def undecided(path: String)(c: Commit): Boolean =
    c.heldAction.nonEmpty || c.txn.exists(txnPending(path, _))

  private val MicrosPerDay = 86400000000L

  /** Domain-correct day-recorded zone maps under a widened table: a
    * set written while the column was DATE records day-image stats;
    * a table since widened to TIMESTAMP_NTZ probes micros images.
    * Old files read as MIDNIGHT of each local day, so the exact
    * image span of such a set under the CURRENT schema is
    * [min, max] * MicrosPerDay — the per-set `schemaDdl` IS the
    * stat's domain tag; no new manifest field is needed. Applying
    * the correction at fold time gives every probe (scan prune,
    * merge/delete prune, CDC replay, DSv2, metadata aggregates) one
    * consistent domain, which is what lifts the old
    * refuse-while-statted widening fence.
    */
  private def normalizeStatDomains(s: Snapshot): Snapshot = {
    if (s.schemaDdl.isEmpty ||
        !s.schemaDdl.toUpperCase.contains("TIMESTAMP_NTZ")) return s
    val table = scala.util.Try(StructType.fromDDL(s.schemaDdl))
      .getOrElse(return s)
    val ntz = table.fields.filter(
        _.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .map(_.name).toSet
    if (ntz.isEmpty) return s
    // few distinct per-set schemas — parse each once
    val dayColsOf = scala.collection.mutable.HashMap[String, Set[String]]()
    def dayCols(ddl: String): Set[String] =
      dayColsOf.getOrElseUpdate(ddl,
        if (ddl.isEmpty || ddl == s.schemaDdl) Set.empty
        else scala.util.Try(StructType.fromDDL(ddl)).toOption
          .map(_.fields.filter(f => ntz.contains(f.name) &&
            f.dataType == org.apache.spark.sql.types.DateType)
            .map(_.name).toSet)
          .getOrElse(Set.empty))
    if (!s.live.exists(ls => ls.stats.nonEmpty &&
        dayCols(ls.schemaDdl).nonEmpty)) return s
    s.copy(live = s.live.map { ls =>
      val dc = dayCols(ls.schemaDdl)
      if (dc.isEmpty) ls
      else ls.copy(stats = ls.stats.map(st =>
        if (dc.contains(st.col))
          st.copy(min = st.min * MicrosPerDay, max = st.max * MicrosPerDay)
        else st))
    })
  }

  /** Fold `cs` (remove, then add, per commit) on top of `base`. A
    * `tombstone` commit's added set is NOT data — it holds deleted
    * keys and folds into `tombstones`. Every commit carries the full
    * current schema, so the last one folded wins `schemaDdl`. Stats
    * stay raw: [[stateAt]] normalizes them on the way out.
    */
  private def foldStateRaw(base: Snapshot, cs: Seq[Commit]): Snapshot =
    cs.foldLeft(base) { (s, c) =>
      // Constraint commits carry rules, not file-sets: `add` holds
      // "name=sql" items, `remove` holds dropped names.
      if (c.action == "constraint") {
        val added = c.add.map { it =>
          val i = it.indexOf('='); it.take(i) -> it.substring(i + 1)
        }
        s.copy(version = c.version,
          constraints = s.constraints -- c.remove ++ added,
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else if (c.action == "coldef") {
        // add items: "d:col=sql" (DEFAULT) / "g:col=sql" (GENERATED) /
        // "i:col=start,step" (IDENTITY).
        val ds = c.add.filter(_.startsWith("d:"))
        val gs = c.add.filter(_.startsWith("g:"))
        val is = c.add.filter(_.startsWith("i:"))
        def toMap(items: Seq[String]) = items.map { it =>
          val body = it.substring(2); val i = body.indexOf('=')
          body.take(i) -> body.substring(i + 1)
        }.toMap
        s.copy(version = c.version,
          defaults = s.defaults ++ toMap(ds),
          generated = s.generated ++ toMap(gs),
          identities = s.identities ++ toMap(is).map { case (cn, v) =>
            val parts = v.split(",")
            cn -> (parts(0).toLong, parts(1).toLong)
          },
          identityDefaults = s.identityDefaults ++ toMap(is).collect {
            case (cn, v) if v.split(",").lift(2).contains("d") => cn
          },
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else if (c.action == "txnnoop") {
        // A pending/aborted cross-table transaction commit: holds its
        // version slot (later commits built on top of it) but
        // contributes nothing — not even its schema, which would
        // otherwise evolve the table ahead of the transaction's
        // decision. A PENDING one still HOLDS its mutation claims
        // (held* fields) so racing rewrites wait for the decision.
        s.copy(version = c.version,
          tsMillis = math.max(s.tsMillis, c.tsMillis),
          pendingRemoves = s.pendingRemoves ++ c.heldRemoves,
          pendingMasks = s.pendingMasks ++
            (if (c.heldAction == "tombstone" || c.heldAction == "updatedv")
              c.heldAdds
            else Seq.empty),
          pendingTxn = s.pendingTxn || c.heldAction.nonEmpty)
      } else if (c.action == "partition") {
        // add = the layout columns in order: table metadata, no
        // file-sets (one entry = single-column, several = a tuple).
        s.copy(version = c.version, partitionCols = c.add,
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else if (c.action == "rename") {
        // add = Seq("old=new"): the commit carries the RENAMED full
        // schema; lineage chains (a->b->c keeps [b, a] behind c).
        val it = c.add.head
        val i = it.indexOf('=')
        val oldN = it.take(i); val newN = it.substring(i + 1)
        val formers = oldN +: s.renames.getOrElse(oldN, Seq.empty)
        s.copy(version = c.version, schemaDdl = c.schemaDdl,
          renames = s.renames - oldN + (newN -> formers),
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else if (c.action == "dropcol") {
        // add = Seq(column): the schema narrows and the column's whole
        // name lineage (itself + any former names) parks under a
        // RESERVED logical name no schema will ever contain — physical
        // data becomes unreachable, and the former-name fence blocks
        // re-adding any of those names via evolution.
        val cn = c.add.head
        val formers = cn +: s.renames.getOrElse(cn, Seq.empty)
        s.copy(version = c.version, schemaDdl = c.schemaDdl,
          renames = s.renames - cn +
            (s"__dropped_${cn}_v${c.version}" -> formers),
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else if (c.action == "lineage") {
        // Wholesale lineage import (shallow clones): add = Seq(logical
        // name), remove = its former names verbatim — the ckptren
        // encoding as a log commit. Schema untouched.
        s.copy(version = c.version,
          renames = s.renames + (c.add.head -> c.remove),
          tsMillis = math.max(s.tsMillis, c.tsMillis))
      } else {
        val keptLive = s.live.filterNot(ls => c.remove.contains(ls.set))
        val keptTombs = s.tombstones.filterNot(c.remove.contains)
        val added = addedSets(c)
        val (live, tombs) =
          if (c.action == "tombstone") (keptLive, keptTombs ++ c.add)
          // updatedv: add = Seq(dvSidecar, dataSet...) — the sidecar
          // folds into tombstones (it masks positions on read), the
          // data set(s) join the live list with the commit's stats.
          else if (c.action == "updatedv")
            (keptLive ++ c.add.tail.map(a => LiveSet(a, c.schemaDdl, c.stats)),
              keptTombs :+ c.add.head)
          else (keptLive ++ added, keptTombs)
        // copy: the claims of pending transactions outlive later commits
        s.copy(version = c.version, schemaDdl = c.schemaDdl, live = live,
          tombstones = tombs,
          tags = c.tag.fold(s.tags)(t => s.tags + (t -> c.version)),
          tsMillis = math.max(s.tsMillis, c.tsMillis),
          // overwrite resets the schema and drops every live set, so
          // no pre-overwrite file can need lineage resolution — and
          // STALE lineage would misresolve a former name that
          // legitimately reappears in a post-overwrite schema.
          renames = if (c.action == "overwrite") Map.empty else s.renames,
          ingested = s.ingested ++ c.ingest,
          ridHighWater = (s.ridHighWater +: added.flatMap(_.statsFor(RidStat))
            .map(_.max + 1L)).max)
      }
    }

  /** The sets a data commit adds: partitioned commits carry per-set
    * manifests; ordinary commits share the commit-level stats across
    * their sets.
    */
  private def addedSets(c: Commit): Seq[LiveSet] =
    if (c.perSet.nonEmpty) c.perSet
    else c.add.map(a => LiveSet(a, c.schemaDdl, c.stats))

  /** The LATEST table state (version -1 = no table). */
  def snapshot(path: String): Snapshot = stateAt(path, Int.MaxValue)

  /** THE state resolver: the table as of `version` (as of the log's
    * end when it is shorter), behind every versioned read. It folds
    * the log suffix onto the `_last_checkpoint` state when that
    * checkpoint is at or below `version` and onto the empty state
    * otherwise — Delta's checkpoint-plus-replay rule — so a recent
    * version costs O(checkpoint + suffix), not O(commits).
    *
    * Stats stay raw through the fold and are domain-normalized
    * ([[normalizeStatDomains]]) at this one exit. `raw` skips that for
    * the consumers that re-publish sets under their own per-set
    * schemas — the checkpoint writer, shallow clones, restore — where
    * scaled numbers next to a DATE-era schema tag would scale again on
    * the next fold.
    */
  private[sources] def stateAt(
      path: String, version: Int, raw: Boolean = false): Snapshot = {
    val (base, cs) = logSegment(path, version)
    val s = foldStateRaw(base, cs)
    if (raw) s else normalizeStatDomains(s)
  }

  /** The base and the commits [[stateAt]] folds for `version`: the
    * checkpoint when it is at or below `version`, else the empty
    * state, and the commits after that base through `version`.
    */
  private def logSegment(path: String, version: Int): (Snapshot, Seq[Commit]) = {
    val ckpt = readPointer(path)
    val base =
      if (ckpt >= 0 && ckpt <= version) loadCheckpoint(path, ckpt)
      else EmptySnapshot
    (base, commitsFrom(path, base.version + 1, version))
  }

  /** Snapshot if the table exists; None for an uncreated path. */
  private def snapshotIfExists(path: String): Option[Snapshot] =
    if (Files.exists(logDir(path))) Some(snapshot(path)) else None

  // ----------------------------------------------------------- checkpoint

  /** Write a CHECKPOINT of the current state: one `.ckpt` file whose
    * first line is the folded header (schema, tombstones, tags,
    * monotonized stamp) and whose remaining lines are the live
    * file-sets, each under its own written schema and zone-map stats.
    * Every line is a crc-sealed log entry, so a torn checkpoint fails
    * as loudly as a torn commit. The `_last_checkpoint` pointer is
    * advanced monotonically (Delta's `_last_checkpoint` shape);
    * checkpoint content is a DETERMINISTIC function of the log prefix,
    * so racing checkpointers of the same version write identical bytes
    * and the atomic replace is harmless. Log files are never deleted:
    * time travel and history still read the full log.
    */
  def checkpoint(path: String): Int = {
    // A PENDING cross-table transaction commit must not be baked into
    // a checkpoint: the fold resolved it as a no-op, but a later
    // marker would make it visible — and the checkpointed base,
    // which replaces that log prefix, would have silently dropped its
    // file-set forever. Committed/aborted decisions are stable and
    // bake fine; pending refuses loudly until decided.
    // The check reads the same commits the fold below bakes, so a
    // decision landing in between cannot slip a no-op in.
    val (base, cs) = logSegment(path, Int.MaxValue)
    val pendingTxn = cs.filter(undecided(path))
    require(pendingTxn.isEmpty,
      s"cannot checkpoint $path: pending cross-table transaction " +
        s"commit(s) at version(s) ${pendingTxn.map(_.version).mkString(",")}" +
        " — commitTxn/abortTxn them first")
    // RAW fold: each ckptset line pairs stats with the set's own
    // schema, so they must stay in that schema's domain (see [[stateAt]]).
    val s = foldStateRaw(base, cs)
    require(s.version >= 0, s"no table at $path")
    val tagItems = s.tags.toSeq.sortBy(_._2).map { case (t, v) => s"$v:$t" }
    val lines =
      (render(Commit(s.version, "checkpoint", s.schemaDdl, tagItems,
        s.tombstones, None, Seq.empty, s.tsMillis)) +:
        s.live.map(ls => render(Commit(s.version, "ckptset", ls.schemaDdl,
          Seq(ls.set), Seq.empty, None, ls.stats, 0L)))) ++
        s.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
          render(Commit(s.version, "ckptcons", "",
            Seq(s"$n=$sql"), Seq.empty, None, Seq.empty, 0L))
        } ++
        // Column-mapping lineage: one line per logical name, its
        // former names (newest first) in `remove` — order preserved.
        s.renames.toSeq.sortBy(_._1).map { case (n, formers) =>
          render(Commit(s.version, "ckptren", "",
            Seq(n), formers, None, Seq.empty, 0L))
        } ++
        // Partition-layout marker rides the checkpoint like rules do
        // (one line, add = the layout columns in order).
        (if (s.partitionCols.isEmpty) Seq.empty
         else Seq(render(Commit(s.version, "ckptpart", "",
           s.partitionCols, Seq.empty, None, Seq.empty, 0L)))) ++
        // COPY INTO ledger: one line, add = every ingested file
        // identity (sorted for deterministic checkpoint bytes).
        (if (s.ingested.isEmpty) Seq.empty
         else Seq(render(Commit(s.version, "ckpting", "",
           s.ingested.toSeq.sorted, Seq.empty, None, Seq.empty, 0L)))) ++
        // Column DEFAULT/GENERATED/IDENTITY metadata, one line when
        // present.
        (if (s.defaults.isEmpty && s.generated.isEmpty &&
             s.identities.isEmpty) Seq.empty
         else Seq(render(Commit(s.version, "ckptdef", "",
           s.defaults.toSeq.sortBy(_._1).map { case (c, q) => s"d:$c=$q" } ++
             s.generated.toSeq.sortBy(_._1).map { case (c, q) => s"g:$c=$q" } ++
             s.identities.toSeq.sortBy(_._1).map { case (c, (st, sp)) =>
               s"i:$c=$st,$sp" +
                 (if (s.identityDefaults(c)) ",d" else "") },
           Seq.empty, None, Seq.empty, 0L)))) ++
        // Row-id high water: MUST ride the checkpoint explicitly — the
        // live sets alone under-count (removed sets also allocated).
        (if (s.ridHighWater == 0L) Seq.empty
         else Seq(render(Commit(s.version, "ckptrid", "",
           Seq.empty, Seq.empty, None,
           Seq(SetStats(RidStat, s.ridHighWater, s.ridHighWater)), 0L))))
    val f = ckptFile(path, s.version)
    val tmp = logDir(path).resolve(f.getFileName.toString + ".tmp" +
      java.util.UUID.randomUUID().toString.take(8))
    Files.writeString(tmp, lines.mkString("\n"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // Pointer advance is read-then-replace: two racing checkpointers
    // can briefly leave it at the lower version, which only costs the
    // next reader a longer suffix replay — never correctness.
    if (s.version > readPointer(path)) {
      val ptmp = logDir(path).resolve("_last_checkpoint.tmp" +
        java.util.UUID.randomUUID().toString.take(8))
      Files.writeString(ptmp, s.version.toString)
      Files.move(ptmp, ckptPointer(path), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    s.version
  }

  private def readPointer(path: String): Int = {
    val p = ckptPointer(path)
    if (Files.exists(p)) Files.readString(p).trim.toInt else -1
  }

  private def loadCheckpoint(path: String, v: Int): Snapshot = {
    val lines = Files.readString(ckptFile(path, v)).split("\n").toSeq
    val head = parse(lines.head)
    require(head.action == "checkpoint" && head.version == v,
      s"bad checkpoint header at $path v$v: ${head.action}")
    val body = lines.tail.map(parse)
    body.find(c => c.action != "ckptset" && c.action != "ckptcons" &&
        c.action != "ckptren" && c.action != "ckptpart" &&
        c.action != "ckpting" && c.action != "ckptdef" &&
        c.action != "ckptrid")
      .foreach(c => throw new IllegalStateException(
        s"bad checkpoint line action: ${c.action}"))
    val live = body.filter(_.action == "ckptset")
      .map(c => LiveSet(c.add.head, c.schemaDdl, c.stats))
    val cons = body.filter(_.action == "ckptcons").map { c =>
      val it = c.add.head
      val i = it.indexOf('=')
      it.take(i) -> it.substring(i + 1)
    }.toMap
    val rens = body.filter(_.action == "ckptren")
      .map(c => c.add.head -> c.remove).toMap
    val tags = head.add.map { it =>
      val i = it.indexOf(':')
      it.substring(i + 1) -> it.take(i).toInt
    }.toMap
    val part = body.find(_.action == "ckptpart").map(_.add).getOrElse(Seq.empty)
    val ing = body.filter(_.action == "ckpting").flatMap(_.add).toSet
    val defItems = body.filter(_.action == "ckptdef").flatMap(_.add)
    def defMap(prefix: String) = defItems.filter(_.startsWith(prefix)).map { it =>
      val body2 = it.substring(2); val i = body2.indexOf('=')
      body2.take(i) -> body2.substring(i + 1)
    }.toMap
    val ridHw = body.filter(_.action == "ckptrid")
      .flatMap(_.stats.headOption).map(_.max)
      .foldLeft(0L)(math.max)
    Snapshot(head.version, head.schemaDdl, live, head.remove, tags,
      head.tsMillis, cons, rens, part, ing, defMap("d:"), defMap("g:"),
      ridHw,
      defMap("i:").map { case (cn, v) =>
        val parts = v.split(",")
        cn -> (parts(0).toLong, parts(1).toLong)
      },
      defMap("i:").collect {
        case (cn, v) if v.split(",").lift(2).contains("d") => cn
      }.toSet)
  }

  /** Auto-checkpoint cadence (every N commits, Delta-style; 0
    * disables). Overridable via system property for tests.
    */
  private[sources] def CheckpointInterval: Int =
    sys.props.get("graft.lake.checkpointInterval").map(_.toInt).getOrElse(10)

  /** How many Bloom sidecars [[deleteKeys]] broadcasts per probe
    * pass — bounds peak broadcast memory to O(batch × bloom bytes)
    * however many live sets exist. Overridable for tests.
    */
  private[sources] def BloomProbeBatch: Int =
    sys.props.get("graft.lake.bloomProbeBatch").map(_.toInt).getOrElse(64)

  private def maybeAutoCheckpoint(path: String, v: Int): Unit = {
    val n = CheckpointInterval
    if (n > 0 && v > 0 && v % n == 0)
      try checkpoint(path)
      catch { case scala.util.control.NonFatal(_) => () } // best-effort
  }

  /** The table as of `version` (time travel): the live data sets,
    * minus any merge-on-read tombstoned keys live at that version.
    */
  def readAt(spark: SparkSession, path: String, version: Int): DataFrame = {
    val st = stateAt(path, version)
    require(version >= 0 && st.version == version,
      s"version $version not in [0, ${latestVersion(path)}] for $path")
    val target = StructType.fromDDL(st.schemaDdl)
    scanSets(spark, path, st.live, target, st.renames, st.tombstones)
  }

  /** The positional-deletion-vector sidecar schema: (target set,
    * parquet file NAME within the set dir, `_metadata.row_index`
    * position inside that file). Sidecars are schema-sniffed out of
    * the tombstone list, so DVs inherit the ENTIRE tombstone
    * lifecycle for free: the mutation fences, compact
    * materialization, vacuum's live fence, checkpoints, CDF.
    */
  private val DvCols = Seq("__dv_set", "__dv_file", "__dv_pos")

  private def isDvSidecar(df: DataFrame): Boolean =
    df.columns.sorted.toSeq == DvCols.sorted

  /** Load the live tombstone sidecars, split into (positional DV
    * union, key tombstone frames) by each sidecar's own schema.
    */
  private def loadTombstones(
      spark: SparkSession, path: String,
      ts: Seq[String]): (Option[DataFrame], Seq[DataFrame]) = {
    // The sidecar schema is read from ONE footer on the driver
    // ([[MorMasks.sidecarShape]]) and passed explicitly — a bare
    // parquet read would launch a distributed footer-inference job
    // per sidecar set on EVERY read of a table with outstanding
    // masks. Unexpected shapes fall back to inference.
    val loaded = ts.map { t =>
      val dir = setPathOf(path, t)
      val (names, headDt) = MorMasks.sidecarShape(dir)
      if (names.sorted == DvCols.sorted)
        spark.read.schema(StructType(names.map(n => StructField(n,
          if (n == "__dv_pos") LongType else StringType,
          nullable = true)))).parquet(dir)
      else if (names.size == 1)
        spark.read.schema(StructType(Seq(
          StructField(names.head, headDt, nullable = true)))).parquet(dir)
      else spark.read.parquet(dir)
    }
    val (dvs, keys) = loaded.partition(isDvSidecar)
    (dvs.reduceLeftOption(_.unionByName(_)), keys)
  }

  /** The outstanding merge-on-read masks of one snapshot, resolved to
    * DESCRIPTORS for the DSv2 batch scan: the DV sidecar set
    * directories (each partition reader loads ITS file's positions
    * task-side — [[MorMasks.dvPositions]], the Delta/Iceberg
    * task-side DV shape) and the key-tombstone sidecars as (key
    * column, set directory) pairs ([[MorMasks.keyMask]] loads and
    * caches values executor-side). Driver state is O(outstanding
    * sidecar sets), never O(deleted rows) — a billion masked rows
    * plan as a handful of directory strings.
    */
  private[sources] final case class ScanMaskRefs(
      dvDirs: Seq[String],
      keyRefs: Seq[(String, String)]) {
    def isEmpty: Boolean = dvDirs.isEmpty && keyRefs.isEmpty
  }

  private[sources] def loadScanMaskRefs(
      path: String, ts: Seq[String]): ScanMaskRefs = {
    if (ts.isEmpty) return ScanMaskRefs(Seq.empty, Seq.empty)
    val shaped = ts.map { t =>
      val dir = setPathOf(path, t)
      (dir, MorMasks.sidecarShape(dir))
    }
    val (dvs, keys) = shaped.partition {
      case (_, (names, _)) => names.sorted == DvCols.sorted
    }
    val keyRefs = keys.map { case (dir, (names, dt)) =>
      dt match {
        case LongType | IntegerType | ShortType | ByteType |
            org.apache.spark.sql.types.StringType => ()
        case other => throw new IllegalStateException(
          s"graftlake batch read at $path: key tombstones on a $other " +
            "column need DataFrame-side masking — read through " +
            "GraftLake.read, or compact first")
      }
      names.head -> dir
    }
    ScanMaskRefs(dvs.map(_._1), keyRefs)
  }

  /** Anti-join `df` against the union of live tombstone key-sets (a
    * no-op when none exist — the common case costs nothing). The key
    * column is the tombstone set's own (self-describing parquet).
    */
  private def applyTombstoneFrames(
      df: DataFrame, keys: Seq[DataFrame]): DataFrame = {
    if (keys.isEmpty) df
    else {
      val ks = keys.reduceLeft(_.unionByName(_))
      val keyCol = ks.columns.head
      df.join(functions.broadcast(ks.distinct()), Seq(keyCol), "left_anti")
    }
  }

  /** What [[scanSets]] carries in front of the table columns. */
  private sealed trait Carry
  /** The table columns only. */
  private case object CarryNothing extends Carry
  /** `__set`: the name of the set each row was read from. */
  private case object CarrySet extends Carry
  /** [[DvCols]]: each row's (set, file name, row position) — exactly
    * what a deletion-vector commit records.
    */
  private case object CarryPositions extends Carry

  /** THE set scanner behind every read and DML match: the VISIBLE rows
    * of `sets` under `target` (column lineage in `renames`), with both
    * merge-on-read sidecar families staged in `tombstones` applied and
    * `carry` in front; a typed empty frame when `sets` is empty.
    *
    * PLAN-SIZE CONVERGENCE: same-schema flat `data/<x>` sets read as
    * ONE multi-path vectorized parquet relation instead of one union
    * branch per set — Catalyst analysis/planning cost is O(distinct
    * written schemas), not O(sets), so a 10⁴-set table plans a handful
    * of scan nodes (the DSv2 batch source's one-relation posture, kept
    * on the vectorized reader). A bulk row's set name is re-derived
    * from its file path's penultimate segment. Hive-layout and
    * clone-absolute sets keep per-set relations — their count is
    * bounded by layout design.
    *
    * Masks: outstanding positional deletion vectors anti-join on the
    * full (set, file NAME, `_metadata.row_index`) key after the union
    * — ONE broadcast join however many sets they cover; key tombstones
    * anti-join on their own key column. Both are small by
    * construction, and the no-sidecar common case adds nothing to the
    * plan.
    */
  private def scanSets(
      spark: SparkSession, path: String, sets: Seq[LiveSet],
      target: StructType, renames: Map[String, Seq[String]],
      tombstones: Seq[String], carry: Carry = CarryNothing): DataFrame = {
    if (sets.isEmpty) return emptyFrame(spark, StructType((carry match {
      case CarryNothing => Seq.empty
      case CarrySet => Seq(StructField("__set", StringType))
      case CarryPositions => StructType.fromDDL(
        "__dv_set STRING, __dv_file STRING, __dv_pos BIGINT").fields.toSeq
    }) ++ target.fields))
    val (dv, keys) = loadTombstones(spark, path, tombstones)
    val positions = dv.isDefined || carry == CarryPositions
    def fileSegment(i: Int): Column = functions.element_at(
      functions.split(col("_metadata.file_path"), "/"), i)
    def relation(ddl: String, dirs: Seq[String], setName: Column): DataFrame = {
      val own = StructType.fromDDL(ddl)
      val extra =
        (if (carry == CarrySet) Seq(setName.as("__set")) else Seq.empty) ++
          (if (!positions) Seq.empty else Seq(setName.as("__dv_set"),
            fileSegment(-1).as("__dv_file"), col("_metadata.row_index").as("__dv_pos")))
      projectToTarget(spark.read.schema(own).parquet(dirs: _*), own, target,
        renames, extra)
    }
    val (bulkable, rest) = sets.partition(isBulkableSet(path, _))
    val all = (bulkable.groupBy(_.schemaDdl).toSeq.sortBy(_._1).map {
      case (ddl, group) => relation(ddl, group.map(ls => setPathOf(path, ls.set)),
        functions.concat(lit("data/"), fileSegment(-2)))
    } ++ rest.map(ls =>
      relation(ls.schemaDdl, Seq(setPathOf(path, ls.set)), lit(ls.set))))
      .reduceLeft(_.unionByName(_))
    val masked = dv.fold(all)(d => all.join(
      functions.broadcast(d.select(DvCols.map(col): _*)), DvCols, "left_anti"))
    applyTombstoneFrames(
      if (positions && carry != CarryPositions) masked.drop(DvCols: _*) else masked,
      keys)
  }

  /** The written-schema → table-schema projection shared by the
    * per-set and bulk read paths: logical name, else the most recent
    * FORMER name present in the written schema, else null-fill (the
    * column postdates the files). `extra` prepends carried-through
    * bookkeeping columns (set tags, positions).
    */
  private def projectToTarget(
      raw: DataFrame, own: StructType, target: StructType,
      renames: Map[String, Seq[String]],
      extra: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    val ownNames = own.fieldNames.toSet
    raw.select((extra ++ target.fields.toSeq.map { f =>
      (f.name +: renames.getOrElse(f.name, Seq.empty))
        .find(ownNames) match {
          case Some(phys) if own(phys).dataType == f.dataType =>
            col(phys).as(f.name)
          case Some(phys) =>
            // Narrow file-set under a WIDENED table schema: serve the
            // wide type by a lossless cast. Any other mismatch is a
            // logic error — mergeSchemas admits only the ladder.
            require(widensTo(own(phys).dataType, f.dataType),
              s"set schema type ${own(phys).dataType} of '$phys' does not " +
                s"widen to table type ${f.dataType} of '${f.name}'")
            col(phys).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
    }).toIndexedSeq: _*)
  }

  /** Is this set a hive-layout (`padd`) set — no top-level parquet,
    * `c=value` subdirectories? For such sets the layout columns'
    * values are served from the DIRECTORY NAMES as per-partition
    * constants (never from parquet bytes), so a pinned layout column
    * is structurally NON-NULL in every row — the property that lets
    * the batch scan decide pushed filters on layout columns EXACTLY
    * per set (whole-set keep/drop) instead of conservatively.
    */
  private[sources] def isHiveLayoutSet(path: String, ls: LiveSet): Boolean = {
    import scala.jdk.CollectionConverters._
    val d = Paths.get(setPathOf(path, ls.set))
    Files.isDirectory(d) && {
      val top = Files.list(d).iterator().asScala.toSeq
      top.nonEmpty &&
        !top.exists(_.getFileName.toString.endsWith(".parquet")) &&
        top.exists(p => Files.isDirectory(p) &&
          p.getFileName.toString.contains("="))
    }
  }

  /** Ordinary `data/<x>` flat set with top-level parquet files — the
    * shape the bulk multi-path relations can absorb (the set identity
    * is re-derivable from each file path's penultimate segment).
    */
  private def isBulkableSet(path: String, ls: LiveSet): Boolean = {
    import scala.jdk.CollectionConverters._
    ls.set.startsWith("data/") && !ls.set.stripPrefix("data/").contains("/") && {
      val d = Paths.get(setPathOf(path, ls.set))
      Files.isDirectory(d) && Files.list(d).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".parquet"))
    }
  }

  /** Resolve a set name against its table: names are table-relative
    * ("data/cXXX") except in SHALLOW CLONES, whose initial commit
    * references the source's sets by ABSOLUTE path (Delta's shallow-
    * clone absolute-path files). */
  private[sources] def setPathOf(table: String, set: String): String =
    if (set.startsWith("/")) set else s"$table/$set"

  /** The hive-encoded LEAF directories of a (possibly partitioned)
    * set directory, each with its accumulated (column, value) pairs
    * in nesting order — `(dir, Seq())` for a flat set, one pair per
    * level for `c1=v1/c2=v2/...` layouts. Shared by the stream and
    * batch DSv2 sources: the partition values are NOT in the parquet
    * bytes and must be served as per-partition constants.
    */
  private[sources] def hiveLeaves(dir: Path): Seq[(Path, Seq[(String, Long)])] = {
    import scala.jdk.CollectionConverters._
    def walk(d: Path, acc: Seq[(String, Long)]): Seq[(Path, Seq[(String, Long)])] = {
      val sub = Files.list(d).iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.contains("="))
        .sortBy(_.getFileName.toString)
      if (sub.isEmpty) Seq((d, acc))
      else sub.flatMap { s =>
        val name = s.getFileName.toString
        val eq = name.indexOf('=')
        walk(s, acc :+ (name.take(eq) -> name.substring(eq + 1).toLong))
      }
    }
    walk(dir, Seq.empty)
  }

  /** Can this column type carry zone-map stats / participate in
    * manifest pruning? Integrals prune in their own value domain;
    * DATE prunes as epoch DAYS and TIMESTAMP as epoch MICROS — both
    * exact integer images (the physical parquet encodings), so a
    * time-partitioned table's "one day's predicate opens one day's
    * sets" works without a synthetic integer date key. The SAME
    * long-image function ([[statLongExpr]]) serves stats recording
    * AND every span/constraint probe — one convention, no unit drift.
    */
  private[sources] def isPrunableType(dt: org.apache.spark.sql.types.DataType): Boolean =
    isIntegralType(dt) || dt == org.apache.spark.sql.types.DateType ||
      dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType ||
      dt == org.apache.spark.sql.types.StringType

  /** Whether a column's long image is EXACTLY INVERTIBLE (integral /
    * date / timestamp — the image IS the internal value). STRING
    * images are order-preserving but lossy (7-byte UTF-8 prefix, the
    * Delta truncated-string-stats idea in long-image form): sound for
    * OVERLAP and point-containment pruning, never for serving values
    * back (metadata-answered MIN/MAX) or for ±1 bound sharpening.
    */
  private[sources] def isExactImage(dt: org.apache.spark.sql.types.DataType): Boolean =
    isPrunableType(dt) && dt != org.apache.spark.sql.types.StringType

  /** The JVM twin of [[statLongExpr]]'s STRING branch — first 7 UTF-8
    * bytes big-endian (right zero-padded), always non-negative, and
    * MONOTONE w.r.t. Spark's string comparison (UTF8 binary order):
    * s <= t  ⇒  image(s) <= image(t). Literals in pruning predicates
    * convert through this so both sides of every span test share one
    * image.
    */
  private[graft] def stringPrefixImage(s: String): Long = {
    val b = s.getBytes(UTF_8)
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v
  }

  /** The canonical long image of a prunable column (see
    * [[isPrunableType]]): integral → value, DATE → epoch days,
    * TIMESTAMP → epoch micros (instant), TIMESTAMP_NTZ → LOCAL
    * micros. The NTZ image is deliberately timezone-INDEPENDENT —
    * stats written under one session zone must stay sound for
    * mutations issued under another, and a local→instant conversion
    * is not injective across DST gaps — so it is assembled from the
    * local fields (day × 86.4e9 + time-of-day micros), which is an
    * exact, strictly monotone function of the NTZ value everywhere.
    * Non-prunable types keep the legacy `cast(long)` (strings yield
    * NULL → stats dropped, conservative).
    */
  private[graft] def statLongExpr(
      dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.DateType =>
      functions.unix_date(c).cast("long") // unix_date yields INT days
    case org.apache.spark.sql.types.TimestampType => functions.unix_micros(c)
    case org.apache.spark.sql.types.TimestampNTZType =>
      functions.unix_date(functions.to_date(c)).cast("long") * lit(86400000000L) +
        functions.hour(c).cast("long") * lit(3600000000L) +
        functions.minute(c).cast("long") * lit(60000000L) +
        // SECOND extracts seconds WITH the fractional part as a
        // decimal — ×1e6 is the exact micros-of-minute
        (functions.date_part(lit("SECOND"), c) * lit(1000000L)).cast("long")
    case org.apache.spark.sql.types.StringType =>
      // ORDER-PRESERVING 7-byte UTF-8 prefix image (Delta's truncated
      // string stats re-expressed in the long zone-map domain): first
      // 7 bytes big-endian, right-padded with zero NIBBLES in hex so
      // shorter strings sort below their extensions, always < 2^56 so
      // never negative. Lossy — see [[isExactImage]] for what that
      // permits. Must stay byte-identical to [[stringPrefixImage]].
      functions.conv(
        functions.rpad(functions.hex(
          functions.substring(functions.encode(c, "UTF-8"), 1, 7)),
          14, "0"), 16, 10).cast("long")
    case _ => c.cast("long")
  }

  private[sources] def isIntegralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The latest snapshot, resolved through the checkpoint fast path —
    * O(log suffix) metadata work, not O(commits).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val target = StructType.fromDDL(s.schemaDdl)
    scanSets(spark, path, s.live, target, s.renames, s.tombstones)
  }

  /** A typed frame with no rows. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** TIME TRAVEL BY TIMESTAMP: the snapshot as of wall-clock
    * `tsMillis` — the last commit stamped at or before it. Commit
    * stamps are monotonized at claim time, so the version choice is
    * well-defined even across clock steps; commits from logs written
    * before stamps existed read as ts=0 (always included). Fails if
    * the timestamp precedes the table's creation, like Delta's
    * `timestampAsOf`.
    */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame = {
    val all = commits(path)
    require(all.nonEmpty, s"no table at $path")
    val at = all.lastIndexWhere(_.tsMillis <= tsMillis)
    require(at >= 0,
      s"timestamp $tsMillis precedes the first commit (${all.head.tsMillis}) at $path")
    readAt(spark, path, at)
  }

  /** DESCRIBE HISTORY: the commit log as a DataFrame — version,
    * action, wall-clock stamp, added/removed set counts, tag — the
    * audit surface every table format exposes. O(commits) rows, built
    * driver-side from metadata only.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    commits(path).map(c =>
      (c.version, c.action,
        new java.sql.Timestamp(c.tsMillis), c.add.size, c.remove.size,
        c.tag.getOrElse(""))).toDF(
      "version", "action", "committed_at", "n_added", "n_removed", "tag")
  }

  /** Register the table's LATEST snapshot as a SQL temp view, so the
    * whole lake surface composes with `spark.sql` — the snapshot is
    * resolved at call time (re-register to advance).
    */
  def registerView(spark: SparkSession, path: String, name: String): Unit =
    read(spark, path).createOrReplaceTempView(name)

  /** Zone-map-pruned SCAN: open only the live file-sets whose stats
    * overlap EVERY `[lo, hi]` range in `ranges` — pruning composes
    * across dimensions (a set is skipped as soon as ANY queried
    * dimension is provably disjoint, so a two-predicate scan over a
    * multi-stats / Z-ordered layout skips on both). Sets lacking
    * stats on a queried column are read conservatively. The ranges
    * only decide which files to OPEN (manifest-level skipping, like
    * Delta's data skipping); callers still apply the row-level filter
    * — parquet row-group pruning then composes within each opened
    * set. Returns (frame, scannedSets, skippedSets).
    */
  def readPruned(
      spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val target = StructType.fromDDL(s.schemaDdl)
    val (scan, skip) = pruneSets(path, s.live, ranges)
    (scanSets(spark, path, scan, target, s.renames, s.tombstones),
      scan.size, skip.size)
  }

  // ------------------------------------------------------- bloom skipping

  /** Per-file-set Bloom sidecar: `_bloom_<col>.json` INSIDE the set
    * directory (the leading underscore hides it from parquet scans —
    * the Delta bloom-index layout). Built by one distributed
    * [[graft.plans.BloomAgg]] pass over the WRITTEN files, crc-sealed
    * like log entries. Blooms answer the query zone maps cannot:
    * point lookups on high-cardinality columns whose values
    * interleave across every set's [min, max] span.
    */
  private def bloomSidecar(table: String, set: String, c: String): Path =
    Paths.get(setPathOf(table, set), s"_bloom_$c.json")

  /** Bloom columns present on ANY of `sets` — rewrite paths
    * (compact/merge/delete) re-record these on the sets they produce,
    * so point-lookup skipping survives table maintenance the way
    * zone-map stats already do.
    */
  private def bloomColsOf(table: String, sets: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    sets.flatMap { set =>
      val d = Paths.get(setPathOf(table, set))
      if (!Files.isDirectory(d)) Seq.empty[String]
      else Files.list(d).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("_bloom_") && n.endsWith(".json"))
        .map(n => n.stripPrefix("_bloom_").stripSuffix(".json")).toSeq
    }.distinct
  }

  /** Bloom sidecars on `cols` for staged sets of one written `schema`,
    * given with their row counts (the `_ridmap` footer walk's, so no
    * count job): ONE aggregate grouped by set over the WRITTEN files
    * builds every filter, sized for the largest set. Reading with the
    * known schema skips the footer-inference job a bare read launches.
    */
  private def writeBloomSidecars(
      spark: SparkSession, table: String, schema: StructType,
      sets: Seq[(String, Long)], cols: Seq[String]): Unit = {
    // An empty bloom from an all-null cast would wrongly prune live
    // data — only integral key columns may carry a bloom.
    cols.foreach(c => schema(c).dataType match {
      case LongType | IntegerType => ()
      case other => throw new IllegalArgumentException(
        s"bloom column '$c' must be integral, got $other")
    })
    import graft.plans.GraftBloom
    val words = GraftBloom.wordsFor(sets.map(_._2).max)
    val blooms = cols.map(c => graft.functions.VectorFunctions.bloomAgg(
      col(c).cast("long"), words))
    sets.indices.map(i => spark.read.schema(schema)
        .parquet(setPathOf(table, sets(i)._1)).withColumn("__set", lit(i)))
      .reduce(_.unionByName(_))
      .groupBy("__set").agg(blooms.head, blooms.tail: _*)
      .collect().foreach(r => cols.indices.foreach { j =>
        val b64 = java.util.Base64.getEncoder.encodeToString(
          r.getAs[Array[Byte]](j + 1))
        val body = s"""{"col":"${cols(j)}","words":$words,""" +
          s""""k":${GraftBloom.DefaultK},"bits":"$b64""""
        Files.write(bloomSidecar(table, sets(r.getInt(0))._1, cols(j)),
          (body + s""","crc":${crc32(body)}}""").getBytes(UTF_8))
      })
  }

  /** The set's bloom for `c`, if present AND intact. A missing or
    * corrupted sidecar yields None — the caller must then READ the
    * set, so corruption degrades to a slower scan, never a wrong
    * answer (bloom "no" is the only pruning signal, and only a
    * verified bloom may say it).
    */
  private def readBloomSidecar(
      table: String, set: String, c: String): Option[(Array[Long], Int)] = {
    val p = bloomSidecar(table, set, c)
    if (!Files.exists(p)) return None
    try {
      val line = new String(Files.readAllBytes(p), UTF_8)
      val m = CrcRe.findFirstMatchIn(line).getOrElse(return None)
      val body = line.substring(0, line.lastIndexOf(""","crc":"""))
      if (crc32(body) != m.group(1).toLong) return None
      val bits = """"bits":"([A-Za-z0-9+/=]*)"""".r
        .findFirstMatchIn(line).map(_.group(1)).getOrElse(return None)
      val k = """"k":(\d+)""".r
        .findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(return None)
      Some((graft.plans.GraftBloom.fromBytes(
        java.util.Base64.getDecoder.decode(bits)), k))
    } catch { case _: Exception => None }
  }

  /** BLOOM-PRUNED POINT LOOKUP: open only the live file-sets whose
    * bloom on `c` might contain `value` (sets without an intact bloom
    * are read conservatively). This is manifest-level equality
    * skipping for the lookup zone maps cannot serve — a unique key in
    * an 8-set table opens ~1 set (+ false positives at the published
    * <1% rate) instead of 8. Composes with zone maps: a caller can
    * pre-narrow with [[readPruned]] semantics, and parquet row-group
    * stats still prune within each opened set. Callers still apply
    * the row filter — the bloom only decides which sets to OPEN.
    * Returns (frame, scannedSets, skippedSets).
    */
  def readPoint(
      spark: SparkSession, path: String,
      c: String, value: Long): (DataFrame, Int, Int) = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val target = StructType.fromDDL(s.schemaDdl)
    val (scan, skip) = pruneSets(path, s.live, Seq.empty, Seq((c, Seq(value))))
    (scanSets(spark, path, scan, target, s.renames, s.tombstones),
      scan.size, skip.size)
  }

  /** What one commit gives a change feed (see [[feedRows]]). */
  private[sources] sealed trait FeedRows
  /** The commit's added sets, served as inserts. */
  private[sources] final case class FeedInserts(sets: Seq[LiveSet]) extends FeedRows
  /** The commit's change-data sidecar: typed rows, `_change_type` in
    * the files.
    */
  private[sources] final case class FeedSidecar(set: LiveSet) extends FeedRows
  /** The sets the commit removed, served as deletes. */
  private[sources] final case class FeedDeletes(sets: Seq[LiveSet]) extends FeedRows
  private[sources] case object FeedNothing extends FeedRows

  /** THE change-feed contract: what commit `c` gives every feed
    * surface — the batch feeds [[changesSince]] (insert-only) and
    * [[changesTyped]] (CDF), and the `graft-lake-stream` source
    * ([[LakeMicroBatchStream]]) in its insert-only default and its
    * `cdf` mode. Each surface serves the answer for each commit after
    * its start version, or fails loudly at the first refusal:
    *
    *  - `create`, `append`, `copyinto`, and a `padd` that removes
    *    nothing (partitioned append, shallow clone): the added sets,
    *    as inserts, in both modes;
    *  - `merge`, `update`, `delete`, `tombstone` (deleteMoR/deleteDv),
    *    `updatedv`, `restore`, `poverwrite`: CDF mode serves the
    *    commit's change-data sidecar; a commit from before CDF was
    *    enabled, or one whose sidecar was vacuumed, refuses. Insert-
    *    only mode refuses: rows changed in place are not inserts;
    *  - `truncate`: CDF mode serves the removed sets as deletes (a
    *    vacuumed one refuses, and so does the stream when one was
    *    written before a column rename); insert-only mode refuses;
    *  - `compact`, and a `padd` that removes sets
    *    (compactPartitionedBy): a re-layout with no logical change —
    *    no rows in CDF mode, a refusal in insert-only mode;
    *  - `constraint`, `evolve`, `coldef`, `partition`, `vacuum` and
    *    `txnnoop` (an aborted transaction's slot): metadata, no rows;
    *  - `rename`, `lineage`, `dropcol`: no rows on the batch feeds,
    *    which read every set through the latest column lineage; the
    *    stream decodes each file by its written column names, so it
    *    refuses rather than serve rows the batch feeds would not;
    *  - `overwrite`, and any other action: refused — re-seed from a
    *    snapshot.
    *
    * A commit of an undecided transaction refuses on every surface:
    * a consumer that moved past it would lose its rows for good if the
    * transaction then commits (bound reads at [[latestStableVersion]],
    * as the stream does).
    */
  private[sources] def feedRows(
      path: String, c: Commit, cdf: Boolean, stream: Boolean): FeedRows = {
    val reseed =
      if (stream) "restart from a fresh snapshot"
      else "read a full snapshot instead"
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"commit ${c.version} is a ${c.action}: $why — $reseed")
    def unlessVacuumed(ls: LiveSet, what: String): LiveSet = {
      require(Files.exists(Paths.get(setPathOf(path, ls.set))),
        s"commit ${c.version}'s $what ${ls.set} was vacuumed (outside " +
          "the retention window) — start the feed from a newer version " +
          s"or $reseed")
      ls
    }
    val unrepresentable =
      "not representable " + (if (cdf) "in the change feed" else "as inserts")
    if (undecided(path)(c)) throw new IllegalStateException(
      s"commit ${c.version} at $path is a PENDING cross-table " +
        "transaction — its visibility is undecided; retry after " +
        "commitTxn/abortTxn (or bound reads at latestStableVersion)")
    c.action match {
      case "create" | "append" | "copyinto" => FeedInserts(addedSets(c))
      case "padd" if c.remove.isEmpty => FeedInserts(addedSets(c))
      case "compact" | "padd" =>
        if (cdf) FeedNothing else refuse(unrepresentable)
      case "merge" | "update" | "delete" | "tombstone" | "updatedv" |
          "restore" | "poverwrite" =>
        if (!cdf) refuse(unrepresentable)
        val sidecar = c.cdf.getOrElse(refuse("no change-data sidecar " +
          "(CDF was not enabled when it committed)"))
        FeedSidecar(unlessVacuumed(LiveSet(sidecar, StructType.fromDDL(
          c.schemaDdl).add("_change_type", StringType, nullable = true).toDDL,
          Seq.empty), "change-data sidecar"))
      case "truncate" =>
        if (!cdf) refuse(unrepresentable)
        val pre = stateAt(path, c.version - 1)
        val removed = c.remove.toSet
        val sets = pre.live.filter(ls => removed(ls.set))
          .map(unlessVacuumed(_, "truncated set"))
        val live = StructType.fromDDL(pre.schemaDdl).fieldNames.toSet
        val formers = pre.renames.filter(r => live(r._1)).values.flatten.toSet
        if (stream && sets.exists(ls =>
            StructType.fromDDL(ls.schemaDdl).fieldNames.exists(formers)))
          refuse("not representable in a stream, which decodes each file " +
            "by its written column names: a truncated set predates a rename")
        FeedDeletes(sets)
      case "rename" | "lineage" | "dropcol" =>
        if (stream) refuse("not representable in a stream, which " +
          "decodes each file by its written column names")
        FeedNothing
      case "constraint" | "evolve" | "coldef" | "partition" | "vacuum" |
          "txnnoop" => FeedNothing
      case _ => refuse(unrepresentable)
    }
  }

  /** CHANGES feed (CDC, insert-only): the rows every commit AFTER
    * `fromVersion` added, each tagged `_commit_version` — the
    * incremental-read primitive a downstream pipeline polls instead
    * of re-scanning the table (pair it with mv01's mergeDelta and the
    * refresh loop is end-to-end incremental). Reading a commit's
    * changes costs one scan of THAT commit's file-sets only. Which
    * commits serve rows, and which refuse, is [[feedRows]].
    */
  def changesSince(spark: SparkSession, path: String, fromVersion: Int): DataFrame =
    changeFeed(spark, path, fromVersion, cdf = false)

  /** TYPED CHANGES feed — the row-level CHANGE DATA FEED (Delta CDF):
    * every commit AFTER `fromVersion` as typed change rows, current
    * schema plus `_change_type` (insert / update_preimage /
    * update_postimage / delete) and `_commit_version`; what each
    * commit serves is [[feedRows]]. Change rows are O(changed rows),
    * never a table diff.
    *
    * A downstream mirror applies the feed per key: rank each key's
    * changes by (_commit_version, preimage-last), keep the latest,
    * drop it if typed delete — see the src28 gate for the shape.
    */
  def changesTyped(
      spark: SparkSession, path: String, fromVersion: Int): DataFrame =
    changeFeed(spark, path, fromVersion, cdf = true)

  /** The batch change feeds: [[feedRows]] per commit, its sets read
    * through [[scanSets]] under the latest schema and column lineage.
    */
  private def changeFeed(
      spark: SparkSession, path: String, fromVersion: Int,
      cdf: Boolean): DataFrame = {
    val st = snapshot(path)
    require(fromVersion >= -1 && fromVersion <= st.version,
      s"fromVersion $fromVersion out of range for ${st.version + 1}-commit log")
    val target = StructType.fromDDL(st.schemaDdl)
    val typed = target.add("_change_type", StringType, nullable = true)
    def rows(sets: Seq[LiveSet], change: String): DataFrame = {
      val df = scanSets(spark, path, sets, target, st.renames, Seq.empty)
      if (cdf) df.withColumn("_change_type", lit(change)) else df
    }
    commitsFrom(path, fromVersion + 1, st.version).flatMap { c =>
      (feedRows(path, c, cdf, stream = false) match {
        case FeedInserts(sets) => Seq(rows(sets, "insert"))
        case FeedSidecar(ls) =>
          Seq(scanSets(spark, path, Seq(ls), typed, st.renames, Seq.empty))
        case FeedDeletes(sets) => Seq(rows(sets, "delete"))
        case FeedNothing => Seq.empty
      }).map(_.withColumn("_commit_version", lit(c.version)))
    }.reduceLeftOption(_.unionByName(_))
      .getOrElse(emptyFrame(spark, (if (cdf) typed else target)
        .add("_commit_version", IntegerType, nullable = false)))
  }

  // --------------------------------------------------------- DML pipeline
  //
  // Every row-level mutation is ONE pipeline: a front end (snapshot,
  // manifest pruning), the entry point's match over rows read by the
  // one set scanner ([[scanSets]]), and one of two materializers — a
  // COPY-ON-WRITE rewrite ([[cowRewrite]]) or a DELETION-VECTOR sidecar
  // ([[dvCommit]], [[dvTombstone]]).

  /** The snapshot a DML statement runs against, its schema, and
    * `replayed`: the version an exactly-once tag already landed at,
    * which the caller returns without doing any work (the publish
    * loop re-checks under contention, so racing same-tag calls land
    * exactly once).
    */
  private final case class DmlScope(
      spark: SparkSession, path: String, s: Snapshot, target: StructType,
      replayed: Option[Int])

  /** The tombstone refusal of the copy-on-write rewrites. */
  private val CompactFirst =
    "compact first (a raw file-set rewrite would resurrect tombstoned rows)"

  /** Front end: resolve the snapshot and the `tag` replay; copy-on-
    * write paths (which read set bytes, not visible rows) refuse while
    * merge-on-read tombstones are outstanding, naming the way out.
    */
  private def openDml(
      spark: SparkSession, path: String, tag: Option[String] = None,
      refuseTombstones: Option[String] = None): DmlScope = {
    val s = snapshot(path)
    require(s.version >= 0, s"no table at $path")
    val replayed = tag.flatMap(s.tags.get)
    if (replayed.isEmpty) refuseTombstones.foreach(way =>
      require(s.tombstones.isEmpty,
        s"outstanding merge-on-read tombstones at $path: $way"))
    DmlScope(spark, path, s, StructType.fromDDL(s.schemaDdl), replayed)
  }

  /** A mutation source's row count, non-NULL key count and key span in
    * the zone maps' long image ([[statLongExpr]]).
    */
  private final case class KeySpan(
      rows: Long, nonNull: Long, span: Option[(Long, Long)]) {
    /** The span, when every source row carries a key. */
    def complete: Option[(Long, Long)] = span.filter(_ => nonNull == rows)
  }

  /** Front end: the key-span probe, ONE delta-sized aggregate, in two
    * postures. `refuseNulls` (merge/mergeDv) names the caller and fails
    * loudly on a NULL key, which escapes the overlap test (SetStats
    * min/max ignore NULLs): an insert row would be silently dropped, an
    * update could miss a matched target in a pruned set. Otherwise a
    * span is taken only for a present, prunable `c` (a raw cast can
    * invert or, under ANSI, throw) and callers full-scan without one.
    */
  private def keySpan(
      src: DataFrame, c: String, refuseNulls: Option[String] = None): KeySpan = {
    val present = src.columns.contains(c)
    val (lo, hi) =
      if (refuseNulls.isEmpty &&
          !(present && isPrunableType(src.schema(c).dataType)))
        (lit(null).cast("long"), lit(null).cast("long"))
      else {
        val e = statLongExpr(src.schema(c).dataType, col(c))
        (functions.min(e), functions.max(e))
      }
    val r = src.agg(functions.count(lit(1)),
      if (present) functions.count(col(c)) else lit(0L), lo, hi).head
    val ks = KeySpan(r.getLong(0), r.getLong(1),
      if (r.isNullAt(2) || r.isNullAt(3)) None
      else Some((r.getLong(2), r.getLong(3))))
    refuseNulls.filter(_ => ks.rows > 0L).foreach(who =>
      require(ks.nonNull == ks.rows,
        s"$who updates contain NULL '$c' values " +
          s"(${ks.rows - ks.nonNull} of ${ks.rows} rows); " +
          "the zone-map overlap test cannot prune soundly with NULL keys"))
    ks
  }

  /** Front end: (sets that may hold a match, sets that provably hold
    * none) — zone maps answer `ranges`, Bloom sidecars `eqs`.
    */
  private def pruneSets(
      path: String, live: Seq[LiveSet], ranges: Seq[(String, Long, Long)],
      eqs: Seq[(String, Seq[Long])] = Seq.empty): (Seq[LiveSet], Seq[LiveSet]) =
    if (ranges.isEmpty && eqs.isEmpty) (live, Seq.empty)
    else live.partition(setMayMatch(path, _, ranges, eqs))

  /** Front end: the copy-on-write victim search off the constraints a
    * predicate implies (plus the caller's `ranges`), so a plain
    * predicate on a laid-out or bloom-indexed column prunes with zero
    * hints. Records [[lastCowScanSets]].
    */
  private def cowCandidates(
      d: DmlScope, predicate: Column,
      ranges: Seq[(String, Long, Long)] = Seq.empty): (Seq[LiveSet], Seq[LiveSet]) = {
    val (pRanges, pEqs) = predicateConstraints(predicate, d.target, d.s.generated)
    val (scan, skip) = pruneSets(d.path, d.s.live, ranges ++ pRanges, pEqs)
    _lastCowScanSets.set((scan.size, skip.size))
    (scan, skip)
  }

  /** Front end: `df` projected onto `target` by name, NULL-filling. */
  private def alignTo(
      df: DataFrame, target: StructType, cast: Boolean = false): DataFrame =
    df.select(target.fields.toIndexedSeq.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (cast) col(f.name).cast(f.dataType).as(f.name)
      else col(f.name)
    }: _*)

  /** [[alignTo]] for a merge source, refusing unknown columns. */
  private def alignUpdates(
      updates: DataFrame, target: StructType, who: String): DataFrame = {
    val targetNames = target.fieldNames.toSet
    require(updates.columns.forall(targetNames),
      s"$who updates carry unknown columns: " +
        s"${updates.columns.filterNot(targetNames).mkString(", ")}")
    alignTo(updates, target)
  }

  /** UPDATE assignments: distinct existing target columns. */
  private def requireAssignments(
      d: DmlScope, sets: Seq[(String, Column)]): Unit = {
    require(sets.nonEmpty, "UPDATE with no assignments")
    sets.foreach(a => require(d.target.fieldNames.contains(a._1),
      s"UPDATE: no column '${a._1}' at ${d.path}"))
    require(sets.map(_._1).distinct.size == sets.size,
      "UPDATE: duplicate assignment targets")
  }

  /** UPDATE post-image, applied where `guard` holds: every right-hand
    * side reads the input row (`SET a = b, b = a` swaps rather than
    * cascading).
    */
  private def postImage(
      target: StructType, sets: Seq[(String, Column)],
      guard: Option[Column] = None): IndexedSeq[Column] =
    target.fields.toIndexedSeq.map { f =>
      sets.find(_._1 == f.name) match {
        case Some((_, v)) => guard.fold(v.cast(f.dataType))(g =>
          when(g, v.cast(f.dataType)).otherwise(col(f.name))).as(f.name)
        case None => col(f.name).as(f.name)
      }
    }

  /** Copy-on-write materializer: `rewritten` replaces the `hit` sets
    * (and the `materialized` tombstones, which its rows already
    * applied), re-recording their stats dimensions (plus `statsCols`)
    * and Bloom sidecars so pruning survives; a racing writer that
    * touched a hit set aborts the commit
    * (ConcurrentModificationException), never a lost update.
    */
  private def cowRewrite(
      d: DmlScope, action: String, rewritten: DataFrame, hit: Seq[LiveSet],
      statsCols: Seq[String], cdfSet: Option[String] = None,
      tag: Option[String] = None, materialized: Seq[String] = Seq.empty): Int = {
    val hitNames = hit.map(_.set)
    commit(rewritten, d.path, action, tag = tag,
      statsCols = reRecordable(d.target, d.s.renames,
        hit.flatMap(_.stats.map(_.col)) ++ statsCols),
      removeSets = hitNames ++ materialized,
      bloomCols = reRecordable(d.target, d.s.renames,
        bloomColsOf(d.path, hitNames)),
      cdfSet = cdfSet,
      fence = fenceFor(d.spark, d.path, hitNames.toSet, d.s.tombstones))
  }

  /** Copy-on-write predicate mutation — DELETE (`sets` None) and
    * UPDATE are one algorithm. ONE distributed pass over the
    * [[cowCandidates]] yields per-set match counts: CDF tables fuse it
    * INTO the sidecar write (guide §1.2), staging the change images
    * (update pre + post exploded, so rows are read once) partitioned by
    * candidate index and reading the counts off the staged footers;
    * other tables run one shuffle-free tally job ([[tallyBySet]]). The
    * hit sets then rewrite — except when a delete empties every one:
    * they drop BY REFERENCE, leaving no stat-less empty set to scan in
    * every later pruned mutation (set totals come from the `_ridmap`
    * metadata; tombstones are refused, so recorded == visible). A NULL
    * predicate never matches. Returns (version,
    * rewrittenSets, keptSets, matchedRows); no hit commits nothing.
    */
  private def cowPredicateMutation(
      spark: SparkSession, path: String, predicate: Column,
      statsCol: Option[String], ranges: Seq[(String, Long, Long)],
      sets: Option[Seq[(String, Column)]]): (Int, Int, Int, Long) = {
    val d = openDml(spark, path, refuseTombstones = Some(CompactFirst))
    sets.foreach(requireAssignments(d, _))
    import d.{s, target}
    val live = s.live
    val pred = coalesce(predicate, lit(false))
    val (candidates, _) = cowCandidates(d, predicate, ranges)
    if (candidates.isEmpty) return (s.version, 0, live.size, 0L)
    val tagged = scanSets(spark, path, candidates, target, s.renames,
      s.tombstones, CarrySet)
    val (matchCounts, cdfSet): (Map[String, Long], Option[String]) =
      if (!cdfEnabled(path)) (tallyBySet(tagged.filter(pred)), None)
      else {
        val setName = s"cdf/c${java.util.UUID.randomUUID().toString.take(12)}"
        val stage = Paths.get(path,
          s"_stage_c${java.util.UUID.randomUUID().toString.take(12)}")
        val images: Seq[(Seq[Column], String)] = sets match {
          case None => Seq((target.fieldNames.toIndexedSeq.map(col), "delete"))
          case Some(a) => Seq(
            (target.fields.toIndexedSeq.map(f => col(f.name).as(f.name)),
              "update_preimage"),
            (postImage(target, a), "update_postimage"))
        }
        val si = setIndexCol(candidates).as("__si")
        def typed(cols: Seq[Column], ct: String): Seq[Column] =
          cols :+ lit(ct).as("_change_type")
        (images match {
          case Seq((cols, ct)) =>
            tagged.filter(pred).select(si +: typed(cols, ct): _*)
          case _ =>
            tagged.filter(pred)
              .select(si, functions.explode(functions.array(images.map {
                case (cols, ct) => functions.struct(typed(cols, ct): _*)
              }: _*)).as("__r"))
              .select(col("__si"), col("__r.*"))
        }).write.partitionBy("__si").parquet(stage.toString)
        val perIdx = flattenStagedCdf(stage, Paths.get(setPathOf(path, setName)))
        val mc = perIdx.map { case (i, n) => candidates(i).set -> n / images.size }
        if (!mc.values.exists(_ > 0L)) reclaimStaged(path, setName) // no-hit: no commit
        (mc, Some(setName))
      }
    val hitSets = candidates.filter(ls => matchCounts.getOrElse(ls.set, 0L) > 0)
    val matched = matchCounts.values.sum
    if (hitSets.isEmpty) return (s.version, 0, live.size, 0L)
    if (sets.isEmpty &&
        hitSets.forall(ls => setRecordCount(path, ls.set) == matchCounts(ls.set))) {
      val v = publishEntry(path, "delete", "", new StructType(), None,
        Seq.empty, hitSets.map(_.set), cdfSet = cdfSet,
        fence = fenceFor(spark, path, hitSets.map(_.set).toSet,
          s.tombstones))
      return (v, hitSets.size, live.size - hitSets.size, matched)
    }
    val hitDf = scanSets(spark, path, hitSets, target, s.renames, s.tombstones)
    val v = sets match {
      case None =>
        cowRewrite(d, "delete", hitDf.filter(!pred), hitSets, statsCol.toSeq,
          cdfSet)
      case Some(a) => cowRewrite(d, "update",
        hitDf.select(postImage(target, a, Some(pred)): _*), hitSets,
        statsCol.toSeq, cdfSet)
    }
    (v, hitSets.size, live.size - hitSets.size, matched)
  }

  /** Deletion-vector front: the VISIBLE rows matching `predicate`, with
    * positions, checkpointed with their count; None when none match.
    */
  private def dvMatches(d: DmlScope, predicate: Column): Option[(DataFrame, Long)] = {
    val (scanned, visible) = positionedRows(d.spark, d.path, d.s,
      predicateConstraints(predicate, d.target, d.s.generated))
    Option.when(scanned.nonEmpty)(
      checkpointWithCount(visible.filter(coalesce(predicate, lit(false)))))
      .filter(_._2 > 0L)
  }

  /** Deletion-vector materializer: ONE atomic `updatedv` commit of a
    * position sidecar masking `masked` (old images' positions) and one
    * appended set of `appended` rows — readers see neither or both.
    * CHECK and stats ride the append's write ([[stageSet]]); a
    * violation also reclaims the staged sidecar. Positions bind to
    * THIS snapshot: a concurrent commit aborts with
    * ConcurrentModificationException (re-run to re-resolve).
    */
  private def dvCommit(
      d: DmlScope, masked: DataFrame, appended: DataFrame,
      statsCols: Seq[String], tag: Option[String],
      cdf: => Seq[(DataFrame, String)]): Int = {
    val cons = d.s.constraints
    val dvName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
    stageDvSidecar(masked, d.path, dvName)
    val dataName = s"data/c${java.util.UUID.randomUUID().toString.take(12)}"
    val stats =
      try stageSet(appended, d.path, dataName,
        reRecordable(d.target, d.s.renames, statsCols), cons)
      catch { case e: IllegalStateException =>
        reclaimStaged(d.path, dvName)
        throw e
      }
    val cdfSet = stageCdf(d.path, cdf)
    publishEntry(d.path, "updatedv", dataName, appended.schema, tag,
      stats, Seq.empty, Some(cons), cdfSet = cdfSet,
      expectVersion = Some(d.s.version), dvSidecar = Some(dvName))
  }

  /** Deletion-vector materializer for pure deletes: a position
    * tombstone — no data set enters the log. Positions bind to their
    * sets' layout, so a racing compact/rewrite (or position mask) of
    * one aborts this commit instead of silently masking nothing; the
    * fenced sets are the targets the sidecar write observes.
    */
  private def dvTombstone(
      d: DmlScope, dvRows: DataFrame, tag: Option[String],
      cdf: => Seq[(DataFrame, String)]): Int = {
    val cdfSet = stageCdf(d.path, cdf)
    commit(dvRows.select(DvCols.map(col): _*), d.path, "tombstone",
      tag = tag, cdfSet = cdfSet,
      dvFence = fenceFor(d.spark, d.path, _, d.s.tombstones))
  }

  // ---------------------------------------------------------------- merge

  /** Copy-on-write MERGE (upsert): rows of `updates` replace target
    * rows with equal `keyCols`; unmatched update rows insert. Only
    * file-sets whose `statsCol` zone map OVERLAPS the updates' value
    * span are rewritten — everything else survives untouched, which
    * is what makes copy-on-write viable at 100 TB (a merge touching
    * one day's partition rewrites one day, not the table). Sets
    * without stats on `statsCol` are conservatively rewritten.
    *
    * SOUNDNESS CONTRACT: `statsCol` must be functionally dependent on
    * `keyCols` (equal keys ⇒ equal statsCol — e.g. a key itself, or a
    * bucket/date derived from it), otherwise a matched target row
    * could hide in a pruned set. The commit conflict-checks that every
    * rewritten set is still live, so a racing writer forces a clean
    * ConcurrentModificationException instead of lost updates.
    *
    * Returns (committedVersion, rewrittenSetCount, keptSetCount).
    */
  def merge(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], statsCol: String,
      tag: Option[String] = None,
      autoEvolve: Boolean = false): (Int, Int, Int) = {
    if (autoEvolve) evolveForSource(path, updates)
    val d = openDml(spark, path, tag, refuseTombstones = Some(CompactFirst))
    d.replayed.foreach(v => return (v, 0, 0))
    import d.{s, target}
    val span = keySpan(updates, statsCol, refuseNulls = Some("merge"))
    if (span.rows == 0L) return (s.version, 0, s.live.size)
    val (uLo, uHi) = span.span.get
    val (hit, kept) = pruneSets(path, s.live, Seq((statsCol, uLo, uHi)))
    val alignedUpdates = alignUpdates(updates, target, "merge")
    val hitDf = Option.when(hit.nonEmpty)(
      scanSets(spark, path, hit, target, s.renames, s.tombstones))
    val ukeys = updates.select(keyCols.map(col): _*).distinct()
    // CDF sidecar, computed against the PRE-merge hit sets (soundness
    // contract: matched targets can only live in hit sets, so matched
    // keys found here are ALL the matched keys): matched target rows →
    // update_preimage, their replacing update rows → update_postimage,
    // unmatched update rows → insert. Staged before the data commit;
    // an abandoned sidecar from a failed commit is unreferenced and
    // harmless (same posture as an unpublished data set).
    val cdfSet = stageCdf(path, {
      val matchedKeys = hitDf.map(h =>
        h.select(keyCols.map(col): _*).distinct()
          .join(ukeys, keyCols, "left_semi").localCheckpoint(true))
      val none = alignedUpdates.limit(0)
      val pre = hitDf.map(_.join(ukeys, keyCols, "left_semi")).getOrElse(none)
      val post = matchedKeys.map(mk =>
        alignedUpdates.join(mk, keyCols, "left_semi")).getOrElse(none)
      val ins = matchedKeys.map(mk =>
        alignedUpdates.join(mk, keyCols, "left_anti")).getOrElse(alignedUpdates)
      Seq((pre, "update_preimage"), (post, "update_postimage"), (ins, "insert"))
    })
    val rewritten = hitDf match {
      case None => alignedUpdates
      case Some(h) =>
        h.join(ukeys, keyCols, "left_anti").unionByName(alignedUpdates)
    }
    val v = cowRewrite(d, "merge", rewritten, hit, Seq(statsCol), cdfSet, tag)
    (v, hit.size, kept.size)
  }

  /** MERGE-ON-READ MERGE (upsert) via deletion vectors: rows of
    * `updates` replace target rows with equal `keyCols`, unmatched
    * update rows insert — with ZERO bytes of any hit set rewritten.
    * ONE atomic `updatedv` commit carries a position sidecar masking
    * the matched target rows plus ONE appended set holding every
    * update row (replacements and inserts alike) — readers see
    * neither or both. The rewrite cost is O(update rows); [[compact]]
    * materializes later.
    *
    * Same `statsCol` soundness contract as [[merge]] (functionally
    * dependent on `keyCols`): the position search opens only
    * span-overlapping sets, and matched targets can only live there,
    * so unmatched-update detection against the pruned slice is exact.
    * NULL `statsCol` values refuse loudly for the same reason.
    * Duplicate update keys that match a target row reject (Delta's
    * cardinality rule — two source rows may not replace one target
    * row); duplicate keys among pure inserts land as-is.
    *
    * Unlike the copy-on-write paths this runs ON TOP of outstanding
    * sidecars and key tombstones (only VISIBLE rows match — DVs
    * stack), so a high-frequency upsert stream never needs an
    * inter-batch compact. Positions resolve against THIS snapshot: a
    * concurrent commit aborts with ConcurrentModificationException
    * (re-run to re-resolve); the exactly-once `tag` short-circuits
    * replays before any work. A merge that matches nothing commits a
    * plain append (no empty sidecar).
    *
    * Returns (version, matchedRows, insertedRows).
    */
  def mergeDv(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], statsCol: String,
      tag: Option[String] = None,
      autoEvolve: Boolean = false): (Int, Long, Long) = {
    if (autoEvolve) evolveForSource(path, updates)
    val d = openDml(spark, path, tag)
    d.replayed.foreach(v => return (v, 0L, 0L))
    import d.{s, target}
    require(keyCols.nonEmpty, "mergeDv with no key columns")
    val span = keySpan(updates, statsCol, refuseNulls = Some("mergeDv"))
    if (span.rows == 0L) return (s.version, 0L, 0L)
    val alignedUpdates = alignUpdates(updates, target, "mergeDv")
    val ukeys = updates.select(keyCols.map(col): _*).distinct()
    // Only span-overlapping sets can hold matched targets (the
    // statsCol contract) — everything else never scans.
    val (uLo, uHi) = span.span.get
    val (scanned, visible) = positionedRows(spark, path, s,
      (Seq((statsCol, uLo, uHi)), Seq.empty))
    // The matched slice, ONE resolution reused everywhere: positions
    // for the sidecar, pre-images for CDF, keys for insert splitting.
    val (m, nMatched) = Option.when(scanned.nonEmpty)(
        checkpointWithCount(visible.join(ukeys, keyCols, "left_semi")))
      .filter(_._2 > 0L).getOrElse {
        // Pure insert: a plain append commit — no empty sidecar to drag
        // through the tombstone lifecycle.
        return (commit(alignedUpdates, path, "append", tag = tag,
          statsCols = reRecordable(target, s.renames, Seq(statsCol))),
          0L, span.rows)
      }
    // The distinct matched-key frame feeds the cardinality probe and
    // — only when CDF stages post/insert images — two more joins;
    // with one consumer the checkpoint materialization is pure waste
    // (the probe recomputes the same distinct inside its own job).
    val matchedKeysPlain = m.select(keyCols.map(col): _*).distinct()
    val matchedKeys =
      if (cdfEnabled(path)) matchedKeysPlain.localCheckpoint(true)
      else matchedKeysPlain
    // Delta's cardinality rule + inserted count in ONE delta-sized
    // job: per-update-key counts restricted to MATCHED keys answer
    // both "does any matched key carry >1 source row" (max) and "how
    // many update rows matched" (sum; inserted = span - matched).
    val mk = updates.groupBy(keyCols.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
      .join(matchedKeys, keyCols, "left_semi")
      .agg(org.apache.spark.sql.functions.sum(col("__n")),
        org.apache.spark.sql.functions.max(col("__n"))).head
    require(mk.isNullAt(1) || mk.getLong(1) <= 1L,
      "mergeDv: multiple update rows share a key that matches a target " +
        "row — each matched target may be replaced by at most one source row")
    val nInserted = span.rows - (if (mk.isNullAt(0)) 0L else mk.getLong(0))
    val v = dvCommit(d, m.select(DvCols.map(col): _*), alignedUpdates,
      Seq(statsCol), tag, Seq(
        (m.select(target.fieldNames.toIndexedSeq.map(col): _*), "update_preimage"),
        (alignedUpdates.join(matchedKeys, keyCols, "left_semi"), "update_postimage"),
        (alignedUpdates.join(matchedKeys, keyCols, "left_anti"), "insert")))
    (v, nMatched, nInserted)
  }

  /** Compiled clause dispatch of a flexible MERGE — pure Column
    * expressions over a struct-folded join frame with columns `t`
    * (target side + `_t_ex`) and `s` (source side + `_s_ex`).
    * Independent of the physical frame, so ONE compile serves both
    * the copy-on-write [[mergeActions]] and the deletion-vector
    * [[mergeActionsDv]] execution plans.
    */
  private final case class MergeDispatch(
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      bySource: Seq[MergeClause],
      matchedUpdates: Column, matchedDeletes: Column,
      bySourceUpdates: Column, bySourceDeletes: Column,
      notMatchedAny: Column,
      survivorCols: IndexedSeq[Column], insertCols: IndexedSeq[Column]) {
    val tEx: Column = col("t._t_ex").isNotNull
    val sEx: Column = col("s._s_ex").isNotNull
    /** Target row stays in the table (possibly updated in place). */
    def survives: Column =
      (sEx && !matchedDeletes) || (!sEx && !bySourceDeletes)
    /** Target row is rewritten by the first applying update clause. */
    def updPred: Column =
      tEx && ((sEx && matchedUpdates) || (!sEx && bySourceUpdates))
    /** Target row is removed by the first applying delete clause. */
    def delPred: Column =
      tEx && ((sEx && matchedDeletes) || (!sEx && bySourceDeletes))
    /** Source row inserts: no match and some insert clause applies. */
    def insPred: Column = !tEx && notMatchedAny
  }

  /** Validate the join keys and `clauses` against the target schema /
    * source columns and compile the clauses to a [[MergeDispatch]].
    * Per row the FIRST clause of its family whose condition holds
    * applies; NULL conditions coalesce to not-satisfied (SQL/Delta
    * three-valued rule); empty assignments mean the star form.
    */
  private def compileMergeDispatch(
      d: DmlScope, source: DataFrame, keyCols: Seq[String],
      clauses: Seq[MergeClause]): MergeDispatch = {
    import org.apache.spark.sql.functions.expr
    val target = d.target
    val sourceCols = source.columns.toSeq
    keyCols.foreach(k => require(target.fieldNames.contains(k),
      s"no merge key column '$k' at ${d.path}"))
    keyCols.foreach(k => require(sourceCols.contains(k),
      s"merge source lacks key column '$k'"))
    require(clauses.nonEmpty, "mergeActions needs at least one clause")
    clauses.foreach { c =>
      val ok = (c.when, c.action) match {
        case ("matched", "update") | ("matched", "delete") => true
        case ("notMatched", "insert") => true
        case ("bySource", "update") | ("bySource", "delete") => true
        case _ => false
      }
      require(ok, s"unsupported merge clause WHEN ${c.when} THEN ${c.action}")
      if (c.action == "delete")
        require(c.assignments.isEmpty, "DELETE clauses carry no assignments")
      if (c.when == "bySource" && c.action == "update")
        require(c.assignments.nonEmpty,
          "WHEN NOT MATCHED BY SOURCE UPDATE needs explicit assignments " +
            "(there is no source row to star-copy from)")
    }
    val matched = clauses.filter(_.when == "matched")
    val notMatched = clauses.filter(_.when == "notMatched")
    val bySource = clauses.filter(_.when == "bySource")
    // Assignment targets must be real columns; canonicalize case.
    def targetField(name: String): org.apache.spark.sql.types.StructField =
      target.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"merge assignment to unknown column '$name'"))
    clauses.filter(_.action != "insert").flatMap(_.assignments)
      .foreach(a => targetField(a._1))
    def srcName(name: String): Option[String] =
      sourceCols.find(_.equalsIgnoreCase(name))
    matched.filter(c => c.action == "update" && c.assignments.isEmpty)
      .foreach { _ =>
        val missing = target.fieldNames.filter(srcName(_).isEmpty)
        require(missing.isEmpty,
          s"UPDATE SET * needs every target column in the source; " +
            s"missing: ${missing.mkString(", ")}")
      }
    val tEx = col("t._t_ex").isNotNull
    val sEx = col("s._s_ex").isNotNull
    // First-match clause dispatch per family: clause i applies when
    // its condition holds and no earlier clause's did — plain boolean
    // columns, codegen'd inline.
    // Clause conditions are three-valued (a NULL-valued condition
    // column evaluates to NULL); SQL/Delta treat NULL as
    // not-satisfied, so coalesce each to strict FALSE — otherwise a
    // NULL poisons both the survivor filter (silently deleting the
    // row) and the first-match chain (prior || NULL stays NULL, so a
    // later unconditional clause never fires).
    def appliesOf(cls: Seq[MergeClause]): Seq[Column] = {
      var prior: Column = lit(false)
      cls.map { c =>
        val own = c.condition
          .map(cd => coalesce(expr(cd), lit(false)))
          .getOrElse(lit(true))
        val a = own && !prior
        prior = prior || own
        a
      }
    }
    val mApp = appliesOf(matched)
    val bApp = appliesOf(bySource)
    val nApp = appliesOf(notMatched)
    def anyOf(cls: Seq[MergeClause], app: Seq[Column], action: String): Column =
      cls.zip(app).collect { case (c, a) if c.action == action => a }
        .reduceOption(_ || _).getOrElse(lit(false))
    // Per-column survivor value: the first applying update clause's
    // assignment (star = same-named source column), else pass-through.
    def survivorVal(f: org.apache.spark.sql.types.StructField): Column = {
      def assignVal(c: MergeClause): Option[Column] =
        if (c.assignments.isEmpty) // star update
          Some(col(s"s.${srcName(f.name).get}"))
        else c.assignments.find(_._1.equalsIgnoreCase(f.name))
          .map(a => expr(a._2))
      val cases =
        matched.zip(mApp).collect {
          case (c, a) if c.action == "update" && assignVal(c).isDefined =>
            (tEx && sEx && a, assignVal(c).get)
        } ++ bySource.zip(bApp).collect {
          case (c, a) if c.action == "update" &&
              c.assignments.exists(_._1.equalsIgnoreCase(f.name)) =>
            (tEx && !sEx && a,
              expr(c.assignments.find(_._1.equalsIgnoreCase(f.name)).get._2))
        }
      cases.foldRight(col(s"t.${f.name}")) { case ((p, v), rest) =>
        when(p, v.cast(f.dataType)).otherwise(rest)
      }.as(f.name)
    }
    def insertVal(f: org.apache.spark.sql.types.StructField): Column = {
      def v(c: MergeClause): Column =
        if (c.assignments.isEmpty) // star insert: by name, null-fill
          srcName(f.name).map(n => col(s"s.$n"))
            .getOrElse(lit(null))
        else c.assignments.find(_._1.equalsIgnoreCase(f.name))
          .map(a => expr(a._2)).getOrElse(lit(null))
      notMatched.zip(nApp)
        .foldRight(lit(null): Column) { case ((c, a), rest) =>
          when(a, v(c).cast(f.dataType)).otherwise(rest)
        }.cast(f.dataType).as(f.name)
    }
    MergeDispatch(matched, notMatched, bySource,
      matchedUpdates = anyOf(matched, mApp, "update"),
      matchedDeletes = anyOf(matched, mApp, "delete"),
      bySourceUpdates = anyOf(bySource, bApp, "update"),
      bySourceDeletes = anyOf(bySource, bApp, "delete"),
      notMatchedAny = nApp.reduceOption(_ || _).getOrElse(lit(false)),
      survivorCols = target.fields.toIndexedSeq.map(survivorVal),
      insertCols = target.fields.toIndexedSeq.map(insertVal))
  }

  /** ONE physical join execution for a flexible MERGE: `targetRows`
    * (columns `tNames`) full-outer-joined to `source` on the keys and
    * checkpointed, because it fans out to up to 6 consumers (survivors,
    * inserts, 4 CDF images) which would each recompute it. Each side
    * folds into a STRUCT column named t / s with a `_t_ex` / `_s_ex`
    * existence marker — `t.<col>` / `s.<col>` references (including
    * the user's clause SQL) resolve as struct-field access, which
    * SURVIVES localCheckpoint (plain `t`/`s` alias qualifiers would
    * not: a checkpointed LogicalRDD drops them, and the sides share
    * key-column names). Null semantics are preserved because every
    * access is field-level.
    */
  private def mergeJoin(
      targetRows: DataFrame, tNames: Seq[String], source: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    def folded(side: String, names: Seq[String]): Column =
      functions.struct((names :+ s"_${side}_ex")
        .map(n => col(s"$side.$n").as(n)): _*).as(side)
    targetRows.withColumn("_t_ex", lit(1)).alias("t")
      .join(source.withColumn("_s_ex", lit(1)).alias("s"),
        keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
        "full_outer")
      .select(folded("t", tNames), folded("s", source.columns.toSeq))
      .localCheckpoint(true)
  }

  /** Delta's cardinality rule: refuse only when a source key carried
    * by several source rows `matches` a target row (duplicate keys
    * among pure inserts are legal). Both probes are delta-sized.
    */
  private def refuseAmbiguousMatches(
      source: DataFrame, keyCols: Seq[String])(
      matches: DataFrame => Boolean): Unit = {
    val (dupKeys, nDup) = checkpointWithCount(
      source.groupBy(keyCols.map(col): _*)
        .agg(functions.count(lit(1)).as("_n")).filter(col("_n") > 1).drop("_n"))
    require(nDup == 0 || !matches(dupKeys),
      "MERGE: multiple source rows match the same target row — " +
        "deduplicate the source on the key columns first")
  }

  /** Flexible MERGE: the general Delta clause shape — an ordered list
    * of `WHEN MATCHED [AND cond] THEN UPDATE SET .../DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT ...`, and `WHEN NOT
    * MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE` clauses —
    * compiled onto the SAME write path as [[merge]] (claim/publish
    * loop, zone-pruned copy-on-write rewrite, CDF staging, CHECK
    * constraints): never a second write path.
    *
    * Conditions and assignment values are SQL expressions over
    * `t.<col>` (target row) and `s.<col>` (source row; matched /
    * not-matched clauses only). Per row, the FIRST clause of its
    * family whose condition holds applies; rows matching no clause
    * pass through unchanged (target) or are dropped (source).
    * Empty `assignments` on an update/insert clause means the star
    * form: every target column takes the same-named source column
    * (update requires all of them present; insert null-fills).
    *
    * Execution is ONE shuffled full-outer key join of the pruned
    * target slice against the (delta-sized) source, with the clause
    * dispatch compiled to codegen'd CASE chains — no per-clause
    * passes. Pruning posture (the [[merge]] soundness contract —
    * `statsCol` functionally dependent on the keys — carries over):
    *  - matched clauses only rewrite sets whose `statsCol` zone map
    *    overlaps the source span (matched targets can live nowhere
    *    else);
    *  - not-matched-by-source clauses can touch ANY target row, so
    *    their presence forces a full rewrite (the Delta shape: a
    *    by-source merge IS a table-wide mutation);
    *  - a merge with no matched/by-source clauses rewrites NOTHING —
    *    inserts commit as a pure append (the anti-join still probes
    *    the span-surviving sets, the only place matches can hide).
    * A source with NULL or non-integral `statsCol` degrades to
    * conservative full rewrite, never a wrong answer.
    *
    * Duplicate source keys that match a target row are rejected
    * loudly (the Delta cardinality rule) — applying two clauses to
    * one target row would be order-dependent.
    *
    * Returns (committedVersion, rewrittenSetCount, keptSetCount).
    */
  def mergeActions(
      spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], statsCol: String, clauses: Seq[MergeClause],
      tag: Option[String] = None): (Int, Int, Int) = {
    val d = openDml(spark, path, tag, refuseTombstones = Some(CompactFirst))
    d.replayed.foreach(v => return (v, 0, 0))
    import d.{s, target}
    val disp = compileMergeDispatch(d, source, keyCols, clauses)
    import disp.{matched, bySource}
    val live = s.live
    // Victim selection — see the pruning posture in the doc above. An
    // empty source matches nothing; a span needs a prunable statsCol
    // carried by every source row (a NULL could match anywhere).
    val spanSurvivors: Seq[LiveSet] =
      if (!source.columns.contains(statsCol)) live
      else {
        val span = keySpan(source, statsCol)
        if (span.rows == 0L) Seq.empty
        else span.complete.fold(live) { case (lo, hi) =>
          pruneSets(path, live, Seq((statsCol, lo, hi)))._1
        }
      }
    val rewriteTarget = bySource.nonEmpty || matched.nonEmpty
    val scanned = if (bySource.nonEmpty) live else spanSurvivors
    val rewriteSets = if (rewriteTarget) scanned else Seq.empty
    val scanDf = scanSets(spark, path, scanned, target, s.renames, s.tombstones)
    refuseAmbiguousMatches(source, keyCols)(dupKeys => scanned.nonEmpty &&
      scanDf.select(keyCols.map(col): _*)
        .join(dupKeys, keyCols, "left_semi").head(1).nonEmpty)
    val j = mergeJoin(scanDf, target.fieldNames.toSeq, source, keyCols)
    val survivors =
      if (!rewriteTarget) emptyFrame(spark, target)
      else j.filter(disp.tEx && disp.survives).select(disp.survivorCols: _*)
    val inserts = j.filter(disp.insPred).select(disp.insertCols: _*)
    val tCols = target.fields.toIndexedSeq.map(f => col(s"t.${f.name}").as(f.name))
    val cdfSet = stageCdf(path, Seq(
      (j.filter(disp.updPred).select(tCols: _*), "update_preimage"),
      (j.filter(disp.updPred).select(disp.survivorCols: _*), "update_postimage"),
      (j.filter(disp.delPred).select(tCols: _*), "delete"),
      (inserts, "insert")))
    val v = cowRewrite(d, "merge", survivors.unionByName(inserts), rewriteSets,
      Seq(statsCol), cdfSet, tag)
    (v, rewriteSets.size, live.size - rewriteSets.size)
  }

  /** MERGE-ON-READ flexible MERGE via deletion vectors — the general
    * Delta clause shape ([[mergeActions]] semantics, identical clause
    * dispatch) with [[mergeDv]]'s write posture (Delta's low-shuffle
    * DV merge): ONE atomic `updatedv` commit carries a position
    * sidecar masking EXACTLY the updated + deleted target rows plus
    * one appended set holding the update post-images and the inserts.
    * Pass-through rows are neither masked nor rewritten, so the write
    * cost is O(affected rows) — never O(hit sets), and never O(table)
    * even for by-source merges: a by-source clause still forces a
    * FULL SCAN (any target row can be affected, same as
    * mergeActions), but only the rows its condition selects are
    * masked/rewritten, where the copy-on-write route rewrites every
    * live set. Runs atop outstanding sidecars/tombstones (only
    * VISIBLE rows match — DVs stack); [[compact]] materializes.
    *
    * Matched-only merges search span-overlapping sets only (the
    * [[merge]] statsCol soundness contract); a source with NULL or
    * non-integral `statsCol` degrades to a conservative full scan,
    * never a wrong answer. Delta's cardinality rule, exactly-once
    * tags, CHECK constraints on the appended rows, and all four CDF
    * image kinds match [[mergeActions]]. Pure-insert outcomes commit
    * a plain append; pure-delete outcomes a position tombstone — no
    * empty data set ever enters the log.
    *
    * Returns (version, updatedRows, deletedRows, insertedRows).
    */
  def mergeActionsDv(
      spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], statsCol: String, clauses: Seq[MergeClause],
      tag: Option[String] = None): (Int, Long, Long, Long) = {
    import org.apache.spark.sql.functions.count
    val d = openDml(spark, path, tag)
    d.replayed.foreach(v => return (v, 0L, 0L, 0L))
    import d.{s, target}
    val disp = compileMergeDispatch(d, source, keyCols, clauses)
    // Span pruning (matched-only merges), same degrade posture as
    // mergeActions; by-source clauses force the full scan.
    val span = keySpan(source, statsCol)
    if (span.rows == 0L && disp.bySource.isEmpty) return (s.version, 0L, 0L, 0L)
    val ranges = span.complete.filter(_ => disp.bySource.isEmpty).toSeq
      .map { case (lo, hi) => (statsCol, lo, hi) }
    // Position-prefixed visible slice (empty-but-typed when no live
    // set survives pruning — inserts must still dispatch).
    val (_, visible) = positionedRows(spark, path, s, (ranges, Seq.empty))
    // The t struct carries the position triple for the sidecar.
    val j = mergeJoin(visible, DvCols ++ target.fieldNames.toSeq, source, keyCols)
    refuseAmbiguousMatches(source, keyCols)(dupKeys =>
      j.filter(disp.tEx && disp.sEx)
        .select(keyCols.map(k => col(s"s.$k").as(k)): _*)
        .join(dupKeys, keyCols, "left_semi").head(1).nonEmpty)
    // ONE pass over the checkpointed join sizes all three outcomes.
    val cnt = j.agg(count(when(disp.updPred, 1)),
      count(when(disp.delPred, 1)), count(when(disp.insPred, 1))).head
    val (nUpd, nDel, nIns) = (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
    if (nUpd + nDel + nIns == 0L) return (s.version, 0L, 0L, 0L)
    val inserts = j.filter(disp.insPred).select(disp.insertCols: _*)
    if (nUpd + nDel == 0L) {
      // Pure insert: a plain append commit (validates constraints in
      // the claim loop; appends serve the CDF feed as inserts).
      val v = commit(inserts, path, "append", tag = tag,
        statsCols = reRecordable(target, s.renames, Seq(statsCol)))
      return (v, 0L, 0L, nIns)
    }
    val tCols = target.fields.toIndexedSeq.map(f =>
      col(s"t.${f.name}").as(f.name))
    def positions(rows: DataFrame): DataFrame =
      rows.select(DvCols.map(c => col(s"t.$c").as(c)): _*)
    if (nUpd + nIns == 0L) {
      // Pure delete: a position tombstone, exactly deleteDv's commit.
      val delRows = j.filter(disp.delPred)
      val v = dvTombstone(d, positions(delRows), tag,
        Seq((delRows.select(tCols: _*), "delete")))
      return (v, 0L, nDel, 0L)
    }
    val postImages = j.filter(disp.updPred).select(disp.survivorCols: _*)
    val v = dvCommit(d, positions(j.filter(disp.updPred || disp.delPred)),
      postImages.unionByName(inserts), Seq(statsCol), tag, Seq(
        (j.filter(disp.updPred).select(tCols: _*), "update_preimage"),
        (postImages, "update_postimage"),
        (j.filter(disp.delPred).select(tCols: _*), "delete"),
        (inserts, "insert")))
    (v, nUpd, nDel, nIns)
  }

  /** Row-level DELETE (copy-on-write): remove the rows where
    * `predicate` is TRUE (NULL keeps the row, SQL DELETE semantics),
    * rewriting ONLY the file-sets that actually contain matching rows
    * — found by ONE distributed scan that tags each candidate set and
    * counts its matches (O(sets) rows back to the driver, metadata-
    * sized). Untouched sets survive by reference; vacuum reclaims the
    * rewritten ones. The commit conflict-checks that every rewritten
    * set is still live, so racing writers fail cleanly. GDPR-style
    * erasure and CDC deletes compose from this primitive.
    *
    * `statsCol` re-records zone-map stats on the rewritten set so
    * later merges/deletes keep pruning.
    *
    * Returns (version, rewrittenSets, keptSets, deletedRows); a no-hit
    * delete commits nothing and returns the current version.
    */
  def delete(
      spark: SparkSession, path: String, predicate: Column,
      statsCol: Option[String] = None): (Int, Int, Int, Long) =
    cowPredicateMutation(spark, path, predicate, statsCol, Seq.empty, None)

  /** MERGE-ON-READ DELETE: instead of rewriting the hit file-sets
    * (copy-on-write [[delete]]), commit a TOMBSTONE set holding just
    * the matching keys — O(deleted keys) bytes written, ZERO data
    * rewritten. Readers anti-join live data against the live
    * tombstone keys (broadcast — tombstones are small by
    * construction); [[compact]] materializes and clears them. This is
    * the GDPR-erasure shape at 100 TB: the delete itself writes
    * kilobytes, the rewrite cost is deferred to the next compaction.
    *
    * Contract: `keyCol` must uniquely identify the rows to delete
    * (tombstones suppress EVERY row with a deleted key, including
    * rows appended later with the same key — re-inserting a deleted
    * key requires a compact first, which the append-after-delete spec
    * pins). MERGE and copy-on-write DELETE fail fast while tombstones
    * are outstanding; `changesSince` and the streaming source reject
    * tombstone commits like any non-insert.
    *
    * Returns (version, tombstonedKeyCount).
    */
  def deleteMoR(
      spark: SparkSession, path: String, predicate: Column,
      keyCol: String): (Int, Long) = {
    val matching = read(spark, path).filter(coalesce(predicate, lit(false)))
    val (keys, n) =
      checkpointWithCount(matching.select(col(keyCol)).distinct())
    if (n == 0) return (latestVersion(path), 0L)
    // CDF sidecar: the rows VISIBLE at tombstone time, typed 'delete'.
    // (A tombstone also suppresses same-key rows appended later; those
    // never reach the feed as inserts-then-deletes — re-inserting a
    // tombstoned key requires a compact first, which the
    // append-after-delete spec pins, so the feed stays consistent.)
    val cdfSet = stageCdf(path, Seq((matching, "delete")))
    val v = commit(keys, path, "tombstone", cdfSet = cdfSet)
    (v, n)
  }

  /** POSITIONAL DELETION VECTORS — merge-on-read DELETE for ANY
    * predicate (Iceberg position deletes / Delta deletion vectors):
    * instead of rewriting the hit file-sets (copy-on-write
    * [[delete]]) or keying on a unique column ([[deleteMoR]]), commit
    * ONE sidecar of (set, file, row-position) triples for exactly the
    * rows where `predicate` is TRUE — O(deleted rows) positions
    * written, ZERO data bytes rewritten, no key column required.
    * Readers mask the positions at scan time (a broadcast anti-join
    * on `_metadata.row_index` inside [[scanSets]] — DVs are small by
    * construction); [[compact]] materializes and clears them.
    *
    * Semantics vs key tombstones: a DV suppresses ONLY the physical
    * rows it was committed against — rows APPENDED LATER stay visible
    * even when they satisfy the predicate (position identity, not
    * value identity), so delete-then-reinsert works without an
    * intervening compact. DVs stack across commits, compose with
    * outstanding key tombstones (both sidecar families apply on
    * read), and already-deleted rows never re-match (so CDF images
    * are never double-reported). The sidecar rides the tombstone
    * lifecycle wholesale: merge / CoW delete / clone / restore /
    * rename refuse while DVs are outstanding, vacuum fences the
    * sidecar, checkpoints carry it, compact's rewrite clears it.
    *
    * At 100 TB this is the cheap-erasure shape for predicates no key
    * column serves: the delete writes kilobytes of positions; the
    * rewrite cost is deferred to the next compaction.
    *
    * Returns (version, deletedRows); a no-hit delete commits nothing.
    */
  def deleteDv(
      spark: SparkSession, path: String, predicate: Column): (Int, Long) = {
    val d = openDml(spark, path)
    dvMatches(d, predicate).fold((d.s.version, 0L)) { case (matching, n) =>
      (dvTombstone(d, matching, None, Seq((matching.select(
        d.target.fieldNames.toIndexedSeq.map(col): _*), "delete"))), n)
    }
  }

  /** Instrumentation: (scanned, skipped) live-set counts of the last
    * [[deleteDv]]/[[updateDv]] position scan — the spec/gate hook for
    * manifest-level predicate pruning, same posture as
    * [[lastDeleteKeysShortlist]]. THREAD-LOCAL: the verify harness
    * runs gates concurrently, and every legitimate reader inspects
    * the mutation ITS OWN thread just performed — a global would let
    * one gate's mutation clobber another's flag mid-read.
    */
  private[this] val _lastDvScanSets =
    ThreadLocal.withInitial[(Int, Int)](() => (0, 0))
  private[graft] def lastDvScanSets: (Int, Int) = _lastDvScanSets.get()

  /** Instrumentation: (scanned, skipped) live-set counts of the last
    * copy-on-write [[delete]]/[[update]] victim search — same hook
    * (and same thread-local rationale) for the CoW paths.
    */
  private[this] val _lastCowScanSets =
    ThreadLocal.withInitial[(Int, Int)](() => (0, 0))
  private[graft] def lastCowScanSets: (Int, Int) = _lastCowScanSets.get()

  /** Conjunctive integral range constraints IMPLIED by `predicate`,
    * extracted from its unresolved expression tree: top-level AND
    * conjuncts of the shape `c (=|<|<=|>|>=) literal` (either
    * operand order) and `c IN (literals)` over columns whose TARGET
    * type is integral (the zone-map value domain — the same
    * soundness restriction as deleteKeys' span pruning: a string
    * column's lexicographic stats cannot serve a numeric range). Any
    * row where the predicate is TRUE satisfies every returned range,
    * so sets provably disjoint from one of them cannot contain a
    * matching row — manifest-level data skipping for DV mutations,
    * derived from the predicate itself so the SQL route prunes with
    * zero caller hints. OR branches, casts, and anything non-literal
    * contribute no constraint (conservative). Alongside the ranges come
    * the EXACT value lists of `=`/`IN` conjuncts — the shape per-set
    * Bloom sidecars can answer when zone maps cannot (high-cardinality
    * keys interleaved across every set's span). Returned as (ranges,
    * equalities).
    */
  private[sources] def predicateConstraints(
      predicate: Column, target: StructType,
      generated: Map[String, String] = Map.empty)
      : (Seq[(String, Long, Long)], Seq[(String, Seq[Long])]) = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    // Constraints are extracted for every PRUNABLE column: integral
    // (own value domain), DATE (epoch days), TIMESTAMP (epoch
    // micros) — the same long images statLongExpr records stats
    // under, so a one-day temporal predicate opens one day's sets
    // exactly like an integer key would.
    val prunable: Map[String, org.apache.spark.sql.types.DataType] =
      target.fields.filter(f => isPrunableType(f.dataType))
        .map(f => f.name -> f.dataType).toMap
    def width(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case org.apache.spark.sql.types.ByteType => 1
      case org.apache.spark.sql.types.ShortType => 2
      case org.apache.spark.sql.types.IntegerType => 3
      case org.apache.spark.sql.types.LongType => 4
      case _ => 0
    }
    def attrOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        prunable.keys.find(_.equalsIgnoreCase(a.nameParts.head))
      case a: AttributeReference => prunable.keys.find(_.equalsIgnoreCase(a.name))
      // A WIDENING integral cast of an INTEGRAL column is
      // value-preserving, so the comparison constrains the underlying
      // column unchanged (the analyzer inserts these around coerced
      // comparisons — the `.sql`-round-tripped DELETE predicate
      // carries them verbatim). A NARROWING cast can wrap, and a cast
      // over a TEMPORAL column changes the value domain (ts→long is
      // seconds, not micros) — neither is ever unwrapped.
      case c: Cast if width(c.dataType) > 0 =>
        attrOf(c.child).filter { name =>
          target.fields.find(_.name == name).exists(f =>
            width(f.dataType) > 0 && width(c.dataType) >= width(f.dataType))
        }
      case _ => None
    }
    // Session zone for date→micros promotion and string temporal
    // literals — the SAME rule Spark's own cast applies at runtime.
    lazy val zone = DateTimeUtils.getZoneId(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    /** The literal's long image IN `colName`'s stats domain, or None
      * when the literal cannot be soundly converted (→ no constraint,
      * conservative scan).
      */
    def litFor(colName: String, e: Expression): Option[Long] = {
      def strip(x: Expression): Expression = x match {
        // CAST(lit AS wider-integral) is value-preserving; narrowing
        // can wrap (non-ANSI) — only unwrap widening over integrals.
        case c: Cast if width(c.dataType) > 0 =>
          c.child match {
            case l @ Literal(v, src) if v != null && isIntegralType(src) &&
                width(c.dataType) >= width(src) => l
            case _ => x
          }
        case _ => x
      }
      (prunable(colName), strip(e)) match {
        case (dt, Literal(v, lt)) if isIntegralType(dt) &&
            v != null && isIntegralType(lt) =>
          Some(v.toString.toLong)
        case (org.apache.spark.sql.types.DateType,
            Literal(v, org.apache.spark.sql.types.DateType)) if v != null =>
          Some(v.asInstanceOf[Int].toLong)
        case (org.apache.spark.sql.types.DateType,
            Literal(v, org.apache.spark.sql.types.StringType)) if v != null =>
          DateTimeUtils.stringToDate(
            v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
            .map(_.toLong)
        case (org.apache.spark.sql.types.TimestampType,
            Literal(v, org.apache.spark.sql.types.TimestampType)) if v != null =>
          Some(v.asInstanceOf[Long])
        case (org.apache.spark.sql.types.TimestampType,
            Literal(v, org.apache.spark.sql.types.DateType)) if v != null =>
          Some(DateTimeUtils.daysToMicros(v.asInstanceOf[Int], zone))
        case (org.apache.spark.sql.types.TimestampType,
            Literal(v, org.apache.spark.sql.types.StringType)) if v != null =>
          DateTimeUtils.stringToTimestamp(
            v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], zone)
        // TIMESTAMP_NTZ columns prune in the LOCAL-micros image (see
        // statLongExpr) — only timezone-independent literal kinds may
        // bind: an NTZ literal IS local micros; a date literal is
        // local midnight; a string parses wall-clock (Spark's own
        // string→NTZ rule). An INSTANT (LTZ) literal is skipped:
        // Spark coerces that comparison into the instant domain,
        // where the local image cannot answer soundly across DST.
        case (org.apache.spark.sql.types.TimestampNTZType,
            Literal(v, org.apache.spark.sql.types.TimestampNTZType))
            if v != null =>
          Some(v.asInstanceOf[Long])
        case (org.apache.spark.sql.types.TimestampNTZType,
            Literal(v, org.apache.spark.sql.types.DateType)) if v != null =>
          Some(v.asInstanceOf[Int].toLong * 86400000000L)
        case (org.apache.spark.sql.types.TimestampNTZType,
            Literal(v, org.apache.spark.sql.types.StringType)) if v != null =>
          // Spark's own string→NTZ rule: wall-clock parse, any explicit
          // zone suffix DROPPED — exactly the cast the analyzer inserts.
          DateTimeUtils.stringToTimestampWithoutTimeZone(
            v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        // STRING columns prune in the order-preserving prefix image
        // (lossy — comparisons stay sound for overlap/containment, and
        // cmp() below skips ±1 sharpening for them).
        case (org.apache.spark.sql.types.StringType,
            Literal(v, org.apache.spark.sql.types.StringType)) if v != null =>
          Some(stringPrefixImage(v.toString))
        case _ => None
      }
    }
    def bind(a: Expression, b: Expression): Option[(String, Long)] =
      for { c <- attrOf(a); x <- litFor(c, b) } yield (c, x)
    type Cons = (Seq[(String, Long, Long)], Seq[(String, Seq[Long])])
    val none: Cons = (Seq.empty, Seq.empty)
    def both(a: Cons, b: Cons): Cons = (a._1 ++ b._1, a._2 ++ b._2)
    def eq(a: Expression, b: Expression): Cons = {
      val hits = bind(a, b).toSeq ++ bind(b, a).toSeq
      (hits.map { case (c, x) => (c, x, x) },
        hits.map { case (c, x) => (c, Seq(x)) })
    }
    def cmp(op: String, a: Expression, b: Expression): Cons = op match {
      case "=" | "==" => eq(a, b)
      case ">=" =>
        (bind(a, b).map { case (c, x) => (c, x, Long.MaxValue) }.toSeq ++
          bind(b, a).map { case (c, x) => (c, Long.MinValue, x) }.toSeq,
          Seq.empty)
      case "<=" =>
        (bind(a, b).map { case (c, x) => (c, Long.MinValue, x) }.toSeq ++
          bind(b, a).map { case (c, x) => (c, x, Long.MaxValue) }.toSeq,
          Seq.empty)
      case ">" =>
        (bind(a, b).collect {
          case (c, x) if !isExactImage(prunable(c)) =>
            // Lossy (string) image: a longer value sharing the prefix
            // has the SAME image, so strict > binds only as >=.
            (c, x, Long.MaxValue)
          case (c, x) if x < Long.MaxValue =>
            (c, x + 1, Long.MaxValue)
        }.toSeq ++
          bind(b, a).collect {
            case (c, x) if !isExactImage(prunable(c)) =>
              (c, Long.MinValue, x)
            case (c, x) if x > Long.MinValue =>
              (c, Long.MinValue, x - 1)
          }.toSeq, Seq.empty)
      case "<" =>
        (bind(a, b).collect {
          case (c, x) if !isExactImage(prunable(c)) =>
            (c, Long.MinValue, x)
          case (c, x) if x > Long.MinValue =>
            (c, Long.MinValue, x - 1)
        }.toSeq ++
          bind(b, a).collect {
            case (c, x) if !isExactImage(prunable(c)) =>
              (c, x, Long.MaxValue)
            case (c, x) if x < Long.MaxValue =>
              (c, x + 1, Long.MaxValue)
          }.toSeq, Seq.empty)
      case _ => none
    }
    def inCons(a: Expression, vs: Seq[Expression]): Cons =
      attrOf(a) match {
        case Some(c) if vs.nonEmpty =>
          val xs = vs.map(litFor(c, _))
          if (xs.forall(_.isDefined)) {
            val flat = xs.flatten
            (Seq((c, flat.min, flat.max)), Seq((c, flat)))
          } else none
        case _ => none
      }
    def go(e: Expression): Cons = e match {
      // The SQL-parsed shapes (expr("...") / typed builders).
      case And(l, r) => both(go(l), go(r))
      case EqualTo(a, b) => eq(a, b)
      case GreaterThanOrEqual(a, b) => cmp(">=", a, b)
      case LessThanOrEqual(a, b) => cmp("<=", a, b)
      case GreaterThan(a, b) => cmp(">", a, b)
      case LessThan(a, b) => cmp("<", a, b)
      case In(a, vs) => inCons(a, vs)
      // The Column-dsl shapes: `col("c") <= 50` converts to an
      // UNRESOLVED FUNCTION named for the operator, not the typed
      // comparison node.
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        val as = f.arguments
        f.nameParts.head.toLowerCase(java.util.Locale.ROOT) match {
          case "and" if as.length == 2 => both(go(as(0)), go(as(1)))
          case op @ ("=" | "==" | "<=" | ">=" | "<" | ">") if as.length == 2 =>
            cmp(op, as(0), as(1))
          case "in" if as.length >= 2 => inCons(as.head, as.tail)
          case _ => none
        }
      case _ => none
    }
    val cons = go(org.apache.spark.sql.GraftBridge.catalystExpression(predicate))
    // Transitive generated-column pruning: base-column ranges derive
    // ranges on recognized monotone generated columns, so a `ts`
    // predicate prunes a `day GENERATED AS (ts div N)` layout.
    (cons._1 ++ deriveGeneratedConstraints(cons._1, target, generated),
      cons._2)
  }

  /** GENERATED-COLUMN TRANSITIVE PRUNING (Delta's generated-column
    * partition pruning): a predicate on a BASE column derives range
    * constraints on every generated column whose recorded expression
    * is a recognized MONOTONE function of that base — so a `ts`
    * predicate prunes a table laid out by `day GENERATED AS (ts div
    * 86400)` without the user naming `day`. Recognized shapes (both
    * sides evaluated in the SAME long-image domain the stats use):
    *   - `b div N` (N > 0 literal) over an integral base — Spark's
    *     `div` truncates toward zero, which is monotone for N > 0;
    *   - `year(b)` over a DATE base (epoch-days image → civil year).
    * Unbounded endpoints stay unbounded; anything unrecognized
    * derives nothing (conservative).
    */
  private[sources] def deriveGeneratedConstraints(
      ranges: Seq[(String, Long, Long)], target: StructType,
      generated: Map[String, String]): Seq[(String, Long, Long)] = {
    if (generated.isEmpty || ranges.isEmpty) return Seq.empty
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    def baseName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litLong(e: Expression): Option[Long] = e match {
      case Literal(v, t) if v != null && isIntegralType(t) =>
        Some(v.toString.toLong)
      case _ => None
    }
    // (generated col, base col, monotone image function)
    val rules: Seq[(String, String, Long => Long)] = generated.toSeq.flatMap {
      case (g, sql) =>
        val parsed = scala.util.Try(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(sql)).toOption
        val rule: Option[(String, Long => Long)] = parsed.flatMap {
          case IntegralDivide(b, n, _) =>
            for { bn <- baseName(b); nv <- litLong(n) if nv > 0
                  f <- target.fields.find(_.name.equalsIgnoreCase(bn))
                  if isIntegralType(f.dataType) }
              yield (f.name, (x: Long) => x / nv)
          case uf: UnresolvedFunction
              if uf.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
                == Seq("div") && uf.arguments.length == 2 =>
            for { bn <- baseName(uf.arguments.head)
                  nv <- litLong(uf.arguments(1)) if nv > 0
                  f <- target.fields.find(_.name.equalsIgnoreCase(bn))
                  if isIntegralType(f.dataType) }
              yield (f.name, (x: Long) => x / nv)
          case uf: UnresolvedFunction
              if uf.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
                == Seq("year") && uf.arguments.length == 1 =>
            for { bn <- baseName(uf.arguments.head)
                  f <- target.fields.find(_.name.equalsIgnoreCase(bn))
                  if f.dataType == org.apache.spark.sql.types.DateType }
              yield (f.name,
                (d: Long) => java.time.LocalDate.ofEpochDay(d).getYear.toLong)
          case _ => None
        }
        rule.map { case (b, fn) => (g, b, fn) }
    }
    ranges.flatMap { case (c, lo, hi) =>
      rules.collect { case (g, b, fn) if b.equalsIgnoreCase(c) =>
        (g,
          if (lo == Long.MinValue) Long.MinValue else fn(lo),
          if (hi == Long.MaxValue) Long.MaxValue else fn(hi))
      }
    }
  }

  /** Does `ls` possibly hold a row satisfying constraints extracted
    * from a mutation predicate? Zone-map test per range conjunct +
    * Bloom-sidecar test per equality/IN conjunct (a set where EVERY
    * candidate value tests negative provably holds no matching row —
    * blooms have no false negatives). Missing stats or missing/corrupt
    * sidecars read conservatively.
    */
  private[sources] def setMayMatch(
      path: String, ls: LiveSet,
      ranges: Seq[(String, Long, Long)],
      eqs: Seq[(String, Seq[Long])]): Boolean = {
    ranges.forall { case (c, lo, hi) =>
      ls.statsFor(c) match {
        case Some(SetStats(_, sLo, sHi, _, _)) => !(sHi < lo || sLo > hi)
        case None => true // unknown span — must look
      }
    } && eqs.forall { case (c, vs) =>
      readBloomSidecar(path, ls.set, c) match {
        case Some((words, k)) =>
          vs.exists(v => graft.plans.GraftBloom.mightContain(words, k, v))
        case None => true // no verified bloom — must look
      }
    }
  }

  /** Deletion-vector front end: the live sets of `s` that may hold a
    * row satisfying `cons` (recorded in [[lastDvScanSets]]) and their
    * VISIBLE rows with the position triple (`__dv_set`/`__dv_file`/
    * `__dv_pos`, exactly what a deletion-vector commit records) in
    * front — only rows a reader would serve can match, which keeps CDF
    * single-reported and position sidecars minimal.
    *
    * `cons` (ranges + equality value lists implied by the caller's
    * predicate) skips live sets that provably hold no matching row —
    * zone maps answer the ranges, Bloom sidecars the equalities: a
    * one-day DV delete over a date-laid-out table opens one day's
    * sets, and a point delete on a bloom-indexed key opens ~1 set
    * even when every set spans the full key range. Sets lacking
    * stats/sidecars on a constrained column are read conservatively.
    */
  private def positionedRows(
      spark: SparkSession, path: String, s: Snapshot,
      cons: (Seq[(String, Long, Long)], Seq[(String, Seq[Long])]) =
        (Seq.empty, Seq.empty)): (Seq[LiveSet], DataFrame) = {
    val (scan, skip) = pruneSets(path, s.live, cons._1, cons._2)
    _lastDvScanSets.set((scan.size, skip.size))
    (scan, scanSets(spark, path, scan, StructType.fromDDL(s.schemaDdl),
      s.renames, s.tombstones, CarryPositions))
  }

  /** MERGE-ON-READ UPDATE via deletion vectors — `UPDATE ... SET ...
    * WHERE ...` for ANY predicate with ZERO data rewritten in the hit
    * sets (Delta's deletion-vector UPDATE): ONE atomic commit (action
    * `updatedv`) carries BOTH a position sidecar masking the old row
    * images AND an appended file-set with the rewritten rows. The hit
    * file-sets are untouched bytes — the rewrite cost is O(updated
    * rows), deferred to the next [[compact]], vs [[update]]'s
    * copy-on-write rewrite of every set containing a match.
    *
    * Assignment semantics match [[update]]: every right-hand side
    * reads the INPUT row (`SET a = b, b = a` swaps), targets must be
    * distinct existing columns, CHECK constraints validate the
    * rewritten rows. Works with outstanding DVs / key tombstones
    * (only VISIBLE rows match — DVs stack); CDF stages
    * update_preimage + update_postimage. The position sidecar is
    * computed against THIS snapshot, so any concurrent commit aborts
    * with ConcurrentModificationException — re-run to re-resolve.
    *
    * At 100 TB this is the hot-row mutation shape: touching 0.01% of
    * rows costs kilobytes of positions + one small append, not a
    * rewrite of every 128 MB set that holds a match.
    *
    * Returns (version, updatedRows); a no-hit update commits nothing.
    */
  def updateDv(
      spark: SparkSession, path: String, predicate: Column,
      sets: Seq[(String, Column)],
      statsCol: Option[String] = None): (Int, Long) = {
    val d = openDml(spark, path)
    requireAssignments(d, sets)
    dvMatches(d, predicate).fold((d.s.version, 0L)) { case (matching, n) =>
      val pre = matching.select(d.target.fieldNames.toIndexedSeq.map(col): _*)
      // Every row here already satisfies the predicate, so no per-row
      // WHEN is needed.
      val post = pre.select(postImage(d.target, sets): _*)
      (dvCommit(d, matching.select(DvCols.map(col): _*), post, statsCol.toSeq,
        None, Seq((pre, "update_preimage"), (post, "update_postimage"))), n)
    }
  }

  /** REPLACE WHERE (Delta's `overwrite` + `replaceWhere`): atomically
    * replace ONLY the rows with `col` in `[lo, hi]` by `df`, in one
    * commit — the idempotent partition-reload shape (re-land one day
    * from upstream without touching any other day). Zone maps prune
    * the victim search to overlapping file-sets; sets fully INSIDE
    * the range drop by reference (no scan of their rows), straddling
    * sets rewrite their outside-range remainder. Every replacement
    * row must itself satisfy the predicate (rows outside the range
    * are refused loudly, Delta's replaceWhere contract — otherwise
    * the operation silently stops being idempotent). CHECK
    * constraints validate `df`; CDF stages delete(old in-range rows)
    * + insert(new rows).
    * Returns (version, rewrittenSets, keptSets, replacedRows).
    */
  def replaceWhere(
      spark: SparkSession, path: String, df: DataFrame,
      c: String, lo: Long, hi: Long): (Int, Int, Int, Long) = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val d = openDml(spark, path, refuseTombstones = Some("compact first"))
    import d.{s, target}
    require(target.fieldNames.contains(c), s"no column '$c' at $path")
    val inRange = functions.col(c) >= lo && functions.col(c) <= hi
    val nOutside = df.filter(!coalesce(inRange, lit(false))).count()
    require(nOutside == 0,
      s"replaceWhere: $nOutside replacement row(s) fall outside " +
        s"$c in [$lo, $hi] — the predicate must cover every new row")
    val (candidates, kept) = pruneSets(path, s.live, Seq((c, lo, hi)))
    // Sets provably FULLY inside the range drop by reference — no row
    // of theirs needs rewriting or counting (tombstones are refused, so
    // the recorded count is the visible one; a row scan runs only when
    // CDF must record their delete images). Straddling sets rewrite
    // their outside-range remainder.
    val (inside, straddle) = candidates.partition(ls =>
      ls.statsFor(c).exists(st => st.min >= lo && st.max <= hi))
    def scan(sets: Seq[LiveSet]): DataFrame =
      scanSets(spark, path, sets, target, s.renames, s.tombstones)
    val straddleIn = scan(straddle).filter(coalesce(inRange, lit(false)))
    val replaced = inside.map(ls => setRecordCount(path, ls.set)).sum +
      (if (straddle.isEmpty) 0L else straddleIn.count())
    val aligned = alignTo(df, target)
    val cdfSet = stageCdf(path, Seq(
      (scan(inside).unionByName(straddleIn), "delete"), (aligned, "insert")))
    val remainder = scan(straddle).filter(!coalesce(inRange, lit(false)))
    val v = cowRewrite(d, "merge", remainder.unionByName(aligned), candidates,
      Seq(c), cdfSet)
    (v, candidates.size, kept.size, replaced)
  }

  /** KEY-SET DELETE (copy-on-write): remove every row whose `keyCol`
    * appears in `keys` — the CDC-apply delete shape (a change feed
    * hands you a FRAME of deleted keys, and collecting it to build a
    * predicate would put the delta on the driver). One distributed
    * tag-and-count pass (left-semi per set) picks the file-sets that
    * contain matching rows; only those rewrite (left-anti). `tag`
    * rides the commit's idempotence ledger so a replayed micro-batch
    * applies exactly once, like [[appendIdempotent]]/[[merge]].
    * Returns (version, rewrittenSets, keptSets, deletedRows).
    */
  def deleteKeys(
      spark: SparkSession, path: String, keys: DataFrame, keyCol: String,
      statsCol: Option[String] = None,
      tag: Option[String] = None): (Int, Int, Int, Long) = {
    // Spec-hook hygiene: clear the last-shortlist BEFORE any early
    // return, so a tag-replay/empty-delta call never leaves a prior
    // call's shortlist visible to assertions.
    _lastDeleteKeysShortlist.remove()
    val d = openDml(spark, path, tag, refuseTombstones = Some(CompactFirst))
    import d.{s, target}
    val live = s.live
    d.replayed.foreach(v => return (v, 0, live.size, 0L))
    require(target.fieldNames.contains(keyCol), s"no column '$keyCol' at $path")
    // VICTIM SHORTLISTING — the delta is small, the table is not, so
    // no set may be scanned before cheaper evidence says it MIGHT hold
    // a delta key. Two metadata-cheap passes, both sound (they only
    // ever say "provably hit-free"):
    //  1. zone maps: the delta's key span (keySpan's lenient posture;
    //     NULL keys never match, so a partial span still prunes);
    //  2. Bloom sidecars: for zone survivors with an intact bloom on
    //     the key column, ONE distributed pass over the DELTA tests
    //     every key against every broadcast bloom (O(|delta| × sets)
    //     work) — a bloom that answers "no" for every delta key cannot
    //     hold a matching row.
    // Only the shortlist is scanned for exact match counts; per batch
    // the mirror pays O(delta + hit sets), not O(table). The span
    // probe runs FIRST, over the RAW delta (count/min/max are
    // duplicate-invariant): an empty delta — every batch of a CDC
    // stream with no deletes — exits after ONE tiny agg, never paying
    // the distinct+checkpoint materialization below.
    val rawKeys = keys.select(col(keyCol))
    val span = keySpan(rawKeys, keyCol)
    if (span.nonNull == 0L) return (s.version, 0, live.size, 0L) // empty delta
    val k = rawKeys.distinct().localCheckpoint(true)
    val zoneSurvivors = span.span.fold(live) { case (lo, hi) =>
      pruneSets(path, live, Seq((keyCol, lo, hi)))._1
    }
    // Bloom sidecars hash INTEGRAL values (writeBloomSidecars refuses
    // temporal columns), so only integral keys may consult them —
    // temporal keys stop at the zone-map leg above.
    val bloomed: Map[String, (Array[Long], Int)] =
      if (span.span.isEmpty || !isIntegralType(k.schema(keyCol).dataType)) Map.empty
      else zoneSurvivors
        .flatMap(ls => readBloomSidecar(path, ls.set, keyCol)
          .map(ls.set -> _)).toMap
    val bloomHits: Set[String] =
      if (bloomed.isEmpty) Set.empty
      else {
        // NULL keys (and per-row uncastable values) can never match a
        // row of the integral bloom column — filter the cast, which
        // the getLong pass would otherwise NPE on. Checkpointed once,
        // re-probed per batch below.
        val keyVals = k.select(col(keyCol).cast("long").as("_bk"))
          .filter(col("_bk").isNotNull)
          .map(_.getLong(0))(org.apache.spark.sql.Encoders.scalaLong)
        // BOUNDED broadcast: probe the sidecars in fixed-size set
        // batches, so driver/executor memory holds O(batch × bloom)
        // bytes regardless of how many live sets the table has — a
        // 10k-set table must not materialize 10k blooms at once. The
        // delta is checkpointed, so each extra pass re-reads a small
        // cached frame; every batch must be probed (a hit is a
        // per-set fact — there is no early exit across batches).
        bloomed.toSeq.grouped(BloomProbeBatch).flatMap { batch =>
          val bc = spark.sparkContext.broadcast(batch.toMap)
          val hits = keyVals.mapPartitions { it =>
            val m = bc.value
            val found = scala.collection.mutable.Set[String]()
            it.foreach { v =>
              m.foreach { case (set, (words, kk)) =>
                if (!found(set) &&
                    graft.plans.GraftBloom.mightContain(words, kk, v))
                  found += set
              }
            }
            found.iterator
          }(org.apache.spark.sql.Encoders.STRING)
            .distinct().collect().toSet
          bc.destroy()
          hits
        }.toSet
      }
    val shortlist = zoneSurvivors.filter(ls =>
      !bloomed.contains(ls.set) || bloomHits(ls.set))
    _lastDeleteKeysShortlist.set(shortlist.map(_.set))
    if (shortlist.isEmpty) return (s.version, 0, live.size, 0L)
    // ONE relation per distinct schema, ONE shuffle-free tally by set
    // name — O(schemas) plan however long the shortlist.
    val matchCounts = tallyBySet(scanSets(spark, path, shortlist, target,
      s.renames, s.tombstones, CarrySet).join(k, Seq(keyCol), "left_semi"))
    val hitSets = shortlist.filter(ls => matchCounts.getOrElse(ls.set, 0L) > 0)
    val deleted = matchCounts.values.sum
    if (hitSets.isEmpty) return (s.version, 0, live.size, 0L)
    val hitDf = scanSets(spark, path, hitSets, target, s.renames, s.tombstones)
    val cdfSet = stageCdf(path, Seq((hitDf.join(k, Seq(keyCol), "left_semi"), "delete")))
    val v = cowRewrite(d, "delete", hitDf.join(k, Seq(keyCol), "left_anti"),
      hitSets, statsCol.toSeq, cdfSet, tag)
    (v, hitSets.size, live.size - hitSets.size, deleted)
  }

  /** Spec instrumentation: the file-sets the last [[deleteKeys]] call
    * actually scanned for match counts (its post-zone-map, post-bloom
    * shortlist) — only shortlisted sets are ever read, so asserting a
    * disjoint/never-hit set absent here proves it was not scanned.
    * THREAD-LOCAL for the [[lastDvScanSets]] reason: gates read it
    * back while other threads run their own key deletes.
    */
  private[this] val _lastDeleteKeysShortlist =
    ThreadLocal.withInitial[Seq[String]](() => Seq.empty)
  private[graft] def lastDeleteKeysShortlist: Seq[String] =
    _lastDeleteKeysShortlist.get()

  /** Zone-map DELETE of a `[lo, hi]` range on `col`: file-sets whose
    * recorded `SetStats(col)` span is DISJOINT from the range are
    * skipped WITHOUT scanning — the manifest-level pruning that makes
    * a one-partition delete touch one partition's files at 100 TB.
    * Sets lacking stats on `col` are scanned conservatively.
    */
  def deleteRange(
      spark: SparkSession, path: String, col: String, lo: Long, hi: Long,
      statsCol: Option[String] = None): (Int, Int, Int, Long) =
    cowPredicateMutation(spark, path,
      functions.col(col) >= lo && functions.col(col) <= hi,
      statsCol.orElse(Some(col)), Seq((col, lo, hi)), None)

  /** Row-level UPDATE (copy-on-write): apply `sets` (column →
    * replacement expression, evaluated against the OLD row — all
    * right-hand sides see pre-update values, SQL UPDATE semantics) to
    * the rows where `predicate` is TRUE (NULL leaves the row
    * unchanged), rewriting ONLY the file-sets that contain matching
    * rows — the same one-pass tag-and-count pruning as [[delete]], so
    * a one-partition UPDATE rewrites one partition's files at 100 TB.
    * CHECK constraints validate the rewritten set before it lands;
    * CDF (when enabled) stages update_preimage/update_postimage rows.
    * Returns (version, rewrittenSets, keptSets, updatedRows).
    */
  def update(
      spark: SparkSession, path: String, predicate: Column,
      sets: Seq[(String, Column)],
      statsCol: Option[String] = None): (Int, Int, Int, Long) =
    cowPredicateMutation(spark, path, predicate, statsCol, Seq.empty, Some(sets))

  /** Transactional COMPACTION: rewrite all live file-sets into one
    * range-sorted set of `numFiles` files, as a single atomic commit
    * (action `compact`, remove = everything live). Readers never see
    * a half-compacted table, and time travel to pre-compaction
    * versions still works until vacuum. Sorting on `sortCols` gives
    * the rewritten files disjoint per-file min/max ranges, so parquet
    * row-group/file skipping rides the layout (the src08 property) —
    * plus set-level zone-map stats on `statsCol` for merge pruning.
    * Outstanding merge-on-read tombstones are materialized and
    * cleared; the conflict fence of [[compactSets]] applies.
    */
  def compact(
      spark: SparkSession, path: String, sortCols: Seq[String],
      numFiles: Int, statsCol: Option[String] = None): Int = {
    val d = openDml(spark, path)
    compactSets(d, d.s.live, statsCol.toSeq)(rangeSorted(sortCols, numFiles))
  }

  /** SCOPED compaction (Delta's `OPTIMIZE ... WHERE`): compact ONLY
    * the live sets that might hold rows matching `predicate` —
    * selected off the MANIFEST through the same `predicateConstraints`
    * extraction every mutation path uses (zone maps answer range
    * conjuncts, Bloom sidecars equality conjuncts; sets without
    * stats on a constrained column are conservatively included).
    * Out-of-scope sets survive BY REFERENCE: at 100 TB you compact
    * yesterday's small-file partitions, not the table.
    *
    * Content-neutral like [[compact]] — whole sets are rewritten,
    * never rows filtered, so the table reads identically. Requires no
    * outstanding MoR tombstones: key tombstones mask by VALUE and a
    * position sidecar can span out-of-scope sets, so a PARTIAL
    * materialization could resurrect masked rows — run the full
    * OPTIMIZE to drain sidecars first (loud refusal, same fence as
    * merge). A scope matching fewer than two sets is a no-op (nothing
    * to coalesce).
    *
    * Returns (version, rewrittenSets, keptSets).
    */
  def compactWhere(
      spark: SparkSession, path: String, predicate: Column,
      sortCols: Seq[String], numFiles: Int,
      statsCol: Option[String] = None): (Int, Int, Int) = {
    val d = openDml(spark, path, refuseTombstones = Some(
      "a scoped compact cannot partially materialize them — run the full " +
        "OPTIMIZE first"))
    val (hit, kept) = cowCandidates(d, predicate)
    if (hit.size < 2) return (d.s.version, 0, d.s.live.size)
    (compactSets(d, hit, statsCol.toSeq)(rangeSorted(sortCols, numFiles)),
      hit.size, kept.size)
  }

  /** Z-ORDER compaction: one atomic `compact` commit whose rewritten
    * files are clustered by the Morton key of (colA, colB) — each
    * parquet file covers a narrow range of BOTH dimensions, so a
    * two-predicate scan skips at the file/row-group level inside the
    * set, while the recorded multi-column [[SetStats]] keep
    * `readPruned`/merge/delete pruning at the manifest level. The
    * lake-format twin of Delta's OPTIMIZE ZORDER BY.
    */
  def compactZOrder(
      spark: SparkSession, path: String, colA: String, colB: String,
      numFiles: Int): Int = {
    val d = openDml(spark, path)
    compactSets(d, d.s.live, Seq(colA, colB)) { rows =>
      val r = rows.agg(
        functions.min(col(colA).cast("double")),
        functions.max(col(colA).cast("double")),
        functions.min(col(colB).cast("double")),
        functions.max(col(colB).cast("double"))).head
      val z = Sources.zorderKey(
        col(colA), r.getDouble(0), r.getDouble(1),
        col(colB), r.getDouble(2), r.getDouble(3))
      rangeSorted(Seq("__z"), numFiles)(rows.withColumn("__z", z)).drop("__z")
    }
  }

  /** `df` range-partitioned into `numFiles` files on `cols`, sorted
    * within each: disjoint per-file min/max ranges.
    */
  private def rangeSorted(cols: Seq[String], numFiles: Int)(df: DataFrame): DataFrame =
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** Compaction materializer, shared by every OPTIMIZE shape: the rows
    * of `sets` are read from the pinned snapshot with its tombstones
    * applied (the [[read]] path) and replace exactly those sets in ONE
    * commit, together with the tombstones — only a whole-table
    * compaction admits any, so they are materialized and cleared. A
    * flat `layout` commits through [[cowRewrite]] (stats dimensions
    * plus `statsCols` and Bloom sidecars re-recorded); `partCols`
    * instead stages one set per partition value tuple with `statsCols`
    * recorded per partition, as [[appendPartitionedBy]] does, and the
    * Bloom sidecars re-recorded per set. Either
    * way the commit is fenced: a racing commit that rewrote or
    * position-masked a compacted set aborts it
    * (ConcurrentModificationException), and a racing append is
    * neither read nor removed.
    */
  private def compactSets(
      d: DmlScope, sets: Seq[LiveSet], statsCols: Seq[String],
      partCols: Seq[String] = Seq.empty)(layout: DataFrame => DataFrame): Int = {
    import d.{s, spark, path}
    require(sets.nonEmpty, s"nothing to compact at $path")
    val rows = layout(scanSets(spark, path, sets, d.target, s.renames,
      s.tombstones))
    if (partCols.isEmpty)
      return cowRewrite(d, "compact", rows, sets, statsCols,
        materialized = s.tombstones)
    val names = sets.map(_.set)
    val perSet = stagePartitionedMulti(rows, path, partCols, statsCols,
      bloomCols = reRecordable(d.target, s.renames, bloomColsOf(path, names)))
    try publishEntry(path, "padd", "", rows.schema, None,
      layoutStats(partCols, perSet), names ++ s.tombstones, None, perSet,
      fence = fenceFor(spark, path, names.toSet, s.tombstones))
    catch { case e: java.util.ConcurrentModificationException =>
      perSet.foreach(ls => reclaimStaged(path, ls.set))
      throw e
    }
  }

  /** RESTORE the table to `version` (Delta's RESTORE TABLE ... TO
    * VERSION AS OF): ONE new commit whose live-set list and schema
    * are exactly the target version's — ZERO data copied (the old
    * sets are re-referenced by name, which is why vacuum must not
    * have reclaimed them — refused loudly per set). History is
    * preserved: the restore itself is a commit, so time travel to the
    * pre-restore HEAD still works until vacuum.
    *
    * Fences (loud, never silent): every target set must still exist;
    * no rename lineage on either side (a restore across a rename
    * would need atomic lineage replay — compose after a compact
    * instead); no outstanding MoR tombstones on either side; and the
    * restored data must satisfy the CURRENT constraints (rules added
    * after the target version still hold — one scan, restore is
    * rare). With CDF enabled, the commit stages the row-level diff
    * (multiset exceptAll both ways — O(table), the Delta CDF restore
    * cost) so incremental consumers follow the rollback.
    *
    * Returns the restore commit's version.
    */
  def restore(spark: SparkSession, path: String, version: Int): Int = {
    val cur = snapshot(path)
    require(version >= 0 && version <= cur.version,
      s"version $version not in [0, ${cur.version}] for $path")
    if (cur.version == version) return cur.version // no-op
    // The re-published sets must carry RAW stats (see [[stateAt]]).
    val target = stateAt(path, version, raw = true)
    require(target.renames.isEmpty && cur.renames.isEmpty,
      s"restore across column-rename lineage at $path is not supported: " +
        "compact to materialize current names first")
    require(target.tombstones.isEmpty && cur.tombstones.isEmpty,
      s"outstanding merge-on-read tombstones at $path: compact first")
    def targetSetsExist(): Unit = target.live.foreach { ls =>
      require(Files.exists(Paths.get(setPathOf(path, ls.set))),
        s"cannot restore $path to v$version: file-set ${ls.set} was " +
          "vacuumed — that history is gone")
    }
    targetSetsExist()
    // A CONCURRENT vacuum can reclaim the target version's non-live
    // sets between the existence check above and the reads below
    // (Spark resolves paths eagerly) — re-run the check on any read
    // failure so the caller gets the documented loud refusal, not a
    // raw path error; unrelated failures re-throw. The publish fence
    // (expectVersion) separately aborts if the vacuum's audit commit
    // lands before ours.
    val cdfSet = try {
      val restoredDf = scanSets(spark, path, target.live,
        StructType.fromDDL(target.schemaDdl), Map.empty, target.tombstones)
      enforceConstraints(restoredDf, cur.constraints)
      if (!cdfEnabled(path)) None
      else {
        require(target.schemaDdl == cur.schemaDdl,
          s"CDF restore at $path needs matching schemas (target v$version " +
            "differs from HEAD): disable CDF or restore to a same-schema " +
            "version")
        val curDf = read(spark, path)
        stageCdf(path, Seq(
          (curDf.exceptAll(restoredDf), "delete"),
          (restoredDf.exceptAll(curDf), "insert")))
      }
    } catch {
      // Job-time FileNotFound surfaces as SparkException, plan-time as
      // AnalysisException — either way, vanished target sets are the
      // vacuum refusal, anything else re-throws untouched.
      case e if scala.util.control.NonFatal(e) =>
        targetSetsExist(); throw e
    }
    publishEntry(path, "restore", "",
      StructType.fromDDL(target.schemaDdl), None, Seq.empty,
      cur.live.map(_.set), None, perSet = target.live, cdfSet = cdfSet,
      expectVersion = Some(cur.version))
  }

  // --------------------------------------------------------------- vacuum

  /** Delete every data file-set not needed by the latest version or
    * by any version inside the RETENTION window — reclaims the space
    * of overwritten/merged-away sets at the price of TIME TRAVEL to
    * the versions older than retention (exactly Delta's VACUUM +
    * retention-hours trade; `retainMillis = 0` keeps only HEAD).
    *
    * Writer exclusion is ENFORCED, not documented: the sweep claims
    * the next log version (O_EXCL, the commit protocol's own lock)
    * and holds it across list-and-delete, so no commit can land
    * mid-sweep and no staged-but-unclaimed set can become live under
    * the sweeping reader's feet; the claim publishes as an audit
    * `vacuum` log entry. Deletion candidates are ONLY sets some
    * commit's remove-list names — a concurrently staged (pre-claim)
    * set is named by no commit and survives untouched, which is what
    * makes vacuum-during-writers safe end to end.
    * Returns the deleted set names.
    */
  /** The vacuum candidate scan, shared by the claimed sweep and the
    * advisory [[vacuumDryRun]]: (dead data-set dirs, dead CDF dirs)
    * under `retainMillis` retention against the given log prefix.
    *
    * RETENTION (Delta's retention-hours): keep every set live at any
    * version that was HEAD after the cutoff — versions >= vMin, where
    * vMin is the first version whose SUCCESSOR commit is stamped
    * after the cutoff (stamps are monotonic); retainMillis = 0 keeps
    * only HEAD. Sets referenced by registered shallow clones survive
    * (the clone fence). Only sets the LOG explicitly removed are
    * candidates: a concurrently STAGED set (written, claim not yet
    * taken) is a data/ dir no commit names, and a mtime heuristic
    * cannot tell it from garbage — so the sweep never touches it.
    * CDF sidecars are log-addressable through each commit's `cdf`
    * field — those of commits outside the retention window die with
    * their feed range (Delta's CDF-files-beyond-retention trade).
    */
  private def vacuumDead(
      path: String, cs0: Seq[Commit], retainMillis: Long)
      : (Seq[java.nio.file.Path], Seq[java.nio.file.Path]) = {
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - retainMillis
    val vMin =
      if (retainMillis == 0L) cs0.size - 1
      else cs0.indices.find(i =>
        i + 1 >= cs0.size || cs0(i + 1).tsMillis > cutoff)
        .getOrElse(cs0.size - 1)
    // every version from vMin on: its state, then one commit at a time
    val keep = cs0.drop(vMin + 1)
      .scanLeft(stateAt(path, vMin, raw = true))((st, c) => foldStateRaw(st, Seq(c)))
      .flatMap(st => st.live.map(_.set) ++ st.tombstones).toSet ++
      cloneFence(path)
    val removedEver = cs0.flatMap(_.remove).toSet
    // Sets added by ABORTED cross-table transaction commits: the
    // resolve pass moves their add lists to `heldAdds` (permanent
    // no-ops), so the removedEver rule can never name them — but their
    // decision is stable, so the bytes are dead the moment the
    // abort-path cleanup missed them (coordinator died; abortTxn
    // decided later). PENDING transactions are NOT candidates: their
    // sets may yet go live.
    val abortedSets = cs0
      .filter(c => c.action == "txnnoop" && c.heldAction.isEmpty)
      .flatMap(_.heldAdds).toSet
    val dataDir = Paths.get(path, "data")
    val dead =
      if (!Files.exists(dataDir)) Seq.empty[java.nio.file.Path]
      else Files.list(dataDir).iterator().asScala.toSeq
        .filter(p => (removedEver(s"data/${p.getFileName}") ||
            abortedSets(s"data/${p.getFileName}")) &&
          !keep(s"data/${p.getFileName}"))
    val cdfDead: Seq[java.nio.file.Path] = {
      val keepCdf = cs0.filter(_.version >= vMin).flatMap(_.cdf).toSet
      val refCdf = cs0.flatMap(_.cdf).toSet
      val cdfDir = Paths.get(path, "cdf")
      if (!Files.exists(cdfDir)) Seq.empty
      else Files.list(cdfDir).iterator().asScala.toSeq
        .filter(p => refCdf(s"cdf/${p.getFileName}") &&
          !keepCdf(s"cdf/${p.getFileName}"))
    }
    (dead, cdfDead)
  }

  /** VACUUM DRY RUN (Delta's `VACUUM ... DRY RUN`): list what a sweep
    * with this retention WOULD reclaim, without claiming the log or
    * deleting anything. Advisory by nature — a commit racing the
    * listing can change the answer; the real [[vacuum]] recomputes
    * under its writer-exclusion claim.
    */
  def vacuumDryRun(path: String, retainMillis: Long = 0L): Seq[String] = {
    require(retainMillis >= 0, s"negative retention: $retainMillis")
    require(snapshot(path).version >= 0, s"no table at $path")
    val (dead, cdfDead) = vacuumDead(path, commits(path), retainMillis)
    dead.map(p => s"data/${p.getFileName}") ++
      cdfDead.map(p => s"cdf/${p.getFileName}")
  }

  /** RESTORE to the snapshot current AT `tsMillis` (Delta's RESTORE
    * ... TO TIMESTAMP AS OF): the [[readAsOf]] stamp-to-version rule
    * composed with [[restore]]'s fences.
    */
  def restoreAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val all = commits(path)
    require(all.nonEmpty, s"no table at $path")
    val at = all.lastIndexWhere(_.tsMillis <= tsMillis)
    require(at >= 0,
      s"timestamp $tsMillis precedes the first commit (${all.head.tsMillis}) at $path")
    restore(spark, path, at)
  }

  def vacuum(path: String, retainMillis: Long = 0L): Seq[String] = {
    require(retainMillis >= 0, s"negative retention: $retainMillis")
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, s"gave up claiming vacuum slot at $path after 50 races")
      val snap = snapshot(path)
      require(snap.version >= 0, s"no table at $path")
      val v = snap.version + 1
      val f = logFile(path, v)
      // WRITER EXCLUSION: vacuum claims the next log version with the
      // same O_EXCL protocol as a commit and holds it across the whole
      // list-and-delete window — no writer can publish a commit (and
      // so no new file-set can become live, no merge can re-reference
      // a set) until the sweep lands its own `vacuum` log entry. The
      // sweep must finish inside the stale-claim lease, which local
      // metadata deletes do with seconds of headroom; the published
      // entry also leaves an audit row in the history.
      val claimed =
        try { Files.createFile(f); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (claimed) {
        try {
          // The claim seals the log at v-1: fold the COMPLETE prefix.
          val cs0 = commits(path)
          val (dead, cdfDead) = vacuumDead(path, cs0, retainMillis)
          dead.foreach(rmTree)
          cdfDead.foreach(rmTree)
          // Publish the vacuum entry into the held claim (atomic
          // replace, same as a commit) — releases the exclusion.
          val ts = math.max(System.currentTimeMillis(), snap.tsMillis)
          val json = render(Commit(v, "vacuum", snap.schemaDdl,
            Seq.empty, Seq.empty, None, Seq.empty, ts))
          val tmp = logDir(path).resolve(f.getFileName.toString + ".tmp")
          Files.writeString(tmp, json)
          Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          return dead.map(p => s"data/${p.getFileName}") ++
            cdfDead.map(p => s"cdf/${p.getFileName}")
        } catch {
          case e: Throwable =>
            // A failed sweep must not wedge the table: drop the claim
            // if we never published it.
            try { if (Files.exists(f) && Files.size(f) == 0) Files.deleteIfExists(f) }
            catch { case _: java.io.IOException => () }
            throw e
        }
      }
      // Lost the claim race to a writer — adopt stale claims and retry,
      // the same recovery as publishEntry.
      try {
        if (Files.exists(f) && Files.size(f) == 0 &&
            System.currentTimeMillis() -
              Files.getLastModifiedTime(f).toMillis > StaleClaimLeaseMs) {
          Files.deleteIfExists(f)
        }
      } catch { case _: java.io.IOException => () }
      Thread.sleep(math.min(5L << math.min(attempts, 6), 250L))
    }
    Seq.empty // unreachable
  }

  // ----------------------------------------------------------------- json

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'u' =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case o => b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  private def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  private def render(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val tagField = c.tag.map(t => s""","tag":"${esc(t)}"""").getOrElse("") +
      c.cdf.map(s => s""","cdf":"${esc(s)}"""").getOrElse("") +
      c.txn.map(t => s""","txn":"${esc(t)}"""").getOrElse("")
    // "enc":2 tags the stats value domain (v2 = statLongExpr's exact
    // long images: DATE→days, TIMESTAMP→micros). Untagged TEMPORAL
    // stats are legacy seconds-domain entries — parse() drops them so
    // span probes can never compare micros against seconds and
    // silently skip a set (conservative full scan instead).
    val statsField =
      if (c.stats.isEmpty) ""
      else c.stats.map { st =>
        val sumField = st.sum.map(s => s""","sum":$s""").getOrElse("") +
          st.nn.map(n => s""","nn":$n""").getOrElse("")
        s"""{"col":"${esc(st.col)}","min":${st.min},"max":${st.max},"enc":2$sumField}"""
      }.mkString(""","stats":[""", ",", "]")
    val body =
      s"""{"version":${c.version},"action":"${c.action}",""" +
        s""""ts":${c.tsMillis},""" +
        s""""schema":"${esc(c.schemaDdl)}",""" +
        s""""add":${arr(c.add)},"remove":${arr(c.remove)}$tagField$statsField"""
    // Integrity seal over everything before it: a torn / bit-flipped
    // log entry fails loudly at read instead of silently corrupting
    // every later snapshot (the log IS the table).
    body + s""","crc":${crc32(body)}}"""
  }

  private val VersionRe: Regex = """"version":(\d+)""".r.unanchored
  private val TsRe: Regex = """"ts":(\d+)""".r.unanchored
  private val ActionRe: Regex = """"action":"([a-z]+)"""".r.unanchored
  private val SchemaRe: Regex = """"schema":"((?:[^"\\]|\\.)*)"""".r.unanchored
  private val AddRe: Regex = """"add":\[([^\]]*)\]""".r.unanchored
  private val RemoveRe: Regex = """"remove":\[([^\]]*)\]""".r.unanchored
  private val TagRe: Regex = """"tag":"((?:[^"\\]|\\.)*)"""".r.unanchored
  private val CdfRe: Regex = """"cdf":"((?:[^"\\]|\\.)*)"""".r.unanchored
  private val TxnRe: Regex = """"txn":"((?:[^"\\]|\\.)*)"""".r.unanchored
  private val StatsRe: Regex =
    """\{"col":"((?:[^"\\]|\\.)*)","min":(-?\d+),"max":(-?\d+)(?:,"enc":(\d+))?(?:,"sum":(-?\d+))?(?:,"nn":(\d+))?\}""".r.unanchored
  private val ItemRe: Regex = """"((?:[^"\\]|\\.)*)"""".r
  private val CrcRe: Regex = ""","crc":(\d+)\}\s*$""".r.unanchored

  private def parse(json: String): Commit = {
    // Verify the integrity seal when present (absent = pre-crc log).
    CrcRe.findFirstMatchIn(json).foreach { m =>
      val body = json.substring(0, m.start)
      require(crc32(body) == m.group(1).toLong,
        s"commit log entry failed its crc check (torn or corrupted): " +
          json.take(120))
    }
    def items(body: String): Seq[String] =
      ItemRe.findAllMatchIn(body).map(m => unesc(m.group(1))).toSeq
    (VersionRe.findFirstMatchIn(json), ActionRe.findFirstMatchIn(json),
      SchemaRe.findFirstMatchIn(json), AddRe.findFirstMatchIn(json),
      RemoveRe.findFirstMatchIn(json)) match {
      case (Some(v), Some(a), Some(s), Some(ad), Some(rm)) =>
        val schemaDdl = unesc(s.group(1))
        // Stats-encoding migration fence: an UNTAGGED ("enc" absent =
        // pre-v2) stat on a TEMPORAL column was recorded in the legacy
        // cast('long') seconds domain; every probe now compares
        // statLongExpr micros/days images, so keeping it would make
        // span pruning silently skip overlapping sets (missed deletes/
        // updates). Drop it — absent stats mean conservative full
        // scan, never a wrong answer. Integral stats are domain-
        // invariant across the change and are kept regardless.
        lazy val temporalCols: Set[String] =
          if (schemaDdl.isEmpty) Set.empty
          else scala.util.Try(StructType.fromDDL(schemaDdl)).toOption
            .map(_.fields.filter(f =>
              f.dataType == org.apache.spark.sql.types.TimestampType ||
                f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
                f.dataType == org.apache.spark.sql.types.DateType)
              .map(_.name).toSet)
            .getOrElse(Set.empty)
        val stats = StatsRe.findAllMatchIn(json).flatMap { m =>
          val colName = unesc(m.group(1))
          val tagged = m.group(4) != null
          if (!tagged && temporalCols.contains(colName)) None
          else Some(SetStats(colName, m.group(2).toLong, m.group(3).toLong,
            Option(m.group(5)).map(_.toLong),
            Option(m.group(6)).map(_.toLong)))
        }.toSeq
        Commit(v.group(1).toInt, a.group(1), schemaDdl,
          items(ad.group(1)), items(rm.group(1)),
          TagRe.findFirstMatchIn(json).map(m => unesc(m.group(1))),
          stats,
          TsRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L),
          cdf = CdfRe.findFirstMatchIn(json).map(m => unesc(m.group(1))),
          txn = TxnRe.findFirstMatchIn(json).map(m => unesc(m.group(1))))
      case _ => throw new IllegalStateException(s"bad commit json: $json")
    }
  }
}
