package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal transactional table layer — the Delta/Iceberg-style tier that
  * turns a directory of parquet files into a TABLE with ACID commits,
  * snapshot isolation, time travel, copy-on-write MERGE, and per-file
  * min/max data skipping. SURVEY §2.16; the round-5 verdict's "missing #2".
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>.parquet        immutable data files
  *   <root>/_txlog/v00000001.txt       DELTA manifest: what version 1 changed
  *   <root>/_txlog/v00000010.ckpt.txt  checkpoint: the FULL state at version 10
  * }}}
  *
  * The log is the Delta-pattern "checkpoint + deltas": each commit writes
  * only its CHANGES (added/removed file entries, touched stream
  * watermarks, a constraint replacement if any) — O(changed files), never
  * O(table) — and every [[TxTable.CheckpointInterval]]-th commit also
  * writes a full-state checkpoint. A version N snapshot is reconstructed
  * by loading the nearest checkpoint at or below N and replaying the
  * (bounded) delta tail — so at 10⁶ files a steady-state commit writes a
  * few lines, not a million, and a read parses one checkpoint plus at
  * most an interval's worth of tiny deltas. Pre-checkpoint full
  * manifests (the v1 on-disk format) are recognized as their own
  * checkpoints, so old tables read unchanged. Data files are written
  * FIRST and are invisible until a manifest names them — a crashed
  * writer leaves garbage bytes, never a corrupt table (spec-pinned);
  * checkpoints are derived acceleration, written AFTER the commit link
  * and safe to lose (readers fall back to an older checkpoint and more
  * deltas).
  *
  * Commit = put-if-absent of `v{N+1}`: the manifest is staged to a hidden
  * temp name and published with `Files.createLink` (hard link), which the
  * POSIX rename/link contract makes ATOMIC and EXCLUSIVE — unlike
  * `ATOMIC_MOVE`, which silently REPLACES an existing target on Linux and
  * would let two writers both "win" version N+1. Every write runs its
  * publish inside ONE commit loop ([[committing]]): each attempt derives
  * its commit from the snapshot it is handed, and a lost race re-reads
  * the new latest snapshot and calls the attempt again — where an
  * append simply rebases (it commutes with any concurrent commit) and a
  * copy-on-write rewrite first re-runs its conflict checks, aborting
  * when the race touched what it read (the optimistic-concurrency rule
  * real table formats apply). After [[TxTable.CommitRetries]] rebases —
  * or on the first lost race for the metadata-only verbs, which pass
  * `retries = 0` — the loop gives up with a
  * `ConcurrentModificationException` naming the operation and the table.
  * Nothing after the link can fail a commit: the staging-file delete and
  * the checkpoint are best-effort, so a published version is never
  * reported as failed (a caller that retried would write it twice).
  *
  * Per-file stats: each committed file carries `rows` plus min/max of the
  * declared `statCols` (computed by ONE distributed pass over the staged
  * files, grouped by `input_file_name` — never a driver-side row loop).
  * [[TxTable#readWhere]] prunes manifest entries whose [min,max] cannot
  * satisfy a range predicate BEFORE Spark plans the scan, then applies the
  * residual filter — at 100 TB this is the difference between "read 3
  * files" and "open a million footers". The 100 TB shape: manifests list
  * O(files) tiny rows on the driver; every data-sized operation (stats,
  * merge rewrite) is a Spark job.
  */
final class TxTable(val root: String, val statCols: Seq[String],
    val bloomCols: Seq[String] = Nil) {

  import TxTable._

  private val dataDir: Path = Paths.get(root, "data")
  private val logDir: Path = Paths.get(root, "_txlog")
  private val refsDir: Path = Paths.get(root, "_refs")
  private val TagFileName = """([A-Za-z0-9][A-Za-z0-9._-]*)\.txt""".r
  Files.createDirectories(dataDir)
  Files.createDirectories(logDir)

  // ---------------------------------------------------------------- snapshots

  /** Highest committed version, 0 if the table is empty. */
  def currentVersion: Int = listVersions.lastOption.getOrElse(0)

  private def listVersions: Seq[Int] = listLog._1

  /** One dir listing → (committed versions, checkpointed versions). */
  private def listLog: (Seq[Int], Set[Int]) = {
    val names = Option(logDir.toFile.listFiles()).getOrElse(Array.empty).map(_.getName)
    val vs = names.collect { case ManifestName(v) => v.toInt }
    val cks = names.collect { case CkptName(v) => v.toInt }
    (vs.sorted.toSeq, cks.toSet)
  }

  /** The state of `versionAsOf` (default: latest), reconstructed as the
    * nearest full state at or below it (a `.ckpt` checkpoint, a
    * v1-format full manifest, or the empty table) plus the replayed
    * delta tail. Version 0 is the empty table. */
  def snapshot(versionAsOf: Option[Int] = None): Snapshot = {
    val (versions, ckpts) = listLog
    val v = versionAsOf.getOrElse(versions.lastOption.getOrElse(0))
    if (v == 0) return Snapshot(0, Nil, Map.empty)
    require(versions.contains(v) || ckpts.contains(v),
      s"version $v does not exist (have $versions)")
    // Reconstructed states MEMOIZE process-wide (committed manifests are
    // immutable): the walk-back stops at any version whose state is
    // already cached, so a statement sequence pays one delta parse per
    // NEW commit instead of re-reading the chain from the last full
    // state every call — at manifest scale (10⁵-file states, dozens of
    // snapshot() calls per statement) that is the difference between
    // O(tail) and O(table) driver work per call. Keys carry the backing
    // file's (size, mtime) stamp, so a table dir deleted and re-created
    // at the same path (spec fixtures) can never serve the old state —
    // the stat is the only I/O a cache hit costs.
    def stampOf(cur: Int): Long = {
      val f = (if (ckpts.contains(cur)) logDir.resolve(ckptName(cur))
        else logDir.resolve(manifestName(cur))).toFile
      f.length * 1000003L + f.lastModified
    }
    val vStamp = stampOf(v)
    val vKey = (root, v, vStamp)
    val hit = TxTable.snapCache.get(vKey)
    if (hit != null) return hit
    var deltas = List.empty[DeltaRecord] // collected newest-first, applied oldest-first
    var cur = v
    var full: Snapshot = null
    while (full == null) {
      if (cur == 0) full = Snapshot(0, Nil, Map.empty)
      else {
        val cached =
          if (cur == v) null
          else TxTable.snapCache.get((root, cur, stampOf(cur)))
        if (cached != null) full = cached
        else if (ckpts.contains(cur)) {
          val (fs, ts, cs, cm, mt) = parseManifest(Files.readAllLines(logDir.resolve(ckptName(cur))))
          full = Snapshot(cur, fs, ts, cs, cm, mt)
        } else {
          val p = logDir.resolve(manifestName(cur))
          require(Files.exists(p),
            s"cannot reconstruct version $v of $root: manifest $cur is missing " +
              "and no checkpoint covers it")
          parseAnyManifest(Files.readAllLines(p)) match {
            case Left((fs, ts, cs, cm, mt)) => full = Snapshot(cur, fs, ts, cs, cm, mt)
            case Right(delta) => deltas ::= delta; cur -= 1
          }
        }
      }
    }
    var files = full.files
    var txns = full.txns
    var cons = full.constraints
    var cmap = full.colMap
    var meta = full.meta
    deltas.foreach { d =>
      val rm = d.removes.toSet
      files = files.filterNot(f => rm((f.path, f.dv))) ++ d.adds
      txns = txns ++ d.txns
      d.constraints.foreach(cs => cons = cs)
      d.colMap.foreach(m => cmap = m)
      d.meta.foreach(m => meta = Some(m))
    }
    val snap = Snapshot(v, files, txns, cons, cmap, meta)
    if (TxTable.snapCache.size >= 512) TxTable.snapCache.clear()
    TxTable.snapCache.put(vKey, snap)
    snap
  }

  // ------------------------------------------------------------------- reads

  // ------------------------------------------------------------------- tags

  /** Immutable named ref to a version (Iceberg's `CREATE TAG` / Delta's
    * pinned reads by name): `tag("audit-2026Q3", v)` makes version v
    * addressable by name AND protects it from [[vacuum]] — a tag is a
    * retention promise, so vacuum retains tagged versions regardless of
    * age (checkpointing them first so their reconstruction never needs
    * the expired delta chain). Creation is put-if-absent — tags are
    * IMMUTABLE; re-pointing a name is deleteTag + tag, never a silent
    * overwrite — and requires the target version to exist NOW (a tag
    * can only promise what is still reconstructable). */
  def tag(name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"invalid tag name '$name' (letters/digits/._- only, must start alphanumeric)")
    val (versions, ckpts) = listLog
    require(versions.contains(version) || ckpts.contains(version),
      s"cannot tag version $version of $root: it does not exist (have $versions)")
    Files.createDirectories(refsDir)
    try {
      Files.write(refsDir.resolve(s"$name.txt"),
        java.util.Arrays.asList(version.toString),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      ()
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"tag '$name' already exists on $root (tags are immutable; deleteTag first)")
    }
  }

  /** All named refs: tag name → pinned version. */
  def tags: Map[String, Int] = {
    Option(refsDir.toFile.listFiles()).getOrElse(Array.empty).flatMap { f =>
      f.getName match {
        case TagFileName(n) =>
          Some(n -> Files.readAllLines(f.toPath).get(0).trim.toInt)
        case _ => None
      }
    }.toMap
  }

  /** Drop a named ref. The version it pinned becomes reclaimable by the
    * NEXT vacuum (nothing is deleted here — releasing a promise is
    * metadata-only). Returns whether the tag existed. */
  def deleteTag(name: String): Boolean =
    Files.deleteIfExists(refsDir.resolve(s"$name.txt"))

  /** Read the table as of a named tag. */
  def readTag(spark: SparkSession, name: String): DataFrame = {
    val v = tags.getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $root (have ${tags.keys.toSeq.sorted.mkString(", ")})"))
    read(spark, Some(v))
  }

  /** Snapshot-isolated read: the file list is fixed at manifest-read time,
    * so a concurrent commit can never tear this scan. `mergeSchema`
    * unions the files' schemas — SCHEMA EVOLUTION: an append may carry
    * new columns, old files' rows read as NULL there, and no rewrite of
    * history is ever needed (add-column is a metadata-only operation,
    * the table-format property ALTER TABLE costs nothing for). */
  def read(spark: SparkSession, versionAsOf: Option[Int] = None): DataFrame = {
    val s = snapshot(versionAsOf)
    if (s.files.isEmpty)
      throw new IllegalStateException(s"table $root is empty at version ${s.version}")
    readFiles(spark, s.files, s.colMap, s.meta)
  }

  /** DV-aware read of a set of manifest entries — the merge-on-read
    * seam every internal path funnels through: entries without a
    * deletion vector scan plainly; entries with one scan tagged with
    * parquet's `_metadata` (file name + row index) and anti-join their
    * victim positions out. The anti-join costs only the DV'd files'
    * rows, the DV frames are tiny (victim positions, auto-broadcast),
    * and applying a victim twice is a no-op — so DVs may share files
    * and accumulate across deletes without coordination. */
  /** The physical (parquet/stats) name behind a logical column name —
    * identity until [[renameColumn]] has mapped it. Stats, blooms,
    * constraints and staged files all live in PHYSICAL terms (rename is
    * metadata-only, so what's on disk never changes); every user-facing
    * parameter arrives LOGICAL and funnels through here. */
  private def phys(s: Snapshot, logical: String): String = {
    val p = s.colMap.getOrElse(logical, logical)
    require(!droppedPhys(s.colMap).contains(p),
      s"column $logical was dropped at or before version ${s.version}")
    p
  }

  /** Physical names [[dropColumn]] has tombstoned in a column mapping:
    * entry `("-" + p) -> p` (the `-` prefix can never be a real logical
    * name — [[renameColumn]] validates `[A-Za-z_]`-leading identifiers).
    * Dropped physicals stay ON DISK and IN the mapping forever: the data
    * is immutable, the name is reserved so a later writer cannot
    * silently resurrect the old rows under a recycled column name. */
  private def droppedPhys(colMap: Map[String, String]): Set[String] =
    colMap.collect { case (l, p) if l == "-" + p => p }.toSet

  /** Raw parquet read of resolved data-file paths under the mixed-layout
    * discipline: paths inside `data/` that sit under a SUBDIRECTORY are
    * a converted table's `k=v` partition-dir files (read with basePath
    * so the partition values surface as columns); paths directly in
    * `data/` (every native write) and clone-referenced absolute paths
    * read WITHOUT basePath. The two groups union by name — reading a
    * mix under one basePath would let partition discovery silently drop
    * the flat files (round-12 ADVICE high). The declared-schema
    * fallback handles mixed-era (type-widened) file sets per group.
    * `withPos` tags `__file`/`__pos` from `_metadata` PER GROUP —
    * hidden metadata columns resolve only directly above a scan, never
    * through the union. */
  private def rawRead(spark: SparkSession, paths: Seq[String],
      colMap: Map[String, String], meta: Option[TableMeta],
      withPos: Boolean): DataFrame = {
    def one(group: Seq[String]): DataFrame = {
      def rd(r: org.apache.spark.sql.DataFrameReader) =
        if (group.forall(p => Paths.get(p).startsWith(dataDir)))
          r.option("basePath", dataDir.toString)
        else r // clone-referenced absolute paths: basePath ill-defined
      // With a declared schema on record, read under it DIRECTLY
      // (physicalized — files carry pre-rename physical names): Spark
      // skips the footer-listing schema-inference JOB that mergeSchema
      // fires per read — at manifest scale that is schema inference over
      // a million footers vs zero. Semantics match the inference path:
      // files missing a declared column read NULL (evolution by
      // addition), uniformly-narrow files widen per file against the
      // explicit schema (Spark 4 parquet readers), dropped/renamed-away
      // physicals simply aren't requested, and k=v partition-dir columns
      // resolve from the path under basePath. Dropped-column SHADOWS are
      // the one exception: a physical name both tombstoned AND re-added
      // as a fresh logical column must NOT read the old files' bytes —
      // those tables keep the inference path (visibility is decided
      // post-read there). No-meta reads (DV victim scans, CDC diffs over
      // historical column sets) also keep inference — they have no
      // declaration to trust.
      val declared = meta.map { m =>
        org.apache.spark.sql.types.StructType(
          m.schema.fields.map(f =>
            f.copy(name = colMap.getOrElse(f.name, f.name), nullable = true)))
      }.filter { s =>
        val phys = s.fieldNames.toSet
        droppedPhys(colMap).forall(p => !phys.contains(p))
      }
      val df = declared match {
        case Some(s) => rd(spark.read.schema(s)).parquet(group: _*)
        case None =>
          try rd(spark.read.option("mergeSchema", "true")).parquet(group: _*)
          catch {
            case e: Throwable if meta.nonEmpty &&
                Option(e.getMessage).exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
              val s = org.apache.spark.sql.types.StructType(
                meta.get.schema.fields.map(f =>
                  f.copy(name = colMap.getOrElse(f.name, f.name))))
              rd(spark.read.schema(s)).parquet(group: _*)
          }
      }
      if (withPos) df
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__pos", col("_metadata.row_index"))
      else df
    }
    val (parted, flat) = paths.partition { p =>
      val pp = Paths.get(p)
      pp.startsWith(dataDir) && pp.getParent != dataDir
    }
    (parted, flat) match {
      case (ps, Nil) => one(ps)
      case (Nil, fs) => one(fs)
      case (ps, fs) => one(ps).unionByName(one(fs), allowMissingColumns = true)
    }
  }

  private def readFiles(spark: SparkSession, files: Seq[FileEntry],
      colMap: Map[String, String] = Map.empty,
      meta: Option[TableMeta] = None): DataFrame = {
    require(files.nonEmpty, "readFiles of nothing")
    // mergeSchema handles evolution by ADDITION, but refuses files whose
    // shared column CHANGED type — exactly what a metadata-only ALTER
    // COLUMN TYPE leaves behind (old files narrow, new files wide). The
    // declared schema breaks the tie: Spark 4's parquet readers widen
    // int32→int64 / float→double per file against an EXPLICIT schema, so
    // a mixed-era file set reads under the declaration (physicalized —
    // files carry pre-rename physical names). Single-era narrow tables
    // stay on the mergeSchema path and widen via the cast fold below.
    // basePath: a CONVERTed hive layout keeps its partition directories
    // under data/ — the option makes Spark surface `k=v` path segments
    // as real partition COLUMNS; flat layouts see no partition dirs and
    // are untouched by it. A SHALLOW CLONE references the source table's
    // files by absolute path (outside this data/), where a single
    // basePath is ill-defined — those reads skip the option (a clone of
    // a converted layout reads through the cast/NULL-fill fallbacks).
    //
    // MIXED layouts read as TWO groups unioned by name (rawRead): after
    // any rewrite on a converted table the new files land FLAT in data/
    // while the adopted files keep their partition dirs — one basePath
    // read over the mix would let Spark's partition discovery list only
    // the files under partition directories and SILENTLY DROP the flat
    // ones (round-12 ADVICE, high). Flat rewrites carry the partition
    // columns as ordinary data columns, so the union aligns.
    val (plain, dvd) = files.partition(_.dv.isEmpty)
    val plainDf =
      if (plain.isEmpty) None
      else Some(rawRead(spark, plain.map(f => dataDir.resolve(f.path).toString),
        colMap, meta, withPos = false))
    val dvDf =
      if (dvd.isEmpty) None
      else {
        val tagged = rawRead(spark,
          dvd.map(f => dataDir.resolve(f.path).toString),
          colMap, meta, withPos = true)
        val cols = tagged.columns.toSeq.filterNot(c => c == "__file" || c == "__pos")
        val dvs = spark.read.parquet(
          dvd.flatMap(_.dv).distinct.map(d => dataDir.resolve(d).toString): _*)
        Some(tagged.join(dvs,
            tagged("__file") === dvs("file") && tagged("__pos") === dvs("pos"),
            "left_anti")
          .select(cols.map(col): _*))
      }
    val out = (plainDf, dvDf) match {
      case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => throw new IllegalStateException("unreachable: files was non-empty")
    }
    // surface the caller's LOGICAL names: physical → logical renames from
    // the snapshot's column mapping (absent names are untouched), then
    // hide dropped physicals — their files are immutable, visibility is
    // the only thing a metadata-only DROP COLUMN changes
    val renames = colMap.collect {
      case (l, p) if l != p && !l.startsWith("-") => p -> l
    }
    val dropped = droppedPhys(colMap).toSeq
    val mapped = if (renames.isEmpty) out else out.withColumnsRenamed(renames)
    val visible = if (dropped.isEmpty) mapped else mapped.drop(dropped: _*)
    // DECLARED columns no data file carries yet (ADD COLUMN, or a CREATE
    // TABLE schema wider than the first insert) read as NULL — the
    // metadata-only evolution promise. Skip declared names that were
    // since dropped (tombstoned) or renamed away (the name is now some
    // rename's physical identity): re-adding those would resurrect them.
    val extra = meta.map(_.schema.fields.toSeq).getOrElse(Nil).filter { f =>
      !visible.columns.contains(f.name) &&
        !droppedPhys(colMap).contains(f.name) &&
        !colMap.exists { case (l, p) => p == f.name && l != f.name }
    }
    val withExtra = extra.foldLeft(visible)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
    // a DECLARED WIDENED type over uniformly-narrow files (ALTER COLUMN
    // TYPE before any wide append): cast at read — the other half of the
    // metadata-only widening promise (mixed eras took the explicit-schema
    // path above and are already wide)
    val widenings = meta.map(_.schema.fields.toSeq).getOrElse(Nil).filter { f =>
      withExtra.columns.contains(f.name) && {
        val cur = withExtra.schema(f.name).dataType
        cur != f.dataType && TxTable.widens(cur, f.dataType)
      }
    }
    widenings.foldLeft(withExtra)((df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.dataType)))
  }

  /** Raw per-file read of `files` tagged with `__file`/`__pos` position
    * columns (deletion-vector victim computation), surfaced under LOGICAL
    * names with [[readFiles]]' schema-evolution discipline — the
    * declared-schema fallback for mixed-era files a metadata-only ALTER
    * COLUMN TYPE leaves behind, the column mapping, and NULL synthesis
    * for declared columns no candidate file carries (so a predicate
    * naming an ADD COLUMN-ed column resolves, evaluates NULL, and the
    * row survives). No DV anti-join: victims re-entering an existing
    * vector are idempotent under the read-side anti-join, and positions
    * must count PHYSICAL rows anyway. */
  private def readWithPositions(spark: SparkSession, files: Seq[FileEntry],
      base: Snapshot): DataFrame = {
    val tagged = rawRead(spark, files.map(f => dataDir.resolve(f.path).toString),
      base.colMap, base.meta, withPos = true)
    val renames = base.colMap.collect {
      case (l, p) if l != p && !l.startsWith("-") => p -> l
    }
    val logical =
      if (renames.isEmpty) tagged else tagged.withColumnsRenamed(renames)
    val extra = base.meta.map(_.schema.fields.toSeq).getOrElse(Nil).filter { f =>
      !logical.columns.contains(f.name) &&
        !droppedPhys(base.colMap).contains(f.name) &&
        !base.colMap.exists { case (l, p) => p == f.name && l != f.name }
    }
    extra.foldLeft(logical)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** DV-aware read of an explicit manifest-entry subset under a column
    * mapping — the seam the DSv2 batch source plans through after ITS
    * ScanBuilder has run the manifest stats/bloom prune (the same
    * machinery [[readWhere]]/[[readEquals]] use internally). */
  private[graft] def readEntries(spark: SparkSession, files: Seq[FileEntry],
      colMap: Map[String, String],
      meta: Option[TableMeta] = None): DataFrame =
    readFiles(spark, files, colMap, meta)

  /** Bloom probe positions for an equality value — exposed to the DSv2
    * source's ScanBuilder so its `column = value` pushdown prunes with
    * the SAME engine-hashed positions the build pass recorded. */
  private[graft] def bloomProbe(spark: SparkSession, value: Long): Seq[Int] =
    probePositions(spark, value)

  /** Manifest-level min/max data skipping for `lo <= statCol <= hi`:
    * files whose stats range is disjoint from [lo, hi] are dropped before
    * the scan is planned; the residual filter still runs (stats admit
    * false positives, never false negatives). Returns the pruned frame
    * plus (filesScanned, filesTotal) so callers and specs can assert the
    * skip actually happened. */
  def readWhere(spark: SparkSession, statCol: String, lo: Long, hi: Long): PrunedRead = {
    val s = snapshot()
    val p = phys(s, statCol)
    require(statCols.contains(p), s"$statCol is not a stat column ($statCols)")
    // A file with no recorded stats for this column (appended by a writer
    // declared before a stats evolution) cannot be pruned soundly — scan it.
    val keep = s.files.filter { f =>
      f.maxs.get(p).forall(_ >= lo) && f.mins.get(p).forall(_ <= hi)
    }
    val df =
      if (keep.isEmpty) read(spark).filter(lit(false))
      else readFiles(spark, keep, s.colMap, s.meta)
        .filter(col(statCol) >= lo && col(statCol) <= hi)
    PrunedRead(df, filesScanned = keep.size, filesTotal = s.files.size)
  }

  /** Manifest-level BLOOM data skipping for `column = value` — the
    * point-lookup tier min/max stats cannot serve. A hash-scattered
    * high-cardinality column (user id, doc id) gives every file a
    * [min,max] spanning nearly the whole domain, so range stats prune
    * NOTHING on an equality probe; the per-file bloom filter (built in
    * the same staged-write pass, carried in the manifest) answers
    * "provably absent" for the ~15/16 files that don't hold the key.
    * At 100 TB this is the needle query: a GDPR lookup or single-doc
    * fetch plans a scan over a handful of files instead of the table.
    *
    * Blooms admit false positives, never false negatives, so the
    * residual `=` filter keeps results exact; files written before the
    * bloom declaration (no bloom recorded) are scanned unconditionally
    * — the same soundness rule readWhere applies to missing stats.
    * Min/max stats, when present for the column, prune in the same
    * pass. The probe is hashed by Spark itself (one local 1-row
    * projection) so build and probe can never drift. */
  def readEquals(spark: SparkSession, column: String, value: Long): PrunedRead = {
    val s = snapshot()
    val p = phys(s, column)
    require(statCols.contains(p) || bloomCols.contains(p),
      s"$column is neither a stat column ($statCols) nor a bloom column ($bloomCols)")
    val pos = probePositions(spark, value)
    val keep = s.files.filter { f =>
      val rangeOk = f.mins.get(p).forall(_ <= value) &&
        f.maxs.get(p).forall(_ >= value)
      val bloomOk = f.blooms.get(p).forall { words =>
        pos.forall(b => (words(b >> 6) & (1L << (b & 63))) != 0L)
      }
      rangeOk && bloomOk
    }
    val df =
      if (keep.isEmpty) read(spark).filter(lit(false))
      else readFiles(spark, keep, s.colMap, s.meta).filter(col(column) === value)
    PrunedRead(df, filesScanned = keep.size, filesTotal = s.files.size)
  }

  /** Manifest-level IN-list data skipping at a PINNED version — the
    * semi-join-reduction read the incremental join-mview terms use: a
    * pinned source joining a small CDC delta only ever matches rows
    * whose join key appears in the delta, so the scan plans over the
    * files whose [min,max] admit AT LEAST ONE of the delta's key
    * values, with the `isin` residual keeping the reduction exact (a
    * necessary-condition filter — inner-join invariant). Files missing
    * stats for the column scan unconditionally (the readWhere soundness
    * rule); a column with no stats at all returns the full pinned read
    * with the residual only. At 100 TB this is the fact⋈Δdim term
    * reading touched fact files instead of the fact table. */
  private[graft] def readIn(spark: SparkSession, column: String,
      values: Seq[Long], versionAsOf: Option[Int] = None): PrunedRead = {
    val s = snapshot(versionAsOf)
    val p = phys(s, column)
    val sorted = values.distinct.sorted.toIndexedSeq
    def admits(f: FileEntry): Boolean =
      (f.mins.get(p), f.maxs.get(p)) match {
        case (Some(lo), Some(hi)) =>
          // any value in [lo, hi]? — binary search for the first >= lo
          val i = {
            var a = 0; var b = sorted.length
            while (a < b) { val m = (a + b) >>> 1
              if (sorted(m) < lo) a = m + 1 else b = m }
            a
          }
          i < sorted.length && sorted(i) <= hi
        case _ => true // missing stats: cannot prune soundly
      }
    val keep =
      if (!statCols.contains(p)) s.files
      else s.files.filter(admits)
    val df =
      if (keep.isEmpty) read(spark, versionAsOf).filter(lit(false))
      else readFiles(spark, keep, s.colMap, s.meta)
        .filter(col(column).isin(sorted: _*))
    PrunedRead(df, filesScanned = keep.size, filesTotal = s.files.size)
  }

  /** The k bloom bit positions of a probe value, computed by the SAME
    * engine expression the build pass uses (`xxhash64(cast(v as
    * bigint), j) mod m`) — a one-row local projection, so build and
    * probe hashing agree by construction rather than by a hand-ported
    * xxhash implementation. */
  private def probePositions(spark: SparkSession, value: Long): Seq[Int] = {
    val row = spark.range(1).select(
      (0 until BloomHashes).map(j =>
        expr(s"cast(pmod(xxhash64(cast($value as bigint), $j), $BloomBits) as int)")
          .as(s"p$j")): _*).head()
    (0 until BloomHashes).map(row.getInt)
  }

  // ------------------------------------------------------------------ writes

  /** Append `df` as new data files. Retries on a lost commit race —
    * an append commutes with ANY concurrent commit (it only ADDS files),
    * so rebasing onto the new latest snapshot is always safe. Returns the
    * committed version. */
  def append(spark: SparkSession, df: DataFrame): Int = {
    // SCHEMA EVOLUTION on the insert path: a declared table appending
    // new columns (or lossless widenings) re-declares the widened schema
    // in the SAME commit — partial reads NULL-backfill old rows
    // deterministically, and a type conflict refuses before staging.
    // An UNDECLARED table declares the frame's schema in this commit
    // (manifests always carry the schema, the lakehouse contract): every
    // later read plans under the declaration instead of firing a
    // footer-inference job — at manifest scale that is reading one log
    // line vs a million parquet footers. Later appends then evolve the
    // declaration through the same add/widen rules mergeSchema-at-read
    // used to apply, with conflicts refused at WRITE time instead of
    // surfacing on some later read.
    val s0 = snapshot()
    val evolvedMeta = s0.meta.flatMap(m => evolveForSource(s0, m.schema, df.schema))
      .orElse(declareFirstWrite(s0, df))
    val entries = writeDataFiles(spark, df)
    committing("append") { base =>
      commitOnce(base, base.files ++ entries, op = "append", meta = evolvedMeta)
    }
  }

  /** The first-write schema declaration for a table born without one:
    * the frame's schema becomes the manifest's TableMeta so reads skip
    * footer inference. Tables that already carry a column mapping keep
    * the inference contract — their declaration must be logical-named
    * and only the evolve/rename faces maintain that invariant. */
  private def declareFirstWrite(base: Snapshot,
      df: DataFrame): Option[TableMeta] =
    if (base.meta.nonEmpty || base.colMap.nonEmpty) None
    else Some(TableMeta(df.schema.json, statCols, bloomCols))

  /** Replace the whole table content (same durability rules as append).
    * The incoming frame's schema is authoritative — an overwrite that
    * changes shape RE-declares (content is wholly replaced, so there are
    * no old rows the previous declaration still describes). */
  def overwrite(spark: SparkSession, df: DataFrame): Int = {
    val entries = writeDataFiles(spark, df)
    val meta = declareFirstWrite(snapshot(), df)
    committing("overwrite") { base =>
      commitOnce(base, entries, op = "overwrite", meta = meta)
    }
  }

  /** Overwrite + txn watermark in ONE commit — the materialized-view
    * full-refresh seam: the recomputed rows and the applied-through
    * source version publish atomically, so a crashed refresh is either
    * fully applied or invisible, never a torn state the next refresh
    * would double-count. */
  private[graft] def overwriteTagged(spark: SparkSession, df: DataFrame,
      txns: Map[String, Long]): Int = {
    val entries = writeDataFiles(spark, df)
    // overwrite declares the whole table: every rebase simply republishes
    committing("mview-refresh") { base =>
      commitOnce(base, entries, txns, op = "mview-refresh",
        meta = declareFirstWrite(base, df))
    }
  }

  /** Copy-on-write MERGE (upsert): rows of `source` replace same-`key`
    * rows of the table; source keys present in no file are inserts.
    *
    * Only files with at least one source key inside their [min,max] of
    * `key` are rewritten — decided by joining the source keys against the
    * broadcast manifest intervals, NOT by one global [srcLo,srcHi]
    * envelope (a single insert key above the table max would drag every
    * file into that envelope). Stats make the candidate set sound: a key
    * inside a file is inside that file's range, so a pruned file cannot
    * contain a matched key. Kept files are carried into the new manifest
    * BY NAME: untouched data is never copied, the mark of copy-on-write
    * done right.
    *
    * Concurrency: a lost commit race runs FILE-LEVEL conflict detection
    * ([[commitCow]]) — a concurrent commit that neither touched the
    * files this merge read nor added rows inside the source's key range
    * is provably disjoint, so the merge rebases onto it and republishes
    * (concurrent appends carry forward by name); a conflicting commit
    * aborts with ConcurrentModificationException. */
  def merge(spark: SparkSession, source: DataFrame, key: String): MergeResult =
    mergeFrom(spark, snapshot(), source, key)

  /** MERGE-path SCHEMA EVOLUTION (Delta's autoMerge): the declared
    * schema widened by the source's NEW columns (appended, nullable —
    * existing rows read NULL there) and by provably-lossless type
    * WIDENINGS where the source carries the wider type of a shared
    * column. Any other shared-column type mismatch REFUSES loudly — a
    * silent coercion corrupts, and a narrowing would need a rewrite.
    * Returns None when the source introduces nothing (the steady-state
    * case — zero cost, no commit change); the Some rides the SAME
    * commit as the merged rows, so a CDC-ingest pipeline picking up a
    * new upstream column lands schema + data atomically. New names
    * respect the column-mapping reservations (a dropped physical name
    * can never resurrect; a renamed column's physical identity is
    * taken) — [[addColumn]]'s rules, enforced at the merge door too. */
  private def evolveForSource(base: Snapshot,
      tableSchema: org.apache.spark.sql.types.StructType,
      srcSchema: org.apache.spark.sql.types.StructType): Option[TableMeta] = {
    // CASE-INSENSITIVE matching: Spark's resolver treats `V` and `v` as
    // the same column (default caseSensitive=false) — exact-name
    // matching here would declare a phantom duplicate the union had
    // already merged, and every later read would NULL-fill a column
    // that never exists in any file.
    // The comparison runs in the LOGICAL namespace: the declaration may
    // still spell a column by its pre-rename name (renameColumn is
    // metadata-only and reads compensate through the column mapping), so
    // a declared name that is some rename's PHYSICAL side resolves to
    // that rename's logical name first — otherwise a source speaking the
    // CURRENT name of a renamed column would be declared as a brand-new
    // column whose physicalized name collides with the old entry's.
    def logicalOf(name: String): String =
      base.colMap.collectFirst {
        case (l, p) if p == name && l != name => l
      }.getOrElse(name)
    val byName = tableSchema.fields.map(f => logicalOf(f.name).toLowerCase -> f).toMap
    val newCols =
      srcSchema.fields.filterNot(f => byName.contains(f.name.toLowerCase)).toSeq
    val widened = srcSchema.fields.flatMap { sf =>
      byName.get(sf.name.toLowerCase).flatMap { tf =>
        if (tf.dataType == sf.dataType) None
        else if (TxTable.widens(sf.dataType, tf.dataType)) None // src casts up
        // keyed by the TABLE's spelling: the declaration keeps its names
        else if (TxTable.widens(tf.dataType, sf.dataType)) Some(tf.name -> sf.dataType)
        else throw new IllegalArgumentException(
          s"merge schema conflict on column ${sf.name}: table declares " +
            s"${tf.dataType.simpleString}, source carries ${sf.dataType.simpleString} " +
            "— not a lossless widening; cast the source explicitly or " +
            "evolve via a new column")
      }
    }.toMap
    if (newCols.isEmpty && widened.isEmpty) None
    else {
      // the reservation checks are case-INSENSITIVE too: the resolver
      // matches columns that way, so a name differing only in case from
      // a dropped/renamed physical name is the SAME name to every read
      val droppedLower = droppedPhys(base.colMap).map(_.toLowerCase)
      newCols.foreach { f =>
        val fl = f.name.toLowerCase
        require(!droppedLower.contains(fl),
          s"column name ${f.name} is reserved by a dropped column — " +
            "its physical name can never be reused")
        require(!base.colMap.exists { case (l, p) =>
            p.toLowerCase == fl && l.toLowerCase != fl },
          s"column name ${f.name} is taken by a renamed column's physical name")
      }
      val evolved = org.apache.spark.sql.types.StructType(
        tableSchema.fields.map(f =>
          widened.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)) ++
          newCols.map(_.copy(nullable = true)))
      Some(TableMeta(evolved.json, statCols, bloomCols))
    }
  }

  /** Canonical upsert on a COMPOSITE key — `merge` generalized to
    * `keys`: a target row matches a source row only when EVERY key
    * component is equal (ANSI ON-equality: NULL in any component never
    * matches, the row routes to insert). Candidate pruning is the
    * per-component interval probe INTERSECTED across stat-carrying
    * components (a match needs all components, so any one provably
    * key-free component excuses a file); the commit guard conflicts a
    * fresh file only when every stat component's envelope overlaps it. */
  def merge(spark: SparkSession, source: DataFrame,
      keys: Seq[String]): MergeResult =
    mergeFrom(spark, snapshot(), source, keys, Map.empty)

  /** Merge against an explicit base snapshot — the seam that lets a spec
    * interleave a competing commit between base-read and publish. */
  private[graft] def mergeFrom(spark: SparkSession, base: Snapshot,
      source: DataFrame, key: String,
      txns: Map[String, Long] = Map.empty): MergeResult =
    mergeFrom(spark, base, source, Seq(key), txns)

  /** Per-component manifest-interval candidate probe for a composite
    * merge key: the hit set is the INTERSECTION over stat-carrying
    * components of each component's per-key interval probe (files
    * lacking stats for a component count as hits there — no interval
    * proves them key-free). None = no component carries stats, every
    * file is a candidate (the predicate-DML degradation).
    *
    * ONE Spark job + ONE driver collect regardless of component count
    * (r14 verdict #6 — the old per-component loop was k sequential jobs
    * per merge, per MICRO-BATCH in the streaming path): the manifest's
    * component-tagged intervals ship as a plain driver broadcast
    * (O(files·k), manifest-sized — no broadcast-exchange job), ONE scan
    * of the source buffers each partition's key columns as primitive
    * arrays, sorts them, and answers every interval with a binary
    * search ("any key in [mn, mx]?") — O(n·k log n + F·k log n) per
    * partition, no shuffle, no per-component re-scan. A file is a hit
    * iff its matched-component count equals the number of components it
    * carries stats for — statless components are hits by construction,
    * settled driver-side from the manifest, costing the job nothing. */
  private[graft] def multiKeyHitPaths(spark: SparkSession, base: Snapshot,
      source: DataFrame, keys: Seq[String]): Option[Set[String]] = {
    val statKeys = keys.filter(k => statCols.contains(phys(base, k)))
    if (statKeys.isEmpty) None
    else {
      // components each file must match = those it carries stats for
      val needed: Map[String, Int] = base.files.map(f =>
        f.path -> statKeys.count(k => f.mins.contains(phys(base, k)))).toMap
      val unproven = base.files.filter(f => needed(f.path) == 0).map(_.path)
      val comps: Array[(Array[Long], Array[Long], Array[String])] =
        statKeys.map { k =>
          val pk = phys(base, k)
          val iv = base.files
            .flatMap(f => f.mins.get(pk).map(mn => (mn, f.maxs(pk), f.path)))
            .toArray
          (iv.map(_._1), iv.map(_._2), iv.map(_._3))
        }.toArray
      val bc = spark.sparkContext.broadcast(comps)
      val nComp = statKeys.length
      val probe = source.select(statKeys.map(k => col(k).cast("long")): _*)
      val matched = probe.rdd.mapPartitions { it =>
        val cs = bc.value
        val bufs = Array.fill(nComp)(new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { r =>
          var c = 0
          while (c < nComp) {
            if (!r.isNullAt(c)) bufs(c) += r.getLong(c)
            c += 1
          }
        }
        val hit = scala.collection.mutable.Map
          .empty[String, scala.collection.mutable.BitSet]
        var c = 0
        while (c < nComp) {
          val ks = bufs(c).result()
          java.util.Arrays.sort(ks)
          val (mns, mxs, paths) = cs(c)
          var i = 0
          while (i < mns.length) {
            val p = java.util.Arrays.binarySearch(ks, mns(i))
            val lo = if (p >= 0) p else -(p + 1) // first idx with ks(idx) >= mn
            if (lo < ks.length && ks(lo) <= mxs(i))
              hit.getOrElseUpdate(paths(i),
                new scala.collection.mutable.BitSet) += c
            i += 1
          }
          c += 1
        }
        Iterator.single(hit)
      }.fold(scala.collection.mutable.Map.empty) { (a, b) =>
        b.foreach { case (p, bs) =>
          a.getOrElseUpdate(p, new scala.collection.mutable.BitSet) |= bs; ()
        }
        a
      }
      bc.destroy()
      Some(matched.collect {
        case (p, bs) if bs.size == needed(p) => p
      }.toSet ++ unproven)
    }
  }

  /** Fresh-file conflict guard for a composite-key merge: a concurrent
    * file conflicts only if EVERY stat component's source envelope
    * overlaps it (a match needs equality on all components, so one
    * provably disjoint component clears the file). No stat component ⇒
    * every fresh file conflicts (nothing proves disjointness); an empty
    * source — or one whose values are all NULL on some stat component,
    * which can therefore match nothing — guards nothing. */
  private def multiKeyGuard(spark: SparkSession, base: Snapshot,
      source: DataFrame,
      keys: Seq[String]): Option[(FileEntry => Boolean, String)] = {
    val statKeys = keys.filter(k => statCols.contains(phys(base, k)))
    if (statKeys.isEmpty) {
      if (source.isEmpty) None
      else Some(((_: FileEntry) => true,
        s"was added concurrently (merge key ${keys.mkString(", ")} has no " +
          "stats interval — nothing proves disjointness)"))
    } else {
      // one job answers every component's [min,max] envelope
      val aggs = statKeys.flatMap(k =>
        Seq(min(col(k).cast("long")), max(col(k).cast("long"))))
      val row = source.agg(aggs.head, aggs.tail: _*).head()
      val envs = statKeys.zipWithIndex.map { case (k, i) =>
        if (row.isNullAt(2 * i)) None
        else Some((phys(base, k), row.getLong(2 * i), row.getLong(2 * i + 1)))
      }
      // a component with NO non-NULL source value can match nothing:
      // the whole merge is a pure insert, no fresh file conflicts
      if (envs.exists(_.isEmpty)) None
      else {
        val bands = envs.flatten
        Some(((f: FileEntry) => bands.forall { case (pk, mn, mx) =>
          f.mins.get(pk).forall(_ <= mx) && f.maxs.get(pk).forall(_ >= mn)
        }, bands.map { case (pk, mn, mx) => s"overlap $pk in [$mn, $mx]" }
          .mkString(" and ")))
      }
    }
  }

  private[graft] def mergeFrom(spark: SparkSession, base: Snapshot,
      source: DataFrame, keys: Seq[String],
      txns: Map[String, Long]): MergeResult = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.distinct.length == keys.length,
      s"merge keys repeat a column: ${keys.mkString(", ")}")
    keys.foreach(phys(base, _)) // every component must resolve
    require(base.version > 0, "merge into an empty table: use append")
    // SCHEMA EVOLUTION: on tables with declared metadata, new source
    // columns (and lossless widenings) re-declare the schema in the SAME
    // commit — so a later partial read (CDF align, candidate subsets)
    // NULL-backfills them deterministically, and a type conflict refuses
    // HERE instead of as a union analysis error. Tables without declared
    // metadata keep the original contract: the new columns land in the
    // rewritten files and mergeSchema surfaces them at read.
    val evolvedMeta = base.meta.flatMap(m =>
      evolveForSource(base, m.schema, source.schema))
    // A key WITHOUT declared stats (any column, any type — not just the
    // long-typed stat set) degrades with the predicate-DML discipline:
    // no interval is derivable, so EVERY file is a rewrite candidate and
    // the commit guard treats every concurrently added file as a
    // conflict (nothing proves it key-disjoint). Correct first, pruned
    // when the table's layout allows it — not a refusal.
    val (candidates, kept) = multiKeyHitPaths(spark, base, source, keys) match {
      case None => (base.files, Seq.empty[FileEntry])
      case Some(hits) => base.files.partition(f => hits.contains(f.path))
    }
    val src = source
    val existing =
      if (candidates.isEmpty) None
      else Some(readFiles(spark, candidates, base.colMap)) // DV-aware: never resurrect
    // matched rows take the source version; unmatched candidate rows pass
    // through; source keys absent everywhere are inserts. The anti joins
    // broadcast the (batch-sized) source — the 100 TB merge never
    // shuffles the kept data at all and only joins the candidate files.
    // Plain AND-of-equalities: a NULL in ANY component matches nothing
    // (ANSI), so NULL-keyed source rows insert and NULL-keyed target
    // rows always survive.
    val rewritten = existing match {
      case None => src
      case Some(ex) =>
        val cond = keys.map(k => ex(k) === src(k)).reduce(_ && _)
        val notMatched = ex.join(broadcast(src), cond, "left_anti")
        // allowMissingColumns: a schema-evolved source (or table) merges
        // cleanly — the absent side reads NULL, same rule as read()
        notMatched.unionByName(src, allowMissingColumns = true)
    }
    val entries = writeDataFiles(spark, rewritten)
    // conflict guard = the source's per-component key envelopes: every
    // source key lies inside them, so a concurrent file proven outside
    // ANY component's envelope could not have changed this merge's
    // candidate selection or match results. An empty source guards
    // nothing (its rewrite is content-preserving); a key with no stat
    // component has no sound envelope — every fresh file conflicts.
    val guard = multiKeyGuard(spark, base, src, keys)
    val version = commitCow(base, candidates, entries, "merge", guard,
      txns = txns, meta = evolvedMeta)
    MergeResult(version, rewrittenFiles = candidates.size,
      keptFiles = kept.size, newFiles = entries.size)
  }

  /** STREAMING UPSERT — the exactly-once micro-batch face of [[merge]]:
    * a batch merges only if `batchId` is newer than the stream's
    * recorded watermark (the [[appendBatch]] idempotence contract), and
    * the merge commit carries the advanced watermark in the SAME
    * manifest — a crash between merge and watermark is impossible by
    * construction, so an at-least-once foreachBatch redelivery is
    * recognized and skipped, never double-applied. Batch 0 against an
    * EMPTY table bootstraps via [[appendBatch]] (merge requires
    * content). Single active writer per appId (the streaming engine's
    * own checkpoint contract); concurrent DISJOINT commits rebase
    * underneath like any merge. Returns true iff this call committed. */
  def mergeBatch(spark: SparkSession, df: DataFrame, appId: String,
      batchId: Long, key: String, mor: Boolean = false): Boolean =
    mergeBatch(spark, df, appId, batchId, Seq(key), mor)

  /** [[mergeBatch]] on a COMPOSITE key — the streaming face of the
    * multi-column upsert ([[merge]]'s keys contract). */
  def mergeBatch(spark: SparkSession, df: DataFrame, appId: String,
      batchId: Long, keys: Seq[String], mor: Boolean): Boolean = {
    val base = snapshot()
    if (base.txns.get(appId).exists(_ >= batchId)) return false
    if (base.version == 0) return appendBatch(spark, df, appId, batchId)
    // mor: the deletion-vector write path — tombstone matched rows,
    // append the batch, zero candidate rewrites (the steady-state
    // streaming-upsert shape; compaction folds the vectors on schedule)
    if (mor) mergePositionalFrom(spark, base, df, keys, txns = Map(appId -> batchId))
    else mergeFrom(spark, base, df, keys, txns = Map(appId -> batchId))
    true
  }

  /** GENERAL MERGE — the full clause surface the canonical upsert
    * ([[merge]]) is a special case of:
    * {{{
    *   [WHEN MATCHED [AND <cond>] THEN UPDATE SET a = expr, … | UPDATE SET * | DELETE]…
    *   [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT (cols) VALUES (exprs)]…
    *   [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET … | DELETE]…
    * }}}
    * Every clause group evaluates FIRST-MATCH-WINS, insert clauses
    * included (a source row claimed by no insert clause is dropped).
    * BY SOURCE clauses govern target rows the source does not name (the
    * full-sync shape — `… THEN DELETE` makes the table exactly mirror
    * the source). Absence from the source is unprunable by the key
    * probe, but each clause's own CONDITION prunes: files provably
    * disjoint from the condition's stat-column bands carry by name, so
    * a conditional retention sync (`BY SOURCE AND t.day < x THEN
    * DELETE`) rewrites only the governed band. An unconditional (or
    * band-less) BY SOURCE clause forces every file and every concurrent
    * append into a conflict.
    * Matched clauses evaluate FIRST-MATCH-WINS per target row (the Delta
    * rule); a matched row satisfying no clause carries unchanged; a
    * clause condition evaluating NULL does not fire. Conditions and SET/
    * VALUES expressions resolve under the aliases `t` (target) and `s`
    * (source) via a real aliased join — no textual rewriting. A source
    * with DUPLICATE keys among the MATCHED rows is refused loudly
    * (Delta's multiple-matches error): first-match-wins across source
    * rows would be nondeterministic under shuffle order.
    *
    * Candidate pruning, the non-stat-key degradation, and the commit
    * guard are [[mergeFrom]]'s verbatim: at 100 TB the kept data never
    * moves, only files whose stats admit a source key rewrite. */
  def mergeWhen(spark: SparkSession, source: DataFrame, key: String,
      matched: Seq[TxTable.MergeMatched],
      notMatched: Seq[TxTable.MergeInsert],
      bySource: Seq[TxTable.MergeMatched] = Nil): MergeResult =
    mergeWhen(spark, source, Seq(key), matched, notMatched, bySource,
      Map.empty, sourceKeyDistinct = false)

  /** [[mergeWhen]] on a COMPOSITE key: matching requires equality on
    * EVERY component (NULL in any source component routes the row to
    * the insert clauses — ANSI ON-equality), the duplicate-source-match
    * refusal counts distinct source rows per composite key, candidate
    * pruning intersects the per-component interval probes, and the
    * commit guard conflicts a fresh file only when every stat
    * component's envelope overlaps it. `txns` watermarks ride the same
    * commit (the incremental-mview refresh folds its group deltas and
    * advances its applied-through version atomically). */
  def mergeWhen(spark: SparkSession, source: DataFrame, keys: Seq[String],
      matched: Seq[TxTable.MergeMatched],
      notMatched: Seq[TxTable.MergeInsert],
      bySource: Seq[TxTable.MergeMatched],
      txns: Map[String, Long],
      // the duplicate-source-match refusal is a per-merge JOB; a caller
      // whose source is key-distinct BY CONSTRUCTION (a groupBy output
      // keyed on the merge key — the mview delta folds) may skip it:
      // the guard is vacuously true, the semantics unchanged. (No
      // default: the single-key overload already carries defaults and
      // Scala forbids defaults on two overloads.)
      sourceKeyDistinct: Boolean): MergeResult = {
    import TxTable.{MergeDelete, MergeInsert, MergeUpdate}
    val base = snapshot()
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.distinct.length == keys.length,
      s"merge keys repeat a column: ${keys.mkString(", ")}")
    keys.foreach(phys(base, _)) // every component must resolve
    require(base.version > 0, "merge into an empty table: use append")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE with no clauses")
    val src = source
    // WHEN NOT MATCHED BY SOURCE governs rows the source does NOT name —
    // no key probe can prune by ABSENCE — but each clause's own
    // condition can: a file provably disjoint from a clause condition's
    // stat-column bands ([[predicateBands]] under the `t` alias) holds
    // no row that clause could fire on (band pruning is sound under
    // residual conjuncts). A clause with no derivable band forces every
    // file. Returns None = all files, Some(test) = banded membership.
    val bySourceTest: Option[Option[FileEntry => Boolean]] =
      if (bySource.isEmpty) None
      else Some {
        val perClause = bySource.map {
          case MergeUpdate(c, _) => c
          case MergeDelete(c) => c
        }.map {
          case None => None // unconditional clause: every file
          case Some(cond) =>
            val (bands, _) = predicateBands(spark, cond, base, Some("t"))
            if (bands.isEmpty) None else Some(bands)
        }
        if (perClause.exists(_.isEmpty)) None
        else Some((f: FileEntry) =>
          perClause.flatten.exists(b => bandsIntersect(b)(f)))
      }
    val (candidates, kept) =
      if (bySourceTest.contains(None)) (base.files, Seq.empty[FileEntry])
      else multiKeyHitPaths(spark, base, src, keys) match {
        case None => (base.files, Seq.empty[FileEntry])
        case Some(hitPaths) =>
          // candidate = key-probe hit OR inside some BY SOURCE clause band
          val bandHit = bySourceTest.flatten.getOrElse((_: FileEntry) => false)
          base.files.partition(f => hitPaths.contains(f.path) || bandHit(f))
      }
    val exOpt0: Option[DataFrame] =
      if (candidates.isEmpty) None
      else Some(readFiles(spark, candidates, base.colMap, base.meta))
    // SCHEMA EVOLUTION fires only when a star action can carry new
    // source columns (UPDATE SET * / INSERT * — Delta's autoMerge rule);
    // explicit-assignment clauses never widen the schema implicitly.
    // The widened declaration rides the SAME commit as the merged rows.
    val starred = matched.exists {
      case MergeUpdate(_, None) => true
      case _ => false
    } || notMatched.exists(cl => cl.cols.isEmpty && cl.vals.isEmpty)
    val tableSchema = base.meta.map(_.schema).getOrElse(
      exOpt0.map(_.schema).getOrElse(read(spark, Some(base.version)).schema))
    val evolvedMeta =
      if (!starred) None else evolveForSource(base, tableSchema, src.schema)
    val newFields = evolvedMeta.map(_.schema.fields.toSeq
      .filterNot(f => tableSchema.fieldNames.contains(f.name))).getOrElse(Nil)
    // candidate content aligned to the evolved width: new columns read
    // NULL on every existing row, so `t.<new>` resolves in clause
    // conditions/rhs and carries NULL through unclaimed rows
    val exOpt: Option[DataFrame] = exOpt0.map(ex =>
      newFields.foldLeft(ex)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))))
    // the table's logical schema for insert projection/casting — the
    // evolved declaration when a star action widened it
    val tschema: org.apache.spark.sql.types.StructType =
      evolvedMeta.map(_.schema).getOrElse(
        exOpt.map(_.schema).getOrElse(read(spark).schema))
    // source rows tagged with a per-row id so the multiple-matches
    // refusal counts DISTINCT SOURCE ROWS per key: duplicate keys in the
    // TARGET are legal (appends never enforced uniqueness — each dup
    // target row takes the same source row deterministically), only
    // duplicate SOURCE rows among the matches are nondeterministic
    // under first-match-wins (round-12 ADVICE medium)
    val srcTagged = src.withColumn("__sid", monotonically_increasing_id())
    val survivors: Option[DataFrame] =
      exOpt.map { ex =>
        val tcols = ex.columns.toSeq
        // null-safe equality per component keeps the join equi-plannable;
        // the IS NOT NULL gates restore ANSI semantics (NULL in ANY
        // source component matches nothing, the row inserts)
        val joinCond = keys.map(k =>
          expr(s"t.`$k` <=> s.`$k`") && expr(s"s.`$k` IS NOT NULL"))
          .reduce(_ && _)
        val j = ex.alias("t").join(srcTagged.alias("s"), joinCond, "left")
        // a matched row always carries the source's non-NULL row id; an
        // unmatched left row reads NULL there
        val isMatched = expr("s.`__sid` IS NOT NULL")
        // duplicate SOURCE-row matches are nondeterministic under first-
        // match-wins: refuse (Delta's MERGE_MULTIPLE_MATCHES), detected
        // on the join itself so only MATCHED duplicates count — per
        // COMPOSITE key. Skipped when the caller PROVES key-distinctness
        // (the check is then vacuously true — no job spent re-proving it)
        if (!sourceKeyDistinct) {
          val dup = j.filter(isMatched)
            .groupBy(keys.map(k => expr(s"t.`$k`")): _*)
            .agg(countDistinct(col("__sid")).as("c"))
            .filter(col("c") > 1).limit(1).count()
          require(dup == 0L,
            s"MERGE source has multiple rows matching one target " +
              s"`${keys.mkString(", ")}` — first-match-wins would be " +
              "nondeterministic; dedup the source")
        }
        def condOf(c: Option[String]) =
          c.map(t => coalesce(expr(t), lit(false))).getOrElse(lit(true))
        // first-match-wins action id: 0 = carry, i+1 = clause i fires.
        // Matched clauses gate on isMatched; BY SOURCE clauses (ids
        // continue after them) gate on NOT matched.
        val all = matched.map((_, true)) ++ bySource.map((_, false))
        val action = all.zipWithIndex.reverse.foldLeft(lit(0)) {
          case (acc, ((cl, onMatch), i)) =>
            val cond = cl match {
              case MergeUpdate(c, _) => condOf(c)
              case MergeDelete(c) => condOf(c)
            }
            val gate = if (onMatch) isMatched else !isMatched
            when(gate && cond, lit(i + 1)).otherwise(acc)
        }
        val acted = j.withColumn("__act", action)
        val deleteIds = all.zipWithIndex.collect {
          case ((MergeDelete(_), _), i) => i + 1
        }
        val alive =
          if (deleteIds.isEmpty) acted
          else acted.filter(!col("__act").isInCollection(deleteIds))
        // per-column conditional projection; every UPDATE rhs reads the
        // PRE-merge t/s row (ANSI SET semantics). BY SOURCE update rhs
        // sees the all-NULL s side — it updates from the target row.
        val projected = alive.select(tcols.map { c =>
          val updated = all.zipWithIndex.foldLeft(expr(s"t.`$c`")) {
            case (acc, ((MergeUpdate(_, sets), _), i)) =>
              val rhs = sets match {
                case None => expr(s"s.`$c`") // SET *
                case Some(ss) => ss.collectFirst { case (n, e) if n == c => expr(e) }
                  .getOrElse(expr(s"t.`$c`"))
              }
              when(col("__act") === (i + 1), rhs).otherwise(acc)
            case (acc, _) => acc
          }
          // ANSI store assignment: the SET value is cast to the COLUMN's
          // (evolved) type — without it, arithmetic rhs like
          // `t.sum + s.delta` widens decimal precision per refresh and
          // the rewritten files' schema drifts away from the kept ones'
          (if (tschema.fieldNames.contains(c)) updated.cast(tschema(c).dataType)
           else updated).as(c)
        }: _*)
        projected
      }
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        // matched ⇔ the key exists in the CANDIDATE content (non-candidate
        // files provably hold no source key); no candidates ⇒ every
        // source row is an insert. PLAIN equality, not null-safe: a
        // NULL-key source row matches nothing under ON-equality
        // semantics, so it falls through to the insert clauses instead
        // of silently vanishing against a NULL-key target row (round-12
        // ADVICE low — the matched join gates on s.key IS NOT NULL, and
        // this anti-join must agree with it)
        val fresh = exOpt match {
          case None => src.alias("s")
          case Some(ex) => src.alias("s").join(
            ex.select(keys.map(col): _*).distinct().alias("t"),
            keys.map(k => expr(s"s.`$k` = t.`$k`")).reduce(_ && _),
            "left_anti")
        }
        val tcols = tschema.fieldNames.toSeq
        // FIRST-MATCH-WINS across the insert clauses, mirroring the
        // matched chain: __ins = 0 ⇒ no clause claims the row (dropped),
        // i+1 ⇒ clause i's projection applies
        def condOf(c: Option[String]) =
          c.map(t => coalesce(expr(t), lit(false))).getOrElse(lit(true))
        val act = notMatched.zipWithIndex.reverse.foldLeft(lit(0)) {
          case (acc, (MergeInsert(c, _, _), i)) =>
            when(condOf(c), lit(i + 1)).otherwise(acc)
        }
        val claimed = fresh.withColumn("__ins", act).filter(col("__ins") > 0)
        def projOf(cl: MergeInsert, c: String) = (cl.cols, cl.vals) match {
          case (None, None) => expr(s"s.`$c`") // INSERT *
          case (Some(cs), Some(vs)) =>
            require(cs.length == vs.length,
              s"INSERT names ${cs.length} columns but ${vs.length} values")
            cs.zip(vs).collectFirst { case (n, e) if n == c => expr(e) }
              .getOrElse(lit(null))
          case _ => throw new IllegalArgumentException(
            "INSERT needs both a column list and VALUES, or neither")
        }
        // cast to the TABLE's column types: VALUES literals land as their
        // parsed types (an integer literal is INT, a bare NULL is VOID)
        // and an insert-only merge writes them verbatim otherwise —
        // poisoning the file set for every later mergeSchema read
        Some(claimed.select(tcols.map { c =>
          notMatched.zipWithIndex.reverse
            .foldLeft(lit(null): org.apache.spark.sql.Column) {
              case (acc, (cl, i)) =>
                when(col("__ins") === (i + 1), projOf(cl, c)).otherwise(acc)
            }.cast(tschema(c).dataType).as(c)
        }: _*))
      }
    val rewritten = (survivors, inserts) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b, allowMissingColumns = true))
      case (a, b) => a.orElse(b)
    }
    val entries = rewritten.map(writeDataFiles(spark, _)).getOrElse(Nil)
    val keyGuard = multiKeyGuard(spark, base, src, keys)
    val guard: Option[(FileEntry => Boolean, String)] =
      if (bySource.nonEmpty) {
        // a concurrently appended row this merge never saw is NOT
        // MATCHED BY SOURCE: it conflicts when some clause band admits
        // it (or always, when a clause has no derivable band / the key
        // carries no stats — the source-key envelope is folded in for
        // the matched/insert clauses)
        bySourceTest.flatten match {
          case Some(bandHit) =>
            // keyGuard None = the source can match nothing (empty, or a
            // component all-NULL): only the clause bands conflict
            val keyHit = keyGuard.map(_._1).getOrElse((_: FileEntry) => false)
            Some(((f: FileEntry) => keyHit(f) || bandHit(f),
              "overlaps the merge key envelope or a NOT MATCHED BY " +
                "SOURCE clause band"))
          case None =>
            Some(((_: FileEntry) => true,
              "was added concurrently (NOT MATCHED BY SOURCE clauses " +
                "govern every target row)"))
        }
      } else keyGuard
    val version = commitCow(base, candidates, entries, "merge", guard,
      txns = txns, meta = evolvedMeta)
    MergeResult(version, rewrittenFiles = candidates.size,
      keptFiles = kept.size, newFiles = entries.size)
  }

  // -------------------------------------------------------- change data feed

  /** The file-level delta of version `v` relative to `v-1`: the entries
    * v ADDED and how many of v-1's files it REMOVED. An append-only
    * commit removes nothing; merge/compact/z-order/delete remove files
    * (a CHANGE commit — its added bytes are rewrites, not new rows). */
  /** DESCRIBE HISTORY (Delta parity): the audit log, newest first — one
    * [[TxTable.CommitInfo]] per version whose own manifest survives:
    * operation name (every commit path records what it was: append,
    * merge, delete, compaction, rename-column, restore(v), clone(src),
    * stream-append, …), commit timestamp, and the file-level add/remove
    * counts, all read from O(versions) tiny driver-side manifest files
    * with zero data I/O. Retention-bounded exactly like Delta's:
    * [[vacuum]] drops expired delta manifests, and a version surviving
    * only through a checkpoint (derived state, no per-commit record) no
    * longer appears — the checkpoint answers "what", history answers
    * "who did what when" for the retained window. Legacy manifests
    * written before operation tagging read as `unknown`. */
  def history(): Seq[CommitInfo] = {
    import scala.jdk.CollectionConverters._
    val (versions, _) = listLog
    versions.reverse.flatMap { v =>
      val p = logDir.resolve(manifestName(v))
      if (!Files.exists(p)) None
      else {
        val lines = Files.readAllLines(p).asScala.toSeq
        val op = lines.collectFirst {
          case l if l.startsWith("op\t") => l.stripPrefix("op\t")
        }.getOrElse("unknown")
        val ts = lines.collectFirst {
          case l if l.startsWith("commitms\t") =>
            l.stripPrefix("commitms\t").toLong
        }.getOrElse(Files.getLastModifiedTime(p).toMillis)
        val (adds, removes) = parseAnyManifest(lines.asJava) match {
          case Right(d) => (d.adds.size, d.removes.size)
          case Left((fs, _, _, _, _)) => (fs.size, 0) // v1 full: everything is an add
        }
        Some(CommitInfo(v, ts, op, adds, removes))
      }
    }
  }

  /** DESCRIBE DETAIL (Delta parity): the current snapshot's operational
    * summary — version, file/row/byte footprint, declared stat/bloom
    * columns, live constraints, active renames and dropped columns,
    * deletion-vector count, and the tag pins — all from the manifest
    * plus O(files) driver-side size stats, zero data I/O. `rows` is the
    * PHYSICAL (manifest) count: DV'd victims still occupy their files
    * until materializeDeletes/compaction, and that storage reality is
    * what an operator sizing a maintenance pass needs. The at-a-glance
    * answer to "what am I operating on" before reaching for [[history]]
    * ("who did what when") or the data itself. */
  def detail(): TableDetail = {
    val s = snapshot()
    val dropped = droppedPhys(s.colMap)
    TableDetail(
      version = s.version,
      numFiles = s.files.size,
      rows = s.files.map(_.rows).sum,
      sizeBytes = s.files.map { f =>
        val p = dataDir.resolve(f.path)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum,
      statColumns = statCols,
      bloomColumns = bloomCols,
      constraints = s.constraints,
      renamedColumns = s.colMap.filter { case (l, p) => l != "-" + p },
      droppedColumns = dropped,
      numDeletionVectors = s.files.count(_.dv.isDefined),
      tags = tags)
  }

  def versionDelta(v: Int): VersionDelta = {
    require(v >= 1, s"version $v has no delta (version 0 is the empty table)")
    val cur = snapshot(Some(v)).files
    val prev = if (v == 1) Nil else snapshot(Some(v - 1)).files
    // identity = (path, dv): a positional delete changes an entry IN
    // PLACE (same path, new deletion vector) — by path alone it would
    // look like a no-op commit and CDC would silently miss vanished rows
    val prevKeys = prev.map(f => (f.path, f.dv)).toSet
    val curKeys = cur.map(f => (f.path, f.dv)).toSet
    VersionDelta(v, cur.filterNot(f => prevKeys((f.path, f.dv))),
      removedFiles = prev.count(f => !curKeys((f.path, f.dv))))
  }

  /** Change-data-feed read: the rows APPENDED in versions (fromV, toV],
    * each tagged `_commit_version` — planned entirely from manifest
    * diffs, reading only the added files (at 100 TB an incremental
    * consumer reads one batch's bytes, never the table). A version that
    * also removed files is a CHANGE commit — its added files hold
    * rewritten history, not new rows, so appended-rows semantics cannot
    * be reconstructed from the file level alone: the default REFUSES
    * loudly; `skipChangeCommits = true` skips those versions whole
    * (the Delta streaming-source contract). */
  def changesBetween(spark: SparkSession, fromV: Int, toV: Int,
      skipChangeCommits: Boolean = false): DataFrame = {
    require(0 <= fromV && fromV <= toV && toV <= currentVersion,
      s"bad change range [$fromV, $toV] for table at version $currentVersion")
    val deltas = ((fromV + 1) to toV).map(versionDelta)
    val changed = deltas.filter(_.removedFiles > 0)
    if (changed.nonEmpty && !skipChangeCommits)
      throw new IllegalStateException(
        s"versions ${changed.map(_.version).mkString(",")} of $root rewrote files " +
          "(merge/compact/z-order/delete); their added files are not appended rows. " +
          "Pass skipChangeCommits=true to skip them, or consume the full snapshot.")
    val frames = deltas.filter(d => d.removedFiles == 0 && d.added.nonEmpty).map { d =>
      spark.read.option("mergeSchema", "true")
        .parquet(d.added.map(f => dataDir.resolve(f.path).toString): _*)
        .withColumn("_commit_version", lit(d.version.toLong))
    }
    frames match {
      case Seq() => // schema-bearing empty frame (a skip-only range)
        read(spark, Some(toV)).filter(lit(false))
          .withColumn("_commit_version", lit(0L))
      case fs => fs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** ROW-level change data feed — the Delta CDF `_change_type` face
    * [[changesBetween]]'s file-level read refuses to fake: every row
    * change in versions (fromV, toV], tagged `_change_type`
    * (insert | delete) and `_commit_version`. An UPDATE surfaces as its
    * delete+insert pair (the CDF representation when no preimage is
    * stored); this is what makes downstream REPLICATION total — apply
    * each version's deletes then inserts and the replica converges to
    * the source bit-exactly, deletes and merges included
    * (RowChangesSpec replays exactly that).
    *
    * Per version, planned from the manifest diff by (path, dv)
    * identity: append commits emit their added files' rows as inserts —
    * metadata-planned, no diffing. Change commits diff the removed
    * entries' content against the added entries' (both DV-aware reads):
    * inserts = post ∖ pre, deletes = pre ∖ post, MULTISET semantics
    * (exceptAll), so rows a rewrite merely CARRIED cancel out —
    * compaction and z-order emit ZERO change rows without any
    * skip-commits hack, and a merge emits only the rows it actually
    * changed, not the files it rewrote. Cost is proportional to the
    * TOUCHED files of each version, never the table; a positional
    * delete diffs one file's two DV states and emits exactly the newly
    * vectored rows. Schemas are aligned across evolution (absent
    * columns read NULL on both sides of the diff). */
  def rowChangesBetween(spark: SparkSession, fromV: Int, toV: Int): DataFrame = {
    require(0 <= fromV && fromV <= toV && toV <= currentVersion,
      s"bad change range [$fromV, $toV] for table at version $currentVersion")
    // one schema for the whole feed: every version's files read under the
    // TARGET version's column mapping (physical names are stable across
    // renames, so old files resolve under the new logical names — a CDC
    // consumer sees one consistent schema even across a rename boundary)
    val toSnap = snapshot(Some(toV))
    val toMap = toSnap.colMap
    // the target's declaration rides every per-version read: absent
    // columns NULL-fill and narrow eras widen AT the scan instead of
    // through a footer-inference job per version slice
    val toMeta = toSnap.meta
    val allCols = read(spark, Some(toV)).columns.toSeq
    def align(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    def tag(df: DataFrame, tpe: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v.toLong))
    val frames = ((fromV + 1) to toV).flatMap { v =>
      val cur = snapshot(Some(v)).files
      val prev = if (v == 1) Nil else snapshot(Some(v - 1)).files
      val prevKeys = prev.map(f => (f.path, f.dv)).toSet
      val curKeys = cur.map(f => (f.path, f.dv)).toSet
      val added = cur.filterNot(f => prevKeys((f.path, f.dv)))
      val removed = prev.filterNot(f => curKeys((f.path, f.dv)))
      (added.nonEmpty, removed.nonEmpty) match {
        case (false, false) => None // metadata-only commit (constraint, stats)
        case (true, false) => // pure append: inserts, no diff to compute
          Some(tag(align(readFiles(spark, added, toMap, toMeta)), "insert", v))
        case (false, true) => // pure metadata delete: victims are the content
          Some(tag(align(readFiles(spark, removed, toMap, toMeta)), "delete", v))
        case (true, true) => // rewrite: multiset diff, carried rows cancel
          val pre = align(readFiles(spark, removed, toMap, toMeta))
          val post = align(readFiles(spark, added, toMap, toMeta))
          Some(tag(post.exceptAll(pre), "insert", v)
            .unionByName(tag(pre.exceptAll(post), "delete", v)))
      }
    }
    frames.reduceOption(_.unionByName(_))
      .getOrElse(tag(align(read(spark, Some(toV)).filter(lit(false))), "insert", 0)
        .filter(lit(false)))
  }

  /** Upper bound on [[rowChangesBetween]](fromV, toV)'s row count, from
    * O(versions) driver-side manifest metadata with ZERO jobs: per
    * version, the sum of added + removed file rows (a rewrite's carried
    * rows cancel in the feed but count here — sound as an upper bound).
    * Lets CDC consumers pick a plan shape from the slice's size before
    * any job runs (opt r16: a provably-small slice's key-collect probes
    * skip their distinct exchange). */
  private[graft] def changeRowsUpperBound(fromV: Int, toV: Int): Long =
    ((fromV + 1) to toV).map { v =>
      val cur = snapshot(Some(v)).files
      val prev = if (v == 1) Nil else snapshot(Some(v - 1)).files
      val prevKeys = prev.map(f => (f.path, f.dv)).toSet
      val curKeys = cur.map(f => (f.path, f.dv)).toSet
      cur.filterNot(f => prevKeys((f.path, f.dv))).map(_.rows).sum +
        prev.filterNot(f => curKeys((f.path, f.dv))).map(_.rows).sum
    }.sum

  /** Incremental CDC-APPLY replication — pull the source table's row
    * changes since the last applied version and fold them in, EXACTLY
    * ONCE: the applied-through source version rides THIS table's txn
    * watermark map (`appId → version`, the same manifest slot streaming
    * ingest uses), so a crashed/replayed sync recognizes itself from
    * the current snapshot and no-ops — restart-safe with no external
    * state, the [[appendBatch]] idempotence story lifted to
    * replication.
    *
    * Within the synced range, cross-version churn CANCELS before
    * anything is applied (multiset: net inserts = inserts ∖ deletes,
    * net deletes = deletes ∖ inserts — a row inserted in v+1 and
    * deleted in v+3 moves nothing), which is exactly why the
    * telescoped diff equals the state transition. Net deletes are
    * applied copy-on-write: candidate files found by the SAME
    * broadcast stats-interval probe merge uses (one insert-only sync
    * rewrites nothing), their content exceptAll'd, net inserts landed
    * alongside; ONE commit publishes rows + watermark together —
    * readers of the replica see consistent cuts only. Lost races
    * rebase/abort via [[commitCow]] with the changed-key envelope as
    * the guard. At 100 TB a sync costs the CHANGED files on the source
    * side and the OVERLAPPING files on the target side, never either
    * table. Returns the source version now applied through. */
  def applyChangesFrom(spark: SparkSession, source: TxTable, appId: String,
      key: String): Int = {
    val last = snapshot().txns.getOrElse(appId, 0L).toInt
    val srcV = source.currentVersion
    if (srcV <= last) return last // replayed or idle sync: recognized, no-op
    applyChangeRows(spark, source.rowChangesBetween(spark, last, srcV),
      appId, srcV.toLong, key)
    srcV
  }

  /** Fold ONE slice of a row-level change feed (tagged `_change_type` /
    * `_commit_version` rows, [[rowChangesBetween]]'s shape) into this
    * table, exactly once under `appId → watermark`: a slice at or below
    * the current watermark is recognized from the snapshot and SKIPPED
    * (returns false) — the [[appendBatch]] idempotence contract, which
    * is what lets a streaming micro-batch (at-least-once foreachBatch,
    * watermark = batchId) and a batch sync ([[applyChangesFrom]],
    * watermark = source version) drive the SAME fold. Cancellation,
    * the broadcast stats-probe for candidate files, and the ONE
    * rows+watermark commit are as documented on [[applyChangesFrom]];
    * a cancelled-to-nothing slice still commits metadata-only so the
    * watermark advances. */
  def applyChangeRows(spark: SparkSession, changes: DataFrame, appId: String,
      watermark: Long, key: String): Boolean = {
    val base = snapshot()
    val pk = phys(base, key)
    // a NON-STAT key degrades like mergeFrom: all files are delete
    // candidates, every concurrent add conflicts — never a refusal
    val keyHasStats = statCols.contains(pk)
    if (base.txns.get(appId).exists(_ >= watermark))
      return false // replayed slice: recognized, no-op
    val ch = changes.persist() // every downstream pass reads it
    val persisted = scala.collection.mutable.ListBuffer[DataFrame](ch)
    try {
      val dataCols = ch.columns.filterNot(c =>
        c == "_change_type" || c == "_commit_version").toSeq
      val ins = ch.filter(col("_change_type") === "insert")
        .select(dataCols.map(col): _*)
      val del = ch.filter(col("_change_type") === "delete")
        .select(dataCols.map(col): _*)
      // ONE pass answers everything the control flow needs: per-side row
      // counts (is this insert-only? empty?) and the key envelope for the
      // commit guard. The RAW envelope is a superset of the netted one —
      // conservative, so still a sound conflict guard — and folding the
      // decisions into one job beats the four separate actions this
      // method used to run (isEmpty + probe + write + bounds), which at
      // steady-state sync sizes were pure fixed job overhead.
      val head = ch.agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L)),
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L)),
        min(col(key).cast("long")), max(col(key).cast("long"))).head()
      val nIns = Option(head.get(0)).fold(0L)(_ => head.getLong(0))
      val nDel = Option(head.get(1)).fold(0L)(_ => head.getLong(1))
      val guard: Option[(FileEntry => Boolean, String)] =
        if (!keyHasStats) {
          if (nIns == 0L && nDel == 0L) None
          else Some(((_: FileEntry) => true,
            s"was added concurrently (replication key $key has no stats " +
              "interval — nothing proves disjointness)"))
        } else if (head.isNullAt(2)) None
        else {
          val (mn, mx) = (head.getLong(2), head.getLong(3))
          Some(((f: FileEntry) => f.mins.get(pk).forall(_ <= mx) &&
            f.maxs.get(pk).forall(_ >= mn), s"overlap $pk in [$mn, $mx]"))
        }
      val (candidates, survivorsOpt) =
        if (nDel == 0L) {
          // insert-only sync: nothing to net, nothing to probe, no
          // replica file is touched — survivors are the inserts themselves
          (Nil, if (nIns == 0L) None else Some(ins))
        } else {
          val insNet = ins.exceptAll(del).persist()
          val delNet = del.exceptAll(ins).persist()
          persisted += insNet += delNet
          // candidate files = stats intervals admitting any net-deleted key
          // (merge's broadcast probe); non-stat key ⇒ every file
          val cands =
            if (!keyHasStats) base.files
            else {
              val (statless, statful) =
                base.files.partition(f => f.mins.get(pk).isEmpty)
              val delKeys = delNet.select(col(key).cast("long").as("__k")).distinct()
              val hitPaths: Set[String] = {
                import spark.implicits._
                val intervals = statful.map(f => (f.path, f.mins(pk), f.maxs(pk)))
                  .toDF("__path", "__mn", "__mx")
                delKeys.join(broadcast(intervals),
                    col("__k") >= col("__mn") && col("__k") <= col("__mx"))
                  .select("__path").distinct().as[String].collect().toSet ++
                  statless.map(_.path)
              }
              base.files.filter(f => hitPaths.contains(f.path))
            }
          val survivors =
            if (cands.isEmpty) insNet
            else {
              // align pre-evolution target files to the feed's schema
              // (absent columns read NULL, rowChangesBetween's own rule)
              val cand = readFiles(spark, cands, base.colMap)
              cand.select(dataCols.map(c =>
                  if (cand.columns.contains(c)) col(c) else lit(null).as(c)): _*)
                .exceptAll(delNet)
                .unionByName(insNet, allowMissingColumns = true)
            }
          (cands, Some(survivors))
        }
      val entries = survivorsOpt match {
        case None => Nil
        case Some(s) => writeDataFiles(spark, s) // cancelled-to-nothing still commits below
      }
      commitCow(base, candidates, entries, "CDC apply", guard,
        txns = Map(appId -> watermark))
      true
    } finally { persisted.foreach(_.unpersist(blocking = false)); () }
  }

  /** SNAPSHOT BOOTSTRAP for replication — the other half of the
    * Delta-pattern "initial snapshot plus change feed": instead of
    * replaying the source's entire version history through
    * [[applyChangesFrom]] / the CDF stream (which reads every change
    * ever made — at 100 TB, possibly many times the live table), an
    * EMPTY replica copies the source's CURRENT content in one pass and
    * records the copied-through version under `appId` in the same
    * commit, so a subsequent [[applyChangesFrom]] with the same appId
    * syncs only the tail — and a CDF STREAM continues from the same
    * point via `startingVersion=<returned version + 1>` (the option is
    * inclusive, Delta's semantics; checkpointed
    * restarts then take over). The version is pinned BEFORE the read
    * and the content read AS OF it, so a source commit racing the
    * bootstrap lands in the tail, never lost or doubled. Returns the
    * source version the replica now mirrors. */
  def bootstrapFrom(spark: SparkSession, source: TxTable, appId: String): Int = {
    val base = snapshot()
    require(base.version == 0 && base.files.isEmpty,
      s"snapshot bootstrap requires an empty replica; $root is at version ${base.version}")
    val srcV = source.currentVersion
    val entries =
      if (srcV == 0) Nil // empty source: the bootstrap is just the watermark
      else {
        val content = source.read(spark, versionAsOf = Some(srcV))
        if (content.isEmpty) Nil else writeDataFiles(spark, content)
      }
    committing("bootstrap", retries = 0, from = base) { b =>
      commitOnce(b, entries, Map(appId -> srcV.toLong), op = "bootstrap")
    }
    srcV
  }

  /** Copy-on-write DELETE of rows with `lo <= statCol <= hi` — the typed
    * face of [[deleteWhere]] (its BETWEEN predicate earns the same
    * classes: disjoint files carry by name, fully-covered files drop
    * metadata-only, straddlers rewrite without the band). At 100 TB,
    * retention deletes of whole time ranges are the metadata-only drop:
    * truncating a month costs zero data I/O. */
  def delete(spark: SparkSession, statCol: String, lo: Long, hi: Long): DeleteResult =
    deleteWhere(spark, bandSql(snapshot(), statCol, lo, hi))

  /** `lo <= statCol <= hi` as predicate text for the typed band verbs,
    * refused unless `statCol` carries stats in `base`. */
  private def bandSql(base: Snapshot, statCol: String, lo: Long, hi: Long): String = {
    require(statCols.contains(phys(base, statCol)),
      s"$statCol is not a stat column ($statCols)")
    s"`$statCol` BETWEEN $lo AND $hi"
  }

  /** Per-STAT-COLUMN interval constraints implied by the TOP-LEVEL
    * conjuncts of an arbitrary predicate, plus whether any conjunct was
    * NOT captured (residual). Extraction is prune-sound in one direction
    * only and used accordingly: a conjunction can only REMOVE matching
    * rows, so a file disjoint from any extracted interval provably holds
    * no match REGARDLESS of residual conjuncts — but FULL coverage
    * (every row matches) is provable only when there is NO residual and
    * the file's stats range lies inside every interval. Supported atoms:
    * `col <op> integer-literal` (either operand order, = < <= > >=, and
    * the BETWEEN the session parser desugars into two comparisons) on
    * columns whose PHYSICAL name is a declared stat column; anything
    * else is residual. */
  private[graft] def predicateBands(spark: SparkSession, predicateSql: String,
      base: Snapshot, alias: Option[String] = None): (Map[String, (Long, Long)], Boolean) = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      // the parser leaves BETWEEN as an unresolved 3-arg function; it IS
      // the two comparisons (analysis would desugar it the same way)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") &&
            f.arguments.length == 3 =>
        Seq(ce.GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          ce.LessThanOrEqual(f.arguments(0), f.arguments(2)))
      case other => Seq(other)
    }
    def statPhys(e: ce.Expression): Option[String] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 =>
        Some(phys(base, a.nameParts.head)).filter(statCols.contains)
      // alias-qualified form (`t.k`) — the MERGE clause conditions'
      // spelling; only the DECLARED alias qualifies (an s.-qualified
      // source attribute must stay residual)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 2 &&
            alias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        Some(phys(base, a.nameParts(1))).filter(statCols.contains)
      case _ => None
    }
    def longOf(e: ce.Expression): Option[Long] = e match {
      case ce.Literal(v: Byte, _) => Some(v.toLong)
      case ce.Literal(v: Short, _) => Some(v.toLong)
      case ce.Literal(v: Int, _) => Some(v.toLong)
      case ce.Literal(v: Long, _) => Some(v)
      case _ => None
    }
    val bands = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = bands.getOrElse(c, (Long.MinValue, Long.MaxValue))
      bands(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    var residual = false
    conjuncts(spark.sessionState.sqlParser.parseExpression(predicateSql))
      .foreach { conj =>
        // normalize literal-first atoms to column-first before matching
        val norm = conj match {
          case ce.EqualTo(l: ce.Literal, a) => ce.EqualTo(a, l)
          case ce.GreaterThan(l: ce.Literal, a) => ce.LessThan(a, l)
          case ce.GreaterThanOrEqual(l: ce.Literal, a) => ce.LessThanOrEqual(a, l)
          case ce.LessThan(l: ce.Literal, a) => ce.GreaterThan(a, l)
          case ce.LessThanOrEqual(l: ce.Literal, a) => ce.GreaterThanOrEqual(a, l)
          case other => other
        }
        norm match {
          case ce.EqualTo(a, l) if statPhys(a).isDefined && longOf(l).isDefined =>
            val v = longOf(l).get; tighten(statPhys(a).get, v, v)
          // IN over integer literals: the [min, max] envelope of the list
          // is a sound PRUNE interval, but the atom stays RESIDUAL — the
          // envelope admits the gaps between list values, so it must
          // never qualify a file as fully covered (metadata drops demand
          // every row match)
          case ce.In(a, vs) if statPhys(a).isDefined &&
              vs.nonEmpty && vs.forall(longOf(_).isDefined) =>
            val ls = vs.map(longOf(_).get)
            tighten(statPhys(a).get, ls.min, ls.max)
            residual = true
          case ce.GreaterThanOrEqual(a, l) if statPhys(a).isDefined && longOf(l).isDefined =>
            tighten(statPhys(a).get, longOf(l).get, Long.MaxValue)
          case ce.LessThanOrEqual(a, l) if statPhys(a).isDefined && longOf(l).isDefined =>
            tighten(statPhys(a).get, Long.MinValue, longOf(l).get)
          case ce.GreaterThan(a, l) if statPhys(a).isDefined &&
              longOf(l).exists(_ < Long.MaxValue) =>
            tighten(statPhys(a).get, longOf(l).get + 1, Long.MaxValue)
          case ce.LessThan(a, l) if statPhys(a).isDefined &&
              longOf(l).exists(_ > Long.MinValue) =>
            tighten(statPhys(a).get, Long.MinValue, longOf(l).get - 1)
          case _ => residual = true
        }
      }
    (bands.toMap, residual)
  }

  private def bandsIntersect(bands: Map[String, (Long, Long)])(f: FileEntry): Boolean =
    bands.forall { case (p, (lo, hi)) =>
      f.maxs.get(p).forall(_ >= lo) && f.mins.get(p).forall(_ <= hi)
    }

  /** The file split of one row-level DML statement, as [[classify]]
    * computed it: `touched` = `covered` ++ `straddling` leave the
    * manifest, `kept` carry by name, `guard` is the commit's fresh-file
    * conflict test and `pruneClass` names the decision for EXPLAIN. */
  private case class FileSplit(touched: Seq[FileEntry], covered: Seq[FileEntry],
      straddling: Seq[FileEntry], kept: Seq[FileEntry],
      guard: (FileEntry => Boolean, String), pruneClass: String)

  /** The ONE manifest classification every row-level DML verb and its
    * dry run act on, from the predicate's stat-column intervals
    * ([[predicateBands]]) — how the WHERE is spelled never picks it:
    *  - KEPT: provably disjoint from some interval — no row matches;
    *  - COVERED (only when `dropCovered`): no residual conjunct, stats
    *    range inside every interval and zero nulls — every row matches,
    *    so the file drops metadata-only with zero data I/O. An UPDATE
    *    must rewrite matching rows and passes false;
    *  - STRADDLING: the rest of the touched set — read and rewritten.
    * Exact min/max make the split sound both ways: a dropped file holds
    * no survivor, a kept file no victim; missing stats land a file in
    * the straddling class. The guard treats a concurrently added file
    * that intersects every interval as a conflict ([[commitCow]]; with
    * no derivable interval every fresh file conflicts). */
  private def classify(spark: SparkSession, base: Snapshot, predicateSql: String,
      dropCovered: Boolean): FileSplit = {
    val (bands, residual) = predicateBands(spark, predicateSql, base)
    val (touched, kept) = base.files.partition(bandsIntersect(bands))
    val (covered, straddling) =
      if (!dropCovered || residual || bands.isEmpty) (Seq.empty[FileEntry], touched)
      else touched.partition(f =>
        bands.forall { case (p, (lo, hi)) => f.provablyAllIn(p, lo, hi) })
    val pruneClass =
      if (bands.isEmpty) "none:no-stat-conjunct"
      else bands.toSeq.sortBy(_._1).map { case (p, (lo, hi)) =>
        s"band:$p[$lo,$hi]"
      }.mkString("+") + (if (residual) "+residual" else "")
    FileSplit(touched, covered, straddling, kept,
      (bandsIntersect(bands) _, s"may hold rows matching `$predicateSql`"),
      pruneClass)
  }

  /** Copy-on-write DELETE of rows matching an ARBITRARY predicate.
    * [[classify]] splits the file list: kept files carry by name,
    * covered files drop metadata-only, and straddlers rewrite without
    * the matching rows (DV-aware read, so already-deleted rows never
    * resurrect; rows where the predicate evaluates NULL survive — ANSI
    * DELETE removes only TRUE). A non-stat-column predicate degrades
    * soundly: every file is a rewrite candidate and every concurrent
    * append conflicts. At 100 TB the cost is the files the predicate's
    * selectivity on the table's clustered columns leaves touched —
    * retention deletes stay metadata-only. Historical snapshots still
    * read the dropped/rewritten files until [[vacuum]]. */
  def deleteWhere(spark: SparkSession, predicateSql: String): DeleteResult =
    deleteWhereFrom(spark, snapshot(), predicateSql)

  /** Delete against an explicit base snapshot — the seam that lets a spec
    * interleave a competing commit between base-read and publish
    * (mergeFrom precedent). */
  private[graft] def deleteWhereFrom(spark: SparkSession, base: Snapshot,
      predicateSql: String): DeleteResult = {
    require(base.version > 0, "delete from an empty table?")
    val split = classify(spark, base, predicateSql, dropCovered = true)
    // an all-victims rewrite writes zero rows and so zero files
    val entries =
      if (split.straddling.isEmpty) Nil
      else writeDataFiles(spark,
        readFiles(spark, split.straddling, base.colMap, base.meta)
          .filter(!coalesce(expr(predicateSql), lit(false))))
    val version = commitCow(base, split.touched, entries, "delete",
      Some(split.guard))
    DeleteResult(version, droppedFiles = split.covered.size,
      rewrittenFiles = split.straddling.size, keptFiles = split.kept.size,
      newFiles = entries.size)
  }

  /** DRY-RUN manifest classification of a canonical MERGE (r14 verdict
    * #6): the EXACT candidate split [[mergeFrom]] would compute — the
    * same [[multiKeyHitPaths]] probe — with ZERO writes and ZERO
    * commits, so an operator can preview what an upsert will rewrite on
    * a 100 TB table before running it. One source-scan job (the probe),
    * nothing else. */
  def dryRunMerge(spark: SparkSession, source: DataFrame,
      keys: Seq[String]): TxTable.DmlDryRun = {
    val base = snapshot()
    keys.foreach(phys(base, _))
    val (candidates, kept) = multiKeyHitPaths(spark, base, source, keys) match {
      case None => (base.files, Seq.empty[FileEntry])
      case Some(hits) => base.files.partition(f => hits.contains(f.path))
    }
    val statKeys = keys.filter(k => statCols.contains(phys(base, k)))
    // a merge rewrites every candidate (CoW) — no metadata-only class
    TxTable.DmlDryRun("merge", base.files.size, candidates.size,
      covered = 0, straddling = candidates.size, kept = kept.size,
      pruneClass =
        if (statKeys.isEmpty) "none:no-stat-key-component"
        else s"interval-intersect:${statKeys.mkString(",")}")
  }

  /** DRY-RUN classification of a predicate UPDATE/DELETE: the same
    * [[classify]] split the real run acts on (an update drops nothing
    * metadata-only, so it reports no covered class), committed never. */
  def dryRunWhere(spark: SparkSession, operation: String,
      predicateSql: String): TxTable.DmlDryRun = {
    val base = snapshot()
    val split = classify(spark, base, predicateSql,
      dropCovered = operation == "delete")
    TxTable.DmlDryRun(operation, base.files.size, split.touched.size,
      split.covered.size, split.straddling.size, split.kept.size,
      split.pruneClass)
  }

  /** Copy-on-write DELETE of rows whose `column` value appears in (IN) —
    * or, `negate`, does NOT appear in (NOT IN) — a KEY FRAME: the
    * execution of `DELETE FROM t WHERE c IN (SELECT …)`. The subquery is
    * materialized ONCE by the caller; this method never re-runs it.
    *
    * IN semantics (ANSI: delete only where the predicate is TRUE):
    * NULL `column` rows survive (NULL IN anything is never TRUE), and
    * candidate files come from the SAME broadcast stats-interval probe
    * MERGE uses — each distinct key joined against the manifest
    * intervals, so a 100 TB table rewrites only the files whose range
    * admits some key, never the table, and never one global envelope a
    * single outlier key would inflate. No file ever drops metadata-only
    * (a key set has gaps; only a scan can prove full coverage).
    * Survivors are the anti-join of candidate content against the keys —
    * the keys frame is (subquery-result)-sized and broadcasts.
    *
    * NOT IN semantics: `c NOT IN (keys)` is TRUE only when `c` is
    * non-NULL, the key set holds NO NULL, and nothing matches — so a
    * NULL in the subquery result makes the statement a LOUD no-op
    * (committed as metadata so the intent is auditable would be noise —
    * we return a zero result instead), and survivors are the NULL-`c`
    * rows plus the semi-join matches. Absence is unprunable: every file
    * is a candidate and every concurrent append conflicts.
    *
    * Commit guard: the keys' [min,max] envelope for IN (a concurrent
    * file provably outside it holds no deletable row); the
    * always-conflict guard for NOT IN. */
  def deleteWhereIn(spark: SparkSession, column: String, keys: DataFrame,
      negate: Boolean = false): DeleteResult = {
    val base = snapshot()
    require(base.version > 0, "delete from an empty table?")
    val p = phys(base, column)
    require(keys.schema.length == 1,
      s"IN-subquery must project exactly one column, got ${keys.schema.length}")
    val k = keys.toDF("__k").persist()
    try {
      // one job answers everything: count, null presence, long envelope
      val head = k.agg(count(lit(1)), sum(when(col("__k").isNull, 1L).otherwise(0L)),
        min(col("__k").cast("long")), max(col("__k").cast("long"))).head()
      val nKeys = head.getLong(0)
      val nNullKeys = if (nKeys == 0) 0L else head.getLong(1)
      if (!negate && nKeys == 0L)
        return DeleteResult(base.version, 0, 0, base.files.size, 0)
      if (negate && nNullKeys > 0L)
        // `c NOT IN (…, NULL)` is never TRUE: ANSI says delete nothing
        return DeleteResult(base.version, 0, 0, base.files.size, 0)
      val keyHasStats = statCols.contains(p) && !negate
      val (candidates, kept) =
        if (!keyHasStats) (base.files, Seq.empty[FileEntry])
        else inListCandidates(spark, base, p, k)
      val entries =
        if (candidates.isEmpty) Nil
        else {
          val cand = readFiles(spark, candidates, base.colMap, base.meta)
          // no forced broadcast on the key frame: a subquery result can
          // be arbitrarily large (a forced build side is the OOM class
          // round 12 removed) — AQE size-gates the strategy instead
          val survivors =
            if (!negate) // NULL c and unmatched rows survive the anti-join
              cand.join(k, cand(column) === k("__k"), "left_anti")
            else if (nKeys == 0L)
              // `c NOT IN (empty)` is TRUE for EVERY row, NULL c
              // included (the quantified comparison over zero elements
              // — ANSI and Spark agree): nothing survives
              cand.filter(lit(false))
            else // survivors: NULL c, or c matching some key
              cand.filter(col(column).isNull)
                .unionByName(cand.join(k,
                  cand(column) === k("__k"), "left_semi"))
          // an all-victims candidate set writes zero rows and so zero files
          writeDataFiles(spark, survivors)
        }
      val guard: Option[(FileEntry => Boolean, String)] =
        if (negate)
          Some(((_: FileEntry) => true,
            s"was added concurrently (NOT IN governs every row of $column)"))
        else if (head.isNullAt(2) && keyHasStats)
          // keys exist but none casts to long: the interval probe saw
          // nothing, but equality on a non-numeric stat column is
          // unprovable — conservative all-conflict
          Some(((_: FileEntry) => true, "was added concurrently (IN keys " +
            s"carry no $p interval — nothing proves disjointness)"))
        else if (!keyHasStats)
          Some(((_: FileEntry) => true,
            s"was added concurrently (delete key $column has no stats " +
              "interval — nothing proves disjointness)"))
        else {
          val (mn, mx) = (head.getLong(2), head.getLong(3))
          Some(((f: FileEntry) => f.mins.get(p).forall(_ <= mx) &&
            f.maxs.get(p).forall(_ >= mn), s"overlap $p in [$mn, $mx]"))
        }
      val version = commitCow(base, candidates, entries, "delete", guard)
      DeleteResult(version, droppedFiles = 0,
        rewrittenFiles = candidates.size, keptFiles = kept.size,
        newFiles = entries.size)
    } finally { k.unpersist(blocking = false); () }
  }

  /** Candidate files for a key-FRAME membership probe: each distinct key
    * joined against the broadcast manifest intervals (merge's
    * discipline — per-key, never one global envelope), statless files
    * unconditional candidates. Returns (candidates, kept-by-name). */
  private def inListCandidates(spark: SparkSession, base: Snapshot,
      p: String, k: DataFrame): (Seq[FileEntry], Seq[FileEntry]) = {
    val (statless, statful) = base.files.partition(f => f.mins.get(p).isEmpty)
    val hitPaths: Set[String] = {
      import spark.implicits._
      val intervals = statful.map(f => (f.path, f.mins(p), f.maxs(p)))
        .toDF("__path", "__mn", "__mx")
      k.select(col("__k").cast("long").as("__kl"))
        .join(broadcast(intervals),
          col("__kl") >= col("__mn") && col("__kl") <= col("__mx"))
        .select("__path").distinct().as[String].collect().toSet ++
        statless.map(_.path)
    }
    base.files.partition(f => hitPaths.contains(f.path))
  }

  /** Copy-on-write UPDATE of rows whose `column` appears (IN) — or,
    * `negate`, does NOT appear (NOT IN) — in a KEY FRAME: the execution
    * of `UPDATE t SET … WHERE c [NOT] IN (SELECT …)`, the "flag these
    * users" erasure/backfill shape. Candidates, ANSI NULL semantics and
    * the commit guard are [[deleteWhereIn]]'s; matched rows pass through
    * ONE conditional projection (`WHEN member THEN rhs ELSE old`, every
    * rhs reading the PRE-update row — ANSI SET), unmatched and
    * NULL-`column` rows carry byte-identical, and `NOT IN` with a NULL
    * key updates nothing (never TRUE). Membership is a left join against
    * the DISTINCT key frame (no forced broadcast — AQE size-gates). */
  def updateWhereIn(spark: SparkSession, column: String, keys: DataFrame,
      sets: Seq[(String, String)], negate: Boolean = false): DeleteResult = {
    val base = snapshot()
    require(base.version > 0, "update of an empty table?")
    val p = phys(base, column)
    require(keys.schema.length == 1,
      s"IN-subquery must project exactly one column, got ${keys.schema.length}")
    val names = sets.map(_._1)
    require(names.distinct.length == names.length,
      s"UPDATE SET assigns ${names.diff(names.distinct).distinct.mkString(", ")} more than once")
    val k = keys.toDF("__k").distinct().persist()
    try {
      val head = k.agg(count(lit(1)),
        sum(when(col("__k").isNull, 1L).otherwise(0L)),
        min(col("__k").cast("long")), max(col("__k").cast("long"))).head()
      val nKeys = head.getLong(0)
      val nNullKeys = if (nKeys == 0) 0L else head.getLong(1)
      if (!negate && nKeys == 0L)
        return DeleteResult(base.version, 0, 0, base.files.size, 0)
      if (negate && nNullKeys > 0L)
        return DeleteResult(base.version, 0, 0, base.files.size, 0)
      val keyHasStats = statCols.contains(p) && !negate
      val (candidates, kept) =
        if (!keyHasStats) (base.files, Seq.empty[FileEntry])
        else inListCandidates(spark, base, p, k)
      val entries =
        if (candidates.isEmpty) Nil
        else {
          val cand = readFiles(spark, candidates, base.colMap, base.meta)
          names.foreach(n => require(cand.columns.contains(n),
            s"UPDATE SET names unknown column $n (have ${cand.columns.mkString(", ")})"))
          val joined = cand.join(k, cand(column) === k("__k"), "left")
          val member =
            if (!negate) col("__k").isNotNull
            else if (nKeys == 0L) lit(true) // NOT IN (empty) is always TRUE
            else cand(column).isNotNull && col("__k").isNull
          val setMap = sets.toMap
          val updated = joined.select(cand.columns.toSeq.map { c =>
            setMap.get(c)
              .map(rhs => when(member, expr(rhs)).otherwise(cand(c)).as(c))
              .getOrElse(cand(c))
          }: _*)
          writeDataFiles(spark, updated)
        }
      val guard: Option[(FileEntry => Boolean, String)] =
        if (negate || !keyHasStats || head.isNullAt(2))
          Some(((_: FileEntry) => true,
            s"was added concurrently ($column membership is unprovable " +
              "for the new file)"))
        else {
          val (mn, mx) = (head.getLong(2), head.getLong(3))
          Some(((f: FileEntry) => f.mins.get(p).forall(_ <= mx) &&
            f.maxs.get(p).forall(_ >= mn), s"overlap $p in [$mn, $mx]"))
        }
      val version = commitCow(base, candidates, entries, "update", guard)
      DeleteResult(version, droppedFiles = 0,
        rewrittenFiles = candidates.size, keptFiles = kept.size,
        newFiles = entries.size)
    } finally { k.unpersist(blocking = false); () }
  }

  /** Copy-on-write UPDATE under an ARBITRARY predicate: the [[classify]]
    * split minus the metadata-only class (an update must rewrite
    * matching ROWS, so provably-fully-covered files are rewrites too).
    * Each candidate file's rows pass through ONE conditional projection —
    * `WHEN pred THEN rhs ELSE old` per assigned column, every rhs reading
    * the PRE-update row (ANSI UPDATE: `SET a = b, b = a` swaps); rows the
    * predicate doesn't match (including NULL) carry unchanged. */
  def updateWhere(spark: SparkSession, predicateSql: String,
      sets: Seq[(String, String)]): DeleteResult = {
    val base = snapshot()
    require(base.version > 0, "update of an empty table?")
    val names = sets.map(_._1)
    require(names.distinct.length == names.length,
      s"UPDATE SET assigns ${names.diff(names.distinct).distinct.mkString(", ")} more than once")
    val split = classify(spark, base, predicateSql, dropCovered = false)
    val entries =
      if (split.touched.isEmpty) Nil
      else {
        val cand = readFiles(spark, split.touched, base.colMap, base.meta)
        names.foreach(n => require(cand.columns.contains(n),
          s"UPDATE SET names unknown column $n (have ${cand.columns.mkString(", ")})"))
        val setMap = sets.toMap
        val pred = coalesce(expr(predicateSql), lit(false))
        val updated = cand.select(cand.columns.toSeq.map { c =>
          setMap.get(c)
            .map(rhs => when(pred, expr(rhs)).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
        writeDataFiles(spark, updated)
      }
    val version = commitCow(base, split.touched, entries, "update",
      Some(split.guard))
    DeleteResult(version, droppedFiles = 0,
      rewrittenFiles = split.touched.size, keptFiles = split.kept.size,
      newFiles = entries.size)
  }

  /** Unconditional `DELETE FROM t` (truncate): every current file leaves
    * the manifest in one metadata-only commit — zero data I/O at any
    * table size, and history/time travel keep the old versions readable
    * (vacuum reclaims the bytes later). Declared metadata, constraints
    * and stream watermarks survive: a truncated table is EMPTY, not
    * destroyed. */
  def truncateAll(): DeleteResult =
    // truncate drops whatever the latest snapshot holds: rebase and retry
    committing("truncate") { base =>
      DeleteResult(commitOnce(base, Nil, op = "delete"),
        droppedFiles = base.files.size, rewrittenFiles = 0, keptFiles = 0,
        newFiles = 0)
    }

  /** Atomic band overwrite (Delta's `replaceWhere`) — the
    * backfill/restatement path: in ONE commit, rows with `statCol` in
    * [lo, hi] are replaced by `df`. A recomputed day/key-band swaps in
    * atomically — readers see the old band or the new band, never a
    * mix, never a gap (delete-then-append would expose both
    * intermediate states, and a crash between them loses the band).
    *
    * The replacement is VALIDATED to stay inside its declared band from
    * the per-file stats the write pass already computed — zero extra
    * scan: a backfill that leaks rows outside [lo, hi] would silently
    * clobber or duplicate data it never declared ownership of, so it
    * refuses before anything becomes visible (staged files deleted, the
    * Delta replaceWhere contract). Victim classification is
    * [[classify]]'s for the band: covered files drop metadata-only,
    * straddlers rewrite minus the band, disjoint files carry by name.
    * Lost commit races rebase across provably disjoint concurrent
    * commits ([[commitCow]] with the band guard). `newFiles` counts
    * replacement + straddler-rewrite files. */
  def overwriteWhere(spark: SparkSession, statCol: String, lo: Long, hi: Long,
      df: DataFrame): DeleteResult =
    overwriteWhereFrom(spark, snapshot(), statCol, lo, hi, df)

  private[graft] def overwriteWhereFrom(spark: SparkSession, base: Snapshot,
      statCol: String, lo: Long, hi: Long, df: DataFrame): DeleteResult = {
    val band = bandSql(base, statCol, lo, hi)
    require(base.version > 0, "overwrite into an empty table: use append")
    val p = phys(base, statCol)
    val replacement = writeDataFiles(spark, df)
    // provablyAllIn: range inside the band AND zero nulls — a NULL-keyed
    // replacement row lies outside every band and must be rejected too
    val escapees = replacement.filterNot(_.provablyAllIn(p, lo, hi))
    if (escapees.nonEmpty) {
      reclaim(replacement)
      throw new IllegalArgumentException(
        s"overwriteWhere($statCol in [$lo, $hi]) rejected: replacement rows " +
          s"escape the declared band in ${escapees.size} file(s) " +
          escapees.map(e => s"${e.path} spans [${e.mins.get(p).orNull}, " +
            s"${e.maxs.get(p).orNull}]").mkString("(", "; ", ")"))
    }
    val split = classify(spark, base, band, dropCovered = true)
    val rewrites =
      if (split.straddling.isEmpty) Nil
      else writeDataFiles(spark,
        readFiles(spark, split.straddling, base.colMap) // DV-aware: never resurrect
          // NULL statCol rows are NOT in the band: coalesce keeps them
          // (bare NOT(NULL) is NULL and the filter would drop survivors)
          .filter(!coalesce(expr(band), lit(false))))
    val version = commitCow(base, split.touched, rewrites ++ replacement,
      "overwriteWhere", Some(split.guard))
    DeleteResult(version, droppedFiles = split.covered.size,
      rewrittenFiles = split.straddling.size, keptFiles = split.kept.size,
      newFiles = rewrites.size + replacement.size)
  }

  /** PER-FILE deletion-vector writer — the distributed replacement for
    * the one-task `coalesce(1)` funnel (round-13 verdict #3): the
    * victim frame (file, pos) shuffles ONE PARTITION PER CANDIDATE FILE
    * (explicit partition count — AQE never re-coalesces an explicit
    * repartition back into a funnel), each file's positions land as
    * that file's OWN dv parquet via a partitioned staging write, prior
    * vectors union forward per file (a shared legacy vector splits into
    * per-file shards on its next touch), and a candidate with no
    * victims and no prior vector carries UNSTAMPED — its reads pay no
    * anti-join. Write parallelism rides the victim scan: at 100 TB a
    * merge matching 10⁹ rows writes its vectors with the scan's task
    * fan-out, never through one writer, and no two files ever share a
    * vector (the shared-DV read amplification is gone). Returns the
    * re-stamped candidate entries. */
  private def writeDvEntries(spark: SparkSession, candidates: Seq[FileEntry],
      victims: DataFrame): Seq[FileEntry] = {
    val oldDvs = candidates.flatMap(_.dv).distinct
    val all =
      if (oldDvs.isEmpty) victims
      else victims.unionByName(spark.read.parquet(
        oldDvs.map(d => dataDir.resolve(d).toString): _*)).distinct()
    val stage = dataDir.resolve(s"stage-${UUID.randomUUID()}")
    // __pfile rides the partition PATH; (file, pos) stay data columns
    // for the read-side anti-join
    all.withColumn("__pfile", col("file"))
      .repartition(math.max(1, candidates.size), col("file"))
      .write.partitionBy("__pfile").parquet(stage.toString)
    // only CANDIDATE files' shards promote out of the stage: a legacy
    // SHARED vector can carry positions of files this operation never
    // touched — those keep referencing the old vector, and their staged
    // shards die with the stage dir instead of leaking as orphans
    val candNames = candidates.map(f =>
      Paths.get(f.path).getFileName.toString).toSet
    val dvByName: Map[String, String] =
      Option(stage.toFile.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("__pfile="))
        .flatMap { d =>
          val src = java.net.URLDecoder.decode(
            d.getName.stripPrefix("__pfile="), "UTF-8")
          if (!candNames.contains(src)) None
          else {
            val parts = Option(d.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.endsWith(".parquet"))
            // hash repartition on the file name puts every row of a file
            // in ONE task — exactly one part per shard, movable as-is
            require(parts.length == 1,
              s"dv shard for $src staged ${parts.length} parts (expected 1)")
            val dvName = s"dv-${UUID.randomUUID()}.parquet"
            Files.move(parts.head.toPath, dataDir.resolve(dvName),
              StandardCopyOption.ATOMIC_MOVE)
            Some(src -> dvName)
          }
        }.toMap
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(stage.toFile)
    candidates.map { f =>
      dvByName.get(Paths.get(f.path).getFileName.toString) match {
        case Some(dv) => f.copy(dv = Some(dv))
        // no victims ever (a prior vector would have re-sharded here):
        // clear a stale shared-vector reference, else carry untouched
        case None => if (f.dv.isEmpty) f else f.copy(dv = None)
      }
    }
  }

  /** POSITIONAL delete (merge-on-read — Delta deletion vectors /
    * Iceberg positional deletes): like [[delete]], manifest stats
    * classify files three ways, but straddlers are NOT rewritten —
    * their victim ROW POSITIONS land in one tiny deletion-vector file
    * and readers anti-join them out ([[readFiles]]). The write
    * amplification of copy-on-write disappears: a delete of k rows
    * costs one victim scan plus O(k) positions, never a file rewrite —
    * the shape row-level GDPR/retention deletes take at 100 TB, where
    * rewriting every straddling file turns a small delete into a
    * compaction. The read-side cost (per-file anti-join) is paid only
    * by DV'd files and only until [[compact]] or
    * [[materializeDeletes]] folds the vectors in. Victims are computed
    * DV-aware (already-deleted rows just re-enter the vector —
    * idempotent under the anti-join); existing vectors of touched
    * files are unioned forward so nothing resurrects. The typed band
    * face of [[deletePositionalWhere]]. */
  def deletePositional(spark: SparkSession, statCol: String,
      lo: Long, hi: Long): PositionalDeleteResult =
    deletePositionalWhere(spark, bandSql(snapshot(), statCol, lo, hi))

  /** POSITIONAL delete under an ARBITRARY predicate — the [[classify]]
    * split with [[deletePositional]]'s merge-on-read write path:
    * provably-fully-covered files still drop METADATA-ONLY (cheaper than
    * any vector), provably-disjoint files carry by name, and the
    * candidates in between get their matching ROW POSITIONS appended to
    * one tiny deletion-vector file instead of a copy-on-write rewrite —
    * the GDPR/row-level-retention shape at 100 TB, where the victim set
    * is small and scattered and rewriting every touched file would turn
    * a k-row delete into a compaction. The predicate is evaluated under
    * LOGICAL names (raw files carry physical names — the column mapping
    * is applied before the filter); rows where it evaluates NULL
    * survive. Existing vectors of touched files union forward; commit
    * races use the split's fresh-file conflict guard. */
  def deletePositionalWhere(spark: SparkSession,
      predicateSql: String): PositionalDeleteResult = {
    val base = snapshot()
    require(base.version > 0, "delete from an empty table?")
    val split = classify(spark, base, predicateSql, dropCovered = true)
    val entries =
      if (split.straddling.isEmpty) Nil
      else {
        val victims = readWithPositions(spark, split.straddling, base)
          .filter(coalesce(expr(predicateSql), lit(false)))
          .select(col("__file").as("file"), col("__pos").as("pos"))
        writeDvEntries(spark, split.straddling, victims)
      }
    val version = commitCow(base, split.touched, entries, "positional delete",
      Some(split.guard))
    PositionalDeleteResult(version, droppedFiles = split.covered.size,
      dvFiles = split.straddling.size, keptFiles = split.kept.size)
  }

  /** MERGE-ON-READ UPDATE (Delta's DV-based UPDATE): rows matching the
    * predicate are TOMBSTONED by position in a deletion vector and their
    * UPDATED IMAGES appended as new files — ONE commit, zero candidate
    * files rewritten. Copy-on-write [[updateWhere]] re-copies every
    * touched file's untouched rows; here a k-row update costs one
    * victim scan + O(k) positions + O(k) new rows — the GDPR/backfill
    * shape at 100 TB when the matched set is small and scattered. The
    * read side needs nothing new: the DV anti-join hides the old
    * images, the appended file carries the new ones. Already-DV'd rows
    * are excluded from image generation (re-updating a deleted row
    * would resurrect it as a fresh image); existing vectors union
    * forward. SET semantics, NULL-predicate survival, and the banded
    * candidate prune are [[updateWhere]]'s; compaction or
    * [[materializeDeletes]] later folds the debt flat. */
  def updatePositionalWhere(spark: SparkSession, predicateSql: String,
      sets: Seq[(String, String)]): PositionalDeleteResult = {
    val base = snapshot()
    require(base.version > 0, "update of an empty table?")
    val names = sets.map(_._1)
    require(names.distinct.length == names.length,
      s"UPDATE SET assigns ${names.diff(names.distinct).distinct.mkString(", ")} more than once")
    val split = classify(spark, base, predicateSql, dropCovered = false)
    val touched = split.touched
    val entries =
      if (touched.isEmpty) Nil
      else {
        val raw = readWithPositions(spark, touched, base)
        names.foreach(n => require(raw.columns.contains(n),
          s"UPDATE SET names unknown column $n"))
        val matching = raw.filter(coalesce(expr(predicateSql), lit(false)))
        val oldDvs = touched.flatMap(_.dv).distinct
        // rows already tombstoned must not re-image
        val alive =
          if (oldDvs.isEmpty) matching
          else {
            val dvs = spark.read.parquet(
              oldDvs.map(d => dataDir.resolve(d).toString): _*)
            matching.join(dvs,
              matching("__file") === dvs("file") && matching("__pos") === dvs("pos"),
              "left_anti")
          }
        val alivePersisted = alive.persist()
        try {
          val victims = alivePersisted
            .select(col("__file").as("file"), col("__pos").as("pos"))
          val dvEntries = writeDvEntries(spark, touched, victims)
          // updated IMAGES of the tombstoned rows — one projection, every
          // rhs reading the PRE-update row (ANSI SET)
          val setMap = sets.toMap
          val dataCols = raw.columns.toSeq.filterNot(c => c == "__file" || c == "__pos")
          val images = alivePersisted.select(dataCols.map { c =>
            setMap.get(c).map(rhs => expr(rhs).as(c)).getOrElse(col(c))
          }: _*)
          val imageEntries = writeDataFiles(spark, images)
          dvEntries ++ imageEntries
        } finally { alivePersisted.unpersist(blocking = false); () }
      }
    val version = commitCow(base, touched, entries, "update",
      Some(split.guard))
    PositionalDeleteResult(version, droppedFiles = 0,
      dvFiles = touched.size, keptFiles = split.kept.size)
  }

  /** MERGE-ON-READ upsert (DV-based MERGE — the Delta deletion-vector
    * merge / Iceberg MoR write path): matched target rows are
    * TOMBSTONED by position, the ENTIRE source appends as new files
    * (matched keys' replacement images and fresh inserts alike), ONE
    * commit. Candidate selection (per-key broadcast interval probe),
    * semantics (NULL-key sources insert, duplicate source keys land
    * verbatim) and the conflict guard are [[merge]]'s EXACTLY — same
    * answer, different physical shape: copy-on-write rewrites every
    * candidate file, merge-on-read costs a candidate victim scan plus
    * O(|source|) appended rows. The steady-state CDC-upsert shape at
    * 100 TB, with compaction folding the vectors in on schedule. */
  def mergePositional(spark: SparkSession, source: DataFrame,
      key: String): MergeResult =
    mergePositionalFrom(spark, snapshot(), source, key)

  /** [[mergePositional]] on a COMPOSITE key (the [[merge]] keys
    * contract: all-component equality, NULL never matches, intersected
    * per-component candidate probe, all-components-overlap guard). */
  def mergePositional(spark: SparkSession, source: DataFrame,
      keys: Seq[String]): MergeResult =
    mergePositionalFrom(spark, snapshot(), source, keys, Map.empty)

  /** Merge-on-read against an explicit base snapshot, optionally
    * carrying stream txn watermarks in the same commit — the seam
    * [[mergeBatch]]'s MoR flavor and specs drive (mergeFrom precedent). */
  private[graft] def mergePositionalFrom(spark: SparkSession, base: Snapshot,
      source: DataFrame, key: String,
      txns: Map[String, Long] = Map.empty): MergeResult =
    mergePositionalFrom(spark, base, source, Seq(key), txns)

  private[graft] def mergePositionalFrom(spark: SparkSession, base: Snapshot,
      source: DataFrame, keys: Seq[String],
      txns: Map[String, Long]): MergeResult = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.distinct.length == keys.length,
      s"merge keys repeat a column: ${keys.mkString(", ")}")
    keys.foreach(phys(base, _)) // every component must resolve
    require(base.version > 0, "merge into an empty table: use append")
    // same schema-evolution declaration as the copy-on-write twin: a
    // declared table's new source columns widen the schema in the same
    // commit (the appended batch carries them; tombstoned history
    // NULL-backfills), type conflicts refuse before any tombstone lands
    val evolvedMeta = base.meta.flatMap(m =>
      evolveForSource(base, m.schema, source.schema))
    val src = source
    val (candidates, kept) = multiKeyHitPaths(spark, base, src, keys) match {
      case None => (base.files, Seq.empty[FileEntry])
      case Some(hits) => base.files.partition(f => hits.contains(f.path))
    }
    val dvEntries =
      if (candidates.isEmpty) Nil
      else {
        val raw = readWithPositions(spark, candidates, base)
        val srcKeys = src.select(keys.zipWithIndex.map { case (k, i) =>
          col(k).as(s"__mk$i") }: _*).distinct()
        val matched = raw.join(srcKeys,
          keys.indices.map(i => raw(keys(i)) === col(s"__mk$i")).reduce(_ && _),
          "left_semi")
        val victims = matched
          .select(col("__file").as("file"), col("__pos").as("pos"))
        writeDvEntries(spark, candidates, victims)
      }
    val srcEntries = writeDataFiles(spark, src)
    val guard = multiKeyGuard(spark, base, src, keys)
    val version = commitCow(base, candidates,
      dvEntries ++ srcEntries, "merge", guard, txns = txns, meta = evolvedMeta)
    MergeResult(version, rewrittenFiles = 0,
      keptFiles = kept.size + candidates.size, newFiles = srcEntries.size)
  }

  /** Fold every deletion vector back into plain files: rewrite ONLY the
    * DV'd entries (via the DV-aware read, so victims stay gone), carry
    * the rest by name. The maintenance op that converts merge-on-read
    * debt back to zero read-side cost; vacuum reclaims the old files
    * and vectors past the retention horizon. */
  def materializeDeletes(spark: SparkSession): MergeResult =
    materializeDeletes(spark, 0.0)

  /** [[materializeDeletes]] folding only files whose vectored fraction
    * STRICTLY exceeds `minDvFraction` (0.0 = every vectored file, the
    * full fold) — the targeted debt collector: fold the files whose
    * read-side anti-join no longer pays, keep cheap vectors riding.
    * Fraction is decided from one tiny job over the vector parquets;
    * no data file is read to plan. */
  def materializeDeletes(spark: SparkSession,
      minDvFraction: Double): MergeResult = {
    val base = snapshot()
    require(base.version > 0, "materialize on an empty table?")
    val (dvdAll, plain) = base.files.partition(_.dv.nonEmpty)
    val dvd =
      if (minDvFraction <= 0.0) dvdAll
      else {
        val heavy = dvHeavyFiles(spark, base, minDvFraction)
        dvdAll.filter(f => heavy.contains(f.path))
      }
    if (dvd.isEmpty)
      return MergeResult(base.version, 0, base.files.size, 0)
    val entries = writeDataFiles(spark, readFiles(spark, dvd, base.colMap))
    // content-preserving rewrite: concurrent appends never conflict
    val version = commitCow(base, dvd, entries, "materializeDeletes", None)
    MergeResult(version, rewrittenFiles = dvd.size,
      keptFiles = base.files.size - dvd.size, newFiles = entries.size)
  }

  /** Files whose deletion-vector debt STRICTLY exceeds `threshold` as a
    * fraction of their physical rows — automatic fold candidates
    * regardless of size: past [[TxTable.DvFoldThreshold]] dead rows the
    * per-read anti-join outweighs the rewrite it deferred. One tiny job
    * over the (per-file) vector parquets; zero data-file I/O. */
  private def dvHeavyFiles(spark: SparkSession, base: Snapshot,
      threshold: Double): Set[String] = {
    val dvd = base.files.filter(_.dv.nonEmpty)
    if (dvd.isEmpty) return Set.empty
    // dedup (file, pos) BEFORE counting: legacy shared vectors from a
    // partial re-shard can carry the same position in several parquets,
    // and double-counting would fold files below the intended threshold
    // — the writer itself dedups, so the reader must too (ADVICE r14)
    val counts = spark.read.parquet(
      dvd.flatMap(_.dv).distinct.map(d => dataDir.resolve(d).toString): _*)
      .select(col("file"), col("pos")).distinct()
      .groupBy(col("file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dvd.filter { f =>
      val name = Paths.get(f.path).getFileName.toString
      f.rows > 0 &&
        counts.getOrElse(name, 0L).toDouble / f.rows > threshold
    }.map(_.path).toSet
  }

  // -------------------------------------------------------------- maintenance

  /** Compaction (OPTIMIZE): bin-pack files smaller than `smallRows` into
    * combined files, leaving already-large files untouched BY NAME. A
    * metadata-plus-rewrite operation: the manifest decides the candidate
    * set from its own row counts (no data read to plan), only the small
    * files' rows are rewritten, and the commit publishes like any other —
    * race losers rebase across disjoint concurrent commits (a concurrent
    * append carries forward BY NAME — a background optimizer that aborts
    * on every streaming micro-batch would livelock; a commit that
    * touched the small files themselves aborts the compaction). Historical
    * snapshots keep naming the old small files, so time travel still
    * works until [[vacuum]] reclaims them past the retention horizon.
    * The 100 TB shape: the small-file problem is endemic to streaming
    * ingest (each micro-batch lands a file per partition), and compaction
    * cost is proportional to the SMALL fraction, never the table. */
  def compact(spark: SparkSession, smallRows: Long): MergeResult =
    compactFrom(spark, snapshot(), smallRows)

  /** Compact against an explicit base snapshot — the seam that lets a
    * spec interleave a competing commit between base-read and publish
    * (mergeFrom precedent). */
  private[graft] def compactFrom(spark: SparkSession, base: Snapshot,
      smallRows: Long): MergeResult = {
    require(base.version > 0, "compact an empty table?")
    // AUTO-FOLD: a file whose deletion-vector debt exceeds the fold
    // threshold is a compaction candidate REGARDLESS of size — past
    // ~50% dead rows the per-read anti-join outweighs the rewrite it
    // deferred, so scheduled OPTIMIZE keeps MoR debt bounded per file
    val dvHeavy = dvHeavyFiles(spark, base, TxTable.DvFoldThreshold)
    val (small, large) = base.files.partition(f =>
      f.rows < smallRows || dvHeavy.contains(f.path))
    if (small.size < 2 && dvHeavy.isEmpty)
      return MergeResult(base.version, 0, base.files.size, 0)
    val packed = readFiles(spark, small, base.colMap) // DV-aware: compaction materializes deletes
      .coalesce(math.max(1, (small.map(_.rows).sum / smallRows).toInt))
    val entries = writeDataFiles(spark, packed)
    // content-preserving rewrite: concurrent appends never conflict
    val version = commitCow(base, small, entries, "compaction", None)
    MergeResult(version, rewrittenFiles = small.size,
      keptFiles = large.size, newFiles = entries.size)
  }

  /** BAND-SCOPED compaction (`OPTIMIZE … WHERE statCol BETWEEN lo AND
    * hi`): [[compact]] restricted to small files whose stats INTERSECT
    * the band — the 100 TB maintenance shape, where you bin-pack
    * yesterday's ingest partition and never touch (or even list-filter
    * beyond the manifest) the other petabytes. Files outside the band,
    * and large files inside it, carry BY NAME; missing stats
    * conservatively include (the file may hold band rows — compaction
    * is content-preserving either way). Content-preserving rewrite:
    * concurrent appends never conflict. */
  def compactWhere(spark: SparkSession, statCol: String, lo: Long, hi: Long,
      smallRows: Long): MergeResult = {
    val base = snapshot()
    val p = phys(base, statCol)
    require(statCols.contains(p), s"$statCol is not a stat column ($statCols)")
    require(base.version > 0, "compact an empty table?")
    val (inBand, outside) = base.files.partition { f =>
      f.maxs.get(p).forall(_ >= lo) && f.mins.get(p).forall(_ <= hi)
    }
    val small = inBand.filter(_.rows < smallRows)
    if (small.size < 2)
      return MergeResult(base.version, 0, base.files.size, 0)
    val packed = readFiles(spark, small, base.colMap, base.meta)
      .coalesce(math.max(1, (small.map(_.rows).sum / smallRows).toInt))
    val entries = writeDataFiles(spark, packed)
    val version = commitCow(base, small, entries, "compaction", None)
    MergeResult(version, rewrittenFiles = small.size,
      keptFiles = outside.size + (inBand.size - small.size),
      newFiles = entries.size)
  }

  /** Z-order clustering (OPTIMIZE ZORDER BY): rewrite the table with
    * files laid out along the Morton curve of two stat columns, so
    * BOTH dimensions' per-file [min,max] become tight and `readWhere`
    * prunes on either. A range-partitioned layout serves exactly one
    * column — after ingest clustered by time, a user-id probe reads
    * every file; one z-order rewrite fixes that forever after. Columns
    * must be non-negative and < 2^16 (16 bits each interleave into one
    * 32-bit z-value; wider domains would first quantile-bucket to 16
    * bits — the standard trick, not needed for the demo domains).
    * Content is unchanged (spec-pinned bit-equal), txn watermarks carry
    * forward, historical snapshots still read the old layout, and a
    * lost commit race rebases across disjoint concurrent commits like
    * compact (a concurrent append lands by name, unclustered — the next
    * rewrite folds it in). */
  def clusterZorder(spark: SparkSession, c1: String, c2: String, files: Int): MergeResult =
    clusterZorder(spark, Seq(c1, c2), files)

  /** N-column z-order (2-3 columns; the 16-bit interleave fills 32/48 of
    * the 63 usable sign-safe bits — a 4th column would overflow them and
    * dilute every dimension's locality anyway). Within each bit level
    * columns interleave first-to-last from least to most significant, so
    * LATER-listed columns get slightly stronger file locality — list the
    * most-probed column last. File boundaries come from sampled range
    * partitioning (Delta's OPTIMIZE ZORDER trade): pruning is
    * statistical, not block-exact. */
  def clusterZorder(spark: SparkSession, cols: Seq[String],
      files: Int): MergeResult =
    clusterZorder(spark, cols, files, quantileCodes = true)

  /** [[clusterZorder]] with the wide-domain code derivation explicit:
    * `quantileCodes = false` forces the legacy uniform min/max rescale
    * (the spec seam that lets the histogram-quantile improvement be
    * measured against its predecessor; operators can use it to pin the
    * old layout). */
  def clusterZorder(spark: SparkSession, cols: Seq[String], files: Int,
      quantileCodes: Boolean): MergeResult = {
    require(cols.size >= 2 && cols.size <= 3,
      s"z-order takes 2-3 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate z-order column in $cols")
    val base = snapshot()
    val physCols = cols.map(phys(base, _))
    physCols.foreach(p => require(statCols.contains(p),
      s"z-order columns must be stat columns ($statCols)"))
    require(base.version > 0, "cluster an empty table?")
    // The 16-bit interleave is only meaningful on [0, 2^16): a negative
    // or wider value contributes just its low 16 bits (sign bits
    // included), producing a useless Morton order. Columns OUTSIDE the
    // domain are QUANTIZED to 16 bits — preferentially from the
    // manifest's own EQUI-DEPTH HISTOGRAMS (round-14: the CDF-merged
    // quantile codes spread the SKEW MASS across the code space, where
    // the round-13 uniform rescale collapsed a 99%-head column to one
    // code and its files' intervals to the whole head), falling back to
    // the uniform min/max rescale when any file predates histograms.
    // Both mappings are MONOTONE, so file [min,max] tightness in
    // quantized space IS tightness in raw space and readWhere pruning
    // on the raw values survives; content is untouched (the z value is
    // dropped after layout).
    val segments = 64
    val quant: Map[String, org.apache.spark.sql.Column] = cols.zip(physCols).map {
      case (c, p) =>
        val mns = base.files.flatMap(_.mins.get(p))
        val mxs = base.files.flatMap(_.maxs.get(p))
        require(mns.size == base.files.size,
          s"some files carry no stats for $p; run evolveStats(Seq($p)) first")
        val mn = mns.min; val mx = mxs.max
        val q =
          if (mn >= 0L && mx < 65536L) col(c)
          else {
            val quantiles =
              if (quantileCodes) mergedQuantileBounds(base.files, p, segments)
              else None
            quantiles match {
              case Some(bs) =>
                // piecewise-linear CDF code: i = the value's histogram
                // segment, frac = its position inside it — monotone,
                // continuous, clamped to [0, 65535]
                val bArr = array(bs.map(lit): _*)
                val v = col(c).cast("double")
                val i = greatest(lit(0), least(lit(segments - 1),
                  size(filter(bArr, bb => bb <= v)) - 1))
                val lo = element_at(bArr, i + 1) // element_at is 1-based
                val hi = element_at(bArr, i + 2)
                val frac = when(hi > lo, greatest(lit(0.0),
                  least(lit(1.0), (v - lo) / (hi - lo)))).otherwise(lit(0.0))
                floor((i.cast("double") + frac) * (65535.0 / segments))
                  .cast("long")
              case None =>
                floor((col(c) - lit(mn)).cast("double") *
                  (65535.0 / math.max(1L, mx - mn))).cast("long")
            }
          }
        c -> q
    }.toMap
    val n = cols.size
    val z = (for { k <- 0 until 16; (c, i) <- cols.zipWithIndex } yield
      shiftleft(shiftright(quant(c), k).bitwiseAND(lit(1L)), n * k + i)).reduce(_ + _)
    val clustered = read(spark)
      .withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z")) // tight row groups inside each file too
      .drop("__z")
    val entries = writeDataFiles(spark, clustered)
    // full-table content-preserving rewrite: candidates = every base
    // file; a concurrent append rebases in by name, unclustered
    val version = commitCow(base, base.files, entries, "z-order rewrite", None)
    MergeResult(version, rewrittenFiles = base.files.size,
      keptFiles = 0, newFiles = entries.size)
  }

  /** `segments`+1 global EQUAL-MASS boundaries for physical column `p`,
    * merged from the per-file equi-depth histograms: each file's 8
    * buckets contribute nonNull/8 mass uniform on [bᵢ, bᵢ₊₁], the
    * global CDF is evaluated at every bucket endpoint, and the equal-
    * mass targets invert by linear interpolation. O(files) driver-side
    * metadata, zero data I/O. None when any file predates histograms —
    * the caller degrades to the uniform min/max rescale, never errs. */
  private def mergedQuantileBounds(files: Seq[FileEntry], p: String,
      segments: Int): Option[Seq[Double]] = {
    if (files.exists(f => f.hists.get(p).isEmpty)) return None
    val pieces: Seq[(Double, Double, Double)] = files.flatMap { f =>
      val bs = f.hists(p)
      val m = f.nonNull.getOrElse(p, f.rows).toDouble / (bs.size - 1)
      bs.sliding(2).map(w => (w(0).toDouble, w(1).toDouble, m)).toSeq
    }
    val total = pieces.map(_._3).sum
    if (total <= 0) return None
    // ONE LINE SWEEP evaluates the global CDF at every endpoint —
    // between endpoints F is linear (slope = Σ active pieces' density),
    // so naive per-endpoint summation would be O(files²); the sweep is
    // O(files log files), which is what keeps this planning step driver-
    // cheap at millions of files
    val slopeEv = scala.collection.mutable.Map.empty[Double, Double]
      .withDefaultValue(0.0)
    val stepEv = scala.collection.mutable.Map.empty[Double, Double]
      .withDefaultValue(0.0)
    pieces.foreach { case (lo, hi, m) =>
      if (hi > lo) {
        val sl = m / (hi - lo)
        slopeEv(lo) = slopeEv(lo) + sl
        slopeEv(hi) = slopeEv(hi) - sl
      } else stepEv(lo) = stepEv(lo) + m // single-value bucket: mass step
    }
    val xs = (slopeEv.keys ++ stepEv.keys).toSeq.distinct.sorted
    var f = 0.0
    var slope = 0.0
    var prev = xs.head
    val fx = xs.map { x =>
      f += slope * (x - prev)
      f += stepEv(x) // a point mass lands AT its value
      slope += slopeEv(x)
      prev = x
      (x, f)
    }
    // invert at the equal-mass targets with one forward pointer
    var i = 0
    Some((0 to segments).map { k =>
      val t = total * k.toDouble / segments
      while (i < fx.length && fx(i)._2 < t) i += 1
      if (i <= 0 || i >= fx.length) fx(math.min(i, fx.length - 1))._1
      else {
        val (x0, c0) = fx(i - 1); val (x1, c1) = fx(i)
        if (c1 > c0) x0 + (x1 - x0) * (t - c0) / (c1 - c0) else x1
      }
    })
  }

  /** Declare a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * tier): `predicate` is a boolean SQL expression every CURRENT and
    * FUTURE row must satisfy. Existing data is validated first with one
    * scan (a constraint the table already violates must not be
    * declarable — it would make every later writer the messenger for
    * old bad data); the constraint then rides the manifest, carried
    * forward by every commit, so a NEW writer process on the same root
    * enforces it with no out-of-band coordination. Enforcement itself
    * is free: the violation counters ride the per-file stats pass every
    * write already runs. Manifest-only commit; lost races abort. */
  def addConstraint(spark: SparkSession, predicate: String): Int = {
    val base = snapshot()
    // constraints are STORED and ENFORCED in physical terms (the staged
    // stats pass sees physical files); the user writes logical names, so
    // rewrite identifiers through the column mapping once, here
    val stored =
      if (base.colMap.forall { case (l, ph) => l == ph }) predicate
      else {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        spark.sessionState.sqlParser.parseExpression(predicate).transform {
          case a: UnresolvedAttribute if base.colMap.contains(a.name) =>
            UnresolvedAttribute(base.colMap(a.name))
        }.sql
      }
    require(!base.constraints.contains(stored), s"constraint already declared: $predicate")
    if (base.files.nonEmpty) {
      // validate against the PHYSICAL frame — the same terms the stored
      // predicate uses at every future staged-write check
      val bad = readFiles(spark, base.files).filter(!expr(stored)).count()
      require(bad == 0,
        s"cannot declare CHECK ($predicate): existing data violates it in $bad row(s)")
    }
    committing("add-constraint", retries = 0, from = base) { b =>
      commitOnce(b, b.files, constraints = Some(b.constraints :+ stored),
        op = "add-constraint")
    }
  }

  /** DROP CONSTRAINT (Delta `ALTER TABLE … DROP CONSTRAINT`): stop
    * enforcing a declared CHECK. The predicate arrives in the same
    * LOGICAL terms addConstraint took and is rewritten through the
    * CURRENT mapping to find its stored physical form (so a constraint
    * declared before a rename is still droppable by its current logical
    * spelling). Metadata-only commit; history keeps showing the
    * constraint at the versions it governed. */
  def dropConstraint(spark: SparkSession, predicate: String): Int = {
    val base = snapshot()
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // stored forms vary (raw string at identity declaration, parser .sql
    // after a mapping rewrite) — match by parser-canonical form, the
    // same way both forms would enforce
    def canon(s: String): String =
      spark.sessionState.sqlParser.parseExpression(s).sql
    val target = canon(
      spark.sessionState.sqlParser.parseExpression(predicate).transform {
        case a: UnresolvedAttribute if base.colMap.contains(a.name) =>
          UnresolvedAttribute(base.colMap(a.name))
      }.sql)
    val stored = base.constraints.find(c => canon(c) == target).getOrElse(
      throw new IllegalArgumentException(
        s"no such constraint: $predicate (have ${base.constraints.mkString("; ")})"))
    committing("drop-constraint", retries = 0, from = base) { b =>
      commitOnce(b, b.files,
        constraints = Some(b.constraints.filterNot(_ == stored)),
        op = "drop-constraint")
    }
  }

  /** RENAME COLUMN (Delta/Iceberg column mapping): a metadata-only
    * commit that maps a new LOGICAL name onto the column's immutable
    * PHYSICAL (parquet) name — zero files rewritten, O(1) in table
    * size, exactly the `ALTER TABLE RENAME COLUMN` a 100 TB table
    * cannot afford to do by rewrite. Reads surface the logical name
    * (readFiles applies the snapshot's mapping); writers keep using
    * logical names (writeDataFiles renames to physical before staging,
    * so every file on disk — before or after the rename — carries one
    * consistent physical schema); stats, blooms and stored constraints
    * stay keyed by physical name and keep pruning untouched; time
    * travel shows each version under ITS OWN mapping; CDC reads the
    * whole feed under the target version's mapping. Renaming back to
    * the original physical name drops the mapping entry entirely.
    *
    * Validation is mapping-complete but schema-best-effort: collisions
    * with mapped logical names and with every stats/bloom-known
    * physical column are rejected; a plain data column the manifest
    * has never recorded stats for cannot be checked without opening
    * footers (documented, same trade Delta's mapping mode makes). */
  def renameColumn(oldName: String, newName: String): Int = {
    require(oldName != newName, s"rename $oldName onto itself?")
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad column name: $newName")
    val base = snapshot()
    require(base.version > 0, "rename on an empty table?")
    val mappedPhysicals = base.colMap.values.toSet
    // oldName must be a CURRENT logical column: either an active mapping's
    // logical side, or a physical name not renamed away
    require(base.colMap.contains(oldName) || !mappedPhysicals.contains(oldName),
      s"$oldName is not a current column (renamed away; its physical name is reserved)")
    // newName must be free: not an active logical, not a still-logical known physical
    require(!base.colMap.contains(newName), s"column $newName already exists")
    val knownPhysical = (statCols ++ bloomCols ++ base.files.flatMap(_.mins.keys)).toSet
    require(!(knownPhysical.contains(newName) && !mappedPhysicals.contains(newName)),
      s"column $newName already exists (physical)")
    // newName must not be a tombstoned physical either: readFiles renames
    // physical->logical FIRST and drops tombstoned physicals AFTER, so a
    // rename onto a dropped name would produce two columns named newName
    // and the tombstone drop would then remove BOTH — silent data loss on
    // every read. Mirror dropColumn's "physical name is reserved" rule.
    require(!droppedPhys(base.colMap).contains(newName),
      s"column name $newName is reserved by a dropped column — " +
        "its physical name can never be reused")
    val p = base.colMap.getOrElse(oldName, oldName)
    val newMap =
      if (newName == p) base.colMap - oldName // renamed back: identity again
      else (base.colMap - oldName) + (newName -> p)
    committing("rename-column", retries = 0, from = base) { b =>
      commitOnce(b, b.files, colMap = Some(newMap), op = "rename-column")
    }
  }

  /** DROP COLUMN (Delta column-mapping semantics): a metadata-only
    * commit that removes the LOGICAL column — zero files rewritten,
    * O(1) in table size, exactly the `ALTER TABLE DROP COLUMN` a 100 TB
    * table cannot afford by rewrite. The physical parquet column stays
    * on disk untouched; reads hide it (readFiles drops tombstoned
    * physicals after the logical renames), time travel to a pre-drop
    * version still shows it under THAT version's mapping, and the
    * physical name is reserved forever: a later append carrying a
    * column of that name is REJECTED rather than silently resurrecting
    * years of old values under a recycled name (Delta makes the same
    * move with fresh physical ids; with identity mapping the honest
    * equivalent is a loud failure — rename the incoming column). Stats,
    * blooms and manifest entries keep carrying the physical column
    * harmlessly; probes through the logical surface (readWhere, delete,
    * merge predicates) fail loudly via the mapping. Dropping a column a
    * stored CHECK constraint mentions is rejected — future appends
    * could never satisfy a constraint over a column they must not
    * carry. */
  def dropColumn(name: String): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad column name: $name")
    val base = snapshot()
    require(base.version > 0, "drop on an empty table?")
    val mappedPhysicals = base.colMap.values.toSet
    require(base.colMap.contains(name) || !mappedPhysicals.contains(name),
      s"$name is not a current column (renamed away or already dropped; " +
        "its physical name is reserved)")
    val p = base.colMap.getOrElse(name, name)
    // the name must resolve to a column that actually EXISTS: a typo'd
    // drop would otherwise commit a tombstone for a nonexistent physical
    // and permanently reserve the name (future appends carrying it are
    // rejected) with no undo short of restore. Cheap checks first (the
    // mapping and every stats/bloom-known physical), then — only if still
    // unknown — parquet footers, the same O(files) driver-side metadata
    // pass purgeDroppedColumns budgets, with early exit on first carrier.
    val statKnown = (statCols ++ bloomCols ++ base.files.flatMap(_.mins.keys)).toSet
    if (!base.colMap.contains(name) && !statKnown.contains(p)) {
      import scala.jdk.CollectionConverters._
      val conf = new org.apache.hadoop.conf.Configuration()
      val carried = base.files.exists { f =>
        val fp = new org.apache.hadoop.fs.Path(dataDir.resolve(f.path).toString)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, conf))
        try r.getFileMetaData.getSchema.getFields.asScala.exists(_.getName == p)
        finally r.close()
      }
      require(carried, s"cannot drop $name: no current file carries it " +
        "(typo? dropping it would permanently reserve the name)")
    }
    // this HANDLE's declared stat/bloom columns feed every write's stats
    // pass — dropping one here would break the next append confusingly
    // later; post-drop writers construct the table without it instead
    require(!statCols.contains(p) && !bloomCols.contains(p),
      s"cannot drop $name through a handle declaring it a stat/bloom " +
        "column — construct the TxTable without it first")
    val mentioned = base.constraints.filter(
      _.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(p)}\\b.*"))
    require(mentioned.isEmpty,
      s"cannot drop $name: CHECK constraint(s) reference it " +
        s"(${mentioned.mkString("; ")}) — dropConstraint first")
    val newMap = (base.colMap - name) + (("-" + p) -> p)
    committing("drop-column", retries = 0, from = base) { b =>
      commitOnce(b, b.files, colMap = Some(newMap), op = "drop-column")
    }
  }

  /** Persist the DECLARED table metadata — schema plus this handle's
    * stat/bloom columns — as a metadata-only commit (zero data I/O).
    * This is what `CREATE TABLE` (no AS SELECT) durably leaves behind:
    * before it, an empty table's schema and pruning declaration lived
    * only in the creating JVM's handle, so `CREATE TABLE …; INSERT
    * INTO …` from a later session found a table that "carries no
    * declared schema". History records `create`. */
  def declareMeta(schema: org.apache.spark.sql.types.StructType): Int =
    committing("declareMeta", retries = 0) { b =>
      commitOnce(b, b.files, op = "create",
        meta = Some(TableMeta(schema.json, statCols, bloomCols)))
    }

  /** ALTER TABLE ADD COLUMN — metadata-only schema evolution, the most
    * common evolution DDL of all: the new column is DECLARED in the
    * log (one tiny commit, zero files rewritten — O(1) at 100 TB),
    * existing rows read as NULL there, and subsequent appends may carry
    * it (the read path already merges schemas across files). The
    * declared schema is the CURRENT logical schema (from data files if
    * any, else the prior declaration) plus the new column, so ADD
    * COLUMN works on tables that predate declared metadata too. */
  def addColumn(spark: SparkSession,
      name: String, dataType: org.apache.spark.sql.types.DataType): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad column name: $name")
    val base = snapshot()
    val current: org.apache.spark.sql.types.StructType =
      if (base.files.nonEmpty) readFiles(spark, base.files, base.colMap, base.meta).schema
      else base.meta.map(_.schema).getOrElse(
        throw new IllegalStateException(
          s"table $root is empty and carries no declared schema"))
    require(!current.fieldNames.contains(name), s"column $name already exists")
    require(!droppedPhys(base.colMap).contains(name),
      s"column name $name is reserved by a dropped column — " +
        "its physical name can never be reused")
    require(!base.colMap.values.toSet.contains(name),
      s"column name $name is taken by a renamed column's physical name")
    val evolved = org.apache.spark.sql.types.StructType(
      current.fields :+ org.apache.spark.sql.types.StructField(name, dataType))
    committing(s"add-column($name)", retries = 0, from = base) { b =>
      commitOnce(b, b.files, op = s"add-column($name)",
        meta = Some(TableMeta(evolved.json, statCols, bloomCols)))
    }
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — metadata-only type WIDENING
    * (Delta's type-widening feature): the declared schema records the
    * wide type in one tiny commit, ZERO files rewritten. Old files keep
    * their narrow physical type; reads come back wide either way — a
    * uniformly-narrow table casts at read, and once wide appends land
    * the mixed-era file set reads under the declared schema (Spark 4's
    * parquet readers widen int32→int64 / float→double per file; see
    * [[readFiles]]). Only provably-lossless conversions are accepted —
    * anything else would need a full rewrite and must say so loudly.
    * CDF across the widening stays aligned: each version reads under
    * its own snapshot's declaration and set-difference coerces the
    * narrow era up (union type-widening), so a widened-but-unchanged
    * row never reports as a change. */
  def alterColumnType(spark: SparkSession,
      name: String, dataType: org.apache.spark.sql.types.DataType): Int = {
    val base = snapshot()
    val current: org.apache.spark.sql.types.StructType =
      if (base.files.nonEmpty) readFiles(spark, base.files, base.colMap, base.meta).schema
      else base.meta.map(_.schema).getOrElse(
        throw new IllegalStateException(
          s"table $root is empty and carries no declared schema"))
    require(current.fieldNames.contains(name),
      s"no column $name (have ${current.fieldNames.mkString(", ")})")
    val idx = current.fieldIndex(name)
    val from = current(idx).dataType
    require(from != dataType, s"column $name is already $dataType")
    require(TxTable.widens(from, dataType),
      s"ALTER COLUMN TYPE is metadata-only and therefore WIDENING-only " +
        s"($from → $dataType loses information or changes representation; " +
        "rewrite via a new column + backfill instead)")
    val evolved = org.apache.spark.sql.types.StructType(
      current.fields.updated(idx, current(idx).copy(dataType = dataType)))
    committing(s"alter-column-type($name)", retries = 0, from = base) { b =>
      commitOnce(b, b.files, op = s"alter-column-type($name)",
        meta = Some(TableMeta(evolved.json, statCols, bloomCols)))
    }
  }

  /** REORG … APPLY (PURGE) for dropped columns (Delta's `REORG TABLE`):
    * physically rewrite ONLY the current files that still carry a
    * tombstoned physical column, so the bytes of dropped data actually
    * leave the storage (compliance deletes; also shrinks scans). The
    * candidate set is decided from parquet FOOTERS — O(files) tiny
    * driver-side metadata reads, zero data I/O to classify (the same
    * explicit-maintenance budget evolveStats spends on a full data
    * pass) — so files written after the drop, or already purged by a
    * compaction, are provably untouched BY NAME. The rewrite funnels
    * through the logical read surface, which is DV-aware: a purged
    * file's deletion-vector victims are materialized away in the same
    * pass, like compaction. Publishes copy-on-write with the standard
    * rebase/abort rules; history records `purge-dropped-columns`.
    * Historical versions still reference the old files until [[vacuum]]
    * reclaims them — a compliance purge is REORG + vacuum, exactly
    * Delta's story. */
  def purgeDroppedColumns(spark: SparkSession): MergeResult = {
    import scala.jdk.CollectionConverters._
    val base = snapshot()
    val dropped = droppedPhys(base.colMap)
    if (dropped.isEmpty)
      return MergeResult(base.version, 0, base.files.size, 0)
    val conf = spark.sessionState.newHadoopConf()
    val (carriers, clean) = base.files.partition { f =>
      val p = new org.apache.hadoop.fs.Path(dataDir.resolve(f.path).toString)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getFileMetaData.getSchema.getFields.asScala
        .exists(t => dropped.contains(t.getName))
      finally r.close()
    }
    if (carriers.isEmpty)
      return MergeResult(base.version, 0, base.files.size, 0)
    val entries = writeDataFiles(spark, readFiles(spark, carriers, base.colMap))
    val v = commitCow(base, carriers, entries, "purge-dropped-columns", None)
    MergeResult(v, rewrittenFiles = carriers.size, keptFiles = clean.size,
      newFiles = entries.size)
  }

  /** ORPHAN FILES: visible data files no retained version references —
    * the droppings of crashed writers (a writer stages data files FIRST
    * and publishes the manifest last, so a crash strands bytes that are
    * invisible to every reader but still bill storage). O(files) driver
    * metadata, zero data I/O. In-flight staged files live in
    * `stage-*` directories and are never reported (only plain files
    * are candidates). */
  def orphanFiles(): Seq[String] = {
    val referenced: Set[String] = listVersions
      .flatMap(v => snapshot(Some(v)).files.flatMap(f => f.path +: f.dv.toSeq))
      .toSet
    Option(dataDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).filterNot(referenced.contains).toSeq.sorted
  }

  /** Delete orphans older than `graceMs` (the grace window protects a
    * LIVE writer's files staged-and-renamed but not yet committed —
    * Delta VACUUM's uncommitted-file retention, applied to the orphan
    * sweep). Returns how many files were reclaimed. Never touches
    * referenced files, hidden staging files, or young orphans. */
  def gcOrphans(graceMs: Long): Int = {
    val horizon = clockMs() - graceMs
    val victims = orphanFiles().filter { p =>
      Files.getLastModifiedTime(dataDir.resolve(p)).toMillis < horizon
    }
    victims.foreach(p => Files.deleteIfExists(dataDir.resolve(p)))
    victims.size
  }

  /** STATS EVOLUTION — the manifest-only half of partition evolution
    * (clusterZorder is the data-moving half): record min/max of `cols`
    * for every CURRENT file in a new manifest version. ONE distributed
    * stats pass over the existing files, zero bytes rewritten, every
    * file carried BY NAME. The production story: a table ingested with
    * stats only on its partition key cannot prune probes on a second,
    * naturally-clustered column — yet streaming/batched ingest clusters
    * ingest-order ids tightly per file whether or not anyone declared
    * them. Evolving stats turns that latent clustering into manifest
    * skipping retroactively, for the cost of one read — no rewrite, no
    * downtime, history intact. Readers that want the new pruning
    * construct the table with the widened statCols; files appended
    * later by not-yet-widened writers simply carry no stats for the new
    * columns and are conservatively scanned (readWhere/delete/merge all
    * treat missing stats as "cannot prune"). A lost commit race ABORTS
    * like merge — the stats were computed against a snapshot that no
    * longer exists. */
  def evolveStats(spark: SparkSession, cols: Seq[String]): Int =
    evolveStatsImpl(spark, cols, declare = false)

  /** ANALYZE TABLE … FOR COLUMNS: [[evolveStats]]' distributed pass plus
    * a re-DECLARATION of the widened stat-column set in the SAME commit —
    * one version, one audit row, and future writers discovered through
    * [[TxTable.open]] keep computing the analyzed columns' stats. */
  def analyzeColumns(spark: SparkSession, cols: Seq[String]): Int =
    evolveStatsImpl(spark, cols, declare = true)

  private def evolveStatsImpl(spark: SparkSession, cols: Seq[String],
      declare: Boolean): Int = {
    val base = snapshot()
    require(base.version > 0, "evolve an empty table?")
    require(cols.nonEmpty, "no columns to evolve")
    // the stats pass reads the RAW files, which carry PHYSICAL names
    val pcols = cols.map(c => phys(base, c))
    val statAggs = count(lit(1)).as("__rows") +: flatStats(pcols)
    val byFile = spark.read.option("mergeSchema", "true")
      .parquet(base.files.map(f => dataDir.resolve(f.path).toString): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(statAggs.head, statAggs.tail: _*)
      .collect()
      .map { r =>
        Paths.get(new java.net.URI(r.getAs[String]("__file")).getPath)
          .getFileName.toString -> r
      }.toMap
    val evolved = base.files.map { f =>
      val r = byFile.getOrElse(f.path, throw new IllegalStateException(
        s"stats pass saw no rows for ${f.path} — manifest names a missing or empty file"))
      // integrity cross-check: the pass must see exactly the manifest's rows
      require(r.getAs[Long]("__rows") == f.rows,
        s"stats pass counted ${r.getAs[Long]("__rows")} rows in ${f.path}; manifest says ${f.rows}")
      // all-NULL columns in a file record no stats (readers scan them);
      // the erased getAs[Long] would otherwise leak null into the map
      def statsOf(prefix: String): Map[String, Long] = pcols.flatMap { c =>
        Option(r.getAs[java.lang.Long](s"${prefix}_$c")).map(v => c -> v.longValue)
      }.toMap
      val histsOf: Map[String, Seq[Long]] = pcols.flatMap { c =>
        Option(r.getAs[scala.collection.Seq[Double]](s"__hist_$c"))
          .map(bs => c -> bs.map(d => math.floor(d).toLong).toSeq)
      }.toMap
      f.copy(mins = f.mins ++ statsOf("__min"), maxs = f.maxs ++ statsOf("__max"),
        nonNull = f.nonNull ++ pcols.map(c => c -> r.getAs[Long](s"__nn_$c")),
        hists = f.hists ++ histsOf)
    }
    // declare = ANALYZE: the widened stat set rides the SAME commit as
    // the stats themselves (one version, one audit row); physical names,
    // the writeDataFiles convention
    val meta =
      if (!declare) None
      else {
        val widened = (statCols ++ base.meta.toSeq.flatMap(_.statCols) ++ pcols)
          .distinct.sorted
        val schema = base.meta.map(_.schema).getOrElse(
          readFiles(spark, base.files, base.colMap, base.meta).schema)
        Some(TableMeta(schema.json, widened,
          (bloomCols ++ base.meta.toSeq.flatMap(_.bloomCols)).distinct.sorted))
      }
    val op = if (declare) "analyze" else "evolve-stats"
    committing(op, retries = 0, from = base) { b =>
      commitOnce(b, evolved, op = op, meta = meta)
    }
  }

  /** RESTORE (Delta's `RESTORE TABLE … TO VERSION AS OF`): commit a NEW
    * version whose data state — file list, deletion vectors, per-file
    * stats — is exactly version `versionAsOf`'s. History is never
    * rewritten: the bad versions stay time-travelable, the restore is
    * itself just a commit (an audit-friendly undo, not an erasure), and
    * CDF across it reports honest row-level adds/removes (the diff
    * between current and restored state), so downstream replicas FOLLOW
    * the restore instead of diverging. Restore is FULL-state (Delta
    * semantics): the target version's column mapping and constraint set
    * come back with its data — restoring past a dropColumn/renameColumn
    * is the undrop/unrename path, and a later-declared constraint is
    * released by the rewind. The one thing that carries FORWARD is the
    * stream txn watermarks: restore undoes state, not idempotence
    * bookkeeping (a replayed source batch must still be refused).
    *
    * Metadata-only — zero data I/O (the restored entries' files are still
    * on disk until vacuum reclaims them, and vacuum protects anything a
    * retained manifest references). Refuses loudly if vacuum has already
    * physically dropped any file of the target version: a partial
    * restore would silently resurrect a SUBSET of the old table.
    * Concurrency: last-writer-wins through the standard commit retry —
    * restore declares the whole table, so it rebases onto (and
    * supersedes) any concurrent commit, exactly Delta's semantics. */
  def restore(versionAsOf: Int): Int = {
    val target = snapshot(Some(versionAsOf))
    // deletion vectors are referenced files too — a restored entry whose
    // DV was reclaimed would silently resurrect its deleted rows
    val gone = target.files.filterNot(f =>
      Files.exists(dataDir.resolve(f.path)) &&
        f.dv.forall(d => Files.exists(dataDir.resolve(d))))
    require(gone.isEmpty,
      s"restore($versionAsOf) of $root: ${gone.size} data files already " +
        s"vacuumed (e.g. ${gone.take(3).map(_.path).mkString(", ")}) — " +
        "the version is listed but no longer materializable")
    // FULL state restore (Delta semantics): data AND table metadata —
    // the column mapping (so restore-to-pre-drop/-rename is the undrop/
    // unrename path) and the constraint set as of the target. Stream txn
    // watermarks deliberately carry FORWARD (commitOnce merges them):
    // idempotence promises must survive a rewind.
    committing(s"restore($versionAsOf)") { base =>
      val cons =
        if (base.constraints == target.constraints) None
        else Some(target.constraints)
      val cmap =
        if (base.colMap == target.colMap) None else Some(target.colMap)
      // declared metadata restores too (an ADD COLUMN after the target
      // version is undone). The delta format can only SET meta, never
      // clear it — so when the target PREDATES declared metadata
      // entirely (target.meta = None, e.g. a table born via append that
      // later got an ADD COLUMN), re-declare the target version's
      // RECONSTRUCTED schema as the meta record: that pins reads to
      // exactly the target's columns, which is what "full-state restore"
      // promises (round-10 ADVICE — without this the phantom NULL column
      // survived the restore). A zero-file no-meta target has no schema
      // to reconstruct; there nothing is readable either way.
      val mt =
        if (base.meta == target.meta) None
        else target.meta.orElse {
          if (target.files.isEmpty) None
          else Some(TableMeta(
            readFiles(org.apache.spark.sql.SparkSession.active,
              target.files, target.colMap, None).schema.json,
            statCols, bloomCols))
        }
      commitOnce(base, target.files, constraints = cons, colMap = cmap,
        op = s"restore($versionAsOf)", meta = mt)
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE t SHALLOW CLONE src`): a new
    * table whose v1 manifest REFERENCES this table's current data files
    * by absolute path — one metadata file written, ZERO data copied or
    * read, O(1) in table size. The clone then lives its own life:
    * appends land in its own data/, copy-on-write delete/merge/compact
    * rewrite borrowed entries into clone-local files (the source is only
    * ever read), and source commits after the clone point are invisible
    * to it — the dev/test-sandbox and experiment-branch primitive at
    * 100 TB, where a physical copy is days of I/O.
    *
    * Ownership rules (Delta's): the clone's [[vacuum]] reclaims only
    * clone-local files — borrowed absolute entries are never deleted
    * (guarded in vacuum itself) — while vacuuming the SOURCE can break
    * clones that still borrow reclaimed files, so source retention must
    * outlive clones, exactly as with Delta shallow clones. Constraints
    * and stat/bloom schema carry over; txn watermarks do NOT (a clone is
    * a new table to idempotent writers, so replays into it start fresh).
    * TxCloneSpec pins metadata-only-ness, divergence isolation in both
    * directions, and the vacuum ownership guard. */
  def cloneTo(dstRoot: String): TxTable = {
    val snap = snapshot()
    require(snap.version >= 1, s"cannot clone empty table $root")
    val dst = new TxTable(dstRoot, statCols, bloomCols)
    val abs = snap.files.map(f => f.copy(
      path = dataDir.resolve(f.path).toAbsolutePath.toString,
      dv = f.dv.map(d => dataDir.resolve(d).toAbsolutePath.toString)))
    dst.committing(s"clone($root)", retries = 0) { empty =>
      require(empty.version == 0, s"clone target $dstRoot is not empty")
      dst.commitOnce(empty, abs, constraints = Some(snap.constraints),
        colMap = Some(snap.colMap), op = s"clone($root)", meta = snap.meta)
    }
    dst
  }

  /** Wall clock for commit timestamps — a seam so specs can pin
    * [[versionAt]] deterministically; production never touches it. */
  private[graft] var clockMs: () => Long = () => System.currentTimeMillis()

  /** Time travel by TIMESTAMP (Delta's `timestampAsOf`): the version
    * whose state was current at `timestampMs` — the greatest version
    * whose commit time is ≤ the ask. Commit times are read from the
    * `commitms` line each delta manifest records; legacy manifests
    * (pre-timestamp format) fall back to the manifest file's mtime, so
    * old tables resolve without rewrite. Clock skew between writers is
    * absorbed the way Delta absorbs it: versions are timestamped by
    * their MONOTONIC ENVELOPE (a commit recorded earlier than its
    * predecessor inherits the predecessor's time), so resolution is
    * always consistent with version order. Asking before the first
    * commit refuses loudly; asking after the last resolves to latest. */
  def versionAt(timestampMs: Long): Int = {
    val (versions, ckpts) = listLog
    val all = (versions ++ ckpts).distinct.sorted
    require(all.nonEmpty, s"table $root has no commits to time-travel to")
    var best = -1
    var envelope = Long.MinValue
    all.foreach { v =>
      envelope = math.max(envelope, commitMillis(v))
      if (envelope <= timestampMs) best = v
    }
    require(best >= 0,
      s"timestamp $timestampMs predates the first commit of $root " +
        s"(${commitMillis(all.head)})")
    best
  }

  /** Snapshot-isolated read at a wall-clock time — [[versionAt]] then
    * an ordinary versioned [[read]]. */
  def readAt(spark: SparkSession, timestampMs: Long): DataFrame =
    read(spark, Some(versionAt(timestampMs)))

  private def commitMillis(v: Int): Long = {
    val p = logDir.resolve(manifestName(v))
    val src = if (Files.exists(p)) p else logDir.resolve(ckptName(v))
    import scala.jdk.CollectionConverters._
    Files.readAllLines(src).asScala
      .collectFirst { case l if l.startsWith("commitms\t") =>
        l.stripPrefix("commitms\t").toLong }
      .getOrElse(Files.getLastModifiedTime(src).toMillis)
  }

  /** Vacuum: delete data files referenced by NO manifest version newer
    * than `retainVersions` back from current, then drop the expired
    * manifests. Readers of retained versions are unaffected (their
    * manifests' files all survive — a file is deleted only when every
    * retained version omits it). Ordering is crash-safe: data files are
    * deleted BEFORE their manifests, so an interrupted vacuum leaves
    * dangling manifests naming missing files only for versions already
    * declared expired, never for retained ones. Returns (filesDeleted,
    * versionsDropped). */
  def vacuum(retainVersions: Int, dryRun: Boolean = false): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the current version")
    val (versions, ckpts) = listLog
    val cutoff = currentVersion - retainVersions + 1
    // TAGGED versions are retained regardless of age: a named ref is a
    // promise that the version stays readable (the Iceberg tag
    // semantics); deleting the tag releases it to the next vacuum
    val taggedVs = tags.values.toSet
    val (expired, retained) = versions.partition(v => v < cutoff && !taggedVs(v))
    if (expired.isEmpty) return (0, 0)
    // deletion vectors are referenced files too: a retained version's
    // DV must survive, an expired-only DV is reclaimed with its data
    val live: Set[String] = retained
      .flatMap(v => snapshot(Some(v)).files.flatMap(f => f.path +: f.dv.toSeq)).toSet
    val dead = expired
      .flatMap(v => snapshot(Some(v)).files.flatMap(f => f.path +: f.dv.toSeq))
      .distinct.filterNot(live.contains)
    // DRY RUN (Delta's VACUUM preview): report exactly what a real run
    // would reclaim, touch nothing — the operator's look-before-you-leap
    // on an irreversible maintenance op
    if (dryRun) return (dead.size, expired.size)
    // dropping the expired deltas must not strand any retained chain:
    // every TAGGED version below the cutoff gets its own checkpoint
    // (the deltas between tags are about to drop), and the oldest
    // retained version at/after the cutoff is pinned as before — so
    // every retained reconstruction starts at or after a checkpoint
    // (crash between the checkpoints and the deletes below just leaves
    // extra history)
    val needCkpt = retained.filter(_ < cutoff) ++ retained.find(_ >= cutoff).toSeq
    needCkpt.distinct.filterNot(ckpts.contains).foreach { v =>
      val s = snapshot(Some(v))
      writeCheckpoint(v, s.files, s.txns, s.constraints, s.colMap, s.meta)
    }
    // SHALLOW-CLONE guard: entries borrowed from a clone source are
    // ABSOLUTE paths outside this table's data/ — vacuum reclaims only
    // files this table owns (Delta's rule: VACUUM on a shallow clone
    // never touches source files)
    dead.filter(p => dataDir.resolve(p).normalize().startsWith(dataDir.normalize()))
      .foreach(p => Files.deleteIfExists(dataDir.resolve(p)))
    expired.foreach { v =>
      Files.deleteIfExists(logDir.resolve(manifestName(v)))
      Files.deleteIfExists(logDir.resolve(ckptName(v)))
    }
    (dead.size, expired.size)
  }

  /** Time-based retention (the `VACUUM … RETAIN n HOURS` shape Delta
    * users actually run): expire versions whose commit time — by the
    * same MONOTONIC ENVELOPE [[versionAt]] resolves with, so retention
    * and time travel agree about what "older" means — predates
    * `horizonMs`; the current version is always retained. Translates to
    * the version-count form, so tag protection, deletion-vector safety
    * and checkpoint pinning are one shared mechanism. */
  def vacuumOlderThan(horizonMs: Long): (Int, Int) = {
    val (versions, _) = listLog
    if (versions.isEmpty) return (0, 0)
    var envelope = Long.MinValue
    val fresh = versions.filter { v =>
      envelope = math.max(envelope, commitMillis(v)); envelope >= horizonMs
    }
    val oldestFresh = fresh.headOption.getOrElse(versions.last)
    vacuum(retainVersions = currentVersion - oldestFresh + 1)
  }

  // --------------------------------------------------------------- internals

  /** Stage `df` as parquet, compute per-file stats with one distributed
    * pass, promote each staged file into `data/` under a fresh UUID name.
    * Promotion is same-volume rename (cheap) and the files stay invisible
    * until a manifest names them.
    *
    * Declared CHECK constraints are validated in the SAME pass — one
    * violation counter per constraint rides the stats aggregation, so
    * enforcement costs no extra job. A violating write deletes its
    * staged files and throws BEFORE anything is promoted: nothing
    * becomes visible, the table stays whole (the crashed-writer story,
    * applied to bad data). Every write path funnels through here, so
    * rewrites and schema-evolved merges are held to the constraints
    * too — a merge whose missing-column NULLs would break a NOT NULL
    * check fails loudly instead of landing. */
  private def writeDataFiles(spark: SparkSession, df: DataFrame): Seq[FileEntry] = {
    val snap0 = snapshot()
    val constraints = snap0.constraints
    // staged files carry PHYSICAL names: rename is metadata-only, so the
    // on-disk layer never changes — writers arrive logical and funnel here
    val renames = snap0.colMap.filter {
      case (l, ph) => l != ph && !l.startsWith("-")
    }
    val dfPhys = if (renames.isEmpty) df else df.withColumnsRenamed(renames)
    // a dropped physical name is reserved FOREVER: accepting a same-named
    // column would resurrect every pre-drop value on the next read
    val resurrected = dfPhys.columns.filter(droppedPhys(snap0.colMap).contains)
    require(resurrected.isEmpty,
      s"write to $root carries dropped column(s) ${resurrected.mkString(", ")} " +
        "— dropped physical names are reserved; rename the incoming column")
    // OPTIMIZED WRITE (the Delta optimizeWrite idea, estimate-driven): a
    // small INSERT at a wide session otherwise fans into
    // defaultParallelism near-empty files (measured: 150 rows → 64 files
    // at local[32]; every later scan pays per-file open + footer, the
    // stats/bloom pass pays per-file jobs, and the manifest grows for
    // nothing). Catalyst's size estimate picks the file count BEFORE the
    // write: provably-tiny frames coalesce hard, medium ones to 8, and
    // anything unknown (the 8 EiB default) or large keeps its layout —
    // a 100 TB ingest is untouched. coalesce, not repartition: no
    // shuffle, it only narrows the writing stage.
    // …and an EXPLICIT repartition/repartitionByRange in the incoming
    // plan is a caller-declared layout (the 16-file skip tables, z-order
    // buckets): respect it verbatim, exactly AQE's own exemption rule.
    val explicitLayout = df.queryExecution.logical.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val writeDf =
      if (explicitLayout) dfPhys
      else if (estBytes < (16L << 20)) dfPhys.coalesce(1)
      else if (estBytes < (256L << 20)) dfPhys.coalesce(8)
      else dfPhys
    val stage = dataDir.resolve(s"stage-${UUID.randomUUID()}")
    val violAggs = constraints.zipWithIndex.map { case (c, i) =>
      sum(when(!expr(c), lit(1L)).otherwise(lit(0L))).as(s"__viol_$i")
    }
    val statAggs = (count(lit(1)).as("__rows") +: flatStats(statCols)) ++ violAggs
    // OBSERVED WRITE (opt r16, guide §1/§5 — one job, not two): the
    // provably-tiny coalesce(1) path writes exactly ONE staged file, so
    // the per-file stat/constraint aggregates need no input_file_name
    // grouping and can ride the WRITE job itself as observed metrics —
    // the separate stats read-back job (plus its planning round-trip)
    // disappears from every small INSERT/DELETE/MERGE commit, which the
    // SQL-table gates issue by the dozen. Values are computed by the
    // same expressions over the same rows the read-back aggregated, so
    // the manifest entry is identical. Multi-file layouts (explicit
    // repartition, large frames) keep the per-file read-back; any
    // observe refusal (analysis or lost metrics) falls back to it too.
    val singleFile = !explicitLayout && estBytes < (16L << 20)
    val observation =
      if (!singleFile) None
      else try {
        val o = org.apache.spark.sql.Observation()
        Some((o, writeDf.observe(o, statAggs.head, statAggs.tail: _*)))
      } catch { case scala.util.control.NonFatal(_) => None }
    observation match {
      case Some((_, d)) => d.write.parquet(stage.toString)
      case None => writeDf.write.parquet(stage.toString)
    }
    // per staged file: (file URI, metric-by-name accessor) — from the
    // observation when it delivered, else from the read-back job
    val observedStats: Option[Seq[(String, String => Any)]] =
      observation.flatMap { case (o, _) =>
        // the observed write completed above, so the metrics row exists;
        // get returns immediately (it only waits for the action's end)
        val m = o.get
        if (m.isEmpty) None
        else if (m("__rows").asInstanceOf[Long] == 0L) Some(Nil)
        else {
          import scala.jdk.CollectionConverters._
          val ls = Files.list(stage)
          val parts =
            try ls.iterator().asScala.filter { p =>
              val n = p.getFileName.toString
              !n.startsWith("_") && !n.startsWith(".")
            }.toList
            finally ls.close()
          if (parts.size != 1) None
          else Some(Seq((parts.head.toUri.toString,
            (name: String) => m.getOrElse(name, null))))
        }
      }
    val stats: Seq[(String, String => Any)] = observedStats.getOrElse {
      // the staged files were written from writeDf THIS call — their
      // schema is writeDf's by construction, so the stats read declares
      // it instead of firing a footer-inference job per write statement
      spark.read.schema(writeDf.schema).parquet(stage.toString)
        .groupBy(input_file_name().as("__file"))
        .agg(statAggs.head, statAggs.tail: _*)
        .collect().toSeq
        .map(r => (r.getAs[String]("__file"), (name: String) => r.getAs[Any](name)))
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    def longOf(v: Any): Long = v.asInstanceOf[java.lang.Long].longValue
    val broken = constraints.zipWithIndex.collect {
      case (c, i) if stats.map(s => longOf(s._2(s"__viol_$i"))).sum > 0 =>
        c -> stats.map(s => longOf(s._2(s"__viol_$i"))).sum
    }
    if (broken.nonEmpty) {
      rm(stage.toFile) // staged data never promoted: the table stays whole
      throw new IllegalArgumentException(
        broken.map { case (c, n) => s"CHECK ($c) violated by $n row(s)" }
          .mkString(s"write to $root rejected: ", "; ", ""))
    }
    // a zero-row write promotes nothing: no bloom pass over its stage
    val bloomsByCol =
      if (stats.isEmpty) Map.empty[String, Map[String, Seq[Long]]]
      else computeBlooms(spark, stage.toString)
    val entries = stats.map { case (uri, get) =>
      val staged = Paths.get(new java.net.URI(uri).getPath)
      val fresh = s"${UUID.randomUUID()}.parquet"
      Files.move(staged, dataDir.resolve(fresh), StandardCopyOption.ATOMIC_MOVE)
      // an ALL-NULL stat column (e.g. a column-list INSERT into a wider
      // declared schema) has null min/max — record NO stats for it (the
      // read side treats missing stats as "cannot prune, scan"); the
      // erased cast would otherwise smuggle the null into the Map and
      // the manifest line would render a literal "null"
      def statsOf(prefix: String): Map[String, Long] = statCols.flatMap { c =>
        Option(get(s"${prefix}_$c")).map(v => c -> longOf(v))
      }.toMap
      // all-null columns record no histogram (like min/max); bounds
      // floor to the manifest's integer domain
      val hists: Map[String, Seq[Long]] = statCols.flatMap { c =>
        Option(get(s"__hist_$c"))
          .map(_.asInstanceOf[scala.collection.Seq[Double]])
          .map(bs => c -> bs.map(d => math.floor(d).toLong).toSeq)
      }.toMap
      FileEntry(fresh, longOf(get("__rows")),
        statsOf("__min"), statsOf("__max"),
        blooms = bloomCols.flatMap(c =>
          bloomsByCol.getOrElse(c, Map.empty).get(uri).map(c -> _)).toMap,
        // count() is never null (0 for an all-null column) — always recorded
        nonNull = statCols.map(c => c -> longOf(get(s"__nn_$c"))).toMap,
        hists = hists)
    }
    // the stage dir now holds only _SUCCESS/metadata droppings
    rm(stage.toFile)
    entries
  }

  /** Per staged file, an 8192-bit / 4-hash bloom over each declared
    * bloom column — ONE distributed pass per column (explode the k hash
    * positions, `bit_or` per (file, word)), collecting only
    * O(files × 128) tiny rows on the driver. Null cells hash to a fixed
    * position, which is harmless: equality probes are non-null and the
    * residual filter drops nulls anyway. Returned maps are keyed by the
    * staged file URI so the caller can attach blooms before the
    * promote-rename. */
  private def computeBlooms(spark: SparkSession, stage: String)
      : Map[String, Map[String, Seq[Long]]] = {
    if (bloomCols.isEmpty) Map.empty
    else {
      val df = spark.read.parquet(stage)
      bloomCols.map { c =>
        val hashes = (0 until BloomHashes).map(j =>
          expr(s"cast(pmod(xxhash64(cast(`$c` as bigint), $j), $BloomBits) as int)"))
        val rows = df
          .select(input_file_name().as("__file"),
            explode(array(hashes: _*)).as("__pos"))
          .groupBy(col("__file"), expr("__pos div 64").as("__word"))
          .agg(expr("bit_or(shiftleft(1L, cast(__pos % 64 as int)))").as("__bits"))
          .collect()
        c -> rows.groupBy(_.getAs[String]("__file")).map { case (f, rs) =>
          val words = new Array[Long](BloomWords)
          rs.foreach(r =>
            words(r.getAs[Number]("__word").intValue) = r.getAs[Long]("__bits"))
          f -> (words.toVector: Seq[Long])
        }
      }.toMap
    }
  }

  private def flatStats(cols: Seq[String]) =
    cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"__min_$c"),
      max(col(c)).cast("long").as(s"__max_$c"),
      // non-null count: the zero-null witness metadata-only drops demand
      // (min/max alone are blind to NULLs in the column)
      count(col(c)).as(s"__nn_$c"),
      // 9 EXACT percentile bounds = 8 equi-depth buckets per file — the
      // skew signal for CBO ([[TxTable.FileEntry.hists]]). Exact, not
      // approx: the sketch mergers are merge-order-dependent and would
      // break run-to-run determinism; the exact aggregate costs one
      // value→count map per (file, column), bounded by per-file
      // distincts — a write-side cost that buys plan-time selectivity
      // with no ANALYZE pass over the table
      expr(s"percentile(cast(`$c` as bigint), " +
        "array(0.0D,0.125D,0.25D,0.375D,0.5D,0.625D,0.75D,0.875D,1.0D))")
        .as(s"__hist_$c")))

  /** One commit attempt on top of `base`: stage a DELTA manifest (the
    * entry-level diff of `files` — the new file list — against `base`:
    * O(changed files) to write, never O(table) — plus only the txn
    * watermarks this commit touches and a constraint replacement if any)
    * and publish it as v{base+1} via hard link (atomic put-if-absent).
    * Stream watermarks still survive vacuum: reconstruction merges txn
    * lines forward and every checkpoint carries the merged map, so the
    * checkpoint+tail a vacuumed table retains answers "what has stream X
    * committed?" exactly as the old full manifests did. Every
    * [[TxTable.CheckpointInterval]]-th version also writes a full-state
    * checkpoint AFTER the commit link — derived acceleration, safe to
    * lose, so it and the staging-file delete are best-effort: once the
    * link lands nothing may throw. Throws FileAlreadyExistsException if
    * someone else committed base+1 first; only [[committing]] calls it. */
  private def commitOnce(base: Snapshot, files: Seq[FileEntry],
      txns: Map[String, Long] = Map.empty,
      constraints: Option[Seq[String]] = None,
      colMap: Option[Map[String, String]] = None,
      op: String = "write", meta: Option[TableMeta] = None): Int = {
    val v = base.version + 1
    // Diff by FULL entry equality: stats evolution re-describes a file
    // under the same (path, dv) identity, and the delta must carry that
    // as remove+add or the widened stats would be lost on replay.
    val baseSet = base.files.toSet
    val newSet = files.toSet
    val adds = files.filterNot(baseSet.contains)
    val removes = base.files.filterNot(newSet.contains).map(f => (f.path, f.dv))
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp,
      renderDelta(adds, removes, txns, constraints, clockMs(), colMap, op, meta).getBytes("UTF-8"))
    try {
      fault("publish")
      Files.createLink(logDir.resolve(manifestName(v)), tmp)
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    def afterLink(step: String)(body: => Unit): Unit =
      try body catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[txtable] $root v$v is committed; $step failed: $e")
      }
    afterLink("staging-file delete") { Files.deleteIfExists(tmp); () }
    afterLink("checkpoint") {
      fault("linked")
      if (v % CheckpointInterval == 0)
        writeCheckpoint(v, files, base.txns ++ txns,
          constraints.getOrElse(base.constraints),
          colMap.getOrElse(base.colMap),
          meta.orElse(base.meta))
    }
    v
  }

  /** Test seam: called with the commit step about to run — `"publish"`
    * just before the manifest link, `"linked"` just after it. Specs use
    * it to race a second writer into the gap or fail a post-link step;
    * production never touches it. */
  private[graft] var fault: String => Unit = _ => ()

  /** THE commit loop every write publishes through. `attempt` is handed
    * a snapshot — `from` first, then the latest one after each lost
    * race — and derives its commit from it (or refuses by throwing, or
    * returns early without publishing), publishing with [[commitOnce]].
    * When the publish race is lost the loop re-reads the latest snapshot
    * and calls `attempt` again; after `retries` rebases it throws one
    * ConcurrentModificationException naming `what` and the table. */
  private def committing[A](what: String, retries: Int = CommitRetries,
      from: Snapshot = snapshot())(attempt: Snapshot => A): A = {
    var base = from
    var rebases = 0
    var result: Option[A] = None
    while (result.isEmpty) {
      try result = Some(attempt(base))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (rebases == retries)
            throw new java.util.ConcurrentModificationException(
              s"$what on $root lost the commit race ${rebases + 1} time(s); re-run")
          rebases += 1
          base = snapshot()
      }
    }
    result.get
  }

  /** Write the full state of `v` as a checkpoint — idempotent and
    * crash-safe: staged then hard-linked (put-if-absent; a concurrent
    * writer's identical checkpoint wins ties), and losing it entirely
    * only means readers replay more deltas. */
  private def writeCheckpoint(v: Int, files: Seq[FileEntry],
      txns: Map[String, Long], constraints: Seq[String],
      colMap: Map[String, String] = Map.empty,
      meta: Option[TableMeta] = None): Unit = {
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, renderManifest(files, txns, constraints, colMap,
      meta = meta).getBytes("UTF-8"))
    try Files.createLink(logDir.resolve(ckptName(v)), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Publish a TXN-ONLY (metadata) commit: the file set carries forward
    * untouched, only the txn watermark map advances — the shape a
    * nets-to-nothing incremental refresh needs so its applied-through
    * version still moves (ADVICE r14: without it the same change range
    * is re-read forever). Never conflicts: it reads nothing. */
  private[graft] def commitTxns(txns: Map[String, Long],
      op: String = "txn"): Int =
    committing(op) { base => commitOnce(base, base.files, txns, op = op) }

  /** Publish a copy-on-write commit — `candidates` leave the manifest,
    * `entries` join it — REBASING across concurrent commits when
    * file-level conflict detection proves them disjoint, instead of the
    * abort-on-any-race a serial log would force (the Delta/Iceberg
    * optimistic-concurrency shape: conflict on what was READ, not on
    * the version counter). The first attempt publishes on `base`; each
    * rebase the commit loop hands it aborts only if
    *
    *  - a candidate's (path, dv) identity is gone — a concurrent
    *    rewrite/delete/DV touched a file this operation read, so its
    *    staged output was derived from content that no longer exists;
    *  - `guard` is set and a concurrently ADDED file satisfies its test
    *    — its stats cannot prove it disjoint from the rows the
    *    operation governs (missing stats never prove it), so those rows
    *    would have changed the operation's own candidate selection (a
    *    merge would have matched them, a delete would have victims
    *    there). Row-level DML passes [[classify]]'s guard (with no
    *    derivable interval EVERY fresh data file conflicts, the sound
    *    default); content-preserving rewrites (compact, z-order, DV
    *    materialization) pass None: concurrent appends never conflict
    *    with them;
    *  - the constraint set changed — the staged files were validated
    *    against the old one.
    *
    * Otherwise the kept set is recomputed from the LATEST file list
    * (concurrent appends carry forward by name, never dropped) and the
    * publish retries. At 100 TB this is what lets streaming ingest and
    * background maintenance share a table without livelocking each
    * other: an optimizer that aborts on every append never wins. */
  private def commitCow(base: Snapshot, candidates: Seq[FileEntry],
      entries: Seq[FileEntry], what: String,
      guard: Option[(FileEntry => Boolean, String)],
      txns: Map[String, Long] = Map.empty,
      meta: Option[TableMeta] = None): Int = {
    val candIds = candidates.map(f => (f.path, f.dv)).toSet
    lazy val baseIds = base.files.map(f => (f.path, f.dv)).toSet
    committing(what, from = base) { cur =>
      if (cur ne base) {
        def conflict(why: String): Nothing =
          throw new java.util.ConcurrentModificationException(
            s"$what on $root conflicts with concurrent version ${cur.version}: " +
              s"$why; re-run against the new snapshot")
        if (cur.constraints != base.constraints)
          conflict("the constraint set changed (staged files were not " +
            "validated against it)")
        // an evolved declaration was derived from base's meta; a
        // concurrent metadata-only change (addColumn, rename) adds no
        // files, so the fresh-file guard can't see it — re-committing
        // the stale evolution would silently clobber it (ADVICE r13)
        if (meta.isDefined && cur.meta != base.meta)
          conflict("the declared schema changed concurrently (this " +
            "operation's schema evolution was derived from the old " +
            "declaration)")
        val curIds = cur.files.map(f => (f.path, f.dv)).toSet
        if (!candIds.subsetOf(curIds))
          conflict("file(s) this operation read were rewritten, deleted, " +
            "or position-deleted")
        val fresh = cur.files.filterNot(f => baseIds.contains((f.path, f.dv)))
        guard.foreach { case (test, desc) =>
          // missing stats conservatively overlap: nothing proves the
          // fresh file's rows outside the operation's governed range
          if (fresh.exists(test))
            conflict(s"concurrently added file(s) $desc")
        }
      }
      val kept = cur.files.filterNot(f => candIds.contains((f.path, f.dv)))
      commitOnce(cur, kept ++ entries, txns, op = what, meta = meta)
    }
  }

  /** Delete staged data files that never became visible: the exits
    * before a commit link of the writers that promise to leave no
    * orphans behind. */
  private def reclaim(entries: Seq[FileEntry]): Unit =
    entries.foreach(e => Files.deleteIfExists(dataDir.resolve(e.path)))

  // ------------------------------------------------------- streaming ingest

  /** Idempotent micro-batch append — the foreachBatch face of an
    * exactly-once streaming sink: a batch commits only if `batchId` is
    * NEWER than the stream's last recorded commit (micro-batch ids are
    * monotonic per checkpoint), so the crash-replayed batch a restarted
    * query re-delivers is recognized from the manifest and skipped —
    * duplicates are impossible even though the engine's delivery is
    * at-least-once. The (appId → batchId) watermark rides every
    * manifest, so the check is O(1) on the CURRENT snapshot and survives
    * vacuum. Returns true iff this call committed. */
  def appendBatch(spark: SparkSession, df: DataFrame,
      appId: String, batchId: Long): Boolean = {
    val s0 = snapshot()
    if (s0.txns.get(appId).exists(_ >= batchId)) return false
    // streaming-ingest schema evolution: a batch carrying new columns
    // widens a declared schema in the same exactly-once commit (append's
    // rule — the CDC-ingest shape where upstream adds a field mid-stream).
    // Computed BEFORE staging so a type conflict refuses without writing.
    s0.meta.foreach(m => evolveForSource(s0, m.schema, df.schema))
    val entries = writeDataFiles(spark, df)
    // every exit before the link — a concurrent worker landing this very
    // batch, a type-conflicting concurrent schema change surfacing in the
    // re-derived evolution, the publish race lost too often — reclaims
    // the staged parquets, else they leak as orphans (ADVICE r14). Once
    // the link lands nothing throws: those files are the committed batch.
    val landed =
      try committing("stream-append") { base =>
        if (base.txns.get(appId).exists(_ >= batchId)) false
        else {
          // the evolution is RE-DERIVED against each attempt's snapshot: a
          // concurrent metadata-only change (addColumn) adds no files, so a
          // stale evolved meta would silently clobber it (ADVICE r13)
          val evolvedMeta = base.meta.flatMap(m =>
            evolveForSource(base, m.schema, df.schema))
            .orElse(declareFirstWrite(base, df))
          commitOnce(base, base.files ++ entries, Map(appId -> batchId),
            op = "stream-append", meta = evolvedMeta)
          true
        }
      } catch {
        case scala.util.control.NonFatal(e) => reclaim(entries); throw e
      }
    if (!landed) reclaim(entries)
    landed
  }

  /** COPY INTO — idempotent BULK FILE LOAD (the Delta statement): load
    * every parquet file under `srcDir` (optionally matching `pattern`, a
    * glob over the srcDir-relative path) that this table has NOT loaded
    * yet, in ONE commit that also records the loaded identities — a
    * crash-retried or daily re-run COPY loads only the new files. The
    * loaded-file registry rides the manifest txn map streaming
    * idempotence uses (`copy:<relpath>` entries: O(loaded files)
    * driver-side metadata, carried through checkpoints and vacuum), and
    * data lands through the normal write path — stats/bloom pass,
    * constraints, optimized write — so a COPY-loaded table prunes and
    * validates exactly like an appended one. Returns
    * (filesLoaded, rowsLoaded); (0, 0) = everything was already in. */
  def copyInto(spark: SparkSession, srcDir: String,
      pattern: Option[String] = None): (Int, Long) = {
    import scala.jdk.CollectionConverters._
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src), s"$srcDir is not a directory")
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$p"))
    val walk = Files.walk(src)
    val leaves =
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith(".") && !n.startsWith("_") &&
          matcher.forall(_.matches(src.relativize(p)))
      }.toVector.sortBy(_.toString)
      finally walk.close()
    // the registry key rides a tab-separated manifest line: a control
    // character in a file name would corrupt it — refuse loudly
    leaves.foreach(p => require(!src.relativize(p).toString.exists(_ < ' '),
      s"COPY INTO cannot register a file whose path holds control characters: $p"))
    def freshOf(s: Snapshot): Seq[Path] =
      leaves.filterNot(p => s.txns.contains(s"copy:${src.relativize(p)}"))
    val fresh = freshOf(snapshot())
    if (fresh.isEmpty) return (0, 0L)
    val entries = writeDataFiles(spark,
      spark.read.option("mergeSchema", "true")
        .parquet(fresh.map(_.toString): _*))
    val txns = fresh.map(p => s"copy:${src.relativize(p)}" -> 1L).toMap
    // every exit before the link reclaims the staged data: loading it
    // again would duplicate rows, and the caller re-runs for the remainder
    try committing("copy-into") { base =>
      if (freshOf(base).toSet != fresh.toSet)
        throw new java.util.ConcurrentModificationException(
          s"COPY INTO $root raced a concurrent COPY of overlapping files; re-run")
      commitOnce(base, base.files ++ entries, txns, op = "copy-into")
    } catch {
      case scala.util.control.NonFatal(e) => reclaim(entries); throw e
    }
    (fresh.size, entries.map(_.rows).sum)
  }
}

object TxTable {

  /** Provably-lossless type widenings — the only conversions a
    * METADATA-ONLY `ALTER COLUMN TYPE` may declare (the parquet readers
    * perform them per file against an explicit schema; everything else
    * would silently corrupt or require a rewrite). */
  private[tables] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Open an EXISTING table without declaring its stat/bloom schema —
    * the SQL/catalog entry point (`SELECT … FROM txtable.\`root\``,
    * `spark.read.format("txtable")`), where the user has only a path.
    * The handle's stat and bloom columns are DISCOVERED from the current
    * manifest (the per-file stats/bloom keys every commit records), so
    * writes through the discovered handle keep recording the same stats
    * and merges/deletes validate against the table's real pruning
    * schema instead of a caller-remembered one. Refuses a path with no
    * transaction log — a catalog must distinguish "no such table" from
    * "create an empty one" (the constructor's job). */
  def open(root: String): TxTable = {
    require(Files.isDirectory(Paths.get(root, "_txlog")),
      s"no TxTable at $root (no _txlog directory)")
    val s = new TxTable(root, Nil).snapshot()
    // declared (CREATE TABLE) stat/bloom columns union the ones the data
    // files already record — so an empty declared table's FIRST write
    // through a discovered handle still computes the promised stats
    new TxTable(root,
      (s.files.flatMap(_.mins.keys) ++ s.meta.toSeq.flatMap(_.statCols))
        .distinct.sorted,
      (s.files.flatMap(_.blooms.keys) ++ s.meta.toSeq.flatMap(_.bloomCols))
        .distinct.sorted)
  }

  /** One `WHEN MATCHED` clause of a general MERGE ([[TxTable#mergeWhen]]):
    * UPDATE with an optional condition and either explicit assignments or
    * `SET *` (sets = None), or DELETE with an optional condition.
    * Conditions/rhs resolve under aliases `t` (target) and `s` (source). */
  sealed trait MergeMatched
  final case class MergeUpdate(cond: Option[String],
      sets: Option[Seq[(String, String)]]) extends MergeMatched
  final case class MergeDelete(cond: Option[String]) extends MergeMatched
  /** The `WHEN NOT MATCHED` clause: optional condition, and either
    * `INSERT *` (both None) or an explicit column list + VALUES exprs. */
  final case class MergeInsert(cond: Option[String],
      cols: Option[Seq[String]], vals: Option[Seq[String]])

  /** One DML dry-run classification row (r14 verdict #6): what the
    * statement WOULD touch, per the manifest — candidates split into
    * the metadata-only (covered) and rewrite (straddling) classes, the
    * provably-untouched kept class, and the prune rule that decided. */
  final case class DmlDryRun(operation: String, filesTotal: Int,
      candidates: Int, covered: Int, straddling: Int, kept: Int,
      pruneClass: String)

  /** Whether `root` holds a TxTable transaction log (catalog existence
    * probe — side-effect-free, unlike the directory-creating constructor). */
  def exists(root: String): Boolean =
    Files.isDirectory(Paths.get(root, "_txlog"))

  /** CONVERT TO TXTABLE — adopt an existing (optionally hive-partitioned)
    * parquet directory as a transactional table WITHOUT rewriting a byte
    * of data (Delta's `CONVERT TO DELTA` story): every leaf file is
    * HARD-LINKED under `<dst>/data/` keeping its `k=v` partition
    * directories (a link is a metadata op — the 100 TB convert moves no
    * data; a cross-filesystem link degrades to a copy, documented), one
    * DISTRIBUTED footer pass reads row counts and per-row-group min/max/
    * null-count statistics for the declared stat columns straight from
    * the parquet metadata (zero data pages read), and `k=v` partition
    * values become exact per-file stats intervals (min = max = value) —
    * so partition pruning arrives as ordinary manifest skipping. One v1
    * commit publishes the manifest + declared schema (partition columns
    * included: the read path's basePath option surfaces them as real
    * columns). Files whose footers carry no usable stats for a column
    * are conservatively scanned, the established missing-stats rule.
    * Linked files get fresh UUID names inside their partition dirs:
    * hive's repeated `part-00000` basenames would collide in the
    * deletion-vector file-name keyspace. */
  def convert(spark: SparkSession, srcDir: String, dst: String,
      statCols: Seq[String], bloomCols: Seq[String] = Nil): TxTable = {
    import scala.jdk.CollectionConverters._
    require(!exists(dst), s"$dst is already a txtable")
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src), s"$srcDir is not a directory")
    val walk = Files.walk(src)
    val leaves =
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith(".") && !n.startsWith("_")
      }.toVector.sortBy(_.toString)
      finally walk.close()
    require(leaves.nonEmpty, s"no parquet files under $srcDir")
    val t = new TxTable(dst, statCols, bloomCols)
    Files.createDirectories(t.dataDir)
    // rel = partition dirs + fresh UUID basename (collision-free in the
    // DV keyspace); partition values parse from the preserved dirs
    val rels = leaves.map { leaf =>
      val dirRel = Option(src.relativize(leaf).getParent)
        .map(_.toString + "/").getOrElse("")
      val rel = s"$dirRel${UUID.randomUUID()}.parquet"
      val target = t.dataDir.resolve(rel)
      Files.createDirectories(target.getParent)
      try { Files.createLink(target, leaf); () }
      catch { case _: Exception => Files.copy(leaf, target); () }
      rel
    }
    val dataRoot = t.dataDir.toString
    val cols = statCols
    val footer: Map[String, (Long, Map[String, (Long, Long, Long)])] =
      spark.sparkContext
        .parallelize(rels, math.max(1, math.min(rels.size, 64)))
        .map(rel => rel -> readFooterStats(s"$dataRoot/$rel", cols))
        .collect().toMap
    val entries = rels.map { rel =>
      val (rows, byCol) = footer(rel)
      // k=v path segments: exact single-value intervals for declared
      // stat columns that are partition keys (integer-parsed)
      val partStats = rel.split("/").dropRight(1).toSeq.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if cols.contains(k) =>
            scala.util.Try(v.toLong).toOption.map(k -> _)
          case _ => None
        }
      }.toMap
      val mins = byCol.map { case (c, (mn, _, _)) => c -> mn } ++ partStats
      val maxs = byCol.map { case (c, (_, mx, _)) => c -> mx } ++ partStats
      val nn = byCol.map { case (c, (_, _, n)) => c -> n } ++
        partStats.map { case (c, _) => c -> rows }
      FileEntry(rel, rows, mins, maxs, nonNull = nn)
    }
    // declared schema = file schema + discovered partition columns
    val schema = spark.read.option("basePath", dataRoot)
      .parquet(dataRoot).schema
    val missing = statCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"stat column(s) ${missing.mkString(", ")} not in the converted " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    t.committing("convert", retries = 0) { base =>
      t.commitOnce(base, entries, op = "convert",
        meta = Some(TableMeta(schema.json, statCols, bloomCols)))
    }
    t
  }

  /** Row count and per-stat-column (min, max, nonNullCount) from ONE
    * parquet footer — runs on executors, reads metadata only. A column
    * is recorded only when EVERY row group carries complete statistics
    * (values + null count) and its physical type is INT32/INT64; an
    * all-null column records its zero non-null count but no interval
    * (writeDataFiles' rule). */
  private def readFooterStats(path: String, statCols: Seq[String])
      : (Long, Map[String, (Long, Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // col -> (min, max, nulls, sawValue, complete)
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Boolean, Boolean)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (statCols.contains(name)) {
          val st = c.getStatistics
          val tpe = c.getPrimitiveType.getPrimitiveTypeName
          val usable = st != null && !st.isEmpty && st.isNumNullsSet &&
            (tpe == INT64 || tpe == INT32)
          val (mn0, mx0, nu0, saw0, ok0) =
            acc.getOrElse(name, (Long.MaxValue, Long.MinValue, 0L, false, true))
          if (!usable) acc(name) = (mn0, mx0, nu0, saw0, false)
          else if (!st.hasNonNullValue) // all-null row group: nulls only
            acc(name) = (mn0, mx0, nu0 + st.getNumNulls, saw0, ok0)
          else {
            val (mn, mx) = st match {
              case s: org.apache.parquet.column.statistics.LongStatistics =>
                (s.getMin, s.getMax)
              case s: org.apache.parquet.column.statistics.IntStatistics =>
                (s.getMin.toLong, s.getMax.toLong)
              case _ => (mn0, mx0) // unreachable under the type gate
            }
            acc(name) = (math.min(mn0, mn), math.max(mx0, mx),
              nu0 + st.getNumNulls, true, ok0)
          }
        }
      }
      val out = acc.collect {
        case (c, (mn, mx, nulls, true, true)) => c -> (mn, mx, rows - nulls)
      }.toMap
      (rows, out)
    } finally reader.close()
  }

  /** Bloom geometry: m = 8192 bits (128 longs, ~1.4 KB base64 per file
    * per column in the manifest), k = 4 hashes — ~0.5% false-positive
    * rate at ~600 distinct keys per file, still pruning-useful at a few
    * thousand. */
  private[tables] val BloomBits = 8192
  private[tables] val BloomWords = BloomBits / 64
  private[tables] val BloomHashes = 4

  /** One manifest row: a data file plus its row count and min/max stats.
    * `rows` counts PHYSICAL rows; `dv` optionally names a deletion
    * vector — a parquet file of (file, pos) victim positions applied at
    * read time (merge-on-read), so a positional delete rewrites
    * nothing. `blooms` carries per-column bloom bitsets for equality
    * pruning. Stats and blooms stay sound as superset bounds (a DV'd or
    * merged-away row may still test present — never the reverse).
    * `nonNull` records the NON-NULL value count per stat column: min/max
    * are computed over non-null values only, so an interval alone can
    * never prove "every row matches" for a file holding NULLs in the
    * column (a NULL predicate row must SURVIVE an ANSI DELETE). A file
    * qualifies for a metadata-only drop only when nonNull(c) == rows for
    * every band column; absent counts (legacy manifests) degrade to the
    * always-sound rewrite class. */
  /** `hists` carries per-stat-column EQUI-DEPTH bucket bounds
    * (`hist:<col>:<b0,…,b8>` manifest token — 9 bounds = 8 equal-mass
    * buckets over the file's non-null values, exact percentiles from
    * the same staged-stats pass): the skew signal min/max/ndv cannot
    * express. Scan-time they merge across surviving files into one
    * CDF-weighted histogram for CBO ([[graft.sources.TxV1Scan]]), so a
    * 99%-one-key column estimates range selectivity from where the
    * mass actually sits. Absent in pre-round-13 manifests — estimation
    * degrades to the min/max uniform assumption, never an error. */
  final case class FileEntry(path: String, rows: Long,
      mins: Map[String, Long], maxs: Map[String, Long],
      dv: Option[String] = None,
      blooms: Map[String, Seq[Long]] = Map.empty,
      nonNull: Map[String, Long] = Map.empty,
      hists: Map[String, Seq[Long]] = Map.empty) {
    /** Stats prove every physical row satisfies `lo <= c <= hi`: range
      * inside the band AND zero nulls (count recorded and == rows). */
    def provablyAllIn(c: String, lo: Long, hi: Long): Boolean =
      mins.get(c).exists(lo <= _) && maxs.get(c).exists(_ <= hi) &&
        nonNull.get(c).contains(rows)
  }

  /** A version's full state: its file list, the per-stream exactly-once
    * watermarks (appId → last committed micro-batch id), the declared
    * CHECK constraints every write must satisfy, and the column mapping
    * (logical name → physical parquet name; absent = identity) renames
    * have accumulated. */
  final case class Snapshot(version: Int, files: Seq[FileEntry],
      txns: Map[String, Long], constraints: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      meta: Option[TableMeta] = None)

  /** Declared table metadata — what `CREATE TABLE` (and later `ALTER
    * TABLE ADD COLUMN`) promised, persisted in the log so an EMPTY
    * table still answers its schema and a fresh `open()` still knows
    * its declared stat/bloom columns (before round 10 both lived only
    * in the in-memory handle and died with it). `schemaJson` is
    * [[org.apache.spark.sql.types.StructType.json]] — Spark's own
    * stable serialization. Columns declared here but present in no
    * data file yet read as NULL (metadata-only schema evolution). */
  final case class TableMeta(schemaJson: String, statCols: Seq[String],
      bloomCols: Seq[String]) {
    def schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Process-wide memo of reconstructed [[Snapshot]]s keyed by
    * (root, version, backing-file size·mtime stamp) — committed
    * manifests are immutable, so an entry can only go stale if the
    * table DIRECTORY is deleted and re-created at the same path, which
    * the stamp detects with one stat. Bounded by wholesale clear (the
    * entries are driver-side metadata; correctness never depends on a
    * hit). */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long), Snapshot]()

  /** One audit-log row ([[TxTable#history]]): what operation produced
    * `version`, when, and its file-level footprint. */
  final case class CommitInfo(version: Int, timestampMs: Long,
      operation: String, addedFiles: Int, removedFiles: Int)

  /** The DESCRIBE DETAIL summary ([[TxTable#detail]]). */
  final case class TableDetail(version: Int, numFiles: Int, rows: Long,
      sizeBytes: Long, statColumns: Seq[String], bloomColumns: Seq[String],
      constraints: Seq[String], renamedColumns: Map[String, String],
      droppedColumns: Set[String], numDeletionVectors: Int,
      tags: Map[String, Int])

  final case class PrunedRead(df: DataFrame, filesScanned: Int, filesTotal: Int)

  final case class MergeResult(version: Int, rewrittenFiles: Int,
      keptFiles: Int, newFiles: Int)

  /** delete() outcome: `droppedFiles` left the manifest without a data
    * read (fully covered by the delete range), `rewrittenFiles` were
    * filtered into `newFiles`, `keptFiles` were provably untouched. */
  final case class DeleteResult(version: Int, droppedFiles: Int,
      rewrittenFiles: Int, keptFiles: Int, newFiles: Int)

  /** deletePositional() outcome: `droppedFiles` left metadata-only,
    * `dvFiles` stayed IN PLACE with victim positions recorded in a
    * deletion vector (zero rewrites), `keptFiles` provably untouched. */
  final case class PositionalDeleteResult(version: Int, droppedFiles: Int,
      dvFiles: Int, keptFiles: Int)

  /** One version's file-level change: what it added, how many it removed.
    * `removedFiles > 0` marks a change (rewrite) commit. */
  final case class VersionDelta(version: Int, added: Seq[FileEntry],
      removedFiles: Int)

  private def encodeBloom(words: Seq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def decodeBloom(s: String): Seq[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Vector.fill(bb.remaining() / 8)(bb.getLong)
  }

  private val ManifestName = """v(\d{8})\.txt""".r
  private val CkptName = """v(\d{8})\.ckpt\.txt""".r

  private def manifestName(v: Int): String = f"v$v%08d.txt"
  private def ckptName(v: Int): String = f"v$v%08d.ckpt.txt"

  /** Checkpoint cadence: a reader replays at most this many deltas on
    * top of a full state. Small enough that reconstruction stays a
    * handful of tiny file reads, large enough that steady-state commit
    * cost is the delta write, not the checkpoint. */
  private[tables] val CheckpointInterval = 10

  /** Rebases a write makes after lost publish races before it gives up
    * with a ConcurrentModificationException (so at most this + 1
    * attempts); the metadata-only verbs pass 0 and abort on the first. */
  private[tables] val CommitRetries = 10

  /** Vectored-row fraction above which maintenance folds a file plain
    * (the Delta `maxDeletedRowRatio` shape): past ~50% dead rows the
    * per-read anti-join outweighs the rewrite it deferred, so plain
    * OPTIMIZE treats the file as a compaction candidate regardless of
    * size — merge-on-read debt stays bounded per file. */
  val DvFoldThreshold: Double = 0.5

  /** One parsed DELTA manifest: what a single commit changed. */
  private final case class DeltaRecord(adds: Seq[FileEntry],
      removes: Seq[(String, Option[String])], txns: Map[String, Long],
      constraints: Option[Seq[String]],
      colMap: Option[Map[String, String]],
      meta: Option[TableMeta] = None)

  /** Manifest line format (tab-separated): `txn <appId> <batchId>` lines
    * carry the per-stream exactly-once watermarks, `file <path> <rows>
    * [dv:<dv>] [bloom:<col>:<b64>]... [<col> <min> <max>]...` lines the
    * data files — dependency-free and diff-readable; the manifest is
    * metadata about file NAMES, stats and stream watermarks, never data.
    * Format v1 (`graft-txlog\t1`) is a FULL state — the checkpoint
    * format, and what every pre-checkpoint table's commits wrote.
    * Format v2 (`graft-txlog\t2\tdelta`) is one commit's diff: `add`
    * lines (the file-line payload), `remove <path> <dv|->` lines, `txn`
    * lines for only the touched watermarks, and an optional
    * `setconstraints` marker whose following `constraint` lines REPLACE
    * the set (the marker distinguishes "unchanged" from "replaced with
    * empty"). */
  private def renderManifest(files: Seq[FileEntry], txns: Map[String, Long],
      constraints: Seq[String], colMap: Map[String, String] = Map.empty,
      op: Option[String] = None, meta: Option[TableMeta] = None): String = {
    val txnLines = txns.toSeq.sortBy(_._1)
      .map { case (app, b) => s"txn\t$app\t$b" }
    val conLines = constraints.map(c => s"constraint\t$c")
    val mapLines = colMap.toSeq.sorted.map { case (l, p) => s"colmap\t$l\t$p" }
    val metaLines = meta.toSeq.map(metaLine)
    val fileLines = files.map(f => fileLine("file", f))
    val opLines = op.toSeq.map(o => s"op\t$o")
    ("graft-txlog\t1" +: (opLines ++ txnLines ++ conLines ++ mapLines ++
      metaLines ++ fileLines)).mkString("\n")
  }

  /** `meta <statCsv|-> <bloomCsv|-> <schemaJson>` — the declared-metadata
    * line. The schema JSON is last because it is the one variable-width
    * member (Spark's JSON escapes control characters, so the payload can
    * never contain a literal tab). A `meta` line in a delta SETS the
    * declared metadata (it is never cleared, so no marker is needed). */
  private def metaLine(m: TableMeta): String = {
    def csv(cols: Seq[String]): String = if (cols.isEmpty) "-" else cols.mkString(",")
    s"meta\t${csv(m.statCols)}\t${csv(m.bloomCols)}\t${m.schemaJson}"
  }

  private def parseMetaLine(line: String): TableMeta = {
    val Array(_, stats, blooms, json) = line.split("\t", 4)
    def cols(s: String): Seq[String] =
      if (s == "-") Nil else s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    TableMeta(json, cols(stats), cols(blooms))
  }

  private def renderDelta(adds: Seq[FileEntry],
      removes: Seq[(String, Option[String])], txns: Map[String, Long],
      constraints: Option[Seq[String]], commitMs: Long,
      colMap: Option[Map[String, String]] = None,
      op: String = "write", meta: Option[TableMeta] = None): String = {
    val txnLines = txns.toSeq.sortBy(_._1)
      .map { case (app, b) => s"txn\t$app\t$b" }
    val conLines = constraints.toSeq.flatMap(cs =>
      "setconstraints" +: cs.map(c => s"constraint\t$c"))
    val mapLines = colMap.toSeq.flatMap(m =>
      "setcolmap" +: m.toSeq.sorted.map { case (l, p) => s"colmap\t$l\t$p" })
    val metaLines = meta.toSeq.map(metaLine)
    val rmLines = removes.map { case (p, dv) => s"remove\t$p\t${dv.getOrElse("-")}" }
    val addLines = adds.map(f => fileLine("add", f))
    (Seq("graft-txlog\t2\tdelta", s"commitms\t$commitMs", s"op\t$op") ++
      (txnLines ++ conLines ++ mapLines ++ metaLines ++ rmLines ++ addLines))
      .mkString("\n")
  }

  private def fileLine(tag: String, f: FileEntry): String = {
    val stats = f.mins.keys.toSeq.sorted
      .map(c => s"$c\t${f.mins(c)}\t${f.maxs(c)}").mkString("\t")
    val dvTok = f.dv.map(d => s"dv:$d\t").getOrElse("")
    val bloomTok = f.blooms.keys.toSeq.sorted
      .map(c => s"bloom:$c:${encodeBloom(f.blooms(c))}\t").mkString
    val nnTok = f.nonNull.keys.toSeq.sorted
      .map(c => s"nn:$c:${f.nonNull(c)}\t").mkString
    val histTok = f.hists.keys.toSeq.sorted
      .map(c => s"hist:$c:${f.hists(c).mkString(",")}\t").mkString
    s"$tag\t${f.path}\t${f.rows}\t$dvTok$bloomTok$nnTok$histTok$stats"
  }

  private def parseFileLine(parts: Array[String]): FileEntry = {
    val afterDv = parts.drop(3)
    val dv = afterDv.headOption.filter(_.startsWith("dv:"))
      .map(_.stripPrefix("dv:"))
    val rest = if (dv.isDefined) afterDv.drop(1) else afterDv
    val (bloomParts, afterBloom) = rest.span(_.startsWith("bloom:"))
    val blooms = bloomParts.map { tok =>
      val Array(_, c, payload) = tok.split(":", 3)
      c -> decodeBloom(payload)
    }.toMap
    // nn:<col>:<count> — absent in pre-round-12 manifests; missing counts
    // parse to an empty map and the coverage gates degrade to rewrite
    val (nnParts, afterNn) = afterBloom.span(_.startsWith("nn:"))
    val nonNull = nnParts.map { tok =>
      val Array(_, c, n) = tok.split(":", 3)
      c -> n.toLong
    }.toMap
    // hist:<col>:<b0,…,b8> — absent pre-round-13; estimation falls back
    // to the min/max uniform assumption
    val (histParts, statParts) = afterNn.span(_.startsWith("hist:"))
    val hists = histParts.map { tok =>
      val Array(_, c, bs) = tok.split(":", 3)
      c -> bs.split(",").map(_.toLong).toSeq
    }.toMap
    val stats = statParts.grouped(3).map {
      case Array(c, mn, mx) => (c, mn.toLong, mx.toLong)
    }.toSeq
    FileEntry(parts(1), parts(2).toLong,
      stats.map(s => s._1 -> s._2).toMap, stats.map(s => s._1 -> s._3).toMap,
      dv, blooms, nonNull, hists)
  }

  /** Parse a FULL (v1/checkpoint) manifest; rejects deltas. */
  private def parseManifest(lines: java.util.List[String])
      : (Seq[FileEntry], Map[String, Long], Seq[String], Map[String, String], Option[TableMeta]) =
    parseAnyManifest(lines) match {
      case Left(full) => full
      case Right(_) => throw new IllegalArgumentException(
        "expected a full manifest, found a delta")
    }

  /** Parse either format: Left(full state) or Right(one commit's delta). */
  private def parseAnyManifest(lines: java.util.List[String])
      : Either[(Seq[FileEntry], Map[String, Long], Seq[String], Map[String, String], Option[TableMeta]), DeltaRecord] = {
    import scala.jdk.CollectionConverters._
    val all = lines.asScala.toSeq
    val header = all.headOption.getOrElse("")
    require(header.startsWith("graft-txlog\t"), "not a graft txlog manifest")
    val isDelta = header.split("\t").lift(2).contains("delta")
    val body = all.tail.filter(_.nonEmpty)
    val txns = body.filter(_.startsWith("txn\t")).map { line =>
      val Array(_, app, b) = line.split("\t")
      app -> b.toLong
    }.toMap
    val constraintLines = body.filter(_.startsWith("constraint\t"))
      .map(_.stripPrefix("constraint\t"))
    val colMapEntries = body.filter(_.startsWith("colmap\t")).map { line =>
      val Array(_, l, p) = line.split("\t")
      l -> p
    }.toMap
    val meta = body.find(_.startsWith("meta\t")).map(parseMetaLine)
    if (isDelta) {
      val removes = body.filter(_.startsWith("remove\t")).map { line =>
        val Array(_, p, dv) = line.split("\t")
        (p, if (dv == "-") None else Some(dv))
      }
      val adds = body.filter(_.startsWith("add\t"))
        .map(l => parseFileLine(l.split("\t")))
      val setCons = if (body.contains("setconstraints")) Some(constraintLines) else None
      val setMap = if (body.contains("setcolmap")) Some(colMapEntries) else None
      Right(DeltaRecord(adds, removes, txns, setCons, setMap, meta))
    } else {
      val files = body
        .filterNot(l => l.startsWith("txn\t") || l.startsWith("constraint\t") ||
          l.startsWith("colmap\t") || l.startsWith("commitms\t") ||
          l.startsWith("meta\t") || l.startsWith("op\t"))
        .map { line =>
          val parts = line.split("\t")
          require(parts(0) == "file", s"bad manifest line: $line")
          parseFileLine(parts)
        }
      Left((files, txns, constraintLines, colMapEntries, meta))
    }
  }
}
