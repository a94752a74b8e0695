package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Manifest-based transactional table — the commit layer under the
  * warehouse band, the SQL DML surface, the exactly-once streaming sinks and
  * the table stream. A plain multi-file `mode("overwrite")` is NOT atomic
  * across files, so a reader racing a writer (or a writer crashing
  * mid-overwrite) could observe a torn table; this is the commit-protocol
  * core Delta and Iceberg build on, expressed with parquet files and one
  * atomic pointer rename. This object is the only code that knows the
  * layout:
  *
  * {{{
  * <root>/data/v<N>/…/part-*.parquet  immutable data files, one dir per
  *                                    version (partitioned generations nest
  *                                    col=value/ dirs) — never rewritten
  * <root>/_snapshots/LATEST           the current version number — the
  *                                    only mutable file, swapped atomically
  * <root>/_snapshots/v<N>.manifest    the version's file list (the snapshot
  *                                    IS this list; entries are root-
  *                                    relative, or absolute for a shallow
  *                                    clone's foreign files)
  *                   v<N>.meta        commit metadata (operation tag,
  *                                    streaming batch id, partspec:…)
  *                   v<N>.schema      field-id schema, only at versions
  *                                    that change it
  *                   v<N>.copied      COPY INTO's loaded-file ledger
  *                   v<N>.sizes       byte size per manifest entry
  *                   v<N>.reserved    a CAS committer's claim on N
  *                   table.key        the declared primary key
  * }}}
  *
  * Write order. Every commit kind stages version N = latest + 1 through
  * one function, [[stage]]: clear whatever sidecars a dead writer left at
  * N, write the data files, then the sidecars, then the manifest (which
  * therefore never precedes the files it lists), and only then [[swap]]
  * LATEST to N. A crash anywhere before the swap leaves readers on the old
  * version and costs only disk space ([[removeOrphans]] reclaims it); the
  * metadata of N becomes visible through the same rename as its data, so
  * an exactly-once sink gets data and applied-marker as one event. Old
  * manifests stay readable — time travel is [[readVersion]] on an older N
  * — until [[expire]] removes them.
  *
  * Two commit disciplines; a table's writers pick one. Plain commits are
  * last-writer-wins on LATEST (single-writer pipelines, streaming sinks).
  * [[commitIfUnchanged]] is compare-and-swap: each writer exclusively
  * creates `v<base+1>.reserved` before staging, so concurrent writers
  * serialize and a loser rebases. Plain commits do not check reservations.
  *
  * Scale notes (100 TB): the data write is an ordinary distributed parquet
  * job; the manifest (one line per file) and the pointer are driver-side
  * metadata. On a POSIX/HDFS filesystem the rename is atomic as required;
  * an object store replaces it with its conditional put (S3 If-None-Match,
  * GCS generation match) — the protocol shape is identical. */
/** Manifest-recorded COLUMN IDENTITY (Iceberg-style field ids) — what makes
  * rename / type-widen / drop evolution readable across file generations
  * without rewriting a byte: a column IS its id; names and types are
  * per-version metadata resolved at read time. */
case class EvoField(id: Int, name: String, typ: String)

object SnapshotTable {

  private def snapDir(root: String): Path = Paths.get(root, "_snapshots")
  private def sidecar(root: String, v: Long, kind: String): Path =
    snapDir(root).resolve(s"v$v.$kind")
  private def dataDir(root: String, v: Long): Path = Paths.get(root, "data", s"v$v")
  private def text(p: Path): String = new String(Files.readAllBytes(p), UTF_8)
  private def lines(s: String): Seq[String] = s.split("\n").filter(_.nonEmpty).toSeq

  /** Analyzed-scan cache for committed version reads, under the one
    * session-cache rule ([[graft.Tables.pinned]], the Tables.readCached
    * metastore discipline of r21): `spark.read.parquet` pays ~60-90 ms of
    * driver-side source resolution + footer inference per call, and
    * lifecycle queries re-read each version many times (every DML
    * statement, every CHANGES sub-window). The cached object is the
    * immutable analyzed plan — no rows, no results; every execution still
    * scans the version's parquet files. Scope (root, version), stamp = CRC
    * of the manifest BYTES: a version is immutable once committed, but a
    * table whose root is rebuilt (rmrf + recommit, the per-run fixture
    * reset) restarts version numbers with NEW part-file names, so the
    * manifest CRC is what detects it. Manifest existence is re-checked on
    * every hit so an [[expire]]d version fails loudly, exactly like the
    * uncached read. Bounded LRU of 256 entries. */
  private val scanCache = graft.Tables.pinCache[DataFrame](256)
  private def cachedScan(spark: SparkSession, root: String, tag: String,
      v: Long, manifestBytes: Array[Byte])(build: => DataFrame): DataFrame = {
    val crc = new java.util.zip.CRC32
    crc.update(manifestBytes)
    graft.Tables.pinned(scanCache, spark, s"$root:$tag:v$v",
      java.lang.Long.toHexString(crc.getValue))(build)
  }

  /** Children of `p`, stream CLOSED on exit — every directory walk must
    * use this (an unclosed `Files.list` leaks a file descriptor per call;
    * a long-lived driver expiring per micro-batch would hit EMFILE). */
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** Every path under `p`, children before parents — so deleting in this
    * order empties each directory before it is reached (partitioned
    * generations nest col=value/ dirs, and a crashed write leaves Spark's
    * _temporary/ tree; a flat list would abort half-swept). */
  private def walk(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) listDir(p).flatMap(walk) :+ p else Seq(p)

  /** Versions that have a `v<N>.<kind>` file, ascending. */
  private def versions(root: String, kind: String): Seq[Long] = {
    if (!Files.exists(snapDir(root))) return Nil
    val name = s"v(\\d+)\\.$kind".r
    listDir(snapDir(root)).map(_.getFileName.toString).collect {
      case name(v) => v.toLong
    }.sorted
  }

  /** Write `bytes` to `target` through a temp file and an atomic rename, so
    * a concurrent reader never sees a torn or empty file. */
  private def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.tmp.${ProcessHandle.current().pid()}.${System.nanoTime()}")
    Files.write(tmp, bytes)
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Clear abandoned per-version sidecars before (re)staging version `v`.
    * A writer that crashed between staging and [[swap]] can leave
    * `v<N>.meta` / `.schema` / `.copied` / `.sizes` behind; a LATER
    * statement of a DIFFERENT kind staging the same version number would
    * otherwise silently ADOPT them — a plain commit inheriting a dead COPY
    * INTO's loaded-file ledger permanently skips those landing files, and
    * a plain commit inheriting a dead commitEvo's schema sidecar
    * mis-resolves every later evolution read. Deliberately does NOT touch
    * `v<N>.reserved` (the CAS reservation is exclusive-create by contract —
    * deleting it here would un-serialize a concurrent committer). */
  private def clearStaleSidecars(root: String, v: Long): Unit =
    Seq("meta", "schema", "copied", "sizes")
      .foreach(k => Files.deleteIfExists(sidecar(root, v, k)))

  private def schemaText(fields: Seq[EvoField]): String =
    fields.map(f => s"${f.id},${f.name},${f.typ}").mkString("\n")

  /** The one writer of a version: stages `latest + 1` and returns it,
    * unpublished. The manifest is `carried` (entries that already exist)
    * plus the files `df` writes under the version's data dir — sorted as a
    * whole for a rewrite-shaped commit, otherwise the carried order with
    * the new files after it. `meta` derives the commit metadata from the
    * staged version and its new files once they are written (so a DML
    * command can footer-count them, or refuse them, before anything is
    * published); `schema` and `copied` are the other optional sidecars.
    * Sizes come from `knownSizes` (default: the previous version's
    * sidecar) and a stat for every other entry. A retried stage of the
    * same version re-stages it cleanly. */
  private def stage(root: String, carried: Seq[String], df: DataFrame = null,
      partitionBy: Seq[String] = Nil, sorted: Boolean = false,
      meta: (Long, Seq[String]) => String = (_, _) => null,
      schema: Seq[EvoField] = null, copied: Seq[String] = null,
      knownSizes: Map[String, Long] = null): Long = {
    val latest = latestVersion(root)
    val v = latest.getOrElse(0L) + 1
    val known = Option(knownSizes)
      .getOrElse(latest.map(fileSizes(root, _)).getOrElse(Map.empty))
    clearStaleSidecars(root, v)
    val added = if (df == null) Nil else {
      val dir = dataDir(root, v)
      // a partitioned write clusters rows by the partition columns first:
      // one file per directory instead of one per (task × directory)
      val w = if (partitionBy.isEmpty) df.write
        else df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
          .write.partitionBy(partitionBy: _*)
      w.mode("overwrite").parquet(dir.toString)
      walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Paths.get(root).relativize(_).toString).sorted
    }
    val files = if (sorted) (carried ++ added).sorted else carried ++ added
    val m = meta(v, added)
    Files.createDirectories(snapDir(root))
    def put(kind: String, body: String): Unit = {
      Files.write(sidecar(root, v, kind), body.getBytes(UTF_8)); ()
    }
    if (m != null) put("meta", m)
    if (schema != null) put("schema", schemaText(schema))
    if (copied != null) put("copied", copied.mkString("\n"))
    put("sizes", files.map(f => f -> known.getOrElse(f,
        Files.size(Paths.get(resolveEntry(root, f))))).sortBy(_._1)
      .map { case (f, n) => s"$f\t$n" }.mkString("\n"))
    put("manifest", files.mkString("\n"))
    v
  }

  /** Current committed version, if any commit has completed. */
  def latestVersion(root: String): Option[Long] = {
    val p = snapDir(root).resolve("LATEST")
    if (Files.exists(p)) Some(text(p).trim.toLong) else None
  }

  /** The current committed version; throws when nothing is committed. */
  def currentVersion(root: String): Long = latestVersion(root).getOrElse(
    throw new IllegalStateException(s"no committed snapshot at $root"))

  /** The current manifest, or nothing for a table with no commit yet. */
  private def currentFiles(root: String): Seq[String] =
    latestVersion(root).map(manifestFiles(root, _)).getOrElse(Nil)

  /** Phase 1: write `df` as version `latest + 1`'s data files, manifest and
    * optional commit METADATA (e.g. the streaming batch id this version
    * applied). NOT yet visible to readers — a crash after prepare loses
    * nothing but disk space, and a retried prepare re-stages the same
    * version number cleanly. Returns the staged version number. */
  def prepare(df: DataFrame, root: String, meta: String = null): Long =
    stage(root, Nil, df, meta = (_, _) => meta)

  /** Recorded byte sizes of version `v`'s manifest entries (empty map for
    * tables/versions committed before the sizes sidecar existed). Byte
    * sizes are recorded at commit time, so maintenance planning (OPTIMIZE
    * bin-packing) reads one small file instead of stat-ing every data
    * file. */
  def fileSizes(root: String, v: Long): Map[String, Long] = {
    val p = sidecar(root, v, "sizes")
    if (!Files.exists(p)) Map.empty
    else lines(text(p)).map { line =>
      val i = line.lastIndexOf('\t')
      line.substring(0, i) -> line.substring(i + 1).toLong
    }.toMap
  }

  private def manifestBytes(root: String, v: Long): Array[Byte] = {
    val p = sidecar(root, v, "manifest")
    require(Files.exists(p), s"no snapshot v$v at $root")
    Files.readAllBytes(p)
  }

  /** Root-relative data files of committed/staged version `v` — the
    * manifest contents. A metadata read (one small file), any table size. */
  def manifestFiles(root: String, v: Long): Seq[String] =
    lines(new String(manifestBytes(root, v), UTF_8))

  /** Whether version `v` is still readable (its manifest exists — false
    * once [[expire]] vacuumed it). */
  def versionExists(root: String, v: Long): Boolean =
    Files.exists(sidecar(root, v, "manifest"))

  /** Every listed file must already exist — a manifest naming a missing
    * file would commit a torn table. [[resolveEntry]], not a blind join: a
    * shallow clone's FOREIGN entries are absolute paths into the source's
    * data directory, and file-granular DML legitimately carries them. */
  private def requireEntries(root: String, files: Seq[String]): Unit =
    files.foreach(f => require(Files.exists(Paths.get(resolveEntry(root, f))),
      s"commitFiles: missing data file $f"))

  /** REWRITE commit — the OPTIMIZE/clustering/purge shape: `df`'s files
    * REPLACE the rewritten ones while `carryOver` (root-relative paths from
    * the previous manifest) transfer into the new manifest untouched — zero
    * bytes move for carried files, so compacting the small tail of a 100 TB
    * table costs O(small files), never a table rewrite. `metaFor` derives
    * the commit metadata from the new files. The replaced version stays
    * time-travelable until [[expire]]d (reference-counted, so carried
    * files survive the old version's vacuum). Returns the new version. */
  def commitRewrite(df: DataFrame, root: String, carryOver: Seq[String],
      metaFor: Seq[String] => String = null): Long = {
    requireEntries(root, carryOver)
    swap(root, stage(root, carryOver, df, sorted = true,
      meta = (_, added) => if (metaFor == null) null else metaFor(added)))
  }

  /** The union of every copy commit's `.copied` ledger — the landing-zone
    * files COPY INTO must skip. Ledgers deliberately OUTLIVE [[expire]]:
    * forgetting them at the retention horizon would double-load old
    * landing files. Ledgers of versions ABOVE the current pointer are
    * ignored: they belong to a load that crashed before its swap, whose
    * rows never became visible — counting them would permanently skip
    * (i.e. silently lose) those files; the retried COPY INTO restages the
    * same version number and overwrites the abandoned ledger. */
  def copiedFiles(root: String): Set[String] = {
    val latest = latestVersion(root).getOrElse(0L)
    versions(root, "copied").filter(_ <= latest)
      .flatMap(v => lines(text(sidecar(root, v, "copied")))).toSet
  }

  /** Commit metadata of version `v`, if any was attached. */
  def versionMeta(root: String, v: Long): Option[String] = {
    val p = sidecar(root, v, "meta")
    if (Files.exists(p)) Some(text(p)) else None
  }

  /** `root`'s latest version, after committing `df` as a new one when the
    * latest commit's meta is not `meta` — a derived index kept fresh on its
    * source's fingerprint (the commit meta). */
  def readFresh(spark: SparkSession, root: String, meta: String)(
      df: => DataFrame): DataFrame = {
    if (!latestMeta(root).contains(meta)) commit(df, root, meta)
    read(spark, root)
  }

  /** Commit metadata of the CURRENT version (what LATEST points to). */
  def latestMeta(root: String): Option[String] =
    latestVersion(root).flatMap(versionMeta(root, _))

  /** Phase 2: atomically publish version `v` — the commit point. Returns
    * `v`. */
  def swap(root: String, v: Long): Long = {
    require(versionExists(root, v),
      s"snapshot v$v has no manifest — prepare() it first")
    atomicWrite(snapDir(root).resolve("LATEST"), v.toString.getBytes(UTF_8))
    v
  }

  /** Atomic commit: prepare + swap. Returns the committed version. */
  def commit(df: DataFrame, root: String, meta: String = null): Long =
    swap(root, prepare(df, root, meta))

  /** METADATA-ONLY commit — the REWRITE shape (compaction, deletion-vector
    * purge, rollback): the next version's manifest is exactly `files`
    * (root-relative), typically untouched files CARRIED OVER from the
    * previous version plus freshly written replacements. No carried-over
    * byte moves; the previous version stays time-travelable until
    * [[expire]]d. Every listed file must already exist. */
  def commitFiles(root: String, files: Seq[String], meta: String = null): Long = {
    require(files.nonEmpty, "commitFiles: refusing to commit an empty manifest")
    requireEntries(root, files)
    swap(root, stage(root, files, sorted = true, meta = (_, _) => meta))
  }

  /** APPEND commit: the cheap-write path — only `df`'s NEW files are
    * written; the next version's manifest references the previous
    * manifest's files plus the new ones, so committing a delta to a 100 TB
    * table costs O(delta) I/O and one pointer swap, never a table rewrite.
    * [[expire]] is reference-counted, so vacuuming versions whose files a
    * retained manifest still lists never deletes those files. */
  def append(df: DataFrame, root: String, meta: String = null): Long =
    swap(root, stage(root, currentFiles(root), df, meta = (_, _) => meta))

  /** A DML statement's commit: `df` becomes the next version, appended to
    * the current manifest or replacing it, with metadata `<op>:<n>` where n
    * is the staged rows counted from the new files' footers — the
    * statement's plan runs once, for the write. `check` sees the staged
    * rows before anything is published (the keyed-append guard); a refusal
    * discards the staged version, so a version-addressed read can never
    * serve rows a guard refused. `copied` is COPY INTO's ledger. Returns
    * (version, n). */
  def commitCounted(spark: SparkSession, df: DataFrame, root: String,
      op: String, append: Boolean, copied: Seq[String] = null)(
      check: DataFrame => Unit = _ => ()): (Long, Long) = {
    var n = 0L
    val v = stage(root, if (append) currentFiles(root) else Nil, df,
      copied = copied, meta = { (sv, _) =>
        val staged = spark.read.schema(df.schema).parquet(dataDir(root, sv).toString)
        // the staged-read plan is bound by path, so the refusal collects
        // before the discard deletes those files
        try check(staged)
        catch {
          case e: Throwable =>
            try discardStaged(root, sv) catch { case d: Throwable => e.addSuppressed(d) }
            throw e
        }
        n = staged.count()
        s"$op:$n"
      })
    (swap(root, v), n)
  }

  /** OPTIMISTIC-CONCURRENCY commit for multi-writer tables: succeeds only
    * if the table is still at `baseVersion` (the snapshot this writer read
    * and derived its update from); a concurrent committer makes the loser
    * fail with `ConcurrentModificationException` BEFORE any data is
    * written, so it can re-read the new snapshot, reapply its change, and
    * retry — the rebase loop serializable table formats run.
    *
    * The CAS is version-number reservation: every CAS committer must create
    * `v<base+1>.reserved` with CREATE_NEW semantics, which exactly one
    * writer can win (the filesystem's atomic exclusive-create; an object
    * store uses If-None-Match puts the same way). Because all committers
    * reserve base+1 and version base+2 cannot be reserved until base+1
    * committed, LATEST can only ever move forward by one — no lost updates,
    * no pointer regression. A writer that crashes between reserve and swap
    * leaves a stale reservation that blocks the version slot; recovery
    * deletes `v<N>.reserved` files without a matching manifest (age-gated
    * in production — here [[releaseStaleReservation]]). */
  def commitIfUnchanged(df: DataFrame, root: String, baseVersion: Long,
      meta: String = null): Long = {
    val v = baseVersion + 1
    Files.createDirectories(snapDir(root))
    try Files.createFile(sidecar(root, v, "reserved"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot v$v already reserved or committed at $root — " +
            "re-read the current snapshot and rebase")
    }
    // any failure AFTER the reservation (stale base, a failed Spark write)
    // must release it — otherwise this writer's own RETRY deadlocks on its
    // own reservation with a misleading 'rebase' error, and the version
    // slot stays blocked until a manual releaseStaleReservation
    try {
      require(latestVersion(root).getOrElse(0L) == baseVersion,
        s"base $baseVersion is not the current version — rebase")
      val staged = prepare(df, root, meta)
      // prepare derives latest+1 == v because the reservation serialized us
      require(staged == v, s"staged v$staged but reserved v$v")
      swap(root, v)
    } catch {
      case e: Throwable =>
        try Files.deleteIfExists(sidecar(root, v, "reserved"))
        catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
  }

  /** Recovery for a CAS writer that crashed between reserve and swap:
    * drop reservation markers whose version has no manifest. Returns the
    * released version numbers. */
  def releaseStaleReservation(root: String): Seq[Long] = {
    val stale = versions(root, "reserved").filterNot(versionExists(root, _))
    stale.foreach(v => Files.deleteIfExists(sidecar(root, v, "reserved")))
    stale
  }

  /** Expire old versions — the vacuum that keeps a frequently-committed
    * table (e.g. the i13 streaming sink: one version per micro-batch) from
    * accumulating data forever. Keeps the newest `keepLast` versions fully
    * readable and deletes the data dirs + manifests + metadata of everything
    * older. Deletion order is crash-safe for readers pinned to a RETAINED
    * version: the manifest is removed LAST, after its data files, so a
    * concurrent reader of an expiring version fails cleanly at manifest
    * resolution (or at file open with a clear missing-file error) rather
    * than silently reading a partial snapshot — and LATEST itself is never
    * eligible. Returns the expired version numbers.
    *
    * Scale note: this walks only `_snapshots/` (one entry per version) and
    * unlinks whole version data dirs — metadata-scale driver work, no data
    * read. An object-store deployment would issue the same deletes from the
    * manifest file lists. */
  def expire(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"expire: keepLast must be >= 1 (got $keepLast)")
    val cutoff = currentVersion(root) - keepLast + 1
    val (expiring, retained) = versions(root, "manifest").partition(_ < cutoff)
    // REFERENCE-COUNTED vacuum: append-committed versions share data files
    // with their ancestors, so a file is deletable only when NO retained
    // manifest lists it — delete manifests first (the version stops being
    // readable), then sweep unreferenced files
    val stillReferenced = retained.flatMap(manifestFiles(root, _)).toSet
    // FOREIGN (absolute) entries — a shallow clone's references into its
    // source — are never this table's to delete; see cloneFrom
    val candidates = (expiring.flatMap(manifestFiles(root, _)).toSet -- stillReferenced)
      .filterNot(f => Paths.get(f).isAbsolute)
    expiring.foreach { v =>
      Seq("meta", "reserved", "sizes", "manifest")
        .foreach(k => Files.deleteIfExists(sidecar(root, v, k)))
    }
    candidates.foreach(f => Files.deleteIfExists(Paths.get(root, f)))
    // a version dir goes entirely (incl. _SUCCESS/.crc sidecars) once no
    // retained manifest references any file in it. Walk ALL version dirs
    // below the cutoff — not just this call's `expiring` — because a dir
    // whose own manifest was vacuumed earlier can outlive it while a later
    // append still listed its files, and becomes sweepable only now.
    // Dirs at/above the cutoff (incl. in-flight CAS-reserved writers, which
    // are always > latest) are never touched.
    dataGenerations(root).foreach { case (g, d) =>
      if (g < cutoff && !stillReferenced.exists(_.startsWith(s"data/v$g/")))
        walk(d).foreach(Files.deleteIfExists)
    }
    expiring
  }

  /** The version data dirs on disk: (generation, dir). */
  private def dataGenerations(root: String): Seq[(Long, Path)] = {
    val dataRoot = Paths.get(root, "data")
    val name = "v(\\d+)".r
    if (!Files.exists(dataRoot)) Nil
    else listDir(dataRoot).flatMap(d => d.getFileName.toString match {
      case name(g) => Some(g.toLong -> d)
      case _ => None
    })
  }

  /** ROLLBACK (Delta RESTORE, Iceberg rollback_to_snapshot) — undo a bad
    * commit by committing the GOOD version's manifest again as a NEW
    * version: metadata-only (zero data bytes move, O(manifest) at any
    * table size), and history-preserving — the bad version stays
    * time-travelable for forensics until [[expire]]d, which is what
    * distinguishes rollback from a destructive pointer reset. Returns the
    * new version number. */
  def rollbackTo(root: String, v: Long): Long =
    commitFiles(root, manifestFiles(root, v), meta = s"rollback:$v")

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolving hidden partitioning) —
    * each generation writes under its OWN partition layout, recorded in the
    * version metadata as `partspec:<col,...>`; old files never move when
    * the spec changes (a repartition-the-world rewrite is exactly what the
    * feature exists to avoid at 100 TB). Readers resolve the spec per
    * generation via [[partitionedGenerations]] and translate their data
    * predicate to each generation's partition columns — coarse pruning on
    * the old layout, fine pruning on the new, both served by the ordinary
    * partition-directory file index. */
  def commitPartitioned(df: DataFrame, root: String, cols: Seq[String]): Long =
    swap(root, stage(root, Nil, df, partitionBy = cols,
      meta = (_, _) => s"partspec:${cols.mkString(",")}"))

  /** Partitioned APPEND: the delta lands under the NEW spec while every
    * carried-over file stays in its original generation's layout. */
  def appendPartitioned(df: DataFrame, root: String, cols: Seq[String]): Long =
    swap(root, stage(root, currentFiles(root), df, partitionBy = cols,
      meta = (_, _) => s"partspec:${cols.mkString(",")}"))

  /** The current snapshot's files grouped by GENERATION with each
    * generation's partition spec and its data dir (the `basePath` a
    * partition-discovering read needs): (generation, spec columns, files,
    * base path). Metadata-scale — one manifest + one meta read per
    * generation. */
  def partitionedGenerations(
      root: String): Seq[(Long, Seq[String], Seq[String], String)] =
    manifestFiles(root, currentVersion(root)).groupBy(entryGeneration)
      .toSeq.sortBy(_._1)
      .map { case (g, fs) =>
        val spec = versionMeta(root, g)
          .filter(_.startsWith("partspec:"))
          .map(_.stripPrefix("partspec:").split(",").filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        (g, spec, fs, dataDir(root, g).toString)
      }

  /** ORPHAN-FILE SWEEP (Iceberg's `remove_orphan_files`, Delta VACUUM's
    * untracked-file half) — the maintenance verb [[expire]] cannot cover:
    * expire deletes files the manifests STOP referencing; this deletes
    * files the manifests NEVER referenced. Two ways a table accrues them:
    *
    *  1. task-retry debris — a speculative/failed task's part-file landed
    *     in a committed version's data dir but the committing writer's
    *     manifest (the authoritative file list) never included it;
    *  2. abandoned staging — a writer crashed before [[swap]], leaving
    *     metadata files and a data dir ABOVE latest that no reader can
    *     ever see (a retried stage would overwrite them, but a writer that
    *     never returns leaves them forever) — whether or not it got as far
    *     as its manifest.
    *
    * Sweeps (1) as any unreferenced `*.parquet` under a live version's data
    * dir (checksum sidecars of a swept file go with it; `_SUCCESS`/sidecars
    * of LIVE files are untouched — manifests list only parquet), and (2)
    * as every metadata file of every kind and every data dir above latest.
    * Production age-gates both sweeps (a writer may be mid-commit); the
    * caller contract here is "run with no writer in flight" — same as
    * [[releaseStaleReservation]]. Metadata-scale: one `_snapshots/` read
    * plus one `data/` walk, no data bytes read. Idempotent. Returns
    * root-relative deleted paths, sorted. */
  def removeOrphans(root: String): Seq[String] = {
    val latest = currentVersion(root)
    val kinds = Seq("manifest", "meta", "schema", "copied", "sizes", "reserved")
    val staged = kinds.flatMap(versions(root, _)).distinct.filter(_ > latest)
    val referenced = versions(root, "manifest").filter(_ <= latest)
      .flatMap(manifestFiles(root, _)).toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    val rootPath = Paths.get(root)
    def rel(p: Path) = rootPath.relativize(p).toString
    // (2) abandoned staging: nothing at a version above LATEST is reachable
    staged.foreach { v =>
      kinds.foreach { k =>
        val p = sidecar(root, v, k)
        if (Files.deleteIfExists(p)) deleted += rel(p)
      }
    }
    dataGenerations(root).foreach { case (g, d) =>
      if (g > latest) walk(d).foreach { f =>
        if (!Files.isDirectory(f)) deleted += rel(f)
        Files.deleteIfExists(f)
      } else {
        // (1) task debris anywhere inside a live version dir (the live
        // generation itself may be partitioned into subdirectories)
        walk(d).filterNot(Files.isDirectory(_))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .filterNot(f => referenced(rel(f)))
          .foreach { f =>
            Files.deleteIfExists(f)
            deleted += rel(f)
            val crc = f.getParent.resolve(s".${f.getFileName}.crc")
            if (Files.deleteIfExists(crc)) deleted += rel(crc)
          }
      }
    }
    deleted.toSeq.sorted
  }

  /** Resolve a manifest entry: entries are root-relative except FOREIGN
    * (absolute) entries written by [[cloneFrom]] — a shallow clone's
    * manifest points into its source's data directory. */
  def resolveEntry(root: String, f: String): String =
    if (Paths.get(f).isAbsolute) f else Paths.get(root, f).toString

  /** SHALLOW CLONE — the zero-copy table copy (Delta's CLONE, Iceberg
    * snapshot refs): the clone's v1 manifest lists the source's CURRENT
    * data files by absolute path, so creating it is O(manifest) regardless
    * of table size — no data file is read or copied. Both tables then
    * evolve independently: commits to the clone write under the clone's
    * own root; the source never learns the clone exists. The clone's
    * [[expire]] never deletes foreign files (they are the source's to
    * vacuum — production formats track this with a retention lease; the
    * fixture discipline is that a cloned source outlives its clones).
    * Shallow clones cover PLAIN tables; field-id-evolved tables need a
    * deep clone (readEvo refuses foreign entries — its generation numbers
    * and schema sidecars are root-local). Returns the clone's committed
    * version (1). */
  def cloneFrom(srcRoot: String, dstRoot: String): Long = {
    val sv = currentVersion(srcRoot)
    val src = Paths.get(srcRoot).toAbsolutePath
    // the clone carries byte sizes too (copied from the source's sidecar,
    // stat fallback) — maintenance planning on the clone stays metadata
    swap(dstRoot, stage(dstRoot,
      manifestFiles(srcRoot, sv).map(src.resolve(_).toString), sorted = true,
      knownSizes = fileSizes(srcRoot, sv).map { case (f, n) =>
        src.resolve(f).toString -> n }))
  }

  /** Read a subset of manifest entries (foreign shallow-clone entries
    * resolved) under one uniform physical schema — the non-evolved
    * maintenance read. */
  def readFiles(spark: SparkSession, root: String,
      files: Seq[String]): DataFrame =
    spark.read.parquet(files.map(resolveEntry(root, _)): _*)

  /** Current-version manifest sizes with foreign entries resolved — the
    * DESCRIBE DETAIL read: sidecar first, one stat per missing entry. */
  def currentSizes(root: String): Seq[(String, Long)] = {
    val v = currentVersion(root)
    val known = fileSizes(root, v)
    manifestFiles(root, v).map(f =>
      f -> known.getOrElse(f, Files.size(Paths.get(resolveEntry(root, f)))))
  }

  /** The generation of a manifest entry — the version that wrote it (its
    * data dir), which decides the schema sidecar governing its physical
    * column names; 0 for foreign (cloned) entries. */
  def entryGeneration(f: String): Long =
    "data/v(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toLong).getOrElse(0L)

  /** `target`'s columns resolved BY FIELD ID against columns named per
    * `from` — renamed columns come back under target names, widened types
    * upcast, later-added columns NULL-fill, dropped ones vanish. */
  private def byFieldId(from: Seq[EvoField], target: Seq[EvoField]): Seq[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    val byId = from.map(f => f.id -> f).toMap
    target.map { cf =>
      byId.get(cf.id) match {
        case Some(pf) => col(pf.name).cast(cf.typ).as(cf.name)
        case None => lit(null).cast(cf.typ).as(cf.name)
      }
    }
  }

  /** Read a SUBSET of an evolved table's files, each generation resolved
    * to `current` by field id (the readEvo projection restricted to a file
    * list) — what OPTIMIZE needs to rewrite mixed-generation files without
    * corrupting renamed/widened columns. */
  def readFilesEvo(spark: SparkSession, root: String,
      files: Seq[String], current: Seq[EvoField]): DataFrame =
    files.groupBy(entryGeneration).toSeq.sortBy(_._1).map { case (w, fs) =>
      spark.read.parquet(fs.map(resolveEntry(root, _)): _*)
        .select(byFieldId(schemaAt(root, w).getOrElse(current), current): _*)
    }.reduce(_.unionByName(_))

  /** Read a specific committed (or prepared) version — time travel. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val bytes = manifestBytes(root, v)
    cachedScan(spark, root, "flat", v, bytes) {
      val entries = lines(new String(bytes, UTF_8))
      // a PARTITIONED generation stores its partition columns in directory
      // names, not file footers — a flat file-list read would silently DROP
      // those columns (and a DML rewrite would then commit the loss). Refuse
      // loudly; the generation-aware reader owns this layout.
      require(!entries.exists(_.matches(".*/[^/]+=[^/]*/.*")),
        s"snapshot v$v at $root has partitioned-generation data files — " +
          "read via partitionedGenerations (the per-generation spec decides " +
          "the partition columns; a flat file read would silently drop them)")
      spark.read.parquet(entries.map(resolveEntry(root, _)): _*)
    }
  }

  /** Read the current snapshot with SCHEMA MERGING — the ADD-COLUMN
    * evolution read path: files committed before the column existed simply
    * lack it in their footer, and the reader null-fills them against the
    * union schema (exactly how Delta/Iceberg serve add-column evolution —
    * old data files are NEVER rewritten; the schema lives with the reader).
    * Spark's parquet `mergeSchema` does the footer union in a distributed
    * job, so at 100 TB the cost is one footer read per file — metadata
    * scale — not a data pass; steady-state deployments cache the merged
    * schema in the manifest instead (here the manifest stays a file list
    * and the union is recomputed, which the fixture sizes price at ~ms). */
  def readEvolved(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root)
    val bytes = manifestBytes(root, v)
    // cached like readVersion — mergeSchema additionally prices a
    // distributed footer-union job per call, so the resolution saving is
    // even larger here (the add-column CHANGES feeds re-read per sub-window)
    cachedScan(spark, root, "merged", v, bytes) {
      spark.read.option("mergeSchema", "true")
        .parquet(lines(new String(bytes, UTF_8)).map(resolveEntry(root, _)): _*)
    }
  }

  /** Read the current snapshot (what LATEST points to). */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, currentVersion(root))

  // ---- field-id schema evolution (rename / widen / drop / add) ----------

  /** The evolution schema in effect at version `v`: the newest schema
    * sidecar committed at or before `v` (versions without a sidecar inherit
    * their predecessor's — only schema CHANGES write one). */
  def schemaAt(root: String, v: Long): Option[Seq[EvoField]] =
    versions(root, "schema").filter(_ <= v).lastOption.map { sv =>
      lines(text(sidecar(root, sv, "schema"))).map { line =>
        val Array(id, name, typ) = line.split(",", 3)
        EvoField(id.toInt, name, typ)
      }
    }

  /** [[commit]] carrying an evolution schema: `df`'s physical columns are
    * `fields`' names at THIS version. */
  def commitEvo(df: DataFrame, root: String, fields: Seq[EvoField]): Long =
    swap(root, stage(root, Nil, df, schema = fields))

  /** [[append]] that also evolves the schema: `fields` is the NEW current
    * schema (same field ids, possibly renamed / widened / dropped / added
    * columns); previous generations' files are untouched — their bytes stay
    * identical, which is the whole point of metadata-level evolution. */
  def appendEvo(df: DataFrame, root: String, fields: Seq[EvoField]): Long =
    swap(root, stage(root, currentFiles(root), df, schema = fields))

  /** Evolution-aware read: every file generation is read under ITS OWN
    * physical schema (the sidecar in effect at its write version) and
    * resolved to the CURRENT schema by field id — renamed columns come back
    * under their new name, narrower generations upcast to the widened type,
    * dropped columns vanish, later-added columns null-fill. One scan job
    * per schema GENERATION (bounded by the number of schema changes, never
    * by file count), unioned by name — at 100 TB this plans as a handful of
    * parquet scans with per-scan projections, no data rewrite ever. */
  def readEvo(spark: SparkSession, root: String): DataFrame =
    readEvoAt(spark, root, currentVersion(root))

  /** [[readEvo]] at a specific version — evolution-aware TIME TRAVEL: the
    * manifest AND the schema both resolve as of `v`, so a read of the
    * pre-rename version comes back under the old column name (exactly what
    * `VERSION AS OF` means on an evolving table). */
  def readEvoAt(spark: SparkSession, root: String, v: Long): DataFrame = {
    val current = schemaAt(root, v).getOrElse(
      throw new IllegalStateException(s"no evolution schema at $root as of v$v"))
    val files = manifestFiles(root, v)
    // same refusal as readVersion: a partitioned generation keeps columns
    // in DIRECTORY names — a flat file read would silently drop them
    require(!files.exists(_.matches(".*/[^/]+=[^/]*/.*")),
      s"snapshot v$v at $root has partitioned-generation data files — " +
        "field-id evolution does not compose with partition-spec layouts")
    // field-id evolution keys the physical schema on THIS table's version
    // number in each entry's path, and the sidecars live under THIS root —
    // a shallow clone's foreign entries would resolve generation numbers
    // against the SOURCE's history. Evolution across a clone needs a deep
    // clone (or sidecar copy); refuse loudly rather than mis-resolve.
    require(!files.exists(f => Paths.get(f).isAbsolute),
      s"readEvo: $root has foreign (cloned) manifest entries — " +
        "field-id evolution does not compose with shallow clones")
    readFilesEvo(spark, root, files, current)
  }

  /** Whether the table has field-id evolution metadata in effect at its
    * current version (the switch between the plain and evolved read path). */
  def hasEvoSchema(root: String): Boolean =
    latestVersion(root).exists(schemaAt(root, _).isDefined)

  /** The evolution schema at the current version, BOOTSTRAPPING it from the
    * physical parquet schema if the table predates evolution: ids are
    * assigned 1..n in field order and the sidecar lands at the EARLIEST
    * version (v1) — before the first schema change every generation shares
    * one physical schema, so the retroactive sidecar describes what is
    * already physically true for ALL of them (writing it at the current
    * version instead would leave older generations resolving to the
    * post-ALTER schema). The one metadata write outside [[stage]] (it adds
    * no version), so it lands by atomic rename: a concurrent reader never
    * parses a torn schema. Idempotent; the ALTER TABLE entry point. */
  def ensureEvoSchema(spark: SparkSession, root: String): Seq[EvoField] =
    schemaAt(root, currentVersion(root)).getOrElse {
      val fields = read(spark, root).schema.fields.toSeq.zipWithIndex.map {
        case (f, i) => EvoField(i + 1, f.name, f.dataType.catalogString)
      }
      atomicWrite(sidecar(root, 1L, "schema"), schemaText(fields).getBytes(UTF_8))
      fields
    }

  /** METADATA-ONLY schema-change commit (SQL ALTER TABLE): the next version
    * carries the CURRENT manifest unchanged plus the new schema sidecar —
    * zero data bytes move at any table size; old generations resolve their
    * own physical schema by field id at read time. */
  def commitSchemaChange(root: String, fields: Seq[EvoField],
      meta: String): Long =
    swap(root, stage(root, manifestFiles(root, currentVersion(root)),
      schema = fields, meta = (_, _) => meta))


  /** ROW-LEVEL CHANGE FEED between two committed versions (Delta's
    * `table_changes`, keyless): what a downstream consumer replays to
    * bring a derived table current without rescanning the source. Output
    * schema = the table's columns + `_change_type` ('insert'/'delete') +
    * `_n` (the multiset multiplicity of that row-shape's change).
    *
    * Two physical paths, chosen by LINEAGE:
    *  - APPEND lineage (v1's manifest ⊆ v2's — what INSERT/COPY INTO
    *    produce): the changes are exactly the delta files' rows, so the
    *    feed costs **O(delta)** — one scan of the new files, no diff, at
    *    any table size. This is the path a 100 TB append-mostly table
    *    serves from.
    *  - REWRITE lineage (UPDATE/DELETE/MERGE/OPTIMIZE rewrote files): a
    *    grouped multiset diff — both versions aggregate by ALL columns
    *    (null-safe) and the count difference per row-shape emits as
    *    insert/delete. O(v1 + v2), inherent to keyless CDC across a
    *    rewrite (a keyed table would use its key; OPTIMIZE-style pure
    *    re-layouts diff to zero rows, correctly).
    *
    * A window that CROSSES a schema change splits at every boundary and
    * projects each sub-window to the v2 schema by field id
    * ([[changesEvolving]]) — additive evolution only; DROP/narrowing
    * crossings refuse. */
  def changesBetween(spark: SparkSession, root: String, v1: Long,
      v2: Long): DataFrame = {
    require(v1 <= v2, s"CHANGES BETWEEN $v1 AND $v2: versions out of order")
    if (schemaAt(root, v1) == schemaAt(root, v2))
      changesWindow(spark, root, v1, v2)
    else changesEvolving(spark, root, v1, v2)
  }

  /** One same-schema window of the change feed — the original m42 kernel:
    * append lineage reads only the delta files (O(delta)); a rewrite takes
    * the grouped null-safe multiset diff (O(v1 + v2), inherent to keyless
    * CDC across a rewrite). */
  private def changesWindow(spark: SparkSession, root: String, v1: Long,
      v2: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val b = readVersionCurrent(spark, root, v2)
    val cols = b.columns.toSeq
    // v1 = 0 is the EMPTY table (the stream's first window — the table's
    // birth): every v2 row is an insert, read generation-aware
    if (v1 == 0L)
      return b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n"))
        .withColumn("_change_type", lit("insert"))
        .select(cols.map(col) ++ Seq(col("_change_type"), col("_n")): _*)
    val f1 = manifestFiles(root, v1)
    val f2 = manifestFiles(root, v2)
    val delta = f2.filterNot(f1.toSet)
    // the fast path needs every DELTA file's physical schema to BE the
    // window's schema: ordinarily true (the window's commits wrote them
    // under the constant schema the require above pins), but a RESTORE
    // can re-add files from a pre-evolution generation — those must take
    // the field-id diff path, not a forced-name read that would NULL-fill
    // renamed columns
    val windowSchema = schemaAt(root, v2)
    val deltaSameSchema = windowSchema match {
      case Some(_) =>
        delta.forall(f => schemaAt(root, entryGeneration(f)) == windowSchema)
      case None =>
        // PLAIN table: no sidecar pins the physical schema, so a reshaped
        // append (library-level misuse — the SQL surface always aligns)
        // must be detected from the delta FOOTERS: a forced-name read
        // would silently NULL-fill renamed/missing columns, and the
        // multiset fallback's un-merged multi-file read is just as
        // unsound — refuse loudly instead
        delta.isEmpty || {
          val ft = spark.read.option("mergeSchema", "true")
            .parquet(delta.map(resolveEntry(root, _)): _*)
            .schema.fields.map(f => f.name -> f.dataType).toMap
          val want = b.schema.fields.map(f => f.name -> f.dataType).toMap
          require(ft == want,
            s"CHANGES BETWEEN $v1 AND $v2: the delta files' physical " +
              "schema differs from the table's, and the table has no " +
              "field-id evolution metadata — the diff is not well-defined; " +
              "evolve schemas through ALTER TABLE (schema sidecars)")
          true
        }
    }
    if (f1.toSet.subsetOf(f2.toSet) && deltaSameSchema) {
      if (delta.isEmpty)
        return b.limit(0)
          .withColumn("_change_type", lit(""))
          .withColumn("_n", lit(0L))
      spark.read.schema(b.schema)
        .parquet(delta.map(resolveEntry(root, _)): _*)
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("_n"))
        .withColumn("_change_type", lit("insert"))
        .select(cols.map(col) ++ Seq(col("_change_type"), col("_n")): _*)
    } else {
      val a = readVersionCurrent(spark, root, v1)
      val ga = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__na"))
        .select(cols.map(c => col(c).as(s"__a_$c")) :+ col("__na"): _*)
      val gb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__nb"))
      // null-safe equality on every column: NULL is an identity for
      // multiset membership, not a non-match
      val joined = gb.join(ga,
        cols.map(c => col(c) <=> col(s"__a_$c")).reduce(_ && _), "full_outer")
      val delta = coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L))
      joined
        .withColumn("__delta", delta)
        .filter(col("__delta") =!= 0)
        .select(cols.map(c => coalesce(col(c), col(s"__a_$c")).as(c)) ++ Seq(
          when(col("__delta") > 0, "insert").otherwise("delete")
            .as("_change_type"),
          abs(col("__delta")).as("_n")): _*)
    }
  }

  /** Read a manifest-entry subset under the table's CURRENT schema — the
    * generation-aware twin of [[readFiles]], used by file-granular DML and
    * the keyed change feed. */
  def readFilesCurrent(spark: SparkSession, root: String,
      files: Seq[String]): DataFrame =
    if (hasEvoSchema(root)) readFilesEvo(spark, root, files,
      ensureEvoSchema(spark, root))
    else readFiles(spark, root, files)

  /** DECLARED PRIMARY KEY of the table (the m43 keyed-CDC contract): a
    * metadata sidecar (`_snapshots/table.key` — line 1 the comma-separated
    * lowercase column names, line 2 `@declared:<version>`, the version the
    * key was VALIDATED against). Uniqueness/non-nullness is validated when
    * the key is declared (one aggregation pass) and is the WRITER'S
    * CONTRACT afterwards: a MERGE whose ON keys equal the declared key
    * enforces it in-plan, and keyed INSERT/COPY INTO refuse within-batch
    * duplicate/NULL keys (plus optional table-collision probing under
    * `spark.graft.validateKeyOnAppend`) — but an UPDATE of key columns or
    * a differently-keyed MERGE can still violate it, like every lakehouse
    * that does not revalidate constraints per write. The feed never
    * revalidates globally (that would cost O(table) per read). */
  def declaredKey(root: String): Option[Seq[String]] = {
    val p = snapDir(root).resolve("table.key")
    if (!Files.exists(p)) None
    else Some(text(p).linesIterator
      .toSeq.headOption.getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** The version the declared key was VALIDATED against (0 for sidecars
    * predating the marker): uniqueness is only known to hold from here on,
    * so CHANGES windows STARTING before it must not use the keyed diff —
    * duplicate keys in pre-declaration history would fan out the key join
    * and silently emit wrong preimage/postimage multiplicities. */
  def keyDeclaredAt(root: String): Long = {
    val p = snapDir(root).resolve("table.key")
    if (!Files.exists(p)) 0L
    else text(p).linesIterator
      .find(_.startsWith("@declared:"))
      .map(_.stripPrefix("@declared:").trim.toLong).getOrElse(0L)
  }

  /** Whether window-start `v1` may serve the KEYED diff: a key is declared
    * and `v1` is at-or-after the version it was validated against. */
  def keyedFeedApplies(root: String, v1: Long): Boolean =
    declaredKey(root).isDefined && v1 >= keyDeclaredAt(root)

  /** Declare (or replace) the table's primary key after validating that
    * the CURRENT version is unique and non-null on it. The sidecar records
    * that version (see [[keyDeclaredAt]]) and lands via stage+ATOMIC_MOVE —
    * the repo's pointer-swap discipline, so a concurrent reader can never
    * observe a torn/empty key file and silently route the keyless feed. */
  def declareKey(spark: SparkSession, root: String, keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val t = readCurrent(spark, root)
    keys.foreach(k => require(t.columns.exists(_.equalsIgnoreCase(k)),
      s"SET KEY: unknown column $k"))
    val kc = keys.map(col)
    val bad = t.groupBy(kc: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1 || kc.map(_.isNull).reduce(_ || _))
      .limit(1).collect()
    require(bad.isEmpty,
      s"SET KEY (${keys.mkString(", ")}): the current version has a " +
        s"duplicate or NULL key (e.g. ${bad.headOption.getOrElse("")}) — " +
        "a declared key must be unique and non-null")
    atomicWrite(snapDir(root).resolve("table.key"), (keys.map(_.toLowerCase)
      .mkString(",") + s"\n@declared:${latestVersion(root).getOrElse(0L)}")
      .getBytes(UTF_8))
  }

  /** Rename a column INSIDE the declared key (the ALTER TABLE RENAME
    * companion): rewrites `table.key` under the new name, PRESERVING the
    * recorded declaration version — the column's identity (field id) did
    * not change, so the validation still stands. Atomic like
    * [[declareKey]]. No-op when no key is declared or the column is not
    * part of it. */
  def renameDeclaredKeyColumn(root: String, from: String, to: String): Unit =
    declaredKey(root).foreach { keys =>
      if (keys.exists(_.equalsIgnoreCase(from))) {
        val next = keys.map(k =>
          if (k.equalsIgnoreCase(from)) to.toLowerCase else k)
        atomicWrite(snapDir(root).resolve("table.key"),
          (next.mkString(",") + s"\n@declared:${keyDeclaredAt(root)}").getBytes(UTF_8))
      }
    }

  /** KEYED row-level change feed (m43 — Delta's CDF with row tracking):
    * when the table has a [[declaredKey]], changes between two versions
    * diff ONLY the rewritten files — `removed = v1 ∖ v2` holds every
    * changed key's preimage, `added = v2 ∖ v1` every postimage, and a key
    * whose row moved files unchanged cancels out — so the feed costs
    * O(rewritten files) at ANY table size, never O(v1 + v2) like the
    * keyless multiset diff (untouched files are never read; with
    * file-granular UPDATE/DELETE the rewritten set IS the touched rows'
    * files). Output = the table's columns + `_change_type`
    * ('insert'/'delete'/'update_preimage'/'update_postimage') + `_n`
    * (always 1 — keys are unique; kept for shape-compatibility with the
    * keyless feed). A window crossing a schema change splits at every
    * ALTER boundary and projects each keyed sub-window to the v2 schema by
    * field id, exactly like [[changesBetween]] (additive evolution only —
    * DROP/narrowing crossings refuse). Correctness is ENDPOINT semantics
    * (net change between v1 and v2), exactly like Delta CDF over a version
    * range. */
  def keyedChangesBetween(spark: SparkSession, root: String, v1: Long,
      v2: Long): DataFrame = {
    require(declaredKey(root).isDefined,
      s"keyedChangesBetween: $root has no declared key")
    require(v1 <= v2, s"CHANGES BETWEEN $v1 AND $v2: versions out of order")
    // the key was validated at declaration time only — a window STARTING
    // in pre-declaration history may hold duplicate keys, which would fan
    // out the key join and emit wrong multiplicities silently; such windows
    // route to the keyless multiset diff at the call sites
    require(v1 >= keyDeclaredAt(root),
      s"keyedChangesBetween: window start v$v1 predates the key " +
        s"declaration (validated at v${keyDeclaredAt(root)}) — uniqueness " +
        "is unknown there; use the keyless feed")
    // a window that CROSSES a schema change splits at every ALTER boundary
    // and projects each keyed sub-window to the v2 schema by field id —
    // the m43×m44 composition (r20); same-schema windows take the direct
    // kernel below
    if (v1 != 0 && schemaAt(root, v1) != schemaAt(root, v2))
      return changesEvolvingWith(spark, root, v1, v2, keyed = true)
    keyedChangesWindow(spark, root, v1, v2)
  }

  /** One same-schema window of the KEYED feed — the m43 kernel (see
    * [[keyedChangesBetween]] for the contract and cost model). The declared
    * key columns resolve BY NAME against the window-end schema; a key
    * column renamed after declaration refuses loudly (re-declare the key
    * under the new name) rather than mis-joining. */
  private def keyedChangesWindow(spark: SparkSession, root: String, v1: Long,
      v2: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = declaredKey(root).getOrElse(throw new IllegalStateException(
      s"keyedChangesBetween: $root has no declared key"))
    val cur = readVersionCurrent(spark, root, v2)
    val cols = cur.columns.toSeq
    val f1 = if (v1 == 0) Seq.empty[String] else manifestFiles(root, v1)
    val f2 = manifestFiles(root, v2)
    val removed = f1.filterNot(f2.toSet)
    val added = f2.filterNot(f1.toSet)
    if (removed.isEmpty && added.isEmpty)
      return cur.limit(0)
        .withColumn("_change_type", lit("")).withColumn("_n", lit(0L))
    // resolve file subsets to the schema AT v2 (the window's schema), not
    // the table's LATEST — an ALTER committed after v2 must not re-shape a
    // historical feed
    def side(files: Seq[String]): DataFrame =
      if (files.isEmpty) cur.limit(0)
      else schemaAt(root, v2) match {
        case Some(fields) => readFilesEvo(spark, root, files, fields)
        case None => readFiles(spark, root, files)
      }
    val keyCols = keys.map(k => cols.find(_.equalsIgnoreCase(k)).getOrElse(
      throw new IllegalStateException(
        s"keyedChangesBetween: declared key column $k missing from schema")))
    val nonKey = cols.filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
    if (removed.isEmpty) {
      // pure append: every added row is an insert — O(delta), no join
      side(added)
        .withColumn("_change_type", lit("insert")).withColumn("_n", lit(1L))
        .select(cols.map(col) ++ Seq(col("_change_type"), col("_n")): _*)
    } else {
      val old = side(removed)
        .select(cols.map(c => col(c).as(s"__o_$c")): _*)
      val neu = side(added)
      // the key join: unique keys ⇒ at most one row per key per side
      val cond = keyCols.map(k => col(k) <=> col(s"__o_$k")).reduce(_ && _)
      val j = neu.withColumn("__graft_new_present", lit(true))
        .join(old.withColumn("__graft_old_present", lit(true)), cond, "full_outer")
      val rowChanged = nonKey.map(c =>
        !(col(c) <=> col(s"__o_$c"))).reduceOption(_ || _).getOrElse(lit(false))
      val ct = when(col("__graft_old_present").isNull, lit("insert"))
        .when(col("__graft_new_present").isNull, lit("delete"))
        .when(rowChanged, lit("update"))
      j.withColumn("_ct", ct).filter(col("_ct").isNotNull)
        // updates explode into preimage + postimage rows (the Delta CDF
        // shape); inserts/deletes carry their own side's values
        .select(
          explode(when(col("_ct") === "update",
            array(lit("update_preimage"), lit("update_postimage")))
            .otherwise(array(col("_ct")))).as("_change_type"),
          struct(cols.map(col): _*).as("__new"),
          struct(cols.map(c => col(s"__o_$c").as(c)): _*).as("__old"))
        .select(cols.map(c =>
          when(col("_change_type").isin("insert", "update_postimage"),
            col(s"__new.$c")).otherwise(col(s"__old.$c")).as(c)) ++
          Seq(col("_change_type"), lit(1L).as("_n")): _*)
    }
  }

  /** SCHEMA-CROSSING change feed (m44, closing the r18 verdict's "what's
    * missing #5"): when the window straddles ALTER TABLE commits, split it
    * at every schema boundary, serve each sub-window under ITS generation
    * with the m42 kernel, and PROJECT each piece to the v2 schema by FIELD
    * ID — pre-ALTER preimages come back under renamed names, upcast to
    * widened types, and NULL-filled on added columns (the Delta
    * `schemaTrackingLocation` answer). ADDITIVE evolution only: a window
    * crossing a DROP refuses (the dropped column's values cannot be
    * replayed), as does one crossing a narrowing (ALTER itself only widens,
    * but a foreign sidecar could lie). A boundary version that both
    * rewrote files AND changed schema refuses — that diff is not
    * well-defined; metadata-only ALTERs (the SQL path) and appendEvo
    * deltas (new files under the new schema) both serve cleanly. */
  private def changesEvolving(spark: SparkSession, root: String, v1: Long,
      v2: Long): DataFrame =
    changesEvolvingWith(spark, root, v1, v2, keyed = false)

  /** The generalized schema-crossing kernel: `keyed = true` runs the m43
    * KEYED diff per sub-window instead of the keyless multiset kernel (the
    * m43×m44 composition, r20) — each sub-window diffs only exchanged
    * files under ITS generation and the pre/postimage rows project to the
    * v2 schema by field id; same refusal matrix either way. */
  private def changesEvolvingWith(spark: SparkSession, root: String, v1: Long,
      v2: Long, keyed: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val target = schemaAt(root, v2).getOrElse(throw new IllegalArgumentException(
      s"CHANGES BETWEEN $v1 AND $v2 crosses a schema change — the diff " +
        "is only well-defined under one schema (read each side explicitly)"))
    schemaAt(root, v1).foreach { from =>
      evolutionRefusal(from, target).foreach(r =>
        throw new IllegalArgumentException(
          s"CHANGES BETWEEN $v1 AND $v2 crosses a $r — old values cannot " +
            s"be replayed under the v$v2 schema (read each side explicitly)"))
    }
    val tgtCols = target.map(_.name)
    // project a sub-window's feed (columns named per generation `wEnd`) to
    // the v2 schema by field id; the feed's _change_type/_n pass through
    def project(df: DataFrame, wEnd: Long): DataFrame =
      projectFeedTo(df, root, wEnd, target)
    def window(lo: Long, hi: Long): DataFrame =
      if (keyed) keyedChangesWindow(spark, root, lo, hi)
      else changesWindow(spark, root, lo, hi)
    // a boundary version's own delta (b-1, b]: empty for the metadata-only
    // SQL ALTER (manifest carried), the appended files for appendEvo —
    // readFilesEvo resolves them straight to the target schema (keyed
    // tables emit one _n=1 insert per row, the m43 shape; keyless ones the
    // grouped multiset shape)
    def boundary(b: Long): Option[DataFrame] = {
      val fPrev =
        if (b - 1 == 0) Seq.empty[String] else manifestFiles(root, b - 1)
      val fB = manifestFiles(root, b)
      require(fPrev.toSet.subsetOf(fB.toSet),
        s"CHANGES BETWEEN $v1 AND $v2: version $b rewrote files WHILE " +
          "changing schema — that diff is not well-defined (read each " +
          "side explicitly)")
      val delta = fB.filterNot(fPrev.toSet)
      if (delta.isEmpty) None
      else if (keyed) Some(readFilesEvo(spark, root, delta, target)
        .withColumn("_change_type", lit("insert")).withColumn("_n", lit(1L))
        .select(tgtCols.map(col) ++ Seq(col("_change_type"), col("_n")): _*))
      else Some(readFilesEvo(spark, root, delta, target)
        .groupBy(tgtCols.map(col): _*).agg(count(lit(1)).as("_n"))
        .withColumn("_change_type", lit("insert"))
        .select(tgtCols.map(col) ++ Seq(col("_change_type"), col("_n")): _*))
    }
    // only REAL schema changes are boundaries: commitEvo/appendEvo may
    // re-write a content-identical sidecar every batch, and splitting (or
    // refusing a rewrite) at a version whose schema did not actually
    // change would be spurious
    val bounds = versions(root, "schema").filter(b =>
      b > v1 && b <= v2 && schemaAt(root, b) != schemaAt(root, b - 1))
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var lo = v1
    bounds.foreach { b =>
      if (b - 1 > lo) pieces += project(window(lo, b - 1), b - 1)
      boundary(b).foreach(pieces += _)
      lo = b
    }
    if (v2 > lo) pieces += project(window(lo, v2), v2)
    pieces.reduceOption(_.unionByName(_)).getOrElse(
      readVersionCurrent(spark, root, v2).limit(0)
        .withColumn("_change_type", lit("")).withColumn("_n", lit(0L)))
  }

  /** Why evolving `from` → `to` is NOT additive (None when it is): every
    * surviving field must keep its id with an equal or widened type — a
    * DROP or narrowing makes old rows non-replayable under `to`. The
    * shared gate of the schema-crossing feeds and the streaming CDF's
    * checkpoint re-pin (schema tracking, r20). */
  def evolutionRefusal(from: Seq[EvoField], to: Seq[EvoField]): Option[String] = {
    def parse(t: String) =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)
    from.iterator.map { f =>
      to.find(_.id == f.id) match {
        case None => Some(s"DROP of column ${f.name}")
        case Some(t) if f.typ != t.typ &&
            !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
              parse(f.typ), parse(t.typ)) =>
          Some(s"NARROWING of column ${f.name} (${f.typ} -> ${t.typ})")
        case _ => None
      }
    }.collectFirst { case Some(r) => r }
  }

  /** Project a change-feed frame whose TABLE columns follow the schema in
    * effect at version `asOf` to `target` by FIELD ID — renamed columns
    * come back under target names, widened types upcast, later-added
    * columns NULL-fill; the `_change_type`/`_n` tail passes through.
    * Metadata-only plan surgery (one SELECT), shared by the evolving batch
    * feeds and the streaming CDF's schema tracking. */
  def projectFeedTo(df: DataFrame, root: String, asOf: Long,
      target: Seq[EvoField]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val from = schemaAt(root, asOf).getOrElse(throw new IllegalStateException(
      s"projectFeedTo: no schema sidecar governs v$asOf at $root"))
    df.select(byFieldId(from, target) ++ Seq(col("_change_type"), col("_n")): _*)
  }

  /** Discard a STAGED (never swapped) version — the cleanup a REFUSED
    * write runs (e.g. the keyed-append guard): although an unswapped
    * version is invisible to LATEST-following readers, its manifest IS
    * addressable by explicit version (`CHANGES BETWEEN`, `VERSION AS OF`),
    * so leaving it would let a version-addressed read serve rows a guard
    * just refused. Deletes the manifest first (the version stops
    * resolving), then sidecars and the staged data dir. Refuses to touch
    * published versions. */
  def discardStaged(root: String, v: Long): Unit = {
    require(latestVersion(root).getOrElse(0L) < v,
      s"discardStaged: v$v is published at $root")
    Files.deleteIfExists(sidecar(root, v, "manifest"))
    clearStaleSidecars(root, v)
    if (Files.exists(dataDir(root, v))) walk(dataDir(root, v)).foreach(Files.deleteIfExists)
  }

  /** Resolve a LOGICAL timestamp to the highest live version whose commit
    * metadata records a timestamp ≤ the probe — the m14 time-travel
    * machinery, shared by `CHANGES BETWEEN TIMESTAMP ... AND TIMESTAMP ...`
    * (r20): a table serving timestamp addressing attaches its logical
    * effective date as each commit's `meta` (the m14 convention — wall
    * clocks are non-deterministic; Delta resolves commit-file mtimes the
    * same shape). Versions whose meta is an operation tag (`insert:N`,
    * ...) are not timestamp-addressable and never become bounds. None when
    * no version qualifies (a probe before the first dated commit resolves
    * to the table's birth at the CALLER'S choice). Metadata-only:
    * O(versions) tiny reads, no data scan. */
  def resolveAsOf(root: String, ts: String): Option[Long] = {
    val tsLike = "^\\d{4}-\\d{2}-\\d{2}".r
    // the probe itself must be a zero-padded ISO date/timestamp — the
    // comparison is lexicographic, so a malformed bound ('banana',
    // '2024-1-2') would silently misorder instead of failing
    require(tsLike.findFirstIn(ts).isDefined,
      s"resolveAsOf: '$ts' is not a logical timestamp (expected " +
        "YYYY-MM-DD[...], the m14 convention)")
    val latest = latestVersion(root).getOrElse(return None)
    (1L to latest)
      .filter(v => versionExists(root, v) && versionMeta(root, v).exists(m =>
        tsLike.findFirstIn(m).isDefined && m <= ts))
      .lastOption
  }

  /** The current snapshot through the RIGHT read path: evolved tables
    * resolve names/types by field id, plain tables read their manifests
    * directly. What every SQL statement (reads and DML targets) uses once
    * ALTER TABLE exists — DML over an evolved table then rewrites/appends
    * under the CURRENT schema, and the new generation resolves against the
    * newest sidecar, so evolution and DML compose. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    if (hasEvoSchema(root)) readEvo(spark, root)
    else read(spark, root)

  /** [[readCurrent]] at a specific version — `VERSION AS OF` on a possibly
    * evolved table (schema resolved as of that version). */
  def readVersionCurrent(spark: SparkSession, root: String, v: Long): DataFrame =
    if (schemaAt(root, v).isDefined) readEvoAt(spark, root, v)
    else readVersion(spark, root, v)
}
