package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Base64

import org.apache.spark.sql.SparkSession

import graft.Tables

/** DURABLE CATALOG for the SQL surface — what turns the session-scoped
  * name registries ([[GraftDmlRegistry]], [[GraftMvDdlRegistry]]) into a
  * warehouse: every table and materialized view CREATEd through SQL while
  * `spark.graft.metastoreDir` is set is recorded in a metastore sidecar
  * under that directory, and a NEW session — a new JVM — pointing at the
  * same directory sees them all again on its first statement. Without
  * this, tomorrow morning's `SELECT * FROM yesterdays_table` fails until
  * someone re-runs `registerSnapshot` by hand, even though the snapshot
  * data itself survived on disk.
  *
  * Layout (one small file per registry, the production-metastore pair):
  * {{{
  * <metastoreDir>/tables.catalog   name \t snapshot-root        per line
  * <metastoreDir>/mvs.catalog      name \t path \t base64(sql)  per line
  * }}}
  * The MV definition text is base64-encoded so arbitrary SQL (newlines,
  * tabs) keeps the file line-oriented. Rewrites are staged to a
  * UNIQUELY-NAMED temp file and ATOMIC_MOVE'd, so a reader never sees a
  * torn catalog — the same pointer-swap discipline as the snapshot
  * protocol. MULTI-WRITER safety (r19): every read-modify-write holds an
  * exclusive cross-process lock (`FileChannel.lock` on `.catalog.lock` in
  * the metastore dir), so two JVMs sharing one metastoreDir — the exact
  * scenario the durable catalog exists for — can CREATE/DROP concurrently
  * without one session's entry being silently dropped by the other's
  * rewrite (lost-update), and their staged temp files can never collide.
  *
  * Loading happens lazily at the first SQL statement the parser sees
  * ([[GraftSqlParser.parsePlan]] calls [[ensureLoaded]]): tables register
  * first, then each MV definition re-analyzes through `session.sql` (with
  * the MV-rewrite flag forced OFF — the m27 discipline: a stale same-shape
  * MV must not serve its own re-registration) so [[MvRegistry]] recovers
  * the match key and a FRESH source fingerprint. Names already registered
  * in the session win over catalog entries (the session is newer).
  *
  * Scale note: the catalog is metadata — one line per table/MV, read once
  * per JVM per directory. The 100 TB of data behind the names never
  * enters the picture; a production deployment swaps the two files for a
  * metastore service with the same two verbs (put/list).
  */
object GraftMetastore {

  /** The conf key a deployment sets once, session- or cluster-wide. */
  val DirKey = "spark.graft.metastoreDir"

  // dirs already loaded in this JVM: ensureLoaded is called on EVERY
  // parsed statement, so membership here is the fast path; marked BEFORE
  // loading so the MV re-analysis (which re-enters the parser via
  // session.sql) cannot recurse into another load
  private val loaded = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def confDir(session: SparkSession): Option[String] =
    Option(session.conf.get(DirKey, null)).filter(_.nonEmpty)

  private def tablesFile(dir: String): Path = Paths.get(dir, "tables.catalog")
  private def mvsFile(dir: String): Path = Paths.get(dir, "mvs.catalog")

  /** Load the metastore at the configured directory into the session's
    * registries, once per JVM per directory. No-op when the conf is unset
    * or the directory was already loaded. A concurrent second caller
    * BLOCKS until the load finishes (never resolves against a half-loaded
    * catalog); the re-entrant call the MV re-analysis makes (session.sql
    * → parsePlan → here, same thread) sees the marker already set and
    * skips — which is why the marker lands before load() runs. A load
    * that THROWS (e.g. an unreadable catalog file) clears the marker so
    * the next statement retries instead of poisoning the session. */
  // PER-DIRECTORY load guard (r19): two sessions loading two DIFFERENT
  // metastore dirs must not serialize on one object-global lock; each dir
  // gets its own monitor (bounded: one per distinct dir string per JVM).
  private val loadLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def ensureLoaded(session: SparkSession): Unit = confDir(session).foreach { dir =>
    if (!loaded.contains(dir)) {
      val lock = loadLocks.computeIfAbsent(dir, _ => new Object)
      lock.synchronized {
        if (loaded.add(dir)) {
          try load(session, dir)
          catch { case e: Throwable => loaded.remove(dir); throw e }
        }
      }
    }
  }

  /** Drop the loaded-marker for `dir` so the NEXT statement reloads from
    * disk — the restart simulation hook (a real restart is a fresh JVM,
    * where the marker set starts empty). */
  def forget(dir: String): Unit = { loaded.remove(dir); () }

  private def load(session: SparkSession, dir: String): Unit = {
    // tables first: MV definitions may read registered snapshot names.
    // PER-ENTRY fault isolation on BOTH loops (the MV loop had it from
    // day one, the tables loop gained it in r19): one malformed or
    // truncated line must not abort the load and poison every subsequent
    // statement — the catalog serves what it can parse.
    readLines(tablesFile(dir)).foreach { line =>
      line.split("\t", 2) match {
        case Array(name, root) if name.nonEmpty && root.nonEmpty =>
          // registerSnapshot's own identifier validation is part of the
          // per-entry isolation too: a hand-edited non-identifier name
          // skips, it must not abort the load
          try {
            if (GraftDmlRegistry.rootOf(name).isEmpty)
              GraftDmlRegistry.registerSnapshot(name, root)
          } catch {
            case e: Exception => Console.err.println(
              s"[graft metastore] skipping tables.catalog entry '$name': " +
                s"${Option(e.getMessage).getOrElse(e.toString)}")
          }
        case _ => Console.err.println(
          s"[graft metastore] skipping unparseable tables.catalog line: ${line.take(80)}")
      }
    }
    readLines(mvsFile(dir)).foreach { line =>
      line.split("\t", 3) match {
        case Array(name, path, sql64) if GraftMvDdlRegistry.get(name).isEmpty =>
          // PER-ENTRY fault isolation: one MV whose definition no longer
          // analyzes (its source table was dropped after the MV was
          // recorded) or whose base64 is corrupt must not block every
          // entry after it — the broken view simply stays unregistered
          // (its next CREATE/REFRESH will surface the real error)
          try {
            val sql = new String(Base64.getDecoder.decode(sql64), UTF_8)
            Tables.withConf(session, GraftMvRewriteRule.Flag -> "false")(c =>
              MvRegistry.register(name.toLowerCase, c.sql(sql), path))
            GraftMvDdlRegistry.put(name, sql, path)
          } catch {
            case e: Exception => logWarn(name, e)
          }
        case Array(_, _, _) => // already registered in-session: session wins
        case _ => Console.err.println(
          s"[graft metastore] skipping unparseable mvs.catalog line: ${line.take(80)}")
      }
    }
  }

  private def logWarn(name: String, e: Exception): Unit =
    Console.err.println(
      s"[graft metastore] skipping MV '$name': definition no longer " +
        s"analyzes (${Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.toSeq.headOption.getOrElse("")})")

  /** Record a SQL-created snapshot table, if a metastore is configured. */
  def recordTable(session: SparkSession, name: String, root: String): Unit =
    confDir(session).foreach { dir =>
      upsertLine(tablesFile(dir), name.toLowerCase,
        s"${name.toLowerCase}\t$root")
    }

  /** Record a SQL-created/refreshed materialized view. */
  def recordMv(session: SparkSession, name: String, sql: String,
      path: String): Unit =
    confDir(session).foreach { dir =>
      val sql64 = Base64.getEncoder.encodeToString(sql.getBytes(UTF_8))
      upsertLine(mvsFile(dir), name.toLowerCase,
        s"${name.toLowerCase}\t$path\t$sql64")
    }

  /** Forget a DROPped materialized view. */
  def removeMv(session: SparkSession, name: String): Unit =
    confDir(session).foreach(dir => removeLine(mvsFile(dir), name.toLowerCase))

  /** Forget a DROPped snapshot table name (the data root stays — DROP
    * detaches the NAME, the external-table convention). */
  def removeTable(session: SparkSession, name: String): Unit =
    confDir(session).foreach(dir => removeLine(tablesFile(dir), name.toLowerCase))

  /** CROSS-PROCESS mutual exclusion for catalog read-modify-writes (r19):
    * an exclusive `FileChannel.lock` on `.catalog.lock` in the metastore
    * dir serializes writers across JVMs — ATOMIC_MOVE alone prevents torn
    * READS but not lost UPDATES (two sessions reading the same base lines,
    * each rewriting without the other's entry). Same-JVM threads are
    * serialized by a PER-DIRECTORY monitor first (two threads locking the
    * same file region would throw OverlappingFileLockException) — per-dir,
    * not object-global (the r19 verdict nit): a stuck lock holder in
    * another JVM must only block writes to ITS metastore dir, never to
    * unrelated ones. The lock file is tiny, permanent, and shared by both
    * catalogs so CREATE TABLE and DROP MV from different processes cannot
    * interleave either. */
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withCatalogLock[T](catalogFile: Path)(body: => T): T = {
    val dir = catalogFile.getParent
    Files.createDirectories(dir)
    // toRealPath, not normalize: two spellings of one PHYSICAL dir (a
    // symlink vs its target) must share one monitor, or two same-JVM
    // threads would race into OverlappingFileLockException on the file lock
    writeLocks.computeIfAbsent(dir.toRealPath().toString,
      _ => new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        dir.resolve(".catalog.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any other PROCESS releases
        try body finally lock.release()
      } finally ch.close()
    }
  }

  // read-modify-write under the SAME locks upsertLine takes — a concurrent
  // CREATE and DROP (same or different JVM) must not interleave and lose
  // one of the two updates
  private def removeLine(p: Path, key: String): Unit = withCatalogLock(p) {
    rewrite(p, readLines(p).filterNot(_.startsWith(s"$key\t")))
  }

  private def readLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), UTF_8).split("\n")
      .filter(_.nonEmpty).toSeq

  private def upsertLine(p: Path, key: String, line: String): Unit =
    withCatalogLock(p) {
      rewrite(p, readLines(p).filterNot(_.startsWith(s"$key\t")) :+ line)
    }

  private def rewrite(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    // unique temp name: two processes staging at once (belt-and-braces
    // under the file lock) can never clobber each other's staging file
    val tmp = p.getParent.resolve(
      s".${p.getFileName}.tmp.${ProcessHandle.current().pid()}.${System.nanoTime()}")
    try {
      Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    ()
  }
}
