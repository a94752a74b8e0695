package graft.streaming

import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Rename-based [[CheckpointFileManager]] for LOCAL (file-scheme) checkpoint
  * roots that never shells out (r22, guide §1.1/§7.3 — the i-band profile).
  *
  * Measured locally (/dev/shm, 20 atomic metadata writes × 3 runs):
  * the default FileContext manager = 42 ms per atomic metadata write and the
  * FileSystem manager = 8.6 ms, vs 0.07 ms for a plain java.nio
  * write+rename. The gap is not I/O: without the native Hadoop library
  * (absent here — `NativeCodeLoader` warns at startup), every Hadoop local
  * create/mkdirs applies its FsPermission by EXEC'ING `chmod` (one fork per
  * file, plus the ChecksumFs `.crc` sidecar doubling it). A streaming query
  * pays that per offsets-WAL write, per commit-log write, per source-log
  * entry and per state-store delta file — ~120 ms of pure fork overhead per
  * micro-batch, the single largest share of the i-band's fixed per-query
  * cost.
  *
  * This manager keeps the EXACT protocol of Spark's rename-based managers —
  * write to a hidden temp file in the target directory, atomic rename to
  * publish, fail-if-exists when `overwriteIfPossible = false` (what
  * HDFSMetadataLog uses to serialize concurrent writers) — implemented with
  * java.nio (POSIX rename atomicity, same crash-safety story), and delegates
  * READS (open/list) to a RawLocalFileSystem, which never forks on the read
  * path and skips the checksum sidecars Spark's own FileSystem manager
  * already skips on HDFS.
  *
  * Scope: set by `StreamingQueries.startStream` ONLY around local-checkpoint
  * query starts (`spark.sql.streaming.checkpointFileManagerClass` is
  * captured per query). A production deployment checkpointing to HDFS/S3
  * keeps Spark's default managers — this class refuses non-local schemes
  * loudly rather than mis-handling them.
  */
class LocalFsCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(root, hadoopConf) {
  // (RenameHelperMethods is sealed, so this extends Spark's FileSystem-based
  // manager — inheriting its createAtomic/RenameBasedFSDataOutputStream
  // protocol verbatim — and overrides every MUTATING path with java.nio,
  // plus the read paths with a checksum-free RawLocalFileSystem.)

  require(root.toUri.getScheme == null || root.toUri.getScheme == "file",
    s"LocalFsCheckpointFileManager only handles local paths, got: $root")

  private val rawFs = {
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), hadoopConf)
    raw
  }

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createTempFile(path: Path): FSDataOutputStream = {
    val p = nio(path)
    Files.createDirectories(p.getParent)
    new FSDataOutputStream(java.nio.channels.Channels.newOutputStream(
      java.nio.channels.FileChannel.open(p, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)), null)
  }

  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit = {
    val src = nio(srcPath); val dst = nio(dstPath)
    try {
      if (overwriteIfPossible)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else {
        // fail-if-exists in ONE step: link(2) refuses an existing name, so
        // of two racing writers exactly one publishes (a check followed by
        // a rename would let both pass the check and the second replace
        // the first); the temp name is dropped once the link stands
        Files.createLink(dst, src)
        Files.delete(src)
      }
    } catch {
      case e: NioExists =>
        throw new FileAlreadyExistsException(
          s"rename destination $dstPath already exists (${e.getMessage})")
    }
  }

  override def open(path: Path): FSDataInputStream = rawFs.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    rawFs.listStatus(path, filter)

  override def mkdirs(path: Path): Unit = {
    Files.createDirectories(nio(path)); ()
  }

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val st = Files.list(p)
        try st.forEach(c => rm(c)) finally st.close()
      }
      Files.deleteIfExists(p); ()
    }
    rm(nio(path))
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    root
  }
}
