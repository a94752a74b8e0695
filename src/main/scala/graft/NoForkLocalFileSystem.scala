package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** file:// FileSystem that never forks (r22, guide §1.1/§7.3).
  *
  * Without the native Hadoop library (absent on this box —
  * `NativeCodeLoader` warns at startup), `RawLocalFileSystem.setPermission`
  * EXECs `chmod` — one process fork per created file or directory, ~4-20 ms
  * each. Every Hadoop-mediated local write pays it: each parquet part file,
  * each `_temporary` task dir, each `_SUCCESS` marker, each metadata file —
  * and the default LocalFileSystem (ChecksumFileSystem) doubles the creates
  * with `.crc` sidecars. Measured (20 atomic writes × 3 on /dev/shm): 42 ms per
  * FileContext atomic write / 8.6 ms per FileSystem write, vs 0.07 ms for
  * the same bytes through java.nio — the whole gap is forked `chmod`s.
  *
  * The raw subclass overrides the ONE method all Hadoop local mutation
  * paths funnel through (`create`, `mkdirs`, `createTempFile` all call
  * `setPermission` virtually) to apply the identical POSIX permission via
  * `Files.setPosixFilePermissions` — same bits, same semantics, no fork.
  * The public class extends LocalFileSystem (NOT bare RawLocalFileSystem)
  * because `FileSystem.getLocal` hard-casts the file-scheme FS to
  * LocalFileSystem (RocksDBFileManager.copyFromLocalFile does this), so
  * checksum semantics are preserved verbatim — only the permission call
  * changes.
  *
  * Wired as `spark.hadoop.fs.file.impl` in the session builders (Bench,
  * Verify, tests) — the same class of session-level deployment conf as
  * the codegen-cache sizing Bench has carried since r8. A cluster deployment
  * whose data path is HDFS/S3 is untouched by the file-scheme impl; one
  * whose local scratch matters ships the native Hadoop library and gets the
  * same effect via NativeIO.
  */
class NoForkLocalFileSystem
    extends LocalFileSystem(new NoForkRawLocalFileSystem)

class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val m: Int = permission.toShort.toInt
    // setuid/setgid/sticky have no PosixFilePermission: those (rare) modes
    // take the parent's path, which applies every bit
    if ((m & 0xE00) != 0) return super.setPermission(p, permission)
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    import PosixFilePermission._
    val bits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
      GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    bits.zipWithIndex.foreach { case (perm, i) =>
      if ((m & (1 << (8 - i))) != 0) { perms.add(perm); () }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    ()
  }
}
