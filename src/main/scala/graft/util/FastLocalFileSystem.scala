package graft.util

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem for benchmark / local-mode sessions:
  * [[RawLocalFileSystem]] (no `.crc` sidecar per file — object stores
  * and HDFS carry their own integrity, the local scheme is a dev/bench
  * path) with `setPermission` done IN-PROCESS via `java.nio` instead of
  * Hadoop's fork-a-`chmod`-per-file Shell fallback.
  *
  * Why it exists (guide §1: measure first): without `libhadoop.so`
  * (absent from this Spark image), every local-FS file creation that
  * carries a permission — every staged parquet part, every manifest,
  * sidecar, checkpoint and state-store delta — runs
  * `Shell.execCommand("chmod", …)`: a JFR capture of ONE 8-commit store
  * query (q256) counted **286 forked `chmod` processes**, ~15-30 ms of
  * driver/executor latency each, several seconds of pure
  * fork/exec/reap dead time per store-band query. `java.nio`'s
  * `setPosixFilePermissions` is the same syscall path `chmod` itself
  * uses, minus the process.
  *
  * Scale posture: this class only remaps the `file` scheme —
  * `hdfs://`/`s3a://` tables are untouched, and a cluster with native
  * Hadoop libraries never hits the Shell fallback in the first place.
  * Results are byte-identical; this is IO-layer latency only.
  *
  * Wired via `spark.hadoop.fs.file.impl` in [[graft.Session]], the one
  * session builder. Sticky/setuid bits (inexpressible as
  * [[PosixFilePermission]]s) are masked off — nothing on a table root
  * ever carries them. */
class FastLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val bits = permission.toShort.toInt
    def add(mask: Int, perm: PosixFilePermission): Unit =
      if ((bits & mask) != 0) { perms.add(perm); () }
    add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
    add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
    add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }
}
