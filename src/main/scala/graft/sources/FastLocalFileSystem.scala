package graft.sources

import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem that sets permissions IN-PROCESS (r14).
  *
  * Hadoop's `RawLocalFileSystem.setPermission` shells out to a `chmod`
  * subprocess when the native hadoop library is not loaded — and every
  * local file creation passes a permission, so every state-store delta/
  * crc file, parquet part, and gzip sink part costs one `fork+exec`
  * (JFR on a 3-query j-family run counted 1,920 `jdk.ProcessStart`
  * events, all `chmod 0644/0755`, the residual blocked-wall the r13
  * readlink fix left behind). This subclass routes the 9 POSIX bits
  * through `Files.setPosixFilePermissions` — same semantics, no fork.
  *
  * Registered per session via `spark.hadoop.fs.file.impl`. Only the 9
  * rwx bits are applied: the setuid, setgid and sticky bits, which nio
  * PosixFilePermission cannot express, are dropped — nothing in a Spark
  * data dir uses them. A `null` permission leaves the file's mode as it
  * is (no-op). Cluster deployments on
  * hdfs:// / s3a:// never touch this class; a cluster's local scratch
  * usage normally has native hadoop loaded, where stock Hadoop already
  * stays in-process.
  */
class FastLocalFileSystem
    extends LocalFileSystem(new NoForkRawLocalFileSystem)

class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission != null) {
      val m = permission.toShort.toInt
      val perms = EnumSet.noneOf(classOf[PosixFilePermission])
      import PosixFilePermission._
      if ((m & 0x100) != 0) perms.add(OWNER_READ)
      if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
      if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
      if ((m & 0x020) != 0) perms.add(GROUP_READ)
      if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
      if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
      if ((m & 0x004) != 0) perms.add(OTHERS_READ)
      if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
      if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
      java.nio.file.Files.setPosixFilePermissions(
        java.nio.file.Paths.get(p.toUri.getPath), perms)
    }
}

object FastLocalFileSystem {
  /** The `spark.hadoop.`-prefixed session conf that installs this class
    * for `file://` paths (one definition for every session builder).
    */
  val confKey: String = "spark.hadoop.fs.file.impl"
  val confValue: String = classOf[FastLocalFileSystem].getName
}
