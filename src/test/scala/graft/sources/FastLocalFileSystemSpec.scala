package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funspec.AnyFunSpec

import graft.queries.Fixtures

/** NoForkRawLocalFileSystem.setPermission: the in-process chmod behind
  * every local write applies the 9 rwx bits, drops setuid/setgid/sticky,
  * and treats a null permission as "leave the mode alone".
  */
class FastLocalFileSystemSpec extends AnyFunSpec {

  private def modeOf(f: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f))

  describe("NoForkRawLocalFileSystem.setPermission") {
    it("applies a 0750 mode and leaves the mode unchanged on a null permission") {
      val f = Files.createFile(java.nio.file.Paths.get(Fixtures.scratchDir("nofork_perm")))
      val fs = new NoForkRawLocalFileSystem
      val p = new Path(f.toUri)
      fs.setPermission(p, new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(modeOf(f) === "rwxr-x---")
      fs.setPermission(p, null)
      assert(modeOf(f) === "rwxr-x---")
      // setgid + 0640: the special bit is dropped, the rwx bits applied
      fs.setPermission(p, new FsPermission(Integer.parseInt("2640", 8).toShort))
      assert(modeOf(f) === "rw-r-----")
    }
  }
}
