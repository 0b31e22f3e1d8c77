package graft.store

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, `.crc` checksums included, over a raw layer
  * that sets permissions without forking a process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand` for every file and directory a write creates — a
  * few milliseconds of fork+exec each, tens of them per snapshot commit.
  * [[SnapshotStore]] registers this class under [[ForklessLocalFileSystem.Scheme]]
  * and writes its tables through that scheme; everything else, reads of
  * the same files included, stays on plain `file:`.
  */
final class ForklessLocalFileSystem
    extends LocalFileSystem(new ForklessLocalFileSystem.Raw) {
  override def getScheme: String = ForklessLocalFileSystem.Scheme
}

object ForklessLocalFileSystem {
  val Scheme = "graftlocal"

  /** `file:` raw layer named by [[Scheme]], so the checksummed layer above
    * it keeps paths in that scheme. `setPermission` receives the mode
    * Hadoop has already umasked and applies it with `java.nio`; a mode
    * with bits `java.nio` cannot express (sticky, setuid, setgid) takes
    * Hadoop's own path.
    */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString((0 until 9).map { i =>
          if ((mode & (0x100 >> i)) != 0) "rwx"(i % 3) else '-'
        }.mkString))
    }
  }
}
