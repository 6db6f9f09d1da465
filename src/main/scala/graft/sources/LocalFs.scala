package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local `file:` filesystem with permissions
  * applied in-process.
  *
  * Without Hadoop's native library, the stock `RawLocalFileSystem`
  * applies the permission of every file create and every directory
  * create by forking a `chmod` process (`Shell.execCommand`), each with
  * its own stream-reader thread. A bucketed state slice lands dozens
  * of files and dirs, and their `.crc` sidecars count too: a seed-1
  * `curation_cadence` run forked 2,560 of them, 1,287 in its one
  * increment. This filesystem sets the same mode through
  * `java.nio.file.Files` instead. Everything else, `.crc` checksums
  * included, is the stock [[LocalFileSystem]].
  *
  * [[graft.Sessions.local]] registers it as `fs.file.impl`. Hadoop caches
  * one `file:` instance per JVM, so only a JVM whose first `file:`
  * filesystem comes from such a session uses it.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  /** Refuses to replace an existing file, as Hadoop's filesystem
    * contract asks; the raw local rename would overwrite it. Without
    * this class `file:` resolved to the hive jar's
    * `ProxyLocalFileSystem`, which refuses the same way, and the
    * publish carrier's staged moves rely on it. */
  override def rename(src: Path, dst: Path): Boolean =
    !(exists(dst) && getFileStatus(dst).isFile) && super.rename(src, dst)
}

object LocalFs {

  /** The raw layer: [[RawLocalFileSystem]] routes every file create,
    * directory create and explicit permission change through
    * `setPermission`; this one applies the mode `chmod` would leave
    * with one `stat` and one `chmod` system call. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      try {
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        Files.setAttribute(file, "unix:mode",
          Integer.valueOf(chmodResult(mode, permission)))
      } catch {
        // A store without the unix attribute view: Hadoop's own path.
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  private val TypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID
  private val PermBits = 0x3ff // sticky bit + rwxrwxrwx

  /** The mode `chmod %04o` of `permission` leaves on a file whose mode
    * is `mode`: the permission and sticky bits as given; GNU chmod
    * keeps a directory's set-user-ID and set-group-ID bits under a
    * four-digit numeric mode and clears a file's. */
  private def chmodResult(mode: Int, permission: FsPermission): Int = {
    val keep = if ((mode & TypeBits) == DirType) mode & SetIdBits else 0
    keep | (permission.toShort & PermBits)
  }
}
