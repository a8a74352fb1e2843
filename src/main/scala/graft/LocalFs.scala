package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local file system, minus one `chmod` process
  * per file and directory it creates. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a shell; this one
  * sets the same nine bits with `Files.setPosixFilePermissions`. It
  * defers to Hadoop wherever the two could differ: native I/O present,
  * a sticky bit asked for, a setuid/setgid/sticky bit already on the
  * file (`chmod` keeps a directory's setgid), or no POSIX view. `.crc`
  * sidecars are written and verified as before. It must extend
  * `LocalFileSystem`: `FileSystem.getLocal` casts to it.
  * `Sessions.builder` installs it as `fs.file.impl`, replacing Hive's
  * `ProxyLocalFileSystem`, whose one change it keeps: a rename onto an
  * existing file fails. (DESIGN.md §6.)
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val onFile =
      try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }
    !onFile && super.rename(src, dst)
  }
}

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val plain =
        try !NativeIO.isAvailable && !perm.getStickyBit &&
          // 0xe00 is 07000: setuid, setgid, sticky
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
        catch {
          case _: UnsupportedOperationException | _: IllegalArgumentException =>
            false
        }
      if (!plain) super.setPermission(p, perm)
      else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values run owner r/w/x, group r/w/x, other r/w/x: bits 8 to 0
        PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
          if ((perm.toShort & (0x100 >> i)) != 0) set.add(b) }
        Files.setPosixFilePermissions(f, set): Unit
      }
    }
  }
}

/** [[LocalFs]] for Hadoop's `FileContext` API, which Spark's streaming
  * checkpoints write through and which resolves `file:` by
  * `fs.AbstractFileSystem.file.impl`, not `fs.file.impl`: Hadoop's
  * `local.LocalFs` over [[LocalFs.Raw]]. `Sessions.builder` installs it. */
class LocalFileContextFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new LocalFs.Raw, conf, "file", false) {
      // as Hadoop's `local.RawLocalFs`: any name a local path can hold
      override def isValidName(src: String): Boolean = true
    })
