package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system: Hadoop's `LocalFileSystem` (a
  * `ChecksumFileSystem`, so `.crc` files are still written and verified)
  * over a [[RawLocalFs]] that sets permissions in-process.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem.
  * setPermission` forks a `chmod` process (plus a `Shell` stderr-reader
  * thread) for every file and directory a parquet write, a job commit or
  * a `VersionLog` commit creates: about 20 per note_nlp pass.
  *
  * `src/main/resources/core-site.xml` sets `fs.file.impl` to this class.
  * That file is the one place every session loading the engine reads:
  * Hadoop caches one `FileSystem` per scheme, authority and user for the
  * whole JVM, so a conf set once a session is up can come too late, and
  * a `ServiceLoader` entry depends on classpath order. A user's
  * `spark.hadoop.fs.file.impl`, or a `core-site.xml` earlier on the
  * classpath, overrides it and gets Hadoop's own behaviour back.
  *
  * It must extend `LocalFileSystem`: `FileSystem.getLocal` casts to it.
  * Hadoop builds it through its public no-arg constructor.
  */
class LocalFs extends LocalFileSystem(new RawLocalFs)

/** `RawLocalFileSystem` whose `setPermission` sets the same POSIX bits
  * with `Files.setPosixFilePermissions` instead of forking `chmod`. Every
  * permission Hadoop applies on this file system goes through it:
  * `create` with a permission, `mkdirs` and `setPermission` itself. A
  * sticky bit (which `PosixFilePermission` cannot express) or a default
  * file system without POSIX attributes falls back to Hadoop's method.
  * As with `chmod`, a symbolic link is followed, and a missing path
  * throws an `IOException`.
  */
class RawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !RawLocalFs.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        RawLocalFs.bits(permission.toShort & 0x1ff))
}

private object RawLocalFs {
  val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` runs from owner read (0400) down to
    * others execute (0001).
    */
  private val order = PosixFilePermission.values

  def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((mode & (0x100 >> i)) != 0) s.add(order(i))
      i += 1
    }
    s
  }
}
