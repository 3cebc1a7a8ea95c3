package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` scheme: Hadoop's local filesystem minus its child
  * processes. Without libhadoop, stock `RawLocalFileSystem` runs a
  * `chmod` process for every file and directory it creates, and
  * `getFileLinkStatus` (every `FileContext` rename asks it of source
  * and destination, `.crc` included) runs `readlink`: about 40
  * process starts per `review_ingest` cycle, for data files,
  * manifests, head hints and streaming offset/commit logs.
  * This class sets the mode through `java.nio.file` and answers a
  * non-link's link status with `getFileStatus`. Modes, `.crc`
  * checksums and rename semantics are Hadoop's own; the sticky bit,
  * set-id directories, real symlinks and non-POSIX stores take
  * Hadoop's code unchanged. `GraftSession.builder` registers it as
  * `fs.file.impl` ([[GraftLocalFileSystem]]) and
  * `fs.AbstractFileSystem.file.impl` ([[GraftLocalFs]]).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    // -1: not a POSIX store (or gone — Hadoop's code reports that)
    val mode =
      try Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      catch { case _: UnsupportedOperationException | _: IllegalArgumentException |
                   _: java.io.IOException => -1 }
    // `chmod 0755` keeps a directory's setuid/setgid bits; a plain
    // chmod(2) of the same mode would clear them (S_IFDIR = 0x4000,
    // S_ISUID | S_ISGID = 0xc00)
    val setIdDir = (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
    if (permission.getStickyBit || mode < 0 || setIdDir)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, GraftRawLocalFileSystem.posix(permission))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f) // what Hadoop returns once readlink prints nothing
}

object GraftRawLocalFileSystem {

  /** `perm`'s rwx bits; PosixFilePermission's order is owner r/w/x,
    * group r/w/x, others r/w/x = mode bits 8 down to 0. */
  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- PosixFilePermission.values.zipWithIndex
         if (perm.toShort & (0x100 >> i)) != 0) out.add(p)
    out
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` face of [[GraftRawLocalFileSystem]] — Hadoop's
  * `RawLocalFs` over the process-free class. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
  * over [[GraftRawLocalFs]]. Spark's streaming checkpoint manager
  * (offset, commit and source logs) writes and renames through this. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
