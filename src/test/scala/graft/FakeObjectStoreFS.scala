package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** In-test object-store stand-in: a Hadoop FileSystem registered under
  * the `grafts3` scheme (via `fs.grafts3.impl`) that serves local
  * files. Proves the engine's path contract is scheme-agnostic — every
  * read goes through `FileSystem.get(uri, conf)`, so pointing Tables
  * at `s3a://bucket/...` only requires the hadoop-aws module on the
  * classpath plus `fs.s3a.impl`, exactly like this fake. The static
  * open counter shows the bytes really flowed through THIS FileSystem,
  * not a silent fallback to `file:`. Instantiated reflectively by
  * Hadoop — must stay public with a no-arg constructor. */
class FakeObjectStoreFS extends RawLocalFileSystem {
  override def getScheme: String = "grafts3"
  override def getUri: URI = URI.create("grafts3:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FakeObjectStoreFS.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    FakeObjectStoreFS.eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(FakeObjectStoreFS.eager)
}

object FakeObjectStoreFS {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)

  /** RawLocalFileSystem's DeprecatedRawLocalFileStatus loads
    * permissions LAZILY via `new java.io.File(path.toUri)`, which
    * rejects any non-file scheme (a recursive `listFiles` builds
    * LocatedFileStatus from them) — return statuses with permissions
    * resolved eagerly so no caller ever triggers that path on a fake
    * object-store URI. */
  def eager(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime,
      if (st.isDirectory) org.apache.hadoop.fs.permission.FsPermission.getDirDefault
      else org.apache.hadoop.fs.permission.FsPermission.getFileDefault,
      null, null, st.getPath)
}

/** The same stand-in registered under the REAL `s3a` scheme — the
  * attach-path test sets `fs.s3a.impl` to this class, which is the
  * exact config key (and FileSystem SPI path) a production deployment
  * wires `hadoop-aws`'s S3AFileSystem through. Separate class because
  * a Hadoop FileSystem's scheme is part of its identity (checkPath
  * validates it); separate counters so the round-trip can assert both
  * directions flowed through here. */
class FakeS3AFS extends RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create("s3a:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FakeS3AFS.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  // the parquet task writer lands on THIS overload (measured with an
  // instrumented probe — the 7-arg permission overload is bypassed)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    FakeS3AFS.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  // eager permissions, as in FakeObjectStoreFS
  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    FakeObjectStoreFS.eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(FakeObjectStoreFS.eager)
}

object FakeS3AFS {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val creates = new java.util.concurrent.atomic.AtomicInteger(0)
}
