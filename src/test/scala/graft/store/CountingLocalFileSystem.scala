package graft.store

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}

/** Local storage under the test-only `countfs://` scheme (registered
  * through `fs.countfs.impl`) that records every `listStatus` and
  * `open` by path, and can run a hook at the next manifest open — how
  * SnapshotSpec counts a read's or a commit's metadata operations and
  * lands a commit in the middle of one. `rename` keeps the HDFS
  * contract the store's exclusive publish relies on (it fails onto an
  * existing destination instead of replacing it), so a racing commit
  * loses its publish race instead of overwriting the winner. */
class CountingLocalFileSystem extends graft.util.FastLocalFileSystem {
  import CountingLocalFileSystem._
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.add(f.toUri.getPath.stripSuffix("/"))
    super.listStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !exists(dst) && super.rename(src, dst)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.add(f.toUri.getPath)
    if (f.getName.startsWith("manifest-v"))
      Option(onManifestOpen.getAndSet(null)).foreach(_.apply())
    super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val lists, opens = new ConcurrentLinkedQueue[String]()
  /** Runs (once) at the next manifest open, before it proceeds. */
  val onManifestOpen =
    new java.util.concurrent.atomic.AtomicReference[() => Unit]()

  def reset(): Unit = { lists.clear(); opens.clear() }
}
