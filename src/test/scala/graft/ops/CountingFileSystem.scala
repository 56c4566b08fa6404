package graft.ops

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Test-only observable FileSystem: a `cfs:` scheme that delegates to the
  * local filesystem while recording every `listStatus`/`exists` path.
  *
  * StoredIndex exists to BOUND driver metadata calls (its scaladoc:
  * exactly one root listing per probe, no call on a bucket directory
  * the probe did not select, zero store calls on the empty probe) — but
  * result-correctness
  * specs can't see a regression that re-introduces store-wide discovery:
  * the r15-r18 full-store-listing bug returned correct rows for four
  * rounds and only surfaced as cross-round bench drift. These counters
  * make the metadata-call contract a unit-test assertion. */
object CountingFs {
  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val existed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listed.clear(); existed.clear(); opened.clear() }
  def listedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    listed.asScala.toSeq
  }
  def existedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    existed.asScala.toSeq
  }
  /** Paths whose CONTENT was read (`open`) — lets the schema-cache spec
    * distinguish plan-time listings (allowed on every construction) from
    * footer re-reads (only the first construction may pay one). */
  def openedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.asScala.toSeq
  }
  private[ops] def recordList(p: Path): Unit = listed.add(p.toUri.getPath)
  private[ops] def recordExists(p: Path): Unit = existed.add(p.toUri.getPath)
  private[ops] def recordOpen(p: Path): Unit = opened.add(p.toUri.getPath)
}

class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: URI = URI.create("cfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.recordList(f)
    super.listStatus(f)
  }
  override def exists(f: Path): Boolean = {
    CountingFs.recordExists(f)
    super.exists(f)
  }
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.recordOpen(f)
    super.open(f, bufferSize)
  }
}
