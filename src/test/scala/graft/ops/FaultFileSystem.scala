package graft.ops

import java.io.IOException
import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only fault-injecting FileSystem: an `ffs:` scheme over the local
  * filesystem that counts every mutation (create, rename, delete) from
  * the moment it is armed and fails the k-th with an `IOException`.
  * With `crash` set, every later mutation fails too until it is
  * disarmed, as if the process had died at the k-th: nothing after it
  * reaches the disk, clean-up code included. Without it, only the k-th
  * fails, and the code around it may react. A mutation that calls
  * another (one `create` overload delegating to the next) counts once. */
object FaultFs {
  private val count = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var failAt = 0L
  @volatile private var crash = false
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Fail the `k`-th mutation from now (k ≥ 1). */
  def arm(k: Long, crash: Boolean): Unit = {
    count.set(0); this.crash = crash; failAt = k
  }

  /** Stop injecting; the number of mutations seen since [[arm]]. */
  def disarm(): Long = { failAt = 0; count.get }

  private[ops] def mutation[T](what: String, p: Path)(body: => T): T = {
    if (depth.get == 0) {
      val n = count.incrementAndGet()
      val k = failAt
      if (k > 0 && (n == k || crash && n > k))
        throw new IOException(s"injected fault: mutation $n ($what $p)")
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

class FaultFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "ffs"
  override def getUri: URI = URI.create("ffs:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.mutation("rename", src)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultFs.mutation("delete", p)(super.delete(p, recursive))
}
