package graft.operators

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `faulty://` scheme, for crash-point
  * sweeps: it counts the `create`, `rename`, `delete` and `mkdirs` calls
  * made on the driver (outside any Spark task) and throws on the Nth, as
  * if the process died at that call. Register it in the session's Hadoop
  * conf with `fs.faulty.impl` and `fs.faulty.impl.disable.cache=true`; a
  * state directory under `faulty:///abs/path` then routes a family's own
  * protocol calls and Spark's job commits through it, with no change to
  * operator code.
  *
  * Task-side calls are not counted — their order across executor threads
  * is not deterministic — and a call made inside a counted call (the
  * parent `mkdirs` of a `create`) counts with it, so a clean run of an
  * entry point makes the same number of counted calls every time. */
class FaultyFileSystem extends RawLocalFileSystem {
  import FaultyFileSystem.counted

  override def getUri: URI = FaultyFileSystem.Uri
  override def getScheme: String = FaultyFileSystem.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete", p)(super.delete(p, recursive))

  override def mkdirs(p: Path): Boolean = counted("mkdirs", p)(super.mkdirs(p))

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    counted("mkdirs", p)(super.mkdirs(p, permission))
}

object FaultyFileSystem {
  val Scheme = "faulty"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val calls = new AtomicLong()
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var failAt = 0L
  @volatile private var fired: Option[String] = None
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Start counting from zero; throw on call `n` (0: never). */
  def arm(n: Long): Unit = { calls.set(0); made.clear(); fired = None; failAt = n }

  /** Stop faulting; the trace stays readable. */
  def disarm(): Unit = failAt = 0

  /** The call the armed fault hit, as "op path", if it was reached. */
  def hit: Option[String] = fired

  /** The counted calls since the last [[arm]], as "op path", in the order
    * they were made (concurrent writers interleave). */
  def trace: Seq[String] = { import scala.jdk.CollectionConverters._; made.asScala.toSeq }

  private def counted[T](op: String, p: Path)(body: => T): T = {
    if (depth.get == 0 && org.apache.spark.TaskContext.get == null) {
      val n = calls.incrementAndGet()
      made.add(s"$op ${p.toUri.getPath}")
      if (n == failAt) {
        fired = Some(s"$op ${p.toUri.getPath}")
        throw new java.io.IOException(s"injected fault at driver call $n: $op $p")
      }
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}
