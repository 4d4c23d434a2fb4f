package graft.sources

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, FileSystem,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test-only local filesystem on the `crash:` scheme (`crash:///tmp/x` is
  * the local `/tmp/x`) that models a process dying at a filesystem step:
  * once a directory is armed at k, the k-th mutating call under it
  * (create, mkdirs, rename, delete, append, or a manifest CAS through
  * [[CrashFs.committer]]) and every later one throw before touching the
  * disk. Reads always pass. Arming is per directory, so crash runs over
  * separate directories can run side by side.
  */
class CrashFs extends FilterFileSystem(new CrashFs.Raw) {
  import CrashFs.mutation

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutation(f, "create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutation(f, "create")
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    mutation(f, "append")
    super.append(f, bufferSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutation(f, "mkdirs")
    super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutation(src, "rename")
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutation(f, "delete")
    super.delete(f, recursive)
  }
}

object CrashFs {
  val Scheme = "crash"

  /** The local filesystem answering to the `crash:` scheme. Statuses are
    * plain copies: a local status loads its permissions lazily through a
    * `file:` URI, which a `crash:` path is not.
    */
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
    private def plain(st: FileStatus): FileStatus = new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  }

  private final class Armed(val failAt: Long) { val calls = new AtomicLong }

  /** Armed directory (local path with a trailing `/`) → its crash point. */
  private val armed = new java.util.concurrent.ConcurrentHashMap[String, Armed]()

  private def key(dir: String): String = dir.stripSuffix("/") + "/"

  /** Count one mutating call on `path`; throw when its directory is armed
    * at or before this call.
    */
  def mutation(path: Path, what: String): Unit = {
    val p = path.toUri.getPath
    armed.forEach { (dir, a) =>
      if (p.startsWith(dir)) {
        val n = a.calls.incrementAndGet()
        if (n >= a.failAt) throw new java.io.IOException(s"injected crash at mutation $n: $what $p")
      }
    }
  }

  /** Fail the `k`-th mutating call under local dir `dir`, and every later one. */
  def arm(dir: String, k: Long): Unit = { armed.put(key(dir), new Armed(k)); () }

  /** Stop failing under `dir`; returns the mutating calls counted since [[arm]]. */
  def disarm(dir: String): Long = Option(armed.remove(key(dir))).map(_.calls.get).getOrElse(0L)

  /** Register the scheme on `spark`, uncached, so every lookup is a fresh
    * wrapper.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    conf.set(s"fs.$Scheme.impl.disable.cache", "true")
  }

  /** The `crash:` URI of local dir `dir`. */
  def uri(dir: String): String = s"$Scheme://$dir"

  /** The manifest CAS under the wrapper: one counted mutation, then the
    * hard-link put-if-absent on the local path — so a crash can land on
    * the publish itself and racing commits stay exclusive.
    */
  val committer: LogCommitter = new LogCommitter {
    private lazy val local = FileSystem.getLocal(new Configuration())
    override def commit(fs: FileSystem, target: Path, content: Array[Byte]): Boolean = {
      mutation(target, "commit")
      HardLinkCasCommitter.commit(local, new Path(target.toUri.getPath), content)
    }
  }
}
