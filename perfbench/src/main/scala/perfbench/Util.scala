package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Small helpers shared by the workloads: timing, order statistics,
  * directory accounting, row hashing and a JSON writer.
  */
object Util {

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Seconds the JIT compilers and the garbage collectors have spent
    * (elapsed time, summed over their threads).
    */
  def jitS(): Double = java.lang.management.ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime / 1e3
  def gcS(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1e3

  /** (steal, total) CPU ticks of the machine from /proc/stat, where the
    * kernel exposes them: steal is time a virtual CPU waited for the host.
    */
  def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally src.close()
      (f(7), f.sum)
    }.toOption

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50/p90/p95/p99 that still has at least 10 samples
    * above it, as (label, value, samples); p50 when there are fewer than
    * 20 samples.
    */
  def tail(xs: Seq[Double]): (String, Double, Int) = {
    val p = Seq(0.99, 0.95, 0.9).find(q => (1 - q) * xs.size >= 10 - 1e-9).getOrElse(0.5)
    (f"p${(p * 100).round}%d", quantile(xs, p), xs.size)
  }

  /** Regular files under `dir` (relative path → bytes). */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** A table data file, by relative path: parquet outside graft's
    * `_graft_*` metadata dirs (data dirs of versioned tables are `_d*`/`_v*`).
    */
  def isDataFile(rel: String): Boolean =
    rel.endsWith(".parquet") &&
      !rel.split('/').exists(s => s.startsWith("_graft") || s.startsWith("."))

  def bytesUnder(dirs: String*): Long = dirs.map(files(_).values.sum).sum

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x2f1b).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x7c3d).toLong & 0xffffffffL)

  /** Order-independent digest of a multiset of canonical row strings. */
  final case class Digest(rows: Long, sum: Long) {
    def add(row: String): Digest = Digest(rows + 1, sum + hash64(row))
    override def toString: String = f"$rows%d:$sum%016x"
  }
  object Digest {
    val empty: Digest = Digest(0, 0)
    def of(rows: Iterable[String]): Digest = rows.foldLeft(empty)(_ add _)
  }

  /** Incremental SHA-256 over generated inputs. */
  final class InputHash {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    def add(s: String): Unit = {
      val b = s.getBytes("UTF-8"); md.update(b); bytes += b.length
    }
    def hex: String = md.clone().asInstanceOf[java.security.MessageDigest]
      .digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** Minimal JSON rendering for Map/Seq/String/Boolean/numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
