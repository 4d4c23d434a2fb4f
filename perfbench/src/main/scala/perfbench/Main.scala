package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One closed-loop operation as measured: its wall time; the CPU time
  * of the whole JVM meanwhile and the JIT and GC time in it; whether it
  * ran traced; (traced only) the spans it recorded and the seconds in
  * which a traced Spark job ran; and the loop step it belongs to (-1 for
  * background work such as compaction).
  */
final case class Sample(
    kind: String,
    wallS: Double,
    traced: Boolean,
    spans: Map[String, Trace.Acc],
    cpuS: Double,
    jitS: Double,
    gcS: Double,
    jobWallS: Double,
    unit: Int,
    extra: Map[String, Double] = Map.empty)

/** A benchmark workload. The harness calls `setup` three times on fresh
  * directories (the last one is kept), `warmup` once (before the set-ups
  * when [[warmupFirst]]), then `step` in a
  * closed loop with one client thread until the time is up and
  * `enoughSamples` holds, then `finish`. Samples taken during `warmup`
  * are dropped; its failures still count.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val root: String) {
  val samples = ArrayBuffer.empty[Sample]
  val problems = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** The loop step now running; samples taken meanwhile belong to it. */
  var unit = -1

  def warmup(): Unit
  /** Whether [[warmup]] runs before the set-ups (it needs no state of
    * theirs) so that they are timed warm.
    */
  def warmupFirst: Boolean = false
  def setup(dir: String): Unit
  def step(): Unit
  /** Whether the loop has enough units (samples of a unit >= 0). */
  def enoughSamples(traceRun: Boolean): Boolean
  def finish(): Unit

  /** The end-to-end numbers every workload reports: the median wall and
    * the median process CPU time of one unit of work, and work done per
    * second of unit wall and per CPU second.
    */
  def unitP50: Double
  def workPerS: Double
  def unitCpuP50: Double
  def workPerCpuS: Double
  /** Workload-specific end-to-end figures, under the workload's own names. */
  def endToEndDetail: Map[String, Any]
  /** Workload-specific per-layer figures from the traced samples. */
  def layerMetrics: Map[String, Double]
  def inputs: Map[String, Any]

  /** Run `body` as one measured operation of `kind`. Failures are
    * counted, not rethrown; `check` judges the answer.
    */
  protected def measure[A](kind: String, countAsUnit: Boolean = true)(
      body: => A)(check: A => Option[String]): Option[A] = {
    if (countAsUnit) attempted += 1
    val traced = Trace.active
    val (c0, j0, g0) = (Util.cpuS(), Util.jitS(), Util.gcS())
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val (cpu, jit, gc) = (Util.cpuS() - c0, Util.jitS() - j0, Util.gcS() - g0)
    val (spans, jobWall) = Trace.take()
    res match {
      case Left(e) =>
        failed += 1
        problems += s"$kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
      case Right(a) =>
        samples += Sample(kind, wall, traced, spans, cpu, jit, gc, jobWall, unit)
        check(a).foreach { why =>
          failed += 1
          problems += s"$kind wrong answer: $why".take(400)
        }
        Some(a)
    }
  }

  protected def annotateLast(extra: Map[String, Double]): Unit =
    if (samples.nonEmpty) samples(samples.size - 1) =
      samples.last.copy(extra = samples.last.extra ++ extra)

  /** Median over traced samples that recorded `span`, of `f(acc)`. */
  protected def spanMedian(span: String)(f: Trace.Acc => Double): Option[Double] = {
    val xs = samples.filter(_.traced).flatMap(_.spans.get(span)).map(f).toSeq
    if (xs.isEmpty) None else Some(Util.median(xs))
  }

  protected def tracedMedian(f: Sample => Option[Double]): Option[Double] = {
    val xs = samples.filter(_.traced).flatMap(f).toSeq
    if (xs.isEmpty) None else Some(Util.median(xs))
  }

  /** Median over traced samples whose kind starts with `kind`. */
  protected def extraMedian(key: String, kind: Option[String] = None): Option[Double] = {
    val xs = samples.filter(s => s.traced && kind.forall(s.kind.startsWith))
      .flatMap(_.extra.get(key)).toSeq
    if (xs.isEmpty) None else Some(Util.median(xs))
  }

  /** The standard wall/jobs/task/shuffle set of one span. */
  protected def spanSet(span: String, keys: String*): Map[String, Double] =
    keys.flatMap { k =>
      val f: Trace.Acc => Double = k match {
        case "s" => _.wallNs / 1e9
        case "jobs" => _.jobs.toDouble
        case "task_s" => _.taskMs / 1e3
        case "shuffle_bytes" => _.shuffleBytes.toDouble
        case "bytes_written" => _.outBytes.toDouble
      }
      spanMedian(span)(f).map(v => s"$span.$k" -> v)
    }.toMap
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, out: String, codeId: String)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("root"), m("out"), m.getOrElse("code", "unknown"))
  }

  /** Fixed CPU-only probe: hashes a constant buffer. Diagnostic only —
    * it never retries, drops or edits a sample.
    */
  def calibrate(): Double = {
    val buf = Array.tabulate(1 << 16)(i => (i * 31 + 7).toByte)
    def probe(n: Int) = Util.time {
      var h = 0
      var i = 0
      while (i < n) { h ^= scala.util.hashing.MurmurHash3.bytesHash(buf, i); i += 1 }
      h
    }._2
    probe(200) // compiled before it is timed
    probe(4000)
  }

  /** Traced over untraced wall of the same operations: per kind of
    * operation that ran both ways, the median wall; the traced medians'
    * sum over the untraced medians' sum. Background work is left out.
    */
  def traceOverhead(samples: Seq[Sample]): Double = {
    val units = samples.filter(_.unit >= 0)
    val kinds = units.groupBy(_.kind).values.filter(_.map(_.traced).distinct.size == 2)
    def side(traced: Boolean) =
      kinds.map(ss => Util.median(ss.filter(_.traced == traced).map(_.wallS))).sum
    side(traced = true) / side(traced = false)
  }

  /** `body`'s value, wall seconds and process CPU seconds. */
  def timed[A](body: => A): (A, Double, Double) = {
    val c0 = Util.cpuS()
    val (a, s) = Util.time(body)
    (a, s, Util.cpuS() - c0)
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      val failures = Checks.selfTest()
      failures.foreach(f => System.err.println(s"selftest: $f"))
      println(s"selftest: ${Checks.selfTestCases} cases, ${failures.size} failures")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val args = parse(argv)
    val checkerFailures = Checks.selfTest()
    require(checkerFailures.isEmpty, s"checker self-test failed: $checkerFailures")
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val (spark, sessionS, sessionCpuS) = timed(session(args.root, cores))
    val w: Workload = args.workload match {
      case "daily_load" => new DailyLoad(spark, args.seed, args.root)
      case "table_rw" => new TableRw(spark, args.seed, args.root)
      case "curation" => new Curation(spark, args.seed, args.root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calBefore = calibrate()
    // set-up time: session start + warm-up + the median of 3 state set-ups,
    // in wall and in process CPU seconds
    def warm(): (Double, Double) = {
      val (_, s, c) = timed(w.warmup())
      w.samples.clear()
      (s, c)
    }
    val early = if (w.warmupFirst) warm() else (0.0, 0.0)
    val setups = (1 to 3).map { i =>
      val dir = s"${args.root}/state$i"
      val (_, s, c) = timed(w.setup(dir))
      if (i < 3) Util.deleteTree(dir)
      (s, c)
    }
    val (warmupS, warmupCpuS) = if (w.warmupFirst) early else warm()
    val setupWallS = sessionS + warmupS + Util.median(setups.map(_._1))
    val setupCpuS = sessionCpuS + warmupCpuS + Util.median(setups.map(_._2))

    // closed loop; a traced run first settles for one untraced step that
    // belongs to no unit (the first steps after the warm-up still carry
    // JIT work), then traces steps 2 and 3 of every 4 (ABBA), so the
    // tracing overhead is a same-process ratio that a steady drift over
    // the loop (JIT, growing tables) does not bias
    if (args.trace) Trace.install(spark)
    val settle = if (args.trace) 1 else 0
    val steal0 = Util.cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var op = 0
    while (elapsed < args.seconds || !w.enoughSamples(args.trace)) {
      val k = op - settle
      Trace.active = args.trace && (k % 4 == 1 || k % 4 == 2)
      w.unit = if (k >= 0) op else -1
      w.step()
      op += 1
    }
    w.unit = -1
    val loopS = elapsed
    val steal1 = Util.cpuTicks()
    Trace.active = args.trace
    val (_, finishS) = Util.time(w.finish())
    Trace.active = false
    val calAfter = calibrate()

    val failedFrac = w.failed.toDouble / math.max(1L, w.attempted)
    val correct = w.failed == 0 && w.problems.isEmpty
    val traced = w.samples.filter(_.traced)
    val layers: Map[String, Double] =
      if (!args.trace) Map.empty
      else {
        val perUnit = traced.filter(_.unit >= 0).groupBy(_.unit).values.map { ss =>
          ss.flatMap(_.spans).groupBy(_._1.takeWhile(_ != '.')).map { case (layer, xs) =>
            val accs = xs.map(_._2)
            layer -> (accs.map(_.wallNs).sum / 1e9, accs.map(_.jobs).sum.toDouble,
              accs.map(_.taskMs).sum / 1e3)
          }
        }
        val totals = Seq("sources", "operators", "pipeline", "sql").flatMap { l =>
          val xs = perUnit.map(_.getOrElse(l, (0.0, 0.0, 0.0))).toSeq
          Seq(s"$l.s" -> Util.median(xs.map(_._1)), s"$l.jobs" -> Util.median(xs.map(_._2)),
            s"$l.task_s" -> Util.median(xs.map(_._3)))
        }.toMap
        totals ++ w.layerMetrics + ("trace.overhead" -> traceOverhead(w.samples.toSeq))
      }
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("--add-opens")).toSeq
    val result = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "correct" -> correct,
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "problems" -> w.problems.take(20).toSeq,
      "end_to_end" -> Map(
        "setup_s" -> setupCpuS,
        "setup_wall_s" -> setupWallS,
        "unit_cpu_s.p50" -> w.unitCpuP50,
        "work_per_cpu_s" -> w.workPerCpuS,
        "unit_s.p50" -> w.unitP50,
        "work_per_s" -> w.workPerS),
      "per_layer" -> layers,
      "detail" -> (w.endToEndDetail ++ Map(
        "failed_frac" -> failedFrac,
        "loop_s" -> loopS,
        "finish_s" -> finishS,
        "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS,
          "state_s" -> setups.map(_._1), "session_cpu_s" -> sessionCpuS,
          "warmup_cpu_s" -> warmupCpuS, "state_cpu_s" -> setups.map(_._2)),
        "inputs" -> w.inputs)),
      "regime" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_used" -> cores,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "jvm_flags" -> jvmFlags,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "code" -> args.codeId,
        "calibration_s" -> Map("before" -> calBefore, "after" -> calAfter),
        "loop_steal_frac" -> steal0.zip(steal1).map { case ((s0, t0), (s1, t1)) =>
          (s1 - s0).toDouble / math.max(1L, t1 - t0) }))
    val (_, stopS) = Util.time(spark.stop())
    Util.write(args.out, Util.json(result + ("jvm" -> Map("start_s" -> jvmStartS, "stop_s" -> stopS))))
  }
}
