package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Per-layer accounting for the traced run.
  *
  * `span("sources.merge") { … }` names the code it wraps: the name goes
  * into a Spark local property, so every job the body launches carries
  * it. A listener (the `graft.tools.ShuffleBytes` pattern) maps each
  * job's stages to that name and adds the task metrics of those stages
  * — task time, shuffle, input and output bytes/records — to the span.
  * Spans are flat: a span's jobs belong to it and to no other span. The
  * span's layer is the first dotted component of its name.
  *
  * `phased(first)(phaseOf) { … }` wraps a call whose steps cannot be
  * wrapped one by one, because they run inside graft. Each job it
  * launches is given a phase by `phaseOf(current phase, call stack)`,
  * where the call stack is the one Spark records for the job (its
  * call site, innermost frame first). The body's wall time is divided
  * at the end of each phase's last job: a phase owns the driver time
  * that leads up to its jobs, and the last phase also owns the time
  * after its last job.
  *
  * When tracing is off, `span` and `phased` run their body and nothing
  * else; untraced runs do not install the listener at all.
  */
object Trace {

  final class Acc {
    var wallNs = 0L
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var inBytes = 0L
    var inRows = 0L
    var outBytes = 0L
    var outRows = 0L
  }

  /** The jobs of the running phased call: (phase, end time in ms or -1). */
  private final class Phased(first: String, phaseOf: (String, Seq[String]) => String) {
    var current: String = first
    val jobs = mutable.LinkedHashMap.empty[Int, (String, Long)]
    def classify(stack: Seq[String]): String = { current = phaseOf(current, stack); current }
  }

  private val Key = "perfbench.span"
  private val PhasedKey = "\u0000phased"
  @volatile private var on = false
  private var spark: SparkSession = _
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var phased: Phased = _
  /** (start, end) in ms of every traced job since the last [[take]]. */
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def acc(name: String): Acc = accs.computeIfAbsent(name, _ => new Acc)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).map(_.getProperty(Key)).orNull
      val p = phased
      val span =
        if (prop == PhasedKey && p != null) {
          // the job's final stage has the highest id; its details hold the
          // job's call stack
          val stack = e.stageInfos.maxBy(_.stageId).details.split('\n').toSeq
          p.synchronized {
            val phase = p.classify(stack)
            p.jobs(e.jobId) = (phase, -1L)
            phase
          }
        } else prop
      if (span != null && span != PhasedKey) {
        e.stageIds.foreach(stageSpan.put(_, span))
        jobStart.put(e.jobId, (span, e.time))
        val a = acc(span)
        a.synchronized(a.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val p = phased
      if (p != null) p.synchronized {
        p.jobs.get(e.jobId).foreach { case (phase, _) => p.jobs(e.jobId) = (phase, e.time) }
      }
      Option(jobStart.remove(e.jobId)).foreach { case (_, t0) => jobSpans.add((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) {
        val a = acc(span)
        a.synchronized {
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRows += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  /** Install the listener; spans record only while [[active]] is set.
    * Spark keeps 20 frames of a job's call stack by default; phased
    * calls need the frames down to the call they wrap.
    */
  def install(session: SparkSession): Unit = synchronized {
    if (spark == null) {
      System.setProperty("spark.callstack.depth", "400")
      spark = session
      session.sparkContext.addSparkListener(Listener)
    }
  }

  def installed: Boolean = spark != null
  def active_=(b: Boolean): Unit = { require(!b || spark != null); on = b }
  def active: Boolean = on

  /** Run `body` with tracing set to `b`. */
  def activeWhile[A](b: Boolean)(body: => A): A = {
    val prev = on
    active = b
    try body finally active = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val a = acc(name)
        val dt = System.nanoTime() - t0
        a.synchronized(a.wallNs += dt)
        sc.setLocalProperty(Key, prev)
      }
    }

  def phased[A](first: String)(phaseOf: (String, Seq[String]) => String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      val p = new Phased(first, phaseOf)
      phased = p
      sc.setLocalProperty(Key, PhasedKey)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        sc.setLocalProperty(Key, prev)
        GraftColumnBridge.drainListenerBus(spark)
        phased = null
        val order = p.synchronized(p.jobs.values.toSeq)
        val phases = (first +: order.map(_._1)).distinct
        val ends = phases.map(ph => order.filter(_._1 == ph).map(_._2).foldLeft(t0)(math.max))
        var from = t0
        phases.zipWithIndex.foreach { case (ph, i) =>
          val to = if (i == phases.size - 1) t1 else math.max(from, ends(i))
          val a = acc(ph)
          a.synchronized(a.wallNs += (to - from) * 1000000L)
          from = to
        }
      }
    }

  /** Everything recorded since the last call, after the listener bus has
    * delivered the events of the jobs that already ended: the spans, and
    * the seconds in which at least one traced job ran (jobs can overlap,
    * so this is the union of their intervals, not the sum).
    */
  def take(): (Map[String, Acc], Double) =
    if (!on) (Map.empty, 0.0)
    else {
      GraftColumnBridge.drainListenerBus(spark)
      val out = accs.asScala.toMap
      accs.clear()
      stageSpan.clear()
      val ivs = jobSpans.asScala.toSeq.sortBy(_._1)
      jobSpans.clear()
      var busyMs = 0L
      var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        busyMs += math.max(0L, b - math.max(a, end))
        end = math.max(end, b)
      }
      (out, busyMs / 1e3)
    }
}
