package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Methodology — the goal is steady-state PLAN time (what a long-lived
  * cluster pays per query), not JVM pathology:
  *
  *   - Re-exec: the main respawns itself in a child JVM with JIT flags
  *     sized for Spark whole-stage codegen (2 GiB code cache, huge-method
  *     compilation, extra compiler threads). Without them, the dozens of
  *     large Janino-generated methods overflow the default 240 MiB code
  *     cache / C2 queue and random queries run interpreted for tens of
  *     seconds (measured 10-50× spikes). The respawn keeps the contract
  *     a plain `java graft.Bench` regardless of launcher flags.
  *   - Warmup pass at sf0.001 per query (codegen compile, classloading,
  *     parquet footer caching).
  *   - min-of-2 + agreement-based retries: this environment exhibits
  *     sticky ~30-60 s windows in which ALL JVM work runs 10-50× slow
  *     (verified environmental: same plans, same JVM, stable pure-CPU
  *     baseline; pattern survives AQE off, 2 GiB code cache, tmpfs
  *     shuffle dirs, reduced thread counts). The bench runs TWO full
  *     passes keeping per-query minima, then retries only UNSETTLED
  *     queries — ones without two samples agreeing within 2× of their
  *     min — sleeping ~20 s before each retry pass so it escapes the
  *     window instead of re-sampling it. A query whose every run FAILS
  *     settles after two failed samples (reported -1) — broken queries
  *     must not buy a sleep per remaining pass.
  *   - Per-query FLOORS (bench_floors.json beside the working dir, or
  *     SPARK_GRAFT_FLOORS): agreement alone can ratify a slow window —
  *     two samples inside the same 30-60 s window agree with each other
  *     at 10-50× the true value (round 4 reported a 50× phantom for one
  *     query exactly this way). The floor file carries each query's
  *     cross-round minimum; a settled value > 3× its floor triggers up to
  *     two extra retry passes separated by 75 s sleeps — LONGER than a
  *     window, so at least one retry lands outside the window that fooled
  *     the agreement rule. A genuine code regression survives the retries
  *     and is reported as measured (the floor only forces re-measurement,
  *     never edits results). After each run the file is rewritten with
  *     the new minima, so floors track the best the code has ever done.
  *   - AQE off (override: SPARK_GRAFT_AQE=true): on these tiny local
  *     shuffles AQE's runtime replanning intermittently demoted plans to
  *     10-50× fallbacks; at real scale (large shuffles, skew) AQE is the
  *     correct default and the production pipeline keeps it on (SURVEY §4).
  */
object Bench {

  private val ChildFlag = "SPARK_GRAFT_BENCH_CHILD"

  /** Sticky slow windows run 30-60 s; a floor-triggered retry sleeps
    * LONGER so it cannot land back inside the window it is fleeing.
    */
  private val OutOfWindowSleepMs = 75000L

  private def floorsPath: String =
    sys.env.getOrElse("SPARK_GRAFT_FLOORS", "bench_floors.json")

  /** name → best seconds ever observed (flat numeric JSON we write
    * ourselves; parsed with a regex so the bench needs no JSON library).
    */
  private def loadFloors(): Map[String, Double] = {
    val p = java.nio.file.Paths.get(floorsPath)
    if (!java.nio.file.Files.isReadable(p)) Map.empty
    else {
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** Fold this run's minima into the floor file (best-ever per query;
    * failed/-1 entries never lower a floor). Unwritable path → skip.
    */
  private def saveFloors(results: Seq[(String, Double)]): Unit =
    try {
      val old = loadFloors()
      val merged = (old.keySet ++ results.map(_._1)).toSeq.sorted.flatMap { k =>
        val cur = results.collectFirst { case (`k`, v) if v > 0 => v }
        (old.get(k), cur) match {
          case (Some(o), Some(c)) => Some(k -> math.min(o, c))
          case (Some(o), None) => Some(k -> o)
          case (None, Some(c)) => Some(k -> c)
          case _ => None
        }
      }
      val json = merged.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{\n  ", ",\n  ", "\n}\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(floorsPath), json.getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () }

  private val jitFlags = Seq(
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:+UseCodeCacheFlushing",
    "-XX:-DontCompileHugeMethods",
    "-XX:CICompilerCount=12")

  def main(args: Array[String]): Unit =
    if (!sys.env.contains(ChildFlag) && sys.env.get("SPARK_GRAFT_NO_RESPAWN").isEmpty)
      respawn(args)
    else run()

  /** Re-exec this main in a child JVM with the JIT flags, same classpath,
    * stdout/stderr inherited (the JSON line passes straight through).
    *
    * The child gets its OWN `java.io.tmpdir` (`/tmp/graft_bench_<pid>`),
    * so every fixture dir the battery stages — and everything
    * [[sweepScratch]] may delete — lives under a root no other JVM
    * shares: a concurrent test JVM's live fixtures are structurally
    * unreachable (VERDICT r13 item 5; the old pattern-sweep of the
    * shared /tmp relied on a prose "never run sbt beside a bench"
    * invariant). The parent removes the whole root once the child
    * exits, crash or not.
    */
  private def respawn(args: Array[String]): Unit = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-XX:ReservedCodeCacheSize") ||
        a.startsWith("-agentlib"))
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir", "/tmp"),
      s"graft_bench_${ProcessHandle.current().pid()}")
    root.mkdirs()
    val cmd = (Seq(javaBin) ++ jitFlags ++ inherited ++
      Seq(s"-Djava.io.tmpdir=${root.getAbsolutePath}",
        "-cp", cp, "graft.Bench") ++ args)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put(ChildFlag, "1")
    pb.inheritIO()
    val code = pb.start().waitFor()
    deleteRec(root)
    sys.exit(code)
  }

  /** Battery queries stage their lakehouse fixtures through
    * `Files.createTempDirectory("graft_…")` and leave them to the OS —
    * harmless per query, ~50 GB across a full sf10 battery. Sweep the
    * DEAD fixture dirs (every sample builds its own; nothing re-reads a
    * previous sample's) between samples so the run never measures its
    * own disk pressure.
    *
    * Scope: ONLY inside a `graft_bench_<pid>` root this process's
    * parent created ([[respawn]] points `java.io.tmpdir` there), so the
    * sweep can never name a dir another JVM made — a concurrent sbt
    * test run's live fixtures are structurally out of reach, not merely
    * out of pattern. In a shared tmpdir (a SPARK_GRAFT_NO_RESPAWN run
    * without its own -Djava.io.tmpdir) nothing is swept. Within the
    * owned root, only names carrying createTempDirectory's long random
    * numeric suffix match, which keeps Spark's own live `blockmgr-*`/
    * `spark-*` dirs (also under the root) untouched.
    */
  private def sweepScratch(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    if (!tmp.getName.startsWith("graft_bench_")) return
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        f.getName.matches("graft_[A-Za-z0-9_]*[0-9]{8,}"))
      .foreach(deleteRec)
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(); ()
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "false")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // No broadcast deadline: the default 300 s timeout converts this
      // VM's sticky slow windows into hard job failures (observed: a lazy
      // broadcast future created during warmup timing out minutes later
      // and cancelling the then-current job). On a real cluster the
      // deadline guards against hung executors; single-JVM local has none.
      .config("spark.sql.broadcastTimeout", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query shuffle bytes ride the artifact beside wall seconds:
    // locally the page cache hides exchange cost (merge planner: 1.28×
    // wall, 203× bytes), so bytes are the metric that predicts cluster
    // cost — ScaleCheck gates their decade ratio like wall's
    graft.tools.ShuffleBytes.install(spark)

    // SPARK_GRAFT_SKIP: comma-separated query names to leave out of this
    // run. Used by the multi-decade scaling runs to exclude the
    // quadratic-BY-DESIGN brute-force baselines (q27/q46) whose cost
    // model is already confirmed at a lower scale — at sf10 q46 alone
    // would cost ~70 min/sample by its own measured model. Never set by
    // the driver: its runs always cover the full battery.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // SPARK_GRAFT_ONLY: comma-separated include list — the sf10 scaling
    // runs measure the heavy tail only (a full 138-query battery at sf10
    // costs hours for no extra information). Never set by the driver.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // A typo'd name in either list would silently shrink the run to an
    // empty (or wrong) benchmark that still exits 0 and masquerades as a
    // completed campaign — fail fast naming the unknown entries instead.
    val unknown = (only ++ skip) -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"Bench: unknown query name(s) in SPARK_GRAFT_ONLY/SPARK_GRAFT_SKIP: " +
        unknown.toSeq.sorted.mkString(", "))
    val names = (SparkEntry.queries.keySet -- skip)
      .filter(n => only.isEmpty || only(n)).toSeq.sorted
    // warmup: full plan compile+execute per query at the smallest SF
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    sweepScratch()

    // (shuffle write, shuffle read) of each query's most recent
    // successful sample — bytes are plan-determined, so unlike wall they
    // need no min-of-N treatment
    val shuffle = scala.collection.mutable.Map[String, (Long, Long)]()

    def once(name: String): Double = {
      // dead fixtures from prior samples are swept BEFORE the timer: the
      // lakehouse queries stage ~50 GB of temp tables across a full sf10
      // battery, and an unswept run ends up benchmarking its own disk
      // pressure (observed: /tmp at 100% mid-campaign doubling a
      // commit-bound query's wall)
      sweepScratch()
      val mark = graft.tools.ShuffleBytes.mark(spark)
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      // wall is read BEFORE the byte snapshot: `since` drains the
      // listener bus, and that plumbing must never be inside the timer
      val t = (System.nanoTime() - t0) / 1e9
      if (ok) {
        // single-flight attribution (VERDICT r14 item 4): a byte figure
        // is stored only when nothing else overlapped the bracket — a
        // contaminated sample is dropped LOUDLY (stderr), never written
        // into the artifact as the query's own cost; an earlier clean
        // sample, if any, stands
        val (w, r, exclusive) =
          graft.tools.ShuffleBytes.sinceExclusive(spark, mark)
        if (exclusive) shuffle(name) = (w, r)
        else System.err.println(
          s"[bench] $name: shuffle bytes dropped (concurrent work " +
            "overlapped the measurement bracket)")
        t
      } else Double.MaxValue
    }

    // Two full passes over every query, then targeted retries. A query is
    // SETTLED once two samples agree within 2× of its minimum: the slow
    // windows inflate 10-50×, so agreement means both samples were clean —
    // magnitude alone is not suspicion (a genuinely-5 s query must not be
    // re-measured on every healthy run). Unsettled queries retry in later
    // passes, each preceded by a ~20 s sleep: the windows run 30-60 s, so
    // an IMMEDIATE retry tends to land back inside the one it is fleeing.
    // floors are sf0.1 history — a run at another SF must neither consult
    // nor rewrite them (explicit SPARK_GRAFT_FLOORS opts back in)
    val floorsEnabled = sys.env.contains("SPARK_GRAFT_FLOORS") ||
      new java.io.File(sfDir).getName == "sf0.1"
    val floors = if (floorsEnabled) loadFloors() else Map.empty[String, Double]
    val samples = scala.collection.mutable.Map[String, List[Double]](
      names.map(n => n -> List.empty[Double]): _*)
    def measure(n: String): Unit = samples(n) = once(n) :: samples(n)
    def minOf(n: String): Option[Double] = {
      val ok = samples(n).filter(_ != Double.MaxValue)
      if (ok.isEmpty) None else Some(ok.min)
    }
    // a permanently-broken query settles as FAILED after two failed
    // samples — otherwise every remaining pass pays its sleep + re-run
    def settledFailed(n: String): Boolean =
      samples(n).size >= 2 && samples(n).forall(_ == Double.MaxValue)
    def settled(n: String): Boolean = settledFailed(n) || {
      val ok = samples(n).filter(_ != Double.MaxValue)
      ok.nonEmpty && ok.count(_ <= ok.min * 2) >= 2
    }
    names.foreach(measure)
    names.foreach(measure)
    (2 until math.max(reps, 3)).foreach { _ =>
      val unsettled = names.filterNot(settled)
      if (unsettled.nonEmpty) {
        Thread.sleep(20000)
        unsettled.foreach(measure)
      }
    }
    // floor check: agreement can ratify a slow window (two samples inside
    // the same window agree at 10-50× true cost). A settled value above
    // its bar — 3× the query's cross-round floor, 2× when the floor is
    // above 2 s, where a slow window's few seconds are a smaller multiple
    // (q141 settled at 19.46 s over its 6.6 s floor, under the 3× bar) —
    // forces retries separated by MORE than a window length; the measured
    // min always wins — floors never edit results, they only force
    // re-measurement.
    def suspicious(): Seq[String] = names.filter { n =>
      !settledFailed(n) && (for {f <- floors.get(n); m <- minOf(n)}
        yield f > 0 && m > (if (f > 2.0) 2 else 3) * f).getOrElse(false)
    }
    var floorPasses = 0
    while (suspicious().nonEmpty && floorPasses < 2) {
      Thread.sleep(OutOfWindowSleepMs)
      suspicious().foreach(measure)
      floorPasses += 1
    }
    val results = names.map(n => n -> minOf(n).getOrElse(-1.0))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val ex = extras(spark, sfDir, floors)
    if (floorsEnabled) saveFloors(results ++ ex.filter(_._1.endsWith("_sec")))
    val exJson = ex.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // bytes live in the PERSISTED line only — the stdout tail is
    // byte-budgeted (see below) and the driver parses seconds; the
    // committed BENCH_SF* artifacts carry the bytes for ScaleCheck
    def bytesJson(pick: ((Long, Long)) => Long) = names
      .flatMap(n => shuffle.get(n).map(b => "\"" + n + "\":" + pick(b)))
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"extras":$exJson,""" +
      s""""shuffle_write_bytes":${bytesJson(_._1)},""" +
      s""""shuffle_read_bytes":${bytesJson(_._2)},"sf":"$sfDir"}"""
    // Full-precision line + extras persist to a file: the harness stores
    // only a bounded 2,000-byte stdout TAIL, and rounds 5/6 lost the line's
    // head to that cap ("parsed": null, 48 of 72 timings recoverable). The
    // file survives truncation and gets committed with the round snapshot.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => () }
    spark.stop()
    // stdout carries ONE COMPACT line that MUST fit the driver's
    // 2,000-byte stdout tail whole (with room for a trailing sbt
    // "[success]" line): round 8's line used full query names + 3
    // decimals and overflowed the tail — "parsed": null. Short keys
    // (the qNN prefix — unique by construction, verified below, full
    // name kept on any collision), 2-decimal timings, extras only if
    // they still fit, and a final keys-only fallback guarantee <1900.
    // Emitted after spark.stop() so nothing can follow it on stdout.
    def r2(v: Double) = if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val shortOk = results.map(_._1.takeWhile(_ != '_')).distinct.size == results.size
    def key(k: String) = if (shortOk) k.takeWhile(_ != '_') else k
    val qs2 = results.map { case (k, v) => "\"" + key(k) + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val ex2 = ex.map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    def compact(withExtras: Boolean, withQueries: Boolean = true) = {
      val e = if (withExtras) s""","extras":$ex2""" else ""
      val q = if (withQueries) s""","queries":$qs2""" else ""
      s"""{"metric":"total","value":${r2(total)},"unit":"sec"$q$e,"sf":"$sfDir"}"""
    }
    val candidates = Seq(compact(true), compact(false), compact(false, false))
    println(candidates.find(_.length <= 1900).getOrElse(candidates.last))
  }

  /** Supplementary scale measurements, reported beside (not inside) the
    * query battery:
    *
    *   - x_ivf_build_sec / x_ivf_search_sec / x_ivf_search_probe2_sec:
    *     q30's time includes the k-means index build; these split the
    *     amortized build from the per-query search (full-probe = exact,
    *     probe-2 = the sub-linear path).
    *   - x_stream_upsert_sec / x_stream_upsert_rows: AvailableNow CSV →
    *     validate → dedup → MERGE end-to-end at bench scale (CSV
    *     generation excluded); rows/s = rows / sec. Min-of-2 with fresh
    *     table/checkpoint dirs per rep (a checkpoint REPLAY would measure
    *     a no-op). The write clusters rows
    *     onto their DATE partitions first (ParquetTable.clusterByPartitions)
    *     so ~2,400 partition dirs get one file each, not one per task each
    *     (unclustered this same ingest scattered ~19k files and took ~18×
    *     longer).
    *   - x_skip_optimize_sec / x_skip_unclustered_sec /
    *     x_skip_zordered_sec / x_skip_kept_files / x_skip_total_files:
    *     OPTIMIZE ZORDER cost, then the same selective 2-D filter over
    *     lineitem before and after clustering (after = GraftFileIndex
    *     prunes by footer-stats sidecars), plus the pruning ratio itself.
    *
    * IVF entries are min-of-2 (the VM's slow windows hit single runs
    * hard — see the retry-pass note above). Failures degrade to a -1
    * entry rather than killing the bench line. The `_sec` extras get the
    * same floor treatment as the query battery: best > 3× the
    * cross-round floor forces ONE extra rep after an out-of-window
    * sleep — round 4's x_stream_upsert 6× "regression" was min-of-2 with
    * both samples plausibly inside one slow window, exactly the artifact
    * this closes.
    */
  private def extras(
      spark: SparkSession, sfDir: String,
      floors: Map[String, Double]): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def timed(name: String, reps: Int = 2)(body: => Unit): Unit = {
      var best = Double.MaxValue
      try {
        (1 to reps).foreach { _ =>
          val t0 = System.nanoTime()
          body
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        if (floors.get(name).exists(f => f > 0 && best > 3 * f)) {
          Thread.sleep(OutOfWindowSleepMs)
          val t0 = System.nanoTime()
          body
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        out += name -> best
      } catch {
        case _: Throwable =>
          out += name -> (if (best == Double.MaxValue) -1.0 else best)
      }
    }
    // the two-tier aggregates: the approx (100 TB) tier beside its exact
    // oracle-checked twin — the delta is what bounded mergeable state
    // buys at bench scale (and the approx tier must never be slower)
    try {
      timed("x_approx_percentile_sec") {
        graft.queries.ParityQueries.approxPercentiles(spark, sfDir).count()
      }
      timed("x_approx_distinct_sec") {
        graft.queries.ParityQueries.approxDistinct(spark, sfDir).count()
      }
    } catch { case _: Throwable => out += "x_approx_percentile_sec" -> -1.0 }

    try {
      val emb = graft.queries.Tables.embeddings(spark, sfDir)
      var idx: graft.operators.IvfAnn.Index = null
      timed("x_ivf_build_sec") {
        if (idx != null) idx.assigned.unpersist()
        idx = graft.operators.IvfAnn.build(emb, "vec_id", "embedding",
          nCentroids = 8, maxIter = 2) // q30's parameters
        idx = idx.copy(assigned =
          idx.assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        idx.assigned.count() // materialize the inverted file
      }
      val queries = emb.filter(col("vec_id") < 5)
      timed("x_ivf_search_sec") {
        graft.operators.IvfAnn.topK(idx, queries, "vec_id", "embedding",
          k = 5, nProbe = 8).count()
      }
      timed("x_ivf_search_probe2_sec") {
        graft.operators.IvfAnn.topK(idx, queries, "vec_id", "embedding",
          k = 5, nProbe = 2).count()
      }
      idx.assigned.unpersist()
    } catch { case _: Throwable => out += "x_ivf_build_sec" -> -1.0 }

    try {
      // bench-scale streaming ingest: TPC-H orders reshaped to the curated
      // e-commerce schema, split into 8 "daily" CSV files
      val root = java.nio.file.Files.createTempDirectory("graft_bench_stream").toString
      val n = {
        val src = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(
            (col("o_orderkey") % 100000).cast("int").as("order_num"),
            col("o_orderkey").cast("int").as("order_id"),
            col("o_custkey").cast("int").as("user_id"),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("order_timestamp"),
            col("o_totalprice").as("total_amount"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"))
        src.repartition(8).write.option("header", "true").csv(s"$root/in")
        src.count()
      }
      out += "x_stream_upsert_rows" -> n.toDouble
      // min-of-2 like the other extras — but a checkpoint replay would
      // measure a no-op, so each rep ingests into FRESH table/checkpoint
      // dirs (the shared CSV input is already generated above)
      var streamRep = 0
      timed("x_stream_upsert_sec", reps = 2) {
        streamRep += 1
        graft.streaming.StreamingIngest.csvStreamUpsert(spark, s"$root/in",
          graft.schemas.Schemas.ordersSpec, s"$root/table$streamRep",
          s"$root/ckpt$streamRep")
          .awaitTermination()
      }
    } catch { case _: Throwable => out += "x_stream_upsert_sec" -> -1.0 }

    try {
      // data skipping: the same 2-D selective filter over lineitem as a
      // versioned table BEFORE (v1, unclustered — stats exist but ranges
      // are table-wide, nothing prunes) and AFTER OPTIMIZE ZORDER (v2 —
      // the GraftFileIndex serves only the files whose intervals match).
      // The kept/total extras make the pruning ratio itself a tracked
      // number, not just its timing shadow.
      val root = java.nio.file.Files.createTempDirectory("graft_bench_skip").toString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      // v1 gets the SAME file count as the z-ordered v2, so the before/
      // after delta is clustering + skipping, not file-size effects
      graft.sources.ParquetTable.create(li.repartition(32), s"$root/t") // v1
      timed("x_skip_optimize_sec") { // min-of-2: each rep republishes
        graft.sources.ParquetTable.optimize(spark, s"$root/t",
          Seq("l_orderkey", "l_partkey"), numFiles = 32)
      }
      // ~5% × ~5% 2-D selectivity at ANY scale factor
      val mx = li.agg(max(col("l_partkey")), max(col("l_orderkey"))).head()
      val pred = col("l_partkey") <= mx.getLong(0) / 20 &&
        col("l_orderkey") <= mx.getLong(1) / 20
      timed("x_skip_unclustered_sec") {
        graft.sources.ParquetTable.readAt(spark, s"$root/t", 1L).filter(pred).count()
      }
      timed("x_skip_zordered_sec") {
        graft.sources.ParquetTable.read(spark, s"$root/t").filter(pred).count()
      }
      val cur = graft.sources.ParquetTable.currentVersion(spark, s"$root/t").get
      val groups = graft.sources.ParquetTable.prunedFileGroups(
        spark, s"$root/t", cur, pred)
      val total = graft.sources.ParquetTable.prunedFileGroups(
        spark, s"$root/t", cur, lit(true))
      out += "x_skip_kept_files" -> groups.map(_._2.size).sum.toDouble
      out += "x_skip_total_files" -> total.map(_._2.size).sum.toDouble
    } catch { case _: Throwable => out += "x_skip_zordered_sec" -> -1.0 }
    out.toSeq
  }
}
