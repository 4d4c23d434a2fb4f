package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** End-to-end: CSV fixtures → validate → dedup → merge → views → smoke
  * queries → archive (the reference's whole state machine in-process,
  * SURVEY §3.1-3.2).
  */
class PipelineSpec extends SparkSpec {

  private def writeFixtures(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir, "orders"))
    Files.createDirectories(Paths.get(dir, "order_items"))
    Files.writeString(Paths.get(dir, "products.csv"),
      """product_id,department_id,department,product_name
        |501,1,produce,apple
        |502,2,dairy,milk
        |503,2,dairy,
        |501,1,produce,apple
        |""".stripMargin) // 1 null name (rejected), 1 duplicate pk
    val ohdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(dir, "orders", "2025-04-01.csv"),
      ohdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n" +
        "2,102,2,2025-04-01 11:00:00,-3.0,2025-04-01\n") // bad amount
    Files.writeString(Paths.get(dir, "orders", "2025-04-02.csv"),
      ohdr + "3,103,1,2025-04-02 10:00:00,20.0,2025-04-02\n")
    val ihdr = "id,order_id,user_id,days_since_prior_order,product_id," +
      "add_to_cart_order,reordered,order_timestamp,date\n"
    Files.writeString(Paths.get(dir, "order_items", "2025-04-01.csv"),
      ihdr + "1,101,1,3,501,1,0,2025-04-01 10:00:00,2025-04-01\n" +
        "2,101,1,3,999,2,0,2025-04-01 10:00:00,2025-04-01\n" + // dangling product
        "3,999,1,3,501,3,0,2025-04-01 10:00:00,2025-04-01\n")  // dangling order
  }

  test("full pipeline: counts, rejects, dedup, views, idempotent rerun") {
    val root = tmpDir("pipeline")
    val input = s"$root/raw"
    writeFixtures(input)
    val cfg = Pipeline.Config(
      inputDir = input,
      outputDir = s"$root/curated",
      rejectedDir = s"$root/rejected",
      archiveDir = Some(s"$root/archive"))

    /** Runs the pipeline; the run's rejected writes must stamp one non-null
      * `rejection_time` per table, taken within the call, and the run must
      * leave the session conf as it found it.
      */
    def runChecked(): Map[String, Pipeline.TableResult] = {
      val confBefore = spark.conf.getAll
      val stampsBefore = rejectionTimes(cfg)
      val start = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MICROS)
      val out = Pipeline.run(spark, cfg).map(r => r.name -> r).toMap
      val end = java.time.Instant.now()
      assert(spark.conf.getAll === confBefore, "Pipeline.run must restore the session conf")
      for ((t, stamps) <- rejectionTimes(cfg)) {
        val fresh = stamps -- stampsBefore.getOrElse(t, Set.empty)
        assert(fresh.size === 1, s"$t: one rejection_time per write, got $fresh")
        val at = fresh.head.getOrElse(fail(s"$t: NULL rejection_time"))
        assert(!at.isBefore(start) && !at.isAfter(end), s"$t: $at outside [$start, $end]")
      }
      out
    }

    val results = runChecked()

    // products: 4 in, 1 rejected (null name), dup pk collapsed → 2 merged
    assert(results("products").inputRows === 4)
    assert(results("products").rejectedRows === 1)
    assert(results("products").mergedRows === 2)
    // orders: 3 in, 1 rejected (negative amount) → 2 merged
    assert(results("orders").inputRows === 3)
    assert(results("orders").rejectedRows === 1)
    assert(results("orders").mergedRows === 2)
    // order_items: 3 in, 2 rejected (dangling FKs) → 1 merged.
    // RI checks run against the *merged* upstream tables: order 102 was
    // rejected upstream, so only 101/103 are valid parents.
    assert(results("order_items").inputRows === 3)
    assert(results("order_items").rejectedRows === 2)
    assert(results("order_items").mergedRows === 1)

    // Athena-layer views exist and answer SQL
    assert(spark.sql("SELECT * FROM clean_products").count() === 2)
    assert(spark.sql("SELECT * FROM clean_orders_items LIMIT 5").count() === 1)

    // rejected sink carries metadata columns
    val rej = spark.read.parquet(s"$root/rejected/orders")
    assert(rej.columns.contains("validation_errors"))
    assert(rej.columns.contains("rejection_time"))
    assert(rej.columns.contains("job_name"))

    // archive moved the CSVs out of the input dir
    assert(!Files.exists(Paths.get(input, "products.csv")))
    assert(Files.exists(Paths.get(s"$root/archive", "products.csv")))

    // replaying the same input is a no-op on the curated tables (MERGE
    // idempotency — the reference's EventBridge-rerun safety)
    writeFixtures(input)
    val again = runChecked()
    assert(again("products").mergedRows === 2)
    assert(again("orders").mergedRows === 2)
    assert(again("order_items").mergedRows === 1)

    // the crawler state (delta-lake.json:106-146): post-ETL, statistics
    // reach the catalog entries the analysts query through — the
    // Athena-layer SQL plans from exact row counts under CBO
    val crawled = Pipeline.crawl(spark, cfg)
    assert(crawled.toSet ===
      Set("clean_products", "clean_orders", "clean_orders_items"))
    val old = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("clean_orders")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount === Some(BigInt(2)))
      assert(stats.attributeStats.toSeq.exists { case (a, s) =>
        a.name == "order_id" && s.distinctCount.contains(BigInt(2))
      }, "pk NDV must reach the catalog entry")
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  /** Empties Spark's codegen cache (a private field of `CodeGenerator`), so
    * a load's compile count does not depend on what earlier tests left
    * there: the first load then compiles every class it needs.
    */
  private def clearCodegenCache(): Unit = {
    val gen = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getField("MODULE$").get(null)
    val field = gen.getClass.getDeclaredMethod("cache")
    field.setAccessible(true)
    val cache = field.invoke(gen)
    cache.getClass.getMethod("loadingCache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[_, _]].invalidateAll()
  }

  /** Distinct `rejection_time` values (NULL as None) in each table's rejected sink. */
  private def rejectionTimes(cfg: Pipeline.Config): Map[String, Set[Option[java.time.Instant]]] =
    Seq("products", "orders", "order_items").flatMap { t =>
      val dir = s"${cfg.rejectedDir}/$t"
      if (!Files.exists(Paths.get(dir))) None
      else Some(t -> spark.read.parquet(dir).select("rejection_time").distinct().collect()
        .map(r => Option(r.getTimestamp(0)).map(_.toInstant)).toSet)
    }.toMap

  test("processDataset: one accounting pass, a bounded number of Spark jobs per table") {
    val root = tmpDir("pipeline-jobs")
    val cfg = Pipeline.Config(inputDir = s"$root/raw", outputDir = s"$root/curated",
      rejectedDir = s"$root/rejected")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    /** (input, valid, rejected, merged, jobs) per table, in run order, and
      * the classes the load's processDataset calls compiled — from an empty
      * codegen cache, so every class the load needs, each once per class
      * loader that asks for it. */
    def load(): (Seq[(String, (Long, Long, Long, Long, Int))], Long) = {
      clearCodegenCache()
      writeFixtures(cfg.inputDir)
      val refs = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
      var compiled = 0L
      val tables = graft.schemas.Schemas.all.map { spec =>
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
        jobs.set(0)
        val c0 = compiles.getCount
        val r = Pipeline.processDataset(spark, cfg, spec, refs.toMap)
        compiled += compiles.getCount - c0
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
        val n = jobs.get()
        refs(spec.name) = graft.sources.ParquetTable.read(spark, Pipeline.tablePath(cfg, spec.name))
        spec.name -> ((r.inputRows, r.validRows, r.rejectedRows, r.mergedRows, n))
      }
      (tables, compiled)
    }
    spark.sparkContext.addSparkListener(listener)
    val ((initial, c1), (replay, c2), (warm, c3)) =
      try (load(), load(), load())
      finally spark.sparkContext.removeSparkListener(listener)
    val counts = Seq(
      "products" -> ((4L, 3L, 1L, 2L)),
      "orders" -> ((3L, 2L, 1L, 2L)),
      "order_items" -> ((3L, 1L, 2L, 1L)))
    // jobs per table with one accounting pass and one dedup, the merge's
    // partition set taken from that pass and the merged rows from the
    // footers; four separate counting actions and a stacked dedup ran
    // 16/16/20 on the initial load and 22/22/25 on the replay, and a
    // distinct+semi-join partition set and a recount scan 11/11/15 and 16/16/20
    val maxJobs = Seq(
      initial -> Map("products" -> 6, "orders" -> 6, "order_items" -> 9),
      replay -> Map("products" -> 8, "orders" -> 8, "order_items" -> 11),
      warm -> Map("products" -> 8, "orders" -> 8, "order_items" -> 11))
    for ((run, bound) <- maxJobs) {
      assert(run.map { case (t, (i, v, r, m, _)) => t -> ((i, v, r, m)) } === counts)
      for ((t, (_, _, _, _, n)) <- run)
        assert(n <= bound(t), s"$t: processDataset launched $n Spark jobs, at most ${bound(t)} expected")
    }
    // A warm load (the replay and the third load merge into existing
    // tables) reuses its classes from the previous load only if they all
    // fit Spark's codegen cache; above its capacity the LRU drops them
    // before the next load asks again, and every load recompiles (129
    // classes per warm load when the accounting pass, the partition set,
    // the FK checks and the recount each ran their own aggregate or scan).
    val capacity = spark.conf.get("spark.sql.codegen.cache.maxEntries").toLong
    assert(c1 > 0 && c2 >= c1 && c3 <= capacity,
      s"classes per load: $c1, $c2, $c3 — a warm load needs at most the cache's $capacity")
  }
}
