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

    val results = Pipeline.run(spark, cfg).map(r => r.name -> r).toMap

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
    val again = Pipeline.run(spark, cfg).map(r => r.name -> r).toMap
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
    /** (input, valid, rejected, merged, jobs) per table, in run order. */
    def load(): Seq[(String, (Long, Long, Long, Long, Int))] = {
      writeFixtures(cfg.inputDir)
      val refs = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
      graft.schemas.Schemas.all.map { spec =>
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
        jobs.set(0)
        val r = Pipeline.processDataset(spark, cfg, spec, refs.toMap)
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
        val n = jobs.get()
        refs(spec.name) = graft.sources.ParquetTable.read(spark, Pipeline.tablePath(cfg, spec.name))
        spec.name -> ((r.inputRows, r.validRows, r.rejectedRows, r.mergedRows, n))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (initial, replay) =
      try (load(), load())
      finally spark.sparkContext.removeSparkListener(listener)
    val counts = Seq(
      "products" -> ((4L, 3L, 1L, 2L)),
      "orders" -> ((3L, 2L, 1L, 2L)),
      "order_items" -> ((3L, 1L, 2L, 1L)))
    // jobs per table with one accounting pass and one dedup; four separate
    // counting actions and a stacked dedup ran 16/16/20 on the initial load
    // and 22/22/25 on the replay
    val maxJobs = Seq(
      initial -> Map("products" -> 11, "orders" -> 11, "order_items" -> 15),
      replay -> Map("products" -> 16, "orders" -> 16, "order_items" -> 20))
    for ((run, bound) <- maxJobs) {
      assert(run.map { case (t, (i, v, r, m, _)) => t -> ((i, v, r, m)) } === counts)
      for ((t, (_, _, _, _, n)) <- run)
        assert(n <= bound(t), s"$t: processDataset launched $n Spark jobs, at most ${bound(t)} expected")
    }
  }
}
