package graft.operators

import graft.SparkSpec

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark merges tables fast"),
    (2L, "spark spark spark"),      // high tf, short
    (3L, "tables join tables"),
    (4L, "unrelated words entirely here")
  ).toDF("doc_id", "text")

  private def run(q: String, k: Int = 4) = Bm25.topK(
    docs, "doc_id", "text",
    Seq((1L, q)).toDF("query_id", "qtext"), "query_id", "qtext", k = k)
    .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq

  test("matches a hand-computed single-term score") {
    // term 'spark': df=2, N=4 → idf = ln((4-2+0.5)/(2+0.5)+1) = ln(2)
    // doc 2: tf=3, dl=3, avgdl=(4+3+3+4)/4=3.5
    val r = run("spark")
    val idf = math.log(2.0)
    val norm2 = 3 + 1.2 * (0.25 + 0.75 * 3 / 3.5)
    val expected2 = idf * 3 * 2.2 / norm2
    assert(r.map(_._3).take(2) == Seq(2L, 1L)) // higher tf ranks first
    assert(math.abs(r.head._4 - expected2) < 1e-12)
    assert(r.length == 2) // only matching docs are scored at all
  }

  test("multi-term queries sum per-term partials; rarer terms weigh more") {
    // 'join' (df=1) should outweigh 'spark' (df=2) at equal tf
    val r = run("spark join")
    assert(r.map(_._3).contains(3L) && r.map(_._3).contains(2L))
    val byDoc = r.map(x => x._3 -> x._4).toMap
    // doc 3 has the rare term twice-normalized; sanity: positive scores
    assert(byDoc.values.forall(_ > 0))
  }

  test("query terms are deduplicated (repeating a term does not double-count)") {
    val once = run("spark")
    val twice = run("spark spark")
    assert(once.map(x => (x._3, x._4)) == twice.map(x => (x._3, x._4)))
  }

  test("k bounds the result per query") {
    assert(run("spark tables", k = 1).length == 1)
  }

  test("persisted index: topKIndexed == topK bit-for-bit; corpus pass amortized") {
    val dir = tmpDir("bm25idx") + "/index"
    Bm25.buildIndex(docs, "doc_id", "text", dir)
    val queries = Seq((1L, "spark tables"), (2L, "tables join"))
      .toDF("query_id", "qtext")
    val direct = Bm25.topK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val indexed = Bm25.topKIndexed(spark, dir, queries, "query_id", "qtext", k = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(indexed === direct)
    // the index survives a fresh corpus-free search (amortization proof:
    // no reference to `docs` anywhere in the indexed plan)
    val plan = Bm25.topKIndexed(spark, dir,
      queries, "query_id", "qtext", k = 2).queryExecution.optimizedPlan.toString
    // index side reads parquet relations; the docs frame appears nowhere
    assert(plan.contains("parquet") && !plan.contains("ExistingRDD"), plan)
  }

  test("topK construction launches NO driver actions (scalars ride the plan)") {
    // the old formulation ran docs.count() + dl.agg().head() at CALL
    // time — two extra full tokenize passes before the query even ran.
    // Pin the fix: building the frame must start zero Spark jobs.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Bm25.topK(docs, "doc_id", "text",
        Seq((1L, "spark tables")).toDF("query_id", "qtext"),
        "query_id", "qtext", k = 3)
      Thread.sleep(1000) // listener bus is async — let it drain
      assert(jobs.get() === 0,
        s"topK construction launched ${jobs.get()} job(s)")
      assert(df.count() === 3)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("appendToIndex == full rebuild: stats and search results identical") {
    val more = Seq(
      (5L, "spark tables again"),
      (6L, "join join fast"),
      (7L, "")                       // tokenless doc: counts toward N only
    ).toDF("doc_id", "text")
    val incDir = tmpDir("bm25inc") + "/index"
    Bm25.buildIndex(docs, "doc_id", "text", incDir)
    Bm25.appendToIndex(more, "doc_id", "text", incDir)
    val fullDir = tmpDir("bm25full") + "/index"
    Bm25.buildIndex(docs.unionByName(more), "doc_id", "text", fullDir)

    def stats(dir: String) = {
      val head = graft.sources.IndexStore.head(spark, dir)
      (head.read(spark, "postings")
        .as[(Long, Long, Long)].collect().sorted.toSeq,
      head.read(spark, "doclens")
        .as[(Long, Long)].collect().sorted.toSeq,
      head.read(spark, "termstats")
        .as[(Long, Long)].collect().sorted.toSeq,
      (head("n").toDouble, head("avgdl").toDouble))
    }
    assert(stats(incDir) === stats(fullDir))

    val queries = Seq((1L, "spark tables"), (2L, "join fast"))
      .toDF("query_id", "qtext")
    def res(dir: String) =
      Bm25.topKIndexed(spark, dir, queries, "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
    assert(res(incDir) === res(fullDir))

    // re-appending an already-indexed doc fails fast
    val e = intercept[IllegalArgumentException] {
      Bm25.appendToIndex(Seq((5L, "dup")).toDF("doc_id", "text"),
        "doc_id", "text", incDir)
    }
    assert(e.getMessage.contains("already indexed"))
  }

  test("a torn mid-append index is refused, not silently served") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.{IndexStore, ParquetTable}
    val dir = tmpDir("bm25torn") + "/index"
    Bm25.buildIndex(docs, "doc_id", "text", dir)
    val queries = Seq((1L, "spark")).toDF("query_id", "qtext")
    def res(d: String) = Bm25.topKIndexed(spark, d, queries, "query_id", "qtext", k = 5)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    val before = res(dir)
    val head = IndexStore.head(spark, dir)
    // simulate a crash AFTER the append staged its postings and doclens
    // but BEFORE the manifest CAS: doc 99 (a copy of doc 2, which would
    // rank first for "spark") lands in a data dir no version names
    val staged = s"$dir/_d${System.currentTimeMillis()}_0"
    head.read(spark, "postings").filter(col("doc_id") === 2L)
      .withColumn("doc_id", lit(99L)).write.parquet(s"$staged/postings")
    head.read(spark, "doclens").filter(col("doc_id") === 2L)
      .withColumn("doc_id", lit(99L)).write.parquet(s"$staged/doclens")
    // the torn append is not served: same version, same results
    assert(IndexStore.head(spark, dir).version === head.version)
    assert(res(dir) === before)
    assert(!res(dir).exists(_._3 == 99L))
    assert(ParquetTable.fsck(spark, dir).collect().map(r => (r.getString(0), r.getString(2)))
      .toSeq === Seq(("orphan_dir", staged.split('/').last)))
    // the next append builds on the committed version only: it equals a
    // rebuild that never saw doc 99, and vacuum reclaims the staged dir
    val fresh = Seq((8L, "fresh spark text")).toDF("doc_id", "text")
    Bm25.appendToIndex(fresh, "doc_id", "text", dir)
    val rebuilt = tmpDir("bm25torn_full") + "/index"
    Bm25.buildIndex(docs.unionByName(fresh), "doc_id", "text", rebuilt)
    assert(res(dir) === res(rebuilt))
    ParquetTable.vacuum(spark, dir)
    assert(ParquetTable.fsck(spark, dir).count() === 0)
    assert(res(dir) === res(rebuilt))
  }
}
