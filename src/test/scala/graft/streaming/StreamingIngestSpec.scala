package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.schemas.Schemas
import graft.sources.ParquetTable

class StreamingIngestSpec extends SparkSpec {

  test("csvStreamUpsert: AvailableNow batch lands validated rows via MERGE, incrementally") {
    val root = tmpDir("stream")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val hdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(in, "day1.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n" +
        "2,102,2,2025-04-01 11:00:00,-3.0,2025-04-01\n") // invalid amount

    val q1 = StreamingIngest.csvStreamUpsert(spark, in, Schemas.ordersSpec,
      s"$root/table", s"$root/ckpt")
    q1.awaitTermination()
    assert(ParquetTable.read(spark, s"$root/table").count() === 1)

    // second trigger: only the NEW file is processed (checkpoint), and the
    // replayed order 101 update + new 103 both land (MERGE semantics)
    Files.writeString(Paths.get(in, "day2.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,99.0,2025-04-01\n" +
        "3,103,3,2025-04-02 09:00:00,7.0,2025-04-02\n")
    val q2 = StreamingIngest.csvStreamUpsert(spark, in, Schemas.ordersSpec,
      s"$root/table", s"$root/ckpt")
    q2.awaitTermination()
    val rows = ParquetTable.read(spark, s"$root/table")
      .collect().map(r => r.getInt(r.fieldIndex("order_id")) ->
        r.getDouble(r.fieldIndex("total_amount"))).toMap
    assert(rows === Map(101 -> 99.0, 103 -> 7.0))
  }

  test("csvStreamUpsert with txnAppId: a from-scratch replay commits nothing") {
    val root = tmpDir("stream-txn")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val hdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(in, "day1.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n")
    val spec = Schemas.ordersSpec.copy(partitionColumns = Nil)
    StreamingIngest.csvStreamUpsert(spark, in, spec, s"$root/table",
      s"$root/ckpt", txnAppId = Some("orders_stream")).awaitTermination()
    assert(ParquetTable.read(spark, s"$root/table").count() === 1)
    assert(ParquetTable.lastTxnVersion(spark, s"$root/table", "orders_stream")
      === Some(0L)) // first micro-batch id
    // lose the checkpoint entirely (worst-case redelivery): the stream
    // reprocesses day1 as batch 0 again, and the txn marker — not PK
    // idempotence — skips the whole commit: still exactly one version
    StreamingIngest.csvStreamUpsert(spark, in, spec, s"$root/table",
      s"$root/ckpt-rebuilt", txnAppId = Some("orders_stream")).awaitTermination()
    assert(ParquetTable.currentVersion(spark, s"$root/table") === Some(1L))
    assert(ParquetTable.read(spark, s"$root/table").count() === 1)
  }

  test("csvStreamUpsert txnAppId + partitioned spec creates a versioned table") {
    val root = tmpDir("stream-txn-part")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val hdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(in, "day1.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n")
    StreamingIngest.csvStreamUpsert(spark, in, Schemas.ordersSpec, s"$root/table",
      s"$root/ckpt", txnAppId = Some("part_stream")).awaitTermination()
    assert(ParquetTable.currentVersion(spark, s"$root/table") === Some(1L))
    assert(ParquetTable.partitionEntries(spark, s"$root/table", 1L).isDefined)
    assert(ParquetTable.lastTxnVersion(spark, s"$root/table", "part_stream")
      === Some(0L))
    assert(ParquetTable.read(spark, s"$root/table").count() === 1)
  }

  test("csvStreamAppend: O(rows) appends per batch; txn replay commits nothing") {
    val root = tmpDir("stream-append")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val hdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(in, "day1.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n" +
        "2,102,2,2025-04-01 11:00:00,-3.0,2025-04-01\n") // invalid amount
    val spec = Schemas.ordersSpec.copy(partitionColumns = Nil)
    // append target must exist: create v1 from an empty conforming frame
    ParquetTable.create(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spec.schema), s"$root/table")
    StreamingIngest.csvStreamAppend(spark, in, spec, s"$root/table",
      s"$root/ckpt", txnAppId = Some("append_stream")).awaitTermination()
    assert(ParquetTable.read(spark, s"$root/table").count() === 1) // invalid dropped
    // incremental second file: appended as ONE more commit, no rewrite of
    // existing dirs (append = duplicate-keeping — same order_id re-lands)
    Files.writeString(Paths.get(in, "day2.csv"),
      hdr + "3,101,1,2025-04-02 09:00:00,7.0,2025-04-02\n")
    StreamingIngest.csvStreamAppend(spark, in, spec, s"$root/table",
      s"$root/ckpt", txnAppId = Some("append_stream")).awaitTermination()
    assert(ParquetTable.read(spark, s"$root/table").count() === 2)
    val ids = ParquetTable.read(spark, s"$root/table")
      .collect().map(_.getInt(1)).sorted
    assert(ids === Array(101, 101)) // INSERT keeps the duplicate key
    // worst-case redelivery: checkpoint lost, both files reprocess as
    // batches 0..1 again — txn markers skip both commits wholesale
    val vBefore = ParquetTable.currentVersion(spark, s"$root/table")
    StreamingIngest.csvStreamAppend(spark, in, spec, s"$root/table",
      s"$root/ckpt-rebuilt", txnAppId = Some("append_stream")).awaitTermination()
    assert(ParquetTable.currentVersion(spark, s"$root/table") === vBefore)
    assert(ParquetTable.read(spark, s"$root/table").count() === 2)
  }

  test("streamDedupIngest: cross-batch dedup through the fingerprint store") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-dedup")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def write(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$in/$name")

    // batch 1: 3 and a whitespace/case variant of 1 → 1,2 survive
    write("b1", 1L -> "the quick brown fox", 2L -> "something else entirely",
      3L -> "  The QUICK  brown fox ")
    StreamingIngest.streamDedupIngest(spark, s"$in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/fps", s"$root/ckpt").awaitTermination()
    val got1 = ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted
    assert(got1 === Seq(1L, 2L))

    // batch 2: replay of 2's text under a new id + genuinely new doc
    write("b2", 10L -> "something  ELSE entirely", 11L -> "fresh batch-two content")
    StreamingIngest.streamDedupIngest(spark, s"$in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/fps", s"$root/ckpt").awaitTermination()
    val got2 = ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted
    assert(got2 === Seq(1L, 2L, 11L))
    assert(spark.read.parquet(s"$root/fps").select("fp").distinct().count() === 3)
  }

  test("streamBloomDedupIngest: bloom-guarded cross-batch dedup, filter folds forward") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-bloom")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def write(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$in/$name")
    def run(): Unit = StreamingIngest.streamBloomDedupIngest(
      spark, s"$in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/fps", s"$root/bloom",
      expectedItems = 1000L, s"$root/ckpt").awaitTermination()

    write("b1", 1L -> "the quick brown fox", 2L -> "something else entirely",
      3L -> "  The QUICK  brown fox ") // 3 folds into 1
    run()
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L))

    // batch 2: replay of 2 under a new id + genuinely new doc; the bloom
    // persisted by batch 1 must flag the replay (and only confirm it)
    write("b2", 10L -> "something  ELSE entirely", 11L -> "fresh batch-two content")
    run()
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L, 11L))
    assert(spark.read.parquet(s"$root/fps").select("fp").distinct().count() === 3)
    // the persisted filter knows all three fingerprints: a third batch of
    // pure replays adds nothing
    write("b3", 20L -> "the quick brown fox", 21L -> "fresh BATCH-TWO content")
    run()
    assert(ParquetTable.read(spark, s"$root/corpus").count() === 3)
    // and the filter actually answers positively for a stored fingerprint
    val bloom = StreamingIngest.readBloom(spark, s"$root/bloom", 1000L)
    val hit = spark.read.parquet(s"$root/fps").limit(1)
      .select(graft.operators.BloomJoin.mightContain(bloom,
        org.apache.spark.sql.functions.col("fp")).as("m"))
      .head.getBoolean(0)
    assert(hit)
  }

  test("streamParagraphScrub: cross-batch BFF paragraph scrub, bloom folds forward") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-parascrub")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def write(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$in/$name")
    def run(ckpt: String): Unit = StreamingIngest.streamParagraphScrub(
      spark, s"$in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/fps", s"$root/bloom",
      expectedItems = 1000L, s"$root/$ckpt").awaitTermination()
    def textOf(id: Long): String = ParquetTable.read(spark, s"$root/corpus")
      .filter(org.apache.spark.sql.functions.col("doc_id") === id)
      .head().getString(1)

    // batch 1: doc 2 repeats doc 1's boilerplate paragraph IN-batch
    write("b1",
      1L -> "shared boilerplate header\n\nalpha body one",
      2L -> "shared boilerplate header\n\nbeta body two")
    run("ckpt")
    assert(textOf(1L) == "shared boilerplate header\n\nalpha body one")
    assert(textOf(2L) == "beta body two") // in-batch first occurrence wins
    // batch 2: doc 10 repeats history paragraphs (cross-batch scrub), doc
    // 11 is pure boilerplate → fully scrubbed, never lands
    write("b2",
      10L -> "alpha body one\n\nfresh second-batch paragraph",
      11L -> "shared boilerplate header")
    run("ckpt")
    assert(textOf(10L) == "fresh second-batch paragraph")
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L, 10L))
    // replay fixed point: lost checkpoint, both files reprocess — every
    // paragraph is now history, nothing re-lands, corpus unchanged
    run("ckpt-rebuilt")
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted === Seq(
      1L -> "shared boilerplate header\n\nalpha body one",
      2L -> "beta body two",
      10L -> "fresh second-batch paragraph"))
  }

  test("streamNearDupIngest: cross-batch MinHash near-dup == q117 batch semantics") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-neardup")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def write(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$in/$name")
    def run(ckpt: String): Unit = StreamingIngest.streamNearDupIngest(
      spark, s"$in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/index", threshold = 0.5, s"$root/$ckpt",
      n = 2, numHashes = 32, bands = 16).awaitTermination()

    val foxDog = "the quick brown fox jumps over the lazy dog"
    val foxCat = "the quick brown fox jumps over the lazy cat" // j≈0.78 vs foxDog
    val foxLeaps = "the quick brown fox leaps over the lazy dog" // j=0.6 vs foxDog
    val other = "completely different text about spark engines and shuffles"
    val novel = "entirely unrelated musings on parquet footers and bloom filters"

    // batch 1: 3 is a within-batch near-dup of 1 (greedy keep-min)
    write("b1", 1L -> foxDog, 2L -> other, 3L -> foxCat)
    run("ckpt")
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L))

    // batch 2: 10 = exact copy of history 1, 12 = near-dup of history 1
    // (j=0.6) — both must fall to the INDEX probe; 11 survives
    write("b2", 10L -> foxDog, 11L -> novel, 12L -> foxLeaps)
    run("ckpt")
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L, 11L))

    // batch/stream parity with q117's semantics: the batch operator over
    // the same split (history = batch-1 survivors, probe = batch 2, same
    // index params, verify tier) must flag exactly the ids the stream
    // dropped
    val hist = frame(schema, Seq(
      org.apache.spark.sql.Row(1L, foxDog), org.apache.spark.sql.Row(2L, other)))
    val b2 = frame(schema, Seq(org.apache.spark.sql.Row(10L, foxDog),
      org.apache.spark.sql.Row(11L, novel), org.apache.spark.sql.Row(12L, foxLeaps)))
    val idx = tmpDir("stream-neardup-batch") + "/idx"
    graft.operators.TextDedup.minHashIndexSave(hist, "doc_id", "text", idx,
      n = 2, numHashes = 32, bands = 16)
    val batchDropped = graft.operators.TextDedup.minHashProbeHistory(
        b2, "doc_id", "text", idx, threshold = 0.5,
        verifyAgainst = Some((hist, "doc_id", "text")))
      .select("batch_id").collect().map(_.getLong(0)).toSet
    assert(batchDropped === Set(10L, 12L))

    // worst-case redelivery: checkpoint lost, both files reprocess — every
    // doc now matches its own index rows at Jaccard 1.0, nothing re-lands
    run("ckpt-rebuilt")
    assert(ParquetTable.read(spark, s"$root/corpus").count() === 3)

    // the 100 TB serving mode: estimate tier never touches the corpus —
    // identical signatures still flag replays at estimate 1.0
    val root2 = tmpDir("stream-neardup-est")
    Files.createDirectories(Paths.get(s"$root2/in"))
    def write2(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$root2/in/$name")
    def run2(): Unit = StreamingIngest.streamNearDupIngest(
      spark, s"$root2/in/*", schema, "doc_id", "text",
      s"$root2/corpus", s"$root2/index", threshold = 0.5, s"$root2/ckpt",
      n = 2, numHashes = 32, bands = 16,
      verifyWithCorpus = false).awaitTermination()
    write2("b1", 1L -> foxDog, 2L -> other)
    run2()
    write2("b2", 10L -> foxDog, 11L -> novel)
    run2()
    assert(ParquetTable.read(spark, s"$root2/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L, 11L))
  }

  test("streamNearDupIngest refuses a restart whose params conflict with the pinned meta") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-neardup-pin")
    Files.createDirectories(Paths.get(s"$root/in"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    frame(schema, Seq(org.apache.spark.sql.Row(1L, "some first document text here")))
      .coalesce(1).write.parquet(s"$root/in/b1")
    StreamingIngest.streamNearDupIngest(
      spark, s"$root/in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/index", threshold = 0.5, s"$root/ckpt",
      n = 2, numHashes = 32, bands = 16).awaitTermination()
    // a restart with different banding would silently change within-batch
    // dedup semantics relative to the pinned index — it must refuse instead
    frame(schema, Seq(org.apache.spark.sql.Row(2L, "a second document arrives later")))
      .coalesce(1).write.parquet(s"$root/in/b2")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.streamNearDupIngest(
        spark, s"$root/in/*", schema, "doc_id", "text",
        s"$root/corpus", s"$root/index", threshold = 0.5, s"$root/ckpt",
        n = 3, numHashes = 32, bands = 8).awaitTermination()
    }
    assert(ex.getMessage.contains("pinned") ||
      Option(ex.getCause).exists(_.getMessage.contains("pinned")))
    // restarting with the PINNED params proceeds normally
    StreamingIngest.streamNearDupIngest(
      spark, s"$root/in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/index", threshold = 0.5, s"$root/ckpt",
      n = 2, numHashes = 32, bands = 16).awaitTermination()
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L))
  }

  test("streamNearDupIngest: a micro-batch reads the pinned parameters without a Spark job") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = tmpDir("stream-neardup-jobs")
    Files.createDirectories(Paths.get(s"$root/in"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def write(name: String, rows: (Long, String)*): Unit =
      frame(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
        .coalesce(1).write.parquet(s"$root/in/$name")
    def run(): Unit = StreamingIngest.streamNearDupIngest(
      spark, s"$root/in/*", schema, "doc_id", "text",
      s"$root/corpus", s"$root/index", threshold = 0.5, s"$root/ckpt",
      n = 2, numHashes = 32, bands = 16).awaitTermination()
    write("b1", 1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different text about spark engines")
    run()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    write("b2", 10L -> "the quick brown fox jumps over the lazy cat",
      11L -> "entirely unrelated musings on parquet footers")
    org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try run()
    finally {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    // the same micro-batch ran 34 jobs when every batch re-read the 1-row
    // meta parquet: the header read takes none
    assert(jobs.get() <= 33, s"${jobs.get()} jobs")
    assert(ParquetTable.read(spark, s"$root/corpus")
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L, 11L))
    // save, then one append per micro-batch, each its own bands dir
    assert(graft.sources.IndexStore.head(spark, s"$root/index").paths("bands").size === 3)
  }

  test("hourlyEventCounts: watermarked windowed aggregation over a file stream") {
    val root = tmpDir("stream-agg")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "events.csv"),
      "ts,event_type,value\n" +
        "2025-04-01 10:05:00,click,1.0\n" +
        "2025-04-01 10:40:00,click,2.0\n" +
        "2025-04-01 11:10:00,view,5.0\n")
    val schema = "ts timestamp, event_type string, value double"
    val stream = spark.readStream.schema(schema).option("header", "true").csv(in)
    val agg = StreamingIngest.hourlyEventCounts(stream, watermark = "0 seconds")
    val q = agg.writeStream
      .format("memory").queryName("hourly_test")
      .outputMode("complete") // memory sink for assertion; prod uses append
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("hourly_test")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet === Set(
      ("2025-04-01 10:00:00.0", "click", 2L, 3.0),
      ("2025-04-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("changeFeedStream: captured per-commit CDF rows stream with versions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bal", DoubleType, nullable = true)))
    def df(rows: Row*) = frame(schema, rows)
    val path = tmpDir("cdf-stream") + "/t"
    graft.sources.ParquetTable.create(df(Row(1L, 10.0), Row(2L, 20.0)), path) // v1
    graft.sources.ParquetTable.merge(spark, path, df(Row(1L, 99.0)),
      Seq("id"), cdf = true) // v2: update
    graft.sources.ParquetTable.merge(spark, path, df(Row(3L, 30.0)),
      Seq("id"), cdf = true) // v3: insert
    val q = StreamingIngest.changeFeedStream(spark, path, schema)
      .writeStream.format("memory").queryName("cdf_stream_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("cdf_stream_test")
      .select("_commit_version", "id", "bal", "_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(out.toSet === Set(
      (2L, 1L, 10.0, "update_preimage"),
      (2L, 1L, 99.0, "update_postimage"),
      (3L, 3L, 30.0, "insert")))
  }

  test("userSessions: session_window chains events within the gap, over a stream") {
    val root = tmpDir("stream-sess")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "e.csv"),
      "user_id,ts,value\n" +
        "1,2025-04-01 10:00:00,1.0\n" +
        "1,2025-04-01 10:10:00,2.0\n" + // same session (10 min gap)
        "1,2025-04-01 11:30:00,4.0\n" + // new session (80 min gap)
        "2,2025-04-01 10:05:00,8.0\n")
    val stream = spark.readStream.schema("user_id long, ts timestamp, value double")
      .option("header", "true").csv(in)
    val q = StreamingIngest.userSessions(stream.withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("sessions_test")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    assert(out.toSet === Set(
      (1L, "2025-04-01 10:00:00.0", 2L, 3.0),
      (1L, "2025-04-01 11:30:00.0", 1L, 4.0),
      (2L, "2025-04-01 10:05:00.0", 1L, 8.0)))
  }

  test("viewClickJoin: two-stream watermarked interval join == batch twin") {
    val root = tmpDir("stream-join")
    val vIn = s"$root/views"; val cIn = s"$root/clicks"
    Files.createDirectories(Paths.get(vIn)); Files.createDirectories(Paths.get(cIn))
    Files.writeString(Paths.get(vIn, "v.csv"),
      "event_id,user_id,ts\n" +
        "10,1,2025-04-01 10:00:00\n" +
        "11,1,2025-04-01 10:20:00\n" +
        "12,2,2025-04-01 10:00:00\n")
    Files.writeString(Paths.get(cIn, "c.csv"),
      "event_id,user_id,ts\n" +
        "20,1,2025-04-01 10:05:00\n" + // matches view 10 (5 min)
        "21,1,2025-04-01 10:10:00\n" + // matches view 10 at the inclusive bound
        "22,1,2025-04-01 10:31:00\n" + // 11 min after view 11 -> no match
        "23,2,2025-04-01 10:09:59\n")  // matches view 12, not user 1's
    val sch = "event_id long, user_id long, ts timestamp"
    def stream(dir: String) = spark.readStream.schema(sch)
      .option("header", "true").csv(dir)
    val q = StreamingIngest.viewClickJoin(stream(vIn), stream(cIn))
      .writeStream.format("memory").queryName("vcjoin_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val streamed = spark.table("vcjoin_test").collect().map(key).toSet
    assert(streamed === Set((1L, 10L, 20L), (1L, 10L, 21L), (2L, 12L, 23L)))
    // equivalence: the same frames joined in batch emit identical rows
    def batch(dir: String) = spark.read.schema(sch)
      .option("header", "true").csv(dir)
    val batched = StreamingIngest.viewClickJoin(batch(vIn), batch(cIn))
      .collect().map(key).toSet
    assert(batched === streamed)
  }

  test("viewClickJoinLeftOuter: unmatched views emit null-click rows == batch twin") {
    val root = tmpDir("stream-ljoin")
    val vIn = s"$root/views"; val cIn = s"$root/clicks"
    Files.createDirectories(Paths.get(vIn)); Files.createDirectories(Paths.get(cIn))
    Files.writeString(Paths.get(vIn, "v.csv"),
      "event_id,user_id,ts\n" +
        "10,1,2025-04-01 10:00:00\n" + // gets a click
        "11,1,2025-04-01 10:20:00\n" + // NO click in window → null row
        "12,2,2025-04-01 10:00:00\n")  // NO click at all → null row
    Files.writeString(Paths.get(cIn, "c.csv"),
      "event_id,user_id,ts\n" +
        "20,1,2025-04-01 10:05:00\n" +
        "22,1,2025-04-01 10:31:00\n") // outside view 11's window
    val sch = "event_id long, user_id long, ts timestamp"
    def stream(dir: String) = spark.readStream.schema(sch)
      .option("header", "true").csv(dir)
    // Outer-row mechanics under the min-of-both-watermarks policy:
    // state evicts against the watermark computed at the END of the
    // PREVIOUS batch, and null rows flush on the batch AFTER that — so
    // the AvailableNow run executes three times against one checkpoint
    // (the event-driven rerun pattern), each rerun shipping a MATCHED
    // late sentinel pair on BOTH streams: it advances both watermarks,
    // provides the flushing batch, and (being matched) emits the same
    // row in the batch twin instead of lingering as asymmetric state.
    def sentinel(n: Int, hour: Int): Unit = {
      Files.writeString(Paths.get(vIn, s"v$n.csv"),
        s"event_id,user_id,ts\n${90 + n},9,2025-04-01 $hour:00:00\n")
      Files.writeString(Paths.get(cIn, s"c$n.csv"),
        s"event_id,user_id,ts\n${80 + n},9,2025-04-01 $hour:01:00\n")
    }
    def run(): Unit = {
      val q = StreamingIngest.viewClickJoinLeftOuter(stream(vIn), stream(cIn))
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    sentinel(1, 12); run()
    sentinel(2, 13); run()
    sentinel(3, 14); run()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    val streamed = spark.read.parquet(s"$root/out").collect().map(key).toSet
    assert(streamed.contains((1L, 11L, -1L)) && streamed.contains((2L, 12L, -1L)),
      s"outer rows missing: $streamed")
    def batch(dir: String) = spark.read.schema(sch)
      .option("header", "true").csv(dir)
    val batched = StreamingIngest.viewClickJoinLeftOuter(batch(vIn), batch(cIn))
      .collect().map(key).toSet
    assert(batched === streamed)
  }

  test("runningUserActivity: custom mapGroupsWithState counts per user") {
    val root = tmpDir("stream-state")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "e.csv"),
      "user_id,ts\n1,2025-04-01 10:00:00\n1,2025-04-01 11:00:00\n2,2025-04-01 09:00:00\n")
    val stream = spark.readStream.schema("user_id long, ts timestamp")
      .option("header", "true").csv(in)
    val q = StreamingIngest.runningUserActivity(stream).writeStream
      .format("memory").queryName("activity_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("activity_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L))
  }

  test("csvStreamAppendWithView: continuously-maintained aggregate, exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.sources.IncrementalView
    val root = tmpDir("stream-view")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val hdr = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    Files.writeString(Paths.get(in, "day1.csv"),
      hdr + "1,101,1,2025-04-01 10:00:00,12.5,2025-04-01\n" +
        "2,102,2,2025-04-01 11:00:00,-3.0,2025-04-01\n" + // invalid, dropped
        "3,103,1,2025-04-01 12:00:00,4.0,2025-04-01\n")
    val spec = Schemas.ordersSpec.copy(partitionColumns = Nil)
    ParquetTable.create(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spec.schema), s"$root/table")

    def run(ckpt: String) = StreamingIngest.csvStreamAppendWithView(
      spark, in, spec, s"$root/table", ckpt, s"$root/view",
      Seq("user_id"), "total_amount",
      txnAppId = Some("view_stream")).awaitTermination()
    def viewState(): Map[Long, (Double, Long)] =
      IncrementalView.read(spark, s"$root/view")
        .collect().map(r => (r.getInt(0).toLong, (r.getDouble(1), r.getLong(2)))).toMap
    def recompute(): Map[Long, (Double, Long)] =
      ParquetTable.read(spark, s"$root/table").groupBy("user_id")
        .agg(sum("total_amount").as("t"), count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0).toLong, (r.getDouble(1), r.getLong(2)))).toMap

    run(s"$root/ckpt")
    assert(viewState() === Map(1L -> ((16.5, 2L))))
    assert(viewState() === recompute())

    // second trigger folds only the new batch's commit into the view
    Files.writeString(Paths.get(in, "day2.csv"),
      hdr + "4,104,2,2025-04-02 09:00:00,7.0,2025-04-02\n")
    run(s"$root/ckpt")
    assert(viewState() === Map(1L -> ((16.5, 2L)), 2L -> ((7.0, 1L))))
    assert(viewState() === recompute())

    // checkpoint loss: both files redeliver — insert txn markers skip the
    // commits AND the view refresh folds nothing (no new base version)
    val tableV = ParquetTable.currentVersion(spark, s"$root/table")
    val viewV = ParquetTable.currentVersion(spark, s"$root/view")
    run(s"$root/ckpt-rebuilt")
    assert(ParquetTable.currentVersion(spark, s"$root/table") === tableV)
    assert(ParquetTable.currentVersion(spark, s"$root/view") === viewV)
    assert(viewState() === recompute())
  }

  test("embeddingStreamIndex: streamed batches keep the IVF index searchable; " +
    "search == batch-built index on the same centroids") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.IvfAnn
    val root = tmpDir("stream-ivf")
    val in = s"$root/in"; val idx = s"$root/index"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range) = ids.map { i =>
      val base = Array.fill(8)(0.0f); base(i % 3) = 1.0f
      Row(i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    val part1 = frame(schema, vecs(0 until 40))
    // centroids from an offline build over the initial corpus, then frozen
    StreamingIngest.initStreamIndex(spark, idx,
      IvfAnn.build(part1, "vec_id", "embedding", nCentroids = 3).centroids)

    // the file source watches files directly under `in`: stage each
    // batch and move its part files in with unique names
    def drop(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$root/stage-$tag"
      df.write.parquet(stage)
      var i = 0
      Files.list(Paths.get(stage)).forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.move(f, Paths.get(in, s"$tag-$i.parquet")); i += 1
        }
      }
    }
    drop(part1, "batch1")
    StreamingIngest.embeddingStreamIndex(spark, in, idx, ckpt)
      .awaitTermination()
    val loaded = IvfAnn.load(spark, idx)
    assert(loaded.assigned.count() === 40)
    // same centroids → identical assignment → identical search results
    val batchIdx = IvfAnn.Index(loaded.centroids,
      part1.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.element_at(
          graft.functions.VectorFunctions.nearestCells(
            org.apache.spark.sql.functions.col("embedding"),
            loaded.centroids, 1), 1).as("centroid_id")))
    val q = part1.filter("vec_id < 2")
    def results(ix: IvfAnn.Index) =
      IvfAnn.topK(ix, q, "vec_id", "embedding", k = 4, nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(results(loaded) === results(batchIdx))

    // second batch grows the index through the SAME checkpoint
    drop(frame(schema, vecs(100 until 120)), "batch2")
    StreamingIngest.embeddingStreamIndex(spark, in, idx, ckpt)
      .awaitTermination()
    assert(IvfAnn.load(spark, idx).assigned.count() === 60)
    // redelivery: no new files → the file source re-commits nothing
    StreamingIngest.embeddingStreamIndex(spark, in, idx, ckpt)
      .awaitTermination()
    assert(IvfAnn.load(spark, idx).assigned.count() === 60)
  }

  test("streamApplyChanges type 1: out-of-order CDC files converge; replay is a no-op") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val root = tmpDir("stream-ac")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("seq", LongType), StructField("op", StringType)))
    val hdr = "id,v,seq,op\n"
    def run() = StreamingIngest.streamApplyChanges(spark, in, schema,
      s"$root/t", s"$root/ckpt", Seq("id"), "seq",
      deleteWhen = Some(col("op") === "D")).awaitTermination()

    // LATER changes arrive first; the earlier file lands in trigger 2
    Files.writeString(Paths.get(in, "b2.csv"),
      hdr + "1,new,5,U\n2,gone,6,D\n")
    run()
    Files.writeString(Paths.get(in, "b1.csv"),
      hdr + "1,old,1,U\n2,alive,2,U\n3,kept,3,U\n")
    run()
    def state() = graft.sources.ApplyChanges.readApplied(spark, s"$root/t")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(state() === Map(1 -> "new", 3 -> "kept"))
    // from-scratch checkpoint replay of everything: same state (per-row
    // idempotence, no txn marker needed)
    StreamingIngest.streamApplyChanges(spark, in, schema,
      s"$root/t", s"$root/ckpt-replay", Seq("id"), "seq",
      deleteWhen = Some(col("op") === "D")).awaitTermination()
    assert(state() === Map(1 -> "new", 3 -> "kept"))
  }

  test("streamApplyChanges scdType 2: streamed batches build the interval history") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val root = tmpDir("stream-ac2")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("seq", LongType), StructField("op", StringType)))
    val hdr = "id,v,seq,op\n"
    Files.writeString(Paths.get(in, "b1.csv"), hdr + "1,v2,5,U\n")
    StreamingIngest.streamApplyChanges(spark, in, schema,
      s"$root/t", s"$root/ckpt", Seq("id"), "seq",
      deleteWhen = Some(col("op") === "D"), scdType = 2).awaitTermination()
    Files.writeString(Paths.get(in, "b2.csv"), hdr + "1,v1,1,U\n1,mid,3,U\n")
    StreamingIngest.streamApplyChanges(spark, in, schema,
      s"$root/t", s"$root/ckpt", Seq("id"), "seq",
      deleteWhen = Some(col("op") === "D"), scdType = 2).awaitTermination()
    val hist = graft.sources.ApplyChanges.readScd2(spark, s"$root/t")
      .select(col("id"), col(graft.sources.ApplyChanges.StartCol),
        col(graft.sources.ApplyChanges.EndCol))
      .collect().map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(x => (x._1, x._2)).toSeq
    // the late batch SPLIT the open interval: 1→3→5
    assert(hist === Seq((1, 1L, Some(3L)), (1, 3L, Some(5L)), (1, 5L, None)))
  }

  test("streamStatsMaintain: per-trigger NDV maintenance == one-shot sketch; " +
      "replays and restarts hold the pinned contract") {
    import org.apache.spark.sql.functions.col
    import graft.operators.StatsSketch
    import spark.implicits._
    val root = tmpDir("stream-stats")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"u_$i")).toDF("id", "name")
    val schema = rows(0, 1).schema
    // the sketch is BUILT once (pins p/seed/cols); the stream maintains it
    StatsSketch.save(rows(0, 500), Seq("id", "name"), s"$root/sk")
    rows(0, 500).write.parquet(s"$in/drop1") // same rows the build saw
    rows(500, 1500).write.parquet(s"$in/drop2")
    StreamingIngest.streamStatsMaintain(spark, s"$in/*", schema,
      Seq("id", "name"), s"$root/sk", s"$root/ckpt").awaitTermination()
    val oneShot = s"$root/one"
    StatsSketch.save(rows(0, 1500), Seq("id", "name"), oneShot)
    assert(StatsSketch.estimate(spark, s"$root/sk").collect().toSeq ===
      StatsSketch.estimate(spark, oneShot).collect().toSeq)
    // drop1 duplicated the build's rows and changed nothing (max-merge);
    // a NEW trigger over a re-delivered file is likewise a no-op
    rows(500, 1500).write.parquet(s"$in/drop2_replay")
    StreamingIngest.streamStatsMaintain(spark, s"$in/*", schema,
      Seq("id", "name"), s"$root/sk", s"$root/ckpt").awaitTermination()
    assert(StatsSketch.estimate(spark, s"$root/sk").collect().toSeq ===
      StatsSketch.estimate(spark, oneShot).collect().toSeq)
    // a restart maintaining a DIFFERENT column set is refused, not absorbed
    rows(1500, 1501).write.parquet(s"$in/drop3")
    val q = StreamingIngest.streamStatsMaintain(spark, s"$in/*", schema,
      Seq("id"), s"$root/sk", s"$root/ckpt")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(err.getMessage.contains("conflict with the pinned") ||
      Option(err.getCause).exists(_.getMessage.contains("conflict with the pinned")))
  }
}
