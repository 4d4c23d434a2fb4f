package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.{Deduplicator, TextDedup, Validator}
import graft.schemas.TableSpec
import graft.sources.{CsvIngest, ParquetTable}

/** Structured-Streaming front door. The reference's freshness story is
  * event-driven batch — EventBridge watches new raw files and reruns the
  * whole Glue job, with Delta MERGE making replays idempotent (reference:
  * README.md:102-105). `Trigger.AvailableNow` + `foreachBatch`-MERGE is the
  * Spark-native expression of exactly that contract: process whatever files
  * have arrived, upsert by PK, stop; checkpointing replaces the reference's
  * "rerun everything" with incremental file tracking.
  */
object StreamingIngest {

  /** Stream new CSVs from `inputDir` through validate → dedup → MERGE into
    * the curated table. One batch per trigger; MERGE idempotency makes the
    * pipeline exactly-once at the table level even on replay.
    *
    * `txnAppId` upgrades replay safety from PK-idempotence to COMMIT
    * idempotence: each batch merges with `txn = appId -> batchId`
    * (Delta's foreachBatch txnVersion idiom), so a batch re-delivered
    * after a checkpoint/commit crash window is skipped wholesale instead
    * of re-merged — the distinction matters once merges carry CDF
    * capture or non-PK side effects. Needs a versioned target: leave
    * unset for plain partitioned layouts.
    */
  def csvStreamUpsert(
      spark: SparkSession,
      inputDir: String,
      spec: TableSpec,
      tablePath: String,
      checkpointDir: String,
      references: Map[String, DataFrame] = Map.empty,
      txnAppId: Option[String] = None): StreamingQuery = {
    val relaxed = org.apache.spark.sql.types.StructType(
      spec.schema.fields.map(_.copy(nullable = true)))
    val stream = spark.readStream
      .option("header", "true")
      .schema(relaxed)
      .csv(inputDir)
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val conformed = CsvIngest.conform(batch, spec.schema)
        val valid = Validator.split(conformed, spec, references).valid
        val deduped = Deduplicator.dropDuplicatesByKey(valid, spec.primaryKey)
        val txn = txnAppId.map(_ -> batchId)
        // txn markers need a VERSIONED target; a txn-tracked partitioned
        // stream therefore goes through mergeVersioned, whose initial
        // load creates the versioned layout (merge's plain-partitioned
        // initial load can't carry the marker)
        if (txn.isDefined && spec.partitionColumns.nonEmpty)
          ParquetTable.mergeVersioned(batch.sparkSession, tablePath, deduped,
            spec.primaryKey, spec.partitionColumns, txn = txn)
        else
          ParquetTable.merge(batch.sparkSession, tablePath, deduped,
            spec.primaryKey, spec.partitionColumns, txn = txn)
      }
      .start()
  }

  /** Streaming `APPLY CHANGES INTO` — the full DLT apply_changes shape:
    * a CSV change feed streams in and every micro-batch applies through
    * [[graft.sources.ApplyChanges]] — `scdType = 1` keeps each key's
    * latest row (tombstones hidden, watermarks stored), `scdType = 2`
    * stores the interval history (`__START_AT`/`__END_AT`). No txn
    * marker is needed for replay safety: both tiers are per-row
    * idempotent BY CONSTRUCTION (type 1 skips `sequence <= stored`;
    * SCD2's observation set ignores redelivered (key, sequence) rows),
    * so a batch re-delivered after a checkpoint/commit crash window
    * converges to the identical state — the same reason DLT's
    * apply_changes needs no foreachBatch txnVersion.
    */
  def streamApplyChanges(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      tablePath: String,
      checkpointDir: String,
      keys: Seq[String],
      sequenceCol: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      scdType: Int = 1,
      partitionColumns: Seq[String] = Nil,
      evolveSchema: Boolean = false): StreamingQuery = {
    require(scdType == 1 || scdType == 2,
      s"streamApplyChanges: scdType must be 1 or 2, got $scdType")
    val relaxed = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    spark.readStream
      .option("header", "true")
      .schema(relaxed)
      .csv(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (batch.isEmpty) () // an empty trigger must not create/commit
        else if (scdType == 1)
          graft.sources.ApplyChanges.applyInto(batch.sparkSession, tablePath,
            batch, keys, sequenceCol, deleteWhen, partitionColumns, evolveSchema)
        else
          graft.sources.ApplyChanges.applyIntoScd2(batch.sparkSession, tablePath,
            batch, keys, sequenceCol, deleteWhen, partitionColumns, evolveSchema)
      }
      .start()
  }

  /** Streaming APPEND ingest — the O(appended rows) twin of
    * [[csvStreamUpsert]] for append-only feeds (event logs, immutable
    * documents): each micro-batch validates, then commits through
    * `ParquetTable.insertInto` — one appended data dir + one manifest
    * line per batch on an unpartitioned versioned target, no key join,
    * no rewrite, nothing proportional to table size. `txnAppId` (with
    * the batchId as txnVersion) makes re-delivered batches commit
    * NOTHING — exactly-once at the commit level, the Delta foreachBatch
    * txn idiom; without it a replayed append would duplicate rows
    * (INSERT keeps duplicates by design — use the upsert twin when PKs
    * exist). The target must exist (create it from the spec's empty
    * frame first); a long run of small batches folds via the
    * MorMaxDataDirs-style maintenance verbs ([[ParquetTable.compact]]).
    */
  def csvStreamAppend(
      spark: SparkSession,
      inputDir: String,
      spec: TableSpec,
      tablePath: String,
      checkpointDir: String,
      references: Map[String, DataFrame] = Map.empty,
      txnAppId: Option[String] = None): StreamingQuery = {
    val relaxed = org.apache.spark.sql.types.StructType(
      spec.schema.fields.map(_.copy(nullable = true)))
    val stream = spark.readStream
      .option("header", "true")
      .schema(relaxed)
      .csv(inputDir)
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val conformed = CsvIngest.conform(batch, spec.schema)
        val valid = Validator.split(conformed, spec, references).valid
        ParquetTable.insertInto(batch.sparkSession, tablePath, valid,
          txn = txnAppId.map(_ -> batchId))
        () // foreachBatch wants Unit; insertInto returns the version
      }
      .start()
  }

  /** [[csvStreamAppend]] plus a continuously-maintained aggregate: after
    * each batch's O(appended rows) commit, the downstream
    * [[graft.sources.IncrementalView]] is refreshed from the change feed
    * — so the view trails the table by at most one trigger, at
    * O(changed groups) per batch instead of a per-batch full recompute
    * (what a plain streaming `groupBy.agg` in update mode re-shuffles
    * forever at 100 TB history; here history lives in the table, the
    * stream only folds deltas).
    *
    * Exactly-once composes from the two idempotence layers underneath:
    * the insert carries `txnAppId → batchId` (a redelivered batch
    * commits NOTHING), and refresh's own marker records the last folded
    * base version (a redelivered refresh folds NOTHING) — so a crash
    * between insert and refresh heals on the next trigger, and the view
    * never double-counts.
    */
  def csvStreamAppendWithView(
      spark: SparkSession,
      inputDir: String,
      spec: TableSpec,
      tablePath: String,
      checkpointDir: String,
      viewPath: String,
      groupCols: Seq[String],
      sumCol: String,
      references: Map[String, DataFrame] = Map.empty,
      txnAppId: Option[String] = None): StreamingQuery = {
    import graft.sources.IncrementalView
    val relaxed = org.apache.spark.sql.types.StructType(
      spec.schema.fields.map(_.copy(nullable = true)))
    val stream = spark.readStream
      .option("header", "true")
      .schema(relaxed)
      .csv(inputDir)
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val conformed = CsvIngest.conform(batch, spec.schema)
        val valid = Validator.split(conformed, spec, references).valid
        ParquetTable.insertInto(s, tablePath, valid,
          txn = txnAppId.map(_ -> batchId))
        if (ParquetTable.currentVersion(s, viewPath).isEmpty)
          IncrementalView.create(s, tablePath, viewPath, groupCols, sumCol)
        else
          IncrementalView.refresh(s, tablePath, viewPath,
            spec.primaryKey, groupCols, sumCol)
        ()
      }
      .start()
  }

  /** Streaming consumer of a versioned table's CAPTURED change feed (the
    * Delta `readChangeFeed` streaming tier): the per-commit change
    * manifests that `ParquetTable.merge(cdf = true)` writes under
    * `_graft_changes/v<N>/` are append-only parquet dirs — exactly what
    * the file stream source incrementally tracks — so a CDC consumer is
    * a plain `readStream` with `_commit_version` recovered from each
    * file's manifest dir name. Rows carry the table schema +
    * `_change_type` (insert | delete | update_preimage |
    * update_postimage). Only CAPTURED commits stream (cdf = true);
    * snapshot-diff fallbacks are a batch-only tier — `tableChanges`
    * documents the difference. `schema` = the TABLE schema (change
    * columns are appended here).
    */
  def changeFeedStream(
      spark: SparkSession,
      tablePath: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val withType = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)) :+
        org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType, nullable = true))
    spark.readStream
      .schema(withType)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$tablePath/_graft_changes/v*")
      .withColumn("_commit_version",
        regexp_extract(input_file_name(), "/v(\\d+)/", 1).cast("long"))
  }

  /** The persistent fingerprint store backing `streamDedupIngest`: one
    * `fp` long column (~8 bytes/doc — billions of rows stay joinable).
    * Appends may leave duplicate fingerprints after a replay; the
    * left-anti membership probe is insensitive to them, so no distinct
    * here (a periodic offline compaction can shrink the store).
    */
  def fingerprintStore(spark: SparkSession, storePath: String): DataFrame =
    if (ParquetTable.exists(spark, storePath))
      spark.read.parquet(storePath).select(col("fp"))
    else {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

  /** Streaming corpus dedup: stream document files from `inputDir`,
    * drop every row whose normalized-text fingerprint was already seen —
    * in this batch or any earlier one — then upsert survivors into the
    * corpus at `outPath` (by `idCol`) and append their fingerprints to
    * the store at `storePath`.
    *
    * Failure contract: docs are MERGEd (idempotent) BEFORE fingerprints
    * are appended. A replayed batch therefore re-upserts the same docs
    * (no-op) and at worst re-appends fingerprints (harmless, see
    * `fingerprintStore`). The reverse order could lose documents: a
    * crash between a store append and the doc write would make the
    * replay see its own fingerprints as "already ingested".
    */
  def streamDedupIngest(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      textCol: String,
      outPath: String,
      storePath: String,
      checkpointDir: String): StreamingQuery = {
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val (novel, fps) = TextDedup.incrementalExactDedup(
          batch, idCol, textCol, fingerprintStore(s, storePath))
        val cached = novel.cache() // two consumers: merge + fingerprints
        try {
          ParquetTable.merge(s, outPath, cached, Seq(idCol))
          ParquetTable.sizedForWrite(fps)
            .write.mode("append").parquet(storePath)
        } finally cached.unpersist()
      }
      .start()
  }

  /** The persisted Bloom filter beside a fingerprint store, or a fresh
    * empty filter sized to `expectedItems` when none exists yet.
    */
  def readBloom(
      spark: SparkSession, bloomPath: String, expectedItems: Long): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(bloomPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf)
      finally in.close()
      buf
    } else {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(expectedItems)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
  }

  private def writeBloom(
      spark: SparkSession, bloomPath: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(bloomPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(bloomPath + s".tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"bloom store: rename failed at $p")
    }
  }

  /** [[streamDedupIngest]] at the 100 TB plan shape: each micro-batch
    * dedups against history through the Bloom-guarded two-phase path
    * ([[TextDedup.dedupAgainstHistoryBloom]] — bloom-negative rows never
    * touch the store; candidates broadcast; the store never shuffles),
    * then the batch's novel fingerprints are folded into the persisted
    * filter INCREMENTALLY: a batch-sized distributed Bloom aggregate
    * merged into the running filter (`mergeInPlace` — filters built with
    * the same `expectedItems` sizing are mergeable), never a store-sized
    * rebuild. Same failure contract as [[streamDedupIngest]] (docs merge
    * idempotently BEFORE fingerprints/bloom advance; a stale-by-one
    * bloom only costs extra confirms, never correctness).
    */
  def streamBloomDedupIngest(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      textCol: String,
      outPath: String,
      storePath: String,
      bloomPath: String,
      expectedItems: Long,
      checkpointDir: String): StreamingQuery = {
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val bloomBytes = readBloom(s, bloomPath, expectedItems)
        val (novel, fps) = TextDedup.dedupAgainstHistoryBloom(
          batch, idCol, textCol, fingerprintStore(s, storePath), bloomBytes)
        val cachedNovel = novel.cache()
        val cachedFps = fps.cache() // two consumers: store append + bloom fold
        try {
          ParquetTable.merge(s, outPath, cachedNovel, Seq(idCol))
          ParquetTable.sizedForWrite(cachedFps)
            .write.mode("append").parquet(storePath)
          // fold the batch's novel fingerprints into the running filter:
          // a MICRO-BATCH-bounded collect of 8-byte hashes (never the
          // store), put through the same xxhash64 the probe side applies
          // (BloomJoin.mightContain hashes the fp before the filter).
          // putLong avoids cross-builder bit-size mismatches that
          // mergeInPlace of separately-sized filters would hit.
          val hashed = cachedFps.select(xxhash64(col("fp")))
            .collect().map(_.getLong(0))
          if (hashed.nonEmpty) {
            val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bloomBytes))
            hashed.foreach(merged.putLong)
            val bos = new java.io.ByteArrayOutputStream()
            merged.writeTo(bos)
            writeBloom(s, bloomPath, bos.toByteArray)
          }
        } finally { cachedNovel.unpersist(); cachedFps.unpersist(); () }
      }
      .start()
  }

  /** Streaming PARAGRAPH scrub — the Dolma/BFF pass as a stream,
    * completing the four-member streaming dedup family (exact:
    * [[streamDedupIngest]]; bloom-exact: [[streamBloomDedupIngest]];
    * MinHash near-dup: [[streamNearDupIngest]]; this: paragraph-granular
    * scrub). Each micro-batch:
    *
    *   1. in-batch first-occurrence paragraph dedup
    *      ([[graft.operators.ParagraphDedup.dedup]]);
    *   2. scrub vs the persisted paragraph-fingerprint store through the
    *      bloom guard ([[graft.operators.ParagraphDedup
    *      .scrubSeenParagraphs]] — bloom-negative paragraphs never touch
    *      the store, candidates broadcast, the store never shuffles);
    *   3. MERGE surviving documents (those with ≥1 kept paragraph) with
    *      their scrubbed text, THEN append the kept paragraphs'
    *      fingerprints and fold them into the persisted bloom filter
    *      (batch-bounded collect, the [[streamBloomDedupIngest]] fold).
    *
    * Replay fixed point: a batch re-delivered after a full first attempt
    * finds its own paragraphs in the store, scrubs every document to
    * zero kept paragraphs, merges nothing and appends nothing.
    */
  def streamParagraphScrub(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      textCol: String,
      outPath: String,
      storePath: String,
      bloomPath: String,
      expectedItems: Long,
      checkpointDir: String,
      paraSep: String = "\n\n"): StreamingQuery = {
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val bloomBytes = readBloom(s, bloomPath, expectedItems)
        val inBatch = graft.operators.ParagraphDedup
          .dedup(batch.toDF(), idCol, textCol, paraSep)
          .filter(col("n_paras_kept") > 0)
          .select(col(idCol), col("clean_text").as(textCol))
        val scrubbed = graft.operators.ParagraphDedup.scrubSeenParagraphs(
            inBatch, idCol, textCol,
            fingerprintStore(s, storePath), bloomBytes, paraSep)
          .filter(col("n_paras_kept") > 0)
          .select(col(idCol), col("clean_text").as(textCol))
          .cache() // three consumers: merge + fp append + bloom fold
        try {
          ParquetTable.merge(s, outPath, scrubbed, Seq(idCol))
          val fps = graft.operators.ParagraphDedup
            .paragraphFps(scrubbed, textCol, paraSep).cache()
          try {
            ParquetTable.sizedForWrite(fps)
              .write.mode("append").parquet(storePath)
            val hashed = fps.select(xxhash64(col("fp")))
              .collect().map(_.getLong(0))
            if (hashed.nonEmpty) {
              val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bloomBytes))
              hashed.foreach(merged.putLong)
              val bos = new java.io.ByteArrayOutputStream()
              merged.writeTo(bos)
              writeBloom(s, bloomPath, bos.toByteArray)
            }
          } finally { fps.unpersist(); () }
        } finally { scrubbed.unpersist(); () }
      }
      .start()
  }

  /** Streaming NEAR-dup ingest — the missing member of the streaming
    * dedup family (exact fingerprints: [[streamDedupIngest]]; bloom-
    * guarded exact: [[streamBloomDedupIngest]]; this: MinHash-LSH local
    * overlap, q117's semantics per micro-batch). Each batch:
    *
    *   1. probes the persisted band index
    *      ([[graft.operators.TextDedup.minHashProbeHistory]]) — history
    *      never re-minhashes, never reshuffles; with the corpus at
    *      `outPath` present, candidates are confirmed by EXACT n-gram
    *      Jaccard against it (q117's verify tier), otherwise the
    *      signature estimate decides;
    *   2. drops within-batch near-dups greedily (every id that pairs
    *      with a smaller id via [[graft.operators.TextDedup
    *      .minHashDedupPairs]] — the keep-min policy of the exact tier);
    *   3. MERGEs survivors into the corpus (idempotent), THEN appends
    *      their band/sig rows to the index
    *      ([[graft.operators.TextDedup.minHashIndexAppend]]).
    *
    * Failure contract (same order-of-operations argument as
    * [[streamDedupIngest]]): a replayed batch whose first attempt died
    * between merge and index-append re-probes an index WITHOUT its own
    * rows — same survivors, no-op re-merge, append completes. One that
    * died after both sees its own docs in the index at Jaccard 1.0,
    * drops everything, and appends nothing — the correct fixed point.
    * The first batch against a missing index pins (n, numHashes, bands,
    * seed) by saving an empty index up front, so every later probe and
    * append provably shares the build parameters; later batches read them
    * from the index header (no Spark job).
    */
  def streamNearDupIngest(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      textCol: String,
      outPath: String,
      indexDir: String,
      threshold: Double,
      checkpointDir: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      verifyWithCorpus: Boolean = true): StreamingQuery = {
    // `verifyWithCorpus = false` switches the history probe to the
    // persisted-signature ESTIMATE tier — the 100 TB serving mode: the
    // verify tier re-reads the ingested corpus once per micro-batch
    // (exactness for modest corpora), the estimate tier touches only
    // the index (an unbiased Jaccard estimator over numHashes positions)
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        graft.sources.IndexStore.headOption(s, indexDir) match {
          case None =>
            TextDedup.minHashIndexSave(batch.limit(0), idCol, textCol,
              indexDir, n, numHashes, bands)
          case Some(head) =>
            // The history probe and index append read the PINNED header;
            // the within-batch dedup below uses the caller's (n, numHashes,
            // bands). A restart with different args would silently change
            // within-batch semantics relative to the index — refuse instead
            // of diverging from the q117-per-micro-batch contract.
            val pinned = (head("n").toInt, head("num_hashes").toInt, head("bands").toInt)
            require(pinned == ((n, numHashes, bands)),
              s"streamNearDupIngest: passed (n=$n, numHashes=$numHashes, " +
                s"bands=$bands) conflict with the index's pinned " +
                s"(n=${pinned._1}, numHashes=${pinned._2}, bands=${pinned._3}) " +
                s"at $indexDir — restart with the pinned parameters or " +
                "rebuild the index")
        }
        val verify =
          if (verifyWithCorpus && ParquetTable.exists(s, outPath))
            Some((ParquetTable.read(s, outPath), idCol, textCol))
          else None
        val histDups = TextDedup.minHashProbeHistory(
            batch, idCol, textCol, indexDir, threshold, verify)
          .select(col("batch_id").as(idCol)).distinct()
        val batchDups = TextDedup.minHashDedupPairs(
            batch, idCol, textCol, threshold, n, numHashes, bands)
          .select(col("id_b").as(idCol)).distinct()
        val survivors = batch
          .join(histDups.unionByName(batchDups), Seq(idCol), "left_anti")
          .cache() // two consumers: corpus merge + index append
        try {
          ParquetTable.merge(s, outPath, survivors, Seq(idCol))
          TextDedup.minHashIndexAppend(survivors, idCol, textCol, indexDir)
        } finally { survivors.unpersist(); () }
      }
      .start()
  }

  /** Watermarked hourly aggregate per event type — the streaming twin of
    * the batch q15 (late rows beyond the watermark are dropped; emitted
    * once final in Append mode).
    */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-stream interval join: each click matched to the same user's
    * views in the preceding `window` — the attribution-join shape
    * (impression→conversion). Works identically over two streams or two
    * batch frames; the batch twin is oracle-checked as q76_interval_join.
    *
    * On streaming inputs both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, which is exactly
    * what Structured Streaming needs to expire join state: a buffered
    * view can be dropped once the click watermark passes view_ts +
    * window, so state is O(events inside the watermark horizon), not
    * O(stream). At 100 TB/day the state per user is bounded by the
    * horizon — the join scales with traffic, not history.
    */
  def viewClickJoin(
      views: DataFrame, clicks: DataFrame,
      window: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    def wm(df: DataFrame, tsCol: String) =
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val v = wm(views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("view_ts")), "view_ts")
    val c = wm(clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts")), "click_ts")
    c.join(v,
      col("user_id") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $window"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** LEFT OUTER twin of [[viewClickJoin]], views on the outer side — the
    * unattributed-impression feed: every view emits its matching clicks,
    * and a view with NO click in its window emits ONE null-click row
    * once the watermark passes the window end (Spark holds the outer
    * row in state exactly until then; the interval condition bounds
    * event time both ways, so state expires at the horizon like the
    * inner variant). Same condition, same state-size contract — only
    * the join type and the null-padded emission differ.
    */
  def viewClickJoinLeftOuter(
      views: DataFrame, clicks: DataFrame,
      window: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    def wm(df: DataFrame, tsCol: String) =
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val v = wm(views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("view_ts")), "view_ts")
    val c = wm(clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts")), "click_ts")
    v.join(c,
      col("user_id") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $window"),
      "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Session windows per user: events closer than `gap` chain into one
    * session (Spark's native `session_window` — works identically over a
    * stream with a watermark or a batch frame; the batch twin is
    * oracle-checked as q31_sessions).
    */
  /** Initialize a STREAMING ANN index dir: one
    * [[graft.sources.IndexStore]] version holding the frozen coarse
    * centroids (from an offline [[graft.operators.IvfAnn.build]]) and an
    * empty `assigned` artifact dir the stream's file sink fills, so
    * [[embeddingStreamIndex]] batches and [[graft.operators.IvfAnn.load]]
    * searches share one assignment. Centroids are frozen by design (the
    * faiss practice — retrain offline and re-assign wholesale when drift
    * matters); a streaming retrain would silently re-bucket old cells.
    */
  def initStreamIndex(
      spark: SparkSession,
      indexDir: String,
      centroids: Array[Array[Float]]): Unit = {
    graft.sources.IndexStore.save(spark, indexDir, "initStreamIndex", Map.empty)(
      graft.operators.IvfAnn.centroidArtifact(spark, "centroids", centroids),
      "assigned" -> { p =>
        val dir = new org.apache.hadoop.fs.Path(p)
        dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir); ()
      })
    ()
  }

  /** Streaming ANN index maintenance: embedding batches land in the SAME
    * partitioned inverted-file layout [[graft.operators.IvfAnn.save]]
    * uses, so the index stays continuously searchable while it grows —
    * after any trigger, [[graft.operators.IvfAnn.load]] + `topK` serve
    * queries with the cell equi-join's pruning intact. Assignment is the
    * codegen'd NearestCells pass (the centroid matrix rides the stream's
    * plan as one reference object). Exactly-once comes from the file
    * sink's own transactional log: each batch's files turn visible
    * atomically in `_spark_metadata`, plain reads of the dir go through
    * that log (committed files only), and a restarted/redelivered batch
    * re-commits nothing — no extra commit machinery needed.
    *
    * ALL vectors must arrive through the stream (the sink's log is the
    * source of truth for the assigned dir; files written beside it are
    * invisible to readers) — seed the index by dropping the initial
    * corpus into `inputDir` as the first batch.
    */
  def embeddingStreamIndex(
      spark: SparkSession,
      inputDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): StreamingQuery = {
    val head = graft.sources.IndexStore.head(spark, indexDir)
    val centroids = graft.operators.IvfAnn.readCentroids(spark, head, "centroids")
    require(centroids.nonEmpty,
      s"embeddingStreamIndex: no centroids at $indexDir — run initStreamIndex first")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(vecCol,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = true)))
    spark.readStream.schema(schema).parquet(inputDir)
      .select(col(idCol), col(vecCol),
        element_at(graft.functions.VectorFunctions.nearestCells(
          col(vecCol), centroids, 1), 1).as("centroid_id"))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .partitionBy("centroid_id")
      .format("parquet")
      .option("path", head.paths("assigned").head)
      .start()
  }

  /** Streaming table-statistics maintenance — the stats twin of the
    * bloom/minhash/paragraph index streams: each micro-batch's rows are
    * sketched with the PINNED (p, seed, cols) from the
    * [[graft.operators.StatsSketch]] meta (built once with
    * `StatsSketch.save`/`analyze`) and the delta registers appended.
    * NDV statistics stay fresh per trigger without ever rescanning the
    * table, and the crash-replay story needs no txn marker at all:
    * a re-delivered batch re-appends the same registers and the
    * register-max fold makes that a no-op BY ALGEBRA — strictly
    * stronger than the store-append streams, which need their probes
    * distinct()d to tolerate replays.
    *
    * A restart pointing at a sketch whose pinned column set conflicts
    * with `cols` is refused per batch (StatsSketch.append's check — the
    * streamNearDupIngest restart discipline).
    */
  def streamStatsMaintain(
      spark: SparkSession,
      inputDir: String,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String],
      sketchDir: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.StatsSketch.append(batch.toDF(), cols, sketchDir)
      }
      .start()

  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Custom stateful operator: running per-user event count + last-seen
    * timestamp via mapGroupsWithState — the KeyValueGroupedDataset path the
    * built-in aggregates can't express (per-key custom state machines).
    */
  final case class UserActivity(user_id: Long, events: Long, lastTs: java.sql.Timestamp)

  def runningUserActivity(events: DataFrame): Dataset[UserActivity] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserActivity, UserActivity](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[UserActivity]) =>
          val prev = state.getOption.getOrElse(UserActivity(user, 0L, new java.sql.Timestamp(0)))
          val batch = rows.toSeq
          val next = UserActivity(
            user,
            prev.events + batch.size,
            batch.map(_._2).foldLeft(prev.lastTs)((a, b) => if (b.after(a)) b else a))
          state.update(next)
          next
      }
  }
}
