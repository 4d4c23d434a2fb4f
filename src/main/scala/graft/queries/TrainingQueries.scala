package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Ann, IvfAnn, MixtureSample, SequencePack, StatsSketch, TextDedup}

/** Training-data-pipeline operator battery over `documents`/`embeddings`:
  * text stats, language ID, quality, fingerprinting, four dedup flavors,
  * and ANN — each oracle-checked where the math is SQL-expressible
  * (xxhash64-based signatures are engine-specific → rows-only checks, with
  * ScalaTest recall properties instead).
  */
object TrainingQueries {
  import ParityQueries.Q

  /** documents ∪ shifted copies of every 25th doc — deterministic synthetic
    * duplicates so dedup queries demonstrably remove rows (the base corpus
    * has none).
    */
  private def docsWithDups(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
  }

  private val dupSql =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      |FROM documents WHERE doc_id % 25 = 0""".stripMargin

  val queries: Map[String, Q] = Map(
    "q20_token_stats" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        charCount(col("text")).as("n_chars_computed"))
        .orderBy(col("doc_id"))
    }),

    "q21_lang_quality" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        langId(col("text")).as("lang_pred"),
        qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q22_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        normalizedFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q23_exact_dedup" -> ((s, d) => {
      TextDedup.exactDedup(docsWithDups(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH candidates verified by exact Jaccard. The oracle is the
    // brute-force all-pairs Jaccard — equality holds because at j≥0.5 the
    // 8-band×4-row LSH miss probability is ~(1-j⁴)⁸ < 1e-3 for the planted
    // pairs (all at j≈0.97, miss < 1e-8).
    "q24_minhash_neardup" -> ((s, d) => {
      TextDedup.minHashDedupPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q25_ngram_jaccard" -> ((s, d) => {
      TextDedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5, blockCols = Seq("lang"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q26_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q27_cosine_neardup" -> ((s, d) => {
      Ann.cosineNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.3, blockCols = Seq("label"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash under the SQL-replayable polyHash64 base hash (engine
    // default elsewhere stays xxhash64) — the DuckDB oracle replays the
    // full signature → hamming pipeline, so this is hash-checked, not
    // rows-only.
    "q28_simhash_neardup" -> ((s, d) => {
      TextDedup.simHashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3, baseHash = polyHash64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Hyperplane LSH is deterministic (literal Gaussian planes, seed 42):
    // the oracle inlines the plane constants and replays dot-sign buckets,
    // multi-probe bit flips, and candidate ranking exactly.
    "q29_lsh_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, numPlanes = 12, dim = 64, probes = 1)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF index + full-probe search: with nProbe = nCentroids the result
    // is EXACT regardless of how k-means clustered, so the brute-force SQL
    // oracle applies; the sub-linear path is the same code with small
    // nProbe (tested in IvfAnnSpec).
    "q30_ivf_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = IvfAnn.build(emb, "vec_id", "embedding", nCentroids = 8,
        maxIter = 2) // index quality is irrelevant to full-probe correctness
      IvfAnn.topK(idx, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Backward as-of join via the custom LogicalPlan/Strategy/SparkPlan
    // operator (graft.plans.AsOfJoin): every event picks the user's
    // latest purchase at or before it. The right side is deduped per
    // (user, ts) so tie order cannot differ between engines; DuckDB's
    // native ASOF LEFT JOIN replays the semantics exactly.
    "q33_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
        .select(col("user_id"), col("ts").as("purchase_ts"), col("purchase_value"))
      graft.plans.AsOfJoin.asof(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, Seq("user_id"), "ts", "purchase_ts")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("event_epoch"),
          unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
          round(col("purchase_value"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // Pre-training document chunking: overlapping 32-token windows at
    // stride 24, one row per chunk.
    "q34_token_chunks" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(tokenChunks(col("text"), chunkSize = 32, stride = 24)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_text"),
          col("c.n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Stutter/boilerplate normalization: collapse immediate token repeats;
    // the collapsed text's fingerprint proves content (not just count)
    // parity with the oracle.
    "q35_collapse_repeats" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        size(collapsedTokens(col("text"))).as("n_collapsed"),
        fingerprint(collapseRepeats(col("text"))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Repetition/spam signal: share of tokens taken by the single most
    // frequent token.
    "q36_top_token_ratio" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("__t"))
        .groupBy(col("doc_id"), col("__t"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("doc_id"))
        .agg(max(col("__c")).as("top_token_count"), sum(col("__c")).as("n_tokens"))
        .withColumn("top_token_ratio",
          round(col("top_token_count").cast("double") / col("n_tokens"), 4))
        .orderBy(col("doc_id"))
    }),

    // Heavy-hitters sketch (vocabulary building at 100 TB): global top
    // tokens via the bounded Misra-Gries `freq_items` aggregate — only
    // `capacity` counters per partition reach the shuffle, vs the exact
    // explode→groupBy whose shuffle carries every distinct token. The
    // oracle pins the EXACT regime (corpus vocabulary ≤ capacity → no
    // decrement ever fires → counts equal GROUP BY); the approximation
    // bound beyond capacity is FreqItemsAggSpec's property.
    "q69_freq_tokens" -> ((s, d) => {
      val fi = org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.expressions.FreqItemsAgg(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__t")), 64)
          .toAggregateExpression())
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("__t"))
        .agg(fi.as("__m"))
        .select(explode(col("__m")))
        .select(col("key").as("token"), col("value").as("est_count"))
        .orderBy(col("token"))
    }),

    // Skew-salted fact⋈dim join: salting must leave the join RESULT
    // bit-identical (the oracle is the plain join), only the shuffle
    // layout changes.
    "q37_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      graft.operators.Skew.saltedEquiJoin(li, ord, Seq("okey"), saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    // Semi-structured columns: schema-full JSON parse of the events
    // props payload (from_json with an explicit struct, not a string
    // path probe), aggregated on the extracted field.
    "q38_json_extract" -> ((s, d) => {
      val propsType = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))
      Tables.events(s, d)
        .select(from_json(col("props"), propsType).getField("k").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod"))
    }),

    // Forward as-of with tolerance: each event picks the NEXT purchase by
    // the same user within 2 days (time-to-conversion shape). Exercises
    // AsOfForward + the tolerance bound in the custom sort-merge operator.
    "q39_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
        .select(col("user_id"), col("ts").as("purchase_ts"), col("purchase_value"))
      graft.plans.AsOfJoin.asof(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, Seq("user_id"), "ts", "purchase_ts",
          direction = "forward", tolerance = Some(2L * 86400 * 1000000)) // 2 d in µs
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("event_epoch"),
          unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
          round(col("purchase_value"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // Nearest as-of: closest purchase in either direction, ties backward.
    "q40_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
        .select(col("user_id"), col("ts").as("purchase_ts"), col("purchase_value"))
      graft.plans.AsOfJoin.asof(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, Seq("user_id"), "ts", "purchase_ts",
          direction = "nearest")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("event_epoch"),
          unix_timestamp(col("purchase_ts")).as("purchase_epoch"),
          round(col("purchase_value"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // Deterministic stratified sampling: per-stratum keep-rates via a
    // replayable multiplicative hash of the row id — no RNG, so the
    // sample is stable across retries/replays and cluster layouts (the
    // property that makes train/eval splits reproducible at 100 TB).
    "q45_stratified_sample" -> ((s, d) => {
      val p = lit(1000000007L)
      val h = ((col("event_id") % p) * lit(654435747L) + lit(12345L)) % p % 100
      val rate = when(col("event_type").isin("purchase", "signup"), 100)
        .when(col("event_type") === "click", 10)
        .when(col("event_type") === "view", 5)
        .otherwise(20)
      Tables.events(s, d)
        .filter(h < rate)
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // Fuzzy near-dup tier below the fingerprint methods: exact edit
    // distance on a normalized prefix via the GUARDED library operator —
    // all-pairs WITHIN (lang, source) blocks only, and the call fails
    // fast if any block outgrows maxBlockRows (the quadratic-block
    // discipline q25/q27 already have).
    "q46_levenshtein_pairs" -> ((s, d) => {
      TextDedup.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
        maxDist = 12, blockCols = Seq("lang", "source"), prefixLen = 30)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Connected components over the union of two pair generators
    // (exact-fingerprint matches + prefix-edit-distance pairs): the
    // closure step that turns near-dup PAIRS into dedup CLUSTERS.
    // Multi-hop merges are real here: a shifted copy equals its original
    // by fingerprint while the original pairs with a different doc by
    // edit distance — one cluster. component = min reachable doc_id;
    // the canonical row is the one whose id IS the component.
    "q47_dedup_clusters" -> ((s, d) => {
      val dup = docsWithDups(s, d)
      val fp = dup.select(col("doc_id"), normalizedFingerprint(col("text")).as("fp"))
      val fpB = fp.select(col("doc_id").as("doc_id_b"), col("fp").as("fp_b"))
      val e1 = fp.join(fpB,
          col("fp") === col("fp_b") && col("doc_id") < col("doc_id_b"))
        .select(col("doc_id").as("id_a"), col("doc_id_b").as("id_b"))
      val e2 = TextDedup.editDistancePairs(dup, "doc_id", "text",
          maxDist = 12, blockCols = Seq("lang", "source"), prefixLen = 30)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components
        .dedupClusters(dup, "doc_id", e1.unionByName(e2), "id_a", "id_b")
        .select(col("doc_id"), col("component"), col("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // Corpus TF-IDF: top-3 terms per document. The RANKING key is the
    // integer triple (tf desc, df asc, term asc) — deterministic across
    // engines, no float comparisons deciding rank — with the float tf·idf
    // score carried as output.
    "q49_tfidf_topterms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val nDocs = docs.count() // scalar; one metadata-cheap action
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, "term")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // PII scrubbing: deterministic planted emails/phones (so redactions
    // provably happen), scrub + per-doc redaction counts; the scrubbed
    // text's fingerprint proves content parity with the oracle.
    "q50_pii_scrub" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(".")).as("text"))
      planted.select(
          col("doc_id"),
          emailCount(col("text")).as("n_emails"),
          phoneCount(col("text")).as("n_phones"),
          length(scrubPii(col("text"))).as("n_clean_chars"),
          fingerprint(scrubPii(col("text"))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Session windows (batch twin of the streaming sessionizer): events
    // within 30 min chain into one session per user.
    "q31_sessions" -> ((s, d) => {
      graft.streaming.StreamingIngest.userSessions(Tables.events(s, d))
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("session_start_epoch"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start_epoch"))
    }),

    // Benchmark decontamination: docs with doc_id % 17 == 0 play the
    // held-out eval set; every other doc is scored by how many of its
    // distinct 3-grams leak from that set. The corpus has planted
    // near-duplicates (q24/q25 find them), so nonzero overlaps exist.
    "q64_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextDedup.contaminationScores(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", "text", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_matched"),
          round(col("overlap"), 4).as("overlap"))
        .orderBy(col("doc_id"))
    }),

    // Greedy sequence packing (training-example packing): docs fill
    // 120-token sequences per lang shard in doc_id order. The oracle is
    // a DuckDB recursive CTE replaying the exact greedy recurrence.
    "q65_sequence_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      SequencePack.packGreedy(docs, Seq("lang"), "doc_id", "n_tokens", capacity = 120)
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Mixture balancing: downsample to en:5 / de:3 / fr:2 weights with
    // data-derived exact quotas and hash-rank selection; es/zh are
    // unweighted and drop. The oracle replays quotas and ranks exactly.
    "q66_mixture_sample" -> ((s, d) => {
      MixtureSample.toWeights(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 5L, "de" -> 3L, "fr" -> 2L))
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Temperature-scaled mixture (T5 §3.4.3): weights derived from the
    // data itself as floor(sqrt(c_lang)) — alpha 0.5 up-weights
    // low-resource languages — then the same exact hash-rank quota
    // sampler as q66. sqrt (IEEE-correctly-rounded) keeps the derived
    // weights, and therefore the whole selection, bit-replayable; the
    // oracle recomputes weights → quotas → ranks from scratch.
    "q100_temperature_mix" -> ((s, d) => {
      MixtureSample.toTemperature(Tables.documents(s, d), "lang", "doc_id",
          alpha = 0.5)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Product-quantization ANN (operators/PqAnn.scala, Jégou et al.
    // 2011): codebook pinned to maxIter=0 (seed centroids = the first
    // 16 vectors' subspace slices — no RNG, no Lloyd drift), so the
    // oracle replays train → encode (per-subspace argmin, ties to the
    // smaller id) → ADC cosine against the reconstruction → rank,
    // entirely in SQL. The codebook rides the plan as ONE reference
    // object; encode is a single codegen'd pass; search is a guarded
    // broadcast of the queries over the CODED corpus (m ints + one norm
    // per row — the original vectors are never touched).
    "q101_pq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = graft.operators.PqAnn.train(emb, "vec_id", "embedding",
        m = 8, k = 16, maxIter = 0, trainRows = 16)
      val enc = graft.operators.PqAnn.encode(emb, "vec_id", "embedding", cb)
      graft.operators.PqAnn.searchTopK(enc, cb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ (faiss `IVFx,PQy` recipe): coarse cells prune the probe set
    // (EQUI-join on centroid_id), PQ codes over the cell RESIDUALS
    // compress the scan — the numerator needs no query residual because
    // dot(q, c + decode(code)) = dot(q, c) + adot(q, code). Pinned fully
    // deterministic (cellIter=0, pqIter=0), so the oracle replays cell
    // assignment → residuals → float-cast seed codebook → per-subspace
    // argmin → the exact three-term recon-norm formula → probe-2 scoring,
    // all in SQL. nProbe=2 of 4 cells: the oracle replays the PRUNING,
    // not just the scoring.
    "q102_ivfpq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.operators.PqAnn.buildIvfPq(emb, "vec_id", "embedding",
        nCells = 4, m = 8, k = 8, cellIter = 0, pqIter = 0, trainRows = 8)
      graft.operators.PqAnn.searchIvfPq(idx, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Same search through the PERSISTED index tier (PqAnn.saveIvfPq →
    // loadIvfPq → searchIvfPq): the encoded corpus is written PARTITIONED
    // BY centroid_id, so the probe equi-join prunes to exactly the probed
    // cells' directories at scan time (plan-asserted in IvfPqPersistSpec).
    // Build amortizes like q104's BM25 index: once per corpus version,
    // keyed on (dir, row count). Same oracle as q102 — the tiers are
    // pinned bit-identical and the driver re-proves it against DuckDB.
    "q110_ivfpq_persisted" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val nVecs = emb.count()
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_ivfpq_${math.abs(d.hashCode)}_$nVecs").toString
      if (!graft.sources.IndexStore.exists(s, dir)) {
        val idx = graft.operators.PqAnn.buildIvfPq(emb, "vec_id", "embedding",
          nCells = 4, m = 8, k = 8, cellIter = 0, pqIter = 0, trainRows = 8)
        graft.operators.PqAnn.saveIvfPq(s, idx, dir)
      }
      graft.operators.PqAnn.searchIvfPq(
          graft.operators.PqAnn.loadIvfPq(s, dir),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Gopher-style repetition filter (Rae et al. 2021 table A1). The
    // corpus has no newlines, so each document first gets a deterministic
    // "lined" form — its first 40 chars appended twice as injected
    // duplicate lines, then line breaks at the common token ' scan ' —
    // and the native one-pass RepetitionStats expression computes the
    // four repetition signals plus the keep gate. Every formula (and the
    // lined-text construction) is replayed in DuckDB list SQL; the gate
    // compares UNROUNDED doubles in both engines, which is safe because
    // every signal is integer arithmetic followed by one IEEE division —
    // bit-identical across engines.
    "q73_repetition_quality" -> ((s, d) => {
      val lined = regexp_replace(
        concat_ws("\n", col("text"),
          substring(col("text"), 1, 40), substring(col("text"), 1, 40)),
        lit(" scan "), lit("\n"))
      val st = repetitionStats(lined, topN = 2, dupN = 3)
      Tables.documents(s, d)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          round(col("st.dup_line_frac"), 4).as("dup_line_frac"),
          round(col("st.dup_line_char_frac"), 4).as("dup_line_char_frac"),
          round(col("st.top_gram_char_frac"), 4).as("top_gram_char_frac"),
          round(col("st.dup_gram_char_frac"), 4).as("dup_gram_char_frac"),
          repetitionKeep(col("st")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic global shuffle + shard layout — the training-shard
    // writer primitive: every doc gets a seeded hash (polyHash64, SQL-
    // replayable), a shard = hash mod nShards, and its position within
    // the shard. At 100 TB this is exactly repartitionByRange on
    // (shard, hash) + a per-shard sort — one shuffle, then
    // write.partitionBy(shard); the oracle replays hash, shard and
    // position bit-for-bit.
    "q74_shuffle_shard" -> ((s, d) => {
      graft.operators.ShardLayout.assign(
          Tables.documents(s, d).select(col("doc_id")),
          "doc_id", nShards = 8, seed = "seed42")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // SCD2 change folding over a three-version customer-dimension
    // history: v1 shifts segment for key%10=0, also re-observes key%7=0
    // UNCHANGED (must be suppressed), v2 shifts key%20=0 again. The
    // oracle replays the same history and the lag/lead interval logic.
    "q75_scd2_fold" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val history = c.withColumn("ver", lit(0L))
        .unionByName(c.filter(col("k") % 10 === 0)
          .withColumn("seg", lit("SHIFTED")).withColumn("ver", lit(1L)))
        .unionByName(c.filter(col("k") % 7 === 0 && col("k") % 10 =!= 0)
          .withColumn("ver", lit(1L))) // no-op re-observation
        .unionByName(c.filter(col("k") % 20 === 0)
          .withColumn("seg", lit("SHIFTED2")).withColumn("ver", lit(2L)))
      graft.operators.Scd2.fold(history, "k", "ver", Seq("seg"))
        .select(col("k"), col("seg"), col("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("k"), col("valid_from"))
    }),

    // Batch twin of the stream-stream interval join (attribution shape):
    // every click matched to the same user's views in the preceding 10
    // minutes. StreamingIngestSpec proves the watermarked two-stream run
    // emits exactly these rows; the oracle replays the interval join.
    // LEFT OUTER twin of q76 (unattributed impressions): every view with
    // no click in its window survives with a null click. The streaming
    // run (null rows flushed when the watermark passes the window end)
    // is spec-proven equal to this batch twin.
    "q93_left_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.streaming.StreamingIngest.viewClickJoinLeftOuter(
          e.filter(col("event_type") === "view"),
          e.filter(col("event_type") === "click"),
          window = "4 hours")
        .select(col("user_id"), col("view_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          unix_timestamp(col("view_ts")).as("view_epoch"),
          coalesce(unix_timestamp(col("click_ts")), lit(-1L)).as("click_epoch"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    }),

    "q76_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.streaming.StreamingIngest.viewClickJoin(
          e.filter(col("event_type") === "view"),
          e.filter(col("event_type") === "click"),
          window = "4 hours") // events are sparse per user; 4h keeps the
                              // result dense enough to exercise the join
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_timestamp(col("view_ts")).as("view_epoch"),
          unix_timestamp(col("click_ts")).as("click_epoch"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    }),

    // Tokenizer-vocabulary build: corpus term frequencies, min-count
    // prune, then stable token ids by (freq desc, term). The global
    // row_number runs on the AGGREGATED, PRUNED vocab — at 100 TB the
    // corpus-sized work is the distributed explode+groupBy; the ranked
    // set is vocabulary-sized (bounded, ~10^5-10^6), so the single-task
    // window is the correct plan, not a bottleneck.
    "q77_vocab_build" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 10)
        .withColumn("token_id",
          row_number().over(Window.orderBy(col("freq").desc, col("term"))))
        .orderBy(col("token_id"))
    }),

    // int8 embedding quantization (the 4x ANN memory reduction): scale,
    // codes and reconstruction bound per vector in one codegen'd pass.
    // floor(v/scale + 0.5) is pinned instead of round() because round-
    // half tie rules differ between engines; every value here is exact
    // IEEE double arithmetic, so the oracle matches bit-for-bit and the
    // rounds below are display-stability only.
    "q78_embed_quantize" -> ((s, d) => {
      val st = graft.functions.VectorFunctions.quantizeInt8(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), st.as("st"))
        .select(col("vec_id"),
          round(col("st.scale"), 6).as("scale"),
          // joined string, not the raw array: the driver's value-hash
          // compare cannot hash array cells
          array_join(col("st.codes").cast("array<string>"), ",").as("codes"),
          round(col("st.max_abs_err"), 6).as("max_abs_err"))
        .orderBy(col("vec_id"))
    }),

    // C4-style line filtering (operators/C4Filter.scala): synthetic line
    // structure via ' merge ' → newline (the q73 trick — the corpus has
    // no raw newlines), then the word-count floor + blocklist line gate
    // and the min-surviving-lines document gate. ZERO shuffle: pure
    // per-row HOF projection; the oracle replays it with list_filter.
    "q84_c4_filter" -> ((s, d) => {
      graft.operators.C4Filter.cleanLines(
          Tables.documents(s, d)
            .withColumn("text", replace(col("text"), lit(" merge "), lit("\n"))),
          "text", Seq("doc_id"),
          lineSep = "\n", minWords = 12, blocklist = Seq("slow"), minLines = 2)
        .orderBy(col("doc_id"))
    }),

    // Corpus-wide paragraph dedup (operators/ParagraphDedup.scala):
    // paragraphs via ' table ' → blank line; every repeated paragraph
    // survives only at its (doc_id, pos)-minimal occurrence and docs are
    // reassembled in position order. The min(struct) formulation is
    // partial-aggregable (no hot-key window sort); the oracle replays it
    // as row_number() = 1 — equivalent because (doc, pos) is unique.
    "q85_para_dedup" -> ((s, d) => {
      graft.operators.ParagraphDedup.dedup(
          Tables.documents(s, d)
            .withColumn("text", replace(col("text"), lit(" table "), lit("\n\n"))),
          "doc_id", "text", paraSep = "\n\n")
        .orderBy(col("doc_id"))
    }),

    // SemDedup (operators/SemDedup.scala): cluster the embedding space,
    // drop every vector with a same-cell smaller-id peer at cosine ≥ τ.
    // maxIter = 0 pins the centroids to the 8 id-minimal embeddings so
    // the DuckDB oracle can replay assignment (argmin L2, ties to the
    // smaller centroid id — NearestCells' strict-comparison rule) and
    // the drop rule exactly; SemDedupSpec covers the iterated-k-means
    // path with witness/partition properties.
    "q86_semdedup" -> ((s, d) => {
      graft.operators.SemDedup.dedup(Tables.embeddings(s, d),
          "vec_id", "embedding", nCentroids = 8, tau = 0.3, maxIter = 0)
        .orderBy(col("vec_id"))
    }),

    // Distributed BPE tokenizer training (operators/BpeTrain.scala): ONE
    // corpus pass for word frequencies, then 8 merge rounds over the
    // vocabulary-sized segmentation frame. Segmentations are space-
    // joined strings and merges are literal " l r " → " lr " replaces —
    // left-to-right non-overlapping in BOTH engines — so the oracle
    // unrolls the full training loop round-for-round.
    "q88_bpe_train" -> ((s, d) => {
      graft.operators.BpeTrain.train(Tables.documents(s, d), "text", nMerges = 8)
        .orderBy(col("rank"))
    }),

    // CCNet-shape LM quality scoring (operators/LmScore.scala): add-k
    // bigram model trained on the corpus, each doc scored by mean log
    // bigram probability. Counts are exact integers; the only FP terms
    // are one division + ln per bigram and the per-doc mean, rounded to
    // 4 — the oracle replays the identical formula.
    "q89_lm_score" -> ((s, d) => {
      graft.operators.LmScore.scoreBigram(
          Tables.documents(s, d), "doc_id", "text", k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // CCNet head/middle/tail split (Wenzek et al. 2020 §4.4): per-lang
    // ntile over the q89 LM scores — bucket 1 = most fluent. Ranking is
    // on the ROUNDED score with a doc_id tiebreak, so assignment is
    // deterministic in both engines despite FP scores.
    "q103_ccnet_buckets" -> ((s, d) => {
      graft.operators.LmScore.perplexityBuckets(
          Tables.documents(s, d), "doc_id", "text", "lang", k = 0.5)
        .select(col("doc_id"), col("lang"),
          round(col("avg_logp"), 4).as("avg_logp"),
          col("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval (operators/Bm25.scala — Okapi weighting, Lucene
    // idf form): query-targeted corpus selection. One inverted-index
    // pass; each query touches only its own terms' postings. The oracle
    // replays tf/df/dl/avgdl and the exact scoring formula.
    "q96_bm25" -> ((s, d) => {
      val queries = s.createDataFrame(Seq(
        (1L, "table scan merge"), (2L, "vector batch"),
        (3L, "customer order data"))).toDF("query_id", "qtext")
      graft.operators.Bm25.topK(
          Tables.documents(s, d), "doc_id", "text",
          queries, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Same retrieval through the PERSISTED index tier (Bm25.buildIndex
    // → topKIndexed): the corpus tokenize+count pass is paid once at
    // build; the search plan joins only the postings/doclens/termstats
    // parquet — the serving shape for a static corpus. Same oracle as
    // q96: the tiers are pinned bit-identical (Bm25Spec) and the driver
    // re-proves it against DuckDB here.
    "q104_bm25_indexed" -> ((s, d) => {
      // the index is PERSISTED state: build once per corpus dir, then
      // every later search (including this query's re-runs) pays only
      // the query-side joins — that is the tier's contract. The cache
      // key includes the corpus ROW COUNT, not just the path: if the
      // data at the same path is regenerated (e.g. rebuilt at another
      // scale factor in place), the stale index must not be reused.
      val corpus = Tables.documents(s, d)
      val nDocs = corpus.count()
      val idx = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        // "idxf": the fingerprint-keyed index format — a key bump so a
        // stale string-keyed index from an older binary is never joined
        // against long query fingerprints
        s"graft_bm25idxf_${math.abs(d.hashCode)}_$nDocs").toString
      if (!graft.sources.IndexStore.exists(s, idx)) {
        graft.operators.Bm25.buildIndex(corpus, "doc_id", "text", idx)
      }
      val queries = s.createDataFrame(Seq(
        (1L, "table scan merge"), (2L, "vector batch"),
        (3L, "customer order data"))).toDF("query_id", "qtext")
      graft.operators.Bm25.topKIndexed(
          s, idx, queries, "query_id", "qtext", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Bloom point-lookup tier (ParquetTable.optimizeBloom + the
    // DataSkipping bloom probe): native parquet bloom filters on a
    // high-cardinality scrambled key, equality lookups served through
    // the bloom-pruned readWhere path (BloomSkippingSpec proves the
    // file-count drop; this proves end-to-end correctness against the
    // oracle's replay of the scramble).
    "q113_bloom_lookup" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_bloom").toString + "/t"
      graft.sources.ParquetTable.create(
        s.read.parquet(s"$d/orders.parquet")
          .filter(col("o_orderkey") < 20000)
          .select(col("o_orderkey"),
            concat(lit("k-"), ((col("o_orderkey") * lit(2654435761L)) % 1000000L)
              .cast("string")).as("uid"),
            col("o_totalprice"))
          .repartition(8), out)
      graft.sources.ParquetTable.optimizeBloom(s, out, Seq("uid"), numFiles = 8)
      Seq(1L, 7L, 32L)
        .map(k => s"k-${(k * 2654435761L) % 1000000L}")
        .map(k => graft.sources.ParquetTable.readWhere(s, out, col("uid") === k))
        .reduce(_.unionByName(_))
        .select(col("o_orderkey"), col("uid"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Column mapping (ParquetTable.renameColumn/dropColumn): O(1)
    // metadata-only RENAME + DROP COLUMN via the manifest's column
    // mapping — no data rewrite; the read serves the logical view over
    // unchanged physical files. The oracle states the post-DDL logical
    // schema directly over the raw table.
    "q112_rename_column" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_cm").toString + "/t"
      graft.sources.ParquetTable.create(
        s.read.parquet(s"$d/lineitem.parquet")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .filter(col("l_orderkey") < 100), out)
      graft.sources.ParquetTable.renameColumn(s, out, "l_quantity", "qty")
      graft.sources.ParquetTable.dropColumn(s, out, "l_extendedprice")
      graft.sources.ParquetTable.read(s, out)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Bloom-guarded history dedup (TextDedup.dedupAgainstHistoryBloom):
    // a new batch deduped against a frozen corpus history where
    // bloom-negative rows never touch the history and the exact-confirm
    // path broadcasts batch-bounded candidate sets — the history itself
    // never shuffles. Results are EXACT (the bloom only reroutes); the
    // oracle replays the whole thing as normalized-text set algebra.
    "q114_bloom_history_dedup" -> ((s, d) => {
      import graft.functions.TextFunctions.normalizedFingerprint
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0).unionByName(
        history.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val store = history
        .select(normalizedFingerprint(col("text")).as("fp")).distinct()
      val bloom = TextDedup.historyBloom(store, history.count())
      val (novel, _) = TextDedup.dedupAgainstHistoryBloom(
        batch, "doc_id", "text", store, bloom)
      novel.select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))
    }),

    // Generated columns (sources/GeneratedColumns.scala — Delta's
    // GENERATED ALWAYS AS): the rule is registered before the first
    // write; neither the create frame nor the inserted rows carry
    // o_year — ingest computes it row-locally and the paired _gen_
    // CHECK invariant validates every commit. The oracle states the
    // generation expression directly.
    "q116_generated_columns" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_gen").toString + "/t"
      graft.sources.GeneratedColumns.add(s, out, "o_year", "year(o_orderdate)")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      graft.sources.ParquetTable.create(
        orders.filter(col("o_orderkey") < 500), out)
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000))
      graft.sources.ParquetTable.read(s, out).orderBy(col("o_orderkey"))
    }),

    // Incremental small-dir compaction (ParquetTable.compactSmall +
    // OPTIMIZE ... COMPACT SMALL SQL): a bulk load plus three small
    // inserts fold back without rewriting the settled bulk (spec-pinned
    // in CompactSmallSpec); the read after the fold must be the plain
    // union, which the oracle states directly.
    "q121_compact_small" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_csmall").toString + "/t"
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.ParquetTable.create(
        orders.filter(col("o_orderkey") < 2000), out)
      Seq((2000L, 2100L), (2100L, 2200L), (2200L, 2300L)).foreach {
        case (lo, hi) =>
          graft.sources.ParquetTable.insertInto(s, out,
            orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi))
      }
      graft.sql.GraftSql.sql(s,
        s"OPTIMIZE graft.`$out` COMPACT SMALL BELOW 50000")
      graft.sources.ParquetTable.read(s, out).orderBy(col("o_orderkey"))
    }),

    // ADD COLUMN + DEFAULT lifecycle (ParquetTable.addColumn +
    // ColumnDefaults — Delta's metadata-only schema evolution with the
    // SQL CURRENT_DEFAULT model): pre-add rows read NULL forever, each
    // later ingest materializes the default CURRENT at its write, and
    // explicit values always win. The oracle states the final image as
    // a CASE over the four ingest windows.
    "q131_add_column_default" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_addcol").toString + "/t"
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.ParquetTable.create(
        orders.filter(col("o_orderkey") < 500), out)
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE graft.`$out` ADD COLUMN tier string DEFAULT 'std'")
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000))
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE graft.`$out` ALTER COLUMN tier SET DEFAULT 'bulk'")
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1500))
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 1500 && col("o_orderkey") < 2000)
          .withColumn("tier", lit("vip")))
      graft.sources.ParquetTable.read(s, out).orderBy(col("o_orderkey"))
    }),

    // Per-dimension int8 scalar quantization + ASYMMETRIC search
    // (operators/ScalarQuant.scala — the faiss SQ8 serving tier): train
    // (lo,hi) per dim, store 1-byte levels, score float queries against
    // the dequantized corpus. floor(x+0.5) levels (round-half rules
    // differ between engines), so the oracle replays the quantizer
    // bit-for-bit.
    "q130_sq8_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.ScalarQuant.bruteForceSqTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // DSIR importance-weighted data selection (operators/Dsir.scala,
    // Xie et al. 2023): raw = the whole corpus, target = its English
    // slice; every document scores Σ_tokens [log p_en(t) − log p_raw(t)]
    // under add-k unigram models and the top 20 most-target-like docs
    // win. Everything shuffles on xxhash64 term fingerprints; the oracle
    // replays the STRING formulation term-by-term, proving fp≡string.
    "q128_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Dsir.selectTop(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text", topK = 20)
        .orderBy(col("rank"))
    }),

    // Deterministic content-hash train/val/test split (operators/
    // Splits.scala): bucket = first two hex chars of md5(doc_id ":0"),
    // compared lexicographically against the 80/10/10 cumulative
    // boundaries "cd"/"e6" — stable under repartition and corpus growth,
    // replayable by ANY engine with md5 (which is exactly what the
    // oracle does). Pure map-side projection, zero shuffle.
    "q129_hash_split" -> ((s, d) => {
      graft.operators.Splits.assign(
        Tables.documents(s, d),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // CTAS end-to-end (GraftSql CREATE TABLE ... PARTITIONED BY ... AS
    // SELECT): the SELECT reads a graft table (itself CTAS'd from raw
    // parquet), the result lands partitioned + versioned, and the read
    // back must equal the plain relational statement of both SELECTs.
    "q136_ctas" -> ((s, d) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft_ctasq").toString
      val src = s"$base/src"; val dst = s"$base/dst"
      graft.sources.ParquetTable.create(
        s.read.parquet(s"$d/orders.parquet")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderkey") < 3000), src)
      graft.sql.GraftSql.sql(s,
        s"CREATE TABLE graft.`$dst` PARTITIONED BY (o_orderstatus) AS " +
          s"SELECT * FROM graft.`$src` WHERE o_totalprice > 100000")
      graft.sources.ParquetTable.read(s, dst)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Persisted winnowing history index (TextDedup.winnowingIndexSave/
    // winnowingProbeHistory — the local-overlap member of the history-
    // dedup family beside bloom-exact, paragraph and MinHash): history
    // is sketched ONCE to a posting list; the batch probes it with one
    // fp equi-join — history text never re-tokenizes, never shuffles.
    // Oracle re-derives both sides' exact selected sets and the join.
    "q137_winnowing_history" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_wnidx").toString + "/idx"
      val docs = Tables.documents(s, d)
      TextDedup.winnowingIndexSave(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 100))
      TextDedup.winnowingProbeHistory(batch, "doc_id", "text", dir,
          minShared = 2)
        .orderBy(col("doc_id"), col("hist_id"))
    }),

    // Incremental MinHash index MAINTENANCE (TextDedup.minHashIndexAppend
    // — the streaming near-dup ingest's append path stated as a batch
    // query): the index is BUILT over half the history and the other
    // half APPENDED; probes must answer exactly as a one-shot index over
    // the union would (parameters are read from the pinned meta, so the
    // appended rows provably hash with the build's permutations). The
    // batch plants shifted copies hitting BOTH the saved half (%20==0 →
    // ≡0 mod 4) and the appended half (%20==10 → ≡2 mod 4); the oracle
    // is the index-free brute-force cross Jaccard against the FULL
    // history — an append bug (wrong params, dropped rows) loses pairs
    // and fails the hash.
    "q139_minhash_index_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val histSaved = docs.filter(col("doc_id") % 4 === 0)
      val histAppended = docs.filter(col("doc_id") % 4 === 2)
      val history = histSaved.unionByName(histAppended)
      val batch = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") < 200)
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_mhapp").toString + "/idx"
      TextDedup.minHashIndexSave(histSaved, "doc_id", "text", dir)
      TextDedup.minHashIndexAppend(histAppended, "doc_id", "text", dir)
      TextDedup.minHashProbeHistory(batch, "doc_id", "text", dir,
          threshold = 0.5, verifyAgainst = Some((history, "doc_id", "text")))
        .orderBy(col("batch_id"), col("hist_id"))
    }),

    // The signature-ESTIMATE probe tier (minHashProbeHistory with
    // verifyAgainst = None — the 100 TB serving mode streamNearDupIngest
    // runs with verifyWithCorpus = false): candidates come from the
    // persisted band index and similarity is the fraction of agreeing
    // minhash positions — the probe never touches corpus text. The index
    // is built with the SQL-replayable poly64 base hash (pinned in meta;
    // the q28 SimHash precedent), so the oracle recomputes the 32
    // signatures from the SAME inlined permutation constants, re-derives
    // the band-bucket candidates, and re-scores the estimator — pinning
    // the estimate tier end-to-end instead of trusting the spec.
    "q140_minhash_estimate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 =!= 0 && col("doc_id") < 200)
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_mhest").toString + "/idx"
      TextDedup.minHashIndexSave(hist, "doc_id", "text", dir,
        baseHash = "poly64")
      TextDedup.minHashProbeHistory(batch, "doc_id", "text", dir,
          threshold = 0.5)
        .orderBy(col("batch_id"), col("hist_id"))
    }),

    // Incremental WINNOWING index maintenance (TextDedup.
    // winnowingIndexAppend — q139's pattern for the local-overlap
    // sketch): the posting list is BUILT over half the history and the
    // other half APPENDED ((k, w) read from the pinned params), then
    // probed with the q137 batch. The oracle is q137's index-free
    // replay against the FULL history — identical answers prove the
    // appended rows sketch exactly as a one-shot build over the union
    // (an append bug — wrong window, dropped or double-counted rows —
    // changes n_shared and fails the hash).
    "q142_winnowing_index_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_wnapp").toString + "/idx"
      TextDedup.winnowingIndexSave(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", dir)
      TextDedup.winnowingIndexAppend(
        docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", dir)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 100))
      TextDedup.winnowingProbeHistory(batch, "doc_id", "text", dir,
          minShared = 2)
        .orderBy(col("doc_id"), col("hist_id"))
    }),

    // Incremental table statistics (StatsSketch — the incremental-ANALYZE
    // path): per-column HLL NDV registers built over HALF of lineitem,
    // the other half APPENDED (params pinned in meta; register merge is
    // max, so replays are no-ops by algebra), then folded to
    // (zeros, exact scaled register sum, NDV estimate). The hash chain
    // is poly64 → two cross-seeded affine→square→affine chains mod
    // 2^31−1 (all integer-exact in SQL) and the register sum is an
    // exact scaled BIGINT so aggregation order cannot move a double
    // ulp — the oracle recomputes registers
    // AND estimates over the FULL table, so an append bug (wrong perms,
    // dropped rows) or estimator drift fails the hash. l_returnflag/
    // l_suppkey exercise the linear-counting branch, l_orderkey the raw
    // HLL branch.
    "q143_hll_ndv_sketch" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_hll").toString + "/sketch"
      StatsSketch.save(l.filter(col("l_orderkey") % 2 === 0), cols, dir)
      StatsSketch.append(l.filter(col("l_orderkey") % 2 =!= 0), cols, dir)
      StatsSketch.estimate(s, dir).orderBy(col("column"))
    }),

    // Incremental ANALYZE against a LIVE versioned table (StatsSketch.
    // analyze/analyzeIncremental): the table is committed in two merges;
    // the sketch full-scans v1 and then advances to v2 by sketching ONLY
    // the change feed (ParquetTable.changes net diff) — at 100 TB the
    // nightly ANALYZE costs the day's commits, not the decade's. The
    // windows are append-only so the result must equal q143's one-shot
    // registers over the full table — SAME oracle: a CDF wiring bug
    // (missed rows, wrong window, double-advanced version) changes the
    // registers and fails the hash.
    "q145_analyze_incremental" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      val pk = Seq("l_orderkey", "l_linenumber")
      val root = java.nio.file.Files
        .createTempDirectory("graft_hlla").toString
      val table = root + "/t"
      val sk = root + "/sketch"
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 === 0), pk)
      StatsSketch.analyze(s, table, cols, sk)
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 =!= 0), pk)
      StatsSketch.analyzeIncremental(s, table, pk, sk)
      StatsSketch.estimate(s, sk).orderBy(col("column"))
    }),

    // The UPPER-BOUND tier of incremental ANALYZE (StatsSketch's
    // exact=false contract, battery-entered per VERDICT r12 item 2): the
    // window between analyze() and analyzeIncremental() contains an
    // UPDATE commit (new l_suppkey values enter the sketch) and a DELETE
    // commit (rows leave the table — but registers are max-only, so
    // their values cannot leave the sketch). The estimate downgrades to
    // a documented "values ever present" upper bound and the persistent
    // exact flag flips false — silent wrongness refused by design. The
    // oracle re-sketches exactly that values-ever-present set: v1's
    // values ∪ the update postimages that SURVIVE the net change feed
    // (transient values of rows deleted inside the same window never
    // reach the sketch — changes() is a net diff).
    "q146_analyze_upper_bound" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val cols = Seq("l_partkey", "l_suppkey", "l_returnflag")
      val pk = Seq("l_orderkey", "l_linenumber")
      val root = java.nio.file.Files
        .createTempDirectory("graft_hllub").toString
      val table = root + "/t"
      val sk = root + "/sketch"
      // v1: even orderkeys; full-scan ANALYZE pins (cols, v1)
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 === 0), pk)
      StatsSketch.analyze(s, table, cols, sk)
      // v2 (update window): %4 rows get remapped supplier keys
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 4 === 0)
          .withColumn("l_suppkey", col("l_suppkey") + lit(1000000)), pk)
      // v3 (delete window): %8 rows leave the table by DELETION VECTOR —
      // the O(matched) tier a 100 TB table would actually use (the COW
      // `delete` would rewrite the whole image for a 25% delete); the
      // net change feed sees the same deletes either way
      graft.sources.ParquetTable.deleteVectors(s, table,
        col("l_orderkey") % 8 === 0)
      StatsSketch.analyzeIncremental(s, table, pk, sk)
      StatsSketch.estimate(s, sk)
        .withColumn("exact", lit(StatsSketch.isExact(s, sk)))
        .orderBy(col("column"))
    }),

    // The CDF FAST PATH of incremental ANALYZE: when every commit in the
    // window captured a change manifest (cdf = true), analyzeIncremental
    // reads ONLY those manifests — truly change-sized, the tier a 100 TB
    // nightly actually runs (the snapshot net diff scans the table). The
    // oracle is deliberately DIFFERENT from q146's: the per-commit feed
    // sees the TRANSIENT postimages of rows a later commit deletes (the
    // net diff never does), so the values-ever-present set here is the
    // full table ∪ ALL remapped supplier keys — if the engine silently
    // fell back to the snapshot diff, the %8 rows' remapped keys would
    // be missing and the register hash would fail.
    "q148_analyze_cdf_feed" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val cols = Seq("l_partkey", "l_suppkey", "l_returnflag")
      val pk = Seq("l_orderkey", "l_linenumber")
      val root = java.nio.file.Files
        .createTempDirectory("graft_hllcdf").toString
      val table = root + "/t"
      val sk = root + "/sketch"
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 === 0), pk)
      StatsSketch.analyze(s, table, cols, sk)
      // v2: the odd half arrives (inserts), captured
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 =!= 0), pk, cdf = true)
      // v3: remap supplier keys on %4 rows (update pre+post captured)
      graft.sources.ParquetTable.update(s, table,
        col("l_orderkey") % 4 === 0,
        Map("l_suppkey" -> (col("l_suppkey") + lit(1000000))), cdf = true)
      // v4: %8 rows leave by deletion vector, captured — their remapped
      // keys stay in the sketch via the v3 manifest
      graft.sources.ParquetTable.deleteVectors(s, table,
        col("l_orderkey") % 8 === 0, cdf = true)
      StatsSketch.analyzeIncremental(s, table, pk, sk)
      StatsSketch.estimate(s, sk)
        .withColumn("exact", lit(StatsSketch.isExact(s, sk)))
        .orderBy(col("column"))
    }),

    // The exact-flag RESTORATION path (VERDICT r13 item 4): q146's
    // upper-bound window (update + DV delete flip exact=false), then
    // the full re-ANALYZE — the whole sketch lifecycle end-to-end. The
    // re-baseline must OVERWRITE the upper-bound registers with a fresh
    // full-scan sketch of the CURRENT table and reset exact=true; the
    // oracle is a fresh sketch of exactly the surviving rows (evens
    // minus the %8 delete, %4 suppkeys remapped), so a re-baseline that
    // merged instead of overwrote — or forgot the flag — hash-fails.
    "q149_analyze_rebaseline" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val cols = Seq("l_partkey", "l_suppkey", "l_returnflag")
      val pk = Seq("l_orderkey", "l_linenumber")
      val root = java.nio.file.Files
        .createTempDirectory("graft_hllrb").toString
      val table = root + "/t"
      val sk = root + "/sketch"
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 2 === 0), pk)
      StatsSketch.analyze(s, table, cols, sk)
      graft.sources.ParquetTable.merge(s, table,
        l.filter(col("l_orderkey") % 4 === 0)
          .withColumn("l_suppkey", col("l_suppkey") + lit(1000000)), pk)
      graft.sources.ParquetTable.deleteVectors(s, table,
        col("l_orderkey") % 8 === 0)
      StatsSketch.analyzeIncremental(s, table, pk, sk)
      require(!StatsSketch.isExact(s, sk),
        "q149: the update+delete window must flip exact=false first")
      // the re-baseline: full scan of the current head, flag restored
      StatsSketch.analyze(s, table, cols, sk)
      StatsSketch.estimate(s, sk)
        .withColumn("exact", lit(StatsSketch.isExact(s, sk)))
        .orderBy(col("column"))
    }),

    // The HISTOGRAM statistics tier (the second half of the reference's
    // query-layer stats opt-in, glue_etl.py:408): exact grid-granular
    // equi-height bins — heavy cells repeat across singleton bins, the
    // format's skew encoding. The oracle replays the ENTIRE pipeline
    // (min/max → 16384-cell quantization → per-cell exact rows/NDV →
    // cumulative fold → bin/cell intersection) in SQL; output is
    // integer-only (bin, rows, ndv) so no float rendering can blur the
    // hash, while the lo/hi affine scaling is spec-pinned in-JVM
    // (PlanStatsSpec's hot-mass case).
    // The CRAWLER tier end-to-end in the battery (VERDICT r14 item 1):
    // the reference's analysts query `clean_*` THROUGH the catalog
    // (README.md:247-249), and its Glue crawler exists to publish table
    // statistics to that layer (delta-lake.json:106-146). Here
    // registration IS the crawl — Catalog.registerExternal publishes
    // footer-exact row counts plus the sketch's NDV into the session
    // catalog entry — and this plain spark.sql join then plans under
    // the same CBO conf the reference's query layer sets
    // (glue_etl.py:407). Flip directions are plan-asserted in
    // CatalogStatsSpec; this entry pins that published statistics
    // change plans, never answers (integer-only aggregates so both
    // engines sum order-independently).
    "q152_catalog_stats_join" -> ((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_crawler").toString
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$root/cust")
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/ord")
      StatsSketch.save(s.read.parquet(s"$root/cust"), Seq("c_mktsegment"),
        graft.sources.ParquetTable.statsDir(s"$root/cust"))
      StatsSketch.save(s.read.parquet(s"$root/ord"), Seq("o_orderpriority"),
        graft.sources.ParquetTable.statsDir(s"$root/ord"))
      graft.sources.Catalog.registerExternal(s, "q152_customer",
        s"$root/cust", partitioned = false)
      graft.sources.Catalog.registerExternal(s, "q152_orders",
        s"$root/ord", partitioned = false)
      val old = s.conf.getOption("spark.sql.cbo.enabled")
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.sql(
          """SELECT c_mktsegment, o_orderpriority,
            |  count(*) AS n_orders, sum(o_orderkey) AS key_sum
            |FROM q152_orders JOIN q152_customer ON o_custkey = c_custkey
            |GROUP BY c_mktsegment, o_orderpriority""".stripMargin)
          // materialized UNDER the conf (planning happens at the write),
          // then handed back as a plain read — the q150 discipline
          .write.mode("overwrite").parquet(s"$root/out")
      } finally old match {
        case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
        case None => s.conf.unset("spark.sql.cbo.enabled")
      }
      s.read.parquet(s"$root/out")
        .orderBy(col("c_mktsegment"), col("o_orderpriority"))
    }),

    "q151_histogram_stats" -> ((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_hist").toString
      val cols = Seq("l_quantity", "l_extendedprice")
      graft.operators.StatsHistogram.build(
        Tables.lineitem(s, d), cols, root)
      val bins = graft.operators.StatsHistogram.read(s, root)
      import s.implicits._
      bins.toSeq.flatMap { case (c, bs) =>
        bs.zipWithIndex.map { case (b, i) => (c, i, b.rows, b.ndv) }
      }.toDF("column", "bin", "rows", "ndv")
        .orderBy(col("column"), col("bin"))
    }),

    // The read-path CBO loop end-to-end in the battery (VERDICT r13
    // item 1): an ANALYZEd versioned table joined under the CBO conf
    // the reference's query layer sets (glue_etl.py:407-408) — the plan
    // is sized from the sketch's NDV and the sidecars' exact row count
    // (PlanStats; flip directions are plan-asserted in PlanStatsSpec,
    // the 153 MB → 0 MB shuffle pair recorded in SCALING.md §3l), and THIS entry
    // pins that the statistics change plans, never answers. Aggregates
    // are exact-integer doubles so both engines sum order-independently.
    "q150_cbo_stats_join" -> ((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_cbo").toString
      val t = root + "/orders_t"
      graft.sources.ParquetTable.atomicReplace(s, t,
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")), Nil)
      StatsSketch.analyze(s, t, Seq("o_orderpriority"),
        graft.sources.ParquetTable.statsDir(t))
      val old = s.conf.getOption("spark.sql.cbo.enabled")
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        Tables.lineitem(s, d)
          .join(graft.sources.ParquetTable.read(s, t),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).as("total_qty"),
            count(lit(1)).as("n_items"))
          // materialized UNDER the conf (planning happens at the write),
          // then handed back as a plain read so the battery runner's
          // later actions don't depend on session state this query set
          .write.mode("overwrite").parquet(s"$root/out")
      } finally old match {
        case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
        case None => s.conf.unset("spark.sql.cbo.enabled")
      }
      s.read.parquet(s"$root/out").orderBy(col("o_orderpriority"))
    }),

    // q141's curation DAG with a REAL LM-quality cut (VERDICT r12 item
    // 4): lmCutExact drops the lowest-score grid cells holding ≤
    // floor(0.1·n) documents — an exact, order-independent, externally
    // replayable gate (no approxQuantile, no global sort; ONE model-
    // sized histogram aggregation — see CurationPipeline's lm_gate).
    // The oracle re-derives the whole funnel INCLUDING the bigram-LM
    // scores and the grid-prefix cut, so the gate provably drops the
    // same documents in both engines.
    "q147_curation_exact_cut" -> ((s, d) => {
      val res = graft.pipeline.CurationPipeline.run(
        s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        lmCutQuantile = 0.1, lmCutExact = true, nShards = 8,
        seed = "curation42", nearDupThreshold = Some(0.5))
      res.corpus.select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // The FULL curation DAG as one driver-checked query (pipeline/
    // CurationPipeline.run): C4 line gate → corpus-wide paragraph dedup →
    // exact dedup → LSH near-dup keep-best (the q138 path + q133
    // retention) → Gopher repetition gate → LM gate → deterministic
    // shard layout. Each stage is independently oracle-checked
    // (q84/q85/q23/q138/q133/q126/q89/q74); this entry makes the
    // COMPOSITION itself driver-checked: the oracle re-derives the
    // surviving doc set stage by stage and the final (shard, pos)
    // layout. lmCutQuantile = 0 pins the one approximate stage
    // (approxQuantile at 0 returns the exact minimum, so the LM gate
    // reduces to "has a bigram" — implied by the ≥5-word C4 gate).
    "q141_curation_pipeline" -> ((s, d) => {
      val res = graft.pipeline.CurationPipeline.run(
        s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        lmCutQuantile = 0.0, nShards = 8, seed = "curation42",
        nearDupThreshold = Some(0.5))
      res.corpus.select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // The 100-TB dedup COMPOSITION: MinHash-LSH candidate generation →
    // exact-Jaccard confirmation (TextDedup.minHashDedupPairs, the q24
    // path) → connected components (Components.dedupClusters, the q47
    // closure). q47/q133 cluster from the quadratic exact tier; this is
    // the documented scale path — sub-quadratic banded equi-join feeding
    // the same closure. Equality with the brute-force oracle holds for
    // the same reason as q24: all true pairs in this corpus sit at
    // j≈0.97–1.0, where the 8×4 LSH miss probability is < 1e-8.
    "q138_lsh_dedup_clusters" -> ((s, d) => {
      val dup = docsWithDups(s, d)
      val pairs = TextDedup.minHashDedupPairs(dup, "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components
        .dedupClusters(dup, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("component"), col("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // Jelinek–Mercer interpolated trigram LM (LmScore.scoreTrigramJM —
    // the order-3 step toward CCNet's 5-gram filter): per-order ML
    // ratios linearly interpolated with a uniform 1/V floor. P is
    // computed once per DISTINCT trigram on the vocab-bounded table
    // (the Dsir trick); every gram shuffles as an xxhash64 fp; the
    // oracle replays the STRING formulation.
    "q135_lm_trigram" -> ((s, d) => {
      graft.operators.LmScore.scoreTrigramJM(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (TextDedup.winnowingPairs — the MOSS
    // local-overlap sketch, Schleimer et al. 2003): word-3-gram
    // PolyHash64 hashes, window-of-4 minima, pairs sharing ≥ 5 selected
    // fingerprints. The oracle re-derives the exact selected set (the
    // hash is SQL-replayable) and the same pair counts.
    "q134_winnowing" -> ((s, d) => {
      TextDedup.winnowingPairs(docsWithDups(s, d), "doc_id", "text",
          k = 3, w = 4, minShared = 5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Quality-aware dedup-cluster retention (Components.
    // dedupClustersKeepBest — the FineWeb/Dolma policy): the q47 cluster
    // derivation (fingerprint + edit-distance edges) but each cluster
    // keeps its BEST-quality member (rounded qualityScore, id tiebreak)
    // instead of its lowest id. The oracle recomputes clusters by
    // recursive CTE and the argmax by the same (round(quality,4), id)
    // key.
    "q133_dedup_keep_best" -> ((s, d) => {
      val dup = docsWithDups(s, d)
      val fp = dup.select(col("doc_id"), normalizedFingerprint(col("text")).as("fp"))
      val fpB = fp.select(col("doc_id").as("doc_id_b"), col("fp").as("fp_b"))
      val e1 = fp.join(fpB,
          col("fp") === col("fp_b") && col("doc_id") < col("doc_id_b"))
        .select(col("doc_id").as("id_a"), col("doc_id_b").as("id_b"))
      val e2 = TextDedup.editDistancePairs(dup, "doc_id", "text",
          maxDist = 12, blockCols = Seq("lang", "source"), prefixLen = 30)
        .select(col("id_a"), col("id_b"))
      graft.operators.Components.dedupClustersKeepBest(
          dup.withColumn("quality", qualityScore(col("text"))),
          "doc_id", e1.unionByName(e2), "id_a", "id_b", "quality")
        .select(col("doc_id"), col("component"),
          round(col("quality"), 4).as("quality"), col("is_best"))
        .orderBy(col("doc_id"))
    }),

    // Persisted-DSIR deployment tier (Dsir.trainModel/scoreWithModel):
    // the two-corpus counting pass runs ONCE into a vocab-bounded
    // parquet log-ratio table; shards then score with one fp equi-join.
    // Scoring the training corpus itself must reproduce q128 exactly —
    // same oracle (the q110/q102 persisted-tier pattern).
    "q132_dsir_persisted" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_dsir").toString
      val docs = Tables.documents(s, d)
      graft.operators.Dsir.trainModel(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text", dir)
      val scored = graft.operators.Dsir
        .scoreWithModel(s, dir, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("weight"), 4).as("weight"))
        .orderBy(col("weight").desc, col("doc_id")).limit(20)
      scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col("doc_id"))))
        .orderBy(col("rank"))
    }),

    // Hard-negative mining for retrieval training (Ann.hardNegatives —
    // the DPR/ANCE recipe): per query, the top-k nearest corpus vectors
    // EXCLUDING its positives (here: every same-label vector), i.e. the
    // nearest other-topic items — the negatives that actually teach a
    // retriever. The positive set rides as one anti-join; the oracle
    // restates it as a label-inequality join condition.
    "q127_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
      val pos = qs.select(col("vec_id").as("qid"), col("label"))
        .join(emb.select(col("vec_id").as("nid"), col("label")), Seq("label"))
        .select(col("qid"), col("nid"))
      graft.operators.Ann.hardNegatives(emb, qs, pos,
        "vec_id", "embedding", "qid", "nid", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Gopher/MassiveText repetition signals (RepetitionStats.gopherStats,
    // Rae et al. 2021 §A1.1): per-doc duplicate-line/paragraph fractions
    // (count + char mass) and top 2-/3-gram character coverage, plus the
    // threshold keep-flag. Everything shuffles on (doc, xxhash64(unit))
    // fingerprints; the oracle replays the STRING formulation, proving
    // fp≡string per run.
    "q126_gopher_repetition" -> ((s, d) => {
      val stats = graft.operators.RepetitionStats.gopherStats(
        Tables.documents(s, d), "doc_id", "text")
      stats.select(col("doc_id"),
        round(col("dup_line_frac"), 4).as("dup_line_frac"),
        round(col("dup_line_char_frac"), 4).as("dup_line_char_frac"),
        round(col("dup_para_frac"), 4).as("dup_para_frac"),
        round(col("top_2gram_char_frac"), 4).as("top_2gram_char_frac"),
        round(col("top_3gram_char_frac"), 4).as("top_3gram_char_frac"),
        (col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20 &&
          col("dup_para_frac") <= 0.30 && col("top_2gram_char_frac") <= 0.20 &&
          col("top_3gram_char_frac") <= 0.18).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Generated PARTITION column end-to-end (GeneratedColumns + the
    // partitioned versioned layout — Databricks' generated partition
    // columns recipe): the table partitions by a `date(o_orderdate)`
    // column NO writer ever supplies — create and insert both derive it
    // row-locally inside the write projection — and the read filters on
    // the generated column, pruning partitions at plan time
    // (plan-asserted in GeneratedColumnsSpec). The oracle states the
    // generation expression and the date-range filter directly.
    "q125_generated_partition" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_genpart").toString + "/t"
      // year(ts), not date(ts): a generated PARTITION column must still
      // obey partition-count hygiene — date-partitioning 1.5k orders
      // spread over 7 years writes ~1.2k one-row dirs (measured 20+ s
      // of pure dir/manifest overhead); year keeps dirs O(10) here.
      // GeneratedColumnsSpec pins the date(ts) shape on dense data.
      graft.sources.GeneratedColumns.add(s, out, "o_year", "year(o_orderdate)")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      graft.sources.ParquetTable.createVersioned(
        orders.filter(col("o_orderkey") < 1000), out, Seq("o_year"))
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1500))
      graft.sources.ParquetTable.read(s, out)
        .filter(col("o_year") === 1995)
        .select(col("o_orderkey"), col("o_year"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Incremental small-SLICE compaction on a PARTITIONED table
    // (ParquetTable.compactSmall, per-(partition, dir) granularity —
    // the daily-partitioned ingest shape, reference glue_etl.py:275):
    // a bulk load plus three small inserts into the status partitions
    // fold back per partition without rewriting the bulk slices
    // (spec-pinned in CompactSmallSpec); the post-fold read must be the
    // plain union, which the oracle states directly.
    "q124_compact_small_part" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_csmallp").toString + "/t"
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.ParquetTable.createVersioned(
        orders.filter(col("o_orderkey") < 2000), out, Seq("o_orderstatus"))
      Seq((2000L, 2100L), (2100L, 2200L), (2200L, 2300L)).foreach {
        case (lo, hi) =>
          graft.sources.ParquetTable.insertInto(s, out,
            orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi))
      }
      graft.sql.GraftSql.sql(s,
        s"OPTIMIZE graft.`$out` COMPACT SMALL BELOW 50000")
      graft.sources.ParquetTable.read(s, out)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Mutations under an ACTIVE column mapping (Delta's
    // mutate-under-mapping model, ParquetTable.toPhysical): after an
    // O(1) RENAME COLUMN, merge/update/delete keep working through the
    // logical name on a partitioned versioned table — partial commits
    // write physical-named files and carry the column mapping; only
    // the touched partitions rewrite. The oracle states the final
    // logical contents from the mutation algebra alone.
    "q122_mapped_mutations" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_cmut").toString + "/t"
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .filter(col("o_orderkey") < 2000)
      graft.sources.ParquetTable.createVersioned(
        orders, out, Seq("o_orderstatus"))
      graft.sources.ParquetTable.renameColumn(s, out, "o_totalprice", "price")
      // MERGE through the new name: double the price of keys < 100
      graft.sources.ParquetTable.merge(s, out,
        orders.filter(col("o_orderkey") < 100)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_totalprice") * 2).as("price")),
        Seq("o_orderkey"), Seq("o_orderstatus"))
      // UPDATE and DELETE through it
      graft.sources.ParquetTable.update(s, out,
        col("o_orderkey") >= 100 && col("o_orderkey") < 200,
        Map("price" -> (col("price") + lit(1.0))))
      graft.sources.ParquetTable.delete(s, out, col("price") < lit(1000.0))
      graft.sources.ParquetTable.read(s, out)
        .select(col("o_orderkey"), col("o_orderstatus"), col("price"))
        .orderBy(col("o_orderkey"))
    }),

    // Paragraph scrub against history (ParagraphDedup.scrubSeenParagraphs
    // — the Dolma/BFF paragraph-granular pass): batch docs lose every
    // paragraph the history corpus has seen, reassembling the rest in
    // position order. Exact (bloom reroutes, broadcast confirm); the
    // oracle replays the whole thing as normalized-paragraph set algebra.
    "q120_para_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      val store = graft.operators.ParagraphDedup.paragraphFps(history, "text")
      val bloom = graft.operators.TextDedup.historyBloom(
        store, history.count() * 20)
      graft.operators.ParagraphDedup.scrubSeenParagraphs(
          batch, "doc_id", "text", store, bloom)
        .orderBy(col("doc_id"))
    }),

    // TBLPROPERTIES (sources/TableProperties.scala — Delta parity,
    // with graft.appendOnly ENFORCED by every mutation verb): SET two
    // properties + an appendOnly flag through SQL, SHOW them back. The
    // oracle states the expected key/value rows literally.
    "q119_tblproperties" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_props").toString + "/t"
      graft.sources.ParquetTable.create(
        s.read.parquet(s"$d/region.parquet"), out)
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE graft.`$out` SET TBLPROPERTIES " +
          "('graft.appendOnly' = 'true', 'owner' = 'ingest')")
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE graft.`$out` SET TBLPROPERTIES ('tier' = 'raw')")
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE graft.`$out` UNSET TBLPROPERTIES ('owner')")
      graft.sql.GraftSql.sql(s, s"SHOW TBLPROPERTIES graft.`$out`")
        .orderBy(col("key"))
    }),

    // Identity columns (sources/IdentityColumns.scala — Delta's
    // GENERATED BY DEFAULT AS IDENTITY): two insert verbs assign from
    // the persisted watermark. Assignment ORDER is partition-layout
    // dependent (any order is a correct identity assignment), so the
    // query emits the sequence's INVARIANTS — count, distinctness,
    // bounds and the arithmetic-series sum — which the oracle derives
    // from start/step and the row count alone.
    "q118_identity_columns" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_id").toString + "/t"
      graft.sources.IdentityColumns.add(s, out, "row_uid", start = 1000L, step = 3L)
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.ParquetTable.create(
        orders.filter(col("o_orderkey") < 500), out)
      graft.sources.ParquetTable.insertInto(s, out,
        orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000))
      graft.sources.ParquetTable.read(s, out).agg(
        count(lit(1)).as("n"),
        count_distinct(col("row_uid")).as("n_uids"),
        min(col("row_uid")).as("min_uid"),
        max(col("row_uid")).as("max_uid"),
        sum(col("row_uid")).as("sum_uid"))
    }),

    // Near-dup dedup of a NEW batch against a PERSISTED MinHash-LSH
    // index (TextDedup.minHashIndexSave/minHashProbeHistory): the
    // history is minhashed once per version; each batch pays its own
    // signatures + one equi-join against the persisted band buckets,
    // with exact n-gram Jaccard verification over candidates only.
    // Oracle = brute-force cross Jaccard (the q24 determinism argument:
    // q24 proves LSH == brute force over this corpus at 0.5, and band
    // keys are per-document, so the cross restriction inherits it).
    "q117_minhash_history" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 =!= 0).unionByName(
        history.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val nHist = history.count()
      val idx = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_mhidx_${math.abs(d.hashCode)}_$nHist").toString
      if (!graft.sources.IndexStore.exists(s, idx)) {
        graft.operators.TextDedup.minHashIndexSave(
          history, "doc_id", "text", idx)
      }
      graft.operators.TextDedup.minHashProbeHistory(
          batch, "doc_id", "text", idx, threshold = 0.5,
          verifyAgainst = Some((history, "doc_id", "text")))
        .orderBy(col("batch_id"), col("hist_id"))
    }),

    // q89's scoring through the PERSISTED LM tier (LmScore.trainBigram →
    // scoreWithModel): the corpus counting pass is paid once per corpus
    // version, every later batch scores against the parquet count
    // tables — the CCNet deployment shape (train on the target domain
    // once, score each incoming crawl shard). Same oracle as q89: the
    // tiers are pinned identical on the training corpus (LmScoreSpec)
    // and the driver re-proves it against DuckDB here.
    "q115_lm_persisted" -> ((s, d) => {
      val corpus = Tables.documents(s, d)
      val nDocs = corpus.count()
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_lmbg_${math.abs(d.hashCode)}_$nDocs").toString
      if (!graft.sources.IndexStore.exists(s, dir)) {
        graft.operators.LmScore.trainBigram(corpus, "doc_id", "text", dir)
      }
      graft.operators.LmScore
        .scoreWithModel(s, dir, corpus, "doc_id", "text", k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))
    }),

    // fastText-style hashed linear quality scoring (operators/
    // HashClassifier.scala): every doc scored by a 64-bucket hashed
    // bag-of-words model in ONE codegen'd map-only pass — no vocabulary
    // broadcast, no shuffle. Integer milli-unit weights make the sums
    // exact (order-independent), so the oracle rebuilds the identical
    // weight table from the seed and replays per-token hash → bucket →
    // weight → mean.
    "q107_hash_classifier" -> ((s, d) => {
      val w = graft.operators.HashClassifier.seededWeights("clf8", 64)
      graft.operators.HashClassifier.score(
          Tables.documents(s, d), "text", w)
        .select(col("doc_id"), col("n_tokens"), col("bow_sum"),
          round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // DLT-shape APPLY CHANGES INTO (sources/ApplyChanges.scala): events
    // replayed as CDC — key user_id, sequence event_id, 'error' rows as
    // tombstones — applied in DELIBERATELY reversed batches (high ids
    // first, then low): every low-batch row is late and must be skipped
    // per-key, so the final visible state equals the global
    // latest-per-user with error-latest users tombstoned away. The
    // oracle states that end state directly from the raw events.
    "q109_apply_changes" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_ac").toString + "/t"
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      Seq(ev.filter(col("event_id") >= 5000),
          ev.filter(col("event_id") < 5000)).foreach { b =>
        graft.sources.ApplyChanges.applyInto(s, out, b,
          Seq("user_id"), "event_id",
          deleteWhen = Some(col("event_type") === "error"))
      }
      graft.sources.ApplyChanges.readApplied(s, out)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .orderBy(col("user_id"))
    }),

    // APPLY CHANGES with AUTOMATIC SCHEMA EVOLUTION (DLT's evolving
    // apply_changes): the odd-event batch carries a NEW `channel`
    // column and is applied FIRST; the even-event batch arrives narrow
    // and late. The evolved target converges to the global latest per
    // key where `channel` is non-null exactly when the winning change
    // came from the widened feed — which the oracle derives from raw
    // events with one window pass.
    "q123_apply_changes_evolve" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_acev").toString + "/t"
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val wide = ev.filter(col("event_id") % 2 === 1)
        .withColumn("channel",
          concat(lit("c"), (col("user_id") % 3).cast("string")))
      val narrow = ev.filter(col("event_id") % 2 === 0)
      Seq(wide, narrow).foreach { b =>
        graft.sources.ApplyChanges.applyInto(s, out, b,
          Seq("user_id"), "event_id",
          deleteWhen = Some(col("event_type") === "error"),
          evolveSchema = true)
      }
      graft.sources.ApplyChanges.readApplied(s, out)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("channel"))
        .orderBy(col("user_id"))
    }),

    // APPLY CHANGES ... STORED AS SCD TYPE 2 (ApplyChanges.applyIntoScd2):
    // the same out-of-order CDC stream as q109, but the target keeps the
    // full per-key version HISTORY as validity intervals — __START_AT =
    // the change's sequence, __END_AT = the key's next change, 'error'
    // rows stored as hidden tombstones that close the preceding interval.
    // The stream is applied OUT OF ORDER (later half first), so the green
    // hash also certifies the order-independence of the stored history.
    // The oracle folds the interval history from the raw change stream
    // with one window pass.
    "q111_apply_changes_scd2" -> ((s, d) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_ac2").toString + "/t"
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      Seq(ev.filter(col("event_id") >= 5000),
          ev.filter(col("event_id") < 5000)).foreach { b =>
        graft.sources.ApplyChanges.applyIntoScd2(s, out, b,
          Seq("user_id"), "event_id",
          deleteWhen = Some(col("event_type") === "error"))
      }
      graft.sources.ApplyChanges.readScd2(s, out)
        .select(col("user_id"), col("__START_AT"), col("__END_AT"),
          col("event_type"), col("value"), col("is_current"))
        .orderBy(col("user_id"), col("__START_AT"))
    }),

    // Distributed Naive-Bayes TRAINING over hashed buckets
    // (HashClassifier.trainNaiveBayes): label = (lang = 'en'). The
    // trained model — per-bucket counts and quantized log-odds — comes
    // back as a 64-row frame. Integer count statistics make training
    // bit-deterministic under any partitioning (spec-pinned); the
    // oracle recomputes counts AND the floor(x·1000+0.5) quantization.
    "q108_nb_train" -> ((s, d) => {
      val m = graft.operators.HashClassifier.trainNaiveBayes(
        Tables.documents(s, d).withColumn("is_en", col("lang") === "en"),
        "text", "is_en", 64)
      import s.implicits._
      m.counts.zipWithIndex.map { case ((cp, cn), j) =>
        (j.toLong, cp, cn, m.weights(j))
      }.toSeq.toDF("bucket", "c_pos", "c_neg", "w_milli")
        .orderBy(col("bucket"))
    }),

    // Exact duplicated-substring dedup (operators/SubstringDedup.scala,
    // Lee et al. arXiv:2107.06499 ExactSubstr): every >=5-token span
    // occurring twice corpus-wide is cut from ALL documents. The engine
    // groups 64-bit gram fingerprints; the oracle groups the gram
    // STRINGS themselves — so a fingerprint collision (or a broken fp)
    // would hash-mismatch, making the fp≡string equivalence itself the
    // thing under driver test.
    "q106_substring_dedup" -> ((s, d) => {
      graft.operators.SubstringDedup.removeDuplicatedSpans(
          Tables.documents(s, d), "doc_id", "text", minLen = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // URL curation (operators/UrlOps.scala): canonicalize → dedup by
    // canonical URL → cap 3 docs per domain by n_chars. URLs are
    // synthesized deterministically from (source, doc_id) in four
    // shapes — uppercase host + default port + tracking params +
    // trailing slash, plain http:80, fragment variant, and a non-URL
    // that must quarantine to NULL. Shapes 0 and 2 canonicalize to the
    // SAME string, so dedup must collapse across mess variants. The
    // oracle does NOT replay the regexes: it states the expected
    // canonical form from the constituents — ground truth, not echo.
    "q105_url_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val shape = expr("doc_id div 20") % 4
      val n = (col("doc_id") % 10).cast("string")
      val k = (col("doc_id") % 3).cast("string")
      // three host shapes exercise the eTLD+1 tiers: a PSL multi-label
      // suffix under a www alias ({source}.co.uk), the default rule
      // collapsing a subdomain (…example.com → example.com), and a
      // second multi-label registry under a deep label ({source}.com.au)
      val url = when(shape === 0, concat(
          lit("https://WWW."), col("source"), lit(".co.uk:443/docs/"),
          n, lit("/?utm_source=feed&id="), k))
        .when(shape === 1, concat(
          lit("http://"), col("source"), lit(".example.com:80/docs/"), n))
        .when(shape === 2, concat(
          lit("https://docs."), col("source"), lit(".com.au/docs/"),
          n, lit("?id="), k, lit("#frag")))
        .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
      val deduped = graft.operators.UrlOps.dedupByUrl(
        docs.withColumn("url", url), "url", "doc_id")
      graft.operators.UrlOps.capPerDomain(
          deduped, "url", "doc_id", "n_chars", cap = 3)
        .select(col("domain"), col("domain_rank"), col("doc_id"),
          col("canonical_url"), col("n_chars"))
        .orderBy(col("domain"), col("domain_rank"))
    }),

    // Hybrid retrieval: BM25 lexical + embedding-cosine rankings fused
    // with Reciprocal Rank Fusion (operators/RankFusion.scala). Fused
    // scores are small sums of exact rationals → bit-deterministic
    // across engines; the (text query, vector query) pairing by id is
    // synthetic — the mechanics, not the relevance, are under test.
    "q97_hybrid_rrf" -> ((s, d) => {
      val queries = s.createDataFrame(Seq(
        (1L, "table scan merge"), (2L, "vector batch"),
        (3L, "customer order data"))).toDF("query_id", "qtext")
      val lexical = graft.operators.Bm25.topK(
          Tables.documents(s, d), "doc_id", "text",
          queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val vector = graft.operators.Ann.bruteForceTopK(
          emb, emb.filter(col("vec_id").isin(1, 2, 3)),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.RankFusion.rrf(Seq(lexical, vector),
          "query_id", "doc_id", "rank", k = 10)
        .select(col("query"), col("rank"), col("doc"),
          round(col("fused"), 6).as("fused"), col("n_lists"))
        .orderBy(col("query"), col("rank"))
    }),

    // Large-large interval OVERLAP join (operators/IntervalJoin.scala):
    // view intervals [ts, ts+value+60) × click intervals [ts, ts+120)
    // through the grid-cell equi-join — a shuffle join on the cell key,
    // never a nested loop (plan-asserted in IntervalJoinSpec). Each
    // overlapping pair survives from exactly one cell (the one holding
    // max(starts)), so no distinct() re-shuffle. The oracle is DuckDB's
    // native inequality join.
    "q98_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          unix_timestamp(col("ts")).as("vs"),
          (unix_timestamp(col("ts")) + col("value").cast("long") + 60L).as("ve"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          unix_timestamp(col("ts")).as("cs"),
          (unix_timestamp(col("ts")) + 120L).as("ce"))
      graft.operators.IntervalJoin.overlap(
          views, "vs", "ve", clicks, "cs", "ce", cellSize = 600L)
        .select(col("view_id"), col("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    }),

    // Embedding-space benchmark decontamination (Ann
    // .decontaminateByEmbedding): vec_id % 97 == 0 plays the held-out
    // eval set; corpus rows within cosine 0.25 of ANY bench vector are
    // dropped by ONE broadcast anti join — no corpus shuffle, no pair
    // materialization (plan-asserted in AnnSpec). Semantic twin of
    // q64's n-gram decontamination. The oracle replays the NOT EXISTS.
    "q99_embed_decontam" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Ann.decontaminateByEmbedding(
          emb.filter(col("vec_id") % 97 =!= 0),
          emb.filter(col("vec_id") % 97 === 0),
          "embedding", threshold = 0.25)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // Weighted sampling without replacement (operators/WeightedSample
    // .scala, Efraimidis-Spirakis A-ES): 5 docs per language, weighted
    // by n_chars, with the uniform drawn from the seeded polyHash64 —
    // the oracle replays hash → u → ln(u)/w → per-group rank exactly.
    "q94_weighted_sample" -> ((s, d) => {
      graft.operators.WeightedSample.topKPerGroup(
          Tables.documents(s, d), "lang", "doc_id", "n_chars",
          k = 5, seed = "wsamp42")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          round(col("key"), 6).as("key"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    // Per-dimension embedding statistics (operators/EmbedNormalize.scala
    // stats pass — the oracle-checkable half; the map-only z-transform
    // apply pass is property-tested in EmbedNormalizeSpec: mean→0,
    // std→1, argsort order preserved per dimension).
    "q90_embed_stats" -> ((s, d) => {
      graft.operators.EmbedNormalize.dimStats(Tables.embeddings(s, d), "embedding")
        .select(col("pos"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"))
        .orderBy(col("pos"))
    }))

  private val toksSql = "string_split_regex(lower(text), '\\s+')"
  private def gramsSql(src: String) =
    s"""list_distinct(list_transform(range(1, len($toksSql) - 1),
       |  i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]))""".stripMargin
      .replace("text", src)

  private val markerSql: Seq[(String, String)] = LangMarkers.map { case (lang, words) =>
    lang -> words.map(w => s"'$w'").mkString("[", ", ", "]")
  }

  /** Per-part DuckDB replay of expressions.PolyHash64: fold the code
    * points of `t` through (h·base + cp) mod p.
    */
  private def polyPartSql(base: Long, p: Long, src: String = "t"): String =
    "list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(string_split($src, ''), c -> ascii(c)::BIGINT)), " +
      s"(h, c) -> (h * $base + c) % $p)"

  /** The packed 64-bit PolyHash64 value over SQL variable `src` — four
    * 16-bit parts shifted into place (part 3 < 2^15, so the sum stays in
    * positive BIGINT range), matching expressions.PolyHash64 bit-for-bit.
    */
  private def polyHashSql(src: String): String =
    graft.functions.expressions.PolyHash64.Parts.zipWithIndex.map {
      case ((b, p), i) => s"(${polyPartSql(b, p, src)} << ${i * 16})"
    }.mkString("(", " + ", ")")

  /** Replays TextDedup.simHashPairs(polyHash64): token part-hashes → 64
    * ±1 bit sums per doc → packed signature → all-pairs hamming ≤ 3.
    * Bit 63 is provably 0 (top prime < 2^15) so the signature sum skips it
    * and stays in non-negative BIGINT range.
    */
  private val simHashOracle: String = {
    val parts = graft.functions.expressions.PolyHash64.Parts
    val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
      s"${polyPartSql(b, p)} AS p$i"
    }.mkString(",\n    ")
    val bitCols = (0 until 64).map { j =>
      s"sum(CASE WHEN (p${j / 16} >> ${j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val sigExpr = (0 until 63).map { j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
       |  FROM documents),
       |ph AS (
       |  SELECT doc_id,
       |    $partCols
       |  FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitCols
       |  FROM ph GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS sim FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.sim, b.sim)) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Replays Ann.lshTopK(12 planes, dim 64, 1 probe, seed 42): the plane
    * constants are inlined as literals; dot products are left-associated
    * sums over embedding::DOUBLE[], matching VecDot's accumulation order
    * bit-for-bit, so the sign buckets agree exactly.
    */
  private val lshAnnOracle: String = {
    val planes = graft.operators.Ann.hyperplanes(numPlanes = 12, dim = 64)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val dot = p.zipWithIndex.map { case (c, j) => s"v[${j + 1}] * ($c)" }
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << i}::BIGINT ELSE 0 END)"
    }.mkString("\n    + ")
    val probeList = ("bucket" +: (0 until 12).map(i => s"xor(bucket, ${1L << i})"))
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id, embedding,
       |    $bucketExpr AS bucket
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, bucket FROM sig WHERE vec_id < 5),
       |probes AS (SELECT query_id, unnest($probeList) AS bucket FROM q),
       |cand AS (
       |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
       |  FROM probes p JOIN sig s ON p.bucket = s.bucket AND s.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS cs,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |        c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, round(cs, 4) AS cosine, rank
       |FROM scored WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replay of TextFunctions.fingerprint over an arbitrary string
    * expression: fold code points through h·31 + cp mod 1e9+7.
    */
  private def polyFoldSql(src: String): String =
    "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"string_split($src, ''), c -> ascii(c)::BIGINT)), " +
      "(h, c) -> (h * 31 + c) % 1000000007)"

  private def normFpSql(src: String): String =
    polyFoldSql(s"regexp_replace(trim(lower($src)), '\\s+', ' ', 'g')")

  /** Replays q47: both pair generators, symmetrized edges, then the
    * transitive closure as a recursive CTE — component = min reachable id.
    */
  private val componentsOracle: String =
    s"""WITH RECURSIVE dup AS ($dupSql),
       |fp AS (SELECT doc_id, ${normFpSql("text")} AS fp FROM dup),
       |e1 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_id, lang, source, substr(lower(text), 1, 30) AS prefix FROM dup),
       |e2 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM p a JOIN p b ON a.lang = b.lang AND a.source = b.source
       |         AND a.doc_id < b.doc_id AND levenshtein(a.prefix, b.prefix) <= 12),
       |edges AS (
       |  SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1
       |  UNION SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM dup
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r)
       |SELECT id AS doc_id, min(r) AS component, min(r) = id AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Persisted tiers are pinned bit-identical to their in-memory twins,
    * so they share the twin's oracle — the driver re-proves the
    * equivalence against DuckDB instead of trusting the spec pin.
    */
  /** q47's cluster derivation + the q21 quality replay: per-cluster
    * argmax on (round(quality,4) DESC, doc_id ASC).
    */
  private val keepBestOracle: String = {
    val stop = "['the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'it', 'that']"
    s"""WITH RECURSIVE dup AS ($dupSql),
       |fp AS (SELECT doc_id, ${normFpSql("text")} AS fp FROM dup),
       |e1 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_id, lang, source, substr(lower(text), 1, 30) AS prefix FROM dup),
       |e2 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM p a JOIN p b ON a.lang = b.lang AND a.source = b.source
       |         AND a.doc_id < b.doc_id AND levenshtein(a.prefix, b.prefix) <= 12),
       |edges AS (
       |  SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1
       |  UNION SELECT src, dst FROM e2 UNION SELECT dst, src FROM e2),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM dup
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
       |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) * 0.4
       |    + (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text)) * 0.2
       |    + least(len($toksSql)::DOUBLE / 50.0, 1.0) * 0.2
       |    + least((len(list_filter($toksSql, t -> list_contains($stop, t)))::DOUBLE
       |             / len($toksSql)) * 5.0, 1.0) * 0.2, 4) AS quality
       |  FROM dup),
       |ranked AS (
       |  SELECT c.doc_id, c.component, q.quality,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY q.quality DESC, c.doc_id) AS rn
       |  FROM comp c JOIN q USING (doc_id))
       |SELECT doc_id, component, quality, rn = 1 AS is_best
       |FROM ranked ORDER BY doc_id""".stripMargin
  }

  /** Replays the interpolated trigram LM over gram STRINGS: per-order
    * ML count ratios (trigram/trigram-context, true bigram/bigram-
    * context, unigram/N) + the uniform 1/V floor, same lambda literals,
    * same term order, mean ln per doc.
    */
  private val trigramOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                w -> w <> '') AS ts
       |  FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g123,
       |    unnest(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i+1])) AS g12,
       |    unnest(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i+1] || ' ' || ts[i+2])) AS g23,
       |    unnest(list_transform(range(1, len(ts) - 1), i -> ts[i+1])) AS g2,
       |    unnest(list_transform(range(1, len(ts) - 1), i -> ts[i+2])) AS g3
       |  FROM tok),
       |big AS (
       |  SELECT unnest(list_transform(range(1, len(ts)),
       |           i -> ts[i] || ' ' || ts[i+1])) AS gab,
       |    unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS ga
       |  FROM tok),
       |c123 AS (SELECT g123, count(*) AS c FROM tri GROUP BY g123),
       |c12  AS (SELECT g12, count(*) AS c FROM tri GROUP BY g12),
       |c23  AS (SELECT gab, count(*) AS c FROM big GROUP BY gab),
       |c2   AS (SELECT ga, count(*) AS c FROM big GROUP BY ga),
       |uni AS (SELECT unnest(ts) AS w FROM tok),
       |c3   AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
       |tot  AS (SELECT count(*) AS nn, count(DISTINCT w) AS v FROM uni),
       |scored AS (
       |  SELECT t.doc_id,
       |    0.5 * c123.c / c12.c + 0.3 * c23.c / c2.c
       |      + 0.15 * c3.c / tot.nn + 0.05 / tot.v AS p
       |  FROM tri t
       |  JOIN c123 ON c123.g123 = t.g123
       |  JOIN c12 ON c12.g12 = t.g12
       |  JOIN c23 ON c23.gab = t.g23
       |  JOIN c2 ON c2.ga = t.g2
       |  JOIN c3 ON c3.w = t.g3
       |  CROSS JOIN tot)
       |SELECT doc_id, count(*) AS n_trigrams,
       |  round(avg(ln(p)), 4) AS avg_logp
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The winnowing fingerprint posting list over `src` (named relation
    * or parenthesized subquery), k=3 / w=4 — the shared replay core of
    * the pair and history-probe oracles.
    */
  private def winnowPostingSql(src: String): String =
    s"""(WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                t -> t <> '') AS ts
       |  FROM $src),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_transform(range(1, len(ts) - 1),
       |        i -> array_to_string(ts[i : i + 2], ' ')),
       |      g -> ${polyHashSql("g")}) AS h
       |  FROM tok),
       |fps AS (
       |  SELECT doc_id,
       |    list_distinct(CASE
       |      WHEN len(h) = 0 THEN []::BIGINT[]
       |      WHEN len(h) < 4 THEN [list_aggregate(h, 'min')]
       |      ELSE list_transform(range(1, len(h) - 2),
       |             j -> list_aggregate(h[j : j + 3], 'min')) END) AS fp
       |  FROM hs)
       |SELECT doc_id, unnest(fp) AS f FROM fps)""".stripMargin

  /** Replays winnowing end-to-end over the STRING grams: ordered word
    * 3-gram PolyHash64 list per doc, window-of-4 minima (short docs keep
    * the global minimum), distinct, then the fingerprint inverted-index
    * pair count.
    */
  private val winnowingOracle: String =
    s"""WITH posting AS (
       |  SELECT * FROM ${winnowPostingSql(s"($dupSql)")})
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |FROM posting a JOIN posting b
       |  ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY id_a, id_b""".stripMargin

  /** History probe: both sides' selected sets re-derived, then one
    * fingerprint join — the q137 batch/history split stated directly.
    */
  private val winnowingHistoryOracle: String = {
    val hist = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    val batch =
      """(SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT * FROM documents WHERE doc_id % 2 = 1 AND doc_id < 100)"""
        .stripMargin
    s"""WITH hp AS (SELECT * FROM ${winnowPostingSql(hist)}),
       |bp AS (SELECT * FROM ${winnowPostingSql(batch)})
       |SELECT bp.doc_id AS doc_id, hp.doc_id AS hist_id,
       |  count(*) AS n_shared
       |FROM bp JOIN hp ON hp.f = bp.f
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** q138: re-derives clusters INDEPENDENTLY of LSH — brute-force
    * all-pairs n-gram Jaccard over the dup corpus (the q24 oracle) fed
    * into the recursive-CTE closure (the q47 oracle) — so a banding bug
    * that dropped a true pair would split a cluster and hash-mismatch.
    */
  private val lshClustersOracle: String =
    s"""WITH RECURSIVE dup AS ($dupSql),
       |g AS (SELECT doc_id, ${gramsSql("text")} AS grams FROM dup),
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM g a JOIN g b ON a.doc_id < b.doc_id
       |       WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
       |           / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
       |edges AS (SELECT src, dst FROM pr UNION SELECT dst, src FROM pr),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM dup
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r)
       |SELECT id AS doc_id, min(r) AS component, min(r) = id AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q139: brute-force cross Jaccard against the FULL history — the
    * probe through a saved+appended index must find exactly these pairs.
    */
  private val indexAppendOracle: String =
    s"""WITH g AS (SELECT doc_id, ${gramsSql("text")} AS grams FROM documents),
       |hist AS (SELECT doc_id, grams FROM g WHERE doc_id % 2 = 0),
       |batch AS (
       |  SELECT doc_id, grams FROM g WHERE doc_id % 2 <> 0 AND doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, grams FROM g
       |  WHERE doc_id % 10 = 0)
       |SELECT b.doc_id AS batch_id, h.doc_id AS hist_id,
       |  round(len(list_intersect(b.grams, h.grams))::DOUBLE
       |    / len(list_distinct(list_concat(b.grams, h.grams))), 4) AS jaccard
       |FROM batch b JOIN hist h ON
       |  len(list_intersect(b.grams, h.grams))::DOUBLE
       |    / len(list_distinct(list_concat(b.grams, h.grams))) >= 0.5
       |ORDER BY batch_id, hist_id""".stripMargin

  /** q140: the signature-estimate tier replayed END-TO-END — DuckDB
    * recomputes every minhash signature (word 3-grams → poly64 base hash
    * reduced into [0,p) → per-permutation min with the SAME (a,b)
    * literals the Scala side drew at seed 42), re-derives the 8×4
    * band-bucket candidate pairs, and re-scores the agreeing-position
    * fraction. A banding bug, permutation drift, or estimator error on
    * either side hash-mismatches; no corpus text is touched on the
    * probe path (the serving-mode contract under test).
    */
  private val estimateOracle: String = {
    val p = TextDedup.MinHashP
    val sigEntries = TextDedup.perms(32, 42L).map { case (a, b) =>
      s"list_aggregate(list_transform(hs, h -> (($a * h + $b) % $p)), 'min')"
    }.mkString("[\n      ", ",\n      ", "]")
    s"""WITH tok AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(range(1, len(ts) - 1),
       |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS grams
       |  FROM tok),
       |h AS (
       |  SELECT doc_id,
       |    list_transform(grams, g2 -> ${polyHashSql("g2")} % $p) AS hs
       |  FROM g WHERE len(grams) > 0),
       |sig AS (
       |  SELECT doc_id, $sigEntries AS sig FROM h),
       |hist AS (SELECT doc_id AS hist_id, sig FROM sig WHERE doc_id % 2 = 0),
       |batch AS (
       |  SELECT doc_id AS batch_id, sig FROM sig
       |  WHERE doc_id % 2 <> 0 AND doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS batch_id, sig FROM sig
       |  WHERE doc_id % 10 = 0),
       |hb AS (
       |  SELECT hist_id, band,
       |    array_to_string(sig[band*4+1 : band*4+4], '_') AS key
       |  FROM hist CROSS JOIN range(0, 8) t(band)),
       |bb AS (
       |  SELECT batch_id, band,
       |    array_to_string(sig[band*4+1 : band*4+4], '_') AS key
       |  FROM batch CROSS JOIN range(0, 8) t(band)),
       |cand AS (
       |  SELECT DISTINCT bb.batch_id, hb.hist_id
       |  FROM bb JOIN hb ON bb.band = hb.band AND bb.key = hb.key),
       |est AS (
       |  SELECT c.batch_id, c.hist_id,
       |    list_sum(list_transform(range(1, 33),
       |      i -> CASE WHEN b.sig[i] = h2.sig[i] THEN 1 ELSE 0 END))::DOUBLE
       |      / 32 AS j
       |  FROM cand c
       |  JOIN batch b ON b.batch_id = c.batch_id
       |  JOIN hist h2 ON h2.hist_id = c.hist_id)
       |SELECT batch_id, hist_id, round(j, 4) AS jaccard
       |FROM est WHERE j >= 0.5
       |ORDER BY batch_id, hist_id""".stripMargin
  }

  /** q141: the curation DAG re-derived stage by stage, LSH-independently —
    * C4 single-line gate (the corpus has no newlines, so each doc is one
    * line/paragraph), first-occurrence paragraph dedup = min-doc_id per
    * trimmed text, exact dedup (a no-op right after it — texts are
    * already distinct), BRUTE-FORCE near-dup pairs → recursive-CTE
    * clusters → rounded-quality argmax (the q138 + q133 replay; equality
    * with the LSH path holds because this corpus's true pairs sit at
    * j≈0.97–1.0 where the 8×4 miss probability is < 1e-8), the Gopher
    * repetition gate (q73's replay on single-line text), and the
    * polyHash shard layout (q74's replay at seed `curation42`). The LM
    * gate at quantile 0 keeps every doc with ≥1 bigram — implied by the
    * ≥5-word C4 gate, so it contributes no predicate.
    */
  private val curationOracle: String = curationOracleWith(lmCut = None)

  /** q147: q141's funnel with a REAL LM-quality cut (lmCut = Some(q)) —
    * the exact count-based gate: bigram-LM scores over the repetition-
    * gate survivors (trained on themselves, the q89 replay), quantized
    * to the 1e-4 grid, and the longest prefix of whole grid cells
    * holding ≤ floor(q·n) documents dropped. Order-independent (cell
    * ties drop together), so both engines derive the identical doc set.
    */
  private def curationOracleWith(lmCut: Option[Double]): String = {
    val finalSrc = if (lmCut.isEmpty) "surv" else "lmkeep"
    val lmStage = lmCut match {
      case None => ""
      case Some(q) =>
        s"""lmt AS (SELECT s.doc_id, p.text FROM surv s JOIN para p USING (doc_id)),
           |t2 AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM lmt),
           |bg2 AS (
           |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
           |  FROM t2, LATERAL unnest(generate_series(1, len(w) - 1)) AS qq(i)),
           |cc2 AS (SELECT w1, w2, count(*) AS c2 FROM bg2 GROUP BY w1, w2),
           |cc1 AS (SELECT w1, sum(c2) AS c1 FROM cc2 GROUP BY w1),
           |vv AS (SELECT count(DISTINCT u.w) AS v
           |       FROM (SELECT unnest(w) AS w FROM t2) u WHERE length(u.w) > 0),
           |sc2 AS (
           |  SELECT bg2.doc_id, ln((cc2.c2 + 0.5) / (cc1.c1 + 0.5 * vv.v)) AS logp
           |  FROM bg2 JOIN cc2 USING (w1, w2) JOIN cc1 USING (w1) CROSS JOIN vv),
           |sco AS (SELECT doc_id, avg(logp) AS avg_logp FROM sc2 GROUP BY doc_id),
           |grid AS (SELECT doc_id, CAST(round(avg_logp * 10000, 0) AS BIGINT) AS g
           |         FROM sco),
           |cum AS (SELECT g, sum(c) OVER (ORDER BY g) AS cum
           |        FROM (SELECT g, count(*) AS c FROM grid GROUP BY g)),
           |gs AS (SELECT max(g) AS gstar FROM cum
           |       WHERE cum <= (SELECT CAST(floor($q * count(*)) AS BIGINT)
           |                     FROM grid)),
           |lmkeep AS (SELECT grid.doc_id FROM grid, gs
           |           WHERE gs.gstar IS NULL OR grid.g > gs.gstar),""".stripMargin
    }
    val stop = "['the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'it', 'that']"
    val parts = graft.functions.expressions.PolyHash64.Parts
    val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
      s"${polyPartSql(b, p)} AS p$i"
    }.mkString(",\n    ")
    val hashExpr = parts.indices.map(i => s"p$i * ${1L << (i * 16)}")
      .mkString(" + ")
    s"""WITH RECURSIVE c4 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
       |    AND NOT contains(text, 'lorem ipsum')
       |    AND NOT contains(text, '{')),
       |para AS (
       |  SELECT min(doc_id) AS doc_id, trim(text) AS text
       |  FROM c4 GROUP BY trim(text)),
       |g AS (SELECT doc_id, ${gramsSql("text")} AS grams FROM para),
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM g a JOIN g b ON a.doc_id < b.doc_id
       |       WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
       |           / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
       |edges AS (SELECT src, dst FROM pr UNION SELECT dst, src FROM pr),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM para
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
       |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) * 0.4
       |    + (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text)) * 0.2
       |    + least(len($toksSql)::DOUBLE / 50.0, 1.0) * 0.2
       |    + least((len(list_filter($toksSql, t -> list_contains($stop, t)))::DOUBLE
       |             / len($toksSql)) * 5.0, 1.0) * 0.2, 4) AS quality
       |  FROM para),
       |best AS (
       |  SELECT c.doc_id,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY q.quality DESC, c.doc_id) AS rn
       |  FROM comp c JOIN q USING (doc_id)),
       |kept AS (
       |  SELECT p.doc_id, p.text FROM para p JOIN best b USING (doc_id)
       |  WHERE b.rn = 1),
       |rw AS (
       |  SELECT doc_id, text,
       |    string_split(text, chr(10)) AS lines,
       |    $toksSql AS w
       |  FROM kept),
       |rm AS (
       |  SELECT doc_id, text, lines,
       |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
       |  FROM rw),
       |rr AS (
       |  SELECT doc_id,
       |    (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) AS dlf,
       |    CASE WHEN list_sum(list_transform(lines, l -> length(l))) = 0 THEN 0.0
       |         ELSE (list_sum(list_transform(lines, l -> length(l)))
       |               - list_sum(list_transform(list_distinct(lines), l -> length(l))))::DOUBLE
       |              / list_sum(list_transform(lines, l -> length(l))) END AS dlcf,
       |    coalesce(list_max(list_transform(list_distinct(g2),
       |        ge -> CASE WHEN len(list_filter(g2, x -> x = ge)) > 1
       |             THEN len(list_filter(g2, x -> x = ge)) * length(ge)
       |             ELSE 0 END)), 0)::DOUBLE / length(text) AS tgcf,
       |    coalesce(list_sum(list_transform(list_distinct(g3),
       |        ge -> CASE WHEN len(list_filter(g3, x -> x = ge)) > 1
       |             THEN len(list_filter(g3, x -> x = ge)) * length(ge)
       |             ELSE 0 END)), 0)::DOUBLE / length(text) AS dgcf
       |  FROM rm),
       |surv AS (
       |  SELECT doc_id FROM rr
       |  WHERE dlf <= 0.30 AND dlcf <= 0.20 AND tgcf <= 0.20 AND dgcf <= 0.60),
       |$lmStage
       |ph AS (
       |  SELECT doc_id, $partCols
       |  FROM (SELECT doc_id, 'curation42|' || doc_id::VARCHAR AS t FROM $finalSrc)),
       |h AS (SELECT doc_id, $hashExpr AS h FROM ph)
       |SELECT doc_id, (h % 8)::INT AS shard,
       |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
       |FROM h ORDER BY shard, pos""".stripMargin
  }

  /** q143: the HLL sketch replayed end-to-end — DuckDB recomputes every
    * register (poly64 value hash → the SAME chain literals through
    * affine→square→affine → bucket/rank split → max per bucket) over
    * the FULL lineitem (build half ∪ appended half), the exact scaled
    * register sum, and the branchwise estimator. All integer arithmetic
    * except one literal-seeded division and one `ln`, each identical
    * IEEE ops from identical inputs on both engines.
    */
  private val hllOracle: String = hllOracleOver(
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      .map(c =>
        s"SELECT '$c' AS cn, $c::VARCHAR AS t FROM lineitem WHERE $c IS NOT NULL"),
    extraCols = "")

  /** The register/estimator replay over arbitrary per-column value
    * sources (each a `SELECT cn, t` clause enumerating the values the
    * engine's sketch has EVER ingested for that column) — registers are
    * max-merged, so duplicate values across sources are harmless.
    * `extraCols` appends literal output columns (e.g. the exact flag).
    */
  private def hllOracleOver(colSources: Seq[String], extraCols: String): String = {
    val p = StatsSketch.DefaultPrecision
    val m = 1 << p
    val mr = StatsSketch.MaxRank
    val ((a1, b1), (a2, b2)) = StatsSketch.hllPerms(4242L)
    val bigP = 2147483647L
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numConst = alpha * m.toDouble * m.toDouble * java.lang.Math.pow(2.0, mr)
    val emptyTerm = 1L << mr
    val colsSql = colSources.mkString("\n  UNION ALL\n  ")
    s"""WITH vals AS (
       |  $colsSql),
       |h AS (SELECT cn, ${polyHashSql("t")} % $bigP AS hv FROM vals),
       |v AS (SELECT cn, ($a1 * hv + $b1) % $bigP AS v1,
       |  ($a2 * hv + $b2) % $bigP AS v2 FROM h),
       |y AS (SELECT cn, ($a2 * ((v1 * v1) % $bigP) + $b2) % $bigP AS y1,
       |  ($a1 * ((v2 * v2) % $bigP) + $b1) % $bigP AS y2 FROM v),
       |r AS (SELECT cn, y1 % $m AS bucket,
       |  CASE WHEN y2 = 0 THEN $mr
       |       ELSE $mr - length(bin(y2)) END AS rank FROM y),
       |reg AS (SELECT cn, bucket, max(rank) AS rank FROM r GROUP BY cn, bucket),
       |agg AS (SELECT cn, count(*) AS filled,
       |  sum(1::BIGINT << ($mr - rank)) AS s_filled
       |  FROM reg GROUP BY cn),
       |st AS (SELECT cn, ($m - filled)::BIGINT AS zeros,
       |  (s_filled + ($m - filled) * $emptyTerm)::BIGINT AS ss
       |  FROM agg),
       |est AS (SELECT cn, zeros, ss,
       |  CASE WHEN $numConst / ss::DOUBLE <= ${2.5 * m} AND zeros > 0
       |       THEN ${m.toDouble} * ln(${m.toDouble} / zeros::DOUBLE)
       |       ELSE $numConst / ss::DOUBLE END AS e FROM st)
       |SELECT cn AS "column", $m AS m, zeros, ss AS s_scaled,
       |  round(e, 2) AS ndv_est$extraCols
       |FROM est ORDER BY cn""".stripMargin
  }

  /** q146: the upper-bound ANALYZE tier — the values-ever-present set is
    * v1 (even orderkeys) plus the update postimages that survive the net
    * v1→v3 change feed (remapped supplier keys on %4 rows not deleted by
    * the %8 delete); the DELETEd rows' values stay in the sketch (max-only
    * registers) and the exact flag reads false.
    */
  private val hllUpperBoundOracle: String = {
    def src(cn: String, expr: String) = Seq(
      s"SELECT '$cn' AS cn, $expr::VARCHAR AS t FROM lineitem " +
        s"WHERE l_orderkey % 2 = 0 AND $expr IS NOT NULL",
      s"SELECT '$cn' AS cn, ${if (cn == "l_suppkey") s"($expr + 1000000)"
        else expr}::VARCHAR AS t FROM lineitem " +
        s"WHERE l_orderkey % 4 = 0 AND l_orderkey % 8 <> 0 AND $expr IS NOT NULL")
    hllOracleOver(
      Seq("l_partkey", "l_returnflag", "l_suppkey").flatMap(c => src(c, c)),
      extraCols = ",\n  false AS exact")
  }

  /** q148: the CDF-feed replay — values ever SHOWN to the sketch are the
    * full table (v1 evens + v2 odd inserts) plus every remapped supplier
    * key from the v3 update manifest (INCLUDING the %8 rows v4 deletes —
    * the per-commit feed is not a net diff).
    */
  private val hllCdfFeedOracle: String = {
    val full = Seq("l_partkey", "l_returnflag", "l_suppkey").map(c =>
      s"SELECT '$c' AS cn, $c::VARCHAR AS t FROM lineitem WHERE $c IS NOT NULL")
    val remapped =
      "SELECT 'l_suppkey' AS cn, (l_suppkey + 1000000)::VARCHAR AS t " +
        "FROM lineitem WHERE l_orderkey % 4 = 0 AND l_suppkey IS NOT NULL"
    hllOracleOver(full :+ remapped, extraCols = ",\n  false AS exact")
  }

  /** q149: the re-baseline replay — a FRESH sketch of exactly the rows
    * that survive q146's window (evens minus the %8 delete, %4 supplier
    * keys remapped), with the exact flag restored. Deliberately NOT the
    * q146 upper-bound set: a re-baseline that max-merged into the old
    * registers instead of overwriting would keep the deleted rows'
    * values and hash-fail here.
    */
  private val hllRebaselineOracle: String = {
    def src(cn: String, expr: String) =
      s"SELECT '$cn' AS cn, $expr::VARCHAR AS t FROM lineitem " +
        s"WHERE l_orderkey % 2 = 0 AND l_orderkey % 8 <> 0 AND $expr IS NOT NULL"
    hllOracleOver(Seq(
      src("l_partkey", "l_partkey"),
      src("l_returnflag", "l_returnflag"),
      src("l_suppkey", "(CASE WHEN l_orderkey % 4 = 0 " +
        "THEN l_suppkey + 1000000 ELSE l_suppkey END)")),
      extraCols = ",\n  true AS exact")
  }

  /** q151: the histogram build replayed end-to-end — per column:
    * exact min/max, the 16384-cell quantization (identical IEEE ops
    * from identical operands in both engines), exact per-cell row and
    * distinct counts, then the equi-height fold expressed as a
    * bin×cell interval intersection over cumulative row spans: bin k
    * covers logical rows (k·height, min((k+1)·height, n)] of the
    * cell-ordered multiset, a cell covers (cum−rows, cum], and a
    * cell's NDV charges every bin it overlaps — exactly the walk in
    * [[graft.operators.StatsHistogram.build]] including its
    * exact-boundary half-open semantics.
    */
  private val histogramOracle: String = {
    val grid = graft.operators.StatsHistogram.DefaultGridCells
    val nb = graft.operators.StatsHistogram.DefaultBins
    def one(cn: String) =
      s"""SELECT '$cn' AS cn, $cn::DOUBLE AS v FROM lineitem
         |WHERE $cn IS NOT NULL""".stripMargin
    s"""WITH vals AS (
       |  ${Seq("l_quantity", "l_extendedprice").map(one).mkString("\n  UNION ALL\n  ")}),
       |params AS (
       |  SELECT cn, min(v) AS mn, max(v) AS mx, count(*) AS n
       |  FROM vals GROUP BY cn),
       |cells AS (
       |  SELECT v.cn,
       |    LEAST(floor((v.v - p.mn) / ((p.mx - p.mn) / $grid)),
       |          ${grid - 1})::BIGINT AS cell,
       |    count(*) AS rows_, count(DISTINCT v.v) AS ndv
       |  FROM vals v JOIN params p USING (cn)
       |  GROUP BY v.cn, cell),
       |cum AS (
       |  SELECT cn, cell, rows_, ndv,
       |    sum(rows_) OVER (PARTITION BY cn ORDER BY cell) AS cum
       |  FROM cells),
       |hp AS (SELECT cn, greatest(1, n // $nb) AS height, n FROM params),
       |ks AS (
       |  -- bound 2·numBins: height = n // numBins truncates, so up to
       |  -- 2·numBins − 1 height-sized bins can fit in n (tiny inputs)
       |  SELECT hp.cn, k.generate_series AS bin, hp.height, hp.n
       |  FROM hp, generate_series(0, ${2 * nb}) k
       |  WHERE k.generate_series * hp.height < hp.n)
       |SELECT c.cn AS "column", ks.bin::INT AS bin,
       |  (least((ks.bin + 1) * ks.height, ks.n)
       |    - ks.bin * ks.height)::BIGINT AS rows,
       |  sum(c.ndv)::BIGINT AS ndv
       |FROM cum c JOIN ks ON c.cn = ks.cn
       |  AND ks.bin * ks.height < c.cum
       |  AND c.cum - c.rows_ < least((ks.bin + 1) * ks.height, ks.n)
       |GROUP BY c.cn, ks.bin, ks.height, ks.n
       |ORDER BY "column", bin""".stripMargin
  }

  lazy val oracles: Map[String, String] = oraclesBase +
    ("q151_histogram_stats" -> histogramOracle) +
    ("q149_analyze_rebaseline" -> hllRebaselineOracle) +
    ("q150_cbo_stats_join" ->
      """SELECT o_orderpriority, sum(l_quantity) AS total_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) +
    ("q152_catalog_stats_join" ->
      """SELECT c_mktsegment, o_orderpriority,
        |  count(*) AS n_orders, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin) +
    ("q143_hll_ndv_sketch" -> hllOracle) +
    // the CDF-incremental ANALYZE must reproduce the one-shot registers
    // over the full table exactly (append-only windows)
    ("q145_analyze_incremental" -> hllOracle) +
    ("q146_analyze_upper_bound" -> hllUpperBoundOracle) +
    ("q148_analyze_cdf_feed" -> hllCdfFeedOracle) +
    ("q141_curation_pipeline" -> curationOracle) +
    ("q147_curation_exact_cut" -> curationOracleWith(lmCut = Some(0.1))) +
    ("q140_minhash_estimate" -> estimateOracle) +
    ("q138_lsh_dedup_clusters" -> lshClustersOracle) +
    ("q139_minhash_index_append" -> indexAppendOracle) +
    ("q110_ivfpq_persisted" -> oraclesBase("q102_ivfpq_ann")) +
    // the persisted tier must reproduce the recompute tier exactly
    ("q132_dsir_persisted" -> oraclesBase("q128_dsir_select")) +
    ("q133_dedup_keep_best" -> keepBestOracle) +
    ("q134_winnowing" -> winnowingOracle) +
    ("q135_lm_trigram" -> trigramOracle) +
    ("q137_winnowing_history" -> winnowingHistoryOracle) +
    // the saved+appended index must answer exactly as the one-shot build
    // over the union (%4∈{0,2} ≡ %2=0) — q137's index-free replay IS the
    // full-history oracle for the append path
    ("q142_winnowing_index_append" -> winnowingHistoryOracle) +
    // the two chained CTAS SELECTs stated as one relational query
    ("q136_ctas" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey < 3000 AND o_totalprice > 100000
        |ORDER BY o_orderkey""".stripMargin)

  private val oraclesBase: Map[String, String] = Map(
    "q64_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT unnest(${gramsSql("text")}) AS gram
         |  FROM documents WHERE doc_id % 17 = 0),
         |cg AS (
         |  SELECT doc_id, unnest(${gramsSql("text")}) AS gram
         |  FROM documents WHERE doc_id % 17 <> 0),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
         |m AS (SELECT cg.doc_id, count(*) AS n_matched
         |      FROM cg JOIN bench USING (gram) GROUP BY cg.doc_id)
         |SELECT t.doc_id, t.n_grams, coalesce(m.n_matched, 0) AS n_matched,
         |  round(coalesce(m.n_matched, 0)::DOUBLE / t.n_grams, 4) AS overlap
         |FROM tot t LEFT JOIN m USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "q65_sequence_pack" ->
      """WITH RECURSIVE d AS (
        |  SELECT lang, doc_id,
        |    len(string_split_regex(lower(text), '\s+'))::BIGINT AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT lang, doc_id, n_tokens, rn,
        |    0::BIGINT AS seq_id, 0::BIGINT AS seq_off, n_tokens AS filled
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN p.filled + d.n_tokens <= 120 THEN p.seq_id
        |         ELSE p.seq_id + 1 END,
        |    CASE WHEN p.filled + d.n_tokens <= 120 THEN p.filled
        |         ELSE 0::BIGINT END,
        |    CASE WHEN p.filled + d.n_tokens <= 120 THEN p.filled + d.n_tokens
        |         ELSE d.n_tokens END
        |  FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
        |SELECT lang, doc_id, n_tokens, seq_id, seq_off
        |FROM p ORDER BY lang, doc_id""".stripMargin,

    "q66_mixture_sample" ->
      """WITH w(lang, wt) AS (VALUES ('en', 5), ('de', 3), ('fr', 2)),
        |c AS (SELECT d.lang, count(*) AS cnt, any_value(w.wt) AS wt
        |      FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
        |n AS (SELECT min(floor(cnt * 10 / wt))::BIGINT AS total FROM c),
        |q AS (SELECT c.lang, floor(c.wt * n.total / 10)::BIGINT AS quota
        |      FROM c CROSS JOIN n),
        |r AS (SELECT d.lang, d.doc_id,
        |        row_number() OVER (PARTITION BY d.lang
        |          ORDER BY ((d.doc_id % 1000000007) * 654435747 + 12345)
        |            % 1000000007, d.doc_id) AS rn
        |      FROM documents d JOIN q ON d.lang = q.lang)
        |SELECT r.lang, r.doc_id FROM r JOIN q ON r.lang = q.lang
        |WHERE r.rn <= q.quota
        |ORDER BY r.lang, r.doc_id""".stripMargin,

    "q100_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |w AS (SELECT lang, cnt,
        |        greatest(floor(sqrt(cnt))::BIGINT, 1) AS wt FROM c),
        |s AS (SELECT sum(wt) AS bigw FROM w),
        |n AS (SELECT min(floor(w.cnt * s.bigw / w.wt))::BIGINT AS total
        |      FROM w CROSS JOIN s),
        |q AS (SELECT w.lang, floor(w.wt * n.total / s.bigw)::BIGINT AS quota
        |      FROM w CROSS JOIN n CROSS JOIN s),
        |r AS (SELECT d.lang, d.doc_id,
        |        row_number() OVER (PARTITION BY d.lang
        |          ORDER BY ((d.doc_id % 1000000007) * 654435747 + 12345)
        |            % 1000000007, d.doc_id) AS rn
        |      FROM documents d)
        |SELECT r.lang, r.doc_id FROM r JOIN q ON r.lang = q.lang
        |WHERE r.rn <= q.quota
        |ORDER BY r.lang, r.doc_id""".stripMargin,

    // Replays the full PQ pipeline: seed codebook (first 16 vectors'
    // 8-dim slices), per-subspace argmin assignment (list_distance is
    // monotone in the engine's squared-L2; ties to the smaller centroid
    // id), reconstruction by concatenating chosen centroids in subspace
    // order (flatten(list(... ORDER BY s)) — the same left-to-right
    // accumulation order PqDot uses), ADC cosine, rank.
    "q101_pq_ann" ->
      """WITH seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |subs AS (SELECT range AS s FROM range(8)),
        |cb AS (
        |  SELECT subs.s, seeds.j,
        |    (seeds.embedding::DOUBLE[])[subs.s*8+1 : subs.s*8+8] AS cent
        |  FROM seeds CROSS JOIN subs),
        |asn AS (
        |  SELECT e.vec_id, cb.s, cb.j,
        |    row_number() OVER (PARTITION BY e.vec_id, cb.s
        |      ORDER BY list_distance(
        |        (e.embedding::DOUBLE[])[cb.s*8+1 : cb.s*8+8], cb.cent), cb.j) AS rn
        |  FROM embeddings e CROSS JOIN cb),
        |codes AS (SELECT vec_id, s, j FROM asn WHERE rn = 1),
        |recon AS (
        |  SELECT c.vec_id, flatten(list(cb.cent ORDER BY c.s)) AS rv
        |  FROM codes c JOIN cb ON cb.s = c.s AND cb.j = c.j
        |  GROUP BY c.vec_id),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, r.vec_id AS neighbor_id,
        |    list_inner_product(q.qv, r.rv) /
        |      (sqrt(list_inner_product(q.qv, q.qv)) *
        |       sqrt(list_inner_product(r.rv, r.rv))) AS c,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_inner_product(q.qv, r.rv) /
        |        (sqrt(list_inner_product(q.qv, q.qv)) *
        |         sqrt(list_inner_product(r.rv, r.rv))) DESC, r.vec_id) AS rank
        |  FROM q JOIN recon r ON r.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Replays IVF-PQ end-to-end. recon_norm deliberately uses the SAME
    // three-term formula as the engine (‖c‖² + 2·adot(c,code) +
    // (sqrt(rnorm²))² with the sqrt-then-square kept) rather than the
    // mathematically-equal ‖c+r‖² — the two differ in last-ulp rounding,
    // and bit-parity is what makes the hash comparison meaningful.
    "q102_ivfpq_ann" ->
      """WITH cells AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
        |    embedding::DOUBLE[] AS cvec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)),
        |casn AS (
        |  SELECT e.vec_id, cells.cid, cells.cvec, e.embedding::DOUBLE[] AS v,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], cells.cvec),
        |        cells.cid) AS rn
        |  FROM embeddings e CROSS JOIN cells),
        |res AS (
        |  SELECT vec_id, cid, cvec, v,
        |    list_transform(list_zip(v, cvec), x -> x[1] - x[2]) AS r
        |  FROM casn WHERE rn = 1),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
        |    (r::FLOAT[])::DOUBLE[] AS rf
        |  FROM (SELECT * FROM res ORDER BY vec_id LIMIT 8)),
        |subs AS (SELECT range AS s FROM range(8)),
        |cb AS (SELECT subs.s, seeds.j, (seeds.rf)[subs.s*8+1 : subs.s*8+8] AS cent
        |       FROM seeds CROSS JOIN subs),
        |pqasn AS (
        |  SELECT res.vec_id, cb.s, cb.j,
        |    row_number() OVER (PARTITION BY res.vec_id, cb.s
        |      ORDER BY list_distance((res.r)[cb.s*8+1 : cb.s*8+8], cb.cent),
        |        cb.j) AS rn
        |  FROM res CROSS JOIN cb),
        |codes AS (SELECT vec_id, s, j FROM pqasn WHERE rn = 1),
        |reconr AS (
        |  SELECT c.vec_id, flatten(list(cb.cent ORDER BY c.s)) AS rr
        |  FROM codes c JOIN cb ON cb.s = c.s AND cb.j = c.j GROUP BY c.vec_id),
        |enc AS (
        |  SELECT res.vec_id, res.cid,
        |    sqrt(greatest(
        |      list_inner_product(res.cvec, res.cvec)
        |      + 2.0 * list_inner_product(res.cvec, rr.rr)
        |      + power(sqrt(list_inner_product(rr.rr, rr.rr)), 2), 0.0)) AS recon_norm,
        |    rr.rr
        |  FROM res JOIN reconr rr ON rr.vec_id = res.vec_id),
        |q AS (
        |  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv,
        |    cells.cid, cells.cvec,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], cells.cvec),
        |        cells.cid) AS cr
        |  FROM embeddings e CROSS JOIN cells WHERE e.vec_id < 5),
        |probes AS (SELECT query_id, qv, cid, cvec FROM q WHERE cr <= 2),
        |scored AS (
        |  SELECT p.query_id, enc.vec_id AS neighbor_id,
        |    (list_inner_product(p.qv, p.cvec) + list_inner_product(p.qv, enc.rr)) /
        |      (sqrt(list_inner_product(p.qv, p.qv)) * enc.recon_norm) AS c
        |  FROM probes p JOIN enc ON enc.cid = p.cid AND enc.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, c,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q28_simhash_neardup" -> simHashOracle,
    "q29_lsh_ann" -> lshAnnOracle,
    "q47_dedup_clusters" -> componentsOracle,

    "q49_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*) AS n FROM documents),
        |r AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |        row_number() OVER (PARTITION BY t.doc_id
        |          ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rank
        |      FROM tf t JOIN dfq d USING (term))
        |SELECT doc_id, rank, term, tf, df,
        |  round(tf * ln((SELECT n FROM nd)::DOUBLE / df), 4) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q50_pii_scrub" -> {
      val email = graft.functions.TextFunctions.EmailPattern
      val phone = graft.functions.TextFunctions.PhonePattern
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-' ||
         |      lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.' AS t
         |  FROM documents),
         |e AS (SELECT doc_id,
         |    len(regexp_extract_all(t, '$email')) AS n_emails,
         |    regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1
         |  FROM planted),
         |s AS (SELECT doc_id, n_emails,
         |    len(regexp_extract_all(t1, '$phone')) AS n_phones,
         |    regexp_replace(t1, '$phone', '<PHONE>', 'g') AS clean
         |  FROM e)
         |SELECT doc_id, n_emails, n_phones, length(clean) AS n_clean_chars,
         |  ${polyFoldSql("clean")} AS fp
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q34_token_chunks" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |  unnest(range(0, greatest(CAST(ceil(len(toks)::DOUBLE / 24) AS INT), 1))) AS chunk_idx
         |  FROM tok)
         |SELECT doc_id, chunk_idx,
         |  array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ') AS chunk_text,
         |  len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS n_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q35_collapse_repeats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks) AS n_tokens,
         |  list_filter(toks, (x, i) -> i = 1 OR x <> toks[i-1]) AS ctoks
         |  FROM t)
         |SELECT doc_id, n_tokens, len(ctoks) AS n_collapsed,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(string_split(array_to_string(ctoks, ' '), ''), ch -> ascii(ch)::BIGINT)),
         |    (h, ch) -> (h * 31 + ch) % 1000000007) AS fp
         |FROM c ORDER BY doc_id""".stripMargin,

    "q36_top_token_ratio" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
        |SELECT doc_id, max(c) AS top_token_count,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(max(c)::DOUBLE / sum(c), 4) AS top_token_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // graft runs the Misra-Gries sketch in its exact regime; the oracle
    // is the plain exact GROUP BY
    "q69_freq_tokens" ->
      """SELECT t AS token, count(*) AS est_count
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t
        |      FROM documents)
        |GROUP BY t ORDER BY token""".stripMargin,

    "q38_json_extract" ->
      """SELECT (props->>'$.k')::INT % 10 AS k_mod, count(*) AS n,
        |  CAST(sum((props->>'$.k')::INT) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q37_salted_join" ->
      """SELECT o.o_orderstatus, count(*) AS n,
        |  round(sum(l.l_extendedprice), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin,

    "q33_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events),
        |r AS (SELECT user_id, ts AS purchase_ts, max(value) AS purchase_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS event_epoch,
        |  CAST(floor(epoch(r.purchase_ts)) AS BIGINT) AS purchase_epoch,
        |  round(r.purchase_value, 2) AS purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.purchase_ts
        |ORDER BY l.event_id""".stripMargin,

    // Forward ASOF picks the least purchase_ts ≥ ts; the 2-day tolerance
    // replays as a post-hoc NULL-out (µs arithmetic = the engine's
    // internal TimestampType unit, exact on this µs-aligned data).
    "q39_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events),
        |r AS (SELECT user_id, ts AS purchase_ts, max(value) AS purchase_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS event_epoch,
        |  CASE WHEN epoch_us(r.purchase_ts) - epoch_us(l.ts) <= 172800000000
        |       THEN CAST(floor(epoch(r.purchase_ts)) AS BIGINT) END AS purchase_epoch,
        |  CASE WHEN epoch_us(r.purchase_ts) - epoch_us(l.ts) <= 172800000000
        |       THEN round(r.purchase_value, 2) END AS purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.purchase_ts
        |ORDER BY l.event_id""".stripMargin,

    // Nearest = closer of the backward and forward ASOF matches, ties
    // backward — composed from two directional ASOF joins re-joined on the
    // unique event_id.
    "q40_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events),
        |r AS (SELECT user_id, ts AS purchase_ts, max(value) AS purchase_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, r.purchase_ts AS pts, r.purchase_value AS pval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.purchase_ts),
        |f AS (SELECT l.event_id, r.purchase_ts AS pts, r.purchase_value AS pval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.purchase_ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS event_epoch,
        |  CAST(floor(epoch(CASE WHEN b.pts IS NOT NULL AND (f.pts IS NULL
        |        OR epoch_us(l.ts) - epoch_us(b.pts) <= epoch_us(f.pts) - epoch_us(l.ts))
        |      THEN b.pts ELSE f.pts END)) AS BIGINT) AS purchase_epoch,
        |  round(CASE WHEN b.pts IS NOT NULL AND (f.pts IS NULL
        |        OR epoch_us(l.ts) - epoch_us(b.pts) <= epoch_us(f.pts) - epoch_us(l.ts))
        |      THEN b.pval ELSE f.pval END, 2) AS purchase_value
        |FROM l LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,
    "q45_stratified_sample" ->
      """SELECT event_id, event_type FROM events
        |WHERE ((event_id % 1000000007) * 654435747 + 12345) % 1000000007 % 100 <
        |  CASE WHEN event_type IN ('purchase', 'signup') THEN 100
        |       WHEN event_type = 'click' THEN 10
        |       WHEN event_type = 'view' THEN 5
        |       ELSE 20 END
        |ORDER BY event_id""".stripMargin,

    "q46_levenshtein_pairs" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |             substr(lower(text), 1, 30) AS prefix FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       levenshtein(a.prefix, b.prefix) AS dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 12
        |ORDER BY id_a, id_b""".stripMargin,

    "q20_token_stats" ->
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
         |  length(text) AS n_chars_computed
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q21_lang_quality" -> {
      val scores = markerSql.map { case (lang, arr) =>
        s"len(list_filter($toksSql, t -> list_contains($arr, t))) AS s_$lang"
      }.mkString(",\n    ")
      val best = markerSql.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = markerSql.map { case (l, _) =>
        s"WHEN best > 0 AND s_$l = best THEN '$l'"
      }.mkString(" ")
      val stop = "['the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'it', 'that']"
      s"""WITH scored AS (
         |  SELECT doc_id, text, $scores,
         |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
         |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
         |    len($toksSql) AS n_toks,
         |    len(list_filter($toksSql, t -> list_contains($stop, t))) AS stop_hits
         |  FROM documents
         |), b AS (SELECT *, $best AS best FROM scored)
         |SELECT doc_id,
         |  CASE $cases ELSE 'und' END AS lang_pred,
         |  round(alpha_ratio * 0.4 + (1.0 - punct_ratio) * 0.2
         |    + least(n_toks::DOUBLE / 50.0, 1.0) * 0.2
         |    + least((stop_hits::DOUBLE / n_toks) * 5.0, 1.0) * 0.2, 4) AS quality
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "q22_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(
        |        string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
        |        c -> ascii(c)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q23_exact_dedup" ->
      s"""WITH dup AS ($dupSql),
         |keep AS (SELECT min(doc_id) AS doc_id FROM dup GROUP BY text)
         |SELECT d.doc_id, d.n_chars FROM dup d JOIN keep k ON d.doc_id = k.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q24_minhash_neardup" ->
      s"""WITH g AS (SELECT doc_id, ${gramsSql("text")} AS grams FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q25_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, lang, ${gramsSql("text")} AS grams FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
         |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
         |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q26_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q30_ivf_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // gaps-and-islands sessionization: break when the gap from the previous
    // event EXCEEDS 30 min — probed empirically: Spark's session_window
    // merges an event landing exactly at last_ts + gap (inclusive end), so
    // the break condition is strictly >. Session id = running sum of breaks.
    "q31_sessions" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sessions AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_epoch""".stripMargin,

    "q27_cosine_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays RepetitionStats formula-for-formula: same lined-text
    // construction, same denominators, same duplicate attribution. All
    // signals are exact-integer arithmetic + one IEEE division, so the
    // unrounded keep-gate comparisons agree bit-for-bit.
    "q73_repetition_quality" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    replace(text || chr(10) || substr(text, 1, 40)
        |              || chr(10) || substr(text, 1, 40),
        |            ' scan ', chr(10)) AS s
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, s,
        |    string_split(s, chr(10)) AS lines,
        |    string_split_regex(lower(s), '\s+') AS w
        |  FROM lined),
        |m AS (
        |  SELECT doc_id, s, lines,
        |    list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1]) AS g2,
        |    list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |  FROM base),
        |r AS (
        |  SELECT doc_id,
        |    (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) AS dlf,
        |    CASE WHEN list_sum(list_transform(lines, l -> length(l))) = 0 THEN 0.0
        |         ELSE (list_sum(list_transform(lines, l -> length(l)))
        |               - list_sum(list_transform(list_distinct(lines), l -> length(l))))::DOUBLE
        |              / list_sum(list_transform(lines, l -> length(l))) END AS dlcf,
        |    coalesce(list_max(list_transform(list_distinct(g2),
        |        g -> CASE WHEN len(list_filter(g2, x -> x = g)) > 1
        |             THEN len(list_filter(g2, x -> x = g)) * length(g)
        |             ELSE 0 END)), 0)::DOUBLE
        |      / length(s) AS tgcf,
        |    coalesce(list_sum(list_transform(list_distinct(g3),
        |        g -> CASE WHEN len(list_filter(g3, x -> x = g)) > 1
        |             THEN len(list_filter(g3, x -> x = g)) * length(g)
        |             ELSE 0 END)), 0)::DOUBLE / length(s) AS dgcf
        |  FROM m)
        |SELECT doc_id,
        |  round(dlf, 4) AS dup_line_frac,
        |  round(dlcf, 4) AS dup_line_char_frac,
        |  round(tgcf, 4) AS top_gram_char_frac,
        |  round(dgcf, 4) AS dup_gram_char_frac,
        |  dlf <= 0.30 AND dlcf <= 0.20 AND tgcf <= 0.20 AND dgcf <= 0.60 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // Replays polyHash64('seed42|' || doc_id) part-for-part (16-bit
    // shifted parts, same primes), then shard and in-shard position.
    "q74_shuffle_shard" -> {
      val parts = graft.functions.expressions.PolyHash64.Parts
      val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
        s"${polyPartSql(b, p)} AS p$i"
      }.mkString(",\n    ")
      val hashExpr = parts.indices.map(i => s"p$i * ${1L << (i * 16)}")
        .mkString(" + ")
      s"""WITH s AS (SELECT doc_id, 'seed42|' || doc_id::VARCHAR AS t FROM documents),
         |ph AS (
         |  SELECT doc_id,
         |    $partCols
         |  FROM s),
         |h AS (SELECT doc_id, $hashExpr AS h FROM ph)
         |SELECT doc_id, (h % 8)::INT AS shard,
         |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
         |FROM h ORDER BY shard, pos""".stripMargin
    },

    // Replays the q75 history construction and the SCD2 lag/lead logic.
    "q75_scd2_fold" ->
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
        |hist AS (
        |  SELECT k, seg, 0::BIGINT AS ver FROM c
        |  UNION ALL SELECT k, 'SHIFTED', 1 FROM c WHERE k % 10 = 0
        |  UNION ALL SELECT k, seg, 1 FROM c WHERE k % 7 = 0 AND k % 10 <> 0
        |  UNION ALL SELECT k, 'SHIFTED2', 2 FROM c WHERE k % 20 = 0),
        |m AS (
        |  SELECT *, lag(seg) OVER (PARTITION BY k ORDER BY ver) AS prev
        |  FROM hist),
        |ch AS (SELECT k, seg, ver FROM m WHERE prev IS NULL OR prev <> seg),
        |o AS (
        |  SELECT k, seg, ver AS valid_from,
        |    lead(ver) OVER (PARTITION BY k ORDER BY ver) AS valid_to
        |  FROM ch)
        |SELECT k, seg, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM o ORDER BY k, valid_from""".stripMargin,

    "q93_left_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id,
        |  coalesce(c.event_id, -1) AS click_id,
        |  CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
        |  coalesce(CAST(floor(epoch(c.ts)) AS BIGINT), -1) AS click_epoch
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND v.ts <= c.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    "q76_interval_join" ->
      """SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        | AND c.user_id = v.user_id
        | AND v.ts <= c.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
        |ORDER BY c.user_id, view_id, click_id""".stripMargin,

    "q77_vocab_build" ->
      s"""WITH tf AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |f AS (
         |  SELECT term, count(*) AS freq FROM tf
         |  GROUP BY term HAVING count(*) >= 10)
         |SELECT term, freq,
         |  row_number() OVER (ORDER BY freq DESC, term) AS token_id
         |FROM f ORDER BY token_id""".stripMargin,

    // Replays VecQuantize: scale = maxabs/127, floor(+0.5) codes with
    // clamp, reconstruction error — all exact double arithmetic.
    "q78_embed_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        |      FROM v),
        |q AS (SELECT vec_id, scale,
        |        CASE WHEN scale = 0 THEN list_transform(e, x -> 0::INT)
        |             ELSE list_transform(e, x ->
        |               greatest(-127.0, least(127.0, floor(x/scale + 0.5)))::INT)
        |        END AS codes,
        |        CASE WHEN scale = 0 THEN 0.0
        |             ELSE list_max(list_transform(e, x ->
        |               abs(x - greatest(-127.0, least(127.0, floor(x/scale + 0.5))) * scale)))
        |        END AS max_abs_err
        |      FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       array_to_string(codes, ',') AS codes,
        |       round(max_abs_err, 6) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "q84_c4_filter" ->
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' merge ', chr(10)) AS t FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM lined),
        |f AS (SELECT doc_id, lines,
        |        list_filter(lines, x ->
        |          len(string_split_regex(trim(x), '\s+')) >= 12
        |          AND NOT contains(x, 'slow')) AS kept
        |      FROM l)
        |-- array_to_string([]) is NULL in DuckDB, '' in Spark's array_join
        |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |       len(lines) AS n_lines_in, len(kept) AS n_lines_kept,
        |       len(kept) >= 2 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q85_para_dedup" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |    string_split(replace(text, ' table ', chr(10) || chr(10)),
        |                 chr(10) || chr(10)) AS ps
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, i - 1 AS pos, trim(ps[i]) AS para
        |  FROM sp, LATERAL unnest(generate_series(1, len(ps))) AS t(i)),
        |w AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM e),
        |k AS (SELECT doc_id, pos, para FROM w WHERE rn = 1),
        |cnt AS (SELECT doc_id, count(*) AS n_paras_in FROM e GROUP BY doc_id),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text,
        |    count(*) AS n_paras_kept
        |  FROM k GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       c.n_paras_in, coalesce(a.n_paras_kept, 0) AS n_paras_kept
        |FROM cnt c LEFT JOIN agg a USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    "q86_semdedup" ->
      """WITH c AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
        |         embedding::DOUBLE[] AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
        |               c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM scored WHERE rn = 1),
        |drp AS (
        |  SELECT DISTINCT b.vec_id FROM a x JOIN a b
        |    ON x.centroid_id = b.centroid_id AND x.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(x.embedding::DOUBLE[],
        |                               b.embedding::DOUBLE[]) >= 0.3)
        |SELECT a.vec_id, a.centroid_id
        |FROM a ANTI JOIN drp ON a.vec_id = drp.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q88_bpe_train" -> bpeOracle(rounds = 8),

    "q89_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS q(i)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT u.w) AS v
        |      FROM (SELECT unnest(w) AS w FROM t) u WHERE length(u.w) > 0),
        |sc AS (
        |  SELECT bg.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS logp
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) AS avg_logp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The post-fold table is the plain union of the loads.
    "q121_compact_small" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey < 2300
        |ORDER BY o_orderkey""".stripMargin,

    // Batch paragraphs minus history paragraphs, compared on NORMALIZED
    // text (the engine compares 64-bit fingerprints — the equivalence
    // itself is what this gate proves, the q22/q114 pattern).
    "q120_para_scrub" ->
      """WITH bp AS (
        |  SELECT doc_id, i, trim(parts[i]) AS para
        |  FROM (SELECT doc_id, string_split(text, e'\n\n') AS parts
        |        FROM documents WHERE doc_id % 3 <> 0),
        |  LATERAL unnest(generate_series(1, len(parts))) AS q(i)),
        |hp AS (
        |  SELECT DISTINCT
        |    regexp_replace(trim(lower(p)), '\s+', ' ', 'g') AS t
        |  FROM (SELECT unnest(string_split(text, e'\n\n')) AS p
        |        FROM documents WHERE doc_id % 3 = 0)),
        |keep AS (
        |  SELECT doc_id, i, para FROM bp
        |  WHERE regexp_replace(trim(lower(para)), '\s+', ' ', 'g')
        |    NOT IN (SELECT t FROM hp)),
        |agg AS (
        |  SELECT doc_id, string_agg(para, e'\n\n' ORDER BY i) AS clean_text,
        |    count(*) AS n_paras_kept
        |  FROM keep GROUP BY doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n_paras_in FROM bp GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  c.n_paras_in, coalesce(a.n_paras_kept, 0) AS n_paras_kept
        |FROM cnt c LEFT JOIN agg a ON c.doc_id = a.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // The surviving property set stated literally.
    "q119_tblproperties" ->
      """SELECT * FROM (VALUES
        |  ('graft.appendOnly', 'true'),
        |  ('tier', 'raw')) AS t(key, value)
        |ORDER BY key""".stripMargin,

    // The identity sequence's invariants derived from start=1000,
    // step=3 and the row count alone: contiguous unique values whose
    // sum is the arithmetic series.
    "q118_identity_columns" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_uids,
        |  CAST(1000 AS BIGINT) AS min_uid,
        |  CAST(1000 + 3 * (count(*) - 1) AS BIGINT) AS max_uid,
        |  CAST(count(*) * (2000 + 3 * (count(*) - 1)) / 2 AS BIGINT) AS sum_uid
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,

    // Brute-force cross Jaccard between the batch and history splits —
    // the engine's LSH candidates + exact verification must equal it.
    "q117_minhash_history" ->
      s"""WITH g AS (SELECT doc_id, ${gramsSql("text")} AS grams FROM documents),
         |hist AS (SELECT doc_id, grams FROM g WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id, grams FROM g WHERE doc_id % 2 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, grams FROM g
         |  WHERE doc_id % 20 = 0)
         |SELECT b.doc_id AS batch_id, h.doc_id AS hist_id,
         |  round(len(list_intersect(b.grams, h.grams))::DOUBLE
         |    / len(list_distinct(list_concat(b.grams, h.grams))), 4) AS jaccard
         |FROM batch b JOIN hist h ON
         |  len(list_intersect(b.grams, h.grams))::DOUBLE
         |    / len(list_distinct(list_concat(b.grams, h.grams))) >= 0.5
         |ORDER BY batch_id, hist_id""".stripMargin,

    // The generated column stated as its defining expression.
    "q116_generated_columns" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice,
        |  year(o_orderdate) AS o_year
        |FROM orders WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    // The persisted tier scores the training corpus itself, so the
    // ground truth is exactly q89's recompute formulation.
    "q115_lm_persisted" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS q(i)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT u.w) AS v
        |      FROM (SELECT unnest(w) AS w FROM t) u WHERE length(u.w) > 0),
        |sc AS (
        |  SELECT bg.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS logp
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) AS avg_logp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q89's scoring replayed, then the same rounded-score ntile cut.
    "q103_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS q(i)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT u.w) AS v
        |      FROM (SELECT unnest(w) AS w FROM t) u WHERE length(u.w) > 0),
        |sc AS (
        |  SELECT bg.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS logp
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |score AS (
        |  SELECT doc_id, round(avg(logp), 4) AS avg_logp FROM sc GROUP BY doc_id),
        |b AS (
        |  SELECT d.doc_id, d.lang, s.avg_logp,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.avg_logp DESC NULLS LAST, d.doc_id) AS bucket
        |  FROM documents d JOIN score s USING (doc_id))
        |SELECT doc_id, lang, avg_logp, bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS tier
        |FROM b ORDER BY doc_id""".stripMargin,

    // Replays BOTH rankings (q96's BM25 at k=10; q26-style cosine for
    // vec_id 1-3) and the exact-rational RRF fusion.
    "q97_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |ad AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'table scan merge'), (2, 'vector batch'),
        |  (3, 'customer order data')),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
        |       FROM q),
        |p AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
        |  FROM qt JOIN tf USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfq ON tf.term = dfq.term
        |  CROSS JOIN nd CROSS JOIN ad),
        |sc AS (SELECT query_id, doc_id, sum(s) AS score FROM p GROUP BY query_id, doc_id),
        |lex AS (
        |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS r
        |  FROM sc),
        |vq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |       WHERE vec_id IN (1, 2, 3)),
        |vs AS (
        |  SELECT vq.query_id, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY vq.query_id
        |      ORDER BY list_cosine_similarity(vq.qv::DOUBLE[], e.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS r
        |  FROM vq JOIN embeddings e ON e.vec_id <> vq.query_id),
        |u AS (
        |  SELECT query_id, doc_id, r FROM lex WHERE r <= 10
        |  UNION ALL
        |  SELECT query_id, doc_id, r FROM vs WHERE r <= 10),
        |f AS (SELECT query_id, doc_id, sum(1.0 / (60 + r)) AS fused,
        |             count(*) AS n_lists
        |      FROM u GROUP BY query_id, doc_id),
        |rr AS (
        |  SELECT query_id AS query, doc_id AS doc, fused, n_lists,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY fused DESC, doc_id) AS rank
        |  FROM f)
        |SELECT query, rank, doc, round(fused, 6) AS fused, n_lists
        |FROM rr WHERE rank <= 10
        |ORDER BY query, rank""".stripMargin,

    // Spark's double→long cast truncates toward zero; value ≥ 0, so
    // floor() replays it.
    "q98_interval_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS vs,
        |    CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) + 60 AS ve
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS cs,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 120 AS ce
        |  FROM events WHERE event_type = 'click')
        |SELECT view_id, click_id FROM v JOIN c ON vs < ce AND cs < ve
        |ORDER BY view_id, click_id""".stripMargin,

    "q99_embed_decontam" ->
      """SELECT c.vec_id, c.label
        |FROM embeddings c
        |WHERE c.vec_id % 97 <> 0 AND NOT EXISTS (
        |  SELECT 1 FROM embeddings b
        |  WHERE b.vec_id % 97 = 0
        |    AND list_cosine_similarity(c.embedding::DOUBLE[],
        |                               b.embedding::DOUBLE[]) >= 0.25)
        |ORDER BY c.vec_id""".stripMargin,

    "q96_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |ad AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'table scan merge'), (2, 'vector batch'),
        |  (3, 'customer order data')),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
        |       FROM q),
        |p AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
        |  FROM qt JOIN tf USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfq ON tf.term = dfq.term
        |  CROSS JOIN nd CROSS JOIN ad),
        |sc AS (SELECT query_id, doc_id, sum(s) AS score FROM p GROUP BY query_id, doc_id),
        |r AS (SELECT query_id, doc_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY score DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, rank, doc_id, round(score, 4) AS score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // End-state oracle: out-of-order application must converge to the
    // global latest change per key, minus keys whose latest is a
    // tombstone.
    "q109_apply_changes" ->
      """WITH latest AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM latest WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // End-state after evolved application: global latest change per
    // key, channel present only when that winning change was odd
    // (the widened feed), error-latest keys tombstoned away.
    "q123_apply_changes_evolve" ->
      """WITH latest AS (
        |  SELECT user_id, event_id, event_type, value,
        |    CASE WHEN event_id % 2 = 1
        |         THEN 'c' || (user_id % 3)::VARCHAR END AS channel,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value, channel
        |FROM latest WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // Replays the key scramble and the three point lookups directly.
    "q113_bloom_lookup" ->
      """SELECT o_orderkey,
        |  'k-' || ((o_orderkey * 2654435761) % 1000000)::VARCHAR AS uid,
        |  o_totalprice
        |FROM orders
        |WHERE o_orderkey < 20000 AND o_orderkey IN (1, 7, 32)
        |ORDER BY o_orderkey""".stripMargin,

    // The final image stated directly: NULL for pre-add history, the
    // default CURRENT at each window's ingest, explicit values verbatim.
    "q131_add_column_default" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey < 500 THEN NULL
        |       WHEN o_orderkey < 1000 THEN 'std'
        |       WHEN o_orderkey < 1500 THEN 'bulk'
        |       ELSE 'vip' END AS tier
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin,

    // Replays the per-dim quantizer bit-for-bit: same floor(x+0.5)
    // levels, same (c/255)*span+lo dequantization, cosine over the
    // reconstructed lists.
    "q130_sq8_ann" ->
      """WITH vals AS (
        |  SELECT e.vec_id, u.i, (e.embedding::DOUBLE[])[u.i] AS x
        |  FROM embeddings e
        |  CROSS JOIN (SELECT unnest(range(1, len(first(embedding)) + 1)) AS i
        |              FROM embeddings) u),
        |dims AS (SELECT i AS d, min(x) AS lo, max(x) AS hi
        |         FROM vals GROUP BY i),
        |deq AS (
        |  SELECT v.vec_id,
        |    list(floor(CASE WHEN dims.hi = dims.lo THEN 0
        |           ELSE (v.x - dims.lo) / (dims.hi - dims.lo) * 255
        |                + 0.5 END)
        |         / 255 * (dims.hi - dims.lo) + dims.lo ORDER BY v.i) AS dv
        |  FROM vals v JOIN dims ON dims.d = v.i
        |  GROUP BY v.vec_id),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, d.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv, d.dv) AS c,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv, d.dv) DESC, d.vec_id)
        |      AS rank
        |  FROM q JOIN deq d ON d.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Replays DSIR over term STRINGS (the engine keys xxhash64 fps):
    // add-k unigram models for the raw corpus and its English slice over
    // the raw vocabulary, per-term log-ratio computed once, summed per
    // document through the token join — the same association order as
    // the engine's fp equi-join formulation.
    "q128_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> x <> '')) AS w
        |  FROM documents),
        |rc AS (SELECT w, count(*) AS cr FROM tok GROUP BY w),
        |tot AS (SELECT sum(cr) AS nr, count(*) AS v FROM rc),
        |ntc AS (SELECT count(*) AS nt FROM tok WHERE lang = 'en'),
        |tc AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY w),
        |lr AS (
        |  SELECT rc.w,
        |    ln((coalesce(tc.ct, 0) + 0.5) / (ntc.nt + 0.5 * tot.v))
        |    - ln((rc.cr + 0.5) / (tot.nr + 0.5 * tot.v)) AS lr
        |  FROM rc LEFT JOIN tc ON tc.w = rc.w CROSS JOIN tot CROSS JOIN ntc),
        |scored AS (
        |  SELECT t.doc_id, count(*) AS n_tokens, round(sum(lr.lr), 4) AS weight
        |  FROM tok t JOIN lr ON lr.w = t.w
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, weight, rank FROM (
        |  SELECT doc_id, n_tokens, weight,
        |    row_number() OVER (ORDER BY weight DESC, doc_id) AS rank
        |  FROM scored)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // Re-derives the split from the weights alone: md5 bucket, hex
    // boundaries "cd" (⌊0.8·256⌉ = 205) and "e6" (230), lexicographic
    // compare — the engine-portability claim, proven per row.
    "q129_hash_split" ->
      """SELECT doc_id, lang,
        |  substr(md5(doc_id::VARCHAR || ':0'), 1, 2) AS bucket,
        |  CASE
        |    WHEN substr(md5(doc_id::VARCHAR || ':0'), 1, 2) < 'cd' THEN 'train'
        |    WHEN substr(md5(doc_id::VARCHAR || ':0'), 1, 2) < 'e6' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The positive set (same-label pairs) restated as a join
    // inequality; otherwise exactly the q26 brute-force formulation.
    "q127_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS c,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[],
        |        e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
        |  FROM q JOIN embeddings e
        |    ON e.vec_id <> q.query_id AND e.label <> q.label)
        |SELECT query_id, neighbor_id, round(c, 4) AS cosine, rank
        |FROM scored WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Replays all five repetition signals over the unit STRINGS (the
    // engine groups xxhash64 fingerprints): trimmed non-empty lines /
    // blank-line-split paragraphs with per-unit counts and char mass;
    // word n-grams as 1-based token-slice joins; coverage = the max
    // count·length product of a duplicated gram over the text length.
    "q126_gopher_repetition" ->
      """WITH lines AS (
        |  SELECT doc_id, trim(l) AS u FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |    FROM documents) WHERE trim(l) <> ''),
        |lc AS (SELECT doc_id, u, count(*) AS c, length(u) AS len
        |       FROM lines GROUP BY doc_id, u),
        |la AS (SELECT doc_id,
        |         1.0 - count(*)::DOUBLE / sum(c) AS dlf,
        |         sum(CASE WHEN c > 1 THEN c * len ELSE 0 END)::DOUBLE
        |           / sum(c * len) AS dlcf
        |       FROM lc GROUP BY doc_id),
        |paras AS (
        |  SELECT doc_id, trim(p) AS u FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\n{2,}')) AS p
        |    FROM documents) WHERE trim(p) <> ''),
        |pc AS (SELECT doc_id, u, count(*) AS c FROM paras GROUP BY doc_id, u),
        |pa AS (SELECT doc_id, 1.0 - count(*)::DOUBLE / sum(c) AS dpf
        |       FROM pc GROUP BY doc_id),
        |tok AS (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |                      x -> x <> '') AS ts,
        |          length(text) AS chars
        |        FROM documents),
        |g2 AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
        |       FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
        |             FROM tok WHERE len(ts) >= 2)),
        |g2c AS (SELECT doc_id, g, count(*) AS c, length(g) AS len
        |        FROM g2 GROUP BY doc_id, g),
        |g2a AS (SELECT doc_id,
        |          max(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS cov
        |        FROM g2c GROUP BY doc_id),
        |g3 AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
        |       FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |             FROM tok WHERE len(ts) >= 3)),
        |g3c AS (SELECT doc_id, g, count(*) AS c, length(g) AS len
        |        FROM g3 GROUP BY doc_id, g),
        |g3a AS (SELECT doc_id,
        |          max(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS cov
        |        FROM g3c GROUP BY doc_id),
        |s AS (
        |  SELECT d.doc_id,
        |    coalesce(la.dlf, 0) AS dlf, coalesce(la.dlcf, 0) AS dlcf,
        |    coalesce(pa.dpf, 0) AS dpf,
        |    coalesce(g2a.cov::DOUBLE / nullif(t.chars, 0), 0) AS t2,
        |    coalesce(g3a.cov::DOUBLE / nullif(t.chars, 0), 0) AS t3
        |  FROM documents d
        |  LEFT JOIN tok t USING (doc_id)
        |  LEFT JOIN la USING (doc_id) LEFT JOIN pa USING (doc_id)
        |  LEFT JOIN g2a USING (doc_id) LEFT JOIN g3a USING (doc_id))
        |SELECT doc_id,
        |  round(dlf, 4) AS dup_line_frac,
        |  round(dlcf, 4) AS dup_line_char_frac,
        |  round(dpf, 4) AS dup_para_frac,
        |  round(t2, 4) AS top_2gram_char_frac,
        |  round(t3, 4) AS top_3gram_char_frac,
        |  (dlf <= 0.30 AND dlcf <= 0.20 AND dpf <= 0.30
        |    AND t2 <= 0.20 AND t3 <= 0.18) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // The generated column IS year(o_orderdate); the 1995 slice stated
    // directly over the raw table.
    "q125_generated_partition" ->
      """SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice
        |FROM orders
        |WHERE o_orderkey < 1500 AND year(o_orderdate) = 1995
        |ORDER BY o_orderkey""".stripMargin,

    // The post-fold table is the plain union of the bulk load and the
    // three inserted key ranges.
    "q124_compact_small_part" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey < 2300
        |ORDER BY o_orderkey""".stripMargin,

    // The final LOGICAL contents after rename → merge(×2 for keys<100)
    // → update(+1 for 100..199) → delete(price<1000), derived from the
    // mutation algebra over the raw table — the engine's colmap
    // translation machinery never appears here.
    "q122_mapped_mutations" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey < 100 THEN o_totalprice * 2
        |         WHEN o_orderkey >= 100 AND o_orderkey < 200
        |           THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT o_orderkey, o_orderstatus, price FROM base
        |WHERE price >= 1000.0
        |ORDER BY o_orderkey""".stripMargin,

    // The logical view after RENAME l_quantity->qty + DROP
    // l_extendedprice, stated directly over the raw table.
    "q112_rename_column" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Batch-vs-history dedup as normalized-text set algebra: keep the
    // lowest batch doc_id per normalized text, then drop texts the
    // history has seen. The engine decides membership through a Bloom
    // filter + fingerprint store — this oracle states the ground truth
    // from the constituents instead.
    "q114_bloom_history_dedup" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t,
        |    n_chars
        |  FROM documents),
        |hist AS (SELECT DISTINCT t FROM norm WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, t, n_chars FROM norm WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, t, n_chars FROM norm
        |  WHERE doc_id % 5 <> 0 AND doc_id % 25 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY t)
        |SELECT b.doc_id, b.n_chars FROM batch b
        |JOIN keep k ON b.doc_id = k.doc_id
        |WHERE b.t NOT IN (SELECT t FROM hist)
        |ORDER BY b.doc_id""".stripMargin,

    // SCD2 interval history from the raw change stream: every (user,
    // event) observation opens an interval at its own sequence and
    // closes at the user's next change; tombstones ('error') close the
    // preceding interval and are hidden from the view.
    "q111_apply_changes_scd2" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, event_type, value,
        |    (event_type = 'error') AS tomb,
        |    lead(event_id) OVER (PARTITION BY user_id
        |                         ORDER BY event_id) AS end_at
        |  FROM events)
        |SELECT user_id, event_id AS "__START_AT", end_at AS "__END_AT",
        |  event_type, value, (end_at IS NULL) AS is_current
        |FROM iv WHERE NOT tomb
        |ORDER BY user_id, "__START_AT"""".stripMargin,

    // Replays NB training: per-token bucket counts split by label,
    // densified over all 64 buckets (zero-count buckets still carry a
    // smoothed weight), then the exact floor(x*1000+0.5) quantization
    // of the Laplace log-odds.
    "q108_nb_train" -> {
      val parts = graft.functions.expressions.PolyHash64.Parts
      val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
        s"${polyPartSql(b, p)} AS p$i"
      }.mkString(",\n    ")
      val hashExpr = parts.indices.map(i => s"p$i * ${1L << (i * 16)}")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT (lang = 'en') AS pos,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS t
         |  FROM documents),
         |tph AS (SELECT pos, $partCols FROM tok),
         |tb AS (SELECT pos, (($hashExpr) % 64) AS b FROM tph),
         |c AS (
         |  SELECT b,
         |    count(*) FILTER (WHERE pos)::BIGINT AS c_pos,
         |    count(*) FILTER (WHERE NOT pos)::BIGINT AS c_neg
         |  FROM tb GROUP BY b),
         |dense AS (
         |  SELECT j AS bucket, coalesce(c_pos, 0)::BIGINT AS c_pos,
         |    coalesce(c_neg, 0)::BIGINT AS c_neg
         |  FROM (SELECT unnest(generate_series(0, 63)) AS j)
         |  LEFT JOIN c ON c.b = j),
         |tot AS (SELECT sum(c_pos)::DOUBLE AS n_pos,
         |               sum(c_neg)::DOUBLE AS n_neg FROM dense)
         |SELECT bucket, c_pos, c_neg,
         |  floor((ln((c_pos + 1.0) / (n_pos + 64)) -
         |         ln((c_neg + 1.0) / (n_neg + 64))) * 1000.0 + 0.5)::BIGINT
         |    AS w_milli
         |FROM dense CROSS JOIN tot
         |ORDER BY bucket""".stripMargin
    },

    // Replays HashedBowSum end-to-end: weight table from
    // polyHash64('clf8|' || j) % 2001 - 1000 over j < 64, then per-token
    // polyHash64 → % 64 bucket → weight join → exact BIGINT sum + mean.
    "q107_hash_classifier" -> {
      val parts = graft.functions.expressions.PolyHash64.Parts
      val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
        s"${polyPartSql(b, p)} AS p$i"
      }.mkString(",\n    ")
      val hashExpr = parts.indices.map(i => s"p$i * ${1L << (i * 16)}")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
         |  FROM documents),
         |tph AS (SELECT doc_id, $partCols FROM tok),
         |tb AS (SELECT doc_id, (($hashExpr) % 64) AS b FROM tph),
         |wseed AS (
         |  SELECT j, 'clf8|' || j::VARCHAR AS t
         |  FROM (SELECT unnest(generate_series(0, 63)) AS j)),
         |wph AS (SELECT j, $partCols FROM wseed),
         |wt AS (SELECT j, (($hashExpr) % 2001) - 1000 AS w FROM wph)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  sum(w)::BIGINT AS bow_sum,
         |  round(sum(w)::DOUBLE / (1000.0 * count(*)), 6) AS score
         |FROM tb JOIN wt ON tb.b = wt.j
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // Independent formulation: duplicated grams found by grouping the
    // gram STRINGS (not the engine's fingerprints), same bounded-window
    // coverage rule, string_agg re-join. ORDER BY pos inside string_agg
    // keeps the re-join deterministic; all-covered docs coalesce to ''.
    "q106_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS term
        |  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS q(i)),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         array_to_string(toks[i:i+4], ' ') AS gram
        |  FROM t, LATERAL unnest(generate_series(1, len(toks) - 4)) AS q(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |ds AS (SELECT doc_id, pos, TRUE AS dup_start
        |       FROM g JOIN dup USING (gram)),
        |m AS (
        |  SELECT tok.doc_id, tok.pos, tok.term,
        |    max(CASE WHEN ds.dup_start THEN tok.pos END)
        |      OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |      IS NOT NULL AS covered
        |  FROM tok LEFT JOIN ds
        |    ON tok.doc_id = ds.doc_id AND tok.pos = ds.pos)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  count(*) FILTER (WHERE covered)::BIGINT AS n_removed,
        |  coalesce(string_agg(CASE WHEN NOT covered THEN term END, ' '
        |                      ORDER BY pos), '') AS cleaned
        |FROM m GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Ground-truth canonical forms stated from the URL constituents
    // (shapes 0 and 2 collapse; shape 3 quarantines), then the same
    // min-id dedup + top-3-per-domain window.
    "q105_url_curation" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars, source, ((doc_id // 20) % 4) AS shape
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN shape = 0 THEN source || '.co.uk'
        |         WHEN shape = 1 THEN 'example.com'
        |         WHEN shape = 2 THEN source || '.com.au'
        |         ELSE NULL END AS domain,
        |    CASE WHEN shape = 0
        |           THEN 'https://www.' || source || '.co.uk/docs/'
        |                || (doc_id % 10)::VARCHAR || '?id='
        |                || (doc_id % 3)::VARCHAR
        |         WHEN shape = 1
        |           THEN 'http://' || source || '.example.com/docs/'
        |                || (doc_id % 10)::VARCHAR
        |         WHEN shape = 2
        |           THEN 'https://docs.' || source || '.com.au/docs/'
        |                || (doc_id % 10)::VARCHAR || '?id='
        |                || (doc_id % 3)::VARCHAR
        |         ELSE NULL END AS canonical_url
        |  FROM u),
        |w AS (SELECT canonical_url, min(doc_id) AS doc_id FROM c
        |      WHERE canonical_url IS NOT NULL GROUP BY 1),
        |d AS (SELECT c.* FROM c
        |      JOIN w ON c.canonical_url = w.canonical_url
        |            AND c.doc_id = w.doc_id),
        |r AS (SELECT domain, doc_id, canonical_url, n_chars,
        |        row_number() OVER (PARTITION BY domain
        |                           ORDER BY n_chars DESC, doc_id)
        |          AS domain_rank
        |      FROM d)
        |SELECT domain, domain_rank, doc_id, canonical_url, n_chars
        |FROM r WHERE domain_rank <= 3
        |ORDER BY domain, domain_rank""".stripMargin,

    // Indexed tier returns the identical result set — same oracle.
    "q104_bm25_indexed" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |ad AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl),
        |q(query_id, qtext) AS (VALUES
        |  (1, 'table scan merge'), (2, 'vector batch'),
        |  (3, 'customer order data')),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
        |       FROM q),
        |p AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
        |  FROM qt JOIN tf USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfq ON tf.term = dfq.term
        |  CROSS JOIN nd CROSS JOIN ad),
        |sc AS (SELECT query_id, doc_id, sum(s) AS score FROM p GROUP BY query_id, doc_id),
        |r AS (SELECT query_id, doc_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY score DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, rank, doc_id, round(score, 4) AS score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Replays WeightedSample: polyHash64('wsamp42|' || doc_id) part-for-
    // part, u = (h mod 1e9+7 + 1)/(1e9+8), key = ln(u)/n_chars, rank
    // per language.
    "q94_weighted_sample" -> {
      val parts = graft.functions.expressions.PolyHash64.Parts
      val partCols = parts.zipWithIndex.map { case ((b, p), i) =>
        s"${polyPartSql(b, p)} AS p$i"
      }.mkString(",\n    ")
      val hashExpr = parts.indices.map(i => s"p$i * ${1L << (i * 16)}")
        .mkString(" + ")
      s"""WITH s AS (
         |  SELECT doc_id, lang, n_chars,
         |    'wsamp42|' || doc_id::VARCHAR AS t
         |  FROM documents),
         |ph AS (
         |  SELECT doc_id, lang, n_chars,
         |    $partCols
         |  FROM s),
         |h AS (SELECT doc_id, lang, n_chars, $hashExpr AS h FROM ph),
         |kx AS (
         |  SELECT doc_id, lang, n_chars,
         |    ln(((h % 1000000007) + 1)::DOUBLE / 1000000008.0) / n_chars AS key
         |  FROM h),
         |r AS (
         |  SELECT lang, doc_id, n_chars, key,
         |    row_number() OVER (PARTITION BY lang
         |                       ORDER BY key DESC, doc_id) AS rank
         |  FROM kx)
         |SELECT lang, doc_id, n_chars, round(key, 6) AS key, rank
         |FROM r WHERE rank <= 5
         |ORDER BY lang, rank""".stripMargin
    },

    // posexplode is 0-based; DuckDB's generate_subscripts/unnest
    // ordinality is 1-based — shift to match.
    "q90_embed_stats" ->
      """WITH x AS (
        |  SELECT i - 1 AS pos, e[i]::DOUBLE AS x
        |  FROM (SELECT embedding AS e FROM embeddings),
        |       LATERAL unnest(generate_series(1, len(e))) AS q(i))
        |SELECT pos, round(avg(x), 6) AS mean,
        |       round(stddev_pop(x), 6) AS std
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin)

  /** Replays BpeTrain.train round-for-round: per round, adjacent-pair
    * counts over the current segmentation strings, argmax with the
    * (freq desc, pair asc) tie-break, then the literal space-padded
    * replace — the same left-to-right non-overlapping scan Spark's
    * replace does.
    */
  private def bpeOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val p = s"seg${r - 1}"
      s"""pc$r AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(seg, ' ') AS t FROM $p))
         |  GROUP BY pair),
         |top$r AS (SELECT pair, f FROM pc$r ORDER BY f DESC, pair LIMIT 1),
         |seg$r AS (
         |  SELECT word, freq,
         |    trim(replace(' ' || seg || ' ',
         |                 ' ' || t.pair || ' ',
         |                 ' ' || replace(t.pair, ' ', '') || ' ')) AS seg
         |  FROM $p CROSS JOIN top$r t)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"SELECT $r AS rank, pair, replace(pair, ' ', '') AS merged, f AS freq FROM top$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH wf AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |seg0 AS (
       |  SELECT word, freq,
       |    array_to_string(string_split(word, ''), ' ') AS seg
       |  FROM wf),
       |$roundCtes
       |$out
       |ORDER BY rank""".stripMargin
  }
}
