package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.IndexStore

/** Document deduplication for training-data pipelines, four flavors:
  *
  *   - exact (hash-groupBy on raw or normalized text)
  *   - n-gram Jaccard within blocks (exact set similarity, bounded pairs)
  *   - MinHash + LSH banding (sub-quadratic candidate generation at scale)
  *   - SimHash + chunk blocking (Hamming-distance near-dup)
  *
  * Scale design: nothing here ever builds an O(n²) cross product. Exact
  * dedup is one hash aggregation. Jaccard pairs join only within caller-
  * chosen blocks. MinHash/SimHash candidates come from equi-joins on band /
  * chunk keys — plain shuffle joins that partition by key and scale
  * linearly with data + candidate count. Signatures are computed inside
  * whole-stage codegen (array HOFs over xxhash64), no UDFs.
  */
object TextDedup {

  /** Keep the lowest-id row per exact (optionally normalized) text. */
  def exactDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      normalize: Boolean = false): DataFrame = {
    val key = if (normalize) normalizeText(col(textCol)) else col(textCol)
    val keep = df
      .groupBy(key.as("__graft_text_key"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__graft_text_key")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** All pairs (idA < idB) within the same `blockCols` whose distinct
    * word-`n`-gram Jaccard ≥ `threshold`. Exact.
    *
    * Shape: inverted-index join — explode each doc's distinct grams to
    * (id, gram) rows, self-join on the gram (+ block) key, count matches
    * per pair (= |A∩B|), derive |A∪B| = |A|+|B|-|A∩B| from per-doc gram
    * counts. Cost is Σ_gram (docs-per-gram)², not (docs-per-block)² — the
    * pairwise-array formulation was measured minutes-slow at 5k docs while
    * this runs in seconds, and only index-sharing docs ever meet.
    * Skew note for 100 TB: a stop-gram appearing in most docs makes its
    * posting list — and this join — quadratic in that gram's document
    * frequency. `maxGramDf` is the guardrail: grams seen in more than
    * `maxGramDf` docs (within a block) are dropped BEFORE the self-join,
    * bounding per-gram join cost at maxGramDf². The result is then exact
    * Jaccard over the DF-FILTERED gram space (a documented contract
    * change: a ubiquitous gram carries ~no pair-discriminating signal, so
    * high-threshold results are unaffected in practice, but scores can
    * shift; pass None to keep unfiltered semantics). Docs whose every
    * gram is dropped leave the filtered space and pair with nothing.
    * AQE skew-join splitting still handles moderate skew below the cap.
    * For unblocked corpora at high thresholds prefer `minHashLshPairs`.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      blockCols: Seq[String],
      maxGramDf: Option[Long] = None): DataFrame = {
    val grams = df.select(
      (col(idCol) +: blockCols.map(col)) :+ wordNGrams(col(textCol), n).as("__grams"): _*)
    val posting0 = grams.select(
      (col(idCol) +: blockCols.map(col)) :+ explode(col("__grams")).as("__gram"): _*)
    val posting = maxGramDf match {
      case Some(cap) =>
        // df per (gram, block) via a window count — partitioned on the
        // same keys the self-join shuffles on, so the exchange is reused
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((col("__gram") +: blockCols.map(col)): _*)
        posting0
          .withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= cap)
          .drop("__df")
      case None => posting0
    }
    // per-doc gram counts over the SAME (possibly df-filtered) gram space
    // the intersection counts, so |A∪B| = |A|+|B|-|A∩B| stays consistent
    val sizes = posting.groupBy(col(idCol).as("__sid"))
      .agg(count(lit(1)).as("__sz"))
    val a = posting.as("a")
    val b = posting.as("b")
    val joinKeys = (col("a.__gram") === col("b.__gram")) +:
      blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
    val inter = a.join(b, joinKeys.reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.__sid"))
      .join(sizes.as("sb"), col("id_b") === col("sb.__sid"))
      .withColumn("__j", col("__inter").cast("double") /
        (col("sa.__sz") + col("sb.__sz") - col("__inter")))
      .filter(col("__j") >= threshold) // filter BEFORE rounding (oracle parity)
      .select(col("id_a"), col("id_b"), round(col("__j"), 4).as("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    * MOSS algorithm): hash every word k-gram, slide a window of `w`
    * consecutive gram hashes, keep each window's MINIMUM — the selected
    * set is a position-robust document sketch with the winnowing
    * guarantee (any shared run of ≥ w+k−1 tokens contributes at least
    * one shared fingerprint), unlike MinHash which sketches the global
    * bag and blurs local structure. Documents with fewer than `w` grams
    * (but ≥ k tokens) keep the single global minimum; shorter ones
    * fingerprint empty.
    *
    * Gram hashing is [[graft.functions.TextFunctions.polyHash64]], the
    * SQL-replayable hash, so an external engine re-derives the exact
    * selected set (the q28 SimHash precedent). Both array passes bind
    * their input through `bindArray` — the token and hash arrays
    * materialize once per row; nothing re-evaluates per window.
    */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column = {
    require(k >= 1, s"winnowing: gram size k must be ≥ 1, got $k")
    require(w >= 1, s"winnowing: window w must be ≥ 1, got $w")
    bindArray(filter(tokens(text), t => length(t) > 0)) { toks =>
      bindArray(
        when(size(toks) < k, array().cast("array<bigint>"))
          .otherwise(transform(sequence(lit(0), size(toks) - k),
            i => polyHash64(concat_ws(" ", slice(toks, i + 1, lit(k))))))) { hs =>
        when(size(hs) === 0, array().cast("array<bigint>"))
          .when(size(hs) < w, array(array_min(hs)))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(hs) - w),
            j => array_min(slice(hs, j + 1, lit(w))))))
      }
    }
  }

  /** All pairs (idA < idB) sharing ≥ `minShared` winnowing fingerprints —
    * local-overlap near-dup detection (quotes, boilerplate blocks, copied
    * passages) at inverted-index cost: explode the per-doc sketch, one
    * equi-join on the fingerprint, count per pair. `maxFpDf` drops
    * degenerate fingerprints hotter than the cap before the self-join
    * (the [[ngramJaccardPairs]] stop-gram guard — a boilerplate
    * fingerprint shared by everything would otherwise quadratically
    * dominate); sketches are ~|tokens|/((w+1)/2) hashes, so posting size
    * is a fraction of the corpus token count.
    */
  def winnowingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Long = 2,
      maxFpDf: Option[Long] = None): DataFrame = {
    require(minShared >= 1, s"winnowing: minShared must be ≥ 1, got $minShared")
    val posting0 = df
      .select(col(idCol),
        explode(winnowingFingerprints(col(textCol), k, w)).as("__fp"))
    val posting = maxFpDf match {
      case Some(cap) =>
        val wdf = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
        posting0.withColumn("__df", count(lit(1)).over(wdf))
          .filter(col("__df") <= cap).drop("__df")
      case None => posting0
    }
    posting.as("a")
      .join(posting.as("b"),
        col("a.__fp") === col("b.__fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Persist a winnowing fingerprint index over a history corpus: the
    * (fp, id) posting list as one [[IndexStore]] version — the
    * local-overlap twin of [[minHashIndexSave]], with k/w pinned in the
    * version header so probes can never silently mix sketch parameters.
    */
  def winnowingIndexSave(
      history: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 3, w: Int = 4): Unit = {
    IndexStore.save(history.sparkSession, dir, "winnowingIndexSave",
        Map("k" -> k.toString, "w" -> w.toString))(
      winnowingPosting(history, idCol, textCol, k, w))
    ()
  }

  private def winnowingPosting(
      docs: DataFrame, idCol: String, textCol: String, k: Int, w: Int): IndexStore.Artifact =
    IndexStore.parquet("posting", docs.select(col(idCol).as("hist_id"),
      explode(winnowingFingerprints(col(textCol), k, w)).as("fp")))

  private def winnowingParams(head: IndexStore.Head): (Int, Int) =
    (head("k").toInt, head("w").toInt)

  /** Probe a batch against a [[winnowingIndexSave]]d history: batch docs
    * sharing ≥ `minShared` selected fingerprints with ANY history doc —
    * (batch id, hist_id, n_shared). The 100 TB shape: the history is
    * never re-sketched and never shuffles as text — only its posting
    * list joins the batch-bounded fingerprint set on an 8-byte key.
    */
  /** Append NEW documents' selected fingerprints to a
    * [[winnowingIndexSave]]d posting list — the incremental maintenance
    * path, symmetric with [[minHashIndexAppend]]: (k, w) are READ from
    * the pinned params so appended rows provably sketch with the build's
    * window. At-least-once replays may duplicate posting rows; the probe
    * distinct()s (hist_id, fp) before counting, so `n_shared` is
    * insensitive to them (same discipline as [[minHashIndexAppend]] —
    * a periodic offline compaction can shrink the index).
    */
  def winnowingIndexAppend(
      docs: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    IndexStore.update(docs.sparkSession, dir, "winnowingIndexAppend") { head =>
      val (k, w) = winnowingParams(head)
      IndexStore.Update(append = Seq(winnowingPosting(docs, idCol, textCol, k, w)))
    }
    ()
  }

  def winnowingProbeHistory(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      minShared: Long = 2): DataFrame = {
    val spark = batch.sparkSession
    val head = IndexStore.head(spark, dir)
    val (k, w) = winnowingParams(head)
    batch
      .select(col(idCol),
        explode(winnowingFingerprints(col(textCol), k, w)).as("fp"))
      // (hist_id, fp) is naturally unique (the sketch is array_distinct'd
      // per doc), so this distinct() is a no-op on a clean index — it is
      // the at-least-once-replay guard: a duplicated [[winnowingIndexAppend]]
      // must not double-count n_shared (the same membership discipline as
      // minHashProbeHistory's distinct()'d candidate set).
      .join(head.read(spark, "posting").distinct(), Seq("fp"))
      .groupBy(col(idCol), col("hist_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** All pairs (idA < idB) within the same `blockCols` whose Levenshtein
    * distance over the normalized (lowercased) length-`prefixLen` text
    * prefix is ≤ `maxDist` — the exact fuzzy tier below the fingerprint
    * methods (MinHash/SimHash), for catching small edits the signature
    * methods blur over.
    *
    * Guardrail: edit distance has no sub-quadratic index, so the join is
    * all-pairs WITHIN a block and one hot block at 100× scale silently
    * becomes the whole job — and each comparison is O(prefixLen²), far
    * pricier than a cosine. The call fails fast (one linear
    * count-by-block probe at plan-build time) when any block exceeds
    * `maxBlockRows`, naming the offender and pointing at the signature
    * operators; raise the cap explicitly to accept the cost. A cheap
    * necessary condition — |len(a) − len(b)| ≤ maxDist on the prefixes —
    * is folded into the join predicate so non-candidates are discarded
    * before the levenshtein evaluates.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      blockCols: Seq[String] = Nil,
      prefixLen: Int = 30,
      maxBlockRows: Long = 100000L): DataFrame = {
    BlockGuard.check("editDistancePairs", df, blockCols, maxBlockRows,
      "minHashLshPairs/simHashPairs")
    val proj = df.select((col(idCol) +: blockCols.map(col)) :+
      substring(lower(col(textCol)), 1, prefixLen).as("__prefix"): _*)
    val a = proj.as("a")
    val b = proj.as("b")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col(s"a.$idCol") < col(s"b.$idCol"))(_ && _) &&
      abs(length(col("a.__prefix")) - length(col("b.__prefix"))) <= maxDist
    a.join(b, cond)
      .withColumn("dist", levenshtein(col("a.__prefix"), col("b.__prefix")))
      .filter(col("dist") <= maxDist)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("dist"))
  }

  /** Incremental exact dedup for a continuously-ingested corpus: dedup
    * the new batch against itself (keep lowest id per normalized
    * fingerprint) AND against the persistent fingerprint `store` (one
    * `fp` long column — ~8 bytes/doc, billions of rows stay joinable).
    * Returns (novel rows to append to the corpus, their fingerprints to
    * append to the store). Both joins are fp-key shuffles: linear,
    * broadcastable when the batch is small relative to the store since
    * the batch side can be the build side of either join.
    */
  def incrementalExactDedup(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: DataFrame): (DataFrame, DataFrame) = {
    val fpCol = store.columns.head
    val withFp = batch.withColumn("__fp", normalizedFingerprint(col(textCol)))
    val keepIds = withFp
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .join(store, col("__fp") === col(fpCol), "left_anti")
      .select(col(idCol))
    val novel = withFp.join(keepIds, Seq(idCol), "left_semi")
    (novel.drop("__fp"),
      novel.select(col("__fp").as(fpCol)).distinct())
  }

  // ---- Bloom-guarded history dedup ---------------------------------------

  /** Serialize a Bloom filter over the history fingerprint `store` (one
    * long `fp` column, as maintained by [[incrementalExactDedup]]). Built
    * ONCE per store version by a distributed, mergeable aggregate
    * ([[BloomJoin.buildFilter]] — Spark's native codegen'd
    * BloomFilterAggregate); the result is numBits/8 bytes of driver
    * state (~1.2 MB per million docs at 1% fpp), persistable beside the
    * store and shipped to executors as a plan literal.
    */
  def historyBloom(store: DataFrame, expectedItems: Long): Array[Byte] =
    BloomJoin.buildFilter(store, store.columns.head, expectedItems)

  /** The pure Bloom tier (the BFF / Bloom-filter-dedup shape used by
    * large crawl pipelines): keep only batch rows whose normalized
    * fingerprint the history Bloom filter has NEVER seen. Map-only — zero
    * shuffles, zero history access at apply time. Drops every true
    * duplicate (Bloom filters have no false negatives) plus ~fpp of the
    * novel rows (false positives). The 100 TB "dedup a new crawl on the
    * map side" path when an fpp-rate over-drop is acceptable; for exact
    * semantics use [[dedupAgainstHistoryBloom]]. Note: batch-INTERNAL
    * duplicates are untouched (the filter is frozen history state) —
    * compose with [[exactDedup]] for within-batch dedup.
    */
  def novelByBloom(
      batch: DataFrame, textCol: String, bloomBytes: Array[Byte]): DataFrame =
    batch.filter(
      !BloomJoin.mightContain(bloomBytes, normalizedFingerprint(col(textCol))))

  /** Bloom-guarded EXACT dedup of a new batch against a persisted corpus
    * history — identical results to [[incrementalExactDedup]]
    * (spec-pinned), at the 100 TB plan shape:
    *
    *   1. map-only probe: each batch fingerprint probes the
    *      [[historyBloom]] filter inside the scan's filter stage.
    *      Bloom-NEGATIVE rows are definitely novel (no false negatives)
    *      and never reach the history at all.
    *   2. exact confirm: only the bloom-positive survivors (true dups +
    *      ~fpp·batch false positives) are checked against the store. That
    *      candidate set is batch-bounded, so it BROADCASTS: the store is
    *      scanned once with a broadcast semi-probe and the confirmed-seen
    *      set (≤ candidates) broadcasts back — the history itself never
    *      shuffles, which is the whole point when the store is 10⁹+ rows
    *      and the batch is a day's crawl.
    *
    * The Bloom filter only REROUTES rows between the map-only and the
    * confirmed path; membership is always decided exactly.
    *
    * @return (novel rows to append to the corpus, their fingerprints to
    *         append to the store) — the [[incrementalExactDedup]] contract.
    */
  def dedupAgainstHistoryBloom(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      store: DataFrame,
      bloomBytes: Array[Byte]): (DataFrame, DataFrame) = {
    val fpCol = store.columns.head
    val withFp = batch.withColumn("__fp", normalizedFingerprint(col(textCol)))
    // within-batch keep-first, same as incrementalExactDedup
    val keep = withFp.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    val probe = BloomJoin.mightContain(bloomBytes, col("__fp"))
    val candidates = keep.filter(probe)
    val seen = store.join(
      broadcast(candidates.select(col("__fp").as(fpCol)).distinct()),
      Seq(fpCol), "left_semi")
    // ONE pass decides novelty: anti-join the whole keep-set against the
    // broadcast confirmed-seen set. Bloom-NEGATIVE rows cannot be in
    // `seen` (seen ⊆ candidates = bloom-positives — this holds even for
    // a stale filter), so the anti-join admits exactly
    // definite-novel ∪ confirmed-novel. The previous
    // definite ∪ confirmed union re-evaluated the within-batch keep-first
    // aggregation once per branch (3× with the seen subtree); the store
    // still never shuffles — the probe set and the seen set both
    // broadcast (guide §2.4).
    val novelIds = keep.join(
      broadcast(seen.select(col(fpCol).as("__fp"))), Seq("__fp"), "left_anti")
      .select(col(idCol))
    val novel = withFp.join(novelIds, Seq(idCol), "left_semi")
    (novel.drop("__fp"),
      novel.select(col("__fp").as(fpCol)).distinct())
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** 2^31-1: permutation hashes stay in [0, p); a*x+b never overflows a
    * 64-bit long because both factors are < 2^31.
    */
  private val P = 2147483647L

  /** The (a_i, b_i) permutation constants for `numHashes` minhash
    * permutations at `seed` — exposed package-wide so the DuckDB oracle
    * can inline the SAME literals and re-derive signatures end-to-end
    * (the q28 SimHash replay precedent).
    */
  private[graft] def perms(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((1L + rnd.nextInt((P - 1).toInt).toLong,
      rnd.nextInt(P.toInt).toLong))
  }

  private[graft] val MinHashP: Long = P

  /** Base gram hash for minhash signatures, selected by the name PINNED
    * in a persisted index's meta: `xxh64` (default — full 64-bit mixing)
    * or `poly64` ([[graft.functions.TextFunctions.polyHash64]], the
    * SQL-replayable hash, so an external engine can recompute the exact
    * signatures — what makes the signature-estimate tier independently
    * checkable). Both reduce into [0, p).
    */
  private def baseGramHash(kind: String, gram: Column): Column = kind match {
    case "xxh64"  => pmod(xxhash64(gram), lit(P))
    case "poly64" => pmod(polyHash64(gram), lit(P))
    case other => throw new IllegalArgumentException(
      s"minhash: unknown base hash '$other' (expected xxh64 or poly64)")
  }

  /** MinHash signatures as a DataFrame: `idCol`, `sig` array<bigint> of
    * length `numHashes`. For each permutation i, min over the doc's n-gram
    * base hashes of (a_i*x + b_i) mod p; base hash = xxhash64 of the gram
    * reduced into [0, p).
    *
    * Shape: explode grams to rows, hash each once, then ONE hash
    * aggregation computing all `numHashes` mins — everything stays in
    * whole-stage codegen and the gram/tokenize work runs exactly once per
    * document (a lambda-nested formulation re-evaluates the token split
    * per array element ×numHashes — O(tokens²·k) per doc — and falls out
    * of codegen; measured as a multi-minute stall at 500 docs).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      seed: Long = 42L,
      baseHash: String = "xxh64"): DataFrame = {
    val gramRows = df
      .select(col(idCol), explode(wordNGrams(col(textCol), n)).as("__gram"))
      .withColumn("__h", baseGramHash(baseHash, col("__gram")))
    val minCols = perms(numHashes, seed).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__h") + lit(b)) % P).as(s"__m$i")
    }
    gramRows
      .groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Candidate pairs from LSH banding: split the signature into `bands`
    * bands of `rowsPerBand`, bucket on (band index, band content), and emit
    * each distinct pair sharing ≥1 bucket. P(candidate) = 1-(1-j^r)^b —
    * with 8×4 over j≥0.9 the miss probability is ~1e-8.
    *
    * Plan shape: explode to one row per (doc, band) → shuffle on the band
    * key → per-bucket self-join → distinct pairs. No broadcast of the
    * corpus, no driver collect — scales to arbitrary corpus size as long
    * as individual buckets stay small (they do unless the corpus is mostly
    * one duplicate cluster; salt the band key if so).
    */
  /** One row per (doc, band): `idCol`, `sig` (kept for signature-level
    * estimates), `band`, `key` (the band's slice rendered as a join key).
    */
  private def bandRows(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, seed: Long,
      baseHash: String = "xxh64"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    minHashSignatures(df, idCol, textCol, n, numHashes, seed, baseHash).select(
      col(idCol), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
            .as("key")))).as("__b"))
      .select(col(idCol), col("sig"), col("__b.band"), col("__b.key"))
  }

  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val banded = bandRows(df, idCol, textCol, n, numHashes, bands, seed)
      .drop("sig")
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH candidates verified with exact n-gram Jaccard — the
    * standard near-dup pipeline (candidates are few, so the verify join
    * touches only candidate rows).
    */
  def minHashDedupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val cands = minHashLshPairs(df, idCol, textCol, n, numHashes, bands)
    val grams = df.select(col(idCol), wordNGrams(col(textCol), n).as("__grams"))
    cands
      .join(grams.as("ga"), col("id_a") === col(s"ga.$idCol"))
      .join(grams.as("gb"), col("id_b") === col(s"gb.$idCol"))
      .withColumn("__j", jaccard(col("ga.__grams"), col("gb.__grams")))
      .filter(col("__j") >= threshold) // filter BEFORE rounding (oracle parity)
      .select(col("id_a"), col("id_b"), round(col("__j"), 4).as("jaccard"))
  }

  // ---- Persisted MinHash-LSH history index --------------------------------

  /** Persist a MinHash-LSH index over a history corpus so NEW batches can
    * be near-dup-checked against it without ever re-minhashing the
    * history — the near-dup twin of the exact-dedup fingerprint store:
    * `bands` (id, band, key) bucket rows for the candidate equi-join and
    * `sigs` (id, sig) for signature-level similarity estimates, published
    * as one [[IndexStore]] version whose header pins (n, numHashes,
    * bands, seed, baseHash) so probes provably hash with the SAME
    * permutations. One corpus pass at build; per-batch
    * probe cost is O(batch) signatures + one equi-join against the
    * bucket table. At serving scale, bucket `bands` by `key`
    * ([[graft.sources.Bucketing]]) to make the probe join exchange-free
    * on the index side.
    */
  def minHashIndexSave(
      history: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L,
      baseHash: String = "xxh64"): Unit = {
    val rows = bandRows(history, idCol, textCol, n, numHashes, bands, seed,
      baseHash)
    rows.cache()
    try {
      IndexStore.save(history.sparkSession, dir, "minHashIndexSave", Map(
          "n" -> n.toString, "num_hashes" -> numHashes.toString, "bands" -> bands.toString,
          "seed" -> seed.toString, "base_hash" -> baseHash))(
        minHashArtifacts(rows, idCol): _*)
      ()
    } finally { rows.unpersist(); () }
  }

  private def minHashArtifacts(rows: DataFrame, idCol: String): Seq[IndexStore.Artifact] = Seq(
    IndexStore.parquet("bands", rows.select(col(idCol).as("hist_id"), col("band"), col("key"))),
    IndexStore.parquet("sigs", rows.select(col(idCol).as("hist_id"), col("sig")).distinct()))

  /** The pinned parameters of a persisted MinHash index:
    * (n, numHashes, bands, seed, baseHash).
    */
  private def minHashParams(head: IndexStore.Head): (Int, Int, Int, Long, String) =
    (head("n").toInt, head("num_hashes").toInt, head("bands").toInt, head("seed").toLong,
      head("base_hash"))

  /** Append NEW documents' band/sig rows to a [[minHashIndexSave]]d
    * index — the maintenance path a streaming ingest needs: parameters
    * are READ from the pinned header (never re-chosen), so later probes
    * provably hash with the same permutations as the original build.
    * Replays may duplicate rows; the probe's candidate set is
    * `distinct()`d so membership answers are insensitive to them (the
    * [[graft.streaming.StreamingIngest.fingerprintStore]] discipline —
    * a periodic offline compaction can shrink the index).
    */
  def minHashIndexAppend(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String): Unit = {
    IndexStore.update(docs.sparkSession, dir, "minHashIndexAppend") { head =>
      val (n, numHashes, bandCount, seed, baseHash) = minHashParams(head)
      val rows = bandRows(docs, idCol, textCol, n, numHashes, bandCount, seed,
        baseHash).cache()
      IndexStore.Update(append = minHashArtifacts(rows, idCol), cached = Seq(rows))
    }
    ()
  }

  /** Near-dup pairs between a new `batch` and a [[minHashIndexSave]]d
    * history (CROSS pairs only — compose with [[minHashDedupPairs]] for
    * within-batch pairs). The batch is signed with the index's own
    * parameters (read from its header), candidates come from the band-bucket
    * equi-join, and similarity is:
    *
    *   - EXACT n-gram Jaccard when `verifyAgainst` supplies the history
    *     (id, text) frame — the verify join touches only candidate rows,
    *     and the result equals brute-force cross Jaccard ≥ threshold up
    *     to the LSH miss probability (1-j^r)^b;
    *   - otherwise the SIGNATURE estimate (fraction of agreeing minhash
    *     positions, an unbiased Jaccard estimator) from the persisted
    *     sigs — no corpus access at all, for when the history text is
    *     cold storage.
    *
    * @return (batch_id, hist_id, jaccard) with jaccard rounded to 4
    *         digits, threshold-filtered before rounding.
    */
  def minHashProbeHistory(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      threshold: Double,
      verifyAgainst: Option[(DataFrame, String, String)] = None): DataFrame = {
    val spark = batch.sparkSession
    val head = IndexStore.head(spark, dir)
    val (n, numHashes, bandCount, seed, baseHash) = minHashParams(head)
    val probeRows = bandRows(batch, idCol, textCol, n, numHashes, bandCount,
      seed, baseHash)
    val cands = probeRows
      .join(head.read(spark, "bands"), Seq("band", "key"))
      .select(col(idCol).as("batch_id"), col("hist_id"))
      .distinct()
    verifyAgainst match {
      case Some((hist, hid, htext)) =>
        val bg = batch.select(col(idCol).as("batch_id"),
          wordNGrams(col(textCol), n).as("__ga"))
        val hg = hist.select(col(hid).as("hist_id"),
          wordNGrams(col(htext), n).as("__gb"))
        cands.join(bg, Seq("batch_id")).join(hg, Seq("hist_id"))
          .withColumn("__j", jaccard(col("__ga"), col("__gb")))
          .filter(col("__j") >= threshold)
          .select(col("batch_id"), col("hist_id"),
            round(col("__j"), 4).as("jaccard"))
      case None =>
        val bs = probeRows
          .select(col(idCol).as("batch_id"), col("sig").as("__sb")).distinct()
        val hs = head.read(spark, "sigs")
          .select(col("hist_id"), col("sig").as("__sh"))
        cands.join(bs, Seq("batch_id")).join(hs, Seq("hist_id"))
          .withColumn("__j",
            aggregate(zip_with(col("__sb"), col("__sh"), (a, b) =>
              when(a === b, 1.0).otherwise(0.0)),
              lit(0.0), (acc, x) => acc + x) / lit(numHashes.toDouble))
          .filter(col("__j") >= threshold)
          .select(col("batch_id"), col("hist_id"),
            round(col("__j"), 4).as("jaccard"))
    }
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash per document: per bit j, sum +1/-1 across the doc's
    * token base hashes (duplicates weighted by count), bit set iff the sum
    * is positive. Same explode + single-hash-aggregate shape as MinHash:
    * one codegen'd aggregation with 64 conditional-sum columns, assembled
    * into the signature long afterwards.
    *
    * `baseHash` defaults to xxhash64 (full 64-bit mixing); pass
    * `TextFunctions.polyHash64` when the run must be replayable by an
    * external SQL engine (same pairs semantics, SQL-expressible hash).
    */
  def simHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      baseHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val tokRows = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .withColumn("__h", baseHash(col("__t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$j")
    }
    val sig = (0 until 64).map { j =>
      when(col(s"__b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokRows
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming, blocked on
    * 16-bit signature chunks: two signatures within Hamming distance 3 must
    * agree exactly on ≥1 of the 4 chunks (pigeonhole), so candidates come
    * from 4 equi-join buckets, never a cross product. (maxHamming > 3
    * trades recall; add chunks to restore the guarantee.)
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      baseHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val sigs = simHashes(df, idCol, textCol, baseHash)
      .withColumnRenamed("simhash", "__sim")
    val chunked = sigs.select(col(idCol), col("__sim"),
      explode(expr("transform(sequence(0, 3), c -> named_struct(" +
        "'chunk', c, 'val', (__sim >> (c * 16)) & 65535))")).as("__c"))
      .select(col(idCol), col("__sim"), col("__c.chunk"), col("__c.val"))
    val l = chunked.as("l")
    val r = chunked.as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") && col("l.val") === col("r.val") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        bit_count(col("l.__sim").bitwiseXOR(col("r.__sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink the dedup shuffle
      .distinct()
  }

  /** Benchmark decontamination scores: for every corpus doc, how many of
    * its distinct word-`n`-grams also appear anywhere in `benchmark`
    * (an eval/test set that must not leak into training data), plus the
    * fraction of the doc's grams that are contaminated.
    *
    * Output: (`idCol`, `n_grams`, `n_matched`, `overlap`), one row per
    * corpus doc that has ≥1 gram (docs shorter than `n` tokens produce no
    * grams and no row — they cannot be contaminated at this gram size).
    *
    * Shape (the GPT-3-style n-gram decontamination pass, reframed as two
    * linear scans + one equi-join): explode each corpus doc's distinct
    * grams to (id, gram) rows; distinct the benchmark's gram set once;
    * inner-join on the gram to count hits per doc. Benchmarks are small
    * relative to a 100 TB corpus, so the gram set is broadcast when the
    * optimizer's estimate fits (`Broadcasting.broadcastIfSmall`) — the
    * corpus side then never shuffles for the probe; only the per-doc
    * count aggregations shuffle, keyed by doc id (near-uniform). With an
    * oversized benchmark the probe degrades to a plain shuffle join on
    * the gram key, still linear. No pair generation anywhere: cost is
    * O(corpus grams + benchmark grams), unlike the pairwise dedup ops
    * above.
    */
  def contaminationScores(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      n: Int = 3): DataFrame = {
    val benchGrams = Broadcasting.broadcastIfSmall(
      benchmark
        .select(explode(wordNGrams(col(benchTextCol), n)).as("__graft_gram"))
        .distinct())
    val corpusGrams = corpus
      .select(col(idCol), explode(wordNGrams(col(textCol), n)).as("__graft_gram"))
    val totals = corpusGrams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    // grams are distinct per doc and distinct in the benchmark set, so the
    // inner join yields exactly one row per (doc, contaminated gram)
    val matched = corpusGrams
      .join(benchGrams, "__graft_gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"))
    totals
      .join(matched, Seq(idCol), "left_outer")
      .na.fill(0L, Seq("n_matched"))
      .withColumn("overlap", col("n_matched") / col("n_grams"))
  }

  /** Drop corpus docs whose benchmark n-gram overlap exceeds
    * `maxOverlap` (fraction of the doc's distinct grams) or whose
    * absolute contaminated-gram count exceeds `maxMatchedGrams` (set to
    * bound long docs whose huge gram total dilutes the fraction). Docs
    * shorter than `n` tokens are always kept. Anti-join on the flagged id
    * set — one extra shuffle over [[contaminationScores]], nothing
    * quadratic.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchTextCol: String,
      n: Int = 3,
      maxOverlap: Double = 0.5,
      maxMatchedGrams: Long = Long.MaxValue): DataFrame = {
    val flagged = contaminationScores(corpus, benchmark, idCol, textCol, benchTextCol, n)
      .filter(col("overlap") > maxOverlap || col("n_matched") > maxMatchedGrams)
      .select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
