package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
  * arXiv:2302.03169): pick raw-corpus documents that look like a target
  * domain by scoring each document under a bag-of-words importance ratio
  *
  *   w(d) = Σ_{t ∈ tokens(d)} [ log p_target(t) − log p_raw(t) ]
  *
  * with add-k-smoothed unigram models
  *
  *   p(t) = (c(t) + k) / (N + k·V)
  *
  * estimated from the target corpus (e.g. Wikipedia) and the raw corpus
  * (e.g. the crawl) over the raw corpus' vocabulary V. The paper hashes
  * n-grams into a fixed bucket space; here the "buckets" are xxhash64
  * word fingerprints (effectively collisionless — the [[LmScore]]
  * collision budget applies) and selection is the deterministic top-k by
  * weight rather than Gumbel resampling, so every run — and the DuckDB
  * oracle replaying the STRING formulation — reproduces the same set.
  *
  * Scale shape (the [[LmScore]] fingerprint discipline):
  *   1. both count tables are vocab-bounded (they saturate; corpus size
  *      only raises counts, not rows) and keyed on 8-byte fps — nothing
  *      string-keyed ever shuffles;
  *   2. token totals and V are 1-row aggregates broadcast by cross join;
  *   3. scoring is one fp equi-join (token fps ⋈ the per-term log-ratio
  *      frame) plus one per-doc sum — two shuffles, both long-keyed;
  *   4. top-k lands in TakeOrderedAndProject (engine-side bounded heap),
  *      never a global sort.
  *
  * Only raw-vocabulary terms are ever looked up (scored documents ARE raw
  * documents), so defining V on the raw corpus keeps both models on one
  * event space; target-only terms influence nothing, exactly as in the
  * hashed-feature formulation.
  */
object Dsir {

  private def tokensOf(src: DataFrame, idCol: String, textCol: String) =
    src.select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol), col("w"))

  /** Per-document importance weight: (idCol, n_tokens, weight). Documents
    * with zero tokens are absent (they carry no evidence either way —
    * callers selecting data would drop them regardless).
    */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0, s"Dsir: smoothing k must be positive, got $k")
    val rawToks = tokensOf(raw, idCol, textCol)
      .select(col(idCol), col("w"), xxhash64(col("w")).as("f"))
    val tgtToks = tokensOf(target, idCol, textCol)

    // Vocab-bounded count tables, fp-keyed. Raw totals ride as 1-row
    // aggregates; the per-term log-ratio is computed ONCE per term here
    // (not once per token occurrence at scoring time).
    val rawCounts = rawToks.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val tgtCounts = tgtToks.select(xxhash64(col("w")).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val totals = rawCounts.agg(
      sum(col("cr")).as("nr"), count(lit(1)).as("v"))
      .crossJoin(tgtToks.agg(count(lit(1)).as("nt")))
    val logRatio = rawCounts.join(tgtCounts, Seq("f"), "left")
      .crossJoin(totals)
      .select(col("f"),
        (log((coalesce(col("ct"), lit(0L)) + lit(k)) /
             (col("nt") + lit(k) * col("v"))) -
         log((col("cr") + lit(k)) /
             (col("nr") + lit(k) * col("v")))).as("lr"))

    rawToks.select(col(idCol), col("f"))
      .join(logRatio, Seq("f"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("weight"))
  }

  /** Persist the trained importance model: the per-term log-ratio table
    * (f, lr) — vocab-bounded, fp-keyed, the expensive two-corpus counting
    * pass paid ONCE — as one [[graft.sources.IndexStore]] version. The
    * deployment shape (DSIR §3: estimate the ratio on a sample, score
    * the full raw corpus): train on raw-sample + target once, then
    * [[scoreWithModel]] every incoming shard against the parquet table.
    * A shard term absent from the model contributes 0 (no evidence —
    * matches [[importanceWeights]], which only ever scores raw-vocab
    * terms).
    */
  def trainModel(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      dir: String, k: Double = 0.5): Unit = {
    require(k > 0, s"Dsir: smoothing k must be positive, got $k")
    val rawToks = tokensOf(raw, idCol, textCol)
      .select(xxhash64(col("w")).as("f"))
    val rawCounts = rawToks.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val tgtCounts = tokensOf(target, idCol, textCol)
      .select(xxhash64(col("w")).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val totals = rawCounts.agg(
      sum(col("cr")).as("nr"), count(lit(1)).as("v"))
      .crossJoin(tokensOf(target, idCol, textCol).agg(count(lit(1)).as("nt")))
    graft.sources.IndexStore.save(raw.sparkSession, dir, "trainModel", Map.empty)(
      graft.sources.IndexStore.parquet("termratio", rawCounts.join(tgtCounts, Seq("f"), "left")
        .crossJoin(totals)
        .select(col("f"),
          (log((coalesce(col("ct"), lit(0L)) + lit(k)) /
               (col("nt") + lit(k) * col("v"))) -
           log((col("cr") + lit(k)) /
               (col("nr") + lit(k) * col("v")))).as("lr"))))
    ()
  }

  /** Score documents against a [[trainModel]]-persisted ratio table —
    * identical results to [[importanceWeights]] when `docs` IS the raw
    * training corpus (spec-pinned). One fp equi-join + one per-doc sum;
    * the corpus-counting pass never re-runs.
    */
  def scoreWithModel(
      spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokensOf(docs, idCol, textCol)
      .select(col(idCol), xxhash64(col("w")).as("f"))
      .join(graft.sources.IndexStore.head(spark, dir).read(spark, "termratio"), Seq("f"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("weight"))

  /** The selection step: top `topK` raw documents by importance weight,
    * ranked on the ROUNDED (4-digit) weight with an id tiebreak so the
    * chosen set is deterministic and replayable across engines. Output:
    * (idCol, n_tokens, weight, rank).
    */
  def selectTop(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int,
      k: Double = 0.5): DataFrame = {
    require(topK > 0, s"Dsir: topK must be positive, got $topK")
    val scored = importanceWeights(raw, target, idCol, textCol, k)
      .select(col(idCol), col("n_tokens"),
        round(col("weight"), 4).as("weight"))
      // TakeOrderedAndProject: bounded per-partition heaps, no global sort
      .orderBy(col("weight").desc, col(idCol)).limit(topK)
    // rank assignment runs over the already-reduced topK rows only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
  }
}
