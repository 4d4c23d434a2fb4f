package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, PartitionedFileUtil, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.TextFunctions.polyHash64
import graft.sources.IndexStore

/** Incremental, mergeable per-column NDV statistics — HyperLogLog register
  * sketches a SQL engine can replay exactly.
  *
  * The reference's catalog layer gets table statistics by rescanning
  * (Glue crawler after every load); at 100 TB a full-table NDV pass per
  * commit is the single most expensive piece of metadata maintenance a
  * lakehouse does. This operator is the incremental-ANALYZE path:
  *
  *   - `sketch` computes per-column HLL registers in ONE scan for all
  *     requested columns (explode of a per-row struct array — no
  *     per-column rescans), map-side combinable by Catalyst (partial
  *     `max` per register before the exchange);
  *   - `save`/`append` persist registers beside the table, each write
  *     one [[graft.sources.IndexStore]] version; append
  *     sketches ONLY the new rows and appends delta registers — history
  *     is never rescanned, and because the register merge is `max`
  *     (idempotent + commutative + associative), an at-least-once
  *     replayed append CANNOT corrupt the sketch — the same discipline
  *     the fingerprint/minhash index stores document, here for free;
  *   - `estimate` folds registers to (zeros, scaled register sum, NDV
  *     estimate) per column.
  *
  * Why not Spark's `approx_count_distinct` (HLL++)? Its sketch hashes
  * with engine-internal xxhash and is not externally replayable
  * (ParityQueries q59's documented contract gap). Here the hash chain is
  * poly64 → two cross-seeded affine→square→affine chains mod 2^31−1,
  * one for the bucket and one for the rank pattern (pure integer
  * arithmetic, every step exact in DuckDB SQL), and the estimator's
  * float work is confined to one literal-seeded division and one `ln` —
  * so the ORACLE recomputes the registers AND the estimate bit-for-bit
  * from the raw table. Estimator is classic Flajolet HLL
  * (alpha_m·m²/Σ2^−M_j with linear counting below 2.5·m).
  *
  * Register sum is kept EXACT: Σ 2^−M_j is scaled by 2^MaxRank so every
  * term is an integer ≤ 2^32 — the BIGINT sum is order-independent, so
  * Spark's nondeterministic aggregation order cannot move a double ulp.
  */
object StatsSketch {

  /** Default precision: 2^12 = 4096 registers/column (~1.6% rel. error). */
  val DefaultPrecision = 12

  private val P = 2147483647L // 2^31-1: a·h+b stays under 2^62 (TextDedup.MinHashP)

  /** Permutation constants at `seed` — same draw as the minhash family so
    * oracles inline identical literals.
    */
  private[graft] def hllPerms(seed: Long): ((Long, Long), (Long, Long)) = {
    val ps = TextDedup.perms(2, seed)
    (ps.head, ps(1))
  }

  /** Max register rank: the rank chain yields a 31-bit uniform value, so
    * rank (1-based position of the first set bit from the top) tops out
    * at 32 when the value is 0. Register ceiling alpha·m·2^32 ≈ 10^13
    * NDV at p = 12 — headroom for any realistic column.
    */
  val MaxRank: Int = 32

  /** (bucket, rank) for one value column. Null value → null rank (dropped
    * by the register aggregation, matching NDV-of-non-null semantics).
    *
    * Two cross-seeded affine→SQUARE→affine chains over the poly64 value
    * hash — one for the bucket, one for the rank pattern. The squaring
    * is load-bearing: poly64 of short strings (numeric keys!) lives on a
    * lattice, and a purely affine map preserves it — measured as ~30%
    * register under-fill (NDV underestimated 3×) before the non-linear
    * step; with it, fill matches the uniform expectation across seeds.
    * Every step is exact BIGINT arithmetic (all factors < 2^31, products
    * < 2^62), so an external SQL engine replays it verbatim.
    */
  private def bucketRank(value: Column, p: Int, seed: Long): (Column, Column) = {
    val ((a1, b1), (a2, b2)) = hllPerms(seed)
    val m = 1 << p
    // poly64 never sets bit 63 (top part's prime < 2^15), so plain % is
    // already a non-negative mod
    val h = polyHash64(value.cast(StringType)) % P
    val v1 = (lit(a1) * h + b1) % P
    val v2 = (lit(a2) * h + b2) % P
    val y1 = (lit(a2) * ((v1 * v1) % P) + b2) % P
    val y2 = (lit(a1) * ((v2 * v2) % P) + b1) % P
    val rank = when(y2 === 0, lit(MaxRank))
      .otherwise(lit(MaxRank) - length(bin(y2)))
    (y1 % m, rank)
  }

  /** Per-column HLL registers for `cols` in ONE scan of `df`: long-format
    * `(column string, bucket int, rank int)`, only non-empty buckets.
    *
    * Values hash through their `CAST AS STRING` rendering. For exact
    * types (integers, strings, dates) that rendering is engine-portable;
    * float/double columns render differently across engines, so sketch
    * NDV on exact types or pre-format floats into a string column if an
    * external replay must agree.
    */
  def sketch(df: DataFrame, cols: Seq[String],
      p: Int = DefaultPrecision, seed: Long = 4242L): DataFrame = {
    require(cols.nonEmpty, "statsSketch: no columns requested")
    require(p >= 7 && p <= 18, s"statsSketch: precision $p outside [7, 18]")
    // The hash chains are per-row CPU (two affine-square chains per
    // column): an under-partitioned input — a small table written as a
    // handful of byte-sized files — serializes them onto one core. Fan
    // the PROJECTED columns out to the session parallelism first (the
    // [[graft.queries.Tables]] fanOut discipline): on a real multi-file
    // table the scan already yields >= parallelism splits and this is a
    // no-op; when it fires, the extra exchange moves only the sketched
    // columns of an input that is small by construction.
    val dp = df.sparkSession.sparkContext.defaultParallelism
    val projected = df.select(cols.map(col): _*)
    val src =
      if (partitionCount(projected.queryExecution.executedPlan) < dp)
        projected.repartition(dp)
      else projected
    val entries = cols.map { c =>
      val (bucket, rank) = bucketRank(col(c), p, seed)
      struct(lit(c).as("column"), bucket.cast("int").as("bucket"),
        rank.cast("int").as("rank"))
    }
    src.select(explode(array(entries: _*)).as("e"))
      .select(col("e.column"), col("e.bucket"), col("e.rank"))
      .filter(col("rank").isNotNull)
      .groupBy(col("column"), col("bucket"))
      .agg(max(col("rank")).as("rank"))
  }

  /** Output partitions of a physical plan, read off the plan itself: its
    * known output partitioning (a shuffle, a bucketed scan), or else the
    * splits Spark cuts from its file scans' listings, summed over its
    * inputs — so no RDD, and no generated code, is built to read one
    * number.
    */
  private def partitionCount(plan: SparkPlan): Int = plan match {
    case _ if plan.outputPartitioning.numPartitions > 0 => plan.outputPartitioning.numPartitions
    case s: FileSourceScanExec => fileSplits(s)
    case m: InMemoryTableScanExec => partitionCount(m.relation.cachedPlan)
    case _ => math.max(1, plan.children.map(partitionCount).sum)
  }

  /** The read tasks of a file scan, sized as `FileSourceScanExec` sizes
    * them: each file cut at the max split size, then packed. */
  private def fileSplits(scan: FileSourceScanExec): Int = {
    val rel = scan.relation
    val listing = scan.selectedPartitions
    val maxSplit = FilePartition.maxSplitBytes(rel.sparkSession, listing)
    val splits = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        rel.fileFormat.isSplitable(rel.sparkSession, rel.options, f.getPath),
        maxSplit, p.values))
    }.toSeq.sortBy(-_.length)
    FilePartition.getFilePartitions(rel.sparkSession, splits, maxSplit).size
  }

  /** Quick NDV estimate of the (composite) key `cols` of `df`: ONE
    * column-pruned scan with a register-bounded (≤ m rows) fold — the
    * probe a cost-based physical decision can afford to pay on the SMALL
    * side of a join it is about to plan (see
    * [[graft.sources.ParquetTable.planMergeStats]]). Multi-column keys
    * hash their U+0001-joined string rendering (an estimate, not an
    * identity — good enough for a cardinality decision).
    */
  def ndvEstimate(df: DataFrame, cols: Seq[String],
      p: Int = DefaultPrecision, seed: Long = 4242L): Double = {
    require(cols.nonEmpty, "ndvEstimate: no key columns")
    val key =
      if (cols.size == 1) col(cols.head).cast(StringType)
      else concat_ws("\u0001", cols.map(c => col(c).cast(StringType)): _*)
    estimateFrom(sketch(df.select(key.as("__key")), Seq("__key"), p, seed), p)
      .collect().headOption
      .map(r => r.getDouble(r.fieldIndex("ndv_est"))).getOrElse(0.0)
  }

  /** Pinned sketch parameters plus table-analyze state, committed in the
    * sketch dir's [[IndexStore]] header: `cols` fixes the analyzed column
    * set at build time, `lastVersion` the table version the registers
    * cover (−1 for free-standing sketches), `exact` whether the estimate
    * equals current-table NDV (false once an update or delete has entered
    * an incremental window — registers are max-only, so a retired value
    * cannot leave the sketch; see [[analyzeIncremental]]), and
    * `fullVersion` the version the last FULL [[analyze]] rescanned (−1 for
    * free-standing sketches) — the watermark the histogram tier's
    * staleness guard compares its `built_version` stamp against (see
    * [[graft.sources.PlanStats]]): bins stamped before the last full
    * rescan may describe pre-mutation rows the rescan replaced.
    */
  private final case class Meta(p: Int, seed: Long, cols: Seq[String],
      lastVersion: Long, exact: Boolean, fullVersion: Long) {
    def props: Map[String, String] = Map("p" -> p.toString, "seed" -> seed.toString,
      "base_hash" -> "poly64", "cols" -> cols.mkString(","),
      "last_version" -> lastVersion.toString, "exact" -> exact.toString,
      "full_version" -> fullVersion.toString)
  }

  private def meta(head: IndexStore.Head): Meta =
    Meta(head("p").toInt, head("seed").toLong, head("cols").split(',').toSeq.filter(_.nonEmpty),
      head("last_version").toLong, head("exact").toBoolean, head("full_version").toLong)

  /** One register generation: ≤ m rows per column BY CONSTRUCTION (the
    * groupBy's key space), a scale-independent bound — one file, not one
    * per reduce partition: every estimate/analyze re-read pays the file
    * count (guide §6). repartition(1), NOT coalesce(1): coalesce would
    * collapse the register fold's reduce stage to one task, while this
    * keeps the aggregation parallel and moves only the ≤ m-row result
    * through one extra (model-bounded) exchange.
    */
  private def registers(sketched: DataFrame): IndexStore.Artifact =
    "registers" -> (p => sketched.repartition(1).write.parquet(p))

  /** The analyze-state triple the read path's histogram guard consumes:
    * (exact, version of the last full analyze, covered version).
    */
  final case class Lifecycle(exact: Boolean, fullVersion: Long, lastVersion: Long)

  def lifecycle(spark: SparkSession, dir: String): Lifecycle =
    lifecycle(IndexStore.head(spark, dir))

  private[graft] def lifecycle(head: IndexStore.Head): Lifecycle = {
    val m = meta(head)
    Lifecycle(m.exact, m.fullVersion, m.lastVersion)
  }

  /** Build and persist a sketch: one [[IndexStore]] version holding the
    * `registers` artifact, its header pinning (p, seed, base_hash, cols)
    * so appends provably hash like the build.
    *
    * A save is a full build, so any EXISTING histogram at the dir is
    * dropped from the new version: a free-standing sketch has no version
    * lifecycle, so re-saving is its whole re-baseline — bins built over
    * the previous data would otherwise pass the unstamped guard (−1 ≥ −1)
    * forever and serve a dead distribution beside the fresh counts.
    * Rebuild with [[StatsHistogram.build]] after the save when the tier is
    * wanted.
    */
  def save(df: DataFrame, cols: Seq[String], dir: String,
      p: Int = DefaultPrecision, seed: Long = 4242L): Unit = {
    IndexStore.save(df.sparkSession, dir, "statsSketch.save",
        Meta(p, seed, cols, -1L, exact = true, fullVersion = -1L).props)(
      registers(sketch(df, cols, p, seed)))
    ()
  }

  /** Incremental maintenance: sketch ONLY `newRows` (params read from the
    * pinned header, never re-chosen) and append the delta registers.
    * History is never rescanned; `estimate`'s fold takes `max` per
    * bucket across all appended generations, so a replayed append is a
    * no-op by algebra, not by convention.
    *
    * `cols` must match the pinned column set — a caller silently
    * sketching a different set would leave some columns stale-but-
    * plausible (the streamNearDupIngest restart-params discipline:
    * conflicts are refused, not absorbed).
    */
  def append(newRows: DataFrame, cols: Seq[String], dir: String): Unit = {
    IndexStore.update(newRows.sparkSession, dir, "statsSketch.append") { head =>
      val m = meta(head)
      require(cols == m.cols,
        s"statsSketch append: columns $cols conflict with the pinned " +
          s"column set ${m.cols} at $dir")
      IndexStore.Update(append = Seq(registers(sketch(newRows, cols, m.p, m.seed))))
    }
    ()
  }

  /** Rewrite accumulated append generations back to ≤ m rows per column,
    * as one version that replaces every register generation.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    IndexStore.update(spark, dir, "statsSketch.compact") { head =>
      val folded = head.read(spark, "registers")
        .groupBy(col("column"), col("bucket"))
        .agg(max(col("rank")).as("rank"))
        .collect() // ≤ m rows per column — model-sized by construction
      IndexStore.Update(replace = Seq("registers" -> (p =>
        spark.createDataset(folded.toSeq.map(r => (r.getString(0), r.getInt(1), r.getInt(2))))
          .toDF("column", "bucket", "rank").coalesce(1).write.parquet(p))))
    }
    ()
  }

  /** Fold a register frame to per-column NDV statistics:
    * `(column, m, zeros, s_scaled, ndv_est)` where `s_scaled` is the
    * EXACT integer Σ 2^(maxRank − M_j) over all m registers (empty
    * register: M_j = 0) rendered as a string, and `ndv_est` the HLL
    * estimate rounded to 2 decimals.
    *
    * `allCols` pins the full analyzed column set: a column whose values
    * are ALL NULL produces no register rows at all, and silently
    * vanishing from the statistics is the failure mode this library
    * refuses elsewhere — with the set pinned, such a column reports its
    * true zero row (zeros = m, ndv_est = 0) instead of being absent.
    */
  def estimateFrom(registers: DataFrame, p: Int,
      allCols: Seq[String] = Nil): DataFrame = {
    val m = 1 << p
    val mr = MaxRank
    // every term is a power of two ≤ 2^31 (empty register: 2^32), so the
    // scaled sum stays ≤ m·2^32 < 2^63 — exact integer arithmetic, and
    // order-independent by construction
    val term = expr(s"shiftleft(cast(1 as bigint), $mr - rank)")
    val emptyTerm = 1L << mr
    val foldedBase = registers
      .groupBy(col("column"), col("bucket"))
      .agg(max(col("rank")).as("rank")) // fold append generations
      .groupBy(col("column"))
      .agg(count(lit(1)).as("filled"), sum(term).as("s_filled"))
    val folded = if (allCols.isEmpty) foldedBase else {
      val spark = registers.sparkSession
      import spark.implicits._
      // column-set-sized (a handful of rows) joined broadcast-side; an
      // all-NULL column folds to filled = 0, s_filled = 0 → zeros = m
      spark.createDataset(allCols).toDF("column")
        .join(foldedBase, Seq("column"), "left")
        .na.fill(0L, Seq("filled", "s_filled"))
    }
    val zeros = (lit(m) - col("filled")).cast("long")
    val sScaled = col("s_filled") + zeros * lit(emptyTerm)
    // alpha_m·m²·2^maxRank collapsed to ONE double literal so both engines
    // perform the identical single division (Double.toString round-trips)
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numConst = alpha * m.toDouble * m.toDouble *
      java.lang.Math.pow(2.0, mr)
    val eRaw = lit(numConst) / col("s_scaled").cast("double")
    val est = when(eRaw <= lit(2.5 * m) && col("zeros") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
      .otherwise(eRaw)
    folded
      .withColumn("zeros", zeros)
      .withColumn("s_scaled", sScaled)
      .select(col("column"), lit(m).as("m"), col("zeros"),
        col("s_scaled"), round(est, 2).as("ndv_est"))
  }

  /** Per-column NDV statistics of a persisted sketch. The pinned column
    * set rides along so all-NULL columns report zeros = m / ndv_est = 0
    * rather than silently vanishing.
    */
  def estimate(spark: SparkSession, dir: String): DataFrame =
    estimate(spark, IndexStore.head(spark, dir))

  private[graft] def estimate(spark: SparkSession, head: IndexStore.Head): DataFrame = {
    val m = meta(head)
    estimateFrom(head.read(spark, "registers"), m.p, m.cols)
  }

  // ---- Versioned-table ANALYZE -----------------------------------------

  /** One-shot ANALYZE of a versioned [[graft.sources.ParquetTable]]: a
    * full-scan sketch of the current head replaces the registers, with
    * the covered version pinned in the header so [[analyzeIncremental]]
    * knows where to resume. A histogram built earlier stays in the
    * version; the read path's guard retires it by its stamp. Returns the
    * analyzed version.
    */
  def analyze(spark: SparkSession, tablePath: String, cols: Seq[String],
      sketchDir: String, p: Int = DefaultPrecision, seed: Long = 4242L): Long = {
    val v = graft.sources.ParquetTable.currentVersion(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"analyze: no versioned table at $tablePath"))
    IndexStore.update(spark, sketchDir, "analyze", create = true) { _ =>
      IndexStore.Update(
        replace = Seq(registers(sketch(graft.sources.ParquetTable.read(spark, tablePath),
          cols, p, seed))),
        props = Meta(p, seed, cols, v, exact = true, fullVersion = v).props)
    }
    v
  }

  /** Incremental ANALYZE — the reason this operator exists: advance the
    * sketch from its pinned `last_version` to the table head by
    * sketching ONLY the change feed between the two versions
    * ([[graft.sources.ParquetTable.changes]] net diff), never rescanning
    * the table. Cost is change-sized: at 100 TB the nightly ANALYZE
    * touches the day's commits, not the decade's.
    *
    * Crash/replay safety: the delta registers and the version advance
    * are one [[IndexStore]] version, so a crash before its commit leaves
    * the previous coverage in place and a re-run sketches the same window.
    *
    * Exactness contract (stated, not hoped): registers are max-only, so
    * new values enter the sketch but a retired value cannot leave it — a
    * DELETE removes its row's values and an UPDATE retires the old
    * value while its new one is sketched. A window containing either
    * therefore flips the persistent `exact` flag to false — from then
    * on [[estimate]] is a documented UPPER BOUND of current-table NDV
    * ("values ever present"), monotone and still exactly mergeable,
    * until a full [[analyze]] recomputes and resets the flag. Equality
    * for append-only histories (the lakehouse common case) is
    * spec-pinned; MIN/MAX-style silent wrongness is refused by design
    * (the IncrementalView discipline).
    *
    * Returns the new covered version (= head; a no-op when already
    * current).
    */
  def analyzeIncremental(spark: SparkSession, tablePath: String,
      pk: Seq[String], sketchDir: String): Long = {
    val covered = meta(IndexStore.head(spark, sketchDir)).lastVersion
    require(covered >= 0,
      s"analyzeIncremental: sketch at $sketchDir is free-standing " +
        "(built by save(), not analyze()) — it pins no table version")
    val head = graft.sources.ParquetTable.currentVersion(spark, tablePath)
      .getOrElse(throw new IllegalArgumentException(
        s"analyzeIncremental: no versioned table at $tablePath"))
    if (head == covered) return head
    require(head > covered,
      s"analyzeIncremental: sketch covers v$covered but the " +
        s"table head is v$head — the table was RESTOREd past the sketch; " +
        "recompute with analyze()")
    // CDF fast path: when every commit in the window captured a change
    // manifest (cdf = true), the feed reads ONLY those manifests — the
    // truly change-sized tier that makes "nightly ANALYZE costs the
    // day's commits" literal at 100 TB. The snapshot net diff below is
    // the fallback; it needs no capture but SCANS both snapshots (one
    // O(table) pass — fine at reference scale, the wrong tier for a
    // petabyte nightly). The two feeds can legitimately differ on churn
    // inside one window (the CDF feed sees a transient value that a
    // later commit deleted; the net diff never does) — both satisfy the
    // same contract: registers cover every value the sketch has ever
    // been shown, and estimate ≥ current NDV once exact is false.
    IndexStore.update(spark, sketchDir, "analyzeIncremental") { h =>
      val meta = this.meta(h)
      if (meta.lastVersion >= head) IndexStore.Update() // a racer covered the window
      else {
        val captured = graft.sources.ParquetTable
          .hasChangeManifests(spark, tablePath, meta.lastVersion + 1, head)
        val delta = (
          if (captured)
            graft.sources.ParquetTable
              .tableChanges(spark, tablePath, meta.lastVersion + 1, head, pk)
              .drop("_commit_version")
          else graft.sources.ParquetTable
            .changes(spark, tablePath, meta.lastVersion, head, pk)
        ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val appendOnly = delta
          .filter(col("_change_type") =!= "insert").isEmpty
        // What to sketch per feed:
        //   - per-commit CDF (captured): `_change_type` ∈ {insert, delete,
        //     update_preimage, update_postimage}; preimages are covered by
        //     induction (each was the base image or an earlier commit's
        //     postimage in this same feed), so sketch insert + postimage.
        //   - snapshot NET diff (fallback): `_change_type` ∈ {insert,
        //     update, delete} with ONE row per changed key carrying the
        //     NEW image — preimages never appear, so `=!= "delete"` is
        //     exactly inserts + update postimages.
        val upserts = (
          if (captured)
            delta.filter(col("_change_type").isin("insert", "update_postimage"))
          else delta.filter(col("_change_type") =!= "delete")
        ).drop("_change_type")
        IndexStore.Update(
          append = Seq(registers(sketch(upserts, meta.cols, meta.p, meta.seed))),
          props = meta.copy(lastVersion = head, exact = meta.exact && appendOnly).props,
          cached = Seq(delta))
      }
    }
    head
  }

  /** Whether the persisted sketch still equals current-table NDV (true)
    * or is the documented upper bound after delete windows (false).
    */
  def isExact(spark: SparkSession, dir: String): Boolean =
    meta(IndexStore.head(spark, dir)).exact

  /** Merge independently-built sketches (same (p, seed) pinned meta —
    * e.g. one per partition or per commit) by register max: the HLL
    * union, exact for the combined row set.
    */
  def merged(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "statsSketch: no sketch dirs")
    val heads = dirs.map(IndexStore.head(spark, _))
    val metas = heads.map(meta)
    val params = metas.map(m => (m.p, m.seed)).distinct
    require(params.size == 1,
      s"statsSketch: cannot merge sketches with different (p, seed): $params")
    val all = heads.map(_.read(spark, "registers"))
      .reduce(_ unionByName _)
    estimateFrom(all, params.head._1, metas.flatMap(_.cols).distinct)
  }
}
