package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IndexStore

/** Equi-height column histograms for the ANALYZE layer — the second
  * half of the reference's query-layer statistics opt-in
  * (glue_etl.py:407-408 sets BOTH `spark.sql.cbo.enabled` AND
  * `spark.sql.statistics.histogram.enabled`): NDV + min/max give the
  * optimizer uniform-distribution selectivity; histograms are what
  * make SKEWED columns estimate right (the hot key that is 60% of a
  * join input looks like 1/NDV without one).
  *
  * Spark's own ANALYZE builds histograms from `percentile_approx` —
  * fast but not externally replayable (the q59 contract gap). This
  * builder is exact at GRID granularity and order-independent, the
  * q147 `lmCutExact` discipline applied to value space:
  *
  *   1. quantize each value onto a `gridCells`-cell grid between the
  *      column's exact [min, max] (one aggregate; every arithmetic
  *      step identical IEEE ops from identical literals in any
  *      engine);
  *   2. ONE linear groupBy((cell, value)) → groupBy(cell) pass yields
  *      per-cell row and exact distinct counts — no global sort, no
  *      single-partition window; the collected fold is grid-sized
  *      (≤ `gridCells` rows per column), never corpus-sized;
  *   3. walk cells in order closing a bin every `rows/numBins` rows —
  *      equi-height up to cell granularity; a hot value's cell
  *      becomes its own near-singleton bin, which is exactly the
  *      skew-capture a histogram exists for.
  *
  * Persisted as the `histogram` artifact of the sketch dir's
  * [[graft.sources.IndexStore]] — parquet rows
  * `(column, bin, lo, hi, rows, ndv)` beside the NDV registers, with the
  * `built_version` stamp in the version header; the
  * read path attaches them to the plan's `CatalogColumnStat`s (see
  * [[graft.sources.PlanStats]]). Full-scan tier only, like Spark's
  * own histogram ANALYZE: bins are not mergeable under appends — the
  * incremental path keeps serving NDV, and a histogram refresh rides
  * the next full [[StatsSketch.analyze]] window. Numeric columns
  * only (the estimator interpolates in value space).
  */
object StatsHistogram {

  val DefaultBins = 64
  val DefaultGridCells = 16384

  final case class Bin(lo: Double, hi: Double, rows: Long, ndv: Long)

  /** Build and persist histograms for `cols` of `df` as the `histogram`
    * artifact of `dir` (replacing any earlier one; the dir need not hold
    * a sketch yet). Returns per-column bins (also the spec surface).
    *
    * `version` stamps the bins with the TABLE VERSION they describe
    * (−1 = free-standing data with no versioned lifecycle). The read
    * path ([[graft.sources.PlanStats]]) refuses bins stamped before the
    * sketch's last full-ANALYZE version, or any bins while the sketch's
    * `exact` flag is false — so a snapshot can never plan from a
    * distribution an update/delete window has since rewritten (VERDICT
    * r14 item 2). Pass the table's current version when building over a
    * versioned table (the `ANALYZE … COMPUTE HISTOGRAM` verb does).
    */
  def build(df: DataFrame, cols: Seq[String], dir: String,
      numBins: Int = DefaultBins,
      gridCells: Int = DefaultGridCells,
      version: Long = -1L): Map[String, Seq[Bin]] = {
    require(cols.nonEmpty, "statsHistogram: no columns requested")
    require(numBins >= 2 && gridCells >= numBins,
      s"statsHistogram: need gridCells ≥ numBins ≥ 2, got ($gridCells, $numBins)")
    val spark = df.sparkSession
    cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"statsHistogram: $c is not numeric — histograms interpolate in value space")
    }
    val perCol = cols.map { c =>
      val v = col(c).cast("double")
      val mm = df.agg(min(v).as("mn"), max(v).as("mx")).head()
      if (mm.isNullAt(0)) c -> Seq.empty[Bin] // all-null column: no bins
      else {
        val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
        if (mn == mx) {
          val n = df.filter(v.isNotNull).count()
          c -> Seq(Bin(mn, mx, n, 1L))
        } else {
          val step = (mx - mn) / gridCells
          // clamp: v == mx lands on cell gridCells, fold into the last
          val cell = least(floor((v - lit(mn)) / lit(step)), lit(gridCells - 1))
          val cells = df.filter(v.isNotNull)
            .groupBy(cell.as("cell"), v.as("value")).agg(count(lit(1)).as("nv"))
            .groupBy(col("cell"))
            .agg(sum(col("nv")).as("rows"), count(lit(1)).as("ndv"))
            .orderBy(col("cell"))
            .collect() // grid-sized by construction (≤ gridCells rows)
          val total = cells.map(_.getLong(1)).sum
          val height = math.max(1L, total / numBins)
          // a cell heavier than one bin EMITS REPEATED BINS — that is
          // how the equi-height format encodes skew (Spark's own
          // percentile-built histograms repeat a hot value across
          // consecutive lo==hi bins; the estimator then counts bins,
          // so a value holding 60% of rows occupies ~60% of bins)
          val bins = scala.collection.mutable.ArrayBuffer[Bin]()
          var acc = 0L; var ndvAcc = 0L; var binLoCell = -1L
          cells.foreach { r =>
            val (cl, rows, ndv) = (r.getLong(0), r.getLong(1), r.getLong(2))
            if (binLoCell < 0) binLoCell = cl
            acc += rows; ndvAcc += ndv
            while (acc >= height) {
              bins += Bin(mn + binLoCell * step, mn + (cl + 1) * step,
                height, math.max(1L, ndvAcc))
              acc -= height
              // spillover stays inside THIS cell: the next bin starts
              // here and re-charges the cell's ndv (it straddles)
              binLoCell = if (acc > 0) cl else -1L
              ndvAcc = if (acc > 0) ndv else 0L
            }
          }
          if (acc > 0)
            bins += Bin(mn + binLoCell * step, mx, acc, math.max(1L, ndvAcc))
          // pin the domain ends exactly (grid edges are derived; the
          // estimator clamps predicates against [head.lo, last.hi])
          if (bins.nonEmpty) {
            bins(0) = bins(0).copy(lo = mn)
            bins(bins.length - 1) = bins(bins.length - 1).copy(hi = mx)
          }
          c -> bins.toSeq
        }
      }
    }.toMap
    import spark.implicits._
    val rows = perCol.toSeq.flatMap { case (c, bins) =>
      bins.zipWithIndex.map { case (b, i) => (c, i, b.lo, b.hi, b.rows, b.ndv) }
    }.toDF("column", "bin", "lo", "hi", "rows", "ndv")
    IndexStore.update(spark, dir, "statsHistogram.build", create = true) { _ =>
      IndexStore.Update(replace = Seq("histogram" -> (p => rows.coalesce(1).write.parquet(p))),
        props = Map("built_version" -> version.toString))
    }
    perCol
  }

  /** Persisted histograms of a sketch dir: column → ordered bins.
    * Empty map when the tier was never built.
    */
  def read(spark: SparkSession, dir: String): Map[String, Seq[Bin]] =
    readStamped(spark, dir).bins

  /** Bins plus their build-version stamp (−1 when built free-standing).
    * One stamp for the whole tier: `build` always rewrites every requested
    * column in one publish.
    */
  final case class Stamped(builtVersion: Long, bins: Map[String, Seq[Bin]])

  def readStamped(spark: SparkSession, dir: String): Stamped =
    IndexStore.headOption(spark, dir).map(readStamped(spark, _)).getOrElse(Stamped(-1L, Map.empty))

  private[graft] def readStamped(spark: SparkSession, head: IndexStore.Head): Stamped =
    if (!head.has("histogram")) Stamped(-1L, Map.empty)
    else Stamped(head("built_version").toLong, head.read(spark, "histogram").collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1)).toSeq.map(r =>
          Bin(r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      })
}
