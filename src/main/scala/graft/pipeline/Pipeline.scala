package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{Deduplicator, Validator}
import graft.schemas.{Schemas, TableSpec}
import graft.sources.{Catalog, CsvIngest, ParquetTable}

/** End-to-end ETL driver — the in-process equivalent of the reference's
  * Glue job + Step Functions state machine (reference: src/glue_etl.py:394-541,
  * stepfunctions/delta-lake.json):
  *
  *   ingest CSVs → conform to schema → validate (split valid/rejected) →
  *   rejected: +metadata, append to rejected sink, summarize → dedup by PK →
  *   MERGE into the curated table → register `clean_*` views → smoke
  *   queries → archive processed raw files.
  *
  * Datasets run in reference order (products → orders → order_items) so the
  * two upstream key sets exist for order_items' RI checks
  * (glue_etl.py:451-514).
  */
object Pipeline {

  final case class TableResult(
      name: String,
      inputRows: Long,
      validRows: Long,
      rejectedRows: Long,
      mergedRows: Long)

  final case class Config(
      inputDir: String,       // <inputDir>/products.csv, orders/*.csv, order_items/*.csv
      outputDir: String,      // curated tables at <outputDir>/clean_<name>
      rejectedDir: String,    // rejected records at <rejectedDir>/<name>
      archiveDir: Option[String] = None,
      jobName: String = "graft-etl",
      // TableResult.mergedRows after the merge, exact: summed from the
      // live files' parquet footers (one footer read per file, no scan
      // job); a versioned target, whose manifest and deletion vectors
      // decide what is live, is counted by a scan. false reports -1
      countAfterMerge: Boolean = true,
      // durable notification outbox (the reference's SNS publishes,
      // delta-lake.json:216-265) — None keeps the log/exit-code surface
      notifyDir: Option[String] = None,
      // the outbox dedupes on (run_id, status), so a reused id silently
      // drops a later run's publishes — `run` refuses the default when
      // notifyDir is set; callers must supply a per-execution id
      runId: String = "",
      // injectable clock so notification events are replayable in tests
      clock: () => String = () => java.time.Instant.now().toString)

  def tablePath(cfg: Config, name: String): String = s"${cfg.outputDir}/clean_$name"

  def inputPath(cfg: Config, name: String): String = name match {
    case "products" => s"${cfg.inputDir}/products.csv"
    case other => s"${cfg.inputDir}/$other/*.csv" // daily files, implicit UNION ALL
  }

  def run(spark: SparkSession, cfg: Config): Seq[TableResult] = {
    require(cfg.notifyDir.isEmpty || cfg.runId.nonEmpty,
      "pipeline: notifyDir is set but runId is empty — the outbox dedupes " +
        "on (run_id, status), so each execution needs its own explicit id")
    notified(cfg, "etl") { sharedClassNames(spark) {
      val refs = scala.collection.mutable.Map.empty[String, DataFrame]
      val results = Schemas.all.map { spec =>
        val res = notified(cfg, spec.name) {
          Seq(processDataset(spark, cfg, spec, refs.toMap))
        }.head
        refs(spec.name) = ParquetTable.read(spark, tablePath(cfg, spec.name))
        res
      }
      registerTables(spark, cfg)
      notified(cfg, "smoke-queries") { smokeQueries(spark).foreach(_.collect()); Nil }
      cfg.archiveDir.foreach(a => notified(cfg, "archive") { archive(cfg.inputDir, a); Nil })
      cfg.notifyDir.foreach { dir =>
        Notify.publish(dir,
          Notify.Event(cfg.runId, "SUCCESS", s"${cfg.jobName}: load complete",
            results.map(r => s"${r.name}: input=${r.inputRows} valid=${r.validRows} " +
              s"rejected=${r.rejectedRows} merged=${r.mergedRows}").mkString("; ")),
          cfg.clock())
        ()
      }
      results
    } }
  }

  /** Runs `body` with `spark.sql.codegen.useIdInClassName=false`, then
    * restores the session's own setting. A whole-stage class is otherwise
    * named after its codegen stage id, which AQE re-numbers as it
    * re-plans, so the same pipeline compiled under another id is a new
    * entry in Spark's codegen cache; unnamed, a load's plan shapes compile
    * once and later loads reuse them.
    */
  private def sharedClassNames[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.codegen.useIdInClassName"
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The reference's per-stage failure handlers (delta-lake.json:226-265 —
    * each catch publishes to SNS, then the execution fails): a failing
    * stage publishes `FAILURE_<stage>` with the error, then rethrows.
    * Publish failures never mask the original error.
    */
  private def notified[A](cfg: Config, stage: String)(body: => Seq[A]): Seq[A] =
    cfg.notifyDir match {
      case None => body
      case Some(dir) =>
        try body
        catch {
          case e: Throwable =>
            try Notify.publish(dir, Notify.Event(cfg.runId,
              s"FAILURE_$stage", s"${cfg.jobName}: $stage failed",
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"), cfg.clock())
            catch { case _: Throwable => () }
            throw e
        }
    }

  /** One dataset through the full path (reference: src/glue_etl.py:217-320).
    * The validated frame is persisted (the reference's cache+count at
    * glue_etl.py:228-229), and ONE accounting pass over it — rows per
    * distinct (`validation_errors`, partition columns) value, i.e. per
    * combination of failed rules and target partition (a handful per
    * partition), collected to the driver — yields the input and rejected
    * counts, the clean-input check, the rejection summary and the
    * partition set of the merge: the partitions of ALL valid rows, taken
    * before the dedup (which keeps an arbitrary row per key), so the merge
    * reads and rewrites exactly those partitions without a job of its own
    * to find them. The rejected append and the merge then read the cached
    * rows, so the CSV scan and validation joins run once. `mergedRows`
    * comes from the merged table's file footers (see
    * [[Config.countAfterMerge]]). The body runs under
    * [[sharedClassNames]], like [[run]].
    */
  def processDataset(
      spark: SparkSession,
      cfg: Config,
      spec: TableSpec,
      references: Map[String, DataFrame]): TableResult = sharedClassNames(spark) {
    val raw = CsvIngest.readConformed(spark, inputPath(cfg, spec.name), spec)
    val annotated = Validator.validate(raw, spec, references)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val errors = col(Validator.ErrorsCol)
      val parts = spec.partitionColumns
      // (errors, partition values…) -> rows, counted by a map-side-combined
      // `countByValue`: a handful of keys, and no generated aggregate
      // classes (`groupBy().count()` compiles four more per table)
      val groups = annotated.select((errors +: parts.map(col)): _*).rdd.countByValue().toSeq
      val byError = groups.groupMapReduce(g => Option(g._1.getString(0)))(_._2)(_ + _).toSeq
      val inputRows = byError.map(_._2).sum
      val rejectedRows = writeRejected(annotated.filter(errors.isNotNull),
        byError.collect { case (Some(msg), n) => msg -> n }, cfg, spec)
      val validParts = groups.collect { case (g, _) if g.isNullAt(0) => Row.fromSeq(g.toSeq.tail) }
      val deduped = Deduplicator.dropDuplicatesByKey(
        annotated.filter(errors.isNull).select(spec.columnNames.map(col): _*),
        spec.primaryKey)
      val table = tablePath(cfg, spec.name)
      ParquetTable.mergeWithin(spark, table, deduped, spec.primaryKey, parts, Some(validParts))
      val mergedRows =
        if (!cfg.countAfterMerge) -1L
        else ParquetTable.plainRowCount(spark, table)
          .getOrElse(ParquetTable.read(spark, table).count())
      TableResult(spec.name, inputRows, inputRows - rejectedRows, rejectedRows, mergedRows)
    } finally annotated.unpersist()
  }

  /** Appends the rejected rows, with their metadata, to the rejected sink
    * and prints the most frequent error types (reference:
    * glue_etl.py:284-289). `counts` (error message → rows) come from
    * processDataset's accounting pass, so a clean drop launches no job
    * here (the reference's `.isEmpty()` probe, etl_utils.py:72) and the
    * summary re-reads nothing. Returns the rejected row count.
    */
  private def writeRejected(
      rejected: DataFrame, counts: Seq[(String, Long)], cfg: Config, spec: TableSpec): Long = {
    if (counts.nonEmpty) {
      val withMeta = Validator.withRejectionMetadata(rejected, spec.name, cfg.jobName)
      val parts = spec.partitionColumns.filter(withMeta.columns.contains)
      ParquetTable.append(withMeta, s"${cfg.rejectedDir}/${spec.name}", parts)
      println(s"${spec.name}: rejected rows by error (top 5)")
      counts.sortBy { case (msg, n) => (-n, msg) }.take(5)
        .foreach { case (msg, n) => println(f"$n%10d  $msg") }
    }
    counts.map(_._2).sum
  }

  private val CatalogNames = Seq(
    "products" -> "clean_products", "orders" -> "clean_orders",
    "order_items" -> "clean_orders_items")

  /** The Athena/Glue-catalog surface: persistent external `clean_*` tables
    * over the curated locations (reference README.md:247-249). Unlike the
    * temp views below, these accept `INSERT INTO` — the reference's ACID
    * corpus (AcidInserts) runs against them verbatim.
    */
  def registerTables(spark: SparkSession, cfg: Config): Unit =
    CatalogNames.foreach { case (t, table) =>
      val spec = Schemas.all.find(_.name == t).get
      Catalog.registerExternal(spark, table, tablePath(cfg, t),
        partitioned = spec.partitionColumns.nonEmpty)
    }

  /** The crawler state of the reference's Step Function
    * (delta-lake.json:106-146: the Glue crawler runs AFTER the ETL
    * state and publishes table statistics to the catalog the analysts
    * query through): sketch each curated table's key columns and
    * publish footer-exact rows/nulls/min-max + sketch NDV into its
    * `clean_*` catalog entry, so the analyst layer plans under CBO.
    * Registration is (re-)done first — idempotent — covering crawl-only
    * invocations. A separate opt-in step exactly like the reference's
    * (a crawler state, not part of the ETL job): cost is one scan per
    * table per crawl, the crawler's own contract; tables maintained
    * through versioned ANALYZE get the richer incremental lifecycle via
    * StatsSketch directly. Returns the tables whose entries now carry
    * statistics.
    */
  def crawl(spark: SparkSession, cfg: Config): Seq[String] =
    CatalogNames.flatMap { case (t, table) =>
      val spec = Schemas.all.find(_.name == t).get
      val loc = tablePath(cfg, t)
      graft.operators.StatsSketch.save(
        ParquetTable.read(spark, loc),
        (spec.primaryKey ++ spec.partitionColumns).distinct,
        ParquetTable.statsDir(loc))
      Catalog.registerExternal(spark, table, loc,
        partitioned = spec.partitionColumns.nonEmpty, publishStats = false)
      if (Catalog.publishStatistics(spark, table)) Some(table) else None
    }

  /** Session-scoped view variant of the same surface — for read-only
    * consumers that must not touch the shared catalog. NOTE: a temp view
    * shadows the same-named catalog table in SQL resolution.
    */
  def registerViews(spark: SparkSession, cfg: Config): Unit =
    CatalogNames.foreach { case (t, view) =>
      ParquetTable.read(spark, tablePath(cfg, t)).createOrReplaceTempView(view)
    }

  def smokeQueries(spark: SparkSession): Seq[DataFrame] =
    Seq("clean_products", "clean_orders", "clean_orders_items")
      .map(v => spark.sql(s"SELECT * FROM $v LIMIT 5"))

  /** Archive step (reference: stepfunctions/lambda_function.py:37-108) as a
    * local-FS move of processed raw files.
    */
  def archive(inputDir: String, archiveDir: String): Unit = {
    val src = Paths.get(inputDir)
    if (!Files.exists(src)) return
    Files.createDirectories(Paths.get(archiveDir))
    val it = Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p) && p.toString.endsWith(".csv")) {
        val dest = Paths.get(archiveDir).resolve(src.relativize(p))
        Files.createDirectories(dest.getParent)
        Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
