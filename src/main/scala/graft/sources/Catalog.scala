package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Persistent-catalog surface over curated parquet locations — the
  * Athena/Glue-catalog layer of the reference (reference README.md:247-249:
  * query `clean_*` in the `delta-lakehouse` database; README.md:261-377:
  * run `INSERT INTO clean_*` through it).
  *
  * Tables are EXTERNAL (`USING parquet LOCATION`): the catalog entry
  * points at data the pipeline owns, so re-registration never moves or
  * rewrites data, and dropping a table never deletes it. Registration is
  * idempotent via drop-and-recreate — cheap (metadata only) and robust to
  * a location change between runs. After registration the tables answer
  * plain `spark.sql` SELECTs AND accept `INSERT INTO`, which is what the
  * reference's ACID corpus needs (see pipeline.AcidInserts).
  *
  * Registration also plays the reference's Glue CRAWLER role
  * (delta-lake.json:106-146 — the crawler exists to publish table
  * statistics into the catalog the analysts query through): when the
  * location carries an ANALYZE sketch, [[publishStatistics]] attaches
  * [[graft.sources.PlanStats.forLocation]]'s CatalogStatistics to the
  * catalog entry, so the verbatim-SQL layer plans under CBO with the
  * same row counts / NDV / histograms path reads already see.
  */
object Catalog {

  /** Register `table` over the parquet data at `path`. Partitioned
    * layouts (hive-style `col=value` dirs) need partition recovery — the
    * catalog tracks partitions for datasource tables, and a fresh external
    * table starts with none registered. Registration then publishes the
    * location's graft statistics into the entry (a no-op when the
    * location was never ANALYZEd — the same opt-in chain as every other
    * stats consumer); pass `publishStats = false` to register a bare
    * entry.
    */
  def registerExternal(
      spark: SparkSession,
      table: String,
      path: String,
      partitioned: Boolean,
      publishStats: Boolean = true): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"CREATE TABLE `$table` USING parquet LOCATION '$path'")
    if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$table`")
    if (publishStats) { publishStatistics(spark, table); () }
  }

  /** The crawler step on its own: compute the registered location's
    * statistics (exact footer rows/nulls/min-max + sketch NDV +
    * staleness-gated histograms — [[PlanStats.forLocation]]) and attach
    * them to the catalog entry. Statistics describe the location NOW:
    * after out-of-band writes (`INSERT INTO`, a fresh merge into the
    * location) re-run this, exactly like re-running a crawler. Returns
    * whether statistics were published (false = location not ANALYZEd,
    * kill switch off, or nothing readable — the entry keeps its previous
    * stats, if any).
    */
  def publishStatistics(spark: SparkSession, table: String): Boolean = {
    val id = TableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(id)
    val location = meta.location.toString
    val schemaTypes = meta.schema.fields.map(f => f.name -> f.dataType).toMap
    // statistics are estimates only — a torn footer or unreadable stats
    // dir must never fail the REGISTRATION it rides on (the queries over
    // a genuinely corrupt file will fail on their own, with the real
    // error); the entry simply keeps its previous stats, if any
    val cs = try PlanStats.forLocation(spark, location, schemaTypes)
      catch { case scala.util.control.NonFatal(_) => None }
    cs match {
      case Some(stats) =>
        spark.sessionState.catalog.alterTableStats(id, Some(stats))
        true
      case None => false
    }
  }
}
