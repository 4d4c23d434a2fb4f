package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.DataType

/** `ALTER TABLE … ADD COLUMN name type [DEFAULT expr]` without rewriting
  * data — Delta's schema-evolution ADD COLUMN plus the SQL column-DEFAULT
  * model (Spark's CURRENT_DEFAULT), re-expressed on the manifest layout:
  *
  *   - the DDL is an O(1) metadata commit ([[ParquetTable.addColumn]]
  *     republishes the current version's dirs as version v+1 and records
  *     the rule here with `addedAtVersion = v+1`);
  *   - reads of version ≥ addedAtVersion serve the column; EXISTING rows
  *     read typed NULL (Delta's semantics — an ADD COLUMN never invents
  *     values for history), filled plan-side for dirs that predate the
  *     column ([[ParquetTable]] hooks [[extendSchema]] after the colmap);
  *   - the DEFAULT applies to FUTURE ingest only: every write verb runs
  *     [[fill]] (beside GeneratedColumns.fill), materializing the column
  *     physically with the CURRENT default for frames that omit it — from
  *     then on the dir's sidecar schema carries it and the ordinary
  *     schema-evolution read path (superset schema + typed-NULL align)
  *     takes over;
  *   - [[setDefault]] changes the future-fill expression without touching
  *     any data (SQL's ALTER COLUMN SET/DROP DEFAULT).
  *
  * Time travel stays exact: versions below addedAtVersion never show the
  * column. RENAME/DROP COLUMN on a rule-bearing column is refused by
  * [[ParquetTable]] (the rule file is keyed by name — the identity-column
  * precedent); drop the registration first if the column was never
  * materialized, or materialize and drop the rule before renaming.
  *
  * Scale shape: the rule file is O(columns) metadata; fill is a row-local
  * projection inside the write's own stage; the read-side extension is a
  * plan-time `withColumn` — no data I/O, no shuffle, nothing per-row.
  *
  * Storage: one `name\ttypeSql\tdefaultSql\taddedAt\tdroppedAt` row per
  * rule in a [[TableDdl]] file (an empty defaultSql = no default → NULL
  * fill; an empty droppedAt = live).
  */
object ColumnDefaults {

  /** One added column. `addedAt`/`droppedAt` bound the version window the
    * column is part of the logical schema (droppedAt empty = live), so
    * time travel across both the ADD and a later DROP stays exact.
    */
  final case class Rule(
      name: String, typeSql: String, default: Option[String],
      addedAt: Long, droppedAt: Option[Long] = None) {
    def live: Boolean = droppedAt.isEmpty
    def inVersion(v: Long): Boolean = addedAt <= v && droppedAt.forall(v < _)
    def dataType: DataType =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(typeSql)
    def fillExpr: org.apache.spark.sql.Column =
      default.map(d => expr(d)).getOrElse(lit(null)).cast(dataType)
  }

  private val file = TableDdl.Defaults

  /** The table's added-column rules, oldest first. Empty for no file. */
  def list(spark: SparkSession, table: String): Seq[Rule] =
    file.read(spark, table).map(r => Rule(r(0), r(1), Some(r(2)).filter(_.nonEmpty),
      r(3).toLong, r.lift(4).filter(_.nonEmpty).map(_.toLong)))

  private def write(spark: SparkSession, table: String, rules: Seq[Rule]): Unit =
    file.write(spark, table, rules.map(r => Seq(r.name, r.typeSql, r.default.getOrElse(""),
      s"${r.addedAt}", r.droppedAt.fold("")(_.toString))))

  /** Syntax/type validation for a prospective rule — run BEFORE the
    * metadata commit so a bad DDL never burns a version.
    */
  private[sources] def validateSyntax(spark: SparkSession, rule: Rule): Unit = {
    require(rule.name.matches("[A-Za-z0-9_]+"),
      s"addColumn: column name must be [A-Za-z0-9_]+, got '${rule.name}'")
    require(!rule.typeSql.exists(c => c == '\n' || c == '\r' || c == '\t') &&
      !rule.default.exists(_.exists(c => c == '\n' || c == '\r' || c == '\t')),
      s"addColumn ${rule.name}: type/default must not contain newlines or tabs")
    rule.dataType // parses, or throws with the parser's message
    // the default must be a CONSTANT expression (SQL's DEFAULT contract):
    // reject column references up front — an attribute could accidentally
    // resolve against whatever frame fill() runs on — then probe the
    // cast on a 1-row local relation (no job: analysis only)
    rule.default.foreach { d =>
      val parsed = spark.sessionState.sqlParser.parseExpression(d)
      val attrs = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
      require(attrs.isEmpty,
        s"addColumn ${rule.name}: DEFAULT must be a constant expression; " +
          s"'$d' references column(s) ${attrs.mkString(", ")} — use a " +
          "generated column for derived values")
      spark.range(1).select(rule.fillExpr.as(rule.name)).queryExecution.analyzed
    }
  }

  /** Register a rule — called by [[ParquetTable.addColumn]] AFTER its
    * guards, [[validateSyntax]], and the metadata commit.
    */
  private[sources] def register(
      spark: SparkSession, table: String, rule: Rule): Unit = {
    val cur = list(spark, table)
    require(!cur.exists(r => r.live && r.name.equalsIgnoreCase(rule.name)),
      s"addColumn: column ${rule.name} already added on $table")
    write(spark, table, cur :+ rule)
  }

  /** Close a rule's version window at `droppedAt` — called by
    * [[ParquetTable.dropColumn]]; reads of versions below keep serving
    * the column, ingest stops filling it.
    */
  private[sources] def markDropped(
      spark: SparkSession, table: String, name: String, droppedAt: Long): Unit =
    write(spark, table, list(spark, table).map(r =>
      if (r.live && r.name.equalsIgnoreCase(name)) r.copy(droppedAt = Some(droppedAt))
      else r))

  /** SQL's ALTER COLUMN SET DEFAULT / DROP DEFAULT: change what FUTURE
    * fills write; no data and no existing version is touched.
    */
  def setDefault(
      spark: SparkSession, table: String, name: String,
      default: Option[String]): Unit = {
    val cur = list(spark, table)
    require(cur.exists(r => r.live && r.name.equalsIgnoreCase(name)),
      s"setDefault: no added column '$name' on $table " +
        "(defaults attach to addColumn-managed columns)")
    val updated = cur.map(r =>
      if (r.live && r.name.equalsIgnoreCase(name)) r.copy(default = default)
      else r)
    updated.find(r => r.live && r.name.equalsIgnoreCase(name))
      .foreach(validateSyntax(spark, _))
    write(spark, table, updated)
  }

  /** Materialize every live rule column the frame does not carry — the
    * CURRENT default (or typed NULL) as a row-local projection inside the
    * write's own stage. Frames that DO carry a rule column get it cast to
    * the declared type, keeping every dir's parquet schema identical.
    */
  private[sources] def fill(
      spark: SparkSession, table: String, df: DataFrame): DataFrame =
    list(spark, table).filter(_.live).foldLeft(df) { (d, r) =>
      if (d.columns.exists(_.equalsIgnoreCase(r.name)))
        d.withColumn(r.name, col(r.name).cast(r.dataType))
      else d.withColumn(r.name, r.fillExpr)
    }

  /** Read-path extension for `version`: append typed-NULL columns for
    * rules whose [addedAt, droppedAt) window includes the version but the
    * physical frame predates; `skip` carries the version's colmap-DROPPED
    * physical names so a materialized-then-dropped column stays dropped.
    */
  private[sources] def extendSchema(
      rules: Seq[Rule], version: Long,
      df: DataFrame, skip: Seq[String]): DataFrame =
    rules.foldLeft(df) { (d, r) =>
      if (!r.inVersion(version) || skip.exists(_.equalsIgnoreCase(r.name)) ||
        d.columns.exists(_.equalsIgnoreCase(r.name))) d
      else d.withColumn(r.name, lit(null).cast(r.dataType))
    }

  /** Clone carry-over: only rules the CLONED version includes travel, and
    * the clone is born at version 1, so each clamps to addedAt = 1 with an
    * open window (visible from the clone's first version onward).
    */
  private[sources] def copy(
      spark: SparkSession, from: String, to: String, version: Long): Unit = {
    val rules = list(spark, from).filter(_.inVersion(version))
    if (rules.nonEmpty)
      write(spark, to, rules.map(_.copy(addedAt = 1L, droppedAt = None)))
  }
}
