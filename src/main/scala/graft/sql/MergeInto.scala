package graft.sql

import org.antlr.v4.runtime.ParserRuleContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{FieldName, RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, ConstraintCharacteristic, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.{AbstractSqlParser, AstBuilder, ParameterContext, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AlterColumns, Assignment, CreateTableAsSelect, DeleteAction, DeleteFromTable, DescribeRelation, DropColumns, DropConstraint, Filter, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, OptionList, RenameColumn, SetTableProperties, ShowTableProperties, SubqueryAlias, UnresolvedTableSpec, UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType, TimestampType}

import graft.operators.{StatsHistogram, StatsSketch}
import graft.sources.{ColumnDefaults, Constraints, GeneratedColumns, IdentityColumns, ParquetTable, TableProperties}

/** graft SQL: the statements that name a `graft.`/table/path`` target,
  * each run as one [[GraftCommand]] over a `ParquetTable` or DDL verb.
  *
  * Entry points:
  *   - declarative: `spark.sql.extensions=graft.functions.GraftSessionExtensions`
  *     (or `GraftColumnBridge.sessionWithExtensions`) installs
  *     [[GraftSqlParser]], so `spark.sql(…)` runs every statement below and
  *     reads `graft.`p`` in any query position;
  *   - imperative: [[GraftSql.sql]] / [[GraftSql.merge]] on any session.
  *
  * Parsing. A statement first meets graft's pre-match: 22 patterns on the
  * raw text, for the verbs Spark 4.1.2's grammar lacks (OPTIMIZE, VACUUM,
  * RESTORE, FSCK, …) or misreads. It runs before Spark's parser because
  * Spark turns some of these texts into a different statement:
  * `DESCRIBE HISTORY graft.`p`` parses as a column describe of a table
  * named `HISTORY`. Every other statement is parsed by Spark, so comments,
  * quoting and whitespace follow Spark's grammar, and [[dispatch]] turns a
  * plan whose target is `graft.`p`` into a command. A variant of such a
  * plan that graft does not run (DESCRIBE EXTENDED, ADD COLUMNS with
  * several columns, CTAS … USING, …) fails with an IllegalArgumentException
  * naming the supported shape. Any other plan only has its `graft.`p``
  * relations replaced by versioned reads ([[rewriteRelations]]).
  *
  * Syntax table. Per statement: `[S]` parsed by Spark's grammar or `[G]`
  * by the pre-match; the verb it calls; its result columns (`!` = not
  * null, `-` = none). Verbs without an owner are `ParquetTable`'s.
  * {{{
  * MERGE INTO graft.`p` [WITH SCHEMA EVOLUTION] … ON t.k = s.k …     [S]
  *     merge (conditional clauses: the clauseImage combine)      -
  * INSERT INTO | OVERWRITE graft.`p` <query>                       [S]
  *     insertInto | atomicReplace / createVersioned              -
  * DELETE FROM graft.`p` [WHERE c]                                 [S]
  *     delete | deleteVectors (spark.graft.delete.mode)          committed_version bigint!
  * UPDATE graft.`p` SET c = e, … [WHERE c]                         [S]
  *     update                                                    committed_version bigint!
  * CREATE TABLE graft.`p` [PARTITIONED BY (c, …)] AS <query>       [S]
  *     create | createVersioned                                  version bigint
  * DESC[RIBE] [TABLE] graft.`p`                                    [S]
  *     read schema + DDL files                                   col_name, data_type, info string!
  * ALTER TABLE graft.`p` RENAME COLUMN a TO b                      [S]
  *     renameColumn                                              version bigint
  * ALTER TABLE graft.`p` DROP COLUMN a                             [S]
  *     dropColumn                                                version bigint
  * ALTER TABLE graft.`p` ADD CONSTRAINT n CHECK (e)                [S]
  *     Constraints.add                                           -
  * ALTER TABLE graft.`p` DROP CONSTRAINT n                         [S]
  *     Constraints.drop                                          -
  * ALTER TABLE graft.`p` ADD COLUMN c type [DEFAULT e]             [S]
  *     addColumn                                                 version bigint
  * ALTER TABLE graft.`p` ALTER COLUMN c SET DEFAULT e | DROP DEFAULT [S]
  *     ColumnDefaults.setDefault                                 -
  * ALTER TABLE graft.`p` SET TBLPROPERTIES ('k' = 'v', …)          [S]
  *     TableProperties.set                                       -
  * ALTER TABLE graft.`p` UNSET TBLPROPERTIES [IF EXISTS] ('k', …)  [S]
  *     TableProperties.unset                                     -
  * SHOW TBLPROPERTIES graft.`p`                                    [S]
  *     TableProperties.list                                      key, value string!
  * RESTORE TABLE graft.`p` TO VERSION AS OF n                      [G]
  *     restore                                                   restored_to_version bigint!
  * RESTORE TABLE graft.`p` TO TIMESTAMP AS OF 'ts'                 [G]
  *     versionAtTimestamp + restore                              restored_to_version bigint!
  * OPTIMIZE graft.`p`                                              [G]
  *     compact                                                   optimized_version bigint!
  * OPTIMIZE graft.`p` WHERE <partition predicate>                  [G]
  *     compactWhere                                              optimized_version bigint!
  * OPTIMIZE graft.`p` COMPACT SMALL [BELOW bytes]                  [G]
  *     compactSmall                                              version bigint
  * OPTIMIZE graft.`p` ZORDER BY (c, …)                             [G]
  *     optimize                                                  committed_version bigint!
  * OPTIMIZE graft.`p` BLOOM BY (c, …) [ZORDER BY (z, …)]           [G]
  *     optimizeBloom                                             version bigint
  * VACUUM graft.`p` [RETAIN n VERSIONS | HOURS]                    [G]
  *     vacuum                                                    versions_retained bigint!
  * VACUUM graft.`p` [RETAIN n VERSIONS | HOURS] DRY RUN            [G]
  *     vacuumPlan                                                kind, path string!
  * DESC[RIBE] HISTORY graft.`p`                                    [G]
  *     history       version bigint!, partitioned boolean!, n_entries int!, n_data_dirs int!,
  *                   has_change_manifest boolean!, commit_ts timestamp, manifest_mtime timestamp!
  * DESC[RIBE] DETAIL graft.`p`                                     [G]
  *     detail        location string!, format string!, version bigint, commit_ts timestamp,
  *                   partitioned boolean!, partition_columns array<string!>!, n_partitions int!,
  *                   n_data_dirs int!, num_files bigint, num_rows bigint,
  *                   num_deleted_rows bigint!, n_versions int!, n_constraints int!,
  *                   column_mapping string!
  * FSCK graft.`p`                                                  [G]
  *     fsck                                                      kind string!, version bigint!, detail string!
  * GENERATE symlink_format_manifest FOR TABLE graft.`p`            [G]
  *     generateSymlinkManifest                                   manifest string!, n_files bigint!
  * CREATE TABLE graft.`t` SHALLOW CLONE graft.`s` [VERSION AS OF n] [G]
  *     shallowClone                                              cloned_version bigint!
  * CONVERT TO GRAFT parquet.`p` [PARTITIONED BY (c, …)]            [G]
  *     convert                                                   converted_version bigint!
  * ALTER TABLE graft.`p` ADD COLUMN c GENERATED ALWAYS AS (e)      [G]
  *     GeneratedColumns.add                                      -
  * ALTER TABLE graft.`p` DROP GENERATED COLUMN c                   [G]
  *     GeneratedColumns.drop                                     -
  * ALTER TABLE graft.`p` ADD COLUMN c GENERATED BY DEFAULT AS IDENTITY
  *     [(START WITH s INCREMENT BY i)]                             [G]
  *     IdentityColumns.add                                       -
  * ALTER TABLE graft.`p` DROP IDENTITY COLUMN c                    [G]
  *     IdentityColumns.drop                                      -
  * ANALYZE graft.`p` COMPUTE STATISTICS FOR COLUMNS (c, …)         [G]
  *     StatsSketch.analyze                                       analyzed_version bigint!
  * ANALYZE graft.`p` COMPUTE INCREMENTAL STATISTICS USING PK (k, …) [G]
  *     StatsSketch.analyzeIncremental                            analyzed_version bigint!
  * ANALYZE graft.`p` COMPUTE HISTOGRAM FOR COLUMNS (c, …)          [G]
  *     StatsHistogram.build                                      column string!, bins int!
  * SHOW STATISTICS graft.`p`                                       [G]
  *     StatsSketch.estimate   column string!, m int!, zeros bigint!, s_scaled bigint!,
  *                            ndv_est double!, exact boolean!
  * }}}
  *
  * MERGE (reference: src/glue_etl.py:338-349, `whenMatchedUpdateAll
  * .whenNotMatchedInsertAll` on the primary key): the ON condition is a
  * conjunction of same-named column equalities (the primary key). The
  * plain shape `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
  * INSERT *` is `ParquetTable.merge`'s idempotent upsert-by-PK (replaying
  * a batch is a no-op); `WITH SCHEMA EVOLUTION` maps to `evolveSchema`.
  * Conditional clauses run the [[clauseImage]] inside the same
  * partition-scoped copy-on-write commit. Partition columns come from the
  * target's current manifest, so no statement needs a partition clause.
  *
  * DELETE and UPDATE carry their conditions as SQL text, re-parsed
  * against the target read when the command runs: an unresolved
  * expression inside a command would fail the analyzer's resolution check
  * first. DESCRIBE flags each column's provenance (`partition`,
  * `generated(e)`, `identity(s,st)`, `added@vN [default e]`, `renamed
  * from p`) from metadata only. CTAS refuses an existing table (no
  * CREATE OR REPLACE). TBLPROPERTIES keys are free-form: the keys Spark
  * reserves (`owner`, `location`, `provider`) are refused by Spark's
  * grammar, so a graft-target SET/UNSET that names one is parsed again
  * with that check off.
  */
object GraftSql {

  /** Parse and execute one `MERGE INTO graft.`path`` statement on an
    * existing session (no extension registration needed). The source may
    * itself read `graft.`path`` tables. Parsed by Spark's own grammar,
    * not the session's: a session with [[GraftSessionExtensions]] would
    * hand back the statement already dispatched.
    */
  def merge(spark: SparkSession, sqlText: String): Unit =
    BaseParser.parsePlan(sqlText) match {
      case m: MergeIntoTable =>
        rewrite(m).getOrElse(throw new IllegalArgumentException(
          "GraftSql.merge: not a graft-target MERGE (target must be " +
            "graft.`/table/path`)")).run(spark)
      case other => throw new IllegalArgumentException(
        s"GraftSql.merge expects a MERGE INTO statement, parsed ${other.nodeName}")
    }

  /** Run one graft-aware statement on an existing session — the
    * imperative twin of querying through [[GraftSqlParser]].
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    GraftColumnBridge.ofRows(spark,
      statementPlan(sqlText, spark.sessionState.sqlParser.parsePlan))

  /** The plan of `sqlText`: the pre-match, else `parse` (Spark's grammar)
    * followed by [[dispatch]].
    */
  private[sql] def statementPlan(sqlText: String, parse: String => LogicalPlan): LogicalPlan =
    parseMaintenance(sqlText).getOrElse(dispatch(
      try parse(sqlText) catch {
        case e: ParseException if e.getCondition == "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY" =>
          val lenient = try PropertyParser.parsePlan(sqlText) catch { case _: ParseException => throw e }
          lenient match {
            case SetTableProperties(GraftTable(_), _) | UnsetTableProperties(GraftTable(_), _, _) =>
              lenient
            case _ => throw e
          }
      }))

  /** Spark's grammar, without any session extension. */
  private lazy val BaseParser = new org.apache.spark.sql.execution.SparkSqlParser()

  /** Spark's grammar without its reserved-property check. */
  private object PropertyParser extends AbstractSqlParser {
    override val astBuilder: AstBuilder = new AstBuilder {
      override def cleanTableProperties[V](
          ctx: ParserRuleContext, properties: Map[String, V]): Map[String, V] = properties
    }
  }

  /** The target of a plan naming `graft.`path``, in any of the unresolved
    * forms Spark's parser gives a table.
    */
  private object GraftTable {
    def unapply(plan: LogicalPlan): Option[String] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case u: UnresolvedRelation => graft(u.multipartIdentifier)
      case u: UnresolvedTable => graft(u.multipartIdentifier)
      case u: UnresolvedTableOrView => graft(u.multipartIdentifier)
      case u: UnresolvedIdentifier => graft(u.nameParts)
      case _ => None
    }

    private def graft(name: Seq[String]): Option[String] = name match {
      case Seq(ns, path) if ns.equalsIgnoreCase("graft") => Some(path)
      case _ => None
    }
  }

  private def column(name: String, t: DataType, nullable: Boolean = false): Attribute =
    AttributeReference(name, t, nullable)()

  /** A command with no result columns. */
  private def ddl(statement: String)(verb: SparkSession => Unit): GraftCommand =
    GraftCommand(statement, Nil)(s => { verb(s); Nil })

  /** A command whose one row is the version `verb` returns. */
  private def versioned(statement: String, name: String, nullable: Boolean = false)(
      verb: SparkSession => Long): GraftCommand =
    GraftCommand(statement, Seq(column(name, LongType, nullable)))(s => Seq(Row(verb(s))))

  /** Refuses the first present variant: Spark parsed it, graft does not run it. */
  private def only(statement: String, shape: String)(variants: Option[String]*): Unit =
    variants.flatten.headOption.foreach(what => throw new IllegalArgumentException(
      s"$statement: $what is not supported (supported: $shape)"))

  private def nested(field: FieldName): Option[String] =
    Option.when(field.name.length != 1)(s"the nested field ${field.name.mkString(".")}")

  private val PlainTableSpec = UnresolvedTableSpec(Map.empty, None, OptionList(Nil), None, None,
    None, None, external = false, Nil)

  /** Shared statement dispatch (used by both the injected parser and
    * [[sql]]): a graft-target plan becomes its command; every other plan
    * has its graft relations substituted wherever they appear.
    */
  private[sql] def dispatch(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable => rewrite(m).getOrElse(rewriteRelations(m))
    case InsertIntoStatement(GraftTable(path), spec, cols, query, overwrite, _, _) =>
      require(spec.isEmpty,
        s"INSERT graft.`$path`: static PARTITION specs are not supported — " +
          "partition values travel in the rows (dynamic), as in Delta")
      require(cols.isEmpty,
        s"INSERT graft.`$path`: a column list is not supported; insert " +
          "full rows in table column order (or use byName via DataFrame API)")
      val source = rewriteRelations(query)
      ddl(s"INSERT graft.`$path`") { s =>
        val rows = GraftColumnBridge.ofRows(s, source)
        val partitionColumns = ParquetTable.partitionColumns(s, path)
        if (overwrite) {
          // overwrite still aligns to the CURRENT schema (positional VALUES)
          val aligned = ParquetTable.currentVersion(s, path)
            .map(v => ParquetTable.alignInsert(rows, ParquetTable.readAt(s, path, v).schema))
            .getOrElse(rows)
          if (partitionColumns.isEmpty) ParquetTable.atomicReplace(s, path, aligned, Nil)
          else ParquetTable.createVersioned(aligned, path, partitionColumns)
        } else ParquetTable.insertInto(s, path, rows)
      }
    case DeleteFromTable(GraftTable(path), cond) =>
      requireNoSubquery(cond, "DELETE FROM", path)
      val conditionSql = cond.sql
      versioned(s"DELETE FROM graft.`$path`", "committed_version") { s =>
        s.conf.get("spark.graft.delete.mode", "copy-on-write") match {
          case "copy-on-write" => ParquetTable.delete(s, path, expr(conditionSql))
          case "merge-on-read" => ParquetTable.deleteVectors(s, path, expr(conditionSql))
          case other => throw new IllegalArgumentException(
            s"spark.graft.delete.mode must be copy-on-write or merge-on-read, got '$other'")
        }
      }
    case UpdateTable(GraftTable(path), assignments, cond) =>
      cond.foreach(requireNoSubquery(_, "UPDATE", path))
      val set = assignments.map {
        case Assignment(k: UnresolvedAttribute, value) =>
          requireNoSubquery(value, "UPDATE", path)
          k.nameParts.last -> value.sql
        case Assignment(k, _) => throw new IllegalArgumentException(
          s"UPDATE graft.`$path`: SET key must be a plain column, got ${k.sql}")
      }
      val conditionSql = cond.map(_.sql)
      versioned(s"UPDATE graft.`$path`", "committed_version")(s => ParquetTable.update(s, path,
        conditionSql.map(expr).getOrElse(lit(true)), set.map { case (k, v) => k -> expr(v) }.toMap))
    case CreateTableAsSelect(GraftTable(path), partitioning, query, spec, writeOptions,
        ifNotExists, _) =>
      val statement = s"CREATE TABLE graft.`$path`"
      val partitionBy = partitioning.flatMap(t => t.references.toSeq.map(_.fieldNames.toSeq) match {
        case Seq(Seq(c)) if t.name == "identity" => Some(c)
        case _ => None
      })
      only(statement, "CREATE TABLE graft.`p` [PARTITIONED BY (c, …)] AS <query>")(
        Option.when(partitionBy.length != partitioning.length)("a partition transform"),
        Option.when(ifNotExists)("IF NOT EXISTS"),
        Option.when(spec != PlainTableSpec || writeOptions.nonEmpty)(
          "a USING, OPTIONS, LOCATION, TBLPROPERTIES or COMMENT clause"))
      versioned(statement, "version", nullable = true) { s =>
        require(!ParquetTable.exists(s, path),
          s"$statement: table already exists — drop/clean the path first (no CREATE OR REPLACE)")
        val df = GraftColumnBridge.ofRows(s, rewriteRelations(query))
        if (partitionBy.nonEmpty) ParquetTable.createVersioned(df, path, partitionBy)
        else ParquetTable.create(df, path)
        ParquetTable.currentVersion(s, path).getOrElse(1L)
      }
    case DescribeRelation(GraftTable(path), partitionSpec, extended, _) =>
      val statement = s"DESCRIBE graft.`$path`"
      only(statement, "DESC[RIBE] [TABLE] graft.`p`")(
        Option.when(extended)("EXTENDED"), Option.when(partitionSpec.nonEmpty)("a PARTITION spec"))
      GraftCommand(statement, Seq("col_name", "data_type", "info").map(column(_, StringType)))(
        describe(_, path))
    case RenameColumn(GraftTable(path), from, to) =>
      val statement = s"ALTER TABLE graft.`$path` RENAME COLUMN"
      only(statement, "RENAME COLUMN a TO b")(nested(from))
      versioned(statement, "version", nullable = true)(
        ParquetTable.renameColumn(_, path, from.name.head, to))
    case DropColumns(GraftTable(path), fields, ifExists) =>
      val statement = s"ALTER TABLE graft.`$path` DROP COLUMN"
      only(statement, "DROP COLUMN a")(
        Option.when(fields.length != 1)("dropping several columns"),
        Option.when(ifExists)("IF EXISTS"), nested(fields.head))
      versioned(statement, "version", nullable = true)(
        ParquetTable.dropColumn(_, path, fields.head.name.head))
    // the parser puts the table under a Filter here, as an
    // UnresolvedRelation: matched before rewriteRelations would replace it
    case AddCheckConstraint(Filter(_, GraftTable(path)), check) =>
      val statement = s"ALTER TABLE graft.`$path` ADD CONSTRAINT"
      only(statement, "ADD CONSTRAINT name CHECK (expr)")(
        Option.when(check.userProvidedName == null)("an unnamed CHECK"),
        Option.when(check.userProvidedCharacteristic != ConstraintCharacteristic.empty)(
          "a constraint characteristic (ENFORCED, RELY, …)"))
      ddl(statement)(Constraints.add(_, path, check.userProvidedName, check.condition.trim))
    case DropConstraint(GraftTable(path), name, ifExists, cascade) =>
      val statement = s"ALTER TABLE graft.`$path` DROP CONSTRAINT"
      only(statement, "DROP CONSTRAINT name")(
        Option.when(ifExists)("IF EXISTS"), Option.when(cascade)("CASCADE"))
      ddl(statement)(Constraints.drop(_, path, name))
    case AddColumns(GraftTable(path), cols) =>
      val statement = s"ALTER TABLE graft.`$path` ADD COLUMN"
      val c = cols.head
      only(statement, "ADD COLUMN c type [DEFAULT expr]")(
        Option.when(cols.length != 1)("adding several columns"),
        c.path.map(p => s"the nested column ${p.name.mkString(".")}.${c.colName}"),
        Option.when(!c.nullable)("NOT NULL"),
        Option.when(c.comment.nonEmpty)("COMMENT"),
        Option.when(c.position.nonEmpty)("a column position"))
      versioned(statement, "version", nullable = true)(
        ParquetTable.addColumn(_, path, c.colName, c.dataType.sql, c.default.map(_.originalSQL)))
    case AlterColumns(GraftTable(path), specs) =>
      val statement = s"ALTER TABLE graft.`$path` ALTER COLUMN"
      val a = specs.head
      only(statement, "ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT")(
        Option.when(specs.length != 1)("altering several columns"),
        nested(a.column),
        Option.when(a.newDataType.nonEmpty || a.newNullability.nonEmpty ||
          a.newComment.nonEmpty || a.newPosition.nonEmpty ||
          a.newDefaultExpression.isDefined == a.dropDefault)("a change other than the DEFAULT"))
      ddl(statement)(ColumnDefaults.setDefault(_, path, a.column.name.head,
        a.newDefaultExpression.map(_.originalSQL)))
    case SetTableProperties(GraftTable(path), props) =>
      ddl(s"ALTER TABLE graft.`$path` SET TBLPROPERTIES")(TableProperties.set(_, path, props))
    case UnsetTableProperties(GraftTable(path), keys, _) =>
      ddl(s"ALTER TABLE graft.`$path` UNSET TBLPROPERTIES")(TableProperties.unset(_, path, keys))
    case ShowTableProperties(GraftTable(path), key, _) =>
      val statement = s"SHOW TBLPROPERTIES graft.`$path`"
      only(statement, "SHOW TBLPROPERTIES graft.`p`")(key.map(k => s"the single key '$k'"))
      GraftCommand(statement, Seq(column("key", StringType), column("value", StringType)))(
        TableProperties.list(_, path).map { case (k, v) => Row(k, v) })
    case other => rewriteRelations(other)
  }

  /** Row-level conditions run against the target read (resolved by the
    * session at command run time); a subquery inside them would need its
    * own resolution pass — fail fast at parse with the reason instead of
    * a downstream unresolved-plan error.
    */
  private def requireNoSubquery(e: Expression, verb: String, path: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$verb graft.`$path`: subqueries in conditions are not supported; " +
        "materialize the subquery into the predicate or use the DataFrame API")

  /** DESCRIBE's rows: one per logical column, (name, type, provenance). */
  private def describe(session: SparkSession, path: String): Seq[Row] = {
    val schema = ParquetTable.read(session, path).schema
    val parts = ParquetTable.partitionColumns(session, path).map(_.toLowerCase).toSet
    val gen = GeneratedColumns.list(session, path).map { case (n, e) => n.toLowerCase -> e }.toMap
    val ident = IdentityColumns.list(session, path)
      .map(r => r._1.toLowerCase -> ((r._2, r._3))).toMap
    val defs = ColumnDefaults.list(session, path).filter(_.live)
      .map(r => r.name.toLowerCase -> r).toMap
    val renamed = ParquetTable.currentVersion(session, path)
      .map(ParquetTable.columnMapping(session, path, _)._1)
      .getOrElse(Map.empty[String, String])
      .map { case (phys, logical) => logical.toLowerCase -> phys }
    schema.fields.toSeq.map { f =>
      val n = f.name.toLowerCase
      val info = Seq(
        if (parts.contains(n)) Some("partition") else None,
        gen.get(n).map(e => s"generated($e)"),
        ident.get(n).map { case (s, st) => s"identity($s,$st)" },
        defs.get(n).map(r =>
          s"added@v${r.addedAt}" + r.default.map(d => s" default $d").getOrElse("")),
        renamed.get(n).map(p => s"renamed from $p")
      ).flatten.mkString("; ")
      Row(f.name, f.dataType.simpleString, info)
    }
  }

  /** The pre-match: statement shapes Spark's grammar lacks or misreads
    * (Delta adds them through its own parser extension), recognized on
    * the raw text before Spark's parser sees it.
    */
  private val RestoreStmt =
    """(?is)\s*RESTORE\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsStmt =
    """(?is)\s*RESTORE\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+ZORDER\s+BY\s*\(([^)]+)\)\s*;?\s*""".r
  private val OptimizeBloomStmt =
    ("""(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+BLOOM\s+BY\s*\(([^)]+)\)""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  private val CompactWhereStmt =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val CompactStmt =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r
  private val CompactSmallStmt =
    ("""(?is)\s*OPTIMIZE\s+graft\s*\.\s*`([^`]+)`\s+COMPACT\s+SMALL""" +
      """(?:\s+BELOW\s+(\d+))?\s*;?\s*""").r
  private val VacuumStmt =
    ("""(?is)\s*VACUUM\s+graft\s*\.\s*`([^`]+)`(?:\s+RETAIN\s+(\d+)\s+""" +
      """(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*""").r
  private val HistoryStmt =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r
  private val DetailStmt =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r
  private val FsckStmt =
    """(?is)\s*FSCK\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r
  private val GenerateStmt =
    ("""(?is)\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+""" +
      """graft\s*\.\s*`([^`]+)`\s*;?\s*""").r
  private val CloneStmt =
    ("""(?is)\s*CREATE\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+SHALLOW\s+CLONE\s+""" +
      """graft\s*\.\s*`([^`]+)`(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r
  private val ConvertStmt =
    ("""(?is)\s*CONVERT\s+TO\s+GRAFT\s+parquet\s*\.\s*`([^`]+)`""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  private val AddGeneratedStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+ADD\s+COLUMN\s+""" +
      """(\w+)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*;?\s*""").r
  private val DropGeneratedStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+DROP\s+GENERATED\s+""" +
      """COLUMN\s+(\w+)\s*;?\s*""").r
  private val AddIdentityStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+ADD\s+COLUMN\s+(\w+)\s+""" +
      """GENERATED\s+BY\s+DEFAULT\s+AS\s+IDENTITY""" +
      """(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+(-?\d+)\s*\))?\s*;?\s*""").r
  private val DropIdentityStmt =
    ("""(?is)\s*ALTER\s+TABLE\s+graft\s*\.\s*`([^`]+)`\s+DROP\s+IDENTITY\s+""" +
      """COLUMN\s+(\w+)\s*;?\s*""").r
  // matched BEFORE AnalyzeStmt (whose clause is COMPUTE STATISTICS, not
  // COMPUTE INCREMENTAL STATISTICS)
  private val AnalyzeIncrementalStmt =
    ("""(?is)\s*ANALYZE\s+graft\s*\.\s*`([^`]+)`\s+COMPUTE\s+INCREMENTAL\s+""" +
      """STATISTICS\s+USING\s+PK\s*\(([^)]+)\)\s*;?\s*""").r
  private val AnalyzeStmt =
    ("""(?is)\s*ANALYZE\s+graft\s*\.\s*`([^`]+)`\s+COMPUTE\s+STATISTICS\s+""" +
      """FOR\s+COLUMNS\s*\(([^)]+)\)\s*;?\s*""").r
  private val AnalyzeHistogramStmt =
    ("""(?is)\s*ANALYZE\s+graft\s*\.\s*`([^`]+)`\s+COMPUTE\s+HISTOGRAM\s+""" +
      """FOR\s+COLUMNS\s*\(([^)]+)\)\s*;?\s*""").r
  private val ShowStatsStmt =
    """(?is)\s*SHOW\s+STATISTICS\s+graft\s*\.\s*`([^`]+)`\s*;?\s*""".r

  /** A pre-matched `(c1, `c2`, …)` list; a clause left out is empty. */
  private def names(list: String): Seq[String] =
    Option(list).toSeq.flatMap(_.split(',')).map(_.trim.stripPrefix("`").stripSuffix("`"))
      .filter(_.nonEmpty)

  /** Comments before a statement's first token (Spark's parser skips
    * them; the anchored pre-match regexes must too).
    */
  private val LeadingComments = """(?s)\A(?:\s+|--[^\n]*|/\*.*?\*/)*+""".r

  private[sql] def parseMaintenance(sqlText: String): Option[LogicalPlan] =
    Some(LeadingComments.replaceFirstIn(sqlText, "")).collect {
      case RestoreStmt(path, v) =>
        versioned(s"RESTORE TABLE graft.`$path`", "restored_to_version")(
          ParquetTable.restore(_, path, v.toLong))
      case RestoreTsStmt(path, ts) =>
        versioned(s"RESTORE TABLE graft.`$path`", "restored_to_version") { s =>
          val millis = epochMillis(ts.trim, s"RESTORE graft.`$path` TO TIMESTAMP AS OF")
          ParquetTable.restore(s, path, ParquetTable.versionAtTimestamp(s, path, millis))
        }
      case ConvertStmt(path, cols) =>
        versioned(s"CONVERT TO GRAFT parquet.`$path`", "converted_version")(
          ParquetTable.convert(_, path, names(cols)))
      case CloneStmt(target, source, v) =>
        versioned(s"CREATE TABLE graft.`$target` SHALLOW CLONE", "cloned_version")(
          ParquetTable.shallowClone(_, source, target, Option(v).map(_.toLong)))
      case AddGeneratedStmt(path, name, genExpr) =>
        ddl(s"ALTER TABLE graft.`$path` ADD COLUMN … GENERATED ALWAYS")(
          GeneratedColumns.add(_, path, name, genExpr.trim))
      case DropGeneratedStmt(path, name) =>
        ddl(s"ALTER TABLE graft.`$path` DROP GENERATED COLUMN")(
          GeneratedColumns.drop(_, path, name))
      case AddIdentityStmt(path, name, start, step) =>
        ddl(s"ALTER TABLE graft.`$path` ADD COLUMN … AS IDENTITY")(IdentityColumns.add(_, path,
          name, Option(start).map(_.toLong).getOrElse(1L), Option(step).map(_.toLong).getOrElse(1L)))
      case DropIdentityStmt(path, name) =>
        ddl(s"ALTER TABLE graft.`$path` DROP IDENTITY COLUMN")(IdentityColumns.drop(_, path, name))
      case OptimizeBloomStmt(path, bloomCols, zCols) =>
        versioned(s"OPTIMIZE graft.`$path` BLOOM BY", "version", nullable = true)(
          ParquetTable.optimizeBloom(_, path, names(bloomCols), names(zCols)))
      case OptimizeStmt(path, cols) =>
        versioned(s"OPTIMIZE graft.`$path` ZORDER BY", "committed_version")(
          ParquetTable.optimize(_, path, names(cols)))
      case CompactWhereStmt(path, cond) =>
        versioned(s"OPTIMIZE graft.`$path` WHERE", "optimized_version")(
          ParquetTable.compactWhere(_, path, expr(cond.trim)))
      case CompactSmallStmt(path, below) =>
        versioned(s"OPTIMIZE graft.`$path` COMPACT SMALL", "version", nullable = true)(
          ParquetTable.compactSmall(_, path,
            Option(below).map(_.toLong).getOrElse(32L * 1024 * 1024)))
      case CompactStmt(path) =>
        versioned(s"OPTIMIZE graft.`$path`", "optimized_version") { s =>
          ParquetTable.compact(s, path)
          ParquetTable.currentVersion(s, path).getOrElse(-1L)
        }
      case VacuumStmt(path, retain, unit, dry) =>
        val n = Option(retain).map(_.toInt).getOrElse(2)
        def keep(s: SparkSession) =
          if ("HOURS".equalsIgnoreCase(unit)) ParquetTable.keepCountForHorizon(s, path, n * 3600000L)
          else n
        if (dry != null)
          GraftCommand(s"VACUUM graft.`$path` DRY RUN",
            Seq(column("kind", StringType), column("path", StringType)))(
            s => ParquetTable.vacuumPlan(s, path, keep(s)).map { case (k, p) => Row(k, p) })
        else versioned(s"VACUUM graft.`$path`", "versions_retained") { s =>
          ParquetTable.vacuum(s, path, keep(s))
          ParquetTable.versions(s, path).size.toLong
        }
      case HistoryStmt(path) =>
        GraftCommand(s"DESCRIBE HISTORY graft.`$path`", Seq(
          column("version", LongType), column("partitioned", BooleanType),
          column("n_entries", IntegerType), column("n_data_dirs", IntegerType),
          column("has_change_manifest", BooleanType),
          column("commit_ts", TimestampType, nullable = true),
          column("manifest_mtime", TimestampType)))(
          ParquetTable.history(_, path).collect().toSeq)
      case DetailStmt(path) =>
        GraftCommand(s"DESCRIBE DETAIL graft.`$path`", Seq(
          column("location", StringType), column("format", StringType),
          column("version", LongType, nullable = true),
          column("commit_ts", TimestampType, nullable = true),
          column("partitioned", BooleanType),
          column("partition_columns", ArrayType(StringType, containsNull = false)),
          column("n_partitions", IntegerType), column("n_data_dirs", IntegerType),
          column("num_files", LongType, nullable = true),
          column("num_rows", LongType, nullable = true),
          column("num_deleted_rows", LongType), column("n_versions", IntegerType),
          column("n_constraints", IntegerType), column("column_mapping", StringType)))(
          ParquetTable.detail(_, path).collect().toSeq)
      case FsckStmt(path) =>
        GraftCommand(s"FSCK graft.`$path`", Seq(
          column("kind", StringType), column("version", LongType), column("detail", StringType)))(
          ParquetTable.fsck(_, path).collect().toSeq)
      case GenerateStmt(path) =>
        GraftCommand(s"GENERATE symlink_format_manifest FOR TABLE graft.`$path`",
          Seq(column("manifest", StringType), column("n_files", LongType)))(
          ParquetTable.generateSymlinkManifest(_, path).map { case (m, n) => Row(m, n) })
      case AnalyzeIncrementalStmt(path, pk) =>
        versioned(s"ANALYZE graft.`$path` COMPUTE INCREMENTAL STATISTICS", "analyzed_version")(
          StatsSketch.analyzeIncremental(_, path, names(pk), ParquetTable.statsDir(path)))
      case AnalyzeStmt(path, cols) =>
        versioned(s"ANALYZE graft.`$path` COMPUTE STATISTICS", "analyzed_version")(
          StatsSketch.analyze(_, path, names(cols), ParquetTable.statsDir(path)))
      case AnalyzeHistogramStmt(path, cols) =>
        GraftCommand(s"ANALYZE graft.`$path` COMPUTE HISTOGRAM",
          Seq(column("column", StringType), column("bins", IntegerType))) { s =>
          // stamp the bins with the version they describe — the read path's
          // staleness guard refuses bins older than the last full ANALYZE,
          // newer than the snapshot being read, or any bins once an
          // update/delete window flipped the sketch inexact. A plain
          // (non-versioned) location takes the free-standing tier (−1): no
          // lifecycle, bins valid until the next StatsSketch.save
          // re-baseline deletes them
          val v = ParquetTable.currentVersion(s, path).getOrElse(-1L)
          StatsHistogram.build(ParquetTable.read(s, path), names(cols),
              ParquetTable.statsDir(path), version = v)
            .toSeq.sortBy(_._1).map { case (c, bins) => Row(c, bins.size) }
        }
      case ShowStatsStmt(path) =>
        GraftCommand(s"SHOW STATISTICS graft.`$path`", Seq(
          column("column", StringType), column("m", IntegerType), column("zeros", LongType),
          column("s_scaled", LongType), column("ndv_est", DoubleType),
          column("exact", BooleanType))) { s =>
          val dir = ParquetTable.statsDir(path)
          val exact = StatsSketch.isExact(s, dir)
          StatsSketch.estimate(s, dir).orderBy("column").collect().toSeq
            .map(r => Row(r.getString(0), r.getInt(1), r.getLong(2),
              r.getLong(3), r.getDouble(4), exact))
        }
    }

  /** A timestamp literal as epoch millis: digits are epoch millis;
    * `yyyy-MM-dd[ HH:mm:ss[.f]]` reads in the JVM zone, the clock the
    * manifests' commit times are stamped from.
    */
  private def epochMillis(str: String, what: String): Long = {
    def fail() = throw new IllegalArgumentException(
      s"$what '$str': expected 'yyyy-MM-dd[ HH:mm:ss[.f]]' or epoch millis")
    if (str.nonEmpty && str.forall(_.isDigit)) str.toLongOption.getOrElse(fail())
    else try java.sql.Timestamp.valueOf(if (str.length == 10) str + " 00:00:00" else str).getTime
    catch { case _: IllegalArgumentException => fail() }
  }

  /** Substitute every `graft.`path`` relation in `plan` with the
    * versioned-table read it names: bare references read the CURRENT
    * manifest version, `VERSION AS OF n` time-travels via `readAt`, and
    * `TIMESTAMP AS OF '<ts>'` resolves through the manifests' commit
    * times via `readAtTimestamp` (accepted literal shapes:
    * `'yyyy-MM-dd HH:mm:ss[.f]'`, `'yyyy-MM-dd'`, a TIMESTAMP literal, or
    * an integer epoch-millis). Non-graft relations pass through for the
    * catalog to resolve. Needs an active session (the substituted subtree
    * is the resolved read plan, so the manifest is consulted at parse
    * time — exactly when `spark.sql` runs this parser).
    */
  private[sql] def rewriteRelations(plan: LogicalPlan): LogicalPlan = {
    def session(what: String): SparkSession = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException(s"$what: no active SparkSession to resolve the read"))
    def readPlan(path: String, version: Option[String]): LogicalPlan = {
      val spark = session(s"graft.`$path`")
      val df = version match {
        case Some(v) =>
          val ver = try v.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"graft.`$path` VERSION AS OF $v: graft versions are integers")
          }
          ParquetTable.readAt(spark, path, ver)
        case None => ParquetTable.read(spark, path)
      }
      df.queryExecution.logical
    }
    // TIMESTAMP AS OF literal → epoch millis. TIMESTAMP literals arrive
    // as epoch micros already. Non-literals are rejected: time travel must
    // be decidable at parse time.
    def tsMillisOf(path: String, e: Expression): Long = e match {
      case Literal(s, StringType) if s != null =>
        epochMillis(s.toString.trim, s"graft.`$path` TIMESTAMP AS OF")
      case Literal(micros: Long, TimestampType) => Math.floorDiv(micros, 1000L)
      case other => throw new IllegalArgumentException(
        s"graft.`$path` TIMESTAMP AS OF: literal timestamp required, got ${other.sql}")
    }
    plan.transformUpWithSubqueries {
      case RelationTimeTravel(GraftTable(path), ts, version) =>
        ts match {
          case Some(e) =>
            ParquetTable.readAtTimestamp(session(s"graft.`$path`"), path, tsMillisOf(path, e))
              .queryExecution.logical
          case None => readPlan(path, version)
        }
      case u @ GraftTable(path) if u.isInstanceOf[UnresolvedRelation] => readPlan(path, None)
      // Delta's `table_changes` TVF equivalent: the per-commit CDF as a
      // relation in ANY query position.
      //   graft_table_changes('/path', fromVersion, toVersion, pk...)
      // (pk columns feed the snapshot-diff fallback for commits without
      // a captured change manifest — see ParquetTable.tableChanges)
      case tvf: UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase) == Seq("graft_table_changes") =>
        val args = tvf.functionArgs.map {
          case Literal(v, _) if v != null => v.toString
          case other => throw new IllegalArgumentException(
            "graft_table_changes: arguments must be non-null literals, " +
              s"got ${other.sql}")
        }
        require(args.length >= 3, "graft_table_changes(path, fromVersion, " +
          "toVersion, pkCol...) needs at least path + two versions")
        ParquetTable.tableChanges(session("graft_table_changes"), args(0), args(1).toLong,
          args(2).toLong, args.drop(3)).queryExecution.logical
    }
  }

  /** `MergeIntoTable` → its command when the target is `graft.`path``
    * (the source's graft relations rewritten too); None when the
    * statement belongs to someone else. Unsupported clause shapes on a
    * graft target throw, naming the clause.
    */
  private[sql] def rewrite(m: MergeIntoTable): Option[GraftCommand] =
    GraftTable.unapply(m.targetTable).map { path =>
      def fail(what: String): Nothing = throw new IllegalArgumentException(
        s"MERGE INTO graft.`$path`: $what (supported shapes: ON pk equality " +
          "conjunction; matched clauses 'WHEN MATCHED [AND cond] THEN " +
          "UPDATE SET *' and 'WHEN MATCHED [AND cond] THEN DELETE' in any " +
          "order; at most one 'WHEN NOT MATCHED [AND cond] THEN INSERT *')")
      val pk = pkColumns(m.mergeCondition).getOrElse(
        fail(s"ON condition must be a conjunction of t.col = s.col " +
          s"equalities on same-named columns, got: ${m.mergeCondition.sql}"))
      val source = rewriteRelations(m.sourceTable)
      val simple = m.matchedActions == Seq(UpdateStarAction(None)) &&
        m.notMatchedActions == Seq(InsertStarAction(None)) &&
        m.notMatchedBySourceActions.isEmpty
      if (simple)
        ddl(s"MERGE INTO graft.`$path`") { s =>
          val updates = GraftColumnBridge.ofRows(s, source)
          ParquetTable.merge(s, path, updates, pk, ParquetTable.partitionColumns(s, path),
            evolveSchema = m.withSchemaEvolution)
        }
      else {
        // conditional-clause shape → the rewrite-tier clause image
        if (m.withSchemaEvolution)
          fail("WITH SCHEMA EVOLUTION is not supported with conditional clauses")
        def toClause(a: Any): MergeClause = a match {
          case UpdateStarAction(c) => MergeClause(c.map(_.sql), MergeClause.UpdateStar)
          case DeleteAction(c) => MergeClause(c.map(_.sql), MergeClause.Delete)
          case UpdateAction(c, assigns, _) =>
            MergeClause(c.map(_.sql), MergeClause.UpdateSet,
              assigns.map { as =>
                val name = as.key match {
                  case u: UnresolvedAttribute => u.nameParts.last
                  case attr: Attribute => attr.name
                  case other => fail(
                    s"UPDATE SET key must be a plain column, got ${other.sql}")
                }
                name -> as.value.sql
              })
          case other => fail(s"unsupported clause: $other")
        }
        val matched = m.matchedActions.map(toClause)
        val bySource = m.notMatchedBySourceActions.map(toClause)
        if (bySource.exists(_.kind == MergeClause.UpdateStar))
          fail("WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * (no source row)")
        val insert = m.notMatchedActions match {
          case Seq() => None
          case Seq(InsertStarAction(c)) => Some(c.map(_.sql))
          case other => fail(s"unsupported not-matched clause(s): $other")
        }
        def aliasOf(plan: LogicalPlan): Option[String] = plan match {
          case SubqueryAlias(id, _) => Some(id.name)
          case _ => None
        }
        val hasConds = (matched ++ bySource).exists(c =>
          c.cond.isDefined || c.sets.nonEmpty) || insert.exists(_.isDefined)
        val tA = aliasOf(m.targetTable)
        val sA = aliasOf(m.sourceTable)
        if (hasConds && (tA.isEmpty || sA.isEmpty))
          fail("conditional clauses need explicit target AND source " +
            "aliases (MERGE INTO graft.`p` AS t USING src AS s …) so the " +
            "conditions' qualifiers can resolve")
        val tAlias = tA.getOrElse("__graft_t")
        val sAlias = sA.getOrElse("__graft_s")
        ddl(s"MERGE INTO graft.`$path`") { s =>
          val updates = GraftColumnBridge.ofRows(s, source)
          val partitionColumns = ParquetTable.partitionColumns(s, path)
          // the clause image replaces the upsert image inside the SAME
          // partition-scoped copy-on-write commit machinery. BY SOURCE
          // clauses must see EVERY target row, so the partition scoping
          // (affected = source partitions) no longer applies — the merge
          // degrades to whole-table on partitioned targets; refuse with
          // guidance instead of silently dropping out-of-slice rows.
          if (bySource.nonEmpty && partitionColumns.nonEmpty)
            throw new IllegalArgumentException(
              s"MERGE INTO graft.`$path`: WHEN NOT MATCHED BY SOURCE needs " +
                "the whole target, which defeats partition-scoped merging " +
                "on a partitioned table — run it as DELETE/UPDATE with an " +
                "anti-join condition instead")
          // UPDATE SET on a partition column would move the row into a
          // partition dir the partition-scoped manifest never maps — the
          // row silently vanishes from reads. Mirror ParquetTable.update's
          // resolveSet guard at the clause layer.
          for {
            cl <- matched ++ bySource
            (key, _) <- cl.sets
            pc <- partitionColumns.find(_.equalsIgnoreCase(key))
          } throw new IllegalArgumentException(
            s"MERGE INTO graft.`$path`: UPDATE SET cannot assign " +
              s"partition column $pc — a moved row would land in a " +
              "partition the merge's manifest scope never maps; " +
              "DELETE + re-INSERT the row to move it across partitions")
          val combine = (t0: DataFrame, s0: DataFrame) =>
            clauseImage(t0, s0, pk, tAlias, sAlias, matched, insert, bySource)
          ParquetTable.merge(s, path, updates, pk, partitionColumns,
            mergeOnRead = Some(false), combine = Some(combine))
        }
      }
    }

  /** The conditional-clause merge image: full-outer join target slice ⟗
    * deduped source on pk, pick each row's fate by the FIRST satisfied
    * clause (SQL MERGE order semantics; a null condition falls through),
    * emit the clause's image for UPDATE/INSERT rows (source row, or the
    * SET assignments over both sides), drop DELETE rows and
    * insert-filtered unmatched source rows, keep everything else.
    * `bySource` clauses govern target rows with NO source match
    * (Delta's WHEN NOT MATCHED BY SOURCE — the sync-merge verbs).
    */
  private[sql] def clauseImage(
      t0: DataFrame,
      s0: DataFrame,
      pk: Seq[String],
      tAlias: String,
      sAlias: String,
      matched: Seq[MergeClause],
      insert: Option[Option[String]],
      bySource: Seq[MergeClause] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = t0.columns.toSeq
    val t = t0.withColumn("__graft_tp", lit(true)).alias(tAlias)
    // the source keeps its EXTRA columns through the join (Delta parity:
    // clause conditions and SET values may reference source-only columns;
    // the final select projects back to the target schema). Target
    // columns the source lacks still fail fast with guidance — the
    // UPDATE/INSERT star images need every one of them.
    val missing = cols.filterNot(c => s0.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"MERGE source is missing target column(s) ${missing.mkString(", ")} — " +
        "UPDATE/INSERT images project the full target schema from the source")
    val s = s0.withColumn("__graft_sp", lit(true)).alias(sAlias)
    val j = t.join(s, pk, "full_outer")
    val isMatched = col("__graft_tp").isNotNull && col("__graft_sp").isNotNull
    // action codes: matched clause i → i; by-source clause i → 100 + i;
    // keep target → -1; insert → -2; drop → -3
    def chain(clauses: Seq[MergeClause], offset: Int): org.apache.spark.sql.Column =
      clauses.zipWithIndex.reverse.foldLeft(lit(-1)) { case (els, (cl, i)) =>
        cl.cond.map(c => when(expr(c), lit(offset + i)).otherwise(els))
          .getOrElse(lit(offset + i))
      }
    val insertAct = insert match {
      case None => lit(-3)
      case Some(None) => lit(-2)
      case Some(Some(c)) => when(expr(c), lit(-2)).otherwise(lit(-3))
    }
    val act = when(isMatched, chain(matched, 0))
      .when(col("__graft_tp").isNotNull, chain(bySource, 100))
      .otherwise(insertAct)
    val indexed = matched.zipWithIndex.map { case (c, i) => (c, i) } ++
      bySource.zipWithIndex.map { case (c, i) => (c, 100 + i) }
    val dropRow = indexed.collect { case (c, i) if c.kind == MergeClause.Delete =>
      act === i }.foldLeft(act === lit(-3))(_ || _)
    j.filter(!dropRow)
      .select(cols.map { c =>
        if (pk.exists(_.equalsIgnoreCase(c))) col(c).as(c) // using-join coalesced
        else {
          val base = when(act === -2, col(s"$sAlias.$c"))
          indexed.foldLeft(base) {
            case (acc, (cl, i)) => cl.kind match {
              case MergeClause.UpdateStar =>
                acc.when(act === i, col(s"$sAlias.$c"))
              case MergeClause.UpdateSet =>
                cl.sets.find(_._1.equalsIgnoreCase(c)) match {
                  case Some((_, valueSql)) => acc.when(act === i, expr(valueSql))
                  case None => acc // unassigned column keeps the target value
                }
              case MergeClause.Delete => acc
            }
          }.otherwise(col(s"$tAlias.$c")).as(c)
        }
      }: _*)
  }

  /** `t.k1 = s.k1 AND t.k2 = s.k2 …` → Some(Seq(k1, k2…)); anything else
    * (inequalities, functions, differing column names) → None.
    */
  private def pkColumns(cond: Expression): Option[Seq[String]] = cond match {
    case And(l, r) =>
      for (a <- pkColumns(l); b <- pkColumns(r)) yield a ++ b
    case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
      Some(Seq(a.nameParts.last))
    case EqualTo(a: Attribute, b: Attribute)
        if a.name.equalsIgnoreCase(b.name) =>
      Some(Seq(a.name))
    case _ => None
  }
}

/** One MERGE clause in replayable string form: `cond` = the AND
  * condition's SQL (None = unconditional), `kind` = update-star /
  * update-set / delete, `sets` = SET assignments (update-set only).
  */
case class MergeClause(
    cond: Option[String],
    kind: String,
    sets: Seq[(String, String)] = Nil)

object MergeClause {
  val UpdateStar = "update_star"
  val UpdateSet = "update_set"
  val Delete = "delete"
}

/** The one runnable node of graft SQL: `statement` names the statement
  * and its target, `output` its result columns (built once, when the
  * statement is parsed), and `body` runs the verb. The body rides in the
  * second parameter list, which tree copies carry through
  * `otherCopyArgs`; the syntax table in [[GraftSql]] lists every body.
  */
case class GraftCommand(statement: String, override val output: Seq[Attribute])(
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {

  override protected def otherCopyArgs: Seq[AnyRef] = Seq(body)

  override def run(session: SparkSession): Seq[Row] = body(session)
}

/** Delegating parser that owns exactly one namespace: `graft.`path``.
  * Statements over a graft target become [[GraftCommand]]s, graft
  * relations anywhere else become versioned-table reads (see
  * [[GraftSql]]); every other string and plan passes through untouched.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSql.statementPlan(sqlText, delegate.parsePlan)

  override def parsePlanWithParameters(
      sqlText: String, ctx: ParameterContext): LogicalPlan =
    GraftSql.statementPlan(sqlText, delegate.parsePlanWithParameters(_, ctx))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
