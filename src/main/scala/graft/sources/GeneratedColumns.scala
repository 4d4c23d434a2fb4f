package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Generated columns — Delta's `GENERATED ALWAYS AS (expr)` tier (the
  * reference would get this from the Delta jar; see also Databricks'
  * docs on generated partition columns).
  *
  * A generation rule `(name, exprSql)` means every stored row satisfies
  * `name <=> (exprSql)`. Enforcement is Delta's own design: adding a
  * rule registers a paired CHECK constraint `_gen_<name>` (Delta
  * compiles generation expressions into invariants the same way), so
  * every existing write path — plain appends, versioned commits, MERGE,
  * UPDATE, SQL INSERT — already validates it with no new code. What this
  * object adds is the FILL: ingest verbs compute the column for frames
  * that do not carry it ([[fill]], called at the top of ParquetTable's
  * create / append / merge / insert entry points; filling is idempotent,
  * so verbs that delegate to each other fill at most once).
  *
  * DDL cost is O(1) metadata plus one validation scan when the table
  * already holds data (paid by the paired `Constraints.add`). Adding a
  * rule for a column ABSENT from an existing table is refused — existing
  * rows would have no value, and a metadata verb must not rewrite data
  * (Delta refuses post-create generated columns entirely; the supported
  * flows are: register the rule BEFORE the first write, or add it to a
  * table that already materializes the column).
  *
  * The 100 TB payoff is generated PARTITION columns (`year(ts)`,
  * `to_date(ts)`): writers never hand-maintain the partition key — the
  * fill derives it row-by-row inside the write's own projection (no
  * extra pass, no shuffle) — and reads prune on it like any partition
  * column.
  *
  * Dropping a rule goes through [[drop]] (removes the rule AND its
  * paired invariant). Dropping only the `_gen_<name>` CHECK via SQL
  * leaves the fill active but unenforced — supported, but prefer
  * [[drop]]. RENAME/DROP COLUMN on any column a rule mentions is
  * refused by the existing constraint-reference guard (the paired
  * invariant names both the column and its inputs).
  *
  * Storage: one `name\texprSql` row per rule in a [[TableDdl]] file.
  */
object GeneratedColumns {

  private val file = TableDdl.Generated

  /** The table's generation rules, oldest first. Empty for no file. */
  def list(spark: SparkSession, table: String): Seq[(String, String)] =
    file.read(spark, table).map(r => (r(0), r(1)))

  private def write(spark: SparkSession, table: String, rules: Seq[(String, String)]): Unit =
    file.write(spark, table, rules.map { case (n, e) => Seq(n, e) })

  /** Register `name GENERATED ALWAYS AS (exprSql)`. If the table exists
    * it must already carry the column (validated against the expression
    * in one scan, via the paired constraint); register before the first
    * write to have ingest compute the column from day one.
    */
  def add(spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"generated column name must be [A-Za-z0-9_]+, got '$name'")
    require(!exprSql.exists(c => c == '\n' || c == '\r' || c == '\t'),
      s"generated column $name: expression must not contain newlines or tabs")
    require(!s"\\b${java.util.regex.Pattern.quote(name.toLowerCase)}\\b".r
        .findFirstIn(exprSql.toLowerCase).isDefined,
      s"generated column $name: expression must not reference the column itself")
    val cur = list(spark, table)
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"generated column $name already defined on $table")
    if (ParquetTable.exists(spark, table)) {
      val cols = ParquetTable.read(spark, table).columns
      require(cols.exists(_.equalsIgnoreCase(name)),
        s"generated column $name: column is absent from the existing table " +
          s"$table — register the rule before the first write, or " +
          "materialize the column with a rewrite first (a metadata verb " +
          "will not backfill data)")
    }
    // the paired invariant: validates existing data now, every write after
    Constraints.add(spark, table, s"_gen_$name", s"$name <=> ($exprSql)")
    write(spark, table, cur :+ (name -> exprSql))
  }

  /** Drop a generation rule and its paired `_gen_<name>` invariant. */
  def drop(spark: SparkSession, table: String, name: String): Unit = {
    val cur = list(spark, table)
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"no generated column named $name on $table " +
        s"(have: ${cur.map(_._1).mkString(", ") match { case "" => "none"; case s => s }})")
    if (Constraints.list(spark, table).exists(_._1.equalsIgnoreCase(s"_gen_$name")))
      Constraints.drop(spark, table, s"_gen_$name")
    write(spark, table, cur.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Compute every registered generated column the frame does not carry —
    * a row-local projection inside the write's own stage (no extra pass).
    * Frames that DO carry the column pass through untouched; the paired
    * invariant validates their values at commit like any CHECK.
    */
  private[sources] def fill(spark: SparkSession, table: String, df: DataFrame): DataFrame =
    list(spark, table).foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d else d.withColumn(n, expr(e))
    }
}
