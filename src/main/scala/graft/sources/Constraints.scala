package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, not}

/** CHECK constraints on graft tables — Delta's
  * `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` tier (the reference
  * gets this from Delta; the lakehouse's write-side data-quality gate,
  * complementing the row-routing [[graft.operators.Validator]] which
  * quarantines instead of failing).
  *
  * Storage: one `name\texprSql` row per constraint in a [[TableDdl]]
  * file; writers read the constraint set once per commit.
  *
  * Enforcement: every versioned commit validates the DATA DIR IT JUST
  * WROTE before publishing the manifest ([[ParquetTable]] calls
  * [[validateWritten]] between the parquet write and the CAS commit).
  * Reading back the written files costs one extra scan of the commit's
  * new data — never a recompute of the producing plan, never a scan of
  * untouched data — and zero when the table has no constraints (probe =
  * one file-existence check). A violation deletes the orphan dir and
  * fails the commit; concurrent readers never see it (the manifest was
  * never published). Rows already in the table are validated by
  * induction: [[add]] scans existing data once, Delta-style, and every
  * later commit validated its own writes.
  *
  * Restore is metadata-only and can republish data that predates a
  * constraint — same as Delta, where RESTORE does not re-validate
  * either; drop the constraint or re-add it (re-validating) after
  * restoring across an ADD CONSTRAINT boundary if in doubt.
  */
object Constraints {

  private val file = TableDdl.Constraints

  /** The table's constraints, oldest first. Empty for no file. */
  def list(spark: SparkSession, table: String): Seq[(String, String)] =
    file.read(spark, table).map(r => (r(0), r(1)))

  private def write(spark: SparkSession, table: String, cs: Seq[(String, String)]): Unit =
    file.write(spark, table, cs.map { case (n, e) => Seq(n, e) })

  /** Add a CHECK constraint. Existing data must already satisfy it
    * (one scan, Delta semantics); the name must be new and
    * `[A-Za-z0-9_]+`. NULL expression results pass, like SQL CHECK.
    */
  def add(spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    // the storage format is line-per-constraint with a tab separator —
    // control characters in the expression would corrupt it for every
    // later reader (and every later commit's validation)
    require(!exprSql.exists(c => c == '\n' || c == '\r' || c == '\t'),
      s"constraint $name: CHECK expression must not contain newlines or tabs")
    val cur = list(spark, table)
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists on $table")
    if (ParquetTable.exists(spark, table)) {
      val bad = firstViolation(ParquetTable.read(spark, table), Seq(name -> exprSql))
      require(bad.isEmpty,
        s"cannot add constraint $name: existing row violates CHECK ($exprSql): " +
          bad.get)
    }
    write(spark, table, cur :+ (name -> exprSql))
  }

  /** Drop a constraint by name (case-insensitive); missing names throw. */
  def drop(spark: SparkSession, table: String, name: String): Unit = {
    val cur = list(spark, table)
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"no constraint named $name on $table " +
        s"(have: ${cur.map(_._1).mkString(", ") match { case "" => "none"; case s => s }})")
    write(spark, table, cur.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** First violating row rendered for an error message, if any. Probes
    * ALL constraints in one pass first (the green path costs one scan);
    * only a failure pays per-constraint probes to name the culprit.
    */
  private def firstViolation(
      df: DataFrame, cs: Seq[(String, String)]): Option[String] = {
    if (cs.isEmpty) return None
    // SQL CHECK semantics: NULL passes, so violation = (expr) IS FALSE
    def violated(e: String) = expr(e).isNotNull && not(expr(e))
    val combined = cs.map(c => violated(c._2)).reduce(_ || _)
    val hit = df.filter(combined).limit(1).collect()
    if (hit.isEmpty) None
    else {
      val culprit = cs.find { case (_, e) =>
        df.filter(violated(e)).limit(1).collect().nonEmpty
      }
      Some(s"${hit.head} (constraint ${culprit.map(_._1).getOrElse(cs.head._1)})")
    }
  }

  /** Validate a frame about to be written outside the versioned-commit
    * path (plain appends). No-op without constraints.
    */
  private[sources] def validateFrame(
      spark: SparkSession, table: String, df: DataFrame): Unit = {
    val cs = list(spark, table)
    val bad = firstViolation(df, cs)
    require(bad.isEmpty,
      s"write to $table violates CHECK constraint: ${bad.getOrElse("")}")
  }

  /** Validate the data dir a commit just wrote, before its manifest is
    * published. Reads the files back (partition columns recovered from
    * the dir layout); throws on the first violating row, leaving the
    * commit unpublished. No-op without constraints.
    */
  private[sources] def validateWritten(
      spark: SparkSession, table: String, dataDir: String): Unit = {
    val cs = list(spark, table)
    if (cs.isEmpty) return
    val bad = firstViolation(spark.read.parquet(dataDir), cs)
    require(bad.isEmpty,
      s"commit to $table violates CHECK constraint: ${bad.getOrElse("")}")
  }
}
