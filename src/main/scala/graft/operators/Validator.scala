package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.schemas.TableSpec

/** Rule-based record validation with valid/rejected split.
  *
  * Semantics follow the reference's v2 core (reference: src/etl_utils.py):
  *   - errors accumulate per-row in an `array<string>` via `array_union`
  *     (etl_utils.py:100,119,138,157,167) — NOT the v1 string-`+` variant,
  *     which is numeric addition on strings and silently NULLs multi-error
  *     rows (glue_etl.py:103 et al., a latent bug we do not replicate);
  *   - every null in a `nullable=false` schema field is an error
  *     (etl_utils.py:113-121);
  *   - table rules (e.g. total_amount > 0, etl_utils.py:163-168);
  *   - referential integrity per FK against a reference frame's key set
  *     (etl_utils.py:125-159) — expressed here as ONE correlated `EXISTS`
  *     per FK, which the optimizer turns into an existence join: every
  *     input row is kept exactly once and flagged, folding the
  *     reference's anti-join + flag-join-back pair into a single join;
  *   - final rendering `concat_ws("; ", errors)` (etl_utils.py:176-180);
  *   - the split projects back to the declared schema, fixing the
  *     reference's leaked helper-column bug (etl_utils.py:186-187 drops only
  *     the two error columns, leaking `invalid_id` into valid output).
  *
  * Scale notes: null/rule checks are pure Catalyst expressions folded into
  * one whole-stage-codegen pass — zero shuffles. Each FK check is one
  * existence join against the reference column as it is: an existence
  * join emits each probe row once whatever the build side holds, so
  * duplicate reference keys need no `distinct()` aggregate over the whole
  * reference table, and a NULL reference key matches nothing. The key
  * column is typically much smaller than the fact table, so AQE picks a
  * broadcast join at runtime (we deliberately do not force `broadcast()`
  * — at 100 TB a dimension's key column can exceed driver memory, and a
  * shuffle join is then correct; AQE decides from actual sizes).
  */
object Validator {

  /** Both frames are lazy; callers decide what to cache. `valid` has exactly
    * the spec schema; `rejected` is the spec schema + `validation_errors`.
    */
  final case class Result(valid: DataFrame, rejected: DataFrame)

  val ErrorsCol = "validation_errors"
  private val AccCol = "__graft_errors"

  private def appendError(acc: Column, when_ : Column, message: String): Column =
    when(when_, array_union(acc, array(lit(message)))).otherwise(acc)

  def validate(
      df: DataFrame,
      spec: TableSpec,
      references: Map[String, DataFrame] = Map.empty): DataFrame = {

    // 1. Null checks for non-nullable fields + table rules: one expression.
    var acc: Column = array().cast("array<string>")
    spec.schema.fields.filterNot(_.nullable).foreach { f =>
      acc = appendError(acc, col(f.name).isNull, s"Null ${f.name}")
    }
    spec.rules.foreach(r => acc = appendError(acc, r.fails, r.message))
    var out = df.withColumn(AccCol, acc)

    // 2. Referential integrity: one correlated EXISTS per FK against the
    //    reference column. A non-null FK value with no match is a
    //    violation; NULL FK values are handled by the null rules.
    //    The FK value is compared under a name the reference frame cannot
    //    hold: an outer reference whose name also resolves inside the
    //    subquery binds to the inner column instead.
    spec.foreignKeys.foreach { fk =>
      references.get(fk.refTable).foreach { ref =>
        val key = s"__graft_fk_${fk.column}"
        val found = ref.where(ref(fk.refColumn) === col(key).outer()).exists()
        out = out.withColumn(key, col(fk.column))
          .withColumn(AccCol,
            appendError(col(AccCol), col(fk.column).isNotNull && !found,
              s"Invalid ${fk.column}: not found in ${fk.refTable}"))
          .drop(key)
      }
    }

    // 3. Render: NULL for clean rows, "; "-joined messages otherwise.
    out
      .withColumn(ErrorsCol,
        when(size(col(AccCol)) > 0, concat_ws("; ", col(AccCol))))
      .drop(AccCol)
  }

  /** Validate and split. Projects `valid` back to exactly the declared
    * columns (no leaked helpers).
    */
  def split(
      df: DataFrame,
      spec: TableSpec,
      references: Map[String, DataFrame] = Map.empty): Result = {
    val annotated = validate(df, spec, references)
    val declared = spec.columnNames.map(col)
    Result(
      valid = annotated.filter(col(ErrorsCol).isNull).select(declared: _*),
      rejected = annotated.filter(col(ErrorsCol).isNotNull)
        .select((declared :+ col(ErrorsCol)): _*))
  }

  /** Rejected-records metadata columns (reference: src/etl_utils.py:251-253,
    * src/glue_etl.py:265-267). `rejection_time` is one instant per call,
    * taken on the driver when the frame is built — what
    * `current_timestamp()` gives — but served by a zero-argument function
    * instead of a literal: constant folding inlines a timestamp literal
    * into the generated class, so every write would compile its own
    * copy of the same code, while the function rides in the class's
    * references and the class body stays the same from write to write.
    */
  def withRejectionMetadata(rejected: DataFrame, source: String, jobName: String): DataFrame = {
    val at = java.sql.Timestamp.from(java.time.Instant.now())
    rejected
      .withColumn("rejection_time", udf(() => at).asNonNullable()())
      .withColumn("source", lit(source))
      .withColumn("job_name", lit(jobName))
  }

  /** Rejection summary: error type → count, most frequent first
    * (reference: src/glue_etl.py:284-289). The top-k is pushed into the
    * engine (`TakeOrderedAndProject`), not a driver-side slice.
    */
  def rejectionSummary(rejected: DataFrame, topK: Int = 5): DataFrame =
    rejected.groupBy(col(ErrorsCol))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(ErrorsCol))
      .limit(topK)
}
