package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Identity columns — Delta's `GENERATED BY DEFAULT AS IDENTITY (START
  * WITH s INCREMENT BY i)` tier.
  *
  * Semantics (matching Delta's BY DEFAULT flavor): when an ingested
  * frame does NOT carry the column, each row is assigned the next value
  * of the arithmetic sequence `start, start+step, …` from a persisted
  * high-watermark; frames that DO carry the column pass through
  * untouched (explicit values are the caller's responsibility, exactly
  * as in Delta — which also offers an ALWAYS flavor that refuses
  * explicit values; that flavor is not implemented here because ingest
  * verbs delegate to each other and a just-filled frame is
  * indistinguishable from an explicitly-supplied one).
  *
  * Assignment is contiguous WITHIN a batch (rdd.zipWithIndex — one
  * counting pass over the incoming batch, never the table) and batches
  * reserve disjoint ranges through the watermark, so values are unique
  * and monotone in commit order; a failed write after reservation leaves
  * a gap, which Delta explicitly permits. Like Delta — whose docs state
  * that identity columns disable concurrent transactions — watermark
  * reservation assumes ONE writer at a time per table; concurrent
  * ingest must coordinate externally or supply explicit values.
  *
  * Registration is CREATE-time only (`add` refuses existing tables):
  * a watermark can't be trusted against data it never saw — Delta
  * likewise only accepts identity columns at table creation.
  *
  * Storage: one `name\tstart\tstep\twm` row per rule (wm = last value
  * handed out) in a [[TableDdl]] file. Clones carry the rules WITH their
  * watermark (the clone's data already holds the assigned values;
  * resetting would re-issue them), like Delta's identity-state cloning.
  */
object IdentityColumns {

  private val file = TableDdl.Identity

  /** (name, start, step, highWatermark) per rule, oldest first. */
  def list(spark: SparkSession, table: String): Seq[(String, Long, Long, Long)] =
    file.read(spark, table).map(r => (r(0), r(1).toLong, r(2).toLong, r(3).toLong))

  private def write(
      spark: SparkSession, table: String, rules: Seq[(String, Long, Long, Long)]): Unit =
    file.write(spark, table, rules.map { case (n, s, st, w) => Seq(n, s"$s", s"$st", s"$w") })

  /** Register an identity column. CREATE-time only: the table must not
    * exist yet (see the class doc). `step` may be negative (descending
    * sequences), never zero.
    */
  def add(
      spark: SparkSession, table: String, name: String,
      start: Long = 1L, step: Long = 1L): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"identity column name must be [A-Za-z0-9_]+, got '$name'")
    require(step != 0L, s"identity column $name: INCREMENT BY must be non-zero")
    require(!ParquetTable.exists(spark, table),
      s"identity column $name: $table already exists — identity columns " +
        "register at table creation only (the watermark cannot be trusted " +
        "against data it never saw)")
    val cur = list(spark, table)
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"identity column $name already defined on $table")
    require(!GeneratedColumns.list(spark, table).exists(_._1.equalsIgnoreCase(name)),
      s"$name already has a generation rule on $table")
    // wm = "last handed out"; the first assignment is start itself
    write(spark, table, cur :+ ((name, start, step, start - step)))
  }

  /** Remove a rule (existing values stay; they are just data now). */
  def drop(spark: SparkSession, table: String, name: String): Unit = {
    val cur = list(spark, table)
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"no identity column named $name on $table")
    write(spark, table, cur.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Assign identity values to every registered column the frame does
    * not carry and advance the watermark by the batch size. One counting
    * pass + one zipWithIndex pass over the BATCH (never the table) per
    * missing column — the identity tax. The indexed map is deterministic
    * for a stable input partitioning, so task retries reproduce the same
    * assignment.
    */
  private[sources] def fill(spark: SparkSession, table: String, df: DataFrame): DataFrame =
    list(spark, table).foldLeft(df) { case (d0, (name, _, step, wm)) =>
      if (d0.columns.exists(_.equalsIgnoreCase(name))) d0
      else {
        // pin ONE materialization of the batch: the watermark is reserved
        // from this count, but zipWithIndex and the eventual parquet write
        // would otherwise each RE-RUN the upstream plan — a
        // nondeterministic upstream (round-robin repartition, sample) can
        // move rows between partitions across runs, duplicating or
        // skipping values inside the reserved range (ADVICE r9 low).
        // localCheckpoint truncates lineage, so every later job reads the
        // same computed blocks.
        val d = d0.localCheckpoint(true)
        val n = d.count()
        if (n == 0) {
          d.withColumn(name, org.apache.spark.sql.functions.lit(null).cast(LongType))
        } else {
          val assigned = spark.createDataFrame(
            d.rdd.zipWithIndex.map { case (r, i) =>
              Row.fromSeq(r.toSeq :+ (wm + step * (i + 1)))
            },
            StructType(d.schema.fields :+ StructField(name, LongType, nullable = false)))
          val cur = list(spark, table)
          write(spark, table, cur.map {
            case (nm, s, st, _) if nm.equalsIgnoreCase(name) =>
              (nm, s, st, wm + step * n)
            case other => other
          })
          assigned
        }
      }
    }
}
