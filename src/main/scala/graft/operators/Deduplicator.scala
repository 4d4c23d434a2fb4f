package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Primary-key deduplication (reference: src/glue_etl.py:302-305,
  * src/etl_utils.py:264-271).
  *
  * Two variants:
  *   - `dropDuplicatesByKey`: the reference's exact operator — keeps an
  *     arbitrary row per key (`dropDuplicates`), nondeterministic across
  *     runs/partitionings, cheapest (partial map-side first-agg, one
  *     shuffle on the key).
  *   - `keepFirstByKey`: deterministic — keeps the row that sorts first by
  *     `tiebreakers` within each key (row_number over a key window, one
  *     shuffle + per-key sort). Use when replayability matters (it does for
  *     the oracle harness and for any 100 TB job you might re-run).
  */
object Deduplicator {

  def dropDuplicatesByKey(df: DataFrame, key: Seq[String]): DataFrame =
    df.dropDuplicates(key)

  def keepFirstByKey(df: DataFrame, key: Seq[String], tiebreakers: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(tiebreakers.map(col(_).asc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }
}
