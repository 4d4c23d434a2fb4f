package graft.sources

import org.apache.spark.sql.SparkSession

/** Table properties — Delta's `TBLPROPERTIES` tier: free-form key/value
  * metadata on a table, plus the one property this engine ENFORCES:
  *
  *   `graft.appendOnly = true` (Delta's `delta.appendOnly`) — every
  *   row-mutating verb (DELETE / UPDATE / MERGE in all tiers / APPLY
  *   CHANGES / purge) refuses; appends, inserts, OPTIMIZE / compact
  *   (content-preserving rewrites) and reads are untouched. The
  *   immutability contract audit/compliance pipelines pin on their raw
  *   ingest tables.
  *
  * Storage: one `key\tvalue` row per property in a [[TableDdl]] file;
  * clones carry properties (Delta clones them too).
  */
object TableProperties {

  /** The enforced immutability property. */
  val AppendOnlyKey = "graft.appendOnly"

  private val file = TableDdl.Properties

  /** All properties, insertion order. Empty for no file. */
  def list(spark: SparkSession, table: String): Seq[(String, String)] =
    file.read(spark, table).map(r => (r(0), r(1)))

  private def write(spark: SparkSession, table: String, props: Seq[(String, String)]): Unit =
    file.write(spark, table, props.map { case (k, v) => Seq(k, v) })

  def get(spark: SparkSession, table: String, key: String): Option[String] =
    list(spark, table).collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  /** Set (upsert) properties. Keys must be non-empty; keys and values
    * must not contain control characters (the [[TableDdl]] writer refuses
    * them).
    */
  def set(spark: SparkSession, table: String, props: Map[String, String]): Unit = {
    require(props.keys.forall(_.nonEmpty), "TBLPROPERTIES: keys must be non-empty")
    val cur = list(spark, table).filterNot { case (k, _) =>
      props.keys.exists(_.equalsIgnoreCase(k))
    }
    write(spark, table, cur ++ props.toSeq)
  }

  /** Unset properties; missing keys are ignored (Delta's UNSET IF EXISTS
    * behavior — and its plain UNSET never throws on missing keys either).
    */
  def unset(spark: SparkSession, table: String, keys: Seq[String]): Unit =
    write(spark, table, list(spark, table).filterNot { case (k, _) =>
      keys.exists(_.equalsIgnoreCase(k))
    })

  /** Refuses when `graft.appendOnly = true` — called by every
    * row-mutating verb before any work.
    */
  private[sources] def requireNotAppendOnly(
      spark: SparkSession, table: String, verb: String): Unit =
    require(!get(spark, table, AppendOnlyKey).exists(_.equalsIgnoreCase("true")),
      s"$verb: $table has $AppendOnlyKey = true — row mutations are refused " +
        "(UNSET the property to mutate)")
}
