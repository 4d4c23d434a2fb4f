package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.First
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The plain partition-scoped `merge` deduplicates its update side once,
  * and overwrites only partitions whose rows it read.
  */
class MergeDedupSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("day", StringType, nullable = true)))

  private def df(rows: Row*) = frame(schema, rows)

  private def partitionedTable(name: String): String = {
    val path = tmpDir(name) + "/t"
    ParquetTable.create(df(Row(1, "a", "d1"), Row(2, "b", "d1"), Row(3, "c", "d1"),
      Row(10, "x", "d2"), Row(11, "y", "d2"), Row(12, "z", "d2")), path, Seq("day"))
    path
  }

  /** The optimized plans of the writes `body` runs. */
  private def writePlans(body: => Unit): Seq[LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark)
      spark.listenerManager.unregister(listener)
    }
    scala.jdk.CollectionConverters.IterableHasAsScala(plans).asScala.toSeq
  }

  /** Aggregates grouped on exactly `id` that keep a `first()` of the other
    * columns: what `dropDuplicates(Seq("id"))` optimizes into. */
  private def pkDedups(plan: LogicalPlan): Int = plan.collect {
    case a: Aggregate if a.groupingExpressions.collect { case k: Attribute => k.name } ==
        Seq("id") &&
        a.aggregateExpressions.exists(_.exists(_.isInstanceOf[First])) => a
  }.size

  private def mergeDedups(updates: DataFrame): Int = {
    val path = partitionedTable("merge-dedup")
    val plans = writePlans(ParquetTable.merge(spark, path, updates, Seq("id"), Seq("day")))
    assert(plans.nonEmpty, "the merge wrote nothing")
    plans.map(pkDedups).sum
  }

  test("a partitioned merge plans ONE primary-key dedup on the update side") {
    val batch = df(Row(2, "B", "d1"), Row(2, "B2", "d1"), Row(20, "n", "d3"))
    // a caller that already deduplicated (Pipeline, streaming batches)
    // shares its dedup with the merge instead of stacking more
    assert(mergeDedups(batch.dropDuplicates("id")) === 1)
    assert(mergeDedups(batch) === 1)
  }

  test("a key sent to two partitions loses no untouched row of either") {
    val path = partitionedTable("merge-dup-parts")
    // key 7 arrives twice, once per existing partition; whichever row the
    // dedup keeps, both partitions' untouched rows must survive
    val batch = df(Row(7, "p", "d1"), Row(7, "q", "d2"), Row(2, "B", "d1"))
    ParquetTable.merge(spark, path, batch.dropDuplicates("id"), Seq("id"), Seq("day"))
    val out = ParquetTable.read(spark, path).collect()
      .map(r => r.getInt(r.fieldIndex("id")) -> r.getString(r.fieldIndex("day"))).toSeq
    assert(out.count(_._1 == 7) === 1, out)
    assert(out.filter(_._1 != 7).sortBy(_._1) === Seq(
      1 -> "d1", 2 -> "d1", 3 -> "d1", 10 -> "d2", 11 -> "d2", 12 -> "d2"))
  }
}
