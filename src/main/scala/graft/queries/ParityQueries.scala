package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Deduplicator, Validator}
import graft.schemas.{RowRule, TableSpec}
import graft.sources.ParquetTable

/** Reference-parity operator battery over the harness testdata, each with a
  * DuckDB oracle (SparkEntry.oracleSql). Every query is deterministic:
  * doubles are rounded AFTER aggregation, timestamps leave as epoch
  * seconds/formatted strings, orderings carry a unique tiebreaker.
  *
  * Coverage map → SURVEY.md §2: scans+pushdown (S1/P1-P11), joins
  * (J1/J2/J4/J5), aggregations (A1-A4), sort/top-k (O1-O3), set ops (U1/U2),
  * scalar functions (F1-F10), window functions (§2.8), validation semantics
  * (reference: src/etl_utils.py:83-196), MERGE upsert (src/glue_etl.py:
  * 333-373).
  */
object ParityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The 100 TB tier of q44: `approx_percentile` (t-digest) — per-group
    * state is bounded by `accuracy`, partials merge map-side, and no
    * group ever buffers its full value list (exact `percentile` does; see
    * the q44 memory contract). Not DuckDB-replayable (its t-digest
    * differs), so the correctness contract is PercentileSpec: observed
    * error vs the exact tier at the bench SF, with a hard bound.
    */
  /** The 100 TB tier of q59: `approx_count_distinct` (HyperLogLog++) —
    * per-group state is a bounded sketch (relative sd `rsd`), partials
    * merge map-side, nothing expands per distinct value. Not
    * DuckDB-replayable (different HLL), so the contract is
    * DistinctCountSpec's error bound vs the exact tier.
    */
  def approxDistinct(s: SparkSession, dir: String, rsd: Double = 0.01): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd).as("n_parts"),
        approx_count_distinct(col("l_suppkey"), rsd).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  def approxPercentiles(s: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr(s"approx_percentile(l_extendedprice, 0.25, $accuracy)"), 4).as("p25"),
        round(expr(s"approx_percentile(l_extendedprice, 0.5, $accuracy)"), 4).as("p50"),
        round(expr(s"approx_percentile(l_extendedprice, 0.75, $accuracy)"), 4).as("p75"),
        round(expr(s"approx_percentile(l_extendedprice, 0.95, $accuracy)"), 4).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Temp workspace for queries that must land a table on disk (q32, q48).
    * Registered for recursive removal at JVM exit so repeated
    * correctness/bench runs leave /tmp flat — the result frame stays lazy
    * (it reads from the workspace), so eager deletion isn't an option.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  // ---- q08/q09: validation over deterministically dirtied orders --------
  // The testdata is clean, so invalidity is injected reproducibly:
  // o_custkey nulled when o_orderkey%101=0; o_totalprice negated when
  // o_orderkey%97=0. The Validator then applies v2 semantics.
  private val dirtyOrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = true),
    StructField("o_totalprice", DoubleType, nullable = true)))

  private val dirtyOrdersSpec = TableSpec(
    name = "orders_t",
    schema = dirtyOrdersSchema,
    primaryKey = Seq("o_orderkey"),
    rules = Seq(RowRule("Invalid o_totalprice: must be > 0",
      col("o_totalprice").isNotNull && col("o_totalprice") <= 0)))

  private def dirtyOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 101 === 0, lit(null).cast(LongType))
        .otherwise(col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"),
      when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")).as("o_totalprice"))

  private val dirtySql =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 101 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
      |       o_orderstatus,
      |       CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
      |FROM orders""".stripMargin

  val queries: Map[String, Q] = Map(
    // A2-style grouped aggregation with arithmetic inside the aggregate —
    // partial (map-side) agg + final agg, one shuffle on the group keys.
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Projection + predicate — both must reach the parquet scan
    // (PushedFilters / 4-column ReadSchema in .explain).
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .filter(col("l_quantity") >= 49 && col("l_extendedprice") > 1000)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // 3-way join + agg + engine-side top-k (TakeOrderedAndProject).
    "q03_topk_join_agg" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey"), o("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Dimension chain join — region/nation are tiny: explicit broadcast.
    "q04_region_revenue" -> ((s, d) => {
      val r = Tables.region(s, d)
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    }),

    // J1: left-anti equi-join (customers that never ordered).
    "q05_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Left-semi join (EXISTS).
    "q06_semi_join" -> ((s, d) => {
      val p = Tables.part(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
      p.join(l, p("p_partkey") === l("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    // J2: left-outer flag join-back against a deduplicated key set —
    // the validator's RI-annotation shape.
    "q07_flag_joinback" -> ((s, d) => {
      val keys = Tables.orders(s, d).select(col("o_custkey").as("__k")).distinct()
      val c = Tables.customer(s, d)
      c.join(keys, c("c_custkey") === keys("__k"), "left_outer")
        .select(col("c_custkey"),
          when(col("__k").isNotNull, lit(1)).otherwise(lit(0)).as("has_orders"))
        .orderBy(col("c_custkey"))
    }),

    // Validator: rejected side, v2 error-accumulator semantics.
    "q08_validate_rejected" -> ((s, d) => {
      Validator.split(dirtyOrders(s, d), dirtyOrdersSpec).rejected
        .select(col("o_orderkey"), col(Validator.ErrorsCol))
        .orderBy(col("o_orderkey"))
    }),

    // Validator: valid side — projects back to the declared schema.
    "q09_validate_valid" -> ((s, d) => {
      Validator.split(dirtyOrders(s, d), dirtyOrdersSpec).valid
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // T5: the durable notification outbox (pipeline.Notify — the
    // reference's SNS publish, delta-lake.json:216-225). The event
    // carries the q08/q09 validation counts; it is published TWICE (the
    // at-least-once redelivery a retrying state machine produces) and a
    // failure event for a different run rides along — the outbox read
    // back must hold exactly the two distinct (run_id, status) events
    // with the counts the oracle re-derives from the same dirty frame.
    "q144_notify_outbox" -> ((s, d) => {
      val split = Validator.split(dirtyOrders(s, d), dirtyOrdersSpec)
      val valid = split.valid.count()
      val rejected = split.rejected.count()
      val dir = scratchDir("graft_outbox")
      val ev = graft.pipeline.Notify.Event("etl-orders-1", "SUCCESS",
        "graft-etl: orders load complete",
        s"orders_t: valid=$valid rejected=$rejected")
      graft.pipeline.Notify.publish(dir, ev, "2026-01-01T00:00:00Z")
      // redelivery: must be a no-op, not a duplicate event
      graft.pipeline.Notify.publish(dir, ev, "2026-01-01T00:09:09Z")
      graft.pipeline.Notify.publish(dir, graft.pipeline.Notify.Event(
        "etl-orders-2", "FAILURE_orders", "graft-etl: orders failed",
        "java.lang.IllegalStateException: injected"), "2026-01-02T00:00:00Z")
      graft.pipeline.Notify.read(s, dir).orderBy(col("run_id"))
    }),

    // S6/J4/U2: MERGE-by-PK emulation (update-all + insert-all).
    "q10_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val modified = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      val updates = modified.unionByName(inserts)
      ParquetTable.mergeFrames(o, updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // A4 made deterministic: keep-first-by-key dedup via row_number.
    "q11_dedup_keep_first" -> ((s, d) => {
      Deduplicator.keepFirstByKey(Tables.events(s, d), Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"))
        .orderBy(col("user_id"))
    }),

    // A2/O1/O2: grouped count, ordered, engine-side top-k.
    "q12_group_topk" -> ((s, d) => {
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("count").desc, col("event_type"))
        .limit(5)
    }),

    // Window: rank-1 row per partition.
    "q13_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_custkey"))
    }),

    // Window: running aggregate over an ordered frame.
    "q14_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), round(sum(col("value")).over(w), 2).as("running"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Time-bucketed aggregation (batch twin of the streaming hourly agg).
    "q15_hourly_agg" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour_epoch"), col("event_type"))
    }),

    // SQL layer: VALUES row constructor + NOT-EXISTS (the reference's
    // idempotent-insert corpus, README.md:261-374). Catalyst rewrites the
    // correlated NOT EXISTS to a left-anti join.
    "q16_values_not_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_v")
      s.sql(
        """SELECT v.id, v.note
          |FROM (VALUES (1, 'existing'), (2, 'existing'), (999999999, 'new')) AS v(id, note)
          |WHERE NOT EXISTS (SELECT 1 FROM graft_orders_v o WHERE o.o_orderkey = v.id)
          |ORDER BY v.id""".stripMargin)
    }),

    // Persistent catalog + the reference's ACID INSERT shape end-to-end
    // (reference README.md:261-377): CREATE an external parquet table
    // (CTAS with LOCATION), run the idempotent INSERT INTO … VALUES …
    // WHERE NOT EXISTS TWICE — the replay must insert nothing — and
    // return the final table state. The pipeline's production corpus is
    // pipeline.AcidInserts; this is the same surface on testdata.
    "q32_catalog_insert" -> ((s, d) => {
      val loc = scratchDir("graft_q32")
      s.sql("DROP TABLE IF EXISTS q32_clean_orders")
      s.sql(
        s"""CREATE TABLE q32_clean_orders USING parquet LOCATION '$loc/data'
           |AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
           |FROM parquet.`$d/orders.parquet` WHERE o_orderkey <= 100""".stripMargin)
      val insert =
        """INSERT INTO q32_clean_orders
          |SELECT * FROM (VALUES
          |    (900001, 57, 400.25, TIMESTAMP '2025-04-02 18:08:00'),
          |    (900002, 24, 373.73, TIMESTAMP '2025-04-06 04:17:00'),
          |    (1, 66, 258.10, TIMESTAMP '2025-04-06 13:06:00')
          |) AS t(o_orderkey, o_custkey, o_totalprice, o_orderdate)
          |WHERE NOT EXISTS (
          |    SELECT 1 FROM q32_clean_orders existing
          |    WHERE existing.o_orderkey = t.o_orderkey)""".stripMargin
      s.sql(insert)
      s.sql(insert) // replay: NOT EXISTS must make this a no-op
      s.sql(
        """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_amount,
          |  unix_timestamp(o_orderdate) AS order_epoch
          |FROM q32_clean_orders ORDER BY o_orderkey""".stripMargin)
    }),

    // Set ops: UNION (distinct), EXCEPT, INTERSECT.
    "q17_union_distinct" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),
    "q18_except" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    }),
    "q19_intersect" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))
    }),

    // Multi-level aggregation: ROLLUP produces (flag, status), (flag) and
    // grand-total rows in ONE pass — partial-agg friendly, no extra scans
    // vs unioning three groupBys.
    "q41_rollup_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // GROUPING SETS with DISJOINT sets (neither rollup nor cube can
    // express it): per-returnflag totals, per-shipmode totals, and the
    // grand total in ONE pass — Spark expands to a single Expand +
    // aggregate, so the fact table is scanned once, not once per set.
    "q71_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("q71_li")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       round(sum(l_extendedprice), 2) AS revenue
          |FROM q71_li
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    // Spark 4 VARIANT ingestion of semi-structured columns: parse_json →
    // binary variant (no schema declared, unlike q38's schema-full
    // from_json) → typed try_variant_get extraction. The 100 TB shape:
    // parse once, extract many times, no per-field schema maintenance.
    "q72_variant" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          try_variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // Ordered funnel (view → click → purchase) over the event stream —
    // the MATCH_RECOGNIZE-shaped analytics Spark lacks natively,
    // composed from sequential unordered window mins + two same-key
    // aggregations, ONE shuffle total (operators/Funnel.scala). The
    // oracle replays the chained stage-time windows as CTEs. The first
    // two days only — at full density every user completes every stage
    // and the funnel stops discriminating.
    "q79_funnel" -> ((s, d) => {
      graft.operators.Funnel.analyze(
          Tables.events(s, d).filter(col("ts") < lit("2024-01-03").cast("timestamp")),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))
    }),

    // Time-series gap-fill: resample purchase values per user onto a
    // daily grid between the user's first and last purchase, forward-
    // filling empty days (time_bucket_gapfill + locf — no Spark
    // built-in). Grid generation is distributed sequence/explode; fill
    // is one per-key ordered window (operators/GapFill.scala). Sum is
    // rounded AFTER the fill in both engines, so FP paths agree.
    "q80_gapfill" -> ((s, d) => {
      graft.operators.GapFill.resampleFill(
          Tables.events(s, d).filter(col("event_type") === "purchase"),
          "user_id", "ts", "value", unit = "day", step = "interval 1 day")
        .select(col("user_id"),
          unix_timestamp(col("bucket")).as("day_epoch"),
          round(col("value"), 2).as("value"), col("observed"))
        .orderBy(col("user_id"), col("day_epoch"))
    }),

    // One-pass column profiling (operators/Profile.scala): every
    // statistic for every column in ONE agg, pivoted plan-side to a
    // row-per-column frame. The timestamp column is pre-projected to
    // epoch so min/max stringify identically in both engines; exact
    // distinct tier here (oracle-checked), HLL++ tier covered by
    // ProfileSpec.
    "q81_profile" -> ((s, d) => {
      graft.operators.Profile.profile(
          Tables.orders(s, d).withColumn(
            "o_orderdate_epoch", unix_timestamp(col("o_orderdate"))),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate_epoch"))
        .orderBy(col("col_name"))
    }),

    // Bloom-pre-filtered fact⋈dim join (operators/BloomJoin.scala): the
    // dim side (high-value open orders, ~17% of orders) builds a native
    // BloomFilterAggregate; the lineitem probe side is pre-filtered by
    // might_contain BEFORE its shuffle, then the exact join eliminates
    // false positives — result provably equals the plain join (the
    // oracle IS the plain join; BloomJoinSpec pins the row reduction).
    "q82_bloom_join" -> ((s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 250000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.BloomJoin.join(
          Tables.lineitem(s, d), dim, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Incrementally maintained materialized aggregate
    // (sources/IncrementalView.scala): a sum/count-by-priority view (AVG
    // derived from the stored pair at read time) over
    // a versioned orders table is refreshed from the PER-COMMIT change
    // feed only — base v2 bumps prices (%10), v3 deletes (%97), v4
    // inserts shifted copies (%100) — then refreshed again (must fold 0
    // commits). The oracle recomputes the final base state from scratch;
    // any drift between incremental folding and recomputation breaks the
    // hash.
    "q83_incremental_mv" -> ((s, d) => {
      import graft.sources.IncrementalView
      val tmp = scratchDir("graft_q83")
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      ParquetTable.create(o, s"$tmp/base") // versioned v1
      IncrementalView.create(s, s"$tmp/base", s"$tmp/view",
        Seq("o_orderpriority"), "o_totalprice")
      ParquetTable.merge(s, s"$tmp/base",
        o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"), cdf = true) // v2
      ParquetTable.delete(s, s"$tmp/base", col("o_orderkey") % 97 === 0,
        cdf = true) // v3
      ParquetTable.merge(s, s"$tmp/base",
        o.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L),
        Seq("o_orderkey"), cdf = true) // v4
      val folded = IncrementalView.refresh(s, s"$tmp/base", s"$tmp/view",
        Seq("o_orderkey"), Seq("o_orderpriority"), "o_totalprice")
      require(folded == 3, s"expected to fold 3 base commits, folded $folded")
      require(IncrementalView.refresh(s, s"$tmp/base", s"$tmp/view",
        Seq("o_orderkey"), Seq("o_orderpriority"), "o_totalprice") == 0,
        "second refresh must fold nothing")
      IncrementalView.read(s, s"$tmp/view")
        .select(col("o_orderpriority"), round(col("total"), 2).as("total"),
          col("n_rows"), round(col("avg"), 2).as("avg_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // PageRank over the nation-level trade graph (customer nation →
    // supplier nation, weight = lineitem count): 5 power iterations with
    // dangling-mass redistribution (operators/PageRank.scala — one join
    // + one agg per iteration, checkpointed lineage). The oracle unrolls
    // the same 5 iterations as generated CTEs; ranks are exact IEEE
    // doubles on both sides, rounded to 6 for display stability.
    "q87_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      graft.operators.PageRank.run(edges, "src", "dst", Some("w"),
          iterations = 5)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("id"))
    }),

    // Conditional MERGE clauses (Delta parity, sql/MergeInto.scala
    // clauseImage): WHEN MATCHED AND t.cond THEN DELETE, WHEN MATCHED
    // THEN UPDATE, WHEN NOT MATCHED AND s.cond THEN INSERT — first
    // satisfied clause wins, executed as ONE copy-on-write commit. The
    // oracle replays the clause algebra declaratively.
    "q91_conditional_merge" -> ((s, d) => {
      val tmp = scratchDir("graft_q91")
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ParquetTable.create(o, s"$tmp/t") // versioned v1
      o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(o.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        .createOrReplaceTempView("q91_src")
      graft.sql.GraftSql.sql(s,
        s"""MERGE INTO graft.`$tmp/t` AS t USING q91_src AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND t.o_totalprice < 100000.0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND s.o_totalprice > 200000.0 THEN INSERT *""".stripMargin)
      require(ParquetTable.currentVersion(s, s"$tmp/t").contains(2L),
        "conditional merge must be ONE commit")
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Sync-merge (WHEN NOT MATCHED BY SOURCE — Delta's table-mirroring
    // verb): matched rows take the source image, and target rows ABSENT
    // from the source are conditionally deleted. One commit; the oracle
    // replays the clause algebra.
    "q92_sync_merge" -> ((s, d) => {
      val tmp = scratchDir("graft_q92")
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      ParquetTable.create(o, s"$tmp/t") // versioned v1
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .createOrReplaceTempView("q92_src")
      graft.sql.GraftSql.sql(s,
        s"""MERGE INTO graft.`$tmp/t` AS t USING q92_src AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F' THEN DELETE""".stripMargin)
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Percentage-based data-quality expectations (operators/
    // Expectations.scala — the monitor tier beside hard CHECK
    // constraints and Validator quarantine): all rules in ONE
    // aggregation pass, pivoted plan-side. The oracle replays each
    // rule's conditional count.
    "q95_expectations" -> ((s, d) => {
      graft.operators.Expectations.check(Tables.orders(s, d), Seq(
        ("key_nonneg", "o_orderkey >= 0", 1.0),
        ("price_under_500k", "o_totalprice < 500000.0", 0.999),
        ("open_share", "o_orderstatus = 'O'", 0.40),
        ("priority_nonnull", "o_orderpriority IS NOT NULL", 1.0)))
        .orderBy(col("rule_idx"))
    }),

    // Pivot with an EXPLICIT value list — no driver-side distinct scan to
    // discover columns, so the plan is a single groupBy with conditional
    // aggregates (exactly the oracle's CASE formulation).
    "q42_pivot_status" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .withColumnsRenamed(Map(
          "O" -> "total_open", "F" -> "total_filled", "P" -> "total_partial"))
        .orderBy(col("o_orderpriority"))
    }),

    // Range-band join: non-equi join against a tiny literal band table.
    // The dim side is broadcast (nested-loop with 3 rows — constant work
    // per probe row; the big side never shuffles).
    "q43_range_band_join" -> ((s, d) => {
      val bands = s.createDataFrame(Seq(
        ("budget", 0.0, 930.0),
        ("mid", 930.0, 965.0),
        ("premium", 965.0, Double.MaxValue))).toDF("band", "lo", "hi")
      Tables.part(s, d)
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 2).as("avg_price"))
        .orderBy(col("band"))
    }),

    // Exact interpolated percentiles per group (percentile_cont
    // semantics) — one pass, no global sort. MEMORY CONTRACT: exact
    // `percentile` is an ObjectHashAggregate whose per-group buffer holds
    // EVERY value of the group, so final-stage memory is O(largest group)
    // — with 3 return-flag groups that is the whole column at 100 TB, an
    // executor OOM by construction. This exact tier is therefore bench-SF
    // only; the scale default is `approxPercentiles` below (t-digest:
    // bounded state, mergeable map-side, error ≤ 1/accuracy quantile
    // units — PercentileSpec pins the observed error against this exact
    // tier at sf0.1). Same discipline as TextDedup.editDistancePairs: the
    // quadratic/unbounded tier exists, labeled, behind a documented guard.
    "q44_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
        .orderBy(col("l_returnflag"))
    }),

    // Change-data feed over the versioned table layer (Delta CDF parity):
    // v1 = customers, v2 = a full replace that deletes every 97th key,
    // bumps the balance of every 10th, and inserts a shifted copy of every
    // 100th — `ParquetTable.changes(1, 2)` must emit exactly those rows
    // tagged insert/update/delete. The construction is deterministic, so
    // the whole feed replays as plain SQL over the source table.
    "q48_table_changes" -> ((s, d) => {
      val tmp = scratchDir("graft_cdc")
      val cust = Tables.customer(s, d)
      graft.sources.ParquetTable.create(cust, s"$tmp/t")
      val v2 = cust.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .withColumn("c_custkey", col("c_custkey") + 10000000L))
      graft.sources.ParquetTable.create(v2, s"$tmp/t")
      graft.sources.ParquetTable.changes(s, s"$tmp/t", 1L, 2L, Seq("c_custkey"))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("_change_type"))
        .orderBy(col("c_custkey"), col("_change_type"))
    }),

    // CUBE: all four grouping combinations in one pass; grouping_id
    // disambiguates real NULLs from subtotal rows.
    "q51_cube_agg" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // Trailing 7-row moving average over the daily revenue series — the
    // agg shrinks 1.5M rows to ~2.4k days BEFORE the window, so the sort
    // inside the window is trivial at any scale.
    "q52_moving_avg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice")).as("revenue"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily.select(col("day").cast("string").as("day"),
          round(col("revenue"), 2).as("revenue"),
          round(avg(col("revenue")).over(w), 2).as("ma7"))
        .orderBy(col("day"))
    }),

    // JSON-lines source: declared-schema PERMISSIVE parse (no inference
    // pass — at 100 TB inference is a full extra scan), corrupt lines
    // quarantined into _corrupt_record instead of failing the scan.
    // documents round-trips through NDJSON in a scratch dir with three
    // planted garbage lines; the parse must drop EXACTLY the garbage
    // (surfaced as the zz_corrupt row), so the per-lang aggregate equals
    // the direct-over-parquet oracle.
    "q53_json_ingest" -> ((s, d) => {
      val dir = scratchDir("graft_q53")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(4)
        .write.mode("overwrite").json(s"$dir/docs")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/docs/corrupt.txt"),
        "### not json\ngarbage{]\n{unquoted: nope\n".getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType)))
      val (parsed, corrupt) =
        graft.sources.JsonIngest.readSplit(s, s"$dir/docs", schema)
      val nCorrupt = corrupt.count()
      parsed.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .unionByName(s.sql(
          s"SELECT 'zz_corrupt' AS lang, CAST($nCorrupt AS BIGINT) AS n_docs, " +
            "CAST(0 AS BIGINT) AS sum_chars"))
        .orderBy(col("lang"))
    }),

    // ORC interchange: the columnar format warehouses hand over when not
    // parquet. Lossless round-trip of a supplier projection through ORC
    // (predicate pushdown + column pruning work the same as parquet), so
    // the post-round-trip aggregate equals the direct-over-parquet oracle.
    "q54_orc_roundtrip" -> ((s, d) => {
      val dir = scratchDir("graft_q54")
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").orc(s"$dir/supp")
      s.read.orc(s"$dir/supp")
        .filter(col("s_acctbal") > 0)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    }),

    // Window-function breadth beyond rank/sum (q13/q14): lag, lead,
    // ntile and first_value over each user's event timeline. Epochs (not
    // timestamps) keep the compare engine-neutral; ORDER BY includes the
    // unique event_id so ties cannot reorder between engines.
    "q55_window_lag_lead" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") % 100 === 0) // a readable slice, many users
        .select(
          col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          unix_timestamp(lag(col("ts"), 1).over(w)).as("prev_epoch"),
          unix_timestamp(lead(col("ts"), 1).over(w)).as("next_epoch"),
          ntile(4).over(w).cast("long").as("quartile"),
          first(col("event_id")).over(w).as("first_event"))
        .orderBy(col("user_id"), col("ts_epoch"), col("event_id"))
    }),

    // Reshape primitives: wide → long via unpivot (melt), here closing a
    // pivot → unpivot round-trip. Cells the pivot never saw come back as
    // NULL and are dropped, so the trip is lossless and the oracle is the
    // plain two-key group-by.
    "q56_unpivot" -> ((s, d) => {
      val wide = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
      wide.unpivot(
          Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")),
          "o_orderstatus", "n")
        .filter(col("n").isNotNull)
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    }),

    // SQL MERGE INTO surface (graft.sql.GraftSql / GraftSqlParser) over
    // the versioned table layer — same semantics and oracle as q10, but
    // driven by the statement the reference's Delta MERGE corresponds to
    // (glue_etl.py:338-349). The statement runs TWICE: replay must be a
    // no-op (the reference's MERGE idempotency guarantee, README:102-105),
    // so the oracle of a single merge still matches.
    "q57_sql_merge" -> ((s, d) => {
      val tmp = scratchDir("graft_q57")
      val o = Tables.orders(s, d)
      ParquetTable.create(o, s"$tmp/t") // versioned v1
      o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        .createOrReplaceTempView("q57_updates")
      val stmt =
        s"""MERGE INTO graft.`$tmp/t` AS t USING q57_updates AS s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      graft.sql.GraftSql.merge(s, stmt)
      graft.sql.GraftSql.merge(s, stmt) // replay: must change nothing
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // PER-COMMIT change data feed (tableChanges — Delta table_changes
    // parity tier) with commit-time capture: v2 bumps every 10th key's
    // balance (+ inserts a shifted copy of every 100th), v3 REVERTS the
    // bump for every 20th key. The feed over commits 2..3 must show the
    // %20 keys TWICE (changed then reverted — the net-diff q48 tier would
    // collapse them to nothing) with pre- AND post-images, stamped with
    // _commit_version. Deterministic construction → the whole per-commit
    // feed replays as plain SQL over the source table.
    "q58_cdf_percommit" -> ((s, d) => {
      val tmp = scratchDir("graft_q58")
      val cust = Tables.customer(s, d)
      ParquetTable.create(cust, s"$tmp/t") // v1
      val upd2 = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .withColumn("c_custkey", col("c_custkey") + 10000000L))
      ParquetTable.merge(s, s"$tmp/t", upd2, Seq("c_custkey"), cdf = true) // v2
      val upd3 = cust.filter(col("c_custkey") % 20 === 0) // original rows
      ParquetTable.merge(s, s"$tmp/t", upd3, Seq("c_custkey"), cdf = true) // v3
      ParquetTable.tableChanges(s, s"$tmp/t", 2L, 3L, Seq("c_custkey"))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
          col("_change_type"), col("_commit_version"))
        .orderBy(col("_commit_version"), col("c_custkey"), col("_change_type"))
    }),

    // Exact grouped distinct counts — the oracle-checked tier. At 100 TB
    // exact count(DISTINCT) over a high-cardinality key is a full
    // per-group shuffle of the distinct key set (expand + two-phase agg);
    // the scale default is approxDistinct below (HyperLogLog++: bounded
    // mergeable sketches, one narrow shuffle), whose correctness contract
    // is DistinctCountSpec's relative-error bound vs THIS query — same
    // two-tier discipline as q44/approxPercentiles.
    "q59_distinct_counts" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // SQL DELETE FROM over the versioned table layer (GraftSql's DELETE
    // FROM → ParquetTable.delete) — with MERGE (q57) and UPDATE (q61)
    // this completes the three Delta row-level verbs. The oracle is the
    // predicate's complement over the source table.
    "q60_sql_delete" -> ((s, d) => {
      val tmp = scratchDir("graft_q60")
      ParquetTable.create(Tables.orders(s, d), s"$tmp/t") // versioned v1
      graft.sql.GraftSql.sql(s,
        s"DELETE FROM graft.`$tmp/t` " +
          "WHERE o_orderstatus = 'F' AND o_totalprice < 150000.0")
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // SQL UPDATE over the versioned table layer (GraftSql's UPDATE →
    // ParquetTable.update): matched rows get SET applied (values cast to
    // the column's type, schema never drifts); the oracle is a CASE
    // projection over the source table. `* 2` keeps the arithmetic exact
    // in binary, so Spark and DuckDB agree bit-for-bit.
    "q61_sql_update" -> ((s, d) => {
      val tmp = scratchDir("graft_q61")
      ParquetTable.create(Tables.orders(s, d), s"$tmp/t") // versioned v1
      graft.sql.GraftSql.sql(s,
        s"UPDATE graft.`$tmp/t` " +
          "SET o_totalprice = o_totalprice * 2, o_orderpriority = 'BUMPED' " +
          "WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0")
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // File-level data skipping over a Z-ordered versioned table
    // (OPTIMIZE ZORDER → footer-stats sidecars → readWhere prunes files
    // on BOTH clustered columns). Pruning is conservative, so the result
    // must equal the plain filter — which is exactly what the oracle is.
    "q62_skipping_scan" -> ((s, d) => {
      val tmp = scratchDir("graft_q62")
      ParquetTable.create(Tables.orders(s, d), s"$tmp/t") // versioned v1
      ParquetTable.optimize(s, s"$tmp/t",
        Seq("o_custkey", "o_totalprice"), numFiles = 8, bits = 5) // v2
      ParquetTable.readWhere(s, s"$tmp/t",
          col("o_custkey") <= 500L && col("o_totalprice") > 100000.0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Merge-on-read DELETE via deletion vectors (ParquetTable
    // .deleteVectors): two cumulative vector-delete commits mark rows
    // without rewriting one data file (the DV is (file, row_index)
    // pairs, applied as an anti-join on the reader's `_metadata`
    // columns; spec pins the zero-rewrite property), then the read
    // serves the survivors. The oracle is the complement of both
    // predicates over the source table.
    "q67_dv_delete" -> ((s, d) => {
      val tmp = scratchDir("graft_q67")
      ParquetTable.create(Tables.orders(s, d), s"$tmp/t") // versioned v1
      ParquetTable.deleteVectors(s, s"$tmp/t",
        col("o_orderstatus") === "F" && col("o_totalprice") < 120000.0) // v2
      ParquetTable.deleteVectors(s, s"$tmp/t",
        col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 120000.0) // v3
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // SQL INSERT INTO — the versioned append verb (Delta AddFile
    // parity): an O(appended rows) commit on unpartitioned tables (one
    // appended manifest dir, existing dirs untouched — InsertIntoSpec
    // pins the commit shape). INSERT ... SELECT appends shifted rows,
    // INSERT ... VALUES appends two IDENTICAL rows — duplicates must
    // survive (INSERT is append; MERGE is the upsert verb). The oracle
    // replays the appends as UNION ALL over the source table.
    "q68_sql_insert" -> ((s, d) => {
      val tmp = scratchDir("graft_q68")
      val cust = Tables.customer(s, d)
      ParquetTable.create(
        cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_mktsegment")),
        s"$tmp/t") // versioned v1
      cust.filter(col("c_custkey") % 5 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        .createOrReplaceTempView("q68_new")
      graft.sql.GraftSql.sql(s, s"INSERT INTO graft.`$tmp/t` SELECT * FROM q68_new")
      graft.sql.GraftSql.sql(s,
        s"""INSERT INTO graft.`$tmp/t` VALUES
           |(1, 'graft-row', 0.0, 'BUILDING'), (1, 'graft-row', 0.0, 'BUILDING')""".stripMargin)
      ParquetTable.read(s, s"$tmp/t")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"), col("c_name"))
    }),

    // CONVERT TO GRAFT (Delta CONVERT TO DELTA parity): a plain parquet
    // layout is adopted in place — files RENAMED into a data dir, never
    // rewritten — and the converted table is immediately a full
    // versioned citizen (here: a deletion-vector DELETE lands on the
    // adopted files). The oracle replays the subset + delete predicate.
    "q70_convert" -> ((s, d) => {
      val tmp = scratchDir("graft_q70")
      Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .write.parquet(s"$tmp/t") // plain pre-lakehouse layout
      ParquetTable.convert(s, s"$tmp/t") // v1, in place
      ParquetTable.deleteVectors(s, s"$tmp/t", col("o_orderstatus") === "F") // v2
      ParquetTable.read(s, s"$tmp/t")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Metadata-only aggregates (plans.MetadataAggregates): the whole
    // statement — COUNT(*), COUNT(nullable col) via sidecar null counts,
    // MIN/MAX of int and string columns — folds to a LocalRelation from
    // the stats sidecars, ZERO data files opened (DataSkippingSpec pins
    // the folded plan shape; this query oracles the VALUES against a
    // DuckDB full scan). Delta answers these from its log the same way.
    "q63_metadata_agg" -> ((s, d) => {
      val tmp = scratchDir("graft_q63")
      ParquetTable.create(
        Tables.orders(s, d).withColumn("o_big",
          when(col("o_totalprice") > 150000.0, col("o_totalprice"))),
        s"$tmp/t") // versioned v1, sidecar written at commit
      val ext = org.apache.spark.sql.GraftColumnBridge.sessionWithExtensions(
        s, new graft.functions.GraftSessionExtensions()(_))
      ext.sql(
        s"""SELECT count(*) AS n_rows, count(o_big) AS n_big,
           |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |       min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri
           |FROM graft.`$tmp/t`""".stripMargin)
    }))

  /** Replays PageRank.run over the q87 nation trade graph: the power
    * iteration is unrolled into one (dangling, contribs, ranks) CTE
    * triple per iteration — same dangling-mass redistribution, same
    * damping arithmetic.
    */
  private def pageRankOracle(iterations: Int, damping: Double): String = {
    val iterCtes = (1 to iterations).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (
         |  SELECT coalesce(sum(rank), 0) AS dm FROM $p
         |  WHERE id NOT IN (SELECT DISTINCT src FROM share)),
         |c$i AS (
         |  SELECT share.dst AS id, sum(share.share * $p.rank) AS inm
         |  FROM share JOIN $p ON share.src = $p.id GROUP BY share.dst),
         |r$i AS (
         |  SELECT nodes.id,
         |    (1 - $damping) / cnt.n
         |      + $damping * (coalesce(c$i.inm, 0) + d$i.dm / cnt.n) AS rank
         |  FROM nodes CROSS JOIN cnt CROSS JOIN d$i
         |  LEFT JOIN c$i ON nodes.id = c$i.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         count(*)::DOUBLE AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |cnt AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
       |share AS (
       |  SELECT e.src, e.dst, e.w / outw.ow AS share
       |  FROM e JOIN outw ON e.src = outw.src),
       |r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM nodes CROSS JOIN cnt),
       |$iterCtes
       |SELECT id, round(rank, 6) AS rank FROM r$iterations
       |ORDER BY id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_extendedprice > 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_topk_join_agg" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q04_region_revenue" ->
      """SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q06_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 48)
        |ORDER BY p_partkey""".stripMargin,
    "q07_flag_joinback" ->
      """SELECT c_custkey,
        |       CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |            THEN 1 ELSE 0 END AS has_orders
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q08_validate_rejected" ->
      s"""WITH dirty AS ($dirtySql)
         |SELECT o_orderkey,
         |       concat_ws('; ',
         |         CASE WHEN o_custkey IS NULL THEN 'Null o_custkey' END,
         |         CASE WHEN o_totalprice IS NOT NULL AND o_totalprice <= 0
         |              THEN 'Invalid o_totalprice: must be > 0' END) AS validation_errors
         |FROM dirty
         |WHERE o_custkey IS NULL OR (o_totalprice IS NOT NULL AND o_totalprice <= 0)
         |ORDER BY o_orderkey""".stripMargin,
    "q09_validate_valid" ->
      s"""WITH dirty AS ($dirtySql)
         |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         |FROM dirty
         |WHERE o_custkey IS NOT NULL AND NOT (o_totalprice IS NOT NULL AND o_totalprice <= 0)
         |ORDER BY o_orderkey""".stripMargin,
    "q144_notify_outbox" ->
      s"""WITH dirty AS ($dirtySql),
         |c AS (SELECT
         |  sum(CASE WHEN o_custkey IS NULL
         |        OR (o_totalprice IS NOT NULL AND o_totalprice <= 0)
         |      THEN 1 ELSE 0 END) AS rejected,
         |  sum(CASE WHEN NOT (o_custkey IS NULL
         |        OR (o_totalprice IS NOT NULL AND o_totalprice <= 0))
         |      THEN 1 ELSE 0 END) AS valid
         |  FROM dirty)
         |SELECT 'etl-orders-1' AS run_id, 'SUCCESS' AS status,
         |  'graft-etl: orders load complete' AS subject,
         |  'orders_t: valid=' || valid || ' rejected=' || rejected AS message,
         |  '2026-01-01T00:00:00Z' AS published_at
         |FROM c
         |UNION ALL
         |SELECT 'etl-orders-2', 'FAILURE_orders', 'graft-etl: orders failed',
         |  'java.lang.IllegalStateException: injected', '2026-01-02T00:00:00Z'
         |ORDER BY run_id""".stripMargin,

    "q10_merge_upsert" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 = 0
        |)
        |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd
        |)
        |ORDER BY o_orderkey""".stripMargin,
    "q11_dedup_keep_first" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q12_group_topk" ->
      """SELECT event_type, count(*) AS count FROM events
        |GROUP BY event_type
        |ORDER BY count DESC, event_type
        |LIMIT 5""".stripMargin,
    "q13_window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q14_running_sum" ->
      """SELECT user_id, event_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,
    "q15_hourly_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q16_values_not_exists" ->
      """SELECT v.id, v.note
        |FROM (VALUES (1, 'existing'), (2, 'existing'), (999999999, 'new')) AS v(id, note)
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = v.id)
        |ORDER BY v.id""".stripMargin,
    // Replays q32's catalog mutation declaratively: the final table state
    // is seed ∪ (VALUES rows whose key is absent from the seed) — the
    // second INSERT is a no-op by construction, so one union suffices.
    "q32_catalog_insert" ->
      """WITH seed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey <= 100),
        |nr AS (
        |  SELECT * FROM (VALUES
        |      (900001, 57, 400.25, TIMESTAMP '2025-04-02 18:08:00'),
        |      (900002, 24, 373.73, TIMESTAMP '2025-04-06 04:17:00'),
        |      (1, 66, 258.10, TIMESTAMP '2025-04-06 13:06:00'))
        |    AS t(o_orderkey, o_custkey, o_totalprice, o_orderdate)
        |  WHERE NOT EXISTS (SELECT 1 FROM seed e WHERE e.o_orderkey = t.o_orderkey)),
        |u AS (SELECT * FROM seed UNION ALL SELECT * FROM nr)
        |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_amount,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch
        |FROM u ORDER BY o_orderkey""".stripMargin,

    "q17_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q18_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q19_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q41_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q71_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // graft parses to a Spark VARIANT and extracts typed fields; the
    // oracle extracts the same field with DuckDB's JSON operators
    "q72_variant" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum((props->>'$.k')::INT) AS BIGINT) AS sum_k,
        |       max((props->>'$.k')::INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Replays Funnel.stageTimes' chained window mins: each stage's
    // completion time is the min event time of that type at-or-after the
    // previous stage's completion time, then per-entity reduction and
    // stage rollup.
    "q79_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events WHERE ts < TIMESTAMP '2024-01-03'),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM s0),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2
        |  FROM s1),
        |u AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
        |      FROM s2 GROUP BY user_id),
        |c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
        |SELECT 1 AS stage_idx, 'view' AS stage, n0 AS users,
        |       round(n0::DOUBLE / nullif(n0, 0), 4) AS conv_from_prev,
        |       round(n0::DOUBLE / nullif(n0, 0), 4) AS conv_overall FROM c
        |UNION ALL
        |SELECT 2, 'click', n1, round(n1::DOUBLE / nullif(n0, 0), 4),
        |       round(n1::DOUBLE / nullif(n0, 0), 4) FROM c
        |UNION ALL
        |SELECT 3, 'purchase', n2, round(n2::DOUBLE / nullif(n1, 0), 4),
        |       round(n2::DOUBLE / nullif(n0, 0), 4) FROM c
        |ORDER BY stage_idx""".stripMargin,

    // Replays GapFill.resampleFill: daily buckets, per-user
    // generate_series grid, left join, last_value IGNORE NULLS fill.
    "q80_gapfill" ->
      """WITH o AS (
        |  SELECT user_id, date_trunc('day', ts) AS b, sum(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |r AS (SELECT user_id, min(b) AS mn, max(b) AS mx FROM o GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS b
        |      FROM r),
        |j AS (SELECT g.user_id, g.b, o.v FROM g
        |      LEFT JOIN o ON g.user_id = o.user_id AND g.b = o.b),
        |f AS (SELECT user_id, b,
        |        last_value(v IGNORE NULLS) OVER (
        |          PARTITION BY user_id ORDER BY b
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
        |        v IS NOT NULL AS observed
        |      FROM j)
        |SELECT user_id, CAST(epoch(b) AS BIGINT) AS day_epoch,
        |       round(fv, 2) AS value, observed
        |FROM f ORDER BY user_id, day_epoch""".stripMargin,

    // Per-column statistics, one UNION ALL branch per profiled column.
    "q81_profile" ->
      """WITH t AS (SELECT *, CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch
        |           FROM orders)
        |SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |       count(*) - count(o_orderkey) AS n_nulls,
        |       count(DISTINCT o_orderkey) AS n_distinct,
        |       min(o_orderkey)::VARCHAR AS min_s, max(o_orderkey)::VARCHAR AS max_s FROM t
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |       count(DISTINCT o_custkey),
        |       min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR FROM t
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |       count(DISTINCT o_orderstatus),
        |       min(o_orderstatus), max(o_orderstatus) FROM t
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |       count(DISTINCT o_orderpriority),
        |       min(o_orderpriority), max(o_orderpriority) FROM t
        |UNION ALL
        |SELECT 'o_orderdate_epoch', count(*), count(*) - count(o_orderdate_epoch),
        |       count(DISTINCT o_orderdate_epoch),
        |       min(o_orderdate_epoch)::VARCHAR, max(o_orderdate_epoch)::VARCHAR FROM t
        |ORDER BY col_name""".stripMargin,

    // The Bloom pre-filter is row-reduction only: the oracle is the
    // PLAIN join — any Bloom false negative or dropped row would break
    // the hash match.
    "q82_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O' AND o_totalprice > 250000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Recomputes q83's final base state from scratch: %10 keys bumped
    // +1000, %97 keys gone, %100 keys re-inserted (original price) under
    // shifted ids. The view must equal this full recomputation.
    "q83_incremental_mv" ->
      """WITH final AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 = 0)
        |SELECT o_orderpriority, round(sum(p), 2) AS total,
        |       count(*) AS n_rows,
        |       round(sum(p) / count(*), 2) AS avg_price
        |FROM final GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q87_pagerank" -> pageRankOracle(iterations = 5, damping = 0.85),

    // Replays q91's clause algebra: matched (%10) rows with target price
    // < 100k are deleted, the rest take the +1000 source image; shifted
    // (%100) inserts land only above the 200k insert condition.
    "q91_conditional_merge" ->
      """SELECT o_orderkey, o_orderstatus, round(p, 2) AS o_totalprice
        |FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE NOT (o_orderkey % 10 = 0 AND o_totalprice < 100000.0)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 100 = 0 AND o_totalprice > 200000.0)
        |ORDER BY o_orderkey""".stripMargin,

    "q95_expectations" ->
      """WITH c AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_orderkey >= 0 THEN 1 ELSE 0 END)::BIGINT AS p1,
        |    sum(CASE WHEN o_totalprice < 500000.0 THEN 1 ELSE 0 END)::BIGINT AS p2,
        |    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS p3,
        |    sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS p4
        |  FROM orders)
        |SELECT 1 AS rule_idx, 'key_nonneg' AS rule, n AS n_rows,
        |       p1 AS n_pass, round(p1::DOUBLE / n, 6) AS pass_rate,
        |       1.0::DOUBLE AS min_rate, p1::DOUBLE / n >= 1.0 AS ok FROM c
        |UNION ALL SELECT 2, 'price_under_500k', n, p2,
        |       round(p2::DOUBLE / n, 6), 0.999::DOUBLE, p2::DOUBLE / n >= 0.999 FROM c
        |UNION ALL SELECT 3, 'open_share', n, p3,
        |       round(p3::DOUBLE / n, 6), 0.40::DOUBLE, p3::DOUBLE / n >= 0.40 FROM c
        |UNION ALL SELECT 4, 'priority_nonnull', n, p4,
        |       round(p4::DOUBLE / n, 6), 1.0::DOUBLE, p4::DOUBLE / n >= 1.0 FROM c
        |ORDER BY rule_idx""".stripMargin,

    // q92: %3 keys take the +1 source image; other keys survive only if
    // not status 'F' (the by-source conditional delete).
    "q92_sync_merge" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |             ELSE o_totalprice END, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 3 = 0 OR o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "q42_pivot_status" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_open,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_filled,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_partial
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q43_range_band_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('budget', 0.0, 930.0),
        |  ('mid', 930.0, 965.0),
        |  ('premium', 965.0, 1.7976931348623157e308))
        |SELECT band, count(*) AS n_parts,
        |       round(avg(p_retailprice), 2) AS avg_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q44_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // replays q48's deterministic v1→v2 construction: updates are keys
    // %10=0 that survived the delete (%97≠0), deletes are %97=0 (old
    // image), inserts are the shifted %100=0 copies
    "q48_table_changes" ->
      """SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal,
        |       'update' AS _change_type
        |FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 97 <> 0
        |UNION ALL
        |SELECT c_custkey, round(c_acctbal, 2), 'delete'
        |FROM customer WHERE c_custkey % 97 = 0
        |UNION ALL
        |SELECT c_custkey + 10000000, round(c_acctbal, 2), 'insert'
        |FROM customer WHERE c_custkey % 100 = 0
        |ORDER BY c_custkey, _change_type""".stripMargin,

    "q51_cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q52_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(o_totalprice) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT CAST(day AS VARCHAR) AS day, round(revenue, 2) AS revenue,
        |  round(avg(revenue) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
        |FROM daily ORDER BY day""".stripMargin,

    // the NDJSON round-trip is lossless for the selected columns and the
    // parse must quarantine exactly the 3 planted garbage lines
    "q53_json_ingest" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT 'zz_corrupt' AS lang, CAST(3 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS sum_chars
        |ORDER BY lang""".stripMargin,

    // the ORC round-trip is lossless, so the oracle queries the source
    "q54_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier WHERE s_acctbal > 0
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q55_window_lag_lead" ->
      """WITH e AS (SELECT * FROM events WHERE user_id % 100 = 0)
        |SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
        |  CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS prev_epoch,
        |  CAST(floor(epoch(lead(ts, 1) OVER w)) AS BIGINT) AS next_epoch,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  first_value(event_id) OVER w AS first_event
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_epoch, event_id""".stripMargin,

    // the pivot→unpivot round-trip is lossless, so the oracle is the
    // direct two-key aggregate
    "q56_unpivot" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    // identical to q10's oracle: the SQL MERGE runs twice, and replay
    // must be invisible (idempotent upsert-by-PK)
    "q57_sql_merge" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 = 0
        |)
        |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd
        |)
        |ORDER BY o_orderkey""".stripMargin,
    // per-commit CDF reconstructed from the deterministic construction:
    // commit 2 = +100 on every 10th key (pre+post) and shifted inserts of
    // every 100th; commit 3 = the revert of every 20th key (pre+post).
    "q58_cdf_percommit" ->
      """SELECT * FROM (
        |  SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal,
        |         'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, round(c_acctbal + 100.0, 2),
        |         'update_postimage', CAST(2 AS BIGINT)
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, round(c_acctbal, 2),
        |         'insert', CAST(2 AS BIGINT)
        |  FROM customer WHERE c_custkey % 100 = 0
        |  UNION ALL
        |  SELECT c_custkey, round(c_acctbal + 100.0, 2),
        |         'update_preimage', CAST(3 AS BIGINT)
        |  FROM customer WHERE c_custkey % 20 = 0
        |  UNION ALL
        |  SELECT c_custkey, round(c_acctbal, 2),
        |         'update_postimage', CAST(3 AS BIGINT)
        |  FROM customer WHERE c_custkey % 20 = 0
        |)
        |ORDER BY _commit_version, c_custkey, _change_type""".stripMargin,
    "q59_distinct_counts" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the deleted predicate's complement
    "q60_sql_delete" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 150000.0)
        |ORDER BY o_orderkey""".stripMargin,
    // the update as a CASE projection
    "q61_sql_update" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderstatus = 'O' AND o_totalprice > 200000.0
        |            THEN 'BUMPED' ELSE o_orderpriority END AS o_orderpriority,
        |       round(CASE WHEN o_orderstatus = 'O' AND o_totalprice > 200000.0
        |             THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS o_totalprice
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // skipping must be invisible: the pruned scan equals the plain filter
    "q62_skipping_scan" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_custkey <= 500 AND o_totalprice > 100000.0
        |ORDER BY o_orderkey""".stripMargin,
    // graft marks rows in deletion vectors; the oracle keeps the
    // complement of both delete predicates
    "q67_dv_delete" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |       round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 120000.0)
        |  AND NOT (o_orderpriority = '1-URGENT' AND o_totalprice >= 120000.0)
        |ORDER BY o_orderkey""".stripMargin,
    // graft runs two SQL INSERTs into a versioned table; the oracle
    // replays them as UNION ALL (duplicates kept — append semantics)
    "q68_sql_insert" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_name, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL SELECT 1, 'graft-row', 0.0, 'BUILDING'
        |  UNION ALL SELECT 1, 'graft-row', 0.0, 'BUILDING'
        |)
        |ORDER BY c_custkey, c_name""".stripMargin,
    // graft converts a plain layout in place then DV-deletes; the
    // oracle replays subset + delete predicate over the source table
    "q70_convert" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,
    // graft answers from sidecar metadata; the oracle scans — same values
    "q63_metadata_agg" ->
      """SELECT count(*) AS n_rows,
        |       count(CASE WHEN o_totalprice > 150000.0 THEN o_totalprice END) AS n_big,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri
        |FROM orders""".stripMargin)
}
