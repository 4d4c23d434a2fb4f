package graft.sql

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.ParquetTable

/** The SQL surface of the stats layer: ANALYZE (full-scan build),
  * ANALYZE … COMPUTE INCREMENTAL STATISTICS (change-feed advance), and
  * SHOW STATISTICS (estimates + the exactness flag).
  */
class AnalyzeStatsSpec extends SparkSpec {

  import spark.implicits._

  private def rows(from: Int, until: Int) =
    (from until until).map(i => (i.toLong, s"user_$i")).toDF("id", "name")

  test("ANALYZE / INCREMENTAL / SHOW STATISTICS round-trip on a live table") {
    val t = tmpDir("sql_stats") + "/t"
    ParquetTable.merge(spark, t, rows(0, 2000), Seq("id"))

    val v1 = GraftSql.sql(spark,
      s"ANALYZE graft.`$t` COMPUTE STATISTICS FOR COLUMNS (id, name)")
      .collect()(0).getLong(0)
    assert(v1 === 1L)
    val s1 = GraftSql.sql(spark, s"SHOW STATISTICS graft.`$t`").collect()
    assert(s1.map(_.getString(0)).toSeq === Seq("id", "name"))
    s1.foreach { r =>
      assert(math.abs(r.getDouble(4) - 2000.0) / 2000.0 < 0.1,
        s"${r.getString(0)}: ${r.getDouble(4)}")
      assert(r.getBoolean(5)) // exact
    }

    // append-only window → incremental advance stays exact and tracks NDV
    ParquetTable.merge(spark, t, rows(2000, 4000), Seq("id"))
    val v2 = GraftSql.sql(spark,
      s"ANALYZE graft.`$t` COMPUTE INCREMENTAL STATISTICS USING PK (id)")
      .collect()(0).getLong(0)
    assert(v2 === 2L)
    val s2 = GraftSql.sql(spark, s"SHOW STATISTICS graft.`$t`").collect()
    s2.foreach { r =>
      assert(math.abs(r.getDouble(4) - 4000.0) / 4000.0 < 0.1,
        s"${r.getString(0)}: ${r.getDouble(4)}")
      assert(r.getBoolean(5))
    }

    // a delete in the window flips the documented upper-bound flag
    GraftSql.sql(spark, s"DELETE FROM graft.`$t` WHERE id = 7")
    GraftSql.sql(spark,
      s"ANALYZE graft.`$t` COMPUTE INCREMENTAL STATISTICS USING PK (id)")
    val s3 = GraftSql.sql(spark, s"SHOW STATISTICS graft.`$t`").collect()
    assert(s3.forall(!_.getBoolean(5)))

    // re-ANALYZE recomputes and resets exactness
    GraftSql.sql(spark,
      s"ANALYZE graft.`$t` COMPUTE STATISTICS FOR COLUMNS (id, name)")
    val s4 = GraftSql.sql(spark, s"SHOW STATISTICS graft.`$t`").collect()
    assert(s4.forall(_.getBoolean(5)))

    // the sketch dir is invisible to table reads; VACUUM sweeps the dirs
    // the re-ANALYZEs replaced and never a live one, and the statistics
    // answer the same afterwards
    assert(ParquetTable.read(spark, t).count() === 3999)
    val statsDir = new java.io.File(ParquetTable.statsDir(t))
    val live = graft.sources.IndexStore.head(spark, statsDir.getPath).entries.map(_._2).toSet
    val onDisk = statsDir.listFiles().map(_.getName).filter(_.startsWith("_d")).toSet
    val replaced = onDisk -- live
    assert(live.nonEmpty && replaced.nonEmpty, s"live $live, on disk $onDisk")
    val sweep = ParquetTable.vacuumPlan(spark, t, keepLast = 1)
    val swept = sweep.collect { case ("data_dir", p) if p.contains("_graft_stats") =>
      new org.apache.hadoop.fs.Path(p).getName }.toSet
    assert(swept === replaced, sweep.toString)
    ParquetTable.vacuum(spark, t, keepLast = 1)
    assert(statsDir.listFiles().map(_.getName).filter(_.startsWith("_d")).toSet === live)
    assert(GraftSql.sql(spark, s"SHOW STATISTICS graft.`$t`").collect().toSeq === s4.toSeq)
  }

  test("CDF-captured windows take the change-manifest feed and equal one-shot") {
    import graft.operators.StatsSketch
    val t = tmpDir("cdf_stats") + "/t"
    val sk = tmpDir("cdf_stats_sk") + "/s"
    val oneShot = tmpDir("cdf_stats_one") + "/s"
    ParquetTable.merge(spark, t, rows(0, 1500), Seq("id"))
    StatsSketch.analyze(spark, t, Seq("id", "name"), sk)
    // two append-only commits, BOTH captured — the incremental advance
    // must consume the manifests (change-sized) and still equal the
    // one-shot registers over the final table; exactness survives
    ParquetTable.merge(spark, t, rows(1500, 2500), Seq("id"), cdf = true)
    ParquetTable.merge(spark, t, rows(2500, 3000), Seq("id"), cdf = true)
    assert(ParquetTable.hasChangeManifests(spark, t, 2, 3))
    StatsSketch.analyzeIncremental(spark, t, Seq("id"), sk)
    assert(StatsSketch.isExact(spark, sk))
    StatsSketch.save(ParquetTable.read(spark, t), Seq("id", "name"), oneShot)
    assert(StatsSketch.estimate(spark, sk).orderBy("column").collect().toSeq ===
      StatsSketch.estimate(spark, oneShot).orderBy("column").collect().toSeq)
    // an UNcaptured commit in the next window is detected and the
    // snapshot-diff fallback still advances correctly
    ParquetTable.merge(spark, t, rows(3000, 3200), Seq("id"))
    assert(!ParquetTable.hasChangeManifests(spark, t, 4, 4))
    StatsSketch.analyzeIncremental(spark, t, Seq("id"), sk)
    val est = StatsSketch.estimate(spark, sk)
      .filter(col("column") === "id").head()
    assert(math.abs(est.getDouble(est.fieldIndex("ndv_est")) - 3200.0) / 3200.0 < 0.1)
  }
}
