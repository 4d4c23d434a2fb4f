package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._

import graft.sources.ParquetTable
import graft.sql.GraftSql

/** `table_rw`: a seeded statement stream through `GraftSql.sql` over
  * date-partitioned versioned tables, in rounds of a fixed mix with
  * seeded parameters: 8 reads (point lookups, date range aggregates, the
  * items→orders→products join, `VERSION AS OF`, `graft_table_changes`)
  * and 2 commits. A round opens with a commit from [[FirstCommit]]:
  * every other round deletes under merge-on-read, so deletion vectors
  * accumulate and every read until the next compaction runs over them.
  * A `MERGE INTO` correction batch follows in every round.
  * `ParquetTable.compact` runs before every [[CompactRounds]]th round,
  * outside the rounds, and once more at the end, before `vacuum`.
  *
  * Every read is checked against a replay of the same statements on an
  * in-memory model of the orders table, kept per committed version.
  */
final class TableRw(spark: SparkSession, seed: Long, root: String)
    extends Workload(spark, seed, root) {

  /** Rounds between compactions: a multiple of the traced run's ABBA
    * block, so traced and untraced rounds sit equally far from one.
    */
  private val CompactRounds = 4
  /** The first commit of round n is `FirstCommit(n % 4)`: three rounds
    * run every kind.
    */
  private val FirstCommit = Seq("delete_mor", "update", "delete", "delete_mor")
  /** Round n, in this order. */
  private def round(n: Int): Seq[String] =
    Seq(FirstCommit(n % FirstCommit.size), "point", "range", "join", "point", "as_of", "merge",
      "range", "cdf", "point")
  private val RoundSize = round(0).size
  /** (wall, CPU seconds, traced, JIT seconds) of each round. */
  private val rounds = mutable.ArrayBuffer.empty[(Double, Double, Boolean, Double)]

  final case class Order(user: Int, amount: Double, date: String)

  /** One table set plus its model. */
  final class State(val dir: String, nDates: Int, ordersPerDate: Int, nProducts: Int,
      streamSeed: Long) {
    val orders = s"$dir/orders"
    val items = s"$dir/order_items"
    val products = s"$dir/products"
    private val rnd = new scala.util.Random(streamSeed)
    val dates: IndexedSeq[String] =
      (0 until nDates).map(i => java.time.LocalDate.of(2025, 1, 1).plusDays(i).toString)
    val hash = new Util.InputHash
    var cur: Map[Int, Order] = Map.empty
    val versions = mutable.LinkedHashMap.empty[Long, Map[Int, Order]]
    val dataVersions = mutable.ArrayBuffer.empty[Long]
    var nextId = 1
    val dept: Map[Int, String] = (1 to nProducts).map(p => p -> s"dept_${p % 8}").toMap
    /** order id → (product, quantity) of its items; items never change. */
    val itemsOf = mutable.Map.empty[Int, Seq[(Int, Int)]]

    private def amount(): String = {
      val c = 100 + rnd.nextInt(40000)
      f"${c / 100}%d.${c % 100}%02d"
    }

    def create(): Unit = {
      val orderRows = mutable.ArrayBuffer.empty[Row]
      val itemRows = mutable.ArrayBuffer.empty[Row]
      var itemId = 1
      for (d <- dates; _ <- 1 to ordersPerDate) {
        val id = nextId; nextId += 1
        val o = Order(1 + rnd.nextInt(5000), amount().toDouble, d)
        cur += id -> o
        orderRows += Row(id, o.user, o.amount, java.sql.Date.valueOf(d))
        val its = (1 to 1 + rnd.nextInt(5)).map(_ => (1 + rnd.nextInt(nProducts), 1 + rnd.nextInt(9)))
        itemsOf(id) = its
        its.foreach { case (p, q) =>
          itemRows += Row(itemId, id, p, q, java.sql.Date.valueOf(d)); itemId += 1
        }
      }
      hash.add(orderRows.mkString); hash.add(itemRows.mkString)
      val productRows = (1 to nProducts).map(p => Row(p, dept(p), (p % 97) + 0.5))
      def df(rows: Seq[Row], fields: (String, DataType)*) = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }))
      ParquetTable.createVersioned(df(orderRows.toSeq, "order_id" -> IntegerType,
        "user_id" -> IntegerType, "total_amount" -> DoubleType, "date" -> DateType),
        orders, Seq("date"))
      ParquetTable.createVersioned(df(itemRows.toSeq, "id" -> IntegerType,
        "order_id" -> IntegerType, "product_id" -> IntegerType, "quantity" -> IntegerType,
        "date" -> DateType), items, Seq("date"))
      ParquetTable.create(df(productRows, "product_id" -> IntegerType,
        "department" -> StringType, "price" -> DoubleType), products)
      record(dataChanged = true)
    }

    /** Note the version the last commit produced and the model image at it. */
    def record(dataChanged: Boolean): Unit = {
      val v = ParquetTable.currentVersion(spark, orders).get
      if (!versions.contains(v)) {
        versions(v) = cur
        if (dataChanged) dataVersions += v
      }
    }

    private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
    private def ids: IndexedSeq[Int] = cur.keysIterator.toIndexedSeq.sorted
    private def dateRange(): (String, String) = {
      val i = rnd.nextInt(dates.size - 4)
      (dates(i), dates(i + 2 + rnd.nextInt(3)))
    }
    private def sumRow(os: Iterable[Order]): Seq[String] =
      Seq(Checks.row(Seq(os.size.toLong,
        if (os.isEmpty) null else os.toSeq.sortBy(_.amount).map(_.amount).sum)))

    /** The statement of `kind` with seeded parameters: its SQL plus the
      * expected rows (reads) or the model's next image and changed-row
      * count (commits).
      */
    def next(kind: String): Stmt = {
      val t = s"graft.`$orders`"
      val cdfVersions = dataVersions.filter(v => versions.contains(v - 1)).toIndexedSeq
      if (kind == "point" || (kind == "cdf" && cdfVersions.isEmpty)) {
        val id = if (rnd.nextInt(10) == 0) nextId + 7 else pick(ids)
        Read("point", s"SELECT order_id, user_id, total_amount, CAST(date AS STRING) " +
          s"FROM $t WHERE order_id = $id",
          cur.get(id).map(o => Checks.row(Seq(id, o.user, o.amount, o.date))).toSeq)
      } else if (kind == "range") {
        val (a, b) = dateRange()
        Read("range", s"SELECT count(*), sum(total_amount) FROM $t " +
          s"WHERE date BETWEEN DATE'$a' AND DATE'$b'",
          sumRow(cur.values.filter(o => o.date >= a && o.date <= b)))
      } else if (kind == "join") {
        val (a, b) = dateRange()
        val agg = mutable.Map.empty[String, (Long, Long)]
        for ((id, o) <- cur if o.date >= a && o.date <= b; (p, q) <- itemsOf(id)) {
          val (n, s) = agg.getOrElse(dept(p), (0L, 0L))
          agg(dept(p)) = (n + 1, s + q)
        }
        Read("join", s"SELECT p.department, count(*), sum(i.quantity) " +
          s"FROM graft.`$items` i JOIN $t o ON i.order_id = o.order_id " +
          s"JOIN graft.`$products` p ON i.product_id = p.product_id " +
          s"WHERE o.date BETWEEN DATE'$a' AND DATE'$b' GROUP BY p.department",
          agg.toSeq.map { case (d, (n, s)) => Checks.row(Seq(d, n, s)) })
      } else if (kind == "as_of") {
        val v = pick(versions.keys.toIndexedSeq)
        val d = pick(dates)
        Read("as_of", s"SELECT count(*), sum(total_amount) FROM $t VERSION AS OF $v " +
          s"WHERE date = DATE'$d'", sumRow(versions(v).values.filter(_.date == d)))
      } else if (kind == "cdf") {
        val v = pick(cdfVersions)
        val (before, after) = (versions(v - 1), versions(v))
        val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
        (before.keySet ++ after.keySet).foreach { id =>
          (before.get(id), after.get(id)) match {
            case (None, Some(_)) => counts("insert") += 1
            case (Some(_), None) => counts("delete") += 1
            case (Some(x), Some(y)) if x != y =>
              counts("update_preimage") += 1; counts("update_postimage") += 1
            case _ =>
          }
        }
        Read("cdf", s"SELECT _change_type, count(*) FROM " +
          s"graft_table_changes('$orders', $v, $v, 'order_id') GROUP BY _change_type",
          counts.toSeq.map { case (k, n) => Checks.row(Seq(k, n)) })
      } else if (kind == "merge") {
        val upd = rnd.shuffle(ids).take(12).map { id =>
          val o = cur(id)
          var a = amount()
          while (a.toDouble == o.amount) a = amount()
          id -> o.copy(amount = a.toDouble) -> a
        }
        val ins = (1 to 4).map { _ =>
          val id = nextId; nextId += 1
          itemsOf(id) = Nil
          val a = amount()
          id -> Order(1 + rnd.nextInt(5000), a.toDouble, pick(dates)) -> a
        }
        val values = (upd ++ ins).map { case ((id, o), a) =>
          s"($id, ${o.user}, ${a}D, DATE'${o.date}')"
        }.mkString(", ")
        Commit("merge", s"MERGE INTO $t AS t USING (SELECT * FROM VALUES $values " +
          "AS v(order_id, user_id, total_amount, date)) AS s ON t.order_id = s.order_id " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          cur ++ (upd ++ ins).map(_._1), upd.size + ins.size, mor = false)
      } else if (kind == "update") {
        val d = pick(dates)
        val k = rnd.nextInt(13)
        val hit = cur.filter { case (_, o) => o.date == d && o.user % 13 == k }
        Commit("update", s"UPDATE $t SET total_amount = total_amount + 1.25D " +
          s"WHERE date = DATE'$d' AND user_id % 13 = $k",
          cur ++ hit.map { case (id, o) => id -> o.copy(amount = o.amount + 1.25) },
          hit.size, mor = false)
      } else {
        require(kind == "delete" || kind == "delete_mor", kind)
        val gone = rnd.shuffle(ids).take(6)
        Commit("delete", s"DELETE FROM $t WHERE order_id IN (${gone.mkString(", ")})",
          cur -- gone, gone.size, mor = kind == "delete_mor")
      }
    }
  }

  sealed trait Stmt { def kind: String; def sql: String }
  final case class Read(kind: String, sql: String, expected: Seq[String]) extends Stmt
  final case class Commit(kind: String, sql: String, image: Map[Int, Order], changed: Int,
      mor: Boolean) extends Stmt

  private var st: State = _
  private var stmtHash = new Util.InputHash
  private var statements = 0
  private var loopStart = 0L
  private var spaceAmp = Double.NaN
  private var spaceAmpVacuumed = Double.NaN
  private var liveFiles = 0
  private var dvDirs = 0

  override def warmupFirst: Boolean = true

  override def warmup(): Unit = {
    val w = new State(s"$root/warmup", 6, 20, 40, seed ^ 0x5eed)
    w.create()
    val saved = st
    st = w
    step()
    Seq("update", "delete").foreach(k => statement(w.next(k)))
    compact(); vacuum()
    st = saved
    statements = 0
    stmtHash = new Util.InputHash
    rounds.clear()
    Util.deleteTree(w.dir)
  }

  override def setup(dir: String): Unit = {
    st = new State(dir, 30, 150, 400, seed)
    st.create()
  }

  /** Three rounds; a traced run, one ABBA block (its settling round is
    * no unit and not in [[rounds]]).
    */
  override def enoughSamples(traceRun: Boolean): Boolean =
    if (traceRun) rounds.count(_._3) >= 2 && rounds.count(!_._3) >= 2
    else rounds.size >= 3

  override def step(): Unit = {
    if (rounds.isEmpty) loopStart = System.nanoTime()
    else if (rounds.size % CompactRounds == 0) compact()
    val n0 = samples.size
    round(rounds.size).foreach(k => statement(st.next(k)))
    val stmts = samples.drop(n0)
    if (unit >= 0) {
      rounds += ((stmts.map(_.wallS).sum, stmts.map(_.cpuS).sum, Trace.active, stmts.map(_.jitS).sum))
      statements += stmts.size
    }
  }

  private def statement(stmt: Stmt): Unit = {
    stmtHash.add(stmt.sql)
    val traced = Trace.active
    stmt match {
      case Read(kind, sql, expected) =>
        val span = if (kind == "cdf") "sources.cdf" else "sources.read"
        var kept = Option.empty[Long]
        measure(kind) {
          val df = Trace.span("sql.plan")(GraftSql.sql(spark, sql))
          val rows = Trace.span(span)(df.collect())
          if (traced && (kind == "point" || kind == "range")) kept = scannedFiles(df)
          rows
        } { rows => Checks.sameAnswer(expected, rows.toSeq.map(r => Checks.row(r.toSeq))) }
        if (traced) annotateLast(kept.map(k => Map("files_kept" -> k.toDouble,
          "files_total" -> liveFiles.toDouble)).getOrElse(Map.empty) +
          ("dv_dirs_live" -> dvDirs.toDouble))
      case Commit(kind, sql, image, changed, mor) =>
        val before = if (traced) Util.files(st.orders).keySet else Set.empty[String]
        if (mor) spark.conf.set("spark.graft.delete.mode", "merge-on-read")
        val ok = try measure(s"commit.$kind${if (mor) "_mor" else ""}") {
            Trace.span(s"sources.commit.$kind")(GraftSql.sql(spark, sql).collect())
          }(_ => None).isDefined
          finally if (mor) spark.conf.unset("spark.graft.delete.mode")
        if (ok) {
          st.cur = image
          st.record(dataChanged = changed > 0)
        }
        if (traced) {
          val added = (Util.files(st.orders).keySet -- before).count(Util.isDataFile)
          annotateLast(Map("files_written" -> added.toDouble, "changed" -> changed.toDouble))
          refreshLive()
        }
    }
  }

  private def refreshLive(): Unit = {
    liveFiles = ParquetTable.read(spark, st.orders).inputFiles.length
    dvDirs = ParquetTable.dvDirs(spark, st.orders,
      ParquetTable.currentVersion(spark, st.orders).get).size
  }

  /** Background work between rounds: traced whenever the run traces,
    * and part of no round.
    */
  private def compact(): Unit = Trace.activeWhile(Trace.installed) {
    val step = unit
    unit = -1
    val before = Util.files(st.orders)
    measure("compact", countAsUnit = false) {
      Trace.span("sources.compact")(ParquetTable.compact(spark, st.orders))
    }(_ => None)
    val added = Util.files(st.orders) -- before.keySet
    annotateLast(Map("bytes_rewritten" -> added.filter(f => Util.isDataFile(f._1)).values.sum.toDouble))
    st.record(dataChanged = false)
    if (Trace.active) refreshLive()
    unit = step
  }

  private def vacuum(): Unit = {
    val before = Util.files(st.orders).size
    measure("vacuum", countAsUnit = false) {
      Trace.span("sources.vacuum")(ParquetTable.vacuum(spark, st.orders))
    }(_ => None)
    annotateLast(Map("files_removed" -> (before - Util.files(st.orders).size).toDouble))
  }

  /** Live bytes: the files the current snapshot reads. */
  private def amplification(): Double = {
    val live = ParquetTable.read(spark, st.orders).inputFiles
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    Util.bytesUnder(st.orders) / live.toDouble
  }

  private def checkImage(when: String): Unit = {
    val want = st.cur.map { case (id, o) => s"$id|${o.user}|${o.amount}|${o.date}" }
    Checks.imageMatches(s"orders $when", want,
      Checks.tableDigest(spark, st.orders, Seq("order_id", "user_id", "total_amount", "date")))
      .foreach(problems += _)
  }

  override def finish(): Unit = {
    val loopWall = (System.nanoTime() - loopStart) / 1e9
    opsPerS = statements / loopWall
    checkImage("at loop end")
    spaceAmp = amplification()
    compact()
    vacuum()
    spaceAmpVacuumed = amplification()
    checkImage("after vacuum")
  }

  private var opsPerS = Double.NaN

  /** Number of files the scans of an executed query read. */
  private def scannedFiles(df: DataFrame): Option[Long] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    if (found.isEmpty) None else Some(found.flatMap(_.metrics.get("numFiles")).map(_.value).sum)
  }

  private def stmtSamples(traced: Boolean) =
    samples.filter(s => s.traced == traced && s.unit >= 0).toSeq

  private def readWalls = stmtSamples(traced = false).filterNot(_.kind.startsWith("commit"))
    .map(_.wallS)
  private def writeWalls = stmtSamples(traced = false).filter(_.kind.startsWith("commit"))
    .map(_.wallS)

  private def untracedRounds = rounds.filterNot(_._3).toSeq

  /** Median wall of one round of 10 statements (compaction excluded). */
  override def unitP50: Double = Util.median(untracedRounds.map(_._1))
  /** Statements / summed statement wall (compaction excluded). */
  override def workPerS: Double = RoundSize * untracedRounds.size / untracedRounds.map(_._1).sum
  override def unitCpuP50: Double = Util.median(untracedRounds.map(_._2))
  override def workPerCpuS: Double =
    RoundSize * untracedRounds.size / untracedRounds.map(_._2).sum

  override def endToEndDetail: Map[String, Any] = {
    val (rl, rv, rn) = Util.tail(readWalls)
    val (wl, wv, wn) = Util.tail(writeWalls)
    Map(
      "rw.read_s.p50" -> Util.median(readWalls),
      s"rw.read_s.$rl" -> rv,
      "rw.read_s.samples" -> rn,
      "rw.write_s.p50" -> Util.median(writeWalls),
      s"rw.write_s.$wl" -> wv,
      "rw.write_s.samples" -> wn,
      "rw.ops_per_s" -> opsPerS,
      "rw.round_s" -> untracedRounds.map(_._1),
      "rw.round_cpu_s" -> untracedRounds.map(_._2),
      "rw.round_jit_s" -> untracedRounds.map(_._4),
      "rw.space_amp" -> spaceAmp,
      "rw.space_amp_after_vacuum" -> spaceAmpVacuumed,
      "rw.compactions" -> samples.count(_.kind == "compact"),
      "rw.versions" -> st.versions.size)
  }

  override def inputs: Map[String, Any] = Map(
    "dates" -> st.dates.size, "orders" -> st.versions.head._2.size,
    "items" -> st.itemsOf.values.map(_.size).sum, "products" -> st.dept.size,
    "statements" -> statements, "compact_every_rounds" -> CompactRounds,
    "row_bytes" -> st.hash.bytes,
    "row_bytes_over_heap" -> st.hash.bytes.toDouble / Runtime.getRuntime.maxMemory(),
    "sha256_16" -> st.hash.hex, "statements_sha256_16" -> stmtHash.hex)

  override def layerMetrics: Map[String, Double] = {
    val verbs = Seq("merge", "update", "delete").flatMap { v =>
      val span = s"sources.commit.$v"
      spanSet(span, "s", "jobs", "bytes_written") ++
        extraMedian("files_written", Some(s"commit.$v")).map(s"$span.files_written" -> _)
    }
    val rewrite = tracedMedian(s => for {
      c <- s.spans.collectFirst { case (k, a) if k.startsWith("sources.commit.") => a }
      n <- s.extra.get("changed") if n > 0
    } yield c.outRows / n)
    spanSet("sql.plan", "s") ++ spanSet("sources.read", "s", "task_s") ++
      spanSet("sources.cdf", "s") ++ spanSet("sources.compact", "s") ++
      spanSet("sources.vacuum", "s") ++ verbs ++
      rewrite.map("sources.commit.rewrite_ratio" -> _) ++
      Seq("files_kept", "files_total", "dv_dirs_live").flatMap(k =>
        extraMedian(k).map(s"sources.read.$k" -> _)) ++
      extraMedian("bytes_rewritten", Some("compact")).map("sources.compact.bytes_rewritten" -> _) ++
      extraMedian("files_removed", Some("vacuum")).map("sources.vacuum.files_removed" -> _)
  }
}
