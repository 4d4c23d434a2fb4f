package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.sources.ParquetTable

/** The workloads' correctness checks. Each compares graft's answer with
  * one the benchmark derives from its own generated inputs, never through
  * graft's table layer. [[selfTest]] shows each check rejecting a
  * deliberately corrupted answer; every run executes it first.
  */
object Checks {

  /** One cell in canonical text: numbers with 4 decimals, so sums of
    * cent amounts compare equal whatever order they were added in.
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.4f"
    case d: java.math.BigDecimal => f"${d.doubleValue}%.4f"
    case other => other.toString
  }

  def row(cells: Seq[Any]): String = cells.map(cell).mkString("|")

  /** Canonical rows of a table as graft reads it: timestamps as epoch
    * seconds, dates as ISO strings, every other value as its text.
    */
  def tableRows(spark: SparkSession, path: String, columns: Seq[String]): Seq[String] = {
    val df = ParquetTable.read(spark, path)
    val cols = columns.map { c =>
      df.schema(c).dataType match {
        case TimestampType => col(c).cast("long").as(c)
        case DateType => col(c).cast("string").as(c)
        case _ => col(c)
      }
    }
    df.select(cols: _*).collect().toSeq
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString)
        .mkString("|"))
  }

  def tableDigest(spark: SparkSession, path: String, columns: Seq[String]): Util.Digest =
    Util.Digest.of(tableRows(spark, path, columns))

  /** Row count and order-independent hash equal the expected image. */
  def imageMatches(name: String, expected: Iterable[String], got: Util.Digest): Option[String] = {
    val want = Util.Digest.of(expected)
    if (want == got) None else Some(s"$name image $got, expected $want")
  }

  /** Same multiset of canonical rows. */
  def sameAnswer(expected: Seq[String], got: Seq[String]): Option[String] =
    if (expected.sorted == got.sorted) None
    else Some(s"got ${got.sorted.take(5).mkString("[", "; ", "]")}, expected " +
      expected.sorted.take(5).mkString("[", "; ", "]"))

  /** Per-table (input, rejected) counts equal the injected ones. */
  def countsMatch(expected: Map[String, (Long, Long)], got: Map[String, (Long, Long)]): Option[String] =
    if (expected == got) None else Some(s"(input, rejected) per table $got, expected $expected")

  /** A curation run repeats the first run's funnel and survivor set. */
  def sameRun(first: (Seq[(String, Long)], Util.Digest),
      now: (Seq[(String, Long)], Util.Digest)): Option[String] =
    if (first == now) None else Some(s"funnel/survivors $now differ from first run $first")

  val selfTestCases = 10

  /** Each check must accept the right answer and reject a corrupted one
    * (a dropped row, a changed value, a changed count). Returns the
    * cases that misbehaved.
    */
  def selfTest(): Seq[String] = {
    val image = Seq("1|a|10.5", "2|b|3.25", "3|c|7.0")
    val funnel = Seq("input" -> 10L, "c4_filter" -> 8L)
    val counts = Map("orders" -> ((12L, 2L)))
    val survivors = Util.Digest.of(Seq("1|0|0", "2|1|0"))
    val cases: Seq[(String, Boolean, Option[String])] = Seq(
      ("image: same rows", true, imageMatches("t", image, Util.Digest.of(image.reverse))),
      ("image: row dropped", false, imageMatches("t", image, Util.Digest.of(image.tail))),
      ("image: value changed", false,
        imageMatches("t", image, Util.Digest.of(image.updated(1, "2|b|3.26")))),
      ("answer: reordered", true, sameAnswer(image, image.reverse)),
      ("answer: row dropped", false, sameAnswer(image, image.init)),
      ("answer: sum off by a cent", false,
        sameAnswer(Seq(row(Seq(3L, 21.0))), Seq(row(Seq(3L, 21.01))))),
      ("counts: equal", true, countsMatch(counts, Map("orders" -> ((12L, 2L))))),
      ("counts: one rejected row missing", false, countsMatch(counts, Map("orders" -> ((12L, 1L))))),
      ("curation: funnel changed", false,
        sameRun((funnel, survivors), (funnel.updated(1, "c4_filter" -> 7L), survivors))),
      ("curation: survivor dropped", false,
        sameRun((funnel, survivors), (funnel, Util.Digest.of(Seq("1|0|0"))))))
    require(cases.size == selfTestCases)
    cases.collect {
      case (name, shouldPass, verdict) if verdict.isEmpty != shouldPass =>
        s"$name: check returned ${verdict.getOrElse("pass")}"
    }
  }
}
