package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Stream

/** The one drain seam, `Stream.drain`: it is the only place a
  * streaming query starts, its memory sink leaves no temp view behind,
  * and the state width it derives is a cost knob, never a semantics
  * knob. */
class DrainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def views(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("memory-sink drains drop their view: st1 and st10 twice on one session leave none and agree") {
    val before = views()
    val st1 = Seq.fill(2)(Stream.st1StreamHourly(spark, sf).collect().toSeq)
    val st10 = Seq.fill(2)(
      graft.streaming.Stateful.st10TransformWithState(spark, sf).collect().toSeq)
    val left = views() -- before
    assert(left.isEmpty, s"drains left temp views behind: $left")
    assert(!views().exists(v => v.startsWith("st1_out_") || v.startsWith("st10_out_")))
    assert(st1.head.nonEmpty && st10.head.nonEmpty)
    assert(st1(0) == st1(1), "st1 rows differ between two calls")
    assert(st10(0) == st10(1), "st10 rows differ between two calls")
  }

  /** Drain `plan` into a zone at `width` (None = the derived one) and
    * return its rows plus the state width its checkpoint recorded. */
  private def drained(plan: DataFrame, state: Stream.StateKind,
      width: Option[Int]): (Seq[String], Int) = {
    val work = Stream.workDir("graft_drainspec_")
    val rows = sorted(Stream.drain(spark, work, plan, Stream.Sink.Zone,
      Stream.tableBytes(sf, "events"), state, width = width))
    val offsets = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/chk/offsets/0")), "UTF-8")
    val recorded = "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r
      .findFirstMatchIn(offsets).map(_.group(1).toInt)
    assert(recorded.isDefined, s"no state width in the offset log:\n$offsets")
    (rows, recorded.get)
  }

  Seq(
    ("st6 (two chained stateful operators)",
      () => Stream.st6Plan(spark, sf), Stream.StateKind.Plain: Stream.StateKind),
    ("st11 (left-outer join, four stores per partition)",
      () => Stream.viewPurchaseJoin(spark, sf, "left_outer"), Stream.StateKind.JoinStores)
  ).foreach { case (what, plan, state) =>
    test(s"$what drains equal rows at the derived width and at width 2") {
      val derived = Stream.drainPartitionsFor(
        spark, Stream.tableBytes(sf, "events"), state.storeWeight)
      assert(derived == 8, s"gate SF must derive width 8, got $derived")
      val (wide, wideWidth) = drained(plan(), state, None)
      val (narrow, narrowWidth) = drained(plan(), state, Some(2))
      assert(wideWidth == 8 && narrowWidth == 2,
        s"drains ran at $wideWidth and $narrowWidth, not 8 and 2")
      assert(wide.nonEmpty, s"$what drained no rows")
      assert(wide == narrow,
        s"$what: ${wide.size} rows at width 8 vs ${narrow.size} at width 2")
    }
  }

  test("Trigger.AvailableNow occurs once in src/main, inside Stream.drain") {
    // comments are stripped first: docs may name the trigger freely
    def code(src: String): String =
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = code(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        "AvailableNow".r.findAllMatchIn(src).map(m => (p, src, m.start))
      }.toSeq
    assert(hits.size == 1,
      s"expected one AvailableNow start, found ${hits.size}: ${hits.map(_._1).mkString(", ")}")
    val (path, src, at) = hits.head
    assert(path.endsWith("streaming/Stream.scala"), s"the start is in $path")
    val drainAt = src.indexOf("def drain(")
    val nextMember = "\n  (private\\S* )?(def|val|lazy val|object|class|trait) ".r
      .findFirstMatchIn(src.substring(drainAt + 1)).map(_.start + drainAt + 1)
      .getOrElse(src.length)
    assert(drainAt >= 0 && drainAt < at && at < nextMember,
      "the AvailableNow start is not inside Stream.drain")
  }
}
