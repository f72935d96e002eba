package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Entry

/** The single-entry tool: Bench's TIMED contract, in-process runs of a
  * batch and a streaming entry, and the guard that keeps every main
  * under `src/main` documented. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("TIMED record: Bench parses back the per-rep sample Entry formats") {
    val line = Bench.timedLine("d3_lsh_pairs", 1234L, Seq(0.5, 0.1234, 2.0))
    assert(line == "TIMED d3_lsh_pairs rows=1234 median=0.500000 s over 3 reps [0.500,0.123,2.000]")
    assert(Bench.parseTimed(line).contains(Seq(0.5, 0.123, 2.0)))
    // stdout fallback: log noise around the record does not matter
    assert(Bench.parseTimed(s"WARN x\n$line\nINFO y").contains(Seq(0.5, 0.123, 2.0)))
    assert(Bench.parseTimed("TIMEDS d3 hash=1 rows=2 median=1.0 s over 1 reps [1.000]").isEmpty)
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def runClean(name: String): Entry.Report = {
    val views = tempViews()
    val r = Entry.run(spark, name, sf, 1)
    assert(spark.streams.active.isEmpty, s"$name left a stream running")
    assert(tempViews() == views, s"$name left temp views ${tempViews() -- views}")
    val (hash, rows) = Bench.consumeAll(SparkEntry.queries(name)(spark, sf))
    assert(r.hash == hash && r.rows == rows, s"$name: report ${(r.hash, r.rows)} vs ${(hash, rows)}")
    assert(Bench.parseTimed(r.timed).map(_.size).contains(1))
    assert(r.lines.head == r.timed && r.lines.exists(_.startsWith(s"HASH $name hash=$hash")))
    assert(r.lines.exists(_.startsWith(s"SPILL $name ")))
    assert(r.detail.count(_.startsWith(s"PASS $name ")) == 2, "one PASS line per pass")
    // an AQE stage job is named by its pass, not by AQE's thread pool
    assert(!r.detail.exists(l => l.startsWith("JOB ") && l.contains("withThreadLocalCaptured")),
      r.detail.filter(_.startsWith("JOB ")).mkString("\n"))
    r
  }

  test("Entry.run q1_count: the consumeAll hash, no stream or view left") {
    val r = runClean("q1_count")
    assert(!r.detail.exists(l => l.startsWith("BATCH") || l.startsWith("STATE")))
  }

  test("Entry.run q6_trend: EXCHANGE lines read the sized session's core count") {
    val sized = SizingSessions.sized
    val cores = sized.sparkContext.defaultParallelism
    val r = Entry.run(sized, "q6_trend", sf, 1)
    val lines = r.detail.filter(_.startsWith("EXCHANGE q6_trend rep1 "))
    // the aggregate's exchange, sized from events' bytes; the gather is SinglePartition
    assert(lines.exists(l => l.contains(s" partitions=$cores inputBytes=") &&
      "inputBytes=(\\d+) writeBytes=(\\d+)".r.findFirstMatchIn(l).exists(_.group(2).toLong > 0)),
      r.detail.mkString("\n"))
    assert(lines.forall(l => l.contains(s" partitions=$cores ") || l.contains(" partitions=1 ")),
      lines.mkString("\n"))
    // one line per shuffle: no shuffle id twice
    val ids = r.detail.filter(_.startsWith("EXCHANGE ")).map(" shuffle=(\\d+) ".r.findFirstMatchIn(_).get.group(1))
    assert(ids.distinct.size == ids.size)
  }

  test("Entry.run d2_minhash_sig: EXCHANGE lines name a REPARTITION_BY_NUM widen only on a ≥ 3 MB file") {
    def exchanges(dir: String): Seq[String] =
      Entry.run(spark, "d2_minhash_sig", dir, 1).detail.filter(_.startsWith("EXCHANGE "))
    val small = exchanges(sf)
    assert(small.nonEmpty && small.forall(_.contains(" origin=ENSURE_REQUIREMENTS ")), small.mkString("\n"))
    val big = exchanges(WideDocs.from(sf))
    assert(big.exists(_.contains(" origin=REPARTITION_BY_NUM ")), big.mkString("\n"))
  }

  test("Entry.run st6_stream_dedup: drain batch and state lines, no stream or view left") {
    val r = runClean("st6_stream_dedup")
    for (pass <- Seq("warm", "rep1"); kind <- Seq("BATCH", "STATE"))
      assert(r.detail.exists(_.startsWith(s"$kind st6_stream_dedup $pass drain=")),
        s"no $kind line for $pass:\n${r.detail.mkString("\n")}")
    assert(r.detail.exists(l => l.startsWith("STATE") && l.contains("rowsTotal=")))
    // every shuffle byte passes through write(2): the JVM wrote at least as much
    val written = "PASS st6_stream_dedup rep1 .* shuffleWriteBytes=(\\d+) wcharBytes=(-?\\d+) ".r
      .findFirstMatchIn(r.detail.mkString("\n")).getOrElse(fail(r.detail.mkString("\n")))
    assert(written.group(1).toLong > 0 && written.group(2).toLong >= written.group(1).toLong,
      written.matched)
  }

  test("every def main under src/main is a row of the README's tool table") {
    // comments are stripped first: docs may mention a main freely
    def code(src: String): String =
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    import scala.jdk.CollectionConverters._
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = code(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
        val objects = "\\bobject (\\w+)".r.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
        "def main\\(".r.findAllMatchIn(src).map { m =>
          s"$pkg.${objects.filter(_._1 < m.start).last._2}"
        }
      }.toSet
    val readme = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val documented = "(?m)^\\| `(graft\\.[\\w.]+)`".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(mains.nonEmpty && mains.contains("graft.tools.Entry"))
    assert(mains == documented,
      s"undocumented mains: ${(mains -- documented).mkString(", ")}; " +
        s"README rows with no main: ${(documented -- mains).mkString(", ")}")
  }
}
