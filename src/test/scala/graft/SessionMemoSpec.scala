package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{SessionMemo, Tables}

/** The one session memo: bounded across sessions, emptied when a
  * context stops, and each dedup table built once per session even
  * under concurrent clients. (Staleness after a rewrite is pinned in
  * StorageSpec.) */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("session memo: 50 new sessions stay within the bound") {
    (1 to 50).foreach { i =>
      val s = spark.newSession()
      Seq("orders", "lineitem", "documents").foreach(n => Tables.table(s, sf, n))
      Tables.registerViews(s, sf)
      assert(Tables.tableRowCount(s, sf, "orders").exists(_ > 0))
      assert(SessionMemo.size <= SessionMemo.Bound,
        s"${SessionMemo.size} entries after $i sessions, bound ${SessionMemo.Bound}")
    }
  }

  test("session memo: a stopped context leaves no entry") {
    // SparkContext.stop() on the shared test context would end every
    // other suite, so the stop runs in a child JVM of its own
    val log = ChildJvm.run("graft.SessionMemoStopCheck", Seq(sf))
    val counts = "MEMO before=(\\d+) after=(\\d+)".r.findFirstMatchIn(log)
      .getOrElse(fail("no MEMO line:\n" + log.takeRight(3000)))
    assert(counts.group(1).toInt > 0, "the child read nothing through the memo")
    assert(counts.group(2).toInt == 0, s"entries survived the stop: ${counts.matched}")
  }

  test("session memo: curation builds sig, pairs, cluster once") {
    // four concurrent clients run the curation chain on ONE fresh
    // session: the builds nest (cluster or overlap -> pairs ->
    // signatures -> tables) and must neither deadlock nor run twice
    val s = spark.newSession()
    val kinds = Seq("signatures", "pairs", "clusters", "overlap")
    val before = kinds.map(SessionMemo.buildCount)
    val chain = Seq("d2_minhash_sig", "d3_lsh_pairs", "d8_lsh_jaccard",
      "d14_dedup_verdict", "d19_cluster_split", "p4_curation_pipeline")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = chain.map(e => SparkEntry.queries(e)(s, sf).count())
      }))
      val counts = runs.map(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
      assert(counts.distinct.size == 1, s"clients disagree: $counts")
    } finally pool.shutdownNow()
    val built = kinds.map(SessionMemo.buildCount).zip(before).map { case (a, b) => a - b }
    assert(built == Seq(1L, 1L, 1L, 1L), s"builds of ${kinds.mkString("/")}: $built")
  }
}

/** Child-JVM half of the stop spec: fills the memo from three sessions
  * of its own context, stops it, and prints the entry counts. */
object SessionMemoStopCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    (1 to 3).foreach { _ =>
      val s = spark.newSession()
      Tables.registerViews(s, args(0))
      Tables.effectiveScanSplits(s, args(0), "documents")
    }
    val before = SessionMemo.size
    spark.stop()
    println(s"MEMO before=$before after=${SessionMemo.size}")
  }
}
