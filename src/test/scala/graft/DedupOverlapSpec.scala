package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** The pair-overlap verify step (`Dedup.pairOverlap`): its in-row set
  * counts equal the exploded (doc, shingle) join form, and the entries
  * built on it shingle only the docs their pairs name.
  */
class DedupOverlapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pair overlap ≡ exploded distinct + join + count reference") {
    val docs = Seq(
      1L -> "a b",                 // fewer than 3 tokens: no shingle
      2L -> "a b c a b c a b c",   // repeats "a b c": 3 distinct of 7
      3L -> "x y z w",
      4L -> "a b c d",
      5L -> "a b c d",             // identical to 4
      6L -> "p q r s t",
      7L -> "b c a b c d q r"
    ).toDF("doc_id", "text")
    val pairs = Seq(1L -> 2L, 2L -> 3L, 4L -> 5L, 2L -> 4L, 3L -> 6L, 2L -> 7L,
      4L -> 7L, 2L -> 99L).toDF("doc_a", "doc_b")
    val got = Dedup.pairOverlap(docs, pairs)

    val sh = graft.functions.Shingles.kgramRows(docs, Seq("doc_id"), k = 3).distinct()
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select($"doc_id".as("doc_a"), $"shingle"), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingle"), Seq("doc_b", "shingle"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
    val ref = pairs
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select($"doc_a", $"doc_b", $"na", $"nb", coalesce($"n_inter", lit(0L)).as("n_inter"))

    def rows(df: DataFrame) = df.select("doc_a", "doc_b", "na", "nb", "n_inter")
      .collect().map(r => (0 until 5).map(r.getLong)).toSeq.sortBy(r => (r(0), r(1)))
    assert(got.schema.map(_.name) == Seq("doc_a", "doc_b", "na", "nb", "n_inter"))
    assert(rows(got) == rows(ref))
    // the same facts by hand: a shingle-less or missing side drops the
    // pair, a repeated trigram counts once, disjoint sets meet in 0
    assert(rows(got) == Seq(
      Seq(2L, 3L, 3L, 2L, 0L),
      Seq(2L, 4L, 3L, 2L, 1L),
      Seq(2L, 7L, 3L, 6L, 3L),
      Seq(3L, 6L, 2L, 3L, 0L),
      Seq(4L, 5L, 2L, 2L, 2L),
      Seq(4L, 7L, 2L, 6L, 2L)))
    val fallbacks = graft.tools.CodegenAudit.fallbackNames(got) -- PlanSpec.AggMachinery
    assert(fallbacks.isEmpty, s"pair overlap plan falls out of codegen: $fallbacks")
  }

  /** Rows emitted by every distinct-shingle Generate (`array_distinct`
    * under the explode) in `df`'s collect, as a QueryExecutionListener
    * on `s` sees it (each session has its own listener manager): AQE
    * stages, subqueries and the plans of cached relations included. */
  private def distinctShingleRows(s: org.apache.spark.sql.SparkSession,
      df: DataFrame): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.ArrayDistinct
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    // only this collect's execution: the async bus may still deliver an
    // earlier query's event after the listener is registered
    val seen = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq df.queryExecution) seen.set(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      df.collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.get == null && System.nanoTime() < deadline) Thread.sleep(100)
    } finally s.listenerManager.unregister(listener)
    assert(seen.get != null, "the listener never saw the collect")
    nodes(seen.get).collect {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[ArrayDistinct]) => g
    }.distinct.map(_.metrics("numOutputRows").value)
  }

  test("verification shingles candidate docs only (d14 and d4's anchors)") {
    // a private copy of the inputs, so no other suite's cached overlap
    // table (and its build metrics) serves this one
    val dir = Files.createTempDirectory("graft_overlap_spec_")
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    try check(dir.toString)
    finally {
      Files.list(dir).toArray.foreach(f => Files.delete(f.asInstanceOf[java.nio.file.Path]))
      Files.delete(dir)
    }
  }

  private def check(sf: String): Unit = {
    val s = spark.newSession()
    val texts = graft.io.Tables.documents(s, sf).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // distinct word trigrams of one text, split exactly as Spark's
    // `split(text, ' ')` (trailing empty tokens kept)
    def trigrams(t: String): Int =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet.size
    def shingleRows(ids: Set[Long]) = ids.toSeq.map(i => trigrams(texts(i)).toLong).sum
    val corpus = shingleRows(texts.keySet)

    val candidates = Dedup.lshPairsCached(s, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val d14 = distinctShingleRows(s, SparkEntry.queries("d14_dedup_verdict")(s, sf))
    val wantD14 = shingleRows(candidates)
    assert(candidates.nonEmpty && wantD14 < corpus, s"vacuous: $wantD14 of $corpus")
    assert(d14.nonEmpty, "no distinct-shingle Generate ran under d14")
    assert(d14.forall(_ == wantD14),
      s"d14 shingled $d14 rows; candidate docs hold $wantD14, corpus $corpus")

    val anchors = texts.keySet.filter(_ % 100 == 0)
    val anchorDocs = anchors.flatMap(a => (0L to 3L).map(a + _)) & texts.keySet
    val d4 = distinctShingleRows(s, SparkEntry.queries("d4_ngram_jaccard")(s, sf))
    val wantD4 = shingleRows(anchorDocs)
    assert(anchors.nonEmpty && wantD4 < corpus, s"vacuous: $wantD4 of $corpus")
    // the optimizer infers `doc_id % 100 = 0` for the doc_a side's
    // sets from the anchor filter, so that side may shingle the
    // anchors alone; no side shingles anything past the anchor docs
    assert(d4.contains(wantD4) && d4.toSet.subsetOf(Set(wantD4, shingleRows(anchors))),
      s"d4 shingled $d4 rows; anchor docs hold $wantD4, corpus $corpus")
  }
}
