package graftbench

import scala.collection.mutable

/** Folds the traced ops (spans + listener counters) into the per-layer
  * metrics. Every metric is printed on every workload; a layer the
  * workload does not call reads 0. Counts and times are per op (the
  * mean over traced ops) unless the name says otherwise. */
object Layers {
  def fill(m: mutable.LinkedHashMap[String, (Double, String)], recs: Seq[OpRecord],
      spans: Seq[Span], dir: String, nproc: Int): Unit = {
    val n = math.max(1, recs.size).toDouble
    def perOp(f: OpRecord => Double): Double = recs.map(f).sum / n
    def spanMean(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def actions(r: OpRecord) = r.counters.actions
    def writeMs(r: OpRecord, p: String => Boolean): Double =
      actions(r).filter(a => a.writePath.nonEmpty && p(a.writePath)).map(_.durationMs).sum
    val isClean = (p: String) => p.contains("/clean-zone/")
    val isScore = (p: String) => p.contains("/curated-zone/prescriptive_hygiene")
    val isOther = (p: String) => !isClean(p) && !isScore(p)
    def scanMs(r: OpRecord, input: Boolean): Double =
      actions(r).flatMap(_.scanMs).filter { case (root, _) => root.contains(dir) == input }
        .map(_._2).sum

    // io (Tables): scans of the input tables
    m("io.scan_ms") = (perOp(scanMs(_, input = true)), "ms")
    m("io.input_bytes") = (perOp(_.counters.inputBytes.toDouble), "bytes")
    m("io.input_records") = (perOp(_.counters.inputRecords.toDouble), "count")
    val resultRows = recs.map(_.outs.map(_.rows).sum).sum
    m("io.rows_examined_per_result_row") = (
      if (resultRows == 0) 0.0 else recs.map(_.counters.inputRecords).sum.toDouble / resultRows,
      "ratio")

    // ops (Cleaning, Snapshot): zone writes, classified by target path
    val cleanMs = perOp(writeMs(_, isClean))
    val zoneWriteMs = perOp(writeMs(_, isOther))
    val scoreMs = perOp(writeMs(_, isScore))
    m("ops.clean_parse_ms") = (cleanMs, "ms")
    m("ops.zone_write_ms") = (zoneWriteMs, "ms")
    m("ops.zone_read_ms") = (perOp(scanMs(_, input = false)), "ms")
    m("ops.output_bytes") = (perOp(_.counters.outputBytes.toDouble), "bytes")
    m("ops.files_written") = (perOp(r => actions(r).map(_.filesWritten).sum.toDouble), "count")

    // prescriptive (Scoring): the curated-zone write that computes the score
    m("prescriptive.score_ms") = (scoreMs, "ms")

    // pipeline
    val pipe = recs.filter(_.outs.exists(_.entry == "p1_pipeline_e2e"))
    val runMs = spanMean("pipeline.run")
    m("pipeline.run_ms") = (runMs, "ms")
    m("pipeline.unattributed_ms") = (
      if (pipe.isEmpty) 0.0 else runMs - cleanMs - zoneWriteMs - scoreMs, "ms")
    m("pipeline.core_busy_frac") = (
      if (pipe.isEmpty) 0.0
      else pipe.map(_.counters.taskRunMs).sum.toDouble / (pipe.map(_.ms).sum * nproc),
      "ratio")

    // analytics (Queries): one span per card
    val cards = recs.filter(_.outs.exists(o => Dashboard.cards.contains(o.entry)))
    Dashboard.cards.foreach(c => m(s"analytics.${c}_ms") = (spanMean(s"analytics.$c"), "ms"))
    def perCard(f: OpRecord => Double) =
      if (cards.isEmpty) 0.0 else cards.map(f).sum / cards.size
    m("analytics.planning_ms") = (perCard(r => actions(r).map(_.planningMs).sum), "ms")
    m("analytics.jobs_per_card") = (perCard(_.counters.jobs.toDouble), "count")
    m("analytics.tasks_per_card") = (perCard(_.counters.tasks.toDouble), "count")

    // dedup, text: the curation chain's spans and sizes
    Seq("dedup.sig", "dedup.pairs", "dedup.verify", "dedup.verdict", "dedup.cluster",
      "text.curation").foreach(sp => m(s"${sp}_ms") = (spanMean(sp), "ms"))
    def rowsOf(entry: String) = recs.flatMap(_.outs).filter(_.entry == entry).map(_.rows.toDouble)
    val candidates = rowsOf("d3_lsh_pairs")
    val verified = rowsOf("d8_lsh_jaccard")
    m("dedup.candidate_pairs") = (if (candidates.isEmpty) 0.0 else candidates.sum / candidates.size, "count")
    m("dedup.verified_per_candidate") = (
      if (candidates.sum == 0) 0.0 else verified.sum / candidates.sum, "ratio")
    val chains = recs.filter(_.outs.exists(_.entry == "d2_minhash_sig"))
    m("dedup.memo_bytes") = (
      if (chains.isEmpty) 0.0 else chains.map(_.cachedBytes.toDouble).sum / chains.size, "bytes")

    // streaming: drains, micro-batches, state
    val drains = recs.filter(r => spans.exists(s => s.op == r.id && s.name == "streaming.drain"))
    def perDrain(f: OpCounters => Double) =
      if (drains.isEmpty) 0.0 else drains.map(r => f(r.counters)).sum / drains.size
    m("streaming.drain_ms") = (spanMean("streaming.drain"), "ms")
    m("streaming.query_start_ms") = (perDrain(c => math.max(0.0, c.queryStartMs)), "ms")
    m("streaming.batches") = (perDrain(_.batchMs.size.toDouble), "count")
    val batches = drains.flatMap(_.counters.batchMs)
    m("streaming.batch_ms") = (if (batches.isEmpty) 0.0 else batches.sum / batches.size, "ms")
    m("streaming.state_rows") = (perDrain(_.stateRows.toDouble), "count")
    m("streaming.state_bytes") = (perDrain(_.stateBytes.toDouble), "bytes")
    m("streaming.state_commit_ms") = (perDrain(_.stateCommitMs.toDouble), "ms")

    // engine (Spark listener)
    m("engine.jobs") = (perOp(_.counters.jobs.toDouble), "count")
    m("engine.stages") = (perOp(_.counters.stages.toDouble), "count")
    m("engine.tasks") = (perOp(_.counters.tasks.toDouble), "count")
    m("engine.task_run_ms") = (perOp(_.counters.taskRunMs.toDouble), "ms")
    m("engine.gc_ms") = (perOp(_.counters.gcMs.toDouble), "ms")
    m("engine.shuffle_write_bytes") = (perOp(_.counters.shuffleWrite.toDouble), "bytes")
    m("engine.shuffle_read_bytes") = (perOp(_.counters.shuffleRead.toDouble), "bytes")
    m("engine.fetch_wait_ms") = (perOp(_.counters.fetchWaitMs.toDouble), "ms")
    m("engine.spill_bytes") = (perOp(_.counters.spill.toDouble), "bytes")
  }
}
