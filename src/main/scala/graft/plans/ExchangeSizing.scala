package graft.plans

import java.util.IdentityHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.internal.SQLConf

/** Sizes each exchange's map side from the bytes that enter its stage.
  *
  * AQE plans every `ENSURE_REQUIREMENTS` exchange at
  * `initialPartitionNum` (the ceiling, max(1024, 8·cores) in
  * `Bench.session`) and coalesces only the reduce side, so without
  * this rule every map task of every exchange writes ceiling-many
  * partitions: a ceiling-entry `.index` and `.checksum` file and one
  * framed block per non-empty partition, even when the shuffle carries
  * a few KB. The rule sets such an exchange's hash or range
  * partitioning to
  *
  *   n = clamp(ceil(in × [[Growth]] / advisory), cores, ceiling)
  *
  * where `in` is measured, never estimated: the runtime size of each
  * materialized query stage (shuffle, broadcast, table cache) and of
  * each loaded in-memory cache below it, plus each file scan's relation
  * size. Catalyst's estimates are no use here: without CBO a join's
  * estimate is the product of its sides (KB inputs read as 10^11 B and
  * up), and an explode's ignores its fan-out. An exchange with any
  * unmaterialized stage or unmeasured leaf below it keeps the ceiling;
  * AQE re-runs its query-stage preparation rules after every stage
  * completes, so the exchange is sized once its inputs exist, before it
  * becomes a stage itself. (A child stage shared with another plan can
  * finish between that re-run and the stage's creation; the exchange
  * then keeps the ceiling, as before this rule.)
  *
  * Exchanges whose partition counts must agree (the sides of a
  * sort-merge or shuffled hash join, a cogroup, a union that reports
  * its children's partitioning) form one group and get one count: the
  * largest wanted count, an unsized member wanting the ceiling; or the
  * count of a materialized stage or other fixed-width source in the
  * group. A group with two different fixed counts is left as planned.
  * A plan whose distribution requirements no longer hold after sizing
  * (which the grouping should never produce) is returned unchanged.
  *
  * `REPARTITION_BY_NUM`, `REPARTITION_BY_COL`, rebalances and
  * `SinglePartition` exchanges are never touched. Micro-batch plans do
  * not run AQE, so a streaming drain's state width never passes here.
  * Installed by [[graft.GraftExtensions]] with
  * `injectQueryStagePrepRule`. */
case class ExchangeSizing(session: SparkSession) extends Rule[SparkPlan] {
  import ExchangeSizing._

  override def apply(plan: SparkPlan): SparkPlan = {
    val ceiling = conf.numShufflePartitions
    val floor = session.sparkContext.defaultParallelism.min(ceiling)
    if (floor >= ceiling || !conf.adaptiveExecutionEnabled) return plan

    // each resizable exchange and the width its own input asks for
    val wanted = new IdentityHashMap[ShuffleExchangeExec, Int]
    plan.foreach {
      case e: ShuffleExchangeExec if resizable(e, ceiling) =>
        val in = inputBytes(e.child)
        in.foreach(b => e.setTagValue(InputBytes, b))
        wanted.put(e, in.fold(ceiling)(width(_, advisory(e), floor, ceiling)))
      case _ =>
    }
    if (wanted.isEmpty) return plan

    // exchanges whose counts must agree, with the fixed counts among them
    val groups = plan.collect { case p if p.children.size >= 2 =>
      val (es, fixed) = p.children.map(sources(_, wanted)).unzip
      (es.flatten, fixed.flatten.toSet)
    }.foldLeft(List.empty[(Seq[ShuffleExchangeExec], Set[Int])]) { case (acc, (es, fixed)) =>
      val (joined, rest) = acc.partition(_._1.exists(e => es.exists(_ eq e)))
      (joined.flatMap(_._1) ++ es, joined.flatMap(_._2).toSet ++ fixed) :: rest
    }
    def count(e: ShuffleExchangeExec): Int = groups.find(_._1.exists(_ eq e)) match {
      case None => wanted.get(e)
      case Some((es, fixed)) => fixed.toSeq match {
        case Seq() => es.map(wanted.get).max
        case Seq(n) => n
        case _ => ceiling
      }
    }
    val sized = plan.transformDown {
      case e: ShuffleExchangeExec if wanted.containsKey(e) && count(e) != ceiling =>
        e.copy(outputPartitioning = withCount(e.outputPartitioning, count(e)))
    }
    if ((sized eq plan) || ValidateRequirements.validate(sized)) sized else plan
  }

  private def advisory(e: ShuffleExchangeExec): Long =
    e.advisoryPartitionSize.getOrElse(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}

object ExchangeSizing {

  /** Bound on how many times its input bytes one map stage may write,
    * set from the largest measured shuffle-write / stage-input ratio
    * (SCALING.md §"Exchanges sized from their input bytes").
    *
    * [[graft.io.Tables.widened]] sizes its round-robin scan widen with
    * the same [[width]], although a widen does not grow its input:
    * there `Growth` only sets the crossover, one widened partition per
    * advisory / `Growth` bytes of file (1 MB at the 64 MB default).
    * Retuning it moves that crossover too (SCALING.md §"The corpus
    * widen, sized from its bytes"). */
  val Growth = 64

  /** The input bytes an exchange was sized from; absent when unmeasured. */
  val InputBytes: TreeNodeTag[BigInt] = TreeNodeTag[BigInt]("graft.exchangeInputBytes")

  def width(in: BigInt, advisory: Long, floor: Int, ceiling: Int): Int = {
    val n = (in * Growth + advisory - 1) / advisory
    n.max(floor).min(ceiling).toInt
  }

  /** Reads the partitioning, never `e.numPartitions`: that builds the
    * shuffle dependency, which for a range partitioning runs the
    * sampling job over a plan not yet prepared for execution. */
  private def resizable(e: ShuffleExchangeExec, ceiling: Int): Boolean =
    e.shuffleOrigin == ENSURE_REQUIREMENTS && (e.outputPartitioning match {
      case p @ (_: HashPartitioning | _: RangePartitioning) => p.numPartitions == ceiling
      case _ => false
    })

  private def withCount(p: Partitioning, n: Int): Partitioning = p match {
    case h: HashPartitioning => h.copy(numPartitions = n)
    case r: RangePartitioning => r.copy(numPartitions = n)
  }

  /** Bytes entering the stage that computes `p`; None while any part of
    * it is unmeasured (an unmaterialized exchange or stage, or a leaf
    * that is neither a file scan nor a loaded cache). */
  private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec => s.computeStats().map(_.sizeInBytes)
    case f: FileSourceScanExec => Some(f.relation.sizeInBytes)
    case i: InMemoryTableScanExec if i.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
      Some(i.relation.computeStats().sizeInBytes)
    case _: Exchange => None
    case _ if p.children.isEmpty => None
    case _ => p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
      for (a <- acc; b <- inputBytes(c)) yield a + b
    }
  }

  /** The exchanges and fixed partition counts that decide `p`'s output
    * partitioning. Walks down to the nearest exchange or stage: a
    * broadcast never decides it, and any other node is assumed to pass
    * its children's partitioning on, which can only group more. */
  private def sources(p: SparkPlan, resizable: IdentityHashMap[ShuffleExchangeExec, Int])
      : (Seq[ShuffleExchangeExec], Seq[Int]) = p match {
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => (Nil, Nil)
    case e: ShuffleExchangeExec if resizable.containsKey(e) => (Seq(e), Nil)
    case _ if p.isInstanceOf[QueryStageExec] || p.isInstanceOf[Exchange] || p.children.isEmpty =>
      (Nil, fixedCount(p.outputPartitioning).toSeq)
    case _ =>
      val (es, fixed) = p.children.map(sources(_, resizable)).unzip
      (es.flatten, fixed.flatten)
  }

  private def fixedCount(p: Partitioning): Option[Int] = p match {
    case UnknownPartitioning(_) | SinglePartition | _: BroadcastPartitioning |
         RoundRobinPartitioning(_) => None
    case o => Some(o.numPartitions)
  }
}
