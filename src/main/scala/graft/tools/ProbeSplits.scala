package graft.tools

/** Diagnostic: planned FilePartition count vs NON-EMPTY partition
  * count for a parquet path under the bench session conf. Parquet
  * assigns a row group to the byte-split containing its START offset,
  * so a file with few row groups yields mostly-empty splits — planned
  * width says nothing about effective scan-stage parallelism. */
object ProbeSplits {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(graft.Bench.Cpus)
    args.foreach { d =>
      val rdd = spark.read.parquet(d).rdd
      val per = rdd.mapPartitions(it => Iterator(it.size), preservesPartitioning = true).collect()
      println(s"PROBE $d planned=${per.length} nonEmpty=${per.count(_ > 0)} " +
        s"rows=${per.map(_.toLong).sum} maxRowsInOne=${if (per.isEmpty) 0 else per.max}")
    }
    spark.stop()
  }
}
