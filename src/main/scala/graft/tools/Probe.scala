package graft.tools

import org.apache.spark.sql.SparkSession

/** Quick interactive demo: runs the flagship prescriptive query the way
  * a library user would (`sbt 'runMain graft.tools.Probe' [sfDir]`). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"flagship prescriptive result @ $sfDir:")
    graft.prescriptive.Scoring.hygieneScore(spark, sfDir).show(false)
    spark.stop()
  }
}
