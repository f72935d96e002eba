package graft.tools

import org.apache.spark.sql.SparkSession

/** Iteration harness for the SQL twin gate: for every analytic entry,
  * run the candidate SQL text through spark.sql over the registered
  * zone views and diff it against the DataFrame form, printing one
  * status line each (OK / PARSE / SCHEMA / ROWS / VALUES). Much faster
  * feedback than a ScalaTest cycle while authoring overrides; the
  * durable gate is SqlTwinSpec.
  */
object SqlTwinProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = SparkSession.builder().master("local[8]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.io.Tables.registerViews(spark, dir)
    // no filter → the committed twin scope; explicit names → any
    // oracle entry (scouting candidates); "ALL" → every oracle entry
    val names = only match {
      case None => graft.analytics.SqlTwin.names
      case Some(ns) if ns.contains("ALL") =>
        graft.SparkEntry.oracleSql.keys.toSeq.sorted
      case Some(ns) =>
        graft.SparkEntry.oracleSql.keys.toSeq.sorted.filter(ns.contains)
    }
    names.foreach { name =>
      graft.analytics.SqlTwin.excluded.get(name) match {
        case Some(reason) => println(s"EXCL $name — $reason")
        case None =>
          var stage = "init"
          try {
            stage = "df"
            val df = graft.SparkEntry.queries(name)(spark, dir)
            stage = "sql"
            val sql = spark.sql(graft.analytics.SqlTwin.text(name))
            stage = "compare"
            val schemaSql = sql.schema.fields.map(f => (f.name, f.dataType)).toSeq
            val schemaDf = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
            if (schemaSql != schemaDf)
              println(s"SCHEMA $name\n  sql=$schemaSql\n  df =$schemaDf")
            else {
              // collected-rows multiset compare, NOT exceptAll: stitching
              // two plans that each contain correlated subqueries over
              // the same view into one ExceptAll trips a Spark attribute
              // rewrite bug ("key not found") even though both plans run
              // fine alone (q34). Gate SF row counts are collect-safe.
              val a = graft.analytics.SqlTwin.collectedRows(sql)
              val b = graft.analytics.SqlTwin.collectedRows(df)
              if (a.size != b.size) println(s"ROWS $name sql=${a.size} df=${b.size}")
              else if (a != b) println(s"VALUES $name")
              else println(s"OK $name")
            }
          } catch {
            case e: Exception =>
              println(s"PARSE $name [$stage] — ${e.getMessage.linesIterator.take(2).mkString(" | ").take(300)}")
          }
      }
    }
    spark.stop()
  }
}
