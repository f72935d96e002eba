package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names — run and dump just those.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").map(_.trim).toSet))
    }
    val cpus = Bench.Cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(graft.io.LocalFs.conf)
      .config("spark.sql.shuffle.partitions", cpus)
      // same scale-proof AQE sizing as Bench (see Bench.scala): start
      // shuffles wide, let coalescing right-size them per data volume
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(256, cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // allow AQE to right-size cached plans (see Bench.session) — the
      // dedup memos otherwise materialize at initialPartitionNum
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
