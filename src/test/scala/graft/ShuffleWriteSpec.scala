package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs
import graft.tools.Entry

/** The shared session conf writes each shuffle byte once: a small
  * exchange goes to the serialized sort-shuffle writer, which renames
  * its spill into place, not to the bypass-merge writer, which copies
  * its per-partition files into the `.data` file. Both writers give
  * the same drain output. */
class ShuffleWriteSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"

  /** The JVM may write at most this many bytes per shuffle byte. */
  val MaxWritesPerShuffleByte = 1.5

  /** label → (shuffle bytes, JVM-written bytes), and the st6 line. */
  def check(writer: String): (Map[String, (Long, Long)], String) = {
    val log = ChildJvm.run("graft.ShuffleWriteCheck", Seq(sf, writer))
    val bytes = "WRITE-ONCE (\\w+) shuffleBytes=(\\d+) wcharBytes=(-?\\d+)".r
      .findAllMatchIn(log).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    val st6 = "(?m)^ST6 .*$".r.findFirstIn(log).getOrElse(fail("no ST6 line:\n" + log.takeRight(3000)))
    assert(bytes.keySet == Set("hash8", "single"), log.takeRight(3000))
    (bytes, st6)
  }

  test("shared conf: a JVM writes each shuffle byte once; st6 rows equal under both writers") {
    val (shared, sharedSt6) = check("shared")
    val (stock, stockSt6) = check("stock")
    for ((label, (shuffle, wchar)) <- shared) {
      info(f"$label: shuffle $shuffle B, written ${wchar.toDouble / shuffle}%.2f× shared, " +
        f"${stock(label)._2.toDouble / stock(label)._1}%.2f× stock")
      assert(shuffle > (1L << 20), s"$label shuffled only $shuffle bytes")
      assert(wchar < MaxWritesPerShuffleByte * shuffle,
        s"$label: the JVM wrote $wchar bytes for $shuffle shuffle bytes")
      // the bound separates the writers: Spark's default copies
      val (stockShuffle, stockWchar) = stock(label)
      assert(stockWchar >= MaxWritesPerShuffleByte * stockShuffle,
        s"$label: bypass-merge wrote only $stockWchar bytes for $stockShuffle")
    }
    assert(sharedSt6 == stockSt6)
    assert(!sharedSt6.contains("rows=0 "), sharedSt6)
  }
}

/** Child-JVM half of [[ShuffleWriteSpec]]: on `LocalFs.conf` (`shared`)
  * or on it with Spark's default bypass threshold (`stock`), prints the
  * shuffle bytes and the JVM's written bytes of an 8-partition hash
  * exchange and of a `SinglePartition` aggregate, then the row count
  * and digest of the st6 drain's sorted rows. */
object ShuffleWriteCheck {
  def main(args: Array[String]): Unit = {
    val Array(sf, writer) = args
    val conf = LocalFs.conf ++ (if (writer == "stock")
      Map("spark.shuffle.sort.bypassMergeThreshold" -> "200") else Map.empty)
    val spark = SparkSession.builder().master("local[4]").config(conf)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val shuffled = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })
    def measure(label: String)(action: => Unit): Unit = {
      TestBus.drain(sc)
      val (s0, w0) = (shuffled.get, Entry.jvmWrittenBytes())
      action
      TestBus.drain(sc)
      val (s1, w1) = (shuffled.get, Entry.jvmWrittenBytes())
      println(s"WRITE-ONCE $label shuffleBytes=${s1 - s0} wcharBytes=${w1 - w0}")
    }
    // hex digests: ~4 MB of shuffle after lz4
    val rows = spark.range(0, 100000, 1, 4)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
    measure("hash8") {
      rows.repartition(8, col("h")).write.format("noop").mode("overwrite").save()
    }
    // a partial collect_list ships every row through the one partition
    measure("single") {
      rows.agg(collect_list(col("h")).as("hs")).write.format("noop").mode("overwrite").save()
    }
    val st6 = SparkEntry.queries("st6_stream_dedup")(spark, sf).collect().map(_.toString).sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(st6.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    println(s"ST6 rows=${st6.length} sha256=$digest")
    spark.stop()
  }
}
