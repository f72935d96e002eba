package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Queries

/** q9 on both sides of its regime switch: the metadata-elided plan
  * (rows ≤ guard limit, no Limit node) and the bounded plan (LocalLimit
  * → GlobalLimit) must return the same `(n, digest)` whenever the limit
  * does not bind, and both must equal a plain-Scala reference — the
  * row count and the sum of md5's top 32 bits over the collected row
  * keys. (When the limit binds the bounded plan's contract is only
  * "n = limit, digest over some limit-row subset": neither engine
  * orders the limit.) */
class Q9RegimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  /** `(n, digest)` computed outside Spark from lineitem's four columns. */
  private def reference(dir: String): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def cents(v: Any): Any = v match {
      case null => null
      case d: Double => BigDecimal(d * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val rows = graft.io.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_extendedprice").collect()
    val digest = rows.iterator.map { r =>
      // concat_ws skips NULL fields
      val key = Seq(r.get(0), r.get(1), cents(r.get(2)), cents(r.get(3)))
        .filter(_ != null).mkString("|")
      val d = md.digest(key.getBytes("UTF-8"))
      (0 until 4).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
    }.sum
    (rows.length.toLong, digest)
  }

  private def bothRegimes(dir: String): Unit = {
    val want = reference(dir)
    for (noopLimit <- Seq(true, false)) {
      val r = Queries.q9Digest(spark, dir, noopLimit).collect().head
      assert((r.getLong(0), r.getLong(1)) == want, s"noopLimit=$noopLimit")
    }
    assert(Queries.q9LimitScan(spark, dir).collect().head == Row(want._1, want._2))
  }

  test("q9 elided and bounded regimes ≡ the MessageDigest reference at sf0.001") {
    bothRegimes(sf)
  }

  test("q9 elided and bounded regimes ≡ the MessageDigest reference on an in-memory fixture") {
    // half-cent prices (rounding), NULL key fields (concat_ws skips
    // them), negative and zero values, and a repeated row
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 10L, 1.0, 1000.005), (1L, 11L, 2.5, 0.0), (2L, null, 3.0, 12.345),
      (null, 12L, 0.125, 99.995), (3L, 13L, null, null), (4L, -14L, -1.5, -2.675),
      (5L, 15L, 50.0, 123456.78), (5L, 15L, 50.0, 123456.78))
    val dir = Files.createTempDirectory("graft_q9_").toString
    try {
      rows.toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .repartition(3).write.parquet(s"$dir/lineitem.parquet")
      bothRegimes(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
