package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The one in-session memo: table plans, footer probes, the dedup
  * signature / pair / pair-overlap / cluster tables, the bucketed
  * layout and the bloom sizing count all live here.
  *
  * An entry is keyed on the session, a kind, a fingerprint of its input
  * paths and any extra value the result depends on (e.g. the split-
  * planning confs). The fingerprint is (path, length, mtime) of every
  * leaf file under each input path, so a rewritten input is a miss by
  * construction: a rewrite is detected by the file fingerprint; no call
  * is needed. Taking it costs one `listStatus` per directory level — tens
  * of microseconds per table on a local FS — and is paid on every lookup.
  *
  * One LRU over all sessions and kinds holds at most [[Bound]] entries;
  * evicting a persisted DataFrame unpersists it. One application-end
  * listener per SparkContext drops that context's entries when it stops.
  */
object SessionMemo {
  /** Entries kept across all sessions and kinds. One session over one
    * data dir needs at most about 50 (ten tables, three footer probes
    * each, the views, the dedup tables), so this holds a few sessions'
    * working sets. */
  val Bound = 128

  private final case class Key(session: SparkSession, kind: String,
      inputs: Seq[(String, Long, Long)], extra: Any)

  /** Built at most once, outside the LRU's lock: a build looks entries
    * up itself (the cluster table needs the pairs, which need the
    * signatures, which need the tables), and concurrent clients of one
    * session must not wait on unrelated builds. A failed build leaves
    * the cell empty, so the next lookup retries. */
  private final class Cell {
    @volatile private var value: Option[Any] = None
    def get(kind: String, build: => Any): Any = value.getOrElse(synchronized {
      value.getOrElse {
        val v = build
        builds.computeIfAbsent(kind, _ => new java.util.concurrent.atomic.LongAdder).increment()
        value = Some(v)
        v
      }
    })
    def built: Option[Any] = value
    def release(): Unit = value.foreach {
      case df: org.apache.spark.sql.Dataset[_] =>
        scala.util.Try(if (df.storageLevel != StorageLevel.NONE) df.unpersist())
      case _ =>
    }
  }

  // access-ordered; every access holds its monitor only for the map
  // operation itself, never for a build or an unpersist
  private val lru = new java.util.LinkedHashMap[Key, Cell](64, 0.75f, true)
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  /** The memoized value of `build` for (session, kind, inputs, extra). */
  def apply[V](s: SparkSession, kind: String, inputs: Seq[String], extra: Any = ())(
      build: => V): V = {
    hookStop(s.sparkContext)
    val key = Key(s, kind, inputs.flatMap(p => leaves(s, p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)), extra)
    val (cell, evicted) = lru.synchronized {
      val c = lru.computeIfAbsent(key, _ => new Cell)
      val out = Seq.newBuilder[Cell]
      val it = lru.values.iterator
      while (lru.size > Bound) { out += it.next(); it.remove() }
      (c, out.result())
    }
    evicted.foreach(_.release())
    cell.get(kind, build).asInstanceOf[V]
  }

  /** Every leaf file under `path` (the path itself if it is a file),
    * walked one `listStatus` per directory level — a recursive
    * `listFiles` costs a hundred times more per call on a local FS. A
    * missing path has no leaves. */
  private[graft] def leaves(s: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .sortBy(_.getPath.getName)
      .flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    try walk(root) catch { case _: java.io.FileNotFoundException => Nil }
  }

  // one listener per context; it never waits on a build (the LRU's
  // monitor is only ever held for a map operation), so it cannot stall
  // SparkContext.stop()
  private def hookStop(sc: SparkContext): Unit =
    if (hooked.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        lru.synchronized { lru.keySet.removeIf(_.session.sparkContext eq sc) }
        hooked.remove(sc)
      }
    })

  /** Entries held now, over all sessions. */
  private[graft] def size: Int = lru.synchronized(lru.size)

  /** Built values of one kind, over all sessions. */
  private[graft] def values(kind: String): Seq[Any] = lru.synchronized {
    val out = Seq.newBuilder[Any]
    lru.forEach((k, c) => if (k.kind == kind) c.built.foreach(out += _))
    out.result()
  }

  /** Builds of one kind run so far in this JVM. */
  private[graft] def buildCount(kind: String): Long =
    Option(builds.get(kind)).fold(0L)(_.sum)
}
