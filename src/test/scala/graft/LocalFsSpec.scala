package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LocalFs, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Tables}

/** graft's `file:` filesystem: zone writes and drains start no process,
  * and what lands on disk (modes, `.crc` files) and the link semantics
  * are stock Hadoop's. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  val Spied = Seq("chmod", "readlink", "ls", "stat")

  /** Runs [[LocalFsSpawnCheck]] in a child JVM whose PATH starts with
    * stubs of [[Spied]] that log their argv, then exec the real tool.
    * Returns the log's lines and the child's `file:` filesystem class. */
  def spawnLog(mode: String): (Seq[String], String) = {
    val tmp = Files.createTempDirectory("lfs_spy_")
    val stubs = Files.createDirectory(tmp.resolve("bin"))
    val log = tmp.resolve("spawn.log")
    Files.createFile(log)
    val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
    Spied.foreach { tool =>
      val real = path.split(":").map(Paths.get(_, tool)).find(Files.isExecutable(_))
        .getOrElse(fail(s"no $tool on PATH"))
      val stub = stubs.resolve(tool)
      Files.writeString(stub,
        s"#!/bin/sh\necho \"$tool $$*\" >> '$log'\nexec '$real' \"$$@\"\n")
      Files.setPosixFilePermissions(stub, PosixFilePermissions.fromString("rwxr-xr-x"))
    }
    val childLog = ChildJvm.run("graft.LocalFsSpawnCheck",
      Seq(sf, tmp.resolve("work").toString, mode), Map("PATH" -> s"$stubs:$path"))
    val fsClass = "SPAWN-CHECK done fs=(\\S+) rows=\\d+".r.findFirstMatchIn(childLog)
      .getOrElse(fail("no SPAWN-CHECK line:\n" + childLog.takeRight(3000))).group(1)
    val lines = Files.readAllLines(log).asScala.toSeq
    scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    (lines, fsClass)
  }

  test("local fs: zone writes and a stateful drain spawn no process") {
    val (graft, graftFs) = spawnLog("graft")
    assert(graftFs == classOf[NioLocalFileSystem].getName)
    assert(graft.isEmpty, s"${graft.size} spawns, first: ${graft.take(5).mkString("; ")}")
    // the same child on the default local filesystem: the spy sees it
    val (stock, stockFs) = spawnLog("stock")
    info(s"$stockFs: ${stock.groupBy(_.takeWhile(_ != ' ')).map { case (t, l) => s"$t ${l.size}" }.mkString(", ")}")
    assert(stock.exists(_.startsWith("chmod ")), s"spy saw no chmod: ${stock.take(5)}")
    assert(stock.exists(_.startsWith("readlink ")), s"spy saw no readlink: ${stock.take(5)}")
  }

  /** Relative path → POSIX mode of everything under `root`. */
  def modes(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.toMap
    finally s.close()
  }

  /** Creates files and dirs through both Hadoop APIs under `root`. */
  def exercise(root: JPath, conf: Configuration, fsClass: Class[_], fcClass: Class[_]): Unit = {
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      assert(fs.getClass == fsClass)
      fs.mkdirs(new Path(s"$root/fs/a/b"))
      val o = fs.create(new Path(s"$root/fs/a/b/part-0.parquet"))
      o.write(Array.fill[Byte](100)(7)); o.close()
      fs.create(new Path(s"$root/fs/new/deep/_SUCCESS")).close()
      fs.rename(new Path(s"$root/fs/a/b/part-0.parquet"), new Path(s"$root/fs/a/part-0.parquet"))
    } finally fs.close()
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == fcClass)
    fc.mkdir(new Path(s"$root/fc/state/0"), FsPermission.getDirDefault, true)
    val o = fc.create(new Path(s"$root/fc/state/0/.1.delta.tmp"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    o.write(Array.fill[Byte](100)(7)); o.close()
    fc.rename(new Path(s"$root/fc/state/0/.1.delta.tmp"), new Path(s"$root/fc/state/0/1.delta"),
      Options.Rename.OVERWRITE)
    fc.create(new Path(s"$root/fc/offsets/0"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
  }

  test("local fs: same modes and .crc files as Hadoop's, under umask 022 and 077") {
    // umask → the file and dir modes Hadoop sets under it
    val umasks = Seq(("022", "rw-r--r--", "rwxr-xr-x"), ("077", "rw-------", "rwx------"))
    umasks.foreach { case (umask, fileMode, dirMode) =>
      val tmp = Files.createTempDirectory("lfs_modes_")
      def conf(fsImpl: String, fcImpl: String): Configuration = {
        val c = new Configuration()
        c.set("fs.permissions.umask-mode", umask)
        c.set("fs.file.impl", fsImpl)
        c.set("fs.AbstractFileSystem.file.impl", fcImpl)
        c
      }
      val stockRoot = Files.createDirectory(tmp.resolve("stock"))
      val graftRoot = Files.createDirectory(tmp.resolve("graft"))
      exercise(stockRoot, conf(classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
        classOf[org.apache.hadoop.fs.local.LocalFs].getName),
        classOf[org.apache.hadoop.fs.LocalFileSystem], classOf[org.apache.hadoop.fs.local.LocalFs])
      exercise(graftRoot, conf(LocalFs.conf("spark.hadoop.fs.file.impl"),
        LocalFs.conf("spark.hadoop.fs.AbstractFileSystem.file.impl")),
        classOf[NioLocalFileSystem], classOf[NioLocalFs])
      val (stock, graft) = (modes(stockRoot), modes(graftRoot))
      assert(graft == stock, s"umask $umask")
      assert(graft.keySet.exists(_.endsWith("/.part-0.parquet.crc")), graft.keySet)
      assert(graft.keySet.exists(_.endsWith("/.1.delta.crc")), graft.keySet)
      assert(graft("fs/a/part-0.parquet") == fileMode, s"umask $umask")
      assert(graft("fc/state/0/1.delta") == fileMode, s"umask $umask")
      assert(graft("fs/a/b") == dirMode && graft("fc/state/0") == dirMode, s"umask $umask")
      scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("local fs: getFileLinkStatus matches Hadoop's on files, missing paths and links") {
    val dir = Files.createTempDirectory("lfs_link_")
    Files.writeString(dir.resolve("target.txt"), "x")
    Files.createSymbolicLink(dir.resolve("link"), Paths.get("target.txt"))
    val conf = new Configuration()
    val graft = new NioRawLocalFileSystem
    graft.initialize(URI.create("file:///"), conf)
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    def fields(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime)

    val file = new Path(dir.resolve("target.txt").toString)
    assert(fields(graft.getFileLinkStatus(file)) == fields(graft.getFileStatus(file)))
    assert(fields(graft.getFileLinkStatus(file)) == fields(stock.getFileLinkStatus(file)))
    val sub = new Path(dir.toString)
    assert(fields(graft.getFileLinkStatus(sub)) == fields(stock.getFileLinkStatus(sub)))

    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graft.getFileLinkStatus(missing))

    val link = new Path(dir.resolve("link").toString)
    val l = graft.getFileLinkStatus(link)
    assert(l.isSymlink)
    assert(l.getSymlink == new Path(s"file:$dir/target.txt"))
    assert(fields(l) == fields(stock.getFileLinkStatus(link)))
    assert(l.getSymlink == stock.getFileLinkStatus(link).getSymlink)
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("local fs: the test session resolves file: to graft's classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFs])
  }
}

/** Child-JVM half of the spawn spec: a parquet snapshot overwrite and a
  * history append, a CSV and a JSON raw object, and an st6 drain, on a
  * session with graft's filesystem (`graft`) or without it (`stock`). */
object LocalFsSpawnCheck {
  def main(args: Array[String]): Unit = {
    val Array(sf, work, mode) = args
    val b = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = (if (mode == "graft") b.config(LocalFs.conf) else b).getOrCreate()
    val li = Tables.table(spark, sf, "lineitem")
    graft.ops.Snapshot.overwriteSnapshot(li, s"$work/clean/activity")
    graft.ops.Snapshot.appendHistory(li.limit(10), s"$work/serving/history")
    graft.pipeline.Pipeline.writeRawObject(li.limit(100), "csv", s"$work/raw/sheets/activity_1")
    graft.pipeline.Pipeline.writeRawObject(Tables.events(spark, sf).limit(100), "json",
      s"$work/raw/api/env_1", Some(100L))
    val rows = SparkEntry.queries("st6_stream_dedup")(spark, sf).count()
    val fs = org.apache.hadoop.fs.FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration).getClass.getName
    spark.stop()
    println(s"SPAWN-CHECK done fs=$fs rows=$rows")
  }
}
