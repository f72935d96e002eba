package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` starts a
  * `chmod` process for every file and directory it creates and a
  * `readlink` process for every `FileContext` rename. Zone writes, `.crc`
  * files, streaming checkpoints and state-store commits all pay it: an
  * st6 dedup drain and four zone writes at sf0.001 start about 860
  * processes (LocalFsSpec counts them). [[NioRawLocalFileSystem]]
  * does the same two things through `java.nio.file`, and everything else
  * is Hadoop's own code, so the bytes, modes and `.crc` files on disk are
  * unchanged.
  *
  * Both Hadoop APIs are routed here by [[LocalFs.conf]]: the `FileSystem`
  * one (Spark's readers and writers) and the `FileContext` one (streaming
  * checkpoints, metadata logs, the HDFS and RocksDB state stores). Without
  * the conf, `file:` resolves to Hive's `ProxyLocalFileSystem`, whose only
  * addition is an MD5 `getFileChecksum` that graft never calls. */
object LocalFs {
  /** Session conf for every graft `SparkSession` builder: the local-disk
    * write policy. Besides the filesystem above, it sends every shuffle
    * to the serialized sort-shuffle writer. Spark's default sends a
    * shuffle with at most 200 reduce partitions and no map-side combine
    * (every streaming drain, the round-robin widens, every
    * `SinglePartition` exchange) to `BypassMergeSortShuffleWriter`,
    * which writes one temp file per partition and then copies them all
    * into the `.data` file, so each byte is written twice.
    * `UnsafeShuffleWriter` renames its single spill into place instead.
    * Rows keep their order inside a partition: its partition-id sort is
    * stable. ShuffleWriteSpec pins the bytes and the equal output. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.shuffle.sort.bypassMergeThreshold" -> "0")
}

/** `RawLocalFileSystem` with its two process-starting calls done in-JVM. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The same nine bits `chmod` would set; NIO cannot set the sticky bit,
    * so such a permission still goes to `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared owner-read (0400) to others-execute (0001)
      PosixFilePermission.values.foreach(x => if ((bits & (0x100 >> x.ordinal)) != 0) perms.add(x))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** A path that is not a symlink gets `getFileStatus`, which is what
    * Hadoop returns when `readlink` prints nothing (a missing path still
    * throws `FileNotFoundException`). A real link goes to Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]: its constructors
  * are package-private, so its four overrides are copied here. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed `FileContext` filesystem) over
  * [[NioRawLocalFs]]. `AbstractFileSystem.get` calls this constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
