package graft.io

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration

/** Whole-file reads and writes of store objects (metadata documents and
  * chunk files). A path on the local filesystem goes through java.nio:
  * without libhadoop, Hadoop's local `create` and `mkdirs` fork a `chmod`
  * for the file and again for its `.crc` sidecar, ~7 ms per file against
  * ~0.3 ms. Any other filesystem goes through Hadoop. Local stores so
  * carry no `.crc` sidecars, and a local read never consults one.
  *
  * Tasks reach a store through an [[Access]] the driver picks: a local
  * store hands them plain paths and no Hadoop conf, which would otherwise
  * ship its ~1,000 properties (~110 KB serialized) to every task. This is
  * the one place a `SerializableConfiguration` is built. */
private[graft] object StoreFiles {

  private def isLocal(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def local(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (isLocal(fs)) Some(Paths.get(fs.makeQualified(p).toUri))
    else None

  def read(fs: FileSystem, p: Path): Array[Byte] = local(fs, p) match {
    case Some(f) => Files.readAllBytes(f)
    case None =>
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
  }

  /** Creates or replaces `p`, and any missing parent directories. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = local(fs, p) match {
    case Some(f) => writeLocal(f, bytes)
    case None =>
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
  }

  private def writeLocal(f: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
    // a sidecar left by a Hadoop write would fail Hadoop readers now
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  def mkdirs(fs: FileSystem, p: Path): Unit = local(fs, p) match {
    case Some(f) => Files.createDirectories(f)
    case None => fs.mkdirs(p)
  }

  /** One store's files as tasks reach them. On the driver, `name` turns a
    * path into the string a task hands to `read` or `write`; a file
    * under a named directory is `s"$dir/$key"`. */
  sealed trait Access extends Serializable {
    def name(p: Path): String
    def read(file: String): Array[Byte]
    /** Creates or replaces `file`, and any missing parent directories. */
    def write(file: String, bytes: Array[Byte]): Unit
  }

  /** A local store: plain paths, read and written with java.nio. */
  private final class Local(@transient fs: FileSystem) extends Access {
    def name(p: Path): String = local(fs, p).get.toString
    def read(file: String): Array[Byte] = Files.readAllBytes(Paths.get(file))
    def write(file: String, bytes: Array[Byte]): Unit =
      writeLocal(Paths.get(file), bytes)
  }

  /** Any other store: qualified paths, through Hadoop and the shipped conf. */
  private final class Remote(@transient fs: FileSystem,
                             conf: SerializableConfiguration) extends Access {
    def name(p: Path): String = fs.makeQualified(p).toString
    private def at(file: String): (FileSystem, Path) = {
      val p = new Path(file)
      (p.getFileSystem(conf.value), p)
    }
    def read(file: String): Array[Byte] = {
      val (f, p) = at(file); StoreFiles.read(f, p)
    }
    def write(file: String, bytes: Array[Byte]): Unit = {
      val (f, p) = at(file); StoreFiles.write(f, p, bytes)
    }
  }

  /** The [[Access]] tasks use for a store on `fs`; `conf` is read, and
    * shipped, only when the store is not local. */
  def access(fs: FileSystem, conf: => Configuration): Access =
    if (isLocal(fs)) new Local(fs)
    else new Remote(fs, new SerializableConfiguration(conf))
}
