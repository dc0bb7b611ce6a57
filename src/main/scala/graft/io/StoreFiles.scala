package graft.io

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

/** Whole-file reads and writes of store objects (metadata documents and
  * chunk files). A path on the local filesystem goes through java.nio:
  * without libhadoop, Hadoop's local `create` and `mkdirs` fork a `chmod`
  * for the file and again for its `.crc` sidecar, ~7 ms per file against
  * ~0.3 ms. Any other filesystem goes through Hadoop. Local stores so
  * carry no `.crc` sidecars, and a local read never consults one. */
private[graft] object StoreFiles {

  private def local(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (fs.getUri.getScheme == "file") Some(Paths.get(fs.makeQualified(p).toUri))
    else None

  def read(fs: FileSystem, p: Path): Array[Byte] = local(fs, p) match {
    case Some(f) => Files.readAllBytes(f)
    case None =>
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
  }

  /** Creates or replaces `p`, and any missing parent directories. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = local(fs, p) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
      // a sidecar left by a Hadoop write would fail Hadoop readers now
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    case None =>
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
  }

  def mkdirs(fs: FileSystem, p: Path): Unit = local(fs, p) match {
    case Some(f) => Files.createDirectories(f)
    case None => fs.mkdirs(p)
  }
}
