package graft.io

import java.nio.file.{Files, Paths}

/** The stored chunks of one HDF5 dataset, for the benchmark's chunk count
  * and codec timing. It sits in the library's package because the chunk
  * index walk (`HDF5.chunkRefsOf`) is package-private there. */
object BenchH5 {
  /** Stored (filtered) payload of every chunk of `name` in `file`, and
    * the dataset's filter pipeline as (filter id, client data). */
  def chunks(file: String, name: String): (Seq[Array[Byte]], Seq[(Int, Seq[Int])]) = {
    val bytes: H5Src = ArraySrc(Files.readAllBytes(Paths.get(file)))
    val d = HDF5.parseFile(bytes).byName(name)
    (HDF5.chunkRefsOf(bytes, d).map(r => bytes.slice(r.addr, r.stored)), d.filters)
  }
}
