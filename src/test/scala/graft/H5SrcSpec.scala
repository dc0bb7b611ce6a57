package graft

import java.nio.file.Files
import graft.io.{HDF5, PreadSrc}
import graft.io.HDF5.WVar

/** Random-access byte source: PreadSrc must be byte-identical to the
  * in-memory array path, and — the 100 TB claim — the metadata walk must
  * fault in a small bounded set of pages, not the file. */
class H5SrcSpec extends SparkSpec {

  private def fixture(path: String, rows: Int = 64,
                      chunk: Seq[Int] = Seq(8, 2)): Unit = {
    val time = Array.tabulate(rows)(_.toDouble)
    val lat = Array.tabulate(5)(i => i * 0.5)
    val temp = (for (t <- 0 until rows; l <- 0 until 5)
      yield t * 100.0 + l * 1.5).toArray
    HDF5.writeNc4(path,
      Seq("time" -> time, "lat" -> lat),
      Seq(WVar("temp", Seq(0, 1), temp, chunk = Some(chunk))))
  }

  test("PreadSrc slice/byteAt match the file across page boundaries") {
    val dir = scratchDir("graft_pread")
    val path = s"$dir/f.nc4"
    fixture(path)
    val all = Files.readAllBytes(java.nio.file.Paths.get(path))
    val src = new PreadSrc(path, pageSize = 64, maxPages = 4)
    try {
      assert(src.length === all.length.toLong)
      // crossing reads: straddle 1..3 page boundaries, hit cache + evict
      for (off <- Seq(0, 1, 63, 64, 100, all.length - 130);
           len <- Seq(1, 64, 129)) {
        assert(src.slice(off.toLong, len).toSeq ===
          all.slice(off, off + len).toSeq, s"slice($off, $len)")
      }
      assert(src.byteAt(all.length - 1L) === all.last)
      intercept[IllegalArgumentException](src.slice(all.length - 2L, 5))
    } finally src.close()
  }

  test("parseFile + readVar over PreadSrc equal the in-memory path") {
    val dir = scratchDir("graft_pread2")
    val path = s"$dir/f.nc4"
    fixture(path)
    val all = Files.readAllBytes(java.nio.file.Paths.get(path))
    val fArr = HDF5.parseFile(all)
    val src = new PreadSrc(path, pageSize = 512, maxPages = 8)
    try {
      val fPre = HDF5.parseFile(src)
      assert(fPre.datasets.map(_.name).sorted ===
        fArr.datasets.map(_.name).sorted)
      assert(HDF5.readVar(src, fPre, "temp").toSeq ===
        HDF5.readVar(all, fArr, "temp").toSeq)
    } finally src.close()
  }

  test("multi-file directory: chunk tasks carry their own file's metadata") {
    val dir = scratchDir("graft_mf")
    // different chunkings per file — tasks must use per-file chunk dims
    Seq(("a.nc4", Seq(8, 2), 0), ("b.nc4", Seq(4, 5), 1000)).foreach {
      case (name, chunk, base) =>
        HDF5.writeNc4(s"$dir/$name",
          Seq("time" -> Array.tabulate(12)(i => (base + i).toDouble),
            "lat" -> Array.tabulate(5)(i => i * 0.5)),
          Seq(WVar("temp", Seq(0, 1),
            (for (t <- 0 until 12; l <- 0 until 5)
              yield base + t * 100.0 + l * 1.5).toArray,
            chunk = Some(chunk))))
    }
    val rows = HDF5.toLongDF(spark, dir, "temp")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val want = (for (base <- Seq(0, 1000); t <- 0 until 12; l <- 0 until 5)
      yield ((base + t).toLong, l * 0.5, base + t * 100.0 + l * 1.5)).toSet
    assert(rows === want)
  }

  test("metadata walk touches a bounded page set, not the data payload") {
    val dir = scratchDir("graft_pread3")
    val path = s"$dir/big.nc4"
    // ~3.4 MB of chunk payload dwarfs the metadata
    fixture(path, rows = 85000, chunk = Seq(64, 5))
    val fileLen = java.nio.file.Paths.get(path).toFile.length()
    assert(fileLen > 1_000_000L)
    val src = new PreadSrc(path, pageSize = 4096, maxPages = 16)
    try {
      val f = HDF5.parseFile(src)
      val metaBytes = src.pagesRead * 4096
      // the structures live on a handful of pages; reading even 5% of
      // the file would mean the walk is touching payload
      assert(metaBytes < fileLen / 20,
        s"metadata parse read $metaBytes of $fileLen bytes")
      // ... and the chunk index stays cheap too
      val v = f.byName("temp")
      val refs = HDF5.chunkRefs(src,
        v.layout.asInstanceOf[HDF5.Chunked].btree, 2)
      assert(refs.size === (85000 + 63) / 64)
      assert(src.pagesRead * 4096 < fileLen / 10,
        "chunk-index walk should not read the payload")
    } finally src.close()
  }
}
