package graft

import java.nio.file.Files
import graft.io.{Blosc, HDF5, Lzf, NetCDF, Szip}

/** Corruption robustness: a damaged container must raise a JVM
  * exception promptly — never hang, attempt a corrupted-length-field
  * allocation, or (where a checksum covers the bytes) decode to
  * silently different values. Deterministic LCG mutations so failures
  * replay. v1 HDF5 object headers and the classic netCDF header carry
  * NO checksums, so metadata flips may legitimately parse to different
  * metadata — those paths are held to "fail loudly or return promptly",
  * while fletcher32-covered chunk payloads are held to "always caught". */
class FuzzSpec extends SparkSpec {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s =>
      s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def flipAt(base: Array[Byte], pos: Int, r: Long): Array[Byte] = {
    val m = base.clone()
    m(pos) = (m(pos) ^ (1 + math.floorMod(r >>> 33, 255L)).toInt).toByte
    m
  }

  test("HDF5: every flip inside a fletcher-covered chunk payload is caught") {
    val dir = scratchDir("fz_h5")
    val path = s"$dir/f.nc4"
    HDF5.writeNc4(path,
      Seq("t" -> Array.tabulate(6)(_.toDouble),
        "l" -> Array.tabulate(4)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0, 1),
        Array.tabulate(24)(_ * 1.25), chunk = Some(Seq(3, 2)),
        fletcher = true, shuffle = true)))
    val base = Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = HDF5.parseFile(base)
    val want = HDF5.readVar(base, f, "v").toSeq
    val chunks = HDF5.chunkRefsOf(graft.io.ArraySrc(base), f.byName("v"))
    assert(chunks.nonEmpty)
    var caught = 0
    var flips = 0
    chunks.foreach { c =>
      lcg(c.addr).take(25).foreach { r =>
        val pos = (c.addr + math.floorMod(r, c.stored.toLong)).toInt
        val m = flipAt(base, pos, r)
        flips += 1
        val got: Option[Seq[Double]] =
          try Some(HDF5.readVar(m, HDF5.parseFile(m), "v").toSeq)
          catch { case _: Exception => caught += 1; None }
        // the checksum is innermost (covers raw bytes); deflate itself
        // rejects most flips, fletcher the rest — silent divergence is
        // the one unacceptable outcome
        got.foreach(g => assert(g === want,
          s"payload flip at $pos decoded to different values"))
      }
    }
    // flips in the zlib adler32 trailer are never read (inflate stops at
    // the expected byte count; integrity is fletcher's job) — those few
    // decode identically, which the equality assert above already held
    assert(caught >= flips * 9 / 10, s"only $caught/$flips payload flips raised")
  }

  test("HDF5: random whole-file flips fail loudly or parse promptly") {
    val dir = scratchDir("fz_h5b")
    val path = s"$dir/f.nc4"
    HDF5.writeNc4(path,
      Seq("t" -> Array.tabulate(5)(_.toDouble)),
      Seq(HDF5.WVar("v", Seq(0), Array.tabulate(5)(_ * 3.0),
        chunk = Some(Seq(2)))))
    val base = Files.readAllBytes(java.nio.file.Paths.get(path))
    lcg(0xA5L).take(300).foreach { r =>
      val pos = math.floorMod(r, base.length.toLong).toInt
      val m = flipAt(base, pos, r)
      // must terminate with a value or an exception — the ArraySrc
      // bounds guard turns corrupted offsets/lengths into REQUIREs
      // instead of OOM attempts or raw array faults
      try { HDF5.readVar(m, HDF5.parseFile(m), "v"); () }
      catch { case _: Exception => () }
    }
  }

  test("szip: any truncation either raises or decodes exactly") {
    val samples = Array.tabulate(600)(i => (i * 37 % 251).toLong)
    val p = Szip.Params(Szip.RawMask | Szip.NnMask, 8, 16, 120)
    val enc = Szip.compress(samples, p)
    var raised = 0
    (1 until enc.length).foreach { cut =>
      try {
        val out = Szip.decompress(java.util.Arrays.copyOf(enc, cut),
          samples.length, p)
        // only a cut beyond the final meaningful bit can succeed — and
        // then the decode must be exact
        assert(out.toSeq === samples.toSeq, s"truncation at $cut diverged")
      } catch { case _: IllegalArgumentException => raised += 1 }
    }
    assert(raised > enc.length - 3, "nearly every cut must raise")
  }

  test("lzf/blosc: flips terminate promptly with an exception or a result") {
    val plain = Array.tabulate(512)(i => (i % 251).toByte)
    val lz = Lzf.compress(Array.tabulate(500)(i => (i % 17).toByte))
    lcg(0x1fL).take(150).foreach { r =>
      val m = flipAt(lz, math.floorMod(r, lz.length.toLong).toInt, r)
      try { Lzf.decompress(m, 500); () }
      catch { case _: IllegalArgumentException => () }
    }
    Seq(Blosc.compress(plain, 8, "lz4", 5, 1),
        Blosc.compress(plain, 8, "zstd", 3, 0)).foreach { fr =>
      lcg(0xb1L).take(150).foreach { r =>
        val m = flipAt(fr, math.floorMod(r, fr.length.toLong).toInt, r)
        try { Blosc.decompress(m, 512); () }
        catch { case _: Exception => () }
      }
    }
  }

  test("npy/npz: flips and truncations raise bounded errors or decode") {
    import graft.io.Npy
    val base = Npy.write(Seq(5, 4), Array.tabulate(20)(_ * 1.25 - 3))
    lcg(0x15L).take(200).foreach { r =>
      val pos = math.floorMod(r, base.length).toInt
      try {
        val (shape, data) = Npy.read(flipAt(base, pos, r))
        // a data-byte flip parses fine (no checksum) but must keep the
        // declared element count; a header flip may reshape — both fine
        assert(data.length === shape.product.max(1))
      } catch {
        case _: IllegalArgumentException | _: RuntimeException |
             _: NumberFormatException => ()
      }
    }
    (1 until base.length).foreach { cut =>
      try { Npy.read(java.util.Arrays.copyOf(base, cut)); () }
      catch {
        case _: IllegalArgumentException | _: RuntimeException |
             _: NumberFormatException => ()
      }
    }
    val zip = Npy.writeNpz(Seq(("a", Seq(3), Array(1.0, 2.0, 3.0))))
    lcg(0x16L).take(100).foreach { r =>
      val pos = math.floorMod(r, zip.length).toInt
      try { Npy.readNpz(flipAt(zip, pos, r)); () }
      catch { case _: Exception => () }
    }
  }

  test("netCDF: header flips raise bounded errors, never allocation bombs") {
    val dir = scratchDir("fz_nc")
    val path = s"$dir/f.nc"
    NetCDF.write(path,
      dims = Seq(NetCDF.Dim("t", 5), NetCDF.Dim("x", 3)),
      vars = Seq(
        NetCDF.Var("t", Seq(0), NetCDF.NC_INT, Array.tabulate(5)(_ + 1.0)),
        NetCDF.Var("v", Seq(0, 1), NetCDF.NC_DOUBLE,
          Array.tabulate(15)(_ * 2.0))))
    val base = Files.readAllBytes(java.nio.file.Paths.get(path))
    val free = Runtime.getRuntime.maxMemory()
    lcg(0x9cL).take(300).foreach { r =>
      val pos = math.floorMod(r, base.length.toLong).toInt
      val m = flipAt(base, pos, r)
      try {
        val h = NetCDF.parseHeader(m)
        try { NetCDF.readVar(m, h, "v"); () }
        catch { case _: Exception => () }
      } catch {
        case _: OutOfMemoryError =>
          fail(s"flip at $pos drove an allocation bomb (max heap $free)")
        case _: Exception => ()
      }
    }
  }
}
