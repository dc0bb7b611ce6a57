package graft

import java.nio.ByteBuffer
import graft.io.NetCDF
import graft.io.NetCDF._

/** Pins the CDF-1 binary layout against a hand-assembled byte buffer
  * (independent of the writer) and checks writer->reader roundtrips. */
class NetCDFSpec extends SparkSpec {

  test("reader decodes a hand-assembled CDF-1 buffer (format pin)") {
    // file: dim x(3); var v(x) NC_SHORT = [7, -2, 300]
    val buf = ByteBuffer.allocate(200)
    buf.put(Array[Byte]('C', 'D', 'F', 1))
    buf.putInt(0) // numrecs
    buf.putInt(10); buf.putInt(1) // NC_DIMENSION, 1 dim
    buf.putInt(1); buf.put('x'.toByte); buf.put(new Array[Byte](3)) // name "x"
    buf.putInt(3) // size
    buf.putInt(0); buf.putInt(0) // no global atts
    buf.putInt(11); buf.putInt(1) // NC_VARIABLE, 1 var
    buf.putInt(1); buf.put('v'.toByte); buf.put(new Array[Byte](3)) // name "v"
    buf.putInt(1); buf.putInt(0) // 1 dim, dimid 0
    buf.putInt(0); buf.putInt(0) // no var atts
    buf.putInt(NC_SHORT); buf.putInt(8) // vsize 6 -> padded 8
    val begin = buf.position() + 4
    buf.putInt(begin)
    buf.putShort(7); buf.putShort(-2); buf.putShort(300)
    val bytes = java.util.Arrays.copyOf(buf.array(), begin + 8)
    val hdr = parseHeader(bytes)
    assert(hdr.dims == Seq(Dim("x", 3)))
    assert(hdr.vars.head.name == "v" && hdr.vars.head.ncType == NC_SHORT)
    assert(readVar(bytes, hdr, "v").toSeq == Seq(7.0, -2.0, 300.0))
  }

  test("writer -> reader roundtrip across all scalar types") {
    val path = scratchDir("nc")
    val dims = Seq(Dim("a", 2), Dim("b", 3))
    val vals = (1 to 6).map(_.toDouble * 1.5).toArray
    for (t <- Seq(NC_BYTE, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE)) {
      val f = s"$path/t$t.nc"
      NetCDF.write(f, dims, Seq(Var("v", Seq(0, 1), t, vals)))
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      val hdr = parseHeader(bytes)
      val back = readVar(bytes, hdr, "v")
      val expected = t match {
        case NC_BYTE | NC_SHORT | NC_INT => vals.map(_.toInt.toDouble)
        case NC_FLOAT => vals.map(x => x.toFloat.toDouble)
        case NC_DOUBLE => vals
      }
      assert(back.toSeq == expected.toSeq, s"type $t")
    }
  }

  test("toLongDF explodes dims with coordinate variables") {
    val path = scratchDir("nc")
    NetCDF.write(s"$path/f.nc", Seq(Dim("t", 2), Dim("y", 2)), Seq(
      Var("t", Seq(0), NC_INT, Array(10.0, 20.0)),
      Var("v", Seq(0, 1), NC_DOUBLE, Array(1.0, 2.0, 3.0, 4.0))))
    val df = NetCDF.toLongDF(spark, path, "v")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // dim "y" has no coord var -> 0-based index
    assert(rows.toSeq == Seq((10L, 0L, 1.0), (10L, 1L, 2.0),
      (20L, 0L, 3.0), (20L, 1L, 4.0)))
  }

  test("a missing directory raises 'cannot list directory' from every reader") {
    val dir = scratchDir("nc") + "/absent"
    Seq[() => Any](() => NetCDF.toLongDF(spark, dir, "v"),
      () => NetCDF.openDataset(spark, dir),
      () => NetCDF.openDecoded(spark, dir, "v")).foreach { read =>
      val e = intercept[RuntimeException](read())
      assert(String.valueOf(e.getMessage) === s"cannot list directory $dir")
    }
  }

  test("CDF-2 and CDF-5 containers roundtrip (64-bit offsets/sizes)") {
    val path = scratchDir("nc")
    val dims = Seq(Dim("a", 2), Dim("b", 3))
    val vals = (1 to 6).map(_.toDouble * 2.5).toArray
    for (ver <- Seq(2, 5)) {
      val f = s"$path/v$ver.nc"
      NetCDF.write(f, dims, Seq(
        Var("a", Seq(0), NC_INT, Array(7.0, 9.0)),
        Var("v", Seq(0, 1), NC_DOUBLE, vals)), version = ver)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      assert(bytes(3) === ver.toByte, s"magic version byte v$ver")
      val hdr = parseHeader(bytes)
      assert(hdr.version === ver)
      assert(hdr.dims === dims)
      assert(readVar(bytes, hdr, "v").toSeq === vals.toSeq, s"v$ver data")
      assert(readVar(bytes, hdr, "a").toSeq === Seq(7.0, 9.0), s"v$ver coord")
    }
    // CDF-5 with 64-bit value types
    val f5 = s"$path/i64.nc"
    NetCDF.write(f5, Seq(Dim("a", 3)), Seq(
      Var("big", Seq(0), NC_INT64, Array(1.0e15, -2.0e15, 3.0))), version = 5)
    val b5 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f5))
    assert(readVar(b5, parseHeader(b5), "big").toSeq === Seq(1.0e15, -2.0e15, 3.0))
  }

  test("UNLIMITED dimension: interleaved record vars roundtrip; fixed vars coexist") {
    val dir = scratchDir("ncrec")
    val p = s"$dir/rec.nc"
    // time UNLIMITED (4 records), x fixed (3); temp(time,x) + cnt(time) +
    // a fixed coord var x(x) — two record vars force the interleaved layout
    NetCDF.write(p,
      dims = Seq(Dim("time", 0), Dim("x", 3)),
      vars = Seq(
        Var("x", Seq(1), NC_INT, Array(10.0, 20.0, 30.0)),
        Var("temp", Seq(0, 1), NC_DOUBLE,
          Array.tabulate(12)(i => i * 1.5)),
        Var("cnt", Seq(0), NC_INT, Array(5.0, 6.0, 7.0, 8.0))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hdr = parseHeader(bytes)
    assert(hdr.numrecs === 4L)
    assert(hdr.recordDimId === 0)
    assert(hdr.isRecord(hdr.vars.find(_.name == "temp").get))
    assert(!hdr.isRecord(hdr.vars.find(_.name == "x").get))
    // record stride = temp slab (3*8 = 24) + cnt slab (4, already aligned)
    assert(hdr.recSize === 28L)
    assert(readVar(bytes, hdr, "temp").toSeq ==
      (0 until 12).map(_ * 1.5))
    assert(readVar(bytes, hdr, "cnt").toSeq == Seq(5.0, 6.0, 7.0, 8.0))
    assert(readVar(bytes, hdr, "x").toSeq == Seq(10.0, 20.0, 30.0))
    // distributed long-format read sees numrecs as the time size
    val df = NetCDF.toLongDF(spark, dir, "temp")
    assert(df.count() === 12)
    import org.apache.spark.sql.functions.col
    assert(df.filter(col("time") === 3 && col("x") === 30)
      .select("temp").collect().head.getDouble(0) === 16.5)
  }

  test("final-record padding omitted by the writer is tolerated; real truncation still raises") {
    val dir = scratchDir("ncunpad")
    val p = s"$dir/unpad.nc"
    // two record vars force interleaving; cnt (NC_SHORT, slab 2) is
    // padded to 4 inside the record stride, so the file's final 2 bytes
    // are pure alignment padding a spec-lenient writer MAY omit
    NetCDF.write(p,
      dims = Seq(Dim("time", 0), Dim("x", 3)),
      vars = Seq(
        Var("temp", Seq(0, 1), NC_DOUBLE, Array.tabulate(12)(i => i * 1.5)),
        Var("cnt", Seq(0), NC_SHORT, Array(5.0, 6.0, 7.0, 8.0))))
    val path = java.nio.file.Paths.get(p)
    val bytes = java.nio.file.Files.readAllBytes(path)
    java.nio.file.Files.write(path, bytes.dropRight(2)) // strip final pad
    import org.apache.spark.sql.functions.col
    assert(NetCDF.toLongDF(spark, dir, "cnt")
      .filter(col("time") === 3).select("cnt").collect().head.getLong(0) === 8L)
    assert(NetCDF.toLongDF(spark, dir, "temp").count() === 12)
    // cut into cnt's DATA bytes: cnt must refuse loudly, while temp —
    // whose bytes all still exist — keeps reading
    java.nio.file.Files.write(path, bytes.dropRight(4))
    val ex = intercept[IllegalArgumentException] {
      NetCDF.toLongDF(spark, dir, "cnt").collect()
    }
    assert(ex.getMessage.contains("truncated"))
    assert(NetCDF.toLongDF(spark, dir, "temp").count() === 12)
  }

  test("banded reads: tiny bandBytes forces per-record / per-row tasks") {
    val dir = scratchDir("ncband")
    val p = s"$dir/band.nc"
    // time is UNLIMITED with its own RECORD coordinate (the archive
    // shape); temp(time,x) interleaves with it record by record
    NetCDF.write(p,
      dims = Seq(Dim("time", 0), Dim("x", 3)),
      vars = Seq(
        Var("x", Seq(1), NC_INT, Array(10.0, 20.0, 30.0)),
        Var("time", Seq(0), NC_DOUBLE, Array(100.0, 101.0, 102.0, 103.0)),
        Var("temp", Seq(0, 1), NC_DOUBLE,
          Array.tabulate(12)(i => i * 1.5))))
    def rows(bandBytes: Long) =
      NetCDF.toLongDF(spark, dir, "temp", bandBytes)
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toSet
    val oneBand = rows(32L << 20)
    // recSize = 8 (time) + 24 (temp) = 32 -> bandBytes 33 = 1 record/task
    assert(rows(33L) === oneBand)
    assert(oneBand.contains((103.0, 30L, 16.5)))
    assert(oneBand.size === 12)
    // fixed variable banding: one row per task must agree too
    val fx = s"$dir/fx"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(fx))
    NetCDF.write(s"$fx/f.nc",
      dims = Seq(Dim("t", 5), Dim("x", 3)),
      vars = Seq(
        Var("t", Seq(0), NC_INT, Array.tabulate(5)(_ + 1.0)),
        Var("v", Seq(0, 1), NC_DOUBLE, Array.tabulate(15)(_ * 2.0))))
    def fxRows(bandBytes: Long) =
      NetCDF.toLongDF(spark, fx, "v", bandBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fxRows(25L) === fxRows(32L << 20)) // rowBytes 24 -> 1 row/task
    assert(fxRows(25L).size === 15)
  }

  test("multi-file directory: per-file plans union with each file's coords") {
    val dir = scratchDir("ncmf")
    // two shards of one logical series, distinct coordinate ranges
    Seq((0, "a.nc"), (10, "b.nc")).foreach { case (base, name) =>
      NetCDF.write(s"$dir/$name",
        dims = Seq(Dim("t", 3), Dim("x", 2)),
        vars = Seq(
          Var("t", Seq(0), NetCDF.NC_INT,
            Array.tabulate(3)(i => (base + i).toDouble)),
          Var("v", Seq(0, 1), NetCDF.NC_DOUBLE,
            Array.tabulate(6)(i => base * 100.0 + i))))
    }
    val rows = NetCDF.toLongDF(spark, dir, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for (base <- Seq(0, 10); i <- 0 until 3; j <- 0 until 2)
      yield ((base + i).toLong, j.toLong, base * 100.0 + i * 2 + j)).toSet
    assert(rows === want)
  }

  test("single record variable uses the unpadded record stride (spec note)") {
    val dir = scratchDir("ncrec1")
    val p = s"$dir/one.nc"
    // one NC_SHORT record var, slab 3 shorts = 6 bytes: records must be
    // packed at stride 6, NOT padded to 8
    NetCDF.write(p,
      dims = Seq(Dim("t", 0), Dim("x", 3)),
      vars = Seq(Var("v", Seq(0, 1), NC_SHORT,
        Array.tabulate(6)(_.toDouble))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hdr = parseHeader(bytes)
    assert(hdr.numrecs === 2L && hdr.recSize === 6L)
    assert(readVar(bytes, hdr, "v").toSeq == (0 until 6).map(_.toDouble))
  }

  test("attributes roundtrip and drive the CF decode (packed shorts -> doubles)") {
    val dir = scratchDir("ncatt")
    val p = s"$dir/packed.nc"
    // classic packed-data convention: shorts + scale/offset, -999 fill
    NetCDF.write(p,
      dims = Seq(Dim("x", 4)),
      vars = Seq(Var("t", Seq(0), NC_SHORT,
        Array(100.0, 200.0, -999.0, 400.0),
        atts = Seq(Att.dbl("scale_factor", 0.1), Att.dbl("add_offset", 5.0),
          Att("note", NC_CHAR, text = "non-CF attr passes through"),
          Att("_FillValue", NC_SHORT, nums = Array(-999.0)),
          Att.str("units", "degC")))),
      gatts = Seq(Att.str("title", "packed fixture")))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hdr = parseHeader(bytes)
    assert(hdr.gatts.map(a => a.name -> a.asString) ==
      Seq("title" -> "packed fixture"))
    val atts = hdr.vars.head.atts.map(a => a.name -> a.asString).toMap
    assert(atts("scale_factor") == "0.1" && atts("units") == "degC" &&
      atts("_FillValue") == "-999")
    // raw values survive the attribute lists (begin offsets include them)
    assert(readVar(bytes, hdr, "t").toSeq ==
      Seq(100.0, 200.0, -999.0, 400.0))
    // CF-decoded open: mask + scale/offset applied from the header attrs
    val ds = NetCDF.openDecoded(spark, dir, "t")
    val vals = ds.df.orderBy("x").select("t")
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    assert(vals(0).contains(15.0) && vals(1).contains(25.0))
    assert(vals(2).isEmpty) // fill -> NULL
    assert(vals(3).contains(45.0))
  }

  test("writer rejects malformed record usage; UTF-8 names size correctly") {
    val dir = scratchDir("ncguard")
    // non-leading UNLIMITED dim would silently shape a 0-size slab
    val e1 = intercept[IllegalArgumentException] {
      NetCDF.write(s"$dir/bad1.nc",
        dims = Seq(Dim("t", 0), Dim("x", 2)),
        vars = Seq(Var("v", Seq(1, 0), NC_DOUBLE, Array.fill(4)(1.0))))
    }
    assert(e1.getMessage.contains("leading"))
    // a partial trailing record would be silently truncated
    val e2 = intercept[IllegalArgumentException] {
      NetCDF.write(s"$dir/bad2.nc",
        dims = Seq(Dim("t", 0), Dim("x", 3)),
        vars = Seq(Var("v", Seq(0, 1), NC_DOUBLE, Array.fill(11)(1.0))))
    }
    assert(e2.getMessage.contains("whole number"))
    // non-ASCII names: header size must count UTF-8 bytes, not chars —
    // a mismatch shifts every begin offset
    val p = s"$dir/utf8.nc"
    NetCDF.write(p, dims = Seq(Dim("département", 3)),
      vars = Seq(Var("température", Seq(0), NC_DOUBLE,
        Array(1.5, 2.5, 3.5),
        atts = Seq(Att.str("unités", "°C")))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hdr = parseHeader(bytes)
    assert(hdr.dims.head.name == "département")
    assert(hdr.vars.head.atts.head.asString == "°C")
    assert(readVar(bytes, hdr, "température").toSeq == Seq(1.5, 2.5, 3.5))
  }

  test("writeDataset: XDataset -> .nc -> toLongDF roundtrip with attrs and gaps") {
    import spark.implicits._
    import graft.model.{DatasetMeta, XDataset}
    val dir = scratchDir("ncds")
    // sparse grid (one cell absent -> NaN in the file), 2 data vars
    val rows = Seq((0L, 0L, 1.0, 10.0), (0L, 1L, 2.0, 20.0),
      (1L, 0L, 3.0, 30.0)) // (1,1) missing
    val meta = DatasetMeta(Seq("t", "x"),
      varAttrs = Map("a" -> Map("units" -> "degC")))
    val ds = new XDataset(rows.toDF("t", "x", "a", "b"), meta)
    NetCDF.writeDataset(ds, s"$dir/out.nc")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out.nc"))
    val hdr = parseHeader(bytes)
    assert(hdr.dims.map(_.name) == Seq("t", "x"))
    assert(hdr.vars.map(_.name).toSet == Set("t", "x", "a", "b"))
    assert(hdr.vars.find(_.name == "a").get.atts
      .exists(at => at.name == "units" && at.asString == "degC"))
    val a = readVar(bytes, hdr, "a")
    assert(a(0) == 1.0 && a(1) == 2.0 && a(2) == 3.0 && a(3).isNaN)
    // and the distributed reader round-trips the present cells
    import org.apache.spark.sql.functions.{col, isnan}
    val back = NetCDF.toLongDF(spark, dir, "b")
    assert(back.filter(col("b").isNotNull && !isnan(col("b"))).count() === 3)
    // cell guard refuses cluster-scale dense exports
    val e = intercept[IllegalArgumentException] {
      NetCDF.writeDataset(ds, s"$dir/big.nc", maxCells = 2) }
    assert(e.getMessage.contains("maxCells"))
  }

  test("CDF-5 header parse carries a begin offset beyond 2 GiB") {
    // a >2 GiB file can't be written in a unit test; hand-patch the begin
    // field of a small CDF-5 header and assert the 64-bit path reads it —
    // that is the exact field CDF-1's 32-bit INT cannot represent
    val path = scratchDir("nc")
    val f = s"$path/far.nc"
    NetCDF.write(f, Seq(Dim("a", 2)),
      Seq(Var("v", Seq(0), NC_DOUBLE, Array(1.0, 2.0))), version = 5)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val begin = parseHeader(bytes).vars.head.begin
    val farOffset = 3L * 1024 * 1024 * 1024 // 3 GiB: overflows INT
    // begin is the trailing 8 bytes of the var entry in this 1-var file
    val hdrEnd = begin.toInt
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.position(hdrEnd - 8)
    bb.putLong(farOffset)
    val patched = parseHeader(bytes)
    assert(patched.vars.head.begin === farOffset)
    // and the bounded in-memory decode refuses rather than truncating
    val e = intercept[IllegalArgumentException] {
      readVar(bytes, patched, "v") }
    assert(e.getMessage.contains("2 GiB"))
  }

  test("NC_CHAR variables roundtrip as strings (char_to_bytes semantics)") {
    val path = scratchDir("ncchar")
    val names = Seq("OSLO", "NAIROBI", "LA PAZ") // padding + inner space
    val f = s"$path/stations.nc"
    NetCDF.write(f, Seq(Dim("station", 3), Dim("strlen", 8)), Seq(
      Var("name", Seq(0, 1), NC_CHAR, NetCDF.charData(names, 8)),
      Var("elev", Seq(0), NC_DOUBLE, Array(23.0, 1795.0, 3640.0))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val hdr = parseHeader(bytes)
    assert(NetCDF.readCharVar(bytes, hdr, "name").toSeq === names)
    assert(readVar(bytes, hdr, "elev").toSeq === Seq(23.0, 1795.0, 3640.0))
    // record-dim char variable: strings grow along the unlimited dim
    val f2 = s"$path/rec.nc"
    NetCDF.write(f2, Seq(Dim("time", 0), Dim("strlen", 4)), Seq(
      Var("tag", Seq(0, 1), NC_CHAR, NetCDF.charData(Seq("ab", "cdef"), 4))))
    val b2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f2))
    assert(NetCDF.readCharVar(b2, parseHeader(b2), "tag").toSeq
      === Seq("ab", "cdef"))
    // guards: non-char vars and oversized strings refuse loudly
    intercept[IllegalArgumentException] {
      NetCDF.readCharVar(bytes, hdr, "elev") }
    intercept[IllegalArgumentException] { NetCDF.charData(Seq("toolong"), 3) }
  }
}
