package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, udf}

import graft.io.{BenchH5, Blosc, HDF5, Lzf, NetCDF, Szip, Zarr}
import graft.model.XDataset

/** A (time, lat, lon) float64 grid with NaN gaps, generated from a seed.
  * Values are multiples of 1/64 around a smooth field, as quantized
  * instrument data are, so the codecs have structure to exploit. */
final class Grid(seed: Long, val nt: Int = 24, val ny: Int = 120,
                 val nx: Int = 120) {
  val dims: Seq[String] = Seq("time", "lat", "lon")
  val shape: Seq[Int] = Seq(nt, ny, nx)
  val chunks: Seq[Int] = Seq(8, 40, 40)
  val cells: Int = nt * ny * nx
  val coords: Seq[Array[Double]] = shape.map(n => Array.tabulate(n)(_.toDouble))
  val data: Array[Double] = {
    val rng = new java.util.Random(seed)
    val phase = rng.nextDouble() * 2 * math.Pi
    val a = Array.tabulate(cells) { i =>
      val t = i / (ny * nx); val y = (i / nx) % ny; val x = i % nx
      val v = 280 + 15 * math.sin(y * math.Pi / ny + phase) *
        math.cos(x * 2 * math.Pi / nx) + 4.0 * t / nt + rng.nextGaussian()
      math.rint(v * 64) / 64
    }
    for (_ <- 0 until 20) { // rectangular gaps, as cloud or sensor masks
      val t0 = rng.nextInt(nt); val y0 = rng.nextInt(ny); val x0 = rng.nextInt(nx)
      val (dt, dy, dx) = (1 + rng.nextInt(5), 5 + rng.nextInt(25), 5 + rng.nextInt(25))
      for (t <- t0 until math.min(nt, t0 + dt); y <- y0 until math.min(ny, y0 + dy);
           x <- x0 until math.min(nx, x0 + dx)) a((t * ny + y) * nx + x) = Double.NaN
    }
    a
  }
  /** Seed-chosen `sel` window: a quarter of the time labels. */
  val slice: (Int, Int) = {
    val len = nt / 4
    val lo = new java.util.Random(seed ^ 0x5eed).nextInt(nt - len + 1)
    (lo, lo + len - 1)
  }

  /** Expected digest of the cells with time in [lo, hi], values passed
    * through `cast` (the f32 store rounds to float). */
  def expected(lo: Int, hi: Int, cast: Double => Double): Fp = {
    val c = new Array[Double](3)
    var acc = Fingerprint.Zero
    for (t <- lo to hi; y <- 0 until ny; x <- 0 until nx) {
      c(0) = t; c(1) = y; c(2) = x
      acc += Fingerprint.ofHash(Fingerprint.cellHash(c, cast(data((t * ny + y) * nx + x))))
    }
    acc
  }

  /** Raw little-endian chunk payloads in C order, as a chunked store
    * holds them before compression (`f32` for the float store). */
  def chunkBytes(f32: Boolean): Seq[Array[Byte]] = {
    val Seq(ct, cy, cx) = chunks
    for (t0 <- 0 until nt by ct; y0 <- 0 until ny by cy; x0 <- 0 until nx by cx) yield {
      val b = java.nio.ByteBuffer.allocate(ct * cy * cx * (if (f32) 4 else 8))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (t <- t0 until t0 + ct; y <- y0 until y0 + cy; x <- x0 until x0 + cx) {
        val v = data((t * ny + y) * nx + x)
        if (f32) b.putFloat(v.toFloat) else b.putDouble(v)
      }
      b.array()
    }
  }
}

/** The store_roundtrip workload: five stores, each written and read back
  * by a full scan and by one `sel` slice. */
final class StoreRoundtrip(spark: SparkSession, seed: Long, root: String) {
  val grid = new Grid(seed)
  private val logicalBytes = grid.cells * 8L
  private val f32: Double => Double = v => v.toFloat.toDouble

  /** The grid as a long-format DataFrame, held in executor memory as a
    * pipeline would hold it before writing. A local checkpoint, not a
    * `persist`: Main clears Spark's cache after every operation,
    * and the Zarr writes must not pay for rebuilding their input. */
  val frame: DataFrame = {
    val arr = spark.sparkContext.broadcast(grid.data)
    val value = udf((i: Long) => arr.value(i.toInt))
    val (ny, nx) = (grid.ny, grid.nx)
    val df = spark.range(grid.cells).select(
      expr(s"id div ${ny * nx}").as("time"),
      expr(s"(id div $nx) % $ny").as("lat"),
      expr(s"id % $nx").as("lon"),
      value(col("id")).as("v"))
    df.localCheckpoint(eager = true)
  }

  private val full = grid.expected(0, grid.nt - 1, identity)
  private val fullF32 = grid.expected(0, grid.nt - 1, f32)
  private val (lo, hi) = grid.slice
  private val part = grid.expected(lo, hi, identity)
  private val partF32 = grid.expected(lo, hi, f32)

  private case class Store(name: String, layer: String, write: String => Unit,
                           read: String => DataFrame, f32: Boolean)

  private val stores: Seq[Store] = {
    val dimDefs = grid.dims.zip(grid.coords)
    def zarrWrite(comp: (String, Int))(p: String): Unit =
      Zarr.writeLongDF(frame, p, "v", grid.dims, grid.coords, grid.chunks,
        compressor = Some(comp))
    def h5Write(v: HDF5.WVar)(p: String): Unit = {
      new File(p).mkdirs(); HDF5.writeNc4(p + "/part0.nc4", dimDefs, Seq(v))
    }
    def ncWrite(p: String): Unit = {
      new File(p).mkdirs()
      val ncDims = grid.dims.zip(grid.shape).map { case (n, s) => NetCDF.Dim(n, s) }
      NetCDF.write(p + "/part0.nc", ncDims,
        grid.coords.zipWithIndex.map { case (c, k) =>
          NetCDF.Var(grid.dims(k), Seq(k), NetCDF.NC_INT, c)
        } :+ NetCDF.Var("v", Seq(0, 1, 2), NetCDF.NC_DOUBLE, grid.data))
    }
    val h5 = HDF5.WVar("v", Seq(0, 1, 2), grid.data, chunk = Some(grid.chunks))
    Seq(
      Store("zarr_blosc", "zarr", zarrWrite(("blosc:lz4:1", 5)), Zarr.toLongDF(spark, _, "v"), false),
      Store("zarr_zlib", "zarr", zarrWrite(("zlib", 1)), Zarr.toLongDF(spark, _, "v"), false),
      Store("h5_deflate", "h5", h5Write(h5.copy(shuffle = true)), HDF5.toLongDF(spark, _, "v"), false),
      Store("h5_szip", "h5", h5Write(h5.copy(f32 = true, szip = true)), HDF5.toLongDF(spark, _, "v"), true),
      Store("nc", "nc", ncWrite, NetCDF.toLongDF(spark, _, "v"), false))
  }

  def path(store: String): String = s"$root/$store"
  def storedBytes(store: String): Long = dirBytes(new File(path(store)))
  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  def logicalMb(kind: String): Double =
    (if (kind == "slice") logicalBytes * (hi - lo + 1) / grid.nt
     else logicalBytes) / 1e6

  def ops: Seq[Op] = stores.flatMap { st =>
    val p = path(st.name)
    def check(t: Tracer, df: DataFrame, want: Fp): (Boolean, String) = {
      t.span("plan")(df.queryExecution.executedPlan)
      val fp = t.span("exec")(Fingerprint.ofCells(df, grid.dims, "v"))
      PlanStats.note(t, df)
      (fp == want, s"got $fp want $want")
    }
    Seq(
      Op(s"${st.name}.write", "write", st.layer, () => deleteRecursively(new File(p)),
        t => { t.span("write")(st.write(p)); (true, "") }),
      Op(s"${st.name}.read", "read", st.layer, () => (), t =>
        check(t, t.span("build")(st.read(p)), if (st.f32) fullF32 else full)),
      Op(s"${st.name}.slice", "slice", st.layer, () => (), t =>
        check(t, t.span("build")(XDataset(st.read(p), grid.dims)
          .selSlice("time", lo.toLong, hi.toLong).df), if (st.f32) partF32 else part)))
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  private def zarrChunks(store: String): Seq[Array[Byte]] =
    Option(new File(path(store) + "/v").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
      .map(f => Files.readAllBytes(Paths.get(f.getPath)))
  private def h5Chunks(store: String): (Seq[Array[Byte]], Seq[(Int, Seq[Int])]) =
    BenchH5.chunks(path(store) + "/part0.nc4", "v")

  /** Times each codec: decoding the chunks the stores hold (blosc and
    * zlib from the Zarr stores, szip from h5_szip, deflate + shuffle from
    * h5_deflate), and encoding the raw chunks (lzf, which no store uses,
    * decodes what it encoded). Returns codec -> (encode MB/s, decode
    * MB/s) on decoded (logical) megabytes, and store -> seconds to decode
    * all of that store's chunks once. Runs inside spans named
    * `codec.<c>.encode` / `codec.<c>.decode` of the tracer's `codecs` op. */
  def codecBench(t: Tracer): (Map[String, (Double, Double)], Map[String, Double]) = {
    val raw64 = grid.chunkBytes(f32 = false)
    val raw32 = grid.chunkBytes(f32 = true)
    val mb64 = raw64.map(_.length).sum / 1e6
    val mb32 = raw32.map(_.length).sum / 1e6
    def timed(name: String)(body: => Unit): Double = {
      val a = System.nanoTime(); t.span(name)(body); (System.nanoTime() - a) / 1e9
    }
    val chunkLen = raw64.head.length
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new Deflater(1); d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](1 << 16)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def inflate(b: Array[Byte]): Array[Byte] = {
      val i = new Inflater(); i.setInput(b); val out = new Array[Byte](chunkLen)
      var off = 0
      while (off < chunkLen && !i.finished()) off += i.inflate(out, off, chunkLen - off)
      i.end(); out
    }
    // HDF5's shuffle filter stores byte k of every element together
    def unshuffle(b: Array[Byte], es: Int): Array[Byte] = {
      val n = b.length / es; val out = new Array[Byte](b.length)
      for (k <- 0 until es; e <- 0 until n) out(e * es + k) = b(k * n + e)
      out
    }
    t.op("codecs", "codecs") {
      val bloscChunks = zarrChunks("zarr_blosc")
      val zlibChunks = zarrChunks("zarr_zlib")
      val (defChunks, _) = h5Chunks("h5_deflate")
      val (szChunks, szFilters) = h5Chunks("h5_szip")
      val szCd = szFilters.collectFirst { case (4, cd) => cd }
        .getOrElse(sys.error("h5_szip: no szip filter"))
      val bEnc = timed("codec.blosc.encode")(raw64.foreach(Blosc.compress(_, 8, "lz4", 5, 1)))
      val bDec = timed("codec.blosc.decode")(bloscChunks.foreach(Blosc.decompress(_, chunkLen)))
      val zEnc = timed("codec.zlib.encode")(raw64.foreach(deflate))
      val zDec = timed("codec.zlib.decode")(zlibChunks.foreach(inflate))
      val hDec = timed("codec.deflate_shuffle.decode")(
        defChunks.foreach(c => unshuffle(inflate(c), 8)))
      val sEnc = timed("codec.szip.encode")(raw32.foreach(Szip.hdf5Encode(_, szCd)))
      val sDec = timed("codec.szip.decode")(szChunks.foreach(Szip.hdf5Decode(_, szCd, "v")))
      val lzEncoded = raw64.map(Lzf.compress)
      val lEnc = timed("codec.lzf.encode")(raw64.foreach(Lzf.compress))
      val lDec = timed("codec.lzf.decode")(lzEncoded.foreach(Lzf.decompress(_, chunkLen)))
      (Map("blosc" -> (mb64 / bEnc, mb64 / bDec), "zlib" -> (mb64 / zEnc, mb64 / zDec),
        "szip" -> (mb32 / sEnc, mb32 / sDec), "lzf" -> (mb64 / lEnc, mb64 / lDec)),
        Map("zarr_blosc" -> bDec, "zarr_zlib" -> zDec, "h5_deflate" -> hDec,
          "h5_szip" -> sDec))
    }
  }

  /** Chunks the chunked stores hold after a pass's writes: the chunk
    * files of the Zarr stores and the chunk index entries of the HDF5
    * stores. */
  def chunksHeld: Int =
    Seq("zarr_blosc", "zarr_zlib").map(zarrChunks(_).size).sum +
      Seq("h5_deflate", "h5_szip").map(h5Chunks(_)._1.size).sum
}
