package graft

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.io.{HDF5, LongGrid, NetCDF, Zarr}
import graft.io.HDF5.WVar

/** One grid written through every array reader path must read back as
  * the same long frame: same schema, same rows. The grid has edge chunks
  * on every axis (5x7x6 in 2x3x4 boxes), NaN gaps, an integral (`time`)
  * and a float (`lat`) coordinate, and one dim (`lon`) without a
  * coordinate variable, whose index is its label. HDF5 always stores a
  * dimension scale, so there `lon` carries the index 0..5 as an integral
  * scale, which reads back the same. */
class ReaderInvarianceSpec extends SparkSpec {

  private val dims = Seq("time", "lat", "lon")
  private val shape = Seq(5, 7, 6)
  private val chunks = Seq(2, 3, 4)
  private val time = Array.tabulate(5)(i => 10.0 * (i + 1))
  private val lat = Array.tabulate(7)(i => -1.5 + 0.5 * i)
  private val lon = Array.tabulate(6)(_.toDouble)
  private val data = Array.tabulate(5 * 7 * 6) { i =>
    val (t, y, x) = (i / 42, (i / 6) % 7, i % 6)
    if ((t + y + x) % 5 == 0) Double.NaN else t * 100 + y * 10 + x + 0.25
  }

  private val schema = StructType(Seq(StructField("time", LongType),
    StructField("lat", DoubleType), StructField("lon", LongType),
    StructField("v", DoubleType)))
  private val expected: Seq[String] = data.indices.map { i =>
    Row(time(i / 42).toLong, lat((i / 6) % 7), (i % 6).toLong, data(i)).toString
  }.sorted

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmp(tag: String): String =
    scratchDir(s"graft_inv_$tag")

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** writeLongDF stores every coordinate with one dtype: rewrite `lat` as
    * float64 and drop `lon`'s coordinate array. */
  private def zarr(format: Int, shardInner: Option[Seq[Int]]): String = {
    val store = tmp(s"zarr$format")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(data.indices.map(i => Row(time(i / 42).toLong,
        lat((i / 6) % 7), (i % 6).toLong, data(i))): _*), schema)
    Zarr.writeLongDF(df, store, "v", dims, Seq(time, lat, lon), chunks,
      zarrFormat = format, shardInner = shardInner)
    Zarr.writeArray(spark, store, "lat",
      Zarr.openMetaAny(spark, store, "lat").copy(kind = 'f'), lat)
    deleteRecursively(new File(store, "lon"))
    store
  }

  private def h5(chunk: Option[Seq[Int]]): String = {
    val dir = tmp("h5")
    HDF5.writeNc4(s"$dir/part0.nc4", dims.zip(Seq(time, lat, lon)),
      Seq(WVar("v", Seq(0, 1, 2), data, chunk = chunk)))
    dir
  }

  private def nc(record: Boolean): String = {
    val dir = tmp("nc")
    NetCDF.write(s"$dir/part0.nc",
      Seq(NetCDF.Dim("time", if (record) 0 else 5), NetCDF.Dim("lat", 7),
        NetCDF.Dim("lon", 6)),
      Seq(NetCDF.Var("time", Seq(0), NetCDF.NC_INT, time),
        NetCDF.Var("lat", Seq(1), NetCDF.NC_DOUBLE, lat),
        NetCDF.Var("v", Seq(0, 1, 2), NetCDF.NC_DOUBLE, data)))
    dir
  }

  test("every reader path gives the same schema and rows") {
    val frames = Seq(
      "zarr v2" -> Zarr.toLongDF(spark, zarr(2, None), "v"),
      "zarr v3 sharded" -> Zarr.toLongDF(spark,
        zarr(3, Some(Seq(1, 3, 2))), "v"),
      "hdf5 chunked" -> HDF5.toLongDF(spark, h5(Some(chunks)), "v"),
      "hdf5 contiguous" -> HDF5.toLongDF(spark, h5(None), "v"),
      "netcdf fixed" -> NetCDF.toLongDF(spark, nc(record = false), "v"),
      "netcdf record" -> NetCDF.toLongDF(spark, nc(record = true), "v"))
    frames.foreach { case (path, df) =>
      assert(df.schema === schema, path)
      assert(rowsOf(df) === expected, path)
    }
  }

  test("HDF5 and NetCDF rows do not depend on the band width") {
    val oneRow = 1L // bandBytes below one row's bytes: one row per task
    Seq(h5(None), h5(Some(chunks))).foreach { dir =>
      assert(rowsOf(HDF5.toLongDF(spark, dir, "v", oneRow)) ===
        rowsOf(HDF5.toLongDF(spark, dir, "v")), dir)
    }
    Seq(nc(record = false), nc(record = true)).foreach { dir =>
      val banded = NetCDF.toLongDF(spark, dir, "v", oneRow)
      assert(banded.rdd.getNumPartitions > 1, dir)
      assert(rowsOf(banded) === rowsOf(NetCDF.toLongDF(spark, dir, "v")), dir)
    }
  }

  // ---- chunk pruning: pushed dim filters drop the tasks they cannot match

  /** (tasks planned, tasks in the full read) of `df`'s grid scan. */
  private def planned(df: DataFrame): (Int, Int) =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
      .collect { case s: LongGrid.GridScan[_] => s.planned }
      .getOrElse(fail(s"no grid scan in\n${df.queryExecution.sparkPlan}"))

  /** The grid as an in-memory frame: what an unpruned read returns, for
    * `lat` labels `latLabels` and `time` labels `times`. */
  private def reference(latLabels: Array[Double],
                        times: Array[Double] = time): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(data.indices.map(i =>
      Row(times(i / 42).toLong, latLabels((i / 6) % 7), (i % 6).toLong,
        data(i))): _*), schema)

  /** Asserts that `read` filtered by each case returns the rows of `ref`
    * under the same filter, and plans fewer tasks than its full read
    * exactly when `prunes(case)`. */
  private def checkPruning(path: String, read: DataFrame, ref: DataFrame,
                           cases: Seq[(String, Column)])(
      prunes: String => Boolean): Unit = {
    val full = planned(read)._2
    cases.foreach { case (name, cond) =>
      val df = read.filter(cond)
      assert(rowsOf(df) === rowsOf(ref.filter(cond)), s"$path: $name")
      val (n, all) = planned(df)
      assert(all === full, s"$path: $name")
      if (prunes(name)) assert(n < all, s"$path: $name planned $n of $all")
      else assert(n === all, s"$path: $name planned $n of $all")
    }
  }

  private val cases: Seq[(String, Column)] = Seq(
    "time range" -> col("time").between(20, 30),
    "time =" -> (col("time") === 50),
    "time in" -> col("time").isin(10, 50),
    "lat range" -> (col("lat") > 0.2),
    "lat =" -> (col("lat") === -1.0),
    "lat in" -> col("lat").isin(-1.5, -1.0),
    "lon range" -> (col("lon") >= 4),
    "lon =" -> (col("lon") === 2),
    "lon in" -> col("lon").isin(1, 2))

  test("dim filters prune tasks on every reader path, same rows") {
    val chunked = Set("zarr v2", "zarr v3 sharded", "hdf5 chunked")
    Seq(
      "zarr v2" -> Zarr.toLongDF(spark, zarr(2, None), "v"),
      "zarr v3 sharded" -> Zarr.toLongDF(spark,
        zarr(3, Some(Seq(1, 3, 2))), "v"),
      "hdf5 chunked" -> HDF5.toLongDF(spark, h5(Some(chunks)), "v"),
      "hdf5 contiguous" -> HDF5.toLongDF(spark, h5(None), "v"),
      "netcdf fixed" -> NetCDF.toLongDF(spark, nc(record = false), "v"),
      "netcdf record" -> NetCDF.toLongDF(spark, nc(record = true), "v")
    ).foreach { case (path, df) =>
      // contiguous bands span every lat and lon; a record coordinate is
      // read by the task, so the record dim never prunes
      checkPruning(path, df, reference(lat), cases) { name =>
        if (name.startsWith("time")) path != "netcdf record"
        else chunked(path)
      }
    }
  }

  test("NaN coordinate labels sort above every value when pruning") {
    val latNaN = lat.updated(1, Double.NaN).updated(4, Double.NaN)
    val zarrStore = zarr(2, None)
    Zarr.writeArray(spark, zarrStore, "lat",
      Zarr.openMetaAny(spark, zarrStore, "lat"), latNaN)
    val h5Dir = tmp("h5nan")
    HDF5.writeNc4(s"$h5Dir/part0.nc4", dims.zip(Seq(time, latNaN, lon)),
      Seq(WVar("v", Seq(0, 1, 2), data, chunk = Some(chunks))))
    // lat boxes: [-1.5, NaN, -0.5], [0.0, NaN, 1.0], [1.5]
    val nanCases = Seq(
      "lat > 1.0" -> (col("lat") > 1.0),      // 1.5 and NaN: no box drops
      "lat < -1.0" -> (col("lat") < -1.0),    // the first box only
      "lat = NaN" -> (col("lat") === Double.NaN),
      "lat in (NaN)" -> col("lat").isin(Double.NaN),
      "lat >= NaN" -> (col("lat") >= lit(Double.NaN)))
    Seq("zarr v2" -> Zarr.toLongDF(spark, zarrStore, "v"),
        "hdf5 chunked" -> HDF5.toLongDF(spark, h5Dir, "v")).foreach {
      case (path, df) =>
        checkPruning(path, df, reference(latNaN), nanCases)(_ != "lat > 1.0")
    }
  }

  test("files in a directory are bounded by their own labels") {
    val later = time.map(_ + 50) // 60..100
    val h5Dir = tmp("h5two")
    Seq(time, later).zipWithIndex.foreach { case (t, k) =>
      HDF5.writeNc4(s"$h5Dir/part$k.nc4", dims.zip(Seq(t, lat, lon)),
        Seq(WVar("v", Seq(0, 1, 2), data, chunk = Some(chunks))))
    }
    val ncDir = tmp("nctwo")
    Seq(time, later).zipWithIndex.foreach { case (t, k) =>
      NetCDF.write(s"$ncDir/part$k.nc",
        Seq(NetCDF.Dim("time", 5), NetCDF.Dim("lat", 7), NetCDF.Dim("lon", 6)),
        Seq(NetCDF.Var("time", Seq(0), NetCDF.NC_INT, t),
          NetCDF.Var("lat", Seq(1), NetCDF.NC_DOUBLE, lat),
          NetCDF.Var("v", Seq(0, 1, 2), NetCDF.NC_DOUBLE, data)))
    }
    val ref = reference(lat).union(reference(lat, later))
    val twoFile = Seq(
      "first file" -> (col("time") < 60),
      "second file" -> (col("time") >= 60),
      "one label per file" -> col("time").isin(30, 80))
    Seq("hdf5" -> HDF5.toLongDF(spark, h5Dir, "v"),
        "netcdf" -> NetCDF.toLongDF(spark, ncDir, "v")).foreach {
      case (path, df) => checkPruning(path, df, ref, twoFile)(_ => true)
    }
  }

  test("a contiguous file under the band target spreads over the cores") {
    val cores = spark.sparkContext.defaultParallelism
    Seq(HDF5.toLongDF(spark, h5(None), "v"),
        NetCDF.toLongDF(spark, nc(record = false), "v"),
        NetCDF.toLongDF(spark, nc(record = true), "v")).foreach { df =>
      assert(planned(df)._2 >= math.min(shape.head, cores))
    }
  }

  test("a quarter time slice of a 24x120x120 grid in 8x40x40 plans 9 of 27") {
    val (nt, ny, nx) = (24, 120, 120)
    val coords = Seq(nt, ny, nx).map(n => Array.tabulate(n)(_.toDouble))
    val values = Array.tabulate(nt * ny * nx)(_ * 0.5)
    val store = tmp("zarr_rt")
    Zarr.writeLongDF(spark.range(nt * ny * nx).selectExpr(
        s"id div ${ny * nx} as time", s"(id div $nx) % $ny as lat",
        s"id % $nx as lon", "cast(id as double) * 0.5 as v"),
      store, "v", dims, coords, Seq(8, 40, 40))
    val h5Dir = tmp("h5_rt")
    HDF5.writeNc4(s"$h5Dir/part0.nc4", dims.zip(coords),
      Seq(WVar("v", Seq(0, 1, 2), values, chunk = Some(Seq(8, 40, 40)))))
    Seq(Zarr.toLongDF(spark, store, "v"), HDF5.toLongDF(spark, h5Dir, "v"))
      .foreach { df =>
        val slice = df.filter(col("time").between(9, 14))
        assert(planned(slice) === ((9, 27)))
        assert(slice.count() === 6L * ny * nx)
      }
  }
}
