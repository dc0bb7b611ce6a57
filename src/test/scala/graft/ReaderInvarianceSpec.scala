package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.io.{HDF5, NetCDF, Zarr}
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
}
