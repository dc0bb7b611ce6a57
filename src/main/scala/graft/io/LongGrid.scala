package graft.io

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

/** The long-frame mapping the array readers share (the paper's exploded
  * dimensions): an N-d array becomes one row per cell, one key column per
  * dim holding that dim's coordinate label, then the value column. Zarr,
  * HDF5 and NetCDF plan their tasks driver-side and decode one task's
  * bytes to a [[Block]]; this module owns the chunk-box walk, the frame's
  * schema and the distributed read. */
private[io] object LongGrid {

  /** Coordinate labels of one dim: `values(i)` labels index `from + i`.
    * A dim without a coordinate variable has none; its index is its label. */
  final case class Labels(values: Array[Double], from: Long = 0L)

  /** One decoded task: the C-order cells of a `dims` box at `origin`
    * inside an array of `shape`, and each dim's labels. Box cells past the
    * shape are edge padding and yield no row. */
  final case class Block(shape: Array[Long], origin: Array[Long],
                         dims: Array[Int], values: Array[Double],
                         labels: Array[Option[Labels]])

  /** C-order walk over the cells of a `dims` box at `origin` that lie
    * inside `shape`; edge padding is never visited. `cell` is the box
    * offset, `pos` the array offset, `idx(k)` dim k's array index. A
    * rank-0 box has one cell. */
  private final class Cursor(shape: Array[Long], origin: Array[Long],
                             dims: Array[Int]) {
    private val rank = dims.length
    private val ext = Array.tabulate(rank)(k =>
      math.max(0L, math.min(dims(k).toLong, shape(k) - origin(k))).toInt)
    private val boxStride = dims.scanRight(1)(_ * _).tail
    private val arrStride = shape.scanRight(1L)(_ * _).tail
    val idx: Array[Long] = origin.clone()
    var cell = 0
    var pos: Long = (0 until rank).map(k => origin(k) * arrStride(k)).sum
    var valid: Boolean = ext.forall(_ > 0)

    def advance(): Unit = {
      var k = rank - 1
      while (k >= 0) {
        idx(k) += 1; cell += boxStride(k); pos += arrStride(k)
        if (idx(k) < origin(k) + ext(k)) return
        idx(k) = origin(k)
        cell -= ext(k) * boxStride(k); pos -= ext(k) * arrStride(k)
        k -= 1
      }
      valid = false
    }
  }

  /** Calls `f(cell, pos)` for each cell of a `dims` box at `origin` that
    * lies inside `shape`, in C order: `cell` is the offset in the box,
    * `pos` the offset in the dense array. The one walk behind every
    * box scatter, gather and row build in `io/`. */
  def foreachCell(shape: Seq[Long], origin: Seq[Long], dims: Seq[Int])(
      f: (Int, Long) => Unit): Unit = {
    val c = new Cursor(shape.toArray, origin.toArray, dims.toArray)
    while (c.valid) { f(c.cell, c.pos); c.advance() }
  }

  /** The frame's schema: one column per dim, LongType iff its coordinate
    * is integral or absent (`None`), then the value column, LongType iff
    * the dtype is integral. */
  def schema(dims: Seq[(String, Option[Boolean])], value: String,
             valueIntegral: Boolean): StructType =
    StructType(dims.map { case (d, integral) =>
      StructField(d, if (integral.forall(identity)) LongType else DoubleType)
    } :+ StructField(value, if (valueIntegral) LongType else DoubleType))

  /** The distributed read: `tasks` spread over at most twice the default
    * parallelism, each decoded in an executor and walked into rows typed
    * by `schema`. */
  def read[T: ClassTag](spark: SparkSession, schema: StructType,
                        tasks: Seq[T])(decode: T => Block): DataFrame = {
    val integral = schema.fields.map(_.dataType == LongType)
    val slices = math.max(1, math.min(tasks.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.createDataFrame(spark.sparkContext.parallelize(tasks, slices)
      .flatMap(t => rows(decode(t), integral)), schema)
  }

  private def rows(b: Block, integral: Array[Boolean]): Iterator[Row] = {
    val rank = b.dims.length
    val lv = b.labels.map(_.map(_.values).orNull)
    val from = b.labels.map(_.fold(0L)(_.from))
    val c = new Cursor(b.shape, b.origin, b.dims)
    new Iterator[Row] {
      def hasNext: Boolean = c.valid
      def next(): Row = {
        val r = new Array[Any](rank + 1)
        var k = 0
        while (k < rank) {
          val g = c.idx(k)
          val label = if (lv(k) == null) g.toDouble
                      else lv(k)((g - from(k)).toInt)
          if (integral(k)) r(k) = label.toLong else r(k) = label
          k += 1
        }
        val v = b.values(c.cell)
        if (integral(rank)) r(rank) = v.toLong else r(rank) = v
        c.advance()
        new GenericRow(r)
      }
    }
  }

  /** The files directly under `dir` whose names end in one of `exts`,
    * sorted by name. A directory that cannot be listed or holds no such
    * file raises. */
  def listFiles(dir: String, exts: String*): Seq[java.io.File] = {
    // listFiles() returns null (not empty) for a missing/unreadable dir
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(sys.error(s"cannot list directory $dir"))
      .filter(f => exts.exists(f.getName.endsWith)).sortBy(_.getName)
    require(files.nonEmpty, s"no ${exts.mkString("/")} files under $dir")
    files.toSeq
  }

  /** `open_dataset`'s join: every data variable (name, dims) read as a
    * long frame and full-outer-joined on the dim columns, so a cell one
    * variable lacks surfaces as NULL. All variables must share the same
    * dims (xarray broadcasts mismatched dims; out of scope here). */
  def openDataset(vars: Seq[(String, Seq[String])], where: String)(
      read: String => DataFrame): DataFrame = {
    require(vars.nonEmpty, s"no data variables in $where")
    val dims = vars.head._2
    require(vars.forall(_._2 == dims),
      "open_dataset requires all data vars on the same dims; got " +
        vars.map { case (n, d) => s"$n:${d.mkString("x")}" }.mkString(", "))
    vars.map { case (n, _) => read(n) }.reduce(_.join(_, dims, "full_outer"))
  }
}
