package graft.io

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.connector.catalog.{Column, SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The long-frame mapping the array readers share (the paper's exploded
  * dimensions): an N-d array becomes one row per cell, one key column per
  * dim holding that dim's coordinate label, then the value column. Zarr,
  * HDF5 and NetCDF plan their tasks driver-side, bound each task's box by
  * the labels they already hold, and decode one task's bytes to a
  * [[Block]]; this module owns the chunk-box walk, the frame's schema and
  * the distributed read: a DataSource V2 scan that drops the tasks a
  * pushed dim filter cannot match (per-task label min/max as a
  * multidimensional zone map) and writes internal rows. */
private[graft] object LongGrid {

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

  /** [[foreachCell]] by rows: calls `f(cell, pos, len)` for each run of
    * `len` in-shape cells along the last dim, starting at box offset
    * `cell` and array offset `pos`. A rank-0 box is one run of one cell. */
  def foreachRun(shape: Seq[Long], origin: Seq[Long], dims: Seq[Int])(
      f: (Int, Long, Int) => Unit): Unit =
    if (dims.isEmpty) f(0, 0L, 1)
    else {
      val len = math.min(dims.last.toLong, shape.last - origin.last).toInt
      if (len > 0) foreachCell(shape.init, origin.init, dims.init) { (c, p) =>
        f(c * dims.last, p * shape.last + origin.last, len)
      }
    }

  /** Transposed box remap between a box's LOGICAL C-order layout (shape
    * = chunks) and its STORED C-order layout (shape = chunks[p(i)]): the
    * Zarr transpose codec, and Fortran order (p = the dim reversal).
    * `toStored=true` is the encode direction. One div-free odometer walk
    * over the stored index space; logical offsets accumulate through the
    * permuted strides. */
  def permute(src: Array[Double], chunks: Seq[Int],
              p: Seq[Int], toStored: Boolean): Array[Double] = {
    val d = chunks.length
    val s = chunks.toArray
    val t = p.map(s(_)).toArray                        // stored shape
    val strideS = new Array[Int](d)                    // logical C strides
    var acc = 1
    var k = d - 1
    while (k >= 0) { strideS(k) = acc; acc *= s(k); k -= 1 }
    val strideL = p.map(strideS(_)).toArray            // logical stride of
    val out = new Array[Double](src.length)            // stored axis i
    val idx = new Array[Int](d)
    var ls = 0                                         // stored linear
    var ll = 0                                         // logical linear
    while (ls < src.length) {
      if (toStored) out(ls) = src(ll) else out(ll) = src(ls)
      var i = d - 1
      var carry = true
      while (carry && i >= 0) {
        idx(i) += 1; ll += strideL(i)
        if (idx(i) < t(i)) carry = false
        else { ll -= idx(i) * strideL(i); idx(i) = 0; i -= 1 }
      }
      ls += 1
    }
    out
  }

  /** The frame's schema: one column per dim, LongType iff its coordinate
    * is integral or absent (`None`), then the value column, LongType iff
    * the dtype is integral. */
  def schema(dims: Seq[(String, Option[Boolean])], value: String,
             valueIntegral: Boolean): StructType =
    StructType(dims.map { case (d, integral) =>
      StructField(d, if (integral.forall(identity)) LongType else DoubleType)
    } :+ StructField(value, if (valueIntegral) LongType else DoubleType))

  /** A task's label range along one dim: the least and greatest label of
    * its box, in Spark SQL's order (NaN sorts above every value, and
    * -0.0 equals 0.0). */
  final case class Bound(lo: Double, hi: Double)

  /** Each dim's [[Bound]] over the in-shape cells of a `dims` box at
    * `origin`: from the dim's `labels`, or its index where it has none.
    * A box with no cell in the shape is bounded nowhere (`None`). */
  def bounds(shape: Array[Long], origin: Array[Long], dims: Array[Int],
             labels: Array[Option[Labels]]): Array[Option[Bound]] =
    Array.tabulate(dims.length) { k =>
      val (a, b) = (origin(k), math.min(origin(k) + dims(k), shape(k)) - 1)
      if (b < a) None
      else Some(labels(k) match {
        case None => Bound(a.toDouble, b.toDouble)
        case Some(l) =>
          var lo, hi = Double.NaN
          var g = a
          while (g <= b) {
            val x = l.values((g - l.from).toInt)
            if (g == a || SQLOrderingUtil.compareDoubles(x, lo) < 0) lo = x
            if (g == a || SQLOrderingUtil.compareDoubles(x, hi) > 0) hi = x
            g += 1
          }
          Bound(lo, hi)
      })
    }

  /** One planned task: what `decode` reads, and each dim's [[Bound]] over
    * its box (`None`: only the task reads that dim's labels, so a filter
    * on it never drops the task). */
  final case class Task[T](payload: T, bounds: Array[Option[Bound]])

  /** The distributed read, as a DataSource V2 scan (`BatchScan
    * graft_grid`). Filters on dim columns drop every task whose bounds
    * prove that no cell matches; Spark still evaluates them all above the
    * scan. The kept tasks spread over at most twice the default
    * parallelism, each decoded in an executor and walked into internal
    * rows typed by `schema`. The scan reports no statistics, so planning
    * sees Spark's default size, as for an RDD scan. */
  def read[T](spark: SparkSession, schema: StructType, tasks: Seq[Task[T]])(
      decode: T => Block): DataFrame =
    GraftBridge.ofTable(spark, new GridTable(schema, tasks.toVector, decode,
      spark.sparkContext.defaultParallelism * 2))

  private final class GridTable[T](
      schema: StructType, val tasks: Vector[Task[T]], val decode: T => Block,
      val maxSlices: Int) extends Table with SupportsRead {
    def name(): String = "graft_grid"
    override def columns(): Array[Column] =
      schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable))
    def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new GridScanBuilder(this, schema)
  }

  private final class GridScanBuilder[T](table: GridTable[T],
                                         schema: StructType)
      extends ScanBuilder with SupportsPushDownFilters {
    private var pushed = Array.empty[Filter]
    /** Keeps every filter for pruning and hands them all back, so Spark
      * evaluates each one above the scan. */
    def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters; filters
    }
    def pushedFilters(): Array[Filter] = pushed
    def build(): Scan = new GridScan(table, schema, pushed)
  }

  /** The scan and its batch: the tasks some cell of which may pass every
    * pushed filter, in order, in at most `maxSlices` contiguous runs. */
  private[graft] final class GridScan[T](table: GridTable[T],
                                         schema: StructType,
                                         filters: Array[Filter])
      extends Scan with Batch {
    private val rank = schema.length - 1
    private val integral = schema.fields.map(_.dataType == LongType)

    /** Dim `k`'s bound against `v`: (lo compared to v, hi compared to v),
      * in the column's type; `None` when that cannot be told. */
    private def against(bounds: Array[Option[Bound]], attr: String,
                        v: Any): Option[(Int, Int)] = {
      val k = schema.fieldNames.indexOf(attr)
      if (k < 0 || k >= rank) None
      else bounds(k).flatMap { b =>
        if (integral(k)) v match {
          case x: Long => Some((java.lang.Long.compare(b.lo.toLong, x),
            java.lang.Long.compare(b.hi.toLong, x)))
          case _ => None
        } else v match {
          case x: Double => Some((SQLOrderingUtil.compareDoubles(b.lo, x),
            SQLOrderingUtil.compareDoubles(b.hi, x)))
          case _ => None
        }
      }
    }

    /** False only when no cell within `bounds` can pass `f`. */
    private def mayMatch(f: Filter, bounds: Array[Option[Bound]]): Boolean = {
      def at(a: String, v: Any)(ok: (Int, Int) => Boolean): Boolean =
        against(bounds, a, v).forall { case (lo, hi) => ok(lo, hi) }
      f match {
        case And(l, r) => mayMatch(l, bounds) && mayMatch(r, bounds)
        case EqualTo(a, v) => at(a, v)((lo, hi) => lo <= 0 && hi >= 0)
        case In(a, vs) => vs.exists(v => at(a, v)((lo, hi) => lo <= 0 && hi >= 0))
        case LessThan(a, v) => at(a, v)((lo, _) => lo < 0)
        case LessThanOrEqual(a, v) => at(a, v)((lo, _) => lo <= 0)
        case GreaterThan(a, v) => at(a, v)((_, hi) => hi > 0)
        case GreaterThanOrEqual(a, v) => at(a, v)((_, hi) => hi >= 0)
        case _ => true
      }
    }

    lazy val kept: Vector[T] = table.tasks.collect {
      case t if filters.forall(mayMatch(_, t.bounds)) => t.payload
    }

    /** (tasks planned, tasks in the full read). */
    def planned: (Int, Int) = (kept.size, table.tasks.size)

    def readSchema(): StructType = schema
    override def description(): String =
      s"${table.name()}: ${kept.size} of ${table.tasks.size} tasks"
    override def toBatch(): Batch = this

    def planInputPartitions(): Array[InputPartition] = {
      val n = kept.size.toLong
      val slices = math.max(1, math.min(kept.size, table.maxSlices))
      // ParallelCollectionRDD's cut: slice i holds [i*n/slices, (i+1)*n/slices)
      Array.tabulate[InputPartition](slices)(i =>
        new TaskSlice(kept.slice((i * n / slices).toInt,
          ((i + 1) * n / slices).toInt)))
    }

    def createReaderFactory(): PartitionReaderFactory =
      new CellReaderFactory(table.decode, integral)
  }

  private final class TaskSlice[T](val tasks: Vector[T]) extends InputPartition

  private final class CellReaderFactory[T](decode: T => Block,
                                           integral: Array[Boolean])
      extends PartitionReaderFactory {
    def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new CellReader(p.asInstanceOf[TaskSlice[T]].tasks.iterator.map(decode),
        integral)
  }

  /** The cells of `blocks` in order, one block decoded at a time, each
    * written into one reused row. */
  private final class CellReader(blocks: Iterator[Block],
                                 integral: Array[Boolean])
      extends PartitionReader[InternalRow] {
    private val rank = integral.length - 1
    private val row = new SpecificInternalRow(
      integral.map(i => if (i) LongType else DoubleType).toSeq)
    private var values: Array[Double] = _
    private var lv: Array[Array[Double]] = _
    private var from: Array[Long] = _
    private var c: Cursor = _

    def next(): Boolean = {
      while (c == null || !c.valid) {
        if (!blocks.hasNext) return false
        val b = blocks.next()
        values = b.values
        lv = b.labels.map(_.map(_.values).orNull)
        from = b.labels.map(_.fold(0L)(_.from))
        c = new Cursor(b.shape, b.origin, b.dims)
      }
      var k = 0
      while (k < rank) {
        val g = c.idx(k)
        val label = if (lv(k) == null) g.toDouble
                    else lv(k)((g - from(k)).toInt)
        if (integral(k)) row.setLong(k, label.toLong) else row.setDouble(k, label)
        k += 1
      }
      val v = values(c.cell)
      if (integral(rank)) row.setLong(rank, v.toLong) else row.setDouble(rank, v)
      c.advance()
      true
    }

    def get(): InternalRow = row
    def close(): Unit = ()
  }

  /** Rows per task when a contiguous `rows`-row variable of `rowBytes`
    * per row is banded: at most `bandBytes` per band, and at least
    * `min(rows, cores)` bands, so a file under the byte target still
    * spreads over the cores. */
  def bandRows(rows: Long, rowBytes: Long, bandBytes: Long, cores: Int): Int =
    math.max(1L, math.min(bandBytes / math.max(1L, rowBytes),
      rows / math.max(1, cores))).toInt

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
