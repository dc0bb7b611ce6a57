package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Spark-native analog of `xarray.Dataset` (ref `xarray/core/dataset.py:202`)
  * in the exploded long format of SURVEY.md §1.5: one DataFrame whose key
  * columns are dimension coordinates and whose other columns are data
  * variables, plus a [[DatasetMeta]] catalog.
  *
  * Design rules (SURVEY.md §7):
  *  - metadata ops (transpose / rename / set_coords) never touch `df`;
  *  - every data op is declarative DataFrame API so Catalyst pushes filters
  *    and prunes columns down to the parquet scan;
  *  - positional ops go through [[Positions]] (no single-partition windows).
  */
final class XDataset(val df: DataFrame, val meta: DatasetMeta,
                     val indexes: Map[String, XIndex] = Map.empty) {

  def spark: SparkSession = df.sparkSession
  def dataVars: Seq[String] = df.columns.filterNot(meta.keyCols.contains).toSeq

  private def withDf(d: DataFrame): XDataset = new XDataset(d, meta, indexes)

  /** set_xindex (ref `dataset.py:4954`): attach a custom [[XIndex]] to a
    * dim — applies the index's one-time layout, then `sel`/`selSlice` along
    * that dim dispatch through it. */
  def setXIndex(dim: String, index: XIndex): XDataset =
    new XDataset(index.build(df, dim), meta, indexes + (dim -> index))
  def setXIndex(dim: String, name: String): XDataset =
    setXIndex(dim, XIndexes.create(name))

  // ---- projection (ref `dataset.py:1394` __getitem__ / `:5842` drop_vars) --
  def selectVars(vars: String*): XDataset =
    withDf(df.select((meta.keyCols ++ vars).distinct.map(col): _*))
  def dropVars(vars: String*): XDataset = withDf(df.drop(vars: _*))

  // ---- label selection (ref `dataset.py:2997` sel) -----------------------
  /** Exact-label selection: `sel(dim, values)`. Large label sets should use
    * [[selJoin]] (broadcast semi-join) instead of an IN list. */
  def sel(dim: String, values: Seq[Any]): XDataset = indexes.get(dim) match {
    case Some(ix) => withDf(ix.sel(df, dim, values))
    case None     => withDf(df.filter(col(dim).isin(values: _*)))
  }

  /** Label slice — inclusive on BOTH ends, matching xarray
    * (`dataset.py:3018`; pandas label-slice semantics). */
  def selSlice(dim: String, lo: Any, hi: Any): XDataset = indexes.get(dim) match {
    case Some(ix) => withDf(ix.selSlice(df, dim, lo, hi))
    case None     => withDf(df.filter(col(dim).between(lit(lo), lit(hi))))
  }

  /** Semi-join selection for big label sets: broadcast the label table. */
  def selJoin(dim: String, labels: DataFrame): XDataset =
    withDf(df.join(broadcast(labels), df(dim) === labels.columns.head, "left_semi"))

  /** Vectorized (pointwise) indexing — xarray's
    * `sel(x=DataArray(xs, dims="pts"), y=DataArray(ys, dims="pts"))`
    * (ref `dataset.py:3004` + `indexing.py` vectorized mode): each row of
    * `points` names one (dim→label) tuple; the result is indexed by the
    * points frame's OTHER columns (the new dim). A broadcast inner join —
    * the 100 TB path, since points lists are small relative to data. */
  def selPoints(points: DataFrame, mapping: Map[String, String]): XDataset = {
    val cond = mapping.map { case (d, p) => df(d) === points(p) }.reduce(_ && _)
    withDf(df.join(broadcast(points), cond).drop(mapping.values.toSeq: _*))
  }

  /** Anti-selection (ref `drop_sel`, `dataset.py:6113`). */
  def dropSel(dim: String, values: Seq[Any]): XDataset =
    withDf(df.filter(!col(dim).isin(values: _*)))

  /** Positional anti-selection (ref `drop_isel`, `dataset.py:6192`):
    * drop the rows at the given positions along `dim`'s sort order —
    * the position anti-filter over the same ordinals [[isel]] uses. */
  def dropIsel(dim: String, positions: Seq[Long],
               extraOrder: Seq[String] = Nil): XDataset = {
    val pos = "__pos"
    val ordered = Positions.zipWithIndex(df, (dim +: extraOrder).map(col), pos)
    withDf(ordered.filter(!col(pos).isin(positions: _*)).drop(pos))
  }

  // ---- positional selection (ref `dataset.py:2801` isel) -----------------
  /** `isel(dim, from until step)` — positions along `dim`'s sort order.
    * `extraOrder` breaks ties deterministically. */
  def isel(dim: String, from: Long, until: Long, step: Long = 1L,
           extraOrder: Seq[String] = Nil): XDataset = {
    val pos = "__pos"
    val ordered = Positions.zipWithIndex(df, (dim +: extraOrder).map(col), pos)
    withDf(ordered
      .filter(col(pos) >= from && col(pos) < until &&
        ((col(pos) - from) % step === 0))
      .drop(pos))
  }

  /** head/tail/thin per dim (ref `dataset.py:3123/3213/3304`).
    * head uses orderBy+limit -> Catalyst's TakeOrderedAndProject (per-
    * partition top-n, then merge), not a full ordinal attachment. */
  def headDim(dim: String, n: Long, extraOrder: Seq[String] = Nil): XDataset =
    if (n <= Int.MaxValue)
      withDf(df.orderBy((dim +: extraOrder).map(col): _*).limit(n.toInt))
    else isel(dim, 0L, n, 1L, extraOrder)
  def thinDim(dim: String, k: Long, extraOrder: Seq[String] = Nil): XDataset =
    isel(dim, 0L, Long.MaxValue, k, extraOrder)
  def tailDim(dim: String, n: Long, extraOrder: Seq[String] = Nil): XDataset =
    if (n <= Int.MaxValue)
      withDf(df.orderBy((dim +: extraOrder).map(col(_).desc): _*).limit(n.toInt))
    else {
      val pos = "__pos"
      val ordered = Positions.zipWithIndex(df, (dim +: extraOrder).map(col), pos)
      val total = ordered.count()
      withDf(ordered.filter(col(pos) >= total - n).drop(pos))
    }

  // ---- masking (ref `common.py:1131` where; projection, not filter) ------
  /** xarray `where(cond)`: keep shape, masked cells become NULL. */
  def whereMask(cond: Column): XDataset = {
    val projected = df.columns.map { c =>
      if (meta.keyCols.contains(c)) col(c)
      else when(cond, col(c)).otherwise(lit(null)).as(c)
    }
    withDf(df.select(projected.toIndexedSeq: _*))
  }

  /** xarray `where(cond, drop=True)`: in long format just a filter. */
  def whereDrop(cond: Column): XDataset = withDf(df.filter(cond))

  def isin(c: String, values: Seq[Any]): XDataset =
    withDf(df.filter(col(c).isin(values: _*)))

  /** String-expression filter (ref `dataset.py:9777` query → Spark SQL). */
  def query(sqlExpr: String): XDataset = withDf(df.filter(expr(sqlExpr)))

  // ---- missing data (ref `dataset.py:6355` dropna / `:6489` fillna) ------
  def dropna(vars: Seq[String] = Nil, how: String = "any"): XDataset = {
    val vs = if (vars.nonEmpty) vars else dataVars
    val conds = vs.map(col(_).isNotNull)
    val keep = how match {
      case "any" => conds.reduce(_ && _)   // drop row if ANY var is null
      case "all" => conds.reduce(_ || _)   // drop row only if ALL null
    }
    withDf(df.filter(keep))
  }

  /** dropna(thresh=n): keep rows with at least `thresh` non-null vars
    * (ref `dataset.py:6355`). */
  def dropnaThresh(thresh: Int, vars: Seq[String] = Nil): XDataset = {
    val vs = if (vars.nonEmpty) vars else dataVars
    val nonNull = vs.map(v => when(col(v).isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    withDf(df.filter(nonNull >= thresh))
  }
  def fillna(value: Any, vars: Seq[String] = Nil): XDataset = {
    val vs = if (vars.nonEmpty) vars else dataVars
    withDf(vs.foldLeft(df)((d, v) => d.withColumn(v, coalesce(col(v), lit(value)))))
  }

  // ---- metadata-only ops (must stay O(1), SURVEY.md §7.4.8) --------------
  def transpose(order: String*): XDataset = new XDataset(df, meta.transpose(order: _*))
  def rename(mapping: Map[String, String]): XDataset = new XDataset(
    mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) },
    meta.rename(mapping))
  def assign(name: String, c: Column): XDataset = withDf(df.withColumn(name, c))

  /** set_coords / reset_coords: promote/demote coordinate status — pure
    * meta flag flips (ref `dataset.py:1864/1921`). */
  def setCoords(names: String*): XDataset =
    new XDataset(df, meta.copy(coords = meta.coords ++ names))
  def resetCoords(names: String*): XDataset =
    new XDataset(df, meta.copy(coords = meta.coords -- names))

  /** Attach per-variable attrs (the assignment half of the attrs model;
    * ref `dataarray.py` .attrs). Meta-only. */
  def withVarAttrs(variable: String, attrs: Map[String, String]): XDataset =
    new XDataset(df, meta.copy(varAttrs = meta.varAttrs +
      (variable -> (meta.varAttrs.getOrElse(variable, Map.empty) ++ attrs))))

  /** drop_attrs (ref `dataset.py:9004`): clear dataset attrs; with
    * `deep` (the default, like the reference) also every variable's
    * attrs. Meta-only — the plan is untouched. */
  def dropAttrs(deep: Boolean = true): XDataset =
    new XDataset(df, meta.copy(attrs = Map.empty,
      varAttrs = if (deep) Map.empty else meta.varAttrs), indexes)

  /** CF coder parameters treated as ENCODING rather than attrs — the keys
    * `decode_cf_variable` consumes (ref `conventions.py:109`). In the
    * reference these live in `.encoding` after decode; our model keeps
    * them in varAttrs, so encoding ops filter on this set. */
  private val encodingKeys = Set("_FillValue", "missing_value",
    "scale_factor", "add_offset", "dtype", "compressor", "chunks",
    "chunksizes", "zlib", "complevel", "shuffle", "fletcher32")

  /** drop_encoding (ref `dataset.py:9022`): strip the CF/storage coder
    * parameters from every variable, keeping descriptive attrs. A fresh
    * to_netcdf/to_zarr then writes plain unencoded values. Meta-only. */
  def dropEncoding(): XDataset =
    new XDataset(df, meta.copy(varAttrs = meta.varAttrs
      .map { case (v, a) => v -> a.filterNot(kv => encodingKeys(kv._1)) }
      .filter(_._2.nonEmpty)), indexes)

  /** drop_indexes (ref `dataset.py:6457`): detach the index objects from
    * the named dims; the coordinate COLUMNS stay (exactly the reference's
    * semantics — data is untouched, only lookup structures go). */
  def dropIndexes(dims: Seq[String]): XDataset = {
    val missing = dims.filterNot(indexes.contains)
    require(missing.isEmpty, s"no index over dims: ${missing.mkString(", ")}")
    new XDataset(df, meta, indexes -- dims)
  }

  /** info (ref `dataset.py:1529`): a netCDF-CDL-flavored text summary of
    * dims, variables, and attrs — driver-side metadata only, never
    * touches data. */
  def info: String = {
    val sb = new StringBuilder("xarray.Dataset {\ndimensions:\n")
    meta.dims.foreach(d => sb.append(s"\t$d ;\n"))
    sb.append("\nvariables:\n")
    df.schema.fields.foreach { f =>
      sb.append(s"\t${f.dataType.simpleString} ${f.name} ;\n")
      meta.varAttrs.getOrElse(f.name, Map.empty).toSeq.sortBy(_._1)
        .foreach { case (k, v) => sb.append(s"\t\t${f.name}:$k = $v ;\n") }
    }
    sb.append("\n// global attributes:\n")
    meta.attrs.toSeq.sortBy(_._1)
      .foreach { case (k, v) => sb.append(s"\t:$k = $v ;\n") }
    sb.append("}").toString
  }

  /** filter_by_attrs (ref `dataset.py:9810`): keep the data variables whose
    * attrs satisfy the predicate; key columns always survive. A projection
    * decision made on the driver from metadata — the scan then prunes the
    * dropped columns for free. */
  def filterByAttrs(pred: Map[String, String] => Boolean): XDataset = {
    val keep = dataVars.filter(v => pred(meta.varAttrs.getOrElse(v, Map.empty)))
    selectVars(keep: _*)
  }

  /** swap_dims: replace a dimension coordinate by another coord column
    * (ref `dataset.py:4428`) — metadata only; the old dim becomes a
    * non-dim coordinate. */
  def swapDims(from: String, to: String): XDataset =
    new XDataset(df, meta.copy(
      dims = meta.dims.map(d => if (d == from) to else d),
      coords = meta.coords - to + from))

  /** squeeze: drop a size-1 dim (ref `variable.py:1146`) — drops the
    * constant key column; caller asserts size 1. */
  def squeeze(dim: String): XDataset =
    new XDataset(df.drop(dim), meta.copy(dims = meta.dims.filterNot(_ == dim)))

  /** expand_dims with labels (ref `dataset.py:4535`): cross join against the
    * (small, broadcast) new-dimension label table. */
  def expandDims(dim: String, labels: Seq[Any]): XDataset = {
    val lt = spark.createDataFrame(
      java.util.Arrays.asList(labels.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(dim,
          org.apache.spark.sql.catalyst.expressions.Literal(labels.head).dataType))))
    new XDataset(df.crossJoin(broadcast(lt)), meta.copy(dims = dim +: meta.dims))
  }

  // ---- reductions over a dim subset (ref `_aggregations.py`; §2.4) -------
  /** Partial reduction: aggregate OVER `over` dims, grouping by the rest.
    * Spark's hash aggregate gives partial (map-side) + final combine for
    * free — the analog of the reference's flox map-reduce strategy
    * (`core/groupby.py:1064`). */
  def reduce(over: Seq[String], aggs: Seq[Column]): DataFrame = {
    val remaining = meta.keyCols.filterNot(over.contains)
    if (remaining.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(remaining.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  def sortBy(keys: String*): DataFrame = df.orderBy(keys.map(col): _*)

  /** map: apply `f` to every DATA variable, keys untouched (ref
    * `dataset.py:6833` Dataset.map). One projection — stays in the scan's
    * codegen stage. */
  def mapVars(f: Column => Column): XDataset =
    withDf(df.select(df.columns.map { c =>
      if (meta.keyCols.contains(c)) col(c) else f(col(c)).as(c)
    }.toIndexedSeq: _*))

  /** pipe: function application in method-chain position (ref
    * `common.py:718`). */
  def pipe[T](f: XDataset => T): T = f(this)

  /** equals (ref `dataset.py:1559`): same dims, same columns, same rows —
    * attrs ignored. Distributed symmetric difference; never collects. */
  def equalsData(other: XDataset): Boolean =
    meta.dims == other.meta.dims &&
      df.columns.sorted.toSeq == other.df.columns.sorted.toSeq && {
        val cols = df.columns.sorted.map(col).toIndexedSeq
        val a = df.select(cols: _*)
        val b = other.df.select(cols: _*)
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      }

  /** identical (ref `dataset.py:1588`): equals AND same attrs. */
  def identical(other: XDataset): Boolean =
    meta.attrs == other.meta.attrs &&
      meta.varAttrs == other.meta.varAttrs && equalsData(other)

  /** loc — label-dict selection sugar over [[sel]] (ref `dataset.py:632`
    * `_LocIndexer`): `ds.loc(Map("x" -> 3, "y" -> "a"))`. Each entry is an
    * exact-label filter; all are ANDed in one scan-stage predicate. */
  def loc(labels: Map[String, Any]): XDataset =
    labels.foldLeft(this) { case (d, (dim, v)) => d.sel(dim, Seq(v)) }

  /** load / compute (ref `dataset.py:1381` Dataset.load): force eager
    * materialization. The Spark analog of pulling a lazy store read into
    * memory: persist + one count action. Registered with [[graft.util
    * .QueryCache]] so an enclosing scope releases it. */
  def load(): XDataset = {
    graft.util.QueryCache.persist(df)
    df.count()
    this
  }

  /** to_dataframe (ref `dataset.py:7353`): the tidy long-format frame IS
    * this representation, so the export is a deterministic ordering —
    * index (dim) columns first, rows sorted by them, exactly pandas'
    * MultiIndex order. */
  def toDataFrame(): DataFrame = {
    val ordered = (meta.keyCols ++ dataVars).map(col)
    df.select(ordered: _*).orderBy(meta.dims.map(col): _*)
  }

  /** chunk (ref `dataset.py:2565` Dataset.chunk): re-chunk the data into
    * `n` partitions, hash-distributed on the dim keys so one dim label
    * never straddles more partitions than it must. Data-invariant. */
  def chunk(n: Int): XDataset =
    withDf(df.repartition(n, meta.dims.map(col): _*))

  /** map_blocks (ref `core/parallel.py:228`): apply `f` to each chunk
    * (partition) of rows, schema declared up front like the reference's
    * `template`. The escape hatch for per-block imperative logic — the
    * result is a plain DataFrame because `f` may change the schema. */
  def mapBlocks(schema: org.apache.spark.sql.types.StructType)(
      f: Iterator[org.apache.spark.sql.Row] =>
        Iterator[org.apache.spark.sql.Row]): DataFrame =
    df.mapPartitions(f)(org.apache.spark.sql.Encoders.row(schema))
}

object XDataset {
  /** Open a parquet table as a 1-D (or N-D) dataset over the given dims. */
  def open(spark: SparkSession, path: String, dims: Seq[String],
           coords: Set[String] = Set.empty): XDataset =
    new XDataset(spark.read.parquet(path), DatasetMeta(dims, coords))

  /** open_dataarray (ref `backends/api.py:637`): open a store that must
    * hold exactly one data variable of interest — [[open]] + a projection
    * to the dims and that variable, so the scan's ReadSchema shrinks to
    * the dataarray's columns. */
  def openDataArray(spark: SparkSession, path: String, dims: Seq[String],
                    varName: String): XDataset =
    open(spark, path, dims).selectVars(varName)

  /** from_dataframe (ref `dataset.py:7460`): a tidy frame with its index
    * columns named — identity modulo metadata, the long format IS the
    * dataset. */
  def fromDataFrame(df: DataFrame, dims: Seq[String],
                    coords: Set[String] = Set.empty): XDataset =
    apply(df, dims, coords)

  def apply(df: DataFrame, dims: Seq[String], coords: Set[String] = Set.empty): XDataset =
    new XDataset(df, DatasetMeta(dims, coords))

  /** unify_chunks (ref `dataset.py:8856`): bring two datasets onto the
    * SAME chunk scheme — `n` partitions hash-distributed on their shared
    * dims — so a following binary op or join is co-partitioned (one
    * exchange each, same layout, no re-shuffle between them). */
  def unifyChunks(a: XDataset, b: XDataset, n: Int): (XDataset, XDataset) = {
    val shared = a.meta.dims.filter(b.meta.dims.contains)
    require(shared.nonEmpty, "unifyChunks needs a shared dim")
    (new XDataset(a.df.repartition(n, shared.map(col): _*), a.meta, a.indexes),
      new XDataset(b.df.repartition(n, shared.map(col): _*), b.meta, b.indexes))
  }

  /** Exact cross-engine-stable sum of a double column: accumulate in decimal
    * (associative, order-independent) and cast back. At 100 TB a plain
    * double `sum` is non-deterministic across shuffle orders; decimal
    * accumulation is exact AND reproducible. */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** Order-independent mean built from the exact sum. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    (sum(c.cast(DecimalType(30, scale))).cast("double") / count(c))
}
