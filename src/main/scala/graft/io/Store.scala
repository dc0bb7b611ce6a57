package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Chunked-store sink/source (ref `to_zarr` `dataset.py:2204`, store
  * `backends/zarr.py:655`): a zarr chunk grid maps to a parquet layout
  * partitioned by (coarse) dimension keys — each partition directory is a
  * "chunk", readable independently with partition pruning.
  *
  * Region writes (`to_zarr(region=...)`) map to dynamic partition
  * overwrite: only the partitions present in the incoming frame are
  * replaced, the rest of the store is untouched — same contract as zarr
  * region writes.
  */
object Store {

  /** Write a dataset as a partitioned ("chunked") store. */
  def write(df: DataFrame, path: String, chunkCols: Seq[String],
            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(chunkCols: _*).parquet(path)

  /** Region write: replace only the chunks covered by `df`
    * (dynamic partition overwrite). */
  def writeRegion(df: DataFrame, path: String, chunkCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(chunkCols: _*).parquet(path)

  /** Open the store; chunk-key predicates become partition pruning. */
  def open(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // --- dataset-level roundtrip with metadata sidecar (the zarr
  // .zattrs/.zmetadata analog: parquet carries no dim order / coord flags /
  // attrs, so they persist as one tiny JSON next to the data) ---

  private val MetaFile = "_graft_meta.json"

  /** Write an XDataset: data as a chunked store + meta as a JSON sidecar. */
  def writeDataset(ds: graft.model.XDataset, path: String,
                   chunkCols: Seq[String] = Nil): Unit = {
    write(ds.df, path, chunkCols)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = ds.meta
    val json = JObject(
      "dims" -> JArray(m.dims.map(JString(_)).toList),
      "coords" -> JArray(m.coords.toList.sorted.map(JString(_))),
      "attrs" -> JObject(m.attrs.toList.sortBy(_._1)
        .map { case (k, v) => k -> JString(v) }),
      "varAttrs" -> JObject(m.varAttrs.toList.sortBy(_._1).map { case (v, as) =>
        v -> JObject(as.toList.sortBy(_._1).map { case (k, x) => k -> JString(x) })
      }))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(ds.df.sparkSession.sparkContext.hadoopConfiguration)
    StoreFiles.write(fs, new org.apache.hadoop.fs.Path(path, MetaFile),
      JsonMethods.compact(JsonMethods.render(json)).getBytes("UTF-8"))
  }

  /** Open an XDataset written by [[writeDataset]], meta restored. */
  def openDataset(spark: SparkSession, path: String): graft.model.XDataset = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = JsonMethods.parse(new String(
      StoreFiles.read(fs, new org.apache.hadoop.fs.Path(path, MetaFile)), "UTF-8"))
    def strs(v: JValue): Seq[String] =
      v.asInstanceOf[JArray].arr.collect { case JString(s) => s }
    def strMap(v: JValue): Map[String, String] = v match {
      case JObject(fields) => fields.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty
    }
    val varAttrs = (root \ "varAttrs") match {
      case JObject(fields) => fields.map { case (k, v) => k -> strMap(v) }.toMap
      case _ => Map.empty[String, Map[String, String]]
    }
    new graft.model.XDataset(open(spark, path),
      graft.model.DatasetMeta(strs(root \ "dims"),
        strs(root \ "coords").toSet, strMap(root \ "attrs"), varAttrs))
  }
}
