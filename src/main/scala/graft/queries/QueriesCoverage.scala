package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, LongType,
  StructField, StructType}
import graft.model.{MultiDataset, XDataset}
import graft.model.XDataset.exactSum
import graft.GraftSession.scratch
import graft.io.{Bucketing, Tables}

/** Driver-checked queries for operators that previously had only unit
  * coverage (SURVEY.md §2 "unit"-status rows): meta verbs (drop_vars,
  * squeeze, rename, transpose, filter_by_attrs, drop_isel, map/pipe,
  * equals/identical, set_xindex), dataset-level reduce / groupby-coord,
  * the skew-safe salted aggregate, the bloom dedup prefilter, bucketed
  * co-located joins, save_mfdataset, and the dict round-trip. Each entry
  * runs the op through the public library API and lands on a DuckDB-
  * expressible result so the driver's oracle hash-checks it. */
object QueriesCoverage extends QueryFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2 drop_vars (ref `dataset.py:6053`): metadata projection; the
    // parquet scan must prune the dropped column (ReadSchema shrinks)
    "q171_drop_vars" -> ((s, dir) => {
      XDataset(Tables.nation(s, dir), dims = Seq("n_nationkey"))
        .dropVars("n_regionkey")
        .df.select("n_nationkey", "n_name")
    }),

    // §2.2/§2.8 squeeze (ref `variable.py:1146`): a dim pinned to one
    // label by sel collapses out of the key set and its column drops
    "q172_squeeze" -> ((s, dir) => {
      XDataset(Tables.supplier(s, dir), dims = Seq("s_nationkey", "s_suppkey"))
        .sel("s_nationkey", Seq(7))
        .squeeze("s_nationkey")
        .df.select("s_suppkey", "s_name", "s_acctbal")
    }),

    // §2.2 filter_by_attrs (ref `dataset.py:9810`): select data vars by
    // their attrs (CF `standard_name` style); projection-only plan
    "q173_filter_by_attrs" -> ((s, dir) => {
      XDataset(Tables.supplier(s, dir), dims = Seq("s_suppkey"))
        .withVarAttrs("s_acctbal", Map("units" -> "usd", "kind" -> "measure"))
        .withVarAttrs("s_name", Map("kind" -> "label"))
        .withVarAttrs("s_nationkey", Map("kind" -> "key"))
        .filterByAttrs(a => a.get("kind").contains("measure"))
        .df.select("s_suppkey", "s_acctbal")
    }),

    // §2.8 rename vars + dims (ref `dataset.py:4108` rename): pure
    // projection renames, meta follows
    "q174_rename" -> ((s, dir) => {
      XDataset(Tables.supplier(s, dir), dims = Seq("s_suppkey"))
        .rename(Map("s_acctbal" -> "balance", "s_name" -> "supplier_name"))
        .df.select("s_suppkey", "supplier_name", "balance")
    }),

    // §2.4 skew-safe salted aggregate (SURVEY §2.4 extension): two-stage
    // sum/count/min/max — salt breaks a hot key across partitions, the
    // final combine is algebraic so results are exactly the plain agg's
    "q175_salted_agg" -> ((s, dir) => {
      graft.agg.Skew.saltedAgg(Tables.lineitem(s, dir),
        key = Seq("l_returnflag"), value = "l_quantity", salt = 16)
    }),

    // §2.4 dataset-level reduce (ref `dataset.py` ds.sum(dim=...)): every
    // variable carrying the dim aggregates it away in one partial+final
    // hash agg; decimal accumulation keeps both engines bit-identical
    "q176_dataset_reduce" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val md = MultiDataset(
        Seq("l_orderkey", "l_linenumber") -> li)
      val reduced = md.reduce("l_linenumber", c => exactSum(c))
      reduced.groups(Seq("l_orderkey")).df
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    }),

    // §2.4 groupby over a non-dim coordinate variable (ref `ds.groupby(
    // "label").sum()`): the coord table joins broadcast, then one hash agg
    "q177_groupby_coord" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val md = MultiDataset(
        Seq("c_nationkey", "c_custkey") ->
          cust.select("c_nationkey", "c_custkey", "c_acctbal"),
        Seq("c_custkey") -> cust.select("c_custkey", "c_mktsegment"))
      md.groupByCoord("c_mktsegment", c => exactSum(c))
        .variable("c_acctbal").df
        .select("c_mktsegment", "c_nationkey", "c_acctbal")
    }),

    // LLM: bloom-prefiltered cross-corpus dedup (new-crawl vs historical):
    // the bloom pass bounds the candidate set, the exact key join on the
    // survivors removes false positives — output is exactly the true
    // cross-corpus duplicate set
    "q178_bloom_prefilter" -> ((s, dir) => {
      import graft.llm.Dedup
      val docs = Tables.documents(s, dir)
      val reference = docs.filter(col("doc_id") % 3 === 0)
      // "new crawl" = the other docs plus a re-crawled slice of the
      // reference corpus (fresh ids) — the true-duplicate set the
      // prefilter+verify pipeline must recover exactly
      val candidates = docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text", "source")
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("recrawl").as("source")))
      val maybe = Dedup.bloomPrefilter(reference, candidates, "text",
        expectedItems = 100000L)
      val refKeys = reference
        .select(Dedup.contentKey(col("text")).as("__k")).distinct()
      maybe.withColumn("__k", Dedup.contentKey(col("text")))
        .join(refKeys, "__k")
        .select("doc_id", "source")
    }),

    // §2.1 to_dict / from_dict round-trip (ref `dataset.py:7425/7516`):
    // the dict form re-materializes with the same schema and rows
    "q179_dict_roundtrip" -> ((s, dir) => {
      import graft.io.DictIO
      val ds = XDataset(Tables.region(s, dir), dims = Seq("r_regionkey"))
      DictIO.fromDict(s, DictIO.toDict(ds))
        .df.select("r_regionkey", "r_name")
    }),

    // §2.1 save_mfdataset + open_mfdataset (ref `backends/api.py:1582`):
    // one store per year-slice, read back together and combined
    "q180_save_mfdataset" -> ((s, dir) => {
      import graft.io.Store
      val base = scratch(s, "mf", dir)
      val orders = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
      val parts = Seq(1995, 1996)
      parts.foreach { y =>
        Store.writeDataset(
          XDataset(orders.filter(col("o_year") === y), Seq("o_orderkey")),
          s"$base/y$y")
      }
      parts.map(y => Store.openDataset(s, s"$base/y$y").df)
        .reduce(_ unionByName _)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
    }),

    // §2.7 equals / identical (ref `dataset.py:1559/1588`): distributed
    // symmetric-difference comparison; a perturbed copy must compare false
    "q181_equals_identical" -> ((s, dir) => {
      import s.implicits._
      val a = XDataset(Tables.nation(s, dir), dims = Seq("n_nationkey"))
      val same = XDataset(Tables.nation(s, dir), dims = Seq("n_nationkey"))
      val perturbed = same.assign("n_name",
        when(col("n_nationkey") === 0, lit("MUTATED")).otherwise(col("n_name")))
      Seq(
        ("same_equals", a.equalsData(same)),
        ("same_identical", a.identical(same)),
        ("perturbed_equals", a.equalsData(perturbed)))
        .toDF("chk", "result")
    }),

    // §2.4 approximate distinct (extension; HLL++): the sketch's rsd
    // guarantee is the cross-engine contract — assert it against the
    // exact count rather than comparing sketch internals
    "q182_approx_distinct" -> ((s, dir) => {
      Tables.orders(s, dir).agg(
        countDistinct(col("o_custkey")).as("exact_cnt"),
        (abs(approx_count_distinct(col("o_custkey"), 0.02) -
          countDistinct(col("o_custkey"))).cast("double") /
          countDistinct(col("o_custkey")) <= 0.05).as("within_tol"))
    }),

    // §2.8 transpose (ref `dataset.py:5570`): dim reorder is O(1) driver
    // metadata — emit the resulting dim order as the checked result
    "q183_transpose_dims" -> ((s, dir) => {
      import s.implicits._
      val ds = XDataset(Tables.lineitem(s, dir),
        dims = Seq("l_orderkey", "l_linenumber"))
        .transpose("l_linenumber", "l_orderkey")
      ds.meta.dims.zipWithIndex
        .map { case (d, i) => (i.toLong, d) }.toDF("pos", "dim")
    }),

    // §2.8 map + pipe (ref `dataset.py:6833` map, `common.py:718` pipe):
    // one projection over every data var, applied in chain position
    "q184_map_pipe" -> ((s, dir) => {
      XDataset(Tables.supplier(s, dir), dims = Seq("s_suppkey"))
        .selectVars("s_acctbal")
        .mapVars(c => round(c * 2, 2))
        .pipe(ds => ds.df.select("s_suppkey", "s_acctbal"))
    }),

    // §2.2 set_xindex + custom index sel (ref `dataset.py:4978` set_xindex):
    // the range index re-lays rows out range-partitioned+sorted so parquet
    // row-group stats line up with the dim; sel goes through the plug-in
    "q185_xindex_range_sel" -> ((s, dir) => {
      XDataset(Tables.orders(s, dir), dims = Seq("o_orderkey"))
        .setXIndex("o_orderdate", "range")
        .sel("o_orderdate", Seq(java.sql.Timestamp.valueOf("1995-07-01 00:00:00"),
          java.sql.Timestamp.valueOf("1995-07-02 00:00:00")))
        .df.select("o_orderkey", "o_custkey", "o_orderdate")
    }),

    // xarray.indexes.RangeIndex analog (ref `indexes/range_index.py:144`):
    // event_id doubles as the position axis of a lazy evenly-spaced float
    // coordinate x = 2000 + 0.5*pos; a LABEL slice compiles to a long
    // between-predicate on the stored column (scan pushdown), and the
    // float labels never exist in storage
    "q241_lazy_range_index" -> ((s, dir) => {
      import graft.model.{DatasetMeta, XDataset, XIndexes}
      val idx = new XIndexes.AffineRangeIndex(2000.0, 0.5)
      val ds = new XDataset(
        Tables.events(s, dir).select(col("event_id"), col("value")),
        DatasetMeta(Seq("event_id"))).setXIndex("event_id", idx)
      ds.selSlice("event_id", 2100.0, 2200.0)
        .df.select(col("event_id"), idx.label(col("event_id")).as("x"),
          col("value"))
    }),

    // §2.2 drop_isel (ref `dataset.py:6192`): anti-select positions along
    // the dim's sort order
    "q186_drop_isel" -> ((s, dir) => {
      XDataset(Tables.nation(s, dir), dims = Seq("n_nationkey"))
        .dropIsel("n_nationkey", Seq(0L, 5L, 10L))
        .df.select("n_nationkey", "n_name")
    }),

    // §2.1 netCDF-4 with DENSE (fractal-heap) group + attribute storage,
    // shuffle+deflate chunks — the storage libhdf5 switches to once a
    // group/object outgrows compact messages (ref `backends/netCDF4_.py`;
    // HDF5 spec "Fractal Heap"/"Version 2 B-trees"/filter id 2)
    "q169_netcdf4_dense" -> ((s, dir) => {
      import graft.io.HDF5
      val base = scratch(s, "nc4d", dir)
      new java.io.File(base).mkdirs()
      HDF5.writeNc4(base + "/part0.nc4",
        Seq("time" -> Array.tabulate(6)(_.toDouble),
          "lat" -> Array.tabulate(5)(_ * 0.5)),
        Seq(HDF5.WVar("temp", Seq(0, 1),
          (for (t <- 0 until 6; l <- 0 until 5)
            yield t * 100.0 + l * 1.5).toArray,
          // full filter pipeline: fletcher32 (verified on read) ->
          // shuffle -> deflate, inside a dense-group file
          chunk = Some(Seq(4, 2)), shuffle = true, fletcher = true)),
        dense = true)
      HDF5.convert(s, base, "temp", base + "_parquet")
      graft.io.Store.open(s, base + "_parquet")
        .select("time", "lat", "temp")
    }),

    // §2.1 compound (struct) datatype: per-member column extraction from
    // interleaved element storage (HDF5 spec Datatype Message class 6)
    "q169b_hdf5_compound" -> ((s, dir) => {
      import s.implicits._
      import graft.io.HDF5
      val base = scratch(s, "h5comp", dir)
      new java.io.File(base).mkdirs()
      val path = base + "/obs.h5"
      HDF5.writeCompoundFixture(path, "obs",
        Seq("t" -> Array.tabulate(12)(_ * 10.0),
          "v" -> Array.tabulate(12)(i => i * 1.5 - 2.0)))
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path))
      val f = HDF5.parseFile(bytes)
      val t = HDF5.readVarMember(bytes, f, "obs", "t")
      val v = HDF5.readVarMember(bytes, f, "obs", "v")
      t.zip(v).toSeq.toDF("t", "v")
    }),

    // Multimodal REAL image decode (JDK javax.imageio codec, executor-side
    // mapPartitions): constant-color PNGs with id-derived dimensions round-
    // trip through encode -> distributed decode -> per-channel means
    "q190_image_decode" -> ((s, dir) => {
      import graft.llm.Multimodal
      val rows = (0L until 60L).map { i =>
        val w = 8 + (i % 16).toInt; val h = 6 + (i % 12).toInt
        val (r, g, b) = ((i % 256).toInt, (i * 3 % 256).toInt,
          (i * 7 % 256).toInt)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (r << 16) | (g << 8) | b
        (0 until h).foreach(y => (0 until w).foreach(x =>
          img.setRGB(x, y, rgb)))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(i, bos.toByteArray)
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("media", BinaryType, nullable = false))))
      Multimodal.imageFeatures(media, "doc_id", "media")
    }),

    // Multimodal REAL multi-frame decode (the video stand-in): animated
    // GIFs written frame-by-frame with explicit index color models
    // (palette-exact solid colors), decoded by enumerating every frame —
    // one row per (doc, frame) with closed-form channel means
    "q221_gif_frames" -> ((s, dir) => {
      import graft.llm.Multimodal
      val rows = (0L until 40L).map { i =>
        val w = 10 + (i % 6).toInt; val h = 8 + (i % 4).toInt
        val frames = (0 until 3).map { f =>
          val r = ((i * 5 + f * 40) % 256).toInt
          val g = ((i * 11 + f * 30) % 256).toInt
          val b = ((i * 17 + f * 20) % 256).toInt
          val cm = new java.awt.image.IndexColorModel(8, 2,
            Array(r.toByte, 0.toByte), Array(g.toByte, 0.toByte),
            Array(b.toByte, 0.toByte))
          // a fresh TYPE_BYTE_INDEXED raster is all index 0 = the color
          new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        }
        Row(i, Multimodal.makeAnimatedGif(frames))
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("media", BinaryType, nullable = false))))
      Multimodal.gifFrames(media, "doc_id", "media")
    }),

    // Multimodal REAL audio decode (RIFF/WAVE PCM16 parse): id-derived
    // sample rates/lengths, constant amplitude -> rms = v/32768 exactly
    "q191_wav_decode" -> ((s, dir) => {
      import graft.llm.Multimodal
      val rows = (0L until 50L).map { i =>
        val rate = 8000 + 100 * (i % 10).toInt
        val n = 500 + 10 * (i % 20).toInt
        val v = ((i % 100) * 300).toShort
        val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes); bb.putInt(36 + n * 2)
        bb.put("WAVE".getBytes)
        bb.put("fmt ".getBytes); bb.putInt(16)
        bb.putShort(1); bb.putShort(1) // PCM, mono
        bb.putInt(rate); bb.putInt(rate * 2)
        bb.putShort(2); bb.putShort(16) // block align, bits
        bb.put("data".getBytes); bb.putInt(n * 2)
        (0 until n).foreach(_ => bb.putShort(v))
        Row(i, bb.array())
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("media", BinaryType, nullable = false))))
      Multimodal.decodeWav(media, "doc_id", "media")
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"), round(col("rms"), 6).as("rms"))
    }),

    // per-frame audio features on REAL decoded PCM16 (square waves with
    // id-derived amplitude A and half-period P): mean-square energy
    // (exact integer — Σ s² div n = A²) and zero-crossing count, whose
    // closed form floor((f·512+511)/P) − floor((f·512)/P) the oracle
    // replays — the VAD/segmentation stage of an audio pipeline
    "q349_audio_features" -> ((s, dir) => {
      import graft.llm.Multimodal
      val rows = (0L until 50L).map { i =>
        val amp = ((i % 50) + 1).toInt * 100
        val half = 8 + (i % 8).toInt
        val n = 2048
        val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes); bb.putInt(36 + n * 2)
        bb.put("WAVE".getBytes)
        bb.put("fmt ".getBytes); bb.putInt(16)
        bb.putShort(1); bb.putShort(1)
        bb.putInt(16000); bb.putInt(32000)
        bb.putShort(2); bb.putShort(16)
        bb.put("data".getBytes); bb.putInt(n * 2)
        (0 until n).foreach { j =>
          bb.putShort(if ((j / half) % 2 == 0) amp.toShort
          else (-amp).toShort)
        }
        Row(i, bb.array())
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("media", BinaryType, nullable = false))))
      Multimodal.wavFrameFeatures(media, "doc_id", "media",
        frameLen = 512)
    }),

    // audio spectral centroid (round 15): a REAL rfft over the q349
    // square-wave fixtures — e8-integerized trig table, LONG DFT
    // accumulators, one sqrt per bin on a 4-dp e4 grid, centroid in
    // bin units at 6 dp; the oracle replays the identical table and
    // grids cell by cell
    "q385_spectral_centroid" -> ((s, dir) => {
      import graft.llm.Multimodal
      val rows = (0L until 50L).map { i =>
        val amp = ((i % 50) + 1).toInt * 100
        val half = 8 + (i % 8).toInt
        val n = 2048
        val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes); bb.putInt(36 + n * 2)
        bb.put("WAVE".getBytes)
        bb.put("fmt ".getBytes); bb.putInt(16)
        bb.putShort(1); bb.putShort(1)
        bb.putInt(16000); bb.putInt(32000)
        bb.putShort(2); bb.putShort(16)
        bb.put("data".getBytes); bb.putInt(n * 2)
        (0 until n).foreach { j =>
          bb.putShort(if ((j / half) % 2 == 0) amp.toShort
          else (-amp).toShort)
        }
        Row(i, bb.array())
      }
      val media = s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("media", BinaryType, nullable = false))))
      Multimodal.spectralCentroid(media, "doc_id", "media",
        frameLen = 16, maxFrames = 4)
    }),

    // §2.1 backend plugin registry (ref `backends/api.py` engine dispatch
    // + `backends/plugins.py` entrypoints): open the classic-netCDF
    // fixture through engine="netcdf", and a RUNTIME-REGISTERED custom
    // engine that wraps the parquet reader — both through openDataset
    "q192_backend_dispatch" -> ((s, dir) => {
      import graft.io.{Backends, NetCDF}
      val base = scratch(s, "beng", dir)
      new java.io.File(base).mkdirs()
      NetCDF.write(base + "/part0.nc",
        Seq(NetCDF.Dim("time", 6), NetCDF.Dim("lat", 5)), Seq(
          NetCDF.Var("time", Seq(0), NetCDF.NC_INT,
            Array.tabulate(6)(_.toDouble)),
          NetCDF.Var("lat", Seq(1), NetCDF.NC_INT,
            Array.tabulate(5)(_.toDouble)),
          NetCDF.Var("temp", Seq(0, 1), NetCDF.NC_DOUBLE,
            (for (t <- 0 until 6; l <- 0 until 5)
              yield t * 100.0 + l * 1.5).toArray)))
      Backends.register("nation_table", new Backends.Backend {
        def read(sp: SparkSession, path: String,
                 options: Map[String, String]): DataFrame =
          Tables.nation(sp, path).select("n_nationkey", "n_name")
      })
      val nc = Backends.openDataset(s, base, "netcdf",
        Map("var" -> "temp"))
        .agg(count(lit(1)).as("nc_rows"),
          exactSum(col("temp")).as("nc_sum"))
      val custom = Backends.openDataset(s, dir, "nation_table")
        .agg(count(lit(1)).as("nation_rows"))
      nc.crossJoin(custom)
    }),

    // §2.8 meta verbs set_coords / reset_coords / swap_dims / set_index
    // (ref `dataset.py:1864/1921/4428`): O(1) driver metadata flips,
    // checked by emitting the resulting (dims, coords, data_vars) census
    "q193_meta_verbs" -> ((s, dir) => {
      import s.implicits._
      val ds = XDataset(Tables.supplier(s, dir), dims = Seq("s_suppkey"))
        .setCoords("s_nationkey")          // promote to coordinate
        .swapDims("s_suppkey", "s_name")   // s_name becomes the dim
        .resetCoords("s_acctbal")          // no-op demote of a data var
      val census =
        ds.meta.dims.map(d => ("dim", d)) ++
          ds.meta.coords.toSeq.sorted.map(c => ("coord", c)) ++
          ds.dataVars.sorted.map(v => ("data_var", v))
      census.toDF("kind", "name")
    }),

    // §2.5 ranking-window extension (SURVEY lists these as absent in the
    // reference and free on Spark): dense_rank / percent_rank / ntile /
    // cume_dist per group — partitioned windows, never global
    "q194_ranking_windows" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, dir).select(
        col("s_suppkey"), col("s_nationkey"),
        dense_rank().over(w).as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"))
    }),

    // §2.1 to_netcdf WRITE path on real table data (ref
    // `dataset.py:2294` to_netcdf): aggregate lineitem onto a dense
    // (month, linenumber) grid, export the XDataset as a classic .nc via
    // writeDataset, read the FILE back through the independent header
    // parser, and hash-compare against the oracle's own aggregation —
    // absent grid cells come back NaN and are filtered on read
    "q195_to_netcdf" -> ((s, dir) => {
      import graft.io.NetCDF
      val base = scratch(s, "nc_export", dir)
      new java.io.File(base).mkdirs()
      val grid = Tables.lineitem(s, dir)
        .groupBy(month(col("l_shipdate")).as("m"),
          col("l_linenumber").as("ln"))
        .agg(exactSum(col("l_quantity")).as("qty"))
      NetCDF.writeDataset(XDataset(grid, dims = Seq("m", "ln")),
        base + "/export.nc")
      NetCDF.toLongDF(s, base, "qty")
        .filter(!isnan(col("qty")))
        .select(col("m"), col("ln"), col("qty"))
    }),

    // §2.1 Z-order clustered layout (SURVEY §2.1 store extension; the
    // Delta/Iceberg OPTIMIZE ZORDER practice): write events Morton-
    // interleaved on (user_id, ts) so every file has a tight min/max
    // envelope in BOTH keys — parquet footer stats then prune files for
    // 2-d range predicates (ZOrderSpec asserts the per-file locality);
    // the read-back result must be byte-identical to a plain filter
    "q197_zorder" -> ((s, dir) => {
      import graft.io.ZOrder
      val base = scratch(s, "zorder", dir)
      ZOrder.write(Tables.events(s, dir), base,
        Seq("user_id", "ts"), numFiles = 16)
      graft.io.Store.open(s, base)
        .filter(col("user_id").between(40, 80) &&
          col("ts").between(lit("2024-01-10").cast("timestamp"),
            lit("2024-01-15").cast("timestamp")))
        .select("event_id", "ts", "user_id", "event_type", "value")
    }),

    // §2.7 bucketed co-located join (SURVEY §2.7 layout extension): both
    // sides bucketed by the join key -> the sort-merge join reads
    // pre-bucketed files with NO exchange on either side at any scale
    "q187_bucketed_join" -> ((s, dir) => {
      val ordersP = scratch(s, "bkt_orders", dir)
      val custP = scratch(s, "bkt_customer", dir)
      val ordersT = "graft_" + new java.io.File(ordersP).getName
      val custT = "graft_" + new java.io.File(custP).getName
      Bucketing.writeBucketed(Tables.orders(s, dir), ordersT, ordersP,
        "o_custkey", 8)
      Bucketing.writeBucketed(Tables.customer(s, dir), custT, custP,
        "c_custkey", 8)
      s.table(ordersT)
        .join(s.table(custT), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(exactSum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // §2.1 open_dataarray (ref `backends/api.py:637`): single-variable
    // open — the projection must reach the scan (ReadSchema = dims + var)
    "q223_open_dataarray" -> ((s, dir) => {
      XDataset.openDataArray(s, s"$dir/orders.parquet",
        dims = Seq("o_orderkey"), varName = "o_totalprice")
        .headDim("o_orderkey", 100)
        .df.select("o_orderkey", "o_totalprice")
    }),

    // §2.1 load_* (ref `dataset.py:1381`): eager materialization — the
    // persisted frame must answer identically to the lazy scan. The
    // query does not scope itself: it expects its caller (SparkEntry.run)
    // to scope it, and that scope releases the cache after the result ran
    "q224_load_eager" -> ((s, dir) => {
      XDataset(Tables.supplier(s, dir), dims = Seq("s_suppkey"))
        .load()
        .df.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          exactSum(col("s_acctbal")).as("bal"))
    }),

    // §2.2 loc (ref `dataset.py:632` _LocIndexer): label-dict selection
    // sugar; both labels must land in ONE scan-stage predicate
    "q225_loc" -> ((s, dir) => {
      XDataset(Tables.lineitem(s, dir),
        dims = Seq("l_returnflag", "l_linestatus", "l_orderkey"))
        .loc(Map("l_returnflag" -> "R", "l_linestatus" -> "F"))
        .df.groupBy("l_orderkey")
        .agg(exactSum(col("l_quantity")).as("qty"))
    }),

    // §2.1 from_dataframe -> to_dataframe (ref `dataset.py:7460/7353`):
    // the long format IS the frame, so the roundtrip is identity plus
    // the deterministic index-first export order
    "q226_to_dataframe" -> ((s, dir) => {
      val src = Tables.customer(s, dir)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
      XDataset.fromDataFrame(src, dims = Seq("c_custkey"))
        .toDataFrame()
        .filter(col("c_custkey") <= 500)
    }),

    // §2.10 chunk (ref `dataset.py:2565`): re-chunk to a partition count;
    // the data is invariant — the oracle sees straight through it
    "q227_chunk" -> ((s, dir) => {
      XDataset(Tables.lineitem(s, dir), dims = Seq("l_orderkey"))
        .chunk(16)
        .df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("qty"))
    }),

    // §2.7 unify_chunks (ref `dataset.py:8856`): both sides repartitioned
    // onto one scheme on the shared dim, then joined — co-partitioned, no
    // third exchange between the unify and the join
    "q228_unify_chunks" -> ((s, dir) => {
      val o = XDataset(Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_totalprice")),
        dims = Seq("custkey"))
      val c = XDataset(Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        dims = Seq("custkey"))
      val (ou, cu) = XDataset.unifyChunks(o, c, 32)
      ou.df.join(cu.df, "custkey")
        .groupBy("c_mktsegment")
        .agg(exactSum(col("o_totalprice")).as("revenue"))
    }),

    // §2.12 accessor registration (ref `core/extensions.py:55`): the
    // implicit-value-class namespace (`ds.stats.describe()`) — zero
    // registry, compile-checked; one aggregation pass per variable
    "q229_accessor" -> ((s, dir) => {
      import graft.model.Accessors._
      XDataset(Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_nationkey"),
        dims = Seq("c_custkey"))
        .stats.describe()
        .select(col("c_acctbal_count"),
          round(col("c_acctbal_mean"), 4).as("c_acctbal_mean"),
          col("c_acctbal_min"), col("c_acctbal_max"),
          col("c_nationkey_count"),
          round(col("c_nationkey_mean"), 4).as("c_nationkey_mean"))
    }),

    // §2.12 map_blocks (ref `core/parallel.py:228`): per-chunk imperative
    // logic with a declared template schema — the mapPartitions escape
    // hatch; the block function here is replayable in SQL so the oracle
    // checks the plumbing end to end
    "q230_map_blocks" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, IntegerType}
      val ds = XDataset(Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice"), dims = Seq("o_orderkey"))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType, nullable = false),
        StructField("bucket", IntegerType, nullable = false),
        StructField("o_totalprice", DoubleType, nullable = false)))
      val blocks = ds.mapBlocks(schema) { it =>
        it.map { r =>
          val price = r.getDouble(1)
          Row(r.getLong(0), (price / 50000.0).toInt, price)
        }
      }
      blocks.groupBy("bucket")
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("total"))
    })
  )

  val oracles: Map[String, String] = Map(
    // classic .nc stores integral coords as NC_DOUBLE, so m/ln read back
    // as doubles; qty went through exact decimal summation on both sides
    "q195_to_netcdf" ->
      """SELECT CAST(month(l_shipdate) AS DOUBLE) AS m,
           CAST(l_linenumber AS DOUBLE) AS ln,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY 1, 2""",
    "q171_drop_vars" ->
      "SELECT n_nationkey, n_name FROM nation",
    "q197_zorder" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE user_id BETWEEN 40 AND 80
           AND ts BETWEEN TIMESTAMP '2024-01-10'
                      AND TIMESTAMP '2024-01-15'""",
    "q172_squeeze" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         WHERE s_nationkey = 7""",
    "q173_filter_by_attrs" ->
      "SELECT s_suppkey, s_acctbal FROM supplier",
    "q174_rename" ->
      """SELECT s_suppkey, s_name AS supplier_name, s_acctbal AS balance
         FROM supplier""",
    "q175_salted_agg" ->
      """SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             AS l_quantity_sum,
           count(l_quantity) AS l_quantity_count,
           min(l_quantity) AS l_quantity_min,
           max(l_quantity) AS l_quantity_max
         FROM lineitem GROUP BY l_returnflag""",
    "q176_dataset_reduce" ->
      """SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
             AS l_quantity,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
             AS l_extendedprice
         FROM lineitem GROUP BY l_orderkey""",
    "q177_groupby_coord" ->
      """SELECT c_mktsegment, c_nationkey,
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS c_acctbal
         FROM customer GROUP BY c_mktsegment, c_nationkey""",
    "q178_bloom_prefilter" ->
      """WITH cand AS (
           SELECT doc_id, text, source FROM documents WHERE doc_id % 3 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text, 'recrawl' FROM documents
           WHERE doc_id % 9 = 0)
         SELECT c.doc_id, c.source FROM cand c
         JOIN (SELECT DISTINCT
                 md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS k
               FROM documents WHERE doc_id % 3 = 0) r
           ON md5(lower(trim(regexp_replace(c.text, '\s+', ' ', 'g')))) = r.k""",
    // from_dict re-infers integer coords as BIGINT (JSON has one int type)
    "q179_dict_roundtrip" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    "q180_save_mfdataset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           year(o_orderdate) AS o_year
         FROM orders WHERE year(o_orderdate) IN (1995, 1996)""",
    "q181_equals_identical" ->
      """SELECT 'same_equals' AS chk, true AS result
         UNION ALL SELECT 'same_identical', true
         UNION ALL SELECT 'perturbed_equals', false""",
    "q182_approx_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS exact_cnt, true AS within_tol
         FROM orders""",
    "q183_transpose_dims" ->
      """SELECT CAST(0 AS BIGINT) AS pos, 'l_linenumber' AS dim
         UNION ALL SELECT 1, 'l_orderkey'""",
    "q184_map_pipe" ->
      """SELECT s_suppkey, round(s_acctbal * 2, 2) AS s_acctbal
         FROM supplier""",
    "q185_xindex_range_sel" ->
      """SELECT o_orderkey, o_custkey, o_orderdate FROM orders
         WHERE o_orderdate IN (TIMESTAMP '1995-07-01', TIMESTAMP '1995-07-02')""",
    // label slice [2100, 2200] over x = 2000 + 0.5*pos is positions
    // [200, 400]; labels derive arithmetically
    "q241_lazy_range_index" ->
      """SELECT event_id,
           CAST(2000.0 AS DOUBLE) + event_id * CAST(0.5 AS DOUBLE) AS x,
           value
         FROM events WHERE event_id BETWEEN 200 AND 400""",
    "q186_drop_isel" ->
      """WITH t AS (SELECT n_nationkey, n_name,
             row_number() OVER (ORDER BY n_nationkey) - 1 AS p
           FROM nation)
         SELECT n_nationkey, n_name FROM t WHERE p NOT IN (0, 5, 10)""",
    "q169_netcdf4_dense" ->
      """SELECT t.t AS time, l.l * 0.5 AS lat,
           t.t * 100 + l.l * 1.5 AS temp
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    "q169b_hdf5_compound" ->
      """SELECT i * 10.0 AS t, i * 1.5 - 2.0 AS v
         FROM (SELECT unnest(generate_series(0, 11)) AS i)""",
    "q194_ranking_windows" ->
      """SELECT s_suppkey, s_nationkey,
           dense_rank() OVER w AS drank,
           round(percent_rank() OVER w, 6) AS prank,
           ntile(4) OVER w AS quartile,
           round(cume_dist() OVER w, 6) AS cdist
         FROM supplier
         WINDOW w AS (PARTITION BY s_nationkey
           ORDER BY s_acctbal DESC, s_suppkey)""",
    "q192_backend_dispatch" ->
      """SELECT count(*) AS nc_rows,
           CAST(sum(CAST(t.t * 100 + l.l * 1.5 AS DECIMAL(30,4)))
             AS DOUBLE) AS nc_sum,
           (SELECT count(*) FROM nation) AS nation_rows
         FROM (SELECT unnest(generate_series(0, 5)) AS t) t
         CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS l) l""",
    "q193_meta_verbs" ->
      """SELECT 'dim' AS kind, 's_name' AS name
         UNION ALL SELECT 'coord', 's_nationkey'
         UNION ALL SELECT 'coord', 's_suppkey'
         UNION ALL SELECT 'data_var', 's_acctbal'""",
    "q190_image_decode" ->
      """SELECT i AS doc_id,
           CAST(8 + i % 16 AS INT) AS width,
           CAST(6 + i % 12 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(i % 256 AS DOUBLE) AS mean_r,
           CAST((i * 3) % 256 AS DOUBLE) AS mean_g,
           CAST((i * 7) % 256 AS DOUBLE) AS mean_b
         FROM (SELECT unnest(generate_series(0, 59)) AS i)""",
    "q221_gif_frames" ->
      """SELECT i.i AS doc_id, f.f AS frame_no,
           CAST(10 + i.i % 6 AS INT) AS width,
           CAST(8 + i.i % 4 AS INT) AS height,
           CAST((i.i * 5 + f.f * 40) % 256 AS DOUBLE) AS mean_r,
           CAST((i.i * 11 + f.f * 30) % 256 AS DOUBLE) AS mean_g,
           CAST((i.i * 17 + f.f * 20) % 256 AS DOUBLE) AS mean_b
         FROM (SELECT unnest(generate_series(0, 39)) AS i) i,
              (SELECT unnest(generate_series(0, 2)) AS f) f""",
    // audio-features replay: the square wave's closed forms — meansq is
    // A² exactly, zcr counts the half-period boundaries inside each
    // 512-sample frame
    // DFT replay: the identical e8 trig table (libm cos/sin on the
    // same rational angle expression), LONG accumulators, 4-dp e4
    // magnitude grid, 6-dp centroid
    "q385_spectral_centroid" ->
      """WITH i AS (SELECT unnest(generate_series(0, 49)) AS i),
         f AS (SELECT unnest(generate_series(0, 3)) AS f),
         k AS (SELECT unnest(generate_series(0, 8)) AS k),
         n AS (SELECT unnest(generate_series(0, 15)) AS n),
         terms AS MATERIALIZED (SELECT i.i, f.f, k.k, n.n,
             CASE WHEN (((f.f * 16 + n.n) // (8 + i.i % 8)) % 2) = 0
               THEN (i.i % 50 + 1) * 100
               ELSE -((i.i % 50 + 1) * 100) END AS x,
             CAST(round(cos((2 * pi()) * k.k * n.n / 16) * 100000000)
               AS BIGINT) AS c8,
             CAST(round(sin((2 * pi()) * k.k * n.n / 16) * 100000000)
               AS BIGINT) AS s8
           FROM i, f, k, n),
         bins AS MATERIALIZED (SELECT i, f, k,
             CAST(sum(x * c8) AS BIGINT) AS re,
             CAST(-sum(x * s8) AS BIGINT) AS im
           FROM terms GROUP BY 1, 2, 3),
         mag AS MATERIALIZED (SELECT i, f, k,
             CAST(round(round(sqrt(
               (CAST(re AS DOUBLE) / 1e8) * (CAST(re AS DOUBLE) / 1e8)
               + (CAST(im AS DOUBLE) / 1e8) * (CAST(im AS DOUBLE) / 1e8)),
               4) * 10000) AS BIGINT) AS m4
           FROM bins),
         agg AS (SELECT i, f, CAST(sum(k * m4) AS BIGINT) AS num,
             CAST(sum(m4) AS BIGINT) AS den
           FROM mag GROUP BY 1, 2),
         mx AS (SELECT i, f, max(m4) AS mm FROM mag GROUP BY 1, 2),
         dom AS (SELECT mag.i, mag.f, CAST(min(mag.k) AS BIGINT)
             AS dominant_bin
           FROM mag JOIN mx ON mag.i = mx.i AND mag.f = mx.f
             AND mag.m4 = mx.mm
           GROUP BY 1, 2)
         SELECT agg.i AS doc_id, CAST(agg.f AS INT) AS frame_no,
           dom.dominant_bin,
           CASE WHEN den = 0 THEN NULL
             ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
               + 0.0 END AS centroid6
         FROM agg JOIN dom ON agg.i = dom.i AND agg.f = dom.f""",

    "q349_audio_features" ->
      """SELECT i.i AS doc_id, CAST(f.f AS BIGINT) AS frame_no,
           CAST(512 AS BIGINT) AS n,
           CAST(((i.i % 50 + 1) * 100) * ((i.i % 50 + 1) * 100)
             AS BIGINT) AS meansq,
           CAST((f.f * 512 + 511) // (8 + i.i % 8)
             - (f.f * 512) // (8 + i.i % 8) AS BIGINT) AS zcr
         FROM (SELECT unnest(generate_series(0, 49)) AS i) i,
              (SELECT unnest(generate_series(0, 3)) AS f) f""",
    "q191_wav_decode" ->
      """SELECT i AS doc_id,
           CAST(8000 + 100 * (i % 10) AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
           CAST(500 + 10 * (i % 20) AS BIGINT) AS n_samples,
           round(((i % 100) * 300) / 32768.0, 6) AS rms
         FROM (SELECT unnest(generate_series(0, 49)) AS i)""",
    "q187_bucketed_join" ->
      """SELECT c_mktsegment,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q223_open_dataarray" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 100""",
    // eager load is an execution-strategy choice; the answer is the scan's
    "q224_load_eager" ->
      """SELECT s_nationkey, count(*) AS n,
           CAST(sum(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS bal
         FROM supplier GROUP BY s_nationkey""",
    "q225_loc" ->
      """SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS qty
         FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
         GROUP BY l_orderkey""",
    "q226_to_dataframe" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
         WHERE c_custkey <= 500""",
    // chunk is data-invariant: the oracle sees straight through it
    "q227_chunk" ->
      """SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY l_returnflag""",
    "q228_unify_chunks" ->
      """SELECT c_mktsegment,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    // describe() means are exactAvg: decimal sum cast double / count
    "q229_accessor" ->
      """SELECT count(c_acctbal) AS c_acctbal_count,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
                 / count(c_acctbal), 4) AS c_acctbal_mean,
           min(c_acctbal) AS c_acctbal_min,
           max(c_acctbal) AS c_acctbal_max,
           count(c_nationkey) AS c_nationkey_count,
           round(CAST(sum(CAST(c_nationkey AS DECIMAL(30,4))) AS DOUBLE)
                 / count(c_nationkey), 4) AS c_nationkey_mean
         FROM customer""",
    // the block function is replayable in SQL (prices positive, so the
    // Scala toInt truncation == floor)
    "q230_map_blocks" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
         FROM orders GROUP BY 1"""
  )
}
