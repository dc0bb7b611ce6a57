package graft.model

/** Hierarchy of datasets with filesystem-like paths and parent-coordinate
  * inheritance (ref `xarray/core/datatree.py:462`; child nodes see parent
  * coords through `DatasetView`, `datatree.py:230`).
  *
  * The tree is a driver-side catalog — pure metadata. Data stays in the
  * nodes' DataFrames; nothing here touches executors.
  */
final class DataTree(val nodes: Map[String, XDataset]) {

  private def norm(p: String): String =
    "/" + p.split("/").filter(_.nonEmpty).mkString("/")

  def apply(path: String): XDataset = resolved(norm(path))

  def groups: Seq[String] = nodes.keys.toSeq.sorted

  private def parents(path: String): Seq[String] = {
    val parts = path.split("/").filter(_.nonEmpty)
    (0 to parts.length).map(i => "/" + parts.take(i).mkString("/"))
      .map(p => if (p == "/") "/" else p)
  }

  /** Child inherits parent coordinate columns it doesn't define itself
    * (cross-join on broadcastable parent coord tables would materialize
    * them; here inheritance is resolved at the meta level like the
    * reference's DatasetView). */
  private def resolved(path: String): XDataset = {
    val ds = nodes(path)
    val inheritedCoords = parents(path).dropRight(1).flatMap(p =>
      nodes.get(p).map(_.meta.coords).getOrElse(Set.empty)).toSet
    new XDataset(ds.df, ds.meta.copy(coords = ds.meta.coords ++ inheritedCoords))
  }

  /** map_over_datasets (ref `datatree.py:1789`): apply a dataset function
    * to every node, preserving the hierarchy. The mapped function sees
    * the node with INHERITED parent coordinates (matching the reference's
    * DatasetView semantics). */
  def mapOverDatasets(f: XDataset => XDataset): DataTree =
    new DataTree(nodes.map { case (p, _) => p -> f(resolved(p)) })

  /** Structural isomorphism: same set of node paths (ref
    * `datatree_mapping.py:28` `check_isomorphic`). */
  def isomorphic(other: DataTree): Boolean = nodes.keySet == other.nodes.keySet

  /** Binary map over two ISOMORPHIC trees (the 2-argument
    * map_over_datasets form, ref `datatree_mapping.py:45`). */
  def zipWith(other: DataTree)(f: (XDataset, XDataset) => XDataset): DataTree = {
    require(isomorphic(other), "trees are not isomorphic")
    new DataTree(nodes.map { case (p, ds) => p -> f(ds, other.nodes(p)) })
  }

  /** Subtree rooted at `prefix` (ref `datatree.py` `__getitem__` of a
    * group path); paths are re-rooted. */
  def subtree(prefix: String): DataTree = {
    val root = norm(prefix)
    new DataTree(nodes.collect {
      case (p, ds) if p == root || p.startsWith(root + "/") =>
        (if (p == root) "/" else p.stripPrefix(root)) -> ds
    })
  }

  def depth: Int =
    nodes.keys.map(p => p.split("/").count(_.nonEmpty)).maxOption.getOrElse(0)

  /** Collapse the tree into ONE long frame with a `path` column — the
    * distributed export of a mapped tree (nodes must share a schema).
    * Union is metadata-only in Spark; no shuffle. */
  def collapse(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    groups.map(p => nodes(p).df.withColumn("path", lit(p)))
      .reduce(_ unionByName _)
  }

  /** filter nodes by predicate on the path or dataset (ref
    * `datatree.py:1597/1742`). */
  def filter(pred: (String, XDataset) => Boolean): DataTree =
    new DataTree(nodes.filter { case (p, ds) => pred(p, ds) })

  /** prune empty branches (ref `datatree.py:1674`). */
  def prune(): DataTree =
    new DataTree(nodes.filter { case (_, ds) => ds.df.columns.nonEmpty })

  /** drop_nodes (ref `datatree.py:1122`): remove the named nodes and
    * their descendants; errors on unknown paths like the reference's
    * default (errors="raise"). */
  def dropNodes(paths: String*): DataTree = {
    val roots = paths.map(norm)
    val missing = roots.filterNot(nodes.contains)
    require(missing.isEmpty, s"no nodes at: ${missing.mkString(", ")}")
    new DataTree(nodes.filterNot { case (p, _) =>
      roots.exists(r => p == r || p.startsWith(r + "/"))
    })
  }

  /** filter_like (ref `datatree.py:1621`): keep only the node paths the
    * other tree also has — align one tree's structure to another's. */
  def filterLike(other: DataTree): DataTree =
    filter((p, _) => other.nodes.contains(p))

  /** True when the node at `path` carries data variables (ref
    * `datatree.py:741` has_data). */
  def hasData(path: String): Boolean = {
    val ds = nodes(norm(path))
    ds.dataVars.nonEmpty
  }

  /** is_hollow (ref `datatree.py:756`): data lives only at the leaves. */
  def isHollow: Boolean = {
    val paths = nodes.keySet
    def isLeaf(p: String) =
      !paths.exists(q => q != p && q.startsWith(if (p == "/") "/" else p + "/"))
    nodes.forall { case (p, ds) => isLeaf(p) || ds.dataVars.isEmpty }
  }

  // Glob-pattern node match (ref `datatree.py:1742` `match`): fnmatch
  // semantics like the reference — '*' matches ANY run of characters
  // including '/', '?' matches one character. matchGlob("*" + "/B")
  // keeps /a/B and /x/y/B.
  def matchGlob(pattern: String): DataTree = {
    val norm = "/" + pattern.split("/").filter(_.nonEmpty).mkString("/")
    val regex = norm.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }
    new DataTree(nodes.filter { case (p, _) => p.matches(regex) })
  }

  // ---- tree-path navigation (ref `xarray/core/treenode.py`) -----------

  private def parentOf(p: String): Option[String] =
    if (p == "/") None
    else Some(parents(p).dropRight(1).lastOption.getOrElse("/"))

  /** parent path, None at the root (ref `treenode.py` `parent`). */
  def parent(path: String): Option[String] = {
    val p = norm(path)
    require(nodes.contains(p), s"no node at $p")
    parentOf(p)
  }

  private def node(path: String): String = {
    val p = norm(path)
    require(nodes.contains(p), s"no node at $p")
    p
  }

  /** ancestors root-first, INCLUDING the node itself — the reference's
    * `reversed(lineage)` contract (`treenode.py`: the root's ancestors
    * are `(self,)`). */
  def ancestors(path: String): Seq[String] =
    parents(node(path))

  private def childrenOfPath(p: String): Seq[String] = {
    val prefix = if (p == "/") "/" else p + "/"
    nodes.keys.filter(q => q != p && q.startsWith(prefix) &&
      !q.stripPrefix(prefix).contains("/")).toSeq.sorted
  }

  /** MATERIALIZED direct children of `path`, sorted (ref `datatree.py`
    * `children`; a holey catalog's grandchildren do not appear — see
    * [[descendants]] for the transitive view). */
  def children(path: String): Seq[String] = childrenOfPath(node(path))

  /** every strict descendant of `path`, sorted (ref `descendants`). */
  def descendants(path: String): Seq[String] = {
    val p = node(path)
    val prefix = if (p == "/") "/" else p + "/"
    nodes.keys.filter(q => q != p && q.startsWith(prefix)).toSeq.sorted
  }

  /** leaf = no descendants AT ALL (consistent with [[isHollow]]; in a
    * holey catalog a node whose only descendants sit behind
    * unmaterialized groups is still interior). */
  def isLeaf(path: String): Boolean = descendants(path).isEmpty
  def isRoot(path: String): Boolean = node(path) == "/"

  /** leaf paths, sorted (ref `datatree.py` `leaves`). */
  def leaves: Seq[String] = groups.filter(isLeaf)

  /** siblings: the other children of the node's parent PATH (which may
    * itself be an unmaterialized group in a holey catalog). */
  def siblings(path: String): Seq[String] = {
    val p = node(path)
    parentOf(p).map(childrenOfPath(_).filterNot(_ == p)).getOrElse(Seq.empty)
  }

  /** 0-based depth of a node (ref `treenode.py` `level`). */
  def level(path: String): Int = node(path).split("/").count(_.nonEmpty)

  /** max node count across depth levels (ref `treenode.py` `width`). */
  def width: Int =
    nodes.keys.groupBy(level).values.map(_.size).maxOption.getOrElse(0)

  /** deepest shared ancestor-or-self PATH of two nodes (ref
    * `treenode.py` `find_common_ancestor`) — always exists ("/" at
    * worst); may name an intermediate group the catalog does not
    * materialize as a node. */
  def findCommonAncestor(a: String, b: String): String = {
    val (pa, pb) = (norm(a), norm(b))
    require(nodes.contains(pa) && nodes.contains(pb),
      s"both paths must be nodes: $pa, $pb")
    // parents() includes the path itself, root-first
    parents(pa).intersect(parents(pb)).last
  }

  /** path of node `a` relative to ancestor-or-self PATH `b` (ref
    * `treenode.py` `relative_to`); "." when equal. `b` may be an
    * unmaterialized group (e.g. a [[findCommonAncestor]] result). */
  def relativeTo(a: String, b: String): String = {
    val (pa, pb) = (node(a), norm(b))
    require(pa == pb || pa.startsWith(if (pb == "/") "/" else pb + "/"),
      s"$pa is not inside $pb")
    if (pa == pb) "." else pa.stripPrefix(if (pb == "/") "/" else pb + "/")
  }

  /** same_tree: in this catalog model two references share a tree iff
    * they hold the same node map (ref `treenode.py` `same_tree`). */
  def sameTree(other: DataTree): Boolean = nodes eq other.nodes
}

object DataTree {
  def apply(entries: (String, XDataset)*): DataTree =
    new DataTree(entries.map { case (p, d) =>
      ("/" + p.split("/").filter(_.nonEmpty).mkString("/")) -> d
    }.toMap)

  /** open_datatree from a store directory (ref `backends/api.py:1029`
    * open_datatree; zarr group hierarchy `backends/zarr.py`): every
    * directory under `root` that directly holds parquet files becomes a
    * node at its relative path. Uses the Hadoop FileSystem API, so the
    * same walk works on HDFS/S3 at cluster scale — only the (small)
    * directory listing happens on the driver, the data stays lazy. */
  def open(spark: org.apache.spark.sql.SparkSession, root: String,
           dims: Seq[String]): DataTree = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = fs.makeQualified(new Path(root))
    def walk(p: Path): Seq[Path] =
      p +: fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filterNot(_.getName.contains("=")) // partition dirs are chunk keys, not groups
        .flatMap(walk)
    val nodes = walk(rootP).flatMap { p =>
      val hasData = fs.listStatus(p).exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (!hasData) None
      else {
        val rel = p.toString.stripPrefix(rootP.toString)
        val norm = if (rel.isEmpty) "/" else rel
        Some(norm -> XDataset(spark.read.parquet(p.toString), dims))
      }
    }
    new DataTree(nodes.toMap)
  }

  /** `DataTree.to_zarr` (ref `core/datatree_io.py` _datatree_to_zarr):
    * write a tree to one hierarchical store — a group per node at its
    * path (intermediate groups materialized so a walker finds the
    * hierarchy), one array per data variable, coordinate vectors from the
    * sorted distinct labels (driver-side 1-D, metadata scale; the data
    * arrays go through the distributed chunk-box writer). `zarrFormat`
    * 2 or 3. Chunks default to one chunk per dim. */
  def writeZarr(tree: DataTree, root: String,
                chunks: Map[String, Seq[Int]] = Map.empty,
                zarrFormat: Int = 2): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.io.Zarr
    require(tree.nodes.nonEmpty, "empty tree")
    val spark = tree.nodes.head._2.spark
    if (zarrFormat == 3) Zarr.initStoreV3(spark, root)
    else Zarr.initStore(spark, root)
    tree.nodes.foreach { case (path, ds) =>
      // materialize intermediate groups ("/a/b" needs "/a" to be a group)
      val parts = path.split("/").filter(_.nonEmpty)
      (1 until parts.length).foreach { i =>
        val g = root + "/" + parts.take(i).mkString("/")
        if (zarrFormat == 3) Zarr.initStoreV3(spark, g)
        else Zarr.initStore(spark, g)
      }
      val groupDir = if (path == "/") root else root + path
      val dims = ds.meta.dims
      // one coord-collect per dim per node; coords write with the FIRST
      // variable only (writeCoords=false for the rest). The collect is
      // capped (limit cap+1, then require) — coords are metadata-scale
      // by contract and an unbounded distinct-collect would OOM the
      // driver on a degenerate billion-label dim.
      val maxLabels = Zarr.MaxCoordLabels
      val dimValues = dims.map { d =>
        val vs = ds.df.select(col(d).cast("double")).distinct()
          .orderBy(col(d))
          .limit(math.min(maxLabels + 1, Int.MaxValue.toLong).toInt)
          .collect().map(_.getDouble(0))
        require(vs.length <= maxLabels,
          s"dim $d has more than $maxLabels distinct labels (driver-side" +
            " cap)")
        vs
      }
      val dimIntegral = dims.forall { d =>
        ds.df.schema(d).dataType.typeName match {
          case "long" | "integer" | "short" => true
          case _ => false
        }
      }
      ds.dataVars.zipWithIndex.foreach { case (v, i) =>
        Zarr.writeLongDF(ds.df, groupDir, v, dims, dimValues,
          chunks = chunks.getOrElse(path, dimValues.map(_.length max 1)),
          dimIntegral = dimIntegral, zarrFormat = zarrFormat,
          writeCoords = i == 0)
      }
    }
  }

  /** `open_datatree(store, engine="zarr")` (ref `backends/zarr.py`
    * open_datatree; group docs `datatree.py`): walk the zarr GROUP
    * hierarchy — v2 `.zgroup` directories or v3 group-node `zarr.json` —
    * and open every group that holds data arrays as a tree node via
    * [[graft.io.Zarr.openDataset]] (format-transparent per array, so a
    * tree may mix v2 and v3 groups). Only metadata is read driver-side;
    * array chunks stay lazy until the node's DataFrame is consumed. */
  def openZarr(spark: org.apache.spark.sql.SparkSession,
               root: String): DataTree = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.io.Zarr
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = fs.makeQualified(new Path(root))
    def isGroup(p: Path): Boolean =
      fs.exists(new Path(p, ".zgroup")) || {
        val zj = new Path(p, "zarr.json")
        fs.exists(zj) && (JsonMethods.parse(new String(
          graft.io.StoreFiles.read(fs, zj), "UTF-8")) \ "node_type") == JString("group")
      }
    def walk(p: Path): Seq[Path] =
      p +: fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(isGroup).flatMap(walk)
    val nodes = walk(rootP).flatMap { p =>
      val dataVars = Zarr.dataVarsOf(spark, p.toString)
      if (dataVars.isEmpty) None
      else {
        val rel = p.toString.stripPrefix(rootP.toString)
        val norm = if (rel.isEmpty) "/" else rel
        Some(norm -> XDataset(Zarr.openDataset(spark, p.toString),
          dataVars.head._2.dims))
      }
    }
    new DataTree(nodes.toMap)
  }
}
