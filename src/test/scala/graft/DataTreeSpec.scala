package graft

import org.apache.spark.sql.functions._
import graft.model.{DataTree, XDataset}
import graft.reshape.Reshape

/** DataTree hierarchy ops (ref `core/datatree.py`, `datatree_mapping.py`)
  * and MultiIndex level ops (ref `indexes.py:1291`, `dataset.py:5270`). */
class DataTreeSpec extends SparkSpec {

  import spark.implicits._

  private def ds(rows: (Int, Double)*) =
    XDataset(rows.toDF("k", "v"), Seq("k"))

  test("mapOverDatasets preserves hierarchy and sees inherited coords") {
    val parent = new XDataset(Seq((1, 1.0)).toDF("k", "v"),
      graft.model.DatasetMeta(Seq("k"), coords = Set("site")))
    val child = ds((2, 2.0))
    val tree = new DataTree(Map("/" -> parent, "/a" -> child))
    var seenCoords: Set[String] = Set.empty
    tree.mapOverDatasets { d =>
      if (!d.meta.coords.isEmpty) seenCoords = d.meta.coords
      d
    }
    // child inherited the parent's "site" coordinate (DatasetView semantics)
    assert(seenCoords == Set("site"))
  }

  test("open_datatree walks a store directory into a hierarchy") {
    val root = scratchDir("graft_tree")
    Seq((1, 1.0)).toDF("k", "v").write.mode("overwrite").parquet(s"$root/")
    Seq((2, 2.0)).toDF("k", "v").write.mode("overwrite").parquet(s"$root/a")
    Seq((3, 3.0)).toDF("k", "v").write.mode("overwrite").parquet(s"$root/a/b")
    val tree = DataTree.open(spark, root, dims = Seq("k"))
    assert(tree.groups === Seq("/", "/a", "/a/b"))
    assert(tree("/a/b").df.select(sum(col("v"))).head().getDouble(0) === 3.0)
    assert(tree.depth === 2)
    val doubled = tree.mapOverDatasets(d => d.assign("v", col("v") * 2))
    assert(doubled("/a").df.head().getDouble(1) === 4.0)
  }

  test("subtree re-roots and isomorphic trees zip") {
    val t = DataTree("/" -> ds((1, 1.0)), "/a/x" -> ds((2, 2.0)),
      "/a/y" -> ds((3, 3.0)), "/b" -> ds((4, 4.0)))
    val sub = t.subtree("/a")
    assert(sub.groups == Seq("/x", "/y"))
    assert(t.depth == 2)
    val doubled = t.mapOverDatasets(d =>
      new XDataset(d.df.withColumn("v", col("v") * 2), d.meta))
    assert(t.isomorphic(doubled))
    val summed = t.zipWith(doubled) { (a, b) =>
      new XDataset(a.df.unionByName(b.df), a.meta)
    }
    assert(summed.groups == t.groups)
    assert(summed("/b").df.agg(sum("v")).head.getDouble(0) == 12.0)
  }

  test("matchGlob filters nodes with fnmatch semantics") {
    val tree = new DataTree(Map(
      "/" -> ds((0, 0.0)),
      "/a/B" -> ds((1, 1.0)),
      "/b/B" -> ds((2, 2.0)),
      "/x/y/B" -> ds((3, 3.0)),
      "/a/C" -> ds((4, 4.0))))
    // fnmatch '*' spans '/' like the reference's DataTree.match
    assert(tree.matchGlob("*/B").nodes.keySet ===
      Set("/a/B", "/b/B", "/x/y/B"))
    assert(tree.matchGlob("/a/*").nodes.keySet === Set("/a/B", "/a/C"))
    assert(tree.matchGlob("/?/B").nodes.keySet === Set("/a/B", "/b/B"))
    assert(tree.matchGlob("/nope/*").nodes.isEmpty)
  }

  test("rollingConstruct stride keeps every k-th window, fill pads partials") {
    import graft.window.Windows
    val df = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 14L),
      (2L, 20L)).toDF("g", "k")
    val out = Windows.rollingConstruct(df, Seq(col("g")), Seq(col("k")),
      col("k"), window = 3, stride = 2, fillValue = lit(-1L))
      .select(col("g"), col("k"), col("window_arr"))
      .orderBy("g", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
    // group 1 positions 0,2,4 survive the stride; position 0 is padded
    assert(out.toSeq === Seq(
      (1L, 10L, List(-1L, -1L, 10L)),
      (1L, 12L, List(10L, 11L, 12L)),
      (1L, 14L, List(12L, 13L, 14L)),
      (2L, 20L, List(-1L, -1L, 20L))))
  }

  test("selLevel(drop=true) removes the selected level from the struct") {
    val df = Seq(("A", 1, 10.0), ("A", 2, 20.0), ("B", 1, 30.0))
      .toDF("seg", "nat", "v")
    val stacked = Reshape.stack(df, Seq("seg", "nat"), "mi")
    val sel = Reshape.selLevel(stacked, "mi", "seg", "A", drop = true)
    val fields = sel.schema("mi").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(fields.toSeq == Seq("nat"))
    assert(sel.count() == 2)
  }

  test("reorderLevels permutes struct fields") {
    val df = Seq(("A", 1, 10.0)).toDF("seg", "nat", "v")
    val stacked = Reshape.stack(df, Seq("seg", "nat"), "mi")
    val r = Reshape.reorderLevels(stacked, "mi", Seq("nat", "seg"))
    val fields = r.schema("mi").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(fields.toSeq == Seq("nat", "seg"))
  }

  test("dropNodes removes subtrees, filterLike aligns structure") {
    val tree = new DataTree(Map("/" -> ds((0, 0.0)), "/a" -> ds((1, 1.0)),
      "/a/b" -> ds((2, 2.0)), "/c" -> ds((3, 3.0))))
    val dropped = tree.dropNodes("/a")
    assert(dropped.groups == Seq("/", "/c")) // /a/b went with its parent
    intercept[IllegalArgumentException](tree.dropNodes("/nope"))
    val template = new DataTree(Map("/" -> ds((0, 0.0)), "/c" -> ds((9, 9.0))))
    assert(tree.filterLike(template).groups == Seq("/", "/c"))
  }

  test("hasData and isHollow reflect where data variables live") {
    val empty = new XDataset(Seq.empty[(Int, Double)].toDF("k", "v")
      .select("k"), graft.model.DatasetMeta(Seq("k")))
    val hollow = new DataTree(Map("/" -> empty, "/a" -> empty,
      "/a/leaf" -> ds((1, 1.0))))
    assert(hollow.isHollow)
    assert(!hollow.hasData("/a") && hollow.hasData("/a/leaf"))
    val solid = new DataTree(Map("/" -> ds((0, 0.0)), "/a" -> ds((1, 1.0))))
    assert(!solid.isHollow) // the root holds data but has a child
  }

  test("tree-path navigation: ancestors/children/leaves/siblings/level/width") {
    val t = new DataTree(Map(
      "/" -> ds((0, 0.0)), "/a" -> ds((1, 1.0)), "/a/x" -> ds((2, 2.0)),
      "/a/y" -> ds((3, 3.0)), "/b" -> ds((4, 4.0))))
    assert(t.parent("/a/x").contains("/a") && t.parent("/").isEmpty)
    // ancestors INCLUDE self (treenode.py reversed-lineage contract)
    assert(t.ancestors("/a/x") === Seq("/", "/a", "/a/x"))
    assert(t.ancestors("/") === Seq("/"))
    assert(t.children("/") === Seq("/a", "/b"))
    assert(t.children("/a") === Seq("/a/x", "/a/y"))
    assert(t.descendants("/a") === Seq("/a/x", "/a/y"))
    assert(t.leaves === Seq("/a/x", "/a/y", "/b"))
    assert(t.isLeaf("/b") && !t.isLeaf("/a") && t.isRoot("/"))
    assert(t.siblings("/a/x") === Seq("/a/y") && t.siblings("/") === Nil)
    assert(t.level("/") === 0 && t.level("/a/x") === 2)
    assert(t.width === 2) // levels have 1, 2, 2 nodes
    // navigation validates its node argument like parent() does
    intercept[IllegalArgumentException] { t.children("/nope") }
    intercept[IllegalArgumentException] { t.siblings("/nope") }
    // holey catalog: "/" has a descendant behind the unmaterialized
    // "/a", so it is INTERIOR (consistent with isHollow), and the
    // grandchild's siblings resolve through the hole
    val holey = new DataTree(Map("/" -> ds((0, 0.0)), "/a/x" -> ds((1, 1.0))))
    assert(!holey.isLeaf("/") && holey.leaves === Seq("/a/x"))
    assert(holey.siblings("/a/x") === Nil)
  }

  test("find_common_ancestor, relative_to, same_tree contracts") {
    val m = Map("/" -> ds((0, 0.0)), "/a/x" -> ds((1, 1.0)),
      "/a/y" -> ds((2, 2.0)))
    val t = new DataTree(m)
    // "/a" is the deepest shared path even though it is not materialized
    assert(t.findCommonAncestor("/a/x", "/a/y") === "/a")
    assert(t.findCommonAncestor("/a/x", "/") === "/")
    assert(t.relativeTo("/a/x", "/") === "a/x")
    assert(t.relativeTo("/a/x", "/a/x") === ".")
    intercept[IllegalArgumentException] { t.relativeTo("/a/x", "/a/y") }
    assert(t.sameTree(t) && !t.sameTree(new DataTree(Map("/" -> ds((0, 0.0))))))
  }
}
