package graft.io

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.SparkSpec
import graft.io.HDF5.WVar
import graft.io.Zarr.{ArrayMeta, ShardSpec}

/** The bytes every descriptor the Zarr and HDF5 writers emit encodes to:
  * the metadata and the first chunk, pinned byte for byte, so a change to
  * the codec layer that alters what is stored shows here. */
class CodecGoldenSpec extends SparkSpec {

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def sha(b: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(b))

  private val data = Array.tabulate(24)(i => (i % 5) * 1.25 - 2.0)

  /** (metadata text, first chunk) of `m` written by `writeArray`. */
  private def zarr(m: ArrayMeta): String = {
    val dir = scratchDir("zgold")
    Zarr.writeArray(spark, dir, "v", m, data)
    val meta = if (m.v3) "zarr.json" else ".zarray"
    val chunk = if (m.v3) Paths.get(dir, "v", "c", "0", "0") else Paths.get(dir, "v", "0.0")
    new String(Files.readAllBytes(Paths.get(dir, "v", meta)), "UTF-8") + " " +
      hex(Files.readAllBytes(chunk))
  }

  private def v2(comp: (String, Int)): String =
    zarr(ArrayMeta(Seq(4, 6), Seq(2, 4), '<', 'f', 8, Some(comp), Double.NaN,
      ".", Seq("a", "b"), Map()))

  private def v3(comp: Option[(String, Int)], shard: Option[ShardSpec] = None): String =
    zarr(ArrayMeta(Seq(4, 6), Seq(2, 4), '<', 'f', 8, comp, Double.NaN,
      "/", Seq("a", "b"), Map(), v3 = true, shard = shard))

  /** (parsed pipeline, first stored chunk, digest of the whole file) of
    * one chunked variable written by `writeNc4`. */
  private def h5(v: WVar): String = {
    val path = s"${scratchDir("h5gold")}/f.nc4"
    HDF5.writeNc4(path, Seq("x" -> Array.tabulate(6)(_.toDouble),
      "y" -> Array.tabulate(4)(_.toDouble)), Seq(v))
    val bytes = Files.readAllBytes(Paths.get(path))
    val d = HDF5.parseFile(bytes).byName("v")
    val first = HDF5.chunkRefsOf(ArraySrc(bytes), d).head
    d.filters.map { case (id, cd) => s"$id:${cd.mkString(",")}" }.mkString(";") +
      " " + hex(bytes.slice(first.addr.toInt, first.addr.toInt + first.stored)) +
      " " + sha(bytes)
  }

  private def wv(f32: Boolean = false, integral: Boolean = false) =
    WVar("v", Seq(0, 1),
      if (integral) Array.tabulate(24)(i => (i * 37 % 200).toDouble)
      else data, chunk = Some(Seq(3, 2)), f32 = f32, integral = integral)

  private def cases: Seq[(String, () => String)] = Seq(
    "zarr2 zlib" -> (() => v2(("zlib", 1))),
    "zarr2 zstd" -> (() => v2(("zstd", 3))),
    "zarr2 blosc lz4 0" -> (() => v2(("blosc:lz4:0", 5))),
    "zarr2 blosc lz4 1" -> (() => v2(("blosc:lz4:1", 5))),
    "zarr2 blosc zstd 0" -> (() => v2(("blosc:zstd:0", 3))),
    "zarr2 blosc zstd 1" -> (() => v2(("blosc:zstd:1", 3))),
    "zarr3 gzip" -> (() => v3(Some(("gzip", 1)))),
    "zarr3 zstd" -> (() => v3(Some(("zstd", 0)))),
    "zarr3 blosc" -> (() => v3(Some(("blosc:lz4:1", 5)))),
    "zarr3 sharding gzip" ->
      (() => v3(None, Some(ShardSpec(Seq(1, 2), Some(("gzip", 1)))))),
    "h5 deflate" -> (() => h5(wv())),
    "h5 shuffle deflate" -> (() => h5(wv().copy(shuffle = true))),
    "h5 fletcher inner" -> (() => h5(wv().copy(fletcher = true, shuffle = true))),
    "h5 fletcher outer" ->
      (() => h5(wv().copy(fletcher = true, fletcherOuter = true))),
    "h5 szip f32" -> (() => h5(wv(f32 = true).copy(szip = true))),
    "h5 lzf" -> (() => h5(wv().copy(lzf = true))),
    "h5 zstd" -> (() => h5(wv().copy(zstd = true))),
    "h5 nbit" -> (() => h5(wv(integral = true).copy(nbitPrec = 9))),
    "h5 scaleoffset int" -> (() => h5(wv(integral = true).copy(soScale = Some((2, 0))))),
    "h5 scaleoffset float" -> (() => h5(wv().copy(soScale = Some((0, 2))))))

  private val golden: Map[String, String] = Map(
    "zarr2 zlib" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"zlib","level":1},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 7801636000830310eac57e08fdc01e42ff81d2b8c4391c001fe1090b""",
    "zarr2 zstd" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"zstd","level":3},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 28b52ffd2040dd0000700000c000e8bf00e03f00fc3f084005003b050632c00dd0b000b0""",
    "zarr2 blosc lz4 0" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"blosc","cname":"lz4","clevel":5,"shuffle":0,"blocksize":0},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 0201300840000000400000003800000014000000200000001200010012c0070022e8bf080022e03f080013fc08000f180002500000000840""",
    "zarr2 blosc lz4 1" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1,"blocksize":0},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 0201220840000000400000005000000000000000000000c0000000000000e8bf000000000000e03f000000000000fc3f000000000000e8bf000000000000e03f000000000000fc3f0000000000000840""",
    "zarr2 blosc zstd 0" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"blosc","cname":"zstd","clevel":3,"shuffle":0,"blocksize":0},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 0201900840000000400000003c000000140000002400000028b52ffd2040dd0000700000c000e8bf00e03f00fc3f084005003b050632c00dd0b000b0""",
    "zarr2 blosc zstd 1" ->
      """{"zarr_format":2,"shape":[4,6],"chunks":[2,4],"dtype":"<f8","compressor":{"id":"blosc","cname":"zstd","clevel":3,"shuffle":1,"blocksize":0},"fill_value":null,"order":"C","filters":null,"dimension_separator":"."} 02019108400000004000000038000000140000002000000028b52ffd2040bd0000880000e8e0fce8e0fc08c0bf3f3fbf3f3f40010044000b""",
    "zarr3 gzip" ->
      """{"zarr_format":3,"node_type":"array","shape":[4,6],"data_type":"float64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},"fill_value":"NaN","codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"gzip","configuration":{"level":1}}],"dimension_names":["a","b"],"attributes":{}} 1f8b08000000000000ff636000830310eac57e08fdc01e42ff81d2b8c4391c00be03e88b40000000""",
    "zarr3 zstd" ->
      """{"zarr_format":3,"node_type":"array","shape":[4,6],"data_type":"float64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},"fill_value":"NaN","codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"zstd","configuration":{"level":0,"checksum":false}}],"dimension_names":["a","b"],"attributes":{}} 28b52ffd2040dd0000700000c000e8bf00e03f00fc3f084005003b050632c00dd0b000b0""",
    "zarr3 blosc" ->
      """{"zarr_format":3,"node_type":"array","shape":[4,6],"data_type":"float64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},"fill_value":"NaN","codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"blosc","configuration":{"cname":"lz4","clevel":5,"shuffle":"shuffle","typesize":8,"blocksize":0}}],"dimension_names":["a","b"],"attributes":{}} 0201220840000000400000005000000000000000000000c0000000000000e8bf000000000000e03f000000000000fc3f000000000000e8bf000000000000e03f000000000000fc3f0000000000000840""",
    "zarr3 sharding gzip" ->
      """{"zarr_format":3,"node_type":"array","shape":[4,6],"data_type":"float64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},"fill_value":"NaN","codecs":[{"name":"sharding_indexed","configuration":{"chunk_shape":[1,2],"codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"gzip","configuration":{"level":1}}],"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],"index_location":"end"}}],"dimension_names":["a","b"],"attributes":{}} 1f8b08000000000000ff636000830310eac57e00e49f0599100000001f8b08000000000000ff6360008107f6608ae18f3d00abcabe24100000001f8b08000000000000ff6360008117fbc114c3037b004dd74bb7100000001f8b08000000000000ff636000813ff6608a81c30100d9e346a91000000000000000000000001c000000000000001c000000000000001e000000000000003a000000000000001e0000000000000058000000000000001e0000000000000079c39f56""",
    "h5 deflate" ->
      """1:1 7801636000830310eac57e08cde100a1190e40e83ff6109ac30100768e04f3 b4fbc712dab772f9f2535346dec448f923be7081a05d2f266e6ac8fb40af49b8""",
    "h5 shuffle deflate" ->
      """2:8;1:1 780163602002bce060f8c37160bfc3017b07001ec904f3 362c0199a790228c7009f0b71aa151337d8b6d327b64d566b09a0b12b9a82634""",
    "h5 fletcher inner" ->
      """3:;2:8;1:1 780163602002bce060f8c37160bfc3017b87ffdffebd06003c5a08d1 b40b48ae74b078893fc3fab377f7147c507614b087935f379598ea5000f0f3a4""",
    "h5 fletcher outer" ->
      """1:1;3: 7801636000830310eac57e08cde100a1190e40e83ff6109ac30100768e04f34a05dc7b eea1a13c111568eac97ca0375d1e0b8426d2f90223dd445493f181268751e714""",
    "h5 szip f32" ->
      """4:168,32,16,16 18000000f60000000410207ff85fffffff7ffffe000000000fffff83000000000000000000000000000000000000000000000000000000000000000000000000000000 a9f94751828755a5be8c4ca848e29862b39e4a4d739f56280fedf692acb3d04d""",
    "h5 lzf" ->
      """32000: 0000800001c000600001e8bf60060300084000800001c000600001fc3f60062017 a8b0d523b69aa96035da7cf243e107819ae8621265c5b749840d33c4218a2032""",
    "h5 zstd" ->
      """32015:3 28b52ffd2030dd0000600000c000e8bf00084000fc3f060080e0ce1cc00c7003342c002c 0571eb16f0f8fd43f57d6b0659b75865c3640d82d77fd0f3bc5b966a83360c64""",
    "h5 nbit" ->
      """5:8,0,6,1,8,0,9,0;1:1 780163e00cea9ecc24020005d40190 3ca9419c9423bf58f9489526c611bff0a90e3bb8e773b5d7657e36f15c99f275""",
    "h5 scaleoffset int" ->
      """6:2,0,6,0,8,1,0,0,0,0,0,0,0,0,0,0,0,0,0,0;1:1 7801e360c00654a7ec4c680500076c0260 46c7a2990da53ca715d640e185c816fcecc4fcd7e7df056dc58623186bcbe043""",
    "h5 scaleoffset float" ->
      """6:0,2,6,1,8,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0;1:1 7801e3648083037016837c5d03f7fe0b0015770381 1364e40cf39f018b9e376178eee2018b1fa76a8a15834be35505d278eddb5699""")

  test("every descriptor the writers emit stores the same bytes") {
    val got = cases.map { case (name, run) => name -> run() }
    val missing = got.filterNot { case (n, _) => golden.contains(n) }
    missing.foreach { case (n, v) => println(s"""    "$n" ->\n      \"\"\"$v\"\"\",""") }
    assert(missing.isEmpty, s"no golden bytes for ${missing.map(_._1)}")
    got.foreach { case (n, v) => assert(v === golden(n), n) }
  }
}
