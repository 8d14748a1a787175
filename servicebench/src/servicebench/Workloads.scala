package servicebench

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One `load_collection` of a request: what the scan probe re-opens and
  * what the read-amplification denominator counts. */
final case class Load(bands: Seq[String], w: Window) {
  def cells: Long = w.pixels * w.nt * bands.size
}

/** One generated request. `check` verifies the artifact at the path the
  * server returned and gives the number of cells it holds; it throws
  * [[CheckFailed]] on any mismatch. */
final case class Req(id: String, kind: String, json: String, format: String,
    loads: Seq[Load], check: (SparkSession, String) => Long)

final class CheckFailed(msg: String) extends Exception(msg)

/** A traffic mix. Requests are a pure function of (seed, stream, index):
  * stream 0 is the measured run, 1 the untimed warm-up, 2 the traced
  * direct-call replay. Node ids carry the stream and index, so no request
  * of one stream is byte-identical to a request of another, and warm-up
  * can never seed the result cache for the measured run. */
sealed abstract class Workload(val name: String, val clients: Int) {
  /** Distinct request shapes. */
  def shapes: Int
  /** Untimed warm-up requests, shapes in turn. */
  def warmups: Int = shapes
  /** Requests the traced run replays through direct layer calls. */
  def replays: Int = math.max(4, shapes)
  /** The measured loop ends on a multiple of this many requests, so every
    * run holds the same mix of shapes. */
  def cycle: Int = 1
  def request(seed: Long, stream: Int, i: Int): Req

  protected def rng(seed: Long, stream: Int, i: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i)
  protected def tag(stream: Int, i: Int): String = s"${"mwt"(stream)}$i"
}

object Workload {
  val All: Seq[Workload] = Seq(SmallRequests, ZonalStats)
  def apply(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name"))
}

/** JSON builders for process graphs. */
private object G {
  def q(s: String): String = "\"" + s + "\""
  def from(id: String): String = s"""{"from_node":"$id"}"""
  val data = """{"from_parameter":"data"}"""
  val x = """{"from_parameter":"x"}"""
  def node(id: String, process: String, args: String, result: Boolean = false): String =
    s""""$id":{"process_id":"$process","arguments":{$args}""" +
      (if (result) ""","result":true}""" else "}")
  def load(id: String, l: Load): String = node(id, "load_collection",
    s""""id":"${Store.CollectionId}","spatial_extent":${l.w.extentJson},""" +
      s""""temporal_extent":${l.w.temporalJson},"bands":[${l.bands.map(q).mkString(",")}]""")
  /** A callback graph of one process over the parent's `data`. */
  def reducer(process: String): String =
    s"""{"process_graph":{"r":{"process_id":"$process","arguments":{"data":$data},"result":true}}}"""
  def reduce(id: String, in: String, dim: String, process: String): String =
    node(id, "reduce_dimension",
      s""""data":${from(in)},"dimension":"$dim","reducer":${reducer(process)}""")
  /** apply(x → op(x, c)). */
  def applyOp(id: String, in: String, op: String, c: Double): String =
    node(id, "apply", s""""data":${from(in)},"process":{"process_graph":{""" +
      s""""f":{"process_id":"$op","arguments":{"x":$x,"y":$c},"result":true}}}""")
  def save(id: String, in: String, format: String): String =
    node(id, "save_result", s""""data":${from(in)},"format":"$format"""", result = true)
  def graph(nodes: String*): String = nodes.mkString("{", ",", "}")
}

/** Artifact readers shared by the checks. */
private object Artifacts {
  val json: ObjectMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  def fail(msg: String): Nothing = throw new CheckFailed(msg)
  def expect(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  /** GeoTIFF planes, band-major, rows north-up. */
  def gtiff(path: String, bands: Int, nx: Int, ny: Int): Array[Array[Array[Float]]] = {
    val (_, planes) = graft.ops.Sinks.readGTiff(path)
    expect(planes.length == bands && planes.forall(p =>
      p.length == ny && p.forall(_.length == nx)),
      s"$path: expected $bands×$ny×$nx, got ${planes.length}×" +
        s"${planes.headOption.map(_.length)}×${planes.headOption.flatMap(_.headOption).map(_.length)}")
    planes
  }

  /** Number of numeric leaves under a node. */
  def numbers(n: JsonNode): Long =
    if (n.isNumber) 1L
    else if (n.isContainerNode) n.elements().asScala.map(numbers).sum
    else 0L

  /** Cells of an xarray-dict-shaped JSON cube, after checking its dims. */
  def jsonCube(path: String, dims: Seq[String]): Long = {
    val root = json.readTree(new java.io.File(path))
    val got = root.get("dims").elements().asScala.map(_.asText).toSeq
    expect(got == dims, s"$path: dims $got, expected $dims")
    numbers(root.get("data"))
  }

  /** NetCDF rendition beside a parquet result: (meta, non-fill cells, sum). */
  def netcdf(parquetPath: String): (graft.sources.Netcdf.Meta, Long, Double) = {
    val nc = parquetPath.stripSuffix("result.parquet") + "result.nc"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc))
    val m = graft.sources.Netcdf.readMeta(nc, bytes)
    m.requireFloatPlane()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var n = 0L; var sum = 0.0
    for (t <- 0 until m.nT; b <- 0 until m.nB; y <- m.ys.indices; x <- m.xs.indices) {
      val v = bb.getFloat(m.cellOffset(t, b, y, x).toInt)
      if (!v.isNaN) { n += 1; sum += v }
    }
    (m, n, sum)
  }
}

import Artifacts._

/** Zonal statistics: time mean, then `aggregate_spatial` mean over a
  * seeded set of 16 polygons of 16 vertices, JSON out, one client.
  * `Geo.featureId` is one expression of features × edges terms; at 256
  * it is past the generated-method size limit (192 stays below it), so
  * whole-stage codegen fails to compile and every request takes the
  * interpreted fallback. The seed moves the window and the polygons,
  * never the expression size. The polygons sit one to a cell of a 4×4
  * lattice over the window, so the share of pixels they cover, and with
  * it the cost of a request, varies little from seed to seed. */
object ZonalStats extends Workload("zonal_stats", clients = 1) {
  val N = 64
  val Nt = 4
  val Features = 16
  val Vertices = 16
  def shapes: Int = 1
  // the first request pays for compiling the interpreted path's classes
  override def warmups: Int = 2
  // a replay costs three requests (two direct calls and one over HTTP)
  override def replays: Int = 2

  type Ring = Seq[(Double, Double)]

  /** Lattice cells per side and their edge in pixels. */
  private val Side = math.sqrt(Features.toDouble).toInt
  private val Cell = N / Side

  /** A star-shaped polygon inside lattice cell `k` of the window, around a
    * seeded centre near the cell's middle, closed GeoJSON-style. */
  private def polygon(r: java.util.SplittableRandom, w: Window, k: Int, edges: Int): Ring = {
    val radius = Cell / 2 - 1
    val cx = w.ix0 + (k % Side) * Cell + Cell / 2 + r.nextInt(3) - 1
    val cy = w.iy0 + (k / Side) * Cell + Cell / 2 + r.nextInt(3) - 1
    val ring = (0 until edges).map { j =>
      val a = 2 * math.Pi * (j + 0.8 * r.nextDouble()) / edges
      val rho = radius * (0.55 + 0.45 * r.nextDouble())
      (Store.X0 + (cx + rho * math.cos(a)) * Store.D,
        Store.Y0 + (cy + rho * math.sin(a)) * Store.D)
    }
    ring :+ ring.head
  }

  /** Even-odd ray cast, term for term the arithmetic of the engine's
    * per-edge expression. */
  def inRing(px: Double, py: Double, ring: Ring): Boolean = {
    var inside = false
    for (i <- ring.indices) {
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.size)
      if (y1 != y2 && ((y1 > py) != (y2 > py)) &&
          px < x1 + (py - y1) * ((x2 - x1) / (y2 - y1))) inside = !inside
    }
    inside
  }

  def request(seed: Long, stream: Int, i: Int): Req = {
    val r = rng(seed, stream, i); val s = tag(stream, i)
    val l = Load(Store.Bands, Window.random(r, N, N, Nt))
    val rings = (0 until Features).map(polygon(r, l.w, _, Vertices))
    val collection = rings.map { ring =>
      val coords = ring.map { case (x, y) => s"[$x,$y]" }.mkString("[[", ",", "]]")
      s"""{"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":$coords}}"""
    }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    val body = G.graph(G.load(s"load_$s", l),
      G.reduce(s"tmean_$s", s"load_$s", "t", "mean"),
      G.node(s"zonal_$s", "aggregate_spatial",
        s""""data":${G.from(s"tmean_$s")},"geometries":$collection,"reducer":${G.reducer("mean")}"""),
      G.save(s"save_$s", s"zonal_$s", "JSON"))
    Req(s, s"zonal_f${rings.size}", body, "JSON", Seq(l), (_, path) => {
      val salt = Store.salt(seed)
      val acc = scala.collection.mutable.Map[(String, Int), (Double, Int)]()
      for (iy <- l.w.iy0 until l.w.iy0 + N; ix <- l.w.ix0 until l.w.ix0 + N) {
        val fid = rings.indexWhere(inRing(Store.x(ix), Store.y(iy), _))
        if (fid >= 0) for ((band, b) <- Store.Bands.zipWithIndex) {
          val mean = (l.w.t0 until l.w.t0 + Nt)
            .map(Store.value(salt, b, _, iy, ix)).sum / Nt
          val (sum, n) = acc.getOrElse((band, fid), (0.0, 0))
          acc((band, fid)) = (sum + mean, n + 1)
        }
      }
      val rows = json.readTree(new java.io.File(path)).elements().asScala.map { o =>
        (o.get("band").asText, o.get("result").asInt) -> o.get("value").asDouble
      }.toMap
      expect(rows.keySet == acc.keySet,
        s"zonal keys ${rows.keySet.toSeq.sorted} != ${acc.keySet.toSeq.sorted}")
      for ((k, (sum, n)) <- acc)
        expect(close(rows(k), sum / n, 1e-6), s"zonal mean $k: got ${rows(k)}, expected ${sum / n}")
      rows.size.toLong
    })
  }
}

/** Four closed-loop clients sending small-window graphs of eight shapes in
  * all four output formats, among them the reference's acceptance graph
  * (NDVI over bands, median over time, GeoTIFF). Three requests in every
  * eleven are byte-identical repeats of a request just before them, so
  * some repeats arrive while the original still runs. Repeats target only
  * GTIFF/PNG/JSON shapes: concurrent identical NETCDF requests both run
  * and overwrite the same parquet result directory (see NOTES.md). */
object SmallRequests extends Workload("small_requests", clients = 4) {
  /** Window edge in pixels. Fixed, so the seed moves windows and constants
    * but never the amount of work. */
  val N = 16
  private val Kinds = Seq("ndvi", "apply_chain", "filter_bands", "agg_period",
    "resample", "kernel", "merge", "mask")
  def shapes: Int = Kinds.size
  override def warmups: Int = 2 * Kinds.size
  /** The measured stream runs in blocks of 11: the 8 shapes in order, with
    * repeats at these slots (27% of requests). */
  private val RepeatSlots = Set(2, 6, 9)
  override def cycle: Int = Kinds.size + RepeatSlots.size

  def request(seed: Long, stream: Int, i: Int): Req = {
    val slot = i % cycle
    if (stream == 0 && RepeatSlots(slot)) {
      val original = Iterator.iterate(i - 1 - (i / cycle) % 2)(_ - 1)
        .map(j => request(seed, stream, j))
        .find(r => r.kind != "repeat" && r.format != "NETCDF").get
      original.copy(id = tag(stream, i), kind = "repeat")
    } else {
      val ordinal =
        if (stream == 0) i / cycle * Kinds.size + slot - RepeatSlots.count(_ < slot)
        else i
      freshRequest(seed, stream, i, Kinds(ordinal % Kinds.size))
    }
  }

  private def freshRequest(seed: Long, stream: Int, i: Int, kind: String): Req = {
    val r = rng(seed, stream, i); val s = tag(stream, i)
    val salt = Store.salt(seed)
    def win(nt: Int) = Window.random(r, N, N, nt)
    def ld(id: String, l: Load) = G.load(s"${id}_$s", l)
    kind match {
      case "ndvi" =>
        val l = Load(Store.Bands, win(6))
        Req(s, kind, G.graph(ld("load", l),
          G.node(s"ndvi_$s", "reduce_dimension",
            s""""data":${G.from(s"load_$s")},"dimension":"bands","reducer":{"process_graph":{""" +
              s""""red":{"process_id":"array_element","arguments":{"data":${G.data},"label":"B04"}},""" +
              s""""nir":{"process_id":"array_element","arguments":{"data":${G.data},"label":"B08"}},""" +
              """"nd":{"process_id":"normalized_difference","arguments":""" +
              """{"x":{"from_node":"nir"},"y":{"from_node":"red"}},"result":true}}}"""),
          G.reduce(s"median_$s", s"ndvi_$s", "t", "median"),
          G.save(s"save_$s", s"median_$s", "GTIFF")), "GTIFF", Seq(l), (_, p) => {
          val plane = gtiff(p, 1, N, N)(0)
          for (row <- 0 until N by 5; col <- 0 until N by 5) {
            val (ix, iy) = (l.w.ix0 + col, l.w.iy0 + N - 1 - row)
            val nd = (l.w.t0 until l.w.t0 + l.w.nt).map { t =>
              val (red, nir) = (Store.value(salt, 0, t, iy, ix), Store.value(salt, 1, t, iy, ix))
              (nir - red) / (nir + red)
            }.sorted
            // Spark's exact percentile: linear interpolation at 0.5·(N−1)
            val pos = 0.5 * (nd.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
            val want = (hi - pos) * nd(lo) + (pos - lo) * nd(hi)
            expect(close(plane(row)(col), want, 1e-5),
              s"ndvi median at ($ix,$iy): got ${plane(row)(col)}, expected $want")
          }
          N.toLong * N
        })
      case "apply_chain" =>
        val l = Load(Store.Bands, win(3))
        val (a, b) = (0.5 + r.nextInt(8) / 4.0, r.nextInt(100).toDouble)
        Req(s, kind, G.graph(ld("load", l),
          G.applyOp(s"mul_$s", s"load_$s", "multiply", a),
          G.applyOp(s"add_$s", s"mul_$s", "add", b),
          G.save(s"save_$s", s"add_$s", "JSON")), "JSON", Seq(l),
          (_, p) => counted(jsonCube(p, Seq("band", "time", "y", "x")), l.cells))
      case "filter_bands" =>
        val l = Load(Store.Bands, win(4))
        Req(s, kind, G.graph(ld("load", l),
          G.node(s"fb_$s", "filter_bands", s""""data":${G.from(s"load_$s")},"bands":["B08"]"""),
          G.reduce(s"mean_$s", s"fb_$s", "t", "mean"),
          G.save(s"save_$s", s"mean_$s", "GTIFF")), "GTIFF", Seq(l), (_, p) => {
          val plane = gtiff(p, 1, N, N)(0)
          val (ix, iy) = (l.w.ix0 + N / 2, l.w.iy0 + N - 1 - N / 2)
          val want = (l.w.t0 until l.w.t0 + 4).map(Store.value(salt, 1, _, iy, ix)).sum / 4
          expect(close(plane(N / 2)(N / 2), want, 1e-6),
            s"filter_bands mean at ($ix,$iy): got ${plane(N / 2)(N / 2)}, expected $want")
          N.toLong * N
        })
      case "agg_period" =>
        // all dates: two calendar months
        val l = Load(Seq("B04"), Window.random(r, N, N, Store.Dates))
        Req(s, kind, G.graph(ld("load", l),
          G.node(s"agg_$s", "aggregate_temporal_period",
            s""""data":${G.from(s"load_$s")},"period":"month","reducer":${G.reducer("mean")}"""),
          G.save(s"save_$s", s"agg_$s", "NETCDF")), "NETCDF", Seq(l), (spark, p) => {
          // monthly means of quarter-integral sums: exact in float and double
          val months = (0 until Store.Dates).groupBy(Store.date(_).getMonthValue).values
          val want = (for (iy <- l.w.iy0 until l.w.iy0 + N; ix <- l.w.ix0 until l.w.ix0 + N;
                           ts <- months) yield
            ts.map(Store.value(salt, 0, _, iy, ix)).sum / ts.size).sum
          val row = spark.read.parquet(p).selectExpr("count(*)", "sum(value)").head()
          expect(row.getLong(0) == 2L * N * N && row.getDouble(1) == want,
            s"agg_period parquet: ${row.getLong(0)} rows, sum ${row.getDouble(1)}; " +
              s"expected ${2 * N * N}, $want")
          val (m, cells, sum) = netcdf(p)
          expect(m.nT == 2 && m.nB == 1 && m.ys.length == N && m.xs.length == N && sum == want,
            s"agg_period netcdf: ${m.nT}×${m.nB}×${m.ys.length}×${m.xs.length}, sum $sum")
          counted(cells, 2L * N * N)
        })
      case "resample" =>
        // odd start columns and rows: each pair of fine pixels rounds into
        // one coarse cell of the doubled grid
        val w = Window.random(r, 2 * N + 1, 2 * N + 1, 2)
        val l = Load(Seq("B08"), w.copy(ix0 = w.ix0 | 1, iy0 = w.iy0 | 1, nx = 2 * N, ny = 2 * N))
        Req(s, kind, G.graph(ld("load", l),
          G.node(s"rs_$s", "resample_spatial",
            s""""data":${G.from(s"load_$s")},"resolution":${2 * Store.D},"method":"near""""),
          G.reduce(s"max_$s", s"rs_$s", "t", "max"),
          G.save(s"save_$s", s"max_$s", "PNG")), "PNG", Seq(l), (_, p) => {
          val img = javax.imageio.ImageIO.read(new java.io.File(p))
          expect(img != null && img.getWidth == N && img.getHeight == N,
            s"resample png: ${Option(img).map(i => s"${i.getWidth}×${i.getHeight}")}, expected $N×$N")
          N.toLong * N
        })
      case "kernel" =>
        val l = Load(Seq("B08"), win(2))
        Req(s, kind, G.graph(ld("load", l),
          G.node(s"k_$s", "apply_kernel", s""""data":${G.from(s"load_$s")},""" +
            """"kernel":[[1,1,1],[1,1,1],[1,1,1]],"factor":0.1111111111111111"""),
          G.reduce(s"mean_$s", s"k_$s", "t", "mean"),
          G.save(s"save_$s", s"mean_$s", "GTIFF")), "GTIFF", Seq(l),
          (_, p) => { gtiff(p, 1, N, N); N.toLong * N })
      case "merge" =>
        val w = win(3)
        val (l1, l2) = (Load(Seq("B04"), w), Load(Seq("B08"), w))
        Req(s, kind, G.graph(ld("red", l1), ld("nir", l2),
          G.node(s"mg_$s", "merge_cubes",
            s""""cube1":${G.from(s"red_$s")},"cube2":${G.from(s"nir_$s")}"""),
          G.reduce(s"max_$s", s"mg_$s", "t", "max"),
          G.save(s"save_$s", s"max_$s", "JSON")), "JSON", Seq(l1, l2),
          (_, p) => counted(jsonCube(p, Seq("band", "y", "x")), 2L * N * N))
      case "mask" =>
        val w = win(3)
        val (l1, l2) = (Load(Seq("B04"), w), Load(Seq("B08"), w))
        val thr = 1000 + r.nextInt(4000)
        Req(s, kind, G.graph(ld("data", l1), ld("m", l2),
          // a numeric 0/1 mask: a boolean mask cube fails analysis in
          // Filters.mask (see NOTES.md)
          G.node(s"lt_$s", "apply", s""""data":${G.from(s"m_$s")},"process":{"process_graph":{""" +
            s""""lt":{"process_id":"lt","arguments":{"x":${G.x},"y":$thr}},""" +
            """"if":{"process_id":"if","arguments":{"value":{"from_node":"lt"},"accept":1,"reject":0},"result":true}}}"""),
          G.node(s"mask_$s", "mask",
            s""""data":${G.from(s"data_$s")},"mask":${G.from(s"lt_$s")}"""),
          G.reduce(s"max_$s", s"mask_$s", "t", "max"),
          G.save(s"save_$s", s"max_$s", "GTIFF")), "GTIFF", Seq(l1, l2), (_, p) => {
          val plane = gtiff(p, 1, N, N)(0)
          // a pixel keeps its max over the dates whose B08 is not below thr
          val (ix, iy) = (w.ix0 + N / 2, w.iy0 + N - 1 - N / 2)
          val kept = (w.t0 until w.t0 + 3)
            .filter(t => !(Store.value(salt, 1, t, iy, ix) < thr))
            .map(Store.value(salt, 0, _, iy, ix))
          val got = plane(N / 2)(N / 2)
          expect(if (kept.isEmpty) got.isNaN else close(got, kept.max, 1e-6),
            s"mask max at ($ix,$iy): got $got, expected ${kept.maxOption}")
          N.toLong * N
        })
    }
  }

  private def counted(got: Long, want: Long): Long = {
    expect(got == want, s"artifact has $got cells, expected $want")
    got
  }
}
