package servicebench

import graft.cube.{Cube, CubeMeta, GridRef}
import graft.ops.{Scan, Sinks}
import org.apache.spark.sql.SparkSession

/** The seeded synthetic collection every workload reads.
  *
  * A W×H pixel grid in EPSG:4326 with a binary-fraction step, so every
  * pixel centre and every half-pixel window edge is an exact double and
  * the output check can reproduce pixel membership bit for bit. Eight
  * dates eight days apart (June and July 2022), bands B04 and B08, integer
  * DN values from [[value]]. Written by `Sinks.writeCubeStore` date
  * partitioned and tiled, so a scan lists many directories and splits
  * into several tasks. */
object Store {
  val W = 128
  val H = 128
  val Dates = 8
  val StepDays = 8
  val Bands: Seq[String] = Seq("B04", "B08")
  val X0 = 11.0
  val Y0 = 46.0
  val D: Double = 1.0 / 1024
  val TileCells = 64
  val CollectionId = "s2"
  private val T0 = java.time.LocalDate.of(2022, 6, 1)

  def date(k: Int): java.time.LocalDate = T0.plusDays(StepDays.toLong * k)
  def x(ix: Int): Double = X0 + ix * D
  def y(iy: Int): Double = Y0 + iy * D

  def salt(seed: Long): Long = Math.floorMod(seed * 1000003L, 999983L)

  /** DN of band `b` (0 = B04, 1 = B08) at date `t`, row `iy`, column `ix`.
    * The same integer arithmetic runs in Spark SQL in [[write]]. */
  def value(salt: Long, b: Int, t: Int, iy: Int, ix: Int): Double = {
    val h = ix * 7919L + iy * 104729L + t * 1299709L + b * 15485863L + salt
    100.0 + (h * h + h) % (if (b == 0) 2900L else 5900L)
  }

  def spec(path: String): Scan.CollectionSpec = Scan.CollectionSpec(path,
    crs = Some("EPSG:4326"), bandOrder = Bands, grid = Some(GridRef(X0, Y0, D, D)))

  def write(spark: SparkSession, path: String, seed: Long): Unit = {
    val t0 = T0.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val df = spark.range(W.toLong * H * Dates * Bands.size)
      .selectExpr(s"id % $W AS ix", s"(id div $W) % $H AS iy",
        s"(id div ${W * H}) % $Dates AS t", s"id div ${W * H * Dates} AS b")
      .selectExpr("*",
        s"ix * 7919 + iy * 104729 + t * 1299709 + b * 15485863 + ${salt(seed)} AS h")
      .selectExpr(
        s"timestamp_seconds($t0 + t * ${StepDays * 86400}) AS time",
        "CASE b WHEN 0 THEN 'B04' ELSE 'B08' END AS band",
        s"${Y0}D + iy * ${D}D AS y", s"${X0}D + ix * ${D}D AS x",
        "CAST(100 + pmod(h * h + h, CASE b WHEN 0 THEN 2900 ELSE 5900 END) AS DOUBLE) AS value")
    val meta = CubeMeta(crs = Some("EPSG:4326"), bandOrder = Bands,
      grid = Some(GridRef(X0, Y0, D, D)))
    Sinks.writeCubeStore(Cube(df, meta), path, tileCells = Some(TileCells))
  }
}

/** A pixel window of the store: columns ix0 until ix0+nx, rows iy0 until
  * iy0+ny, dates t0 until t0+nt. The bbox edges sit half a pixel outside
  * the outer pixel centres, so no centre lies on an edge. */
final case class Window(ix0: Int, iy0: Int, nx: Int, ny: Int, t0: Int, nt: Int) {
  import Store._
  require(ix0 >= 0 && iy0 >= 0 && ix0 + nx <= W && iy0 + ny <= H &&
    t0 >= 0 && t0 + nt <= Dates, s"window outside the store: $this")
  def west: Double = X0 + (ix0 - 0.5) * D
  def east: Double = X0 + (ix0 + nx - 0.5) * D
  def south: Double = Y0 + (iy0 - 0.5) * D
  def north: Double = Y0 + (iy0 + ny - 0.5) * D
  def pixels: Long = nx.toLong * ny
  def extentJson: String =
    s"""{"west":$west,"south":$south,"east":$east,"north":$north,"crs":4326}"""
  def from: String = date(t0).toString
  def to: String = date(t0 + nt).toString
  def temporalJson: String = s"""["$from","$to"]"""
}

object Window {
  /** A window of nx×ny pixels and nt dates at a seeded position inside one
    * tile, so every window of a size reads the same number of files. */
  def random(rng: java.util.SplittableRandom, nx: Int, ny: Int, nt: Int): Window = {
    def start(n: Int, size: Int): Int =
      rng.nextInt(size / Store.TileCells) * Store.TileCells +
        rng.nextInt(Store.TileCells - n + 1)
    Window(start(nx, Store.W), start(ny, Store.H), nx, ny,
      rng.nextInt(Store.Dates - nt + 1), nt)
  }
}
