package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One HTTP request of a client stream. `kind` names the route class
  * the statistics are kept per ("tile", "ts.point", ...). */
final case class Req(kind: String, method: String, path: String,
                     body: String = "")

/** One completed request. Times are ns relative to the start of the
  * timed phase; `pngW`/`pngH` are the IHDR dimensions of an image reply
  * (-1 when the body is not a PNG). */
final case class Sample(client: Int, seq: Int, req: Req, startNs: Long,
                        endNs: Long, status: Int, contentType: String,
                        pngW: Int, pngH: Int, bytes: Int,
                        body: Array[Byte])

/** Seeded request generation. Everything a client sends is produced
  * here before the server starts; the server only sees the requests. */
object Streams {

  val Palettes: Seq[String] = Seq("viridis", "plasma", "jet")
  /** Tile key space: every (dataset, variable, time, z, x, y, style),
    * a style being one of the palettes with the value range 0 to one of
    * `rangeMaxima`. */
  def tileKeys(datasets: Seq[String], variables: Seq[String],
               timeLabels: Seq[String], grid: graft.grid.TileGrid,
               rangeMaxima: Seq[Int]): IndexedSeq[Req] =
    (for {
      ds <- datasets; v <- variables; t <- timeLabels
      z <- 0 until grid.numLevels
      x <- 0 until (grid.numLevelZeroTilesX << z)
      y <- 0 until (grid.numLevelZeroTilesY << z)
      cb <- Palettes; vmax <- rangeMaxima
    } yield Req("tile", "GET", s"/datasets/$ds/vars/$v/tiles/$z/$x/$y.png" +
      s"?time=$t&cbar=$cb&vmin=0&vmax=$vmax")).toIndexedSeq

  /** Zipf(s) over keys listed most popular first. */
  final class Zipf(val ranked: IndexedSeq[Req], s: Double) {
    private val cdf = {
      val w = Array.tabulate(ranked.length)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: SplittableRandom): Req = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      ranked(math.min(i, ranked.length - 1))
    }
  }

  /** Popularity ranks from a seeded permutation within each cost class
    * (`cls`), the classes interleaved in proportion to their sizes: the
    * seed changes which tiles are hot, while every seed puts the same
    * mix of classes at every depth of the popularity curve. */
  def ranked(keys: IndexedSeq[Req], rnd: SplittableRandom,
             cls: Req => String): IndexedSeq[Req] =
    keys.groupBy(cls).toSeq.sortBy(_._1).flatMap { case (c, ks) =>
      val a = ks.toArray
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toSeq.zipWithIndex.map { case (k, i) => ((i + 0.5) / a.length, c, k) }
    }.sortBy(t => (t._1, t._2)).map(_._3).toIndexedSeq

  /** One tile client's requests: Zipf over the hot set, except that
    * every `coldEvery`-th request (from a per-client phase) takes the
    * next key of this client's cold list, which no one has requested
    * before. The miss share is therefore fixed, and the run measures a
    * steady hit/miss mix rather than a cache that is still filling. */
  final class TileStream(r: SplittableRandom, hot: Zipf, cold: IndexedSeq[Req],
                         coldEvery: Int, phase: Int) extends Iterator[Req] {
    private var n = 0
    private var c = 0
    def hasNext: Boolean = true
    def next(): Req = {
      n += 1
      if (coldEvery > 0 && n % coldEvery == phase && c < cold.size) {
        c += 1; cold(c - 1)
      } else hot.draw(r)
    }
  }

  /** A convex polygon: `n` vertices at sorted random angles on an
    * ellipse of the given half-axes, closed ring, GeoJSON coordinates. */
  def polygon(r: SplittableRandom, cx: Double, cy: Double, ax: Double,
              ay: Double, n: Int): String = {
    val angles = Array.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
    val pts = angles.map(a => (cx + ax * math.cos(a), cy + ay * math.sin(a)))
    val ring = (pts :+ pts.head).map { case (x, y) => s"[$x,$y]" }
    s"""{"type":"Polygon","coordinates":[[${ring.mkString(",")}]]}"""
  }

  /** A polygon of the given span (degrees) inside the cube's extent. */
  def zonePolygon(r: SplittableRandom, b: graft.geo.Geo.BBox,
                  span: Double): String = {
    val ax = math.min(span, b.xMax - b.xMin - 0.2) / 2
    val ay = math.min(span * (0.5 + r.nextDouble() * 0.5),
      b.yMax - b.yMin - 0.2) / 2
    val cx = b.xMin + 0.1 + ax + r.nextDouble() * (b.xMax - b.xMin - 0.2 - 2 * ax)
    val cy = b.yMin + 0.1 + ay + r.nextDouble() * (b.yMax - b.yMin - 0.2 - 2 * ay)
    polygon(r, cx, cy, ax, ay, 5 + r.nextInt(4))
  }

  /** Place-group features registered in setup (polygons of 1–8°). */
  def placeFeatures(r: SplittableRandom, b: graft.geo.Geo.BBox,
                    n: Int): IndexedSeq[String] =
    (0 until n).map(i =>
      s"""{"type":"Feature","properties":{"name":"zone$i"},""" +
        s""""geometry":${zonePolygon(r, b, 1.0 + 7.0 * i / n)}}""")

  /** One analytics client's requests: 50 % point, 30 % geometry, 10 %
    * geometries (5 polygons), 10 % places (5 features of the registered
    * group), in a fixed 10-request cycle that each client enters at its
    * own offset. Polygon spans run through 1–8° on a low-discrepancy
    * sequence from a seeded start, so every run sees the same mix of
    * request kinds and sizes while points and shapes change with the
    * seed. */
  final class TsStream(r: SplittableRandom, offset: Int, ds: String,
                       variables: Seq[String], b: graft.geo.Geo.BBox,
                       places: IndexedSeq[String]) extends Iterator[Req] {
    private val cycle = Seq("point", "geometry", "point", "geometry",
      "point", "geometries", "point", "geometry", "point", "places")
    private var n = offset
    private var u = r.nextDouble()
    private def span(): Double = {
      u = (u + 0.6180339887498949) % 1.0
      1.0 + 7.0 * u
    }
    def hasNext: Boolean = true
    def next(): Req = {
      val kind = cycle(n % cycle.size)
      n += 1
      val v = variables(r.nextInt(variables.size))
      kind match {
        case "point" =>
          val lon = b.xMin + r.nextDouble() * (b.xMax - b.xMin)
          val lat = b.yMin + r.nextDouble() * (b.yMax - b.yMin)
          Req("ts.point", "GET", s"/ts/$ds/$v/point?lon=$lon&lat=$lat")
        case "geometry" =>
          Req("ts.geometry", "POST", s"/ts/$ds/$v/geometry",
            zonePolygon(r, b, span()))
        case "geometries" =>
          Req("ts.geometries", "POST", s"/ts/$ds/$v/geometries",
            """{"type":"GeometryCollection","geometries":[""" +
              Seq.fill(5)(zonePolygon(r, b, span())).mkString(",") + "]}")
        case _ =>
          Req("ts.places", "POST", s"/ts/$ds/$v/places",
            """{"type":"FeatureCollection","features":[""" +
              Seq.fill(5)(places(r.nextInt(places.size))).mkString(",") + "]}")
      }
    }
  }
}

/** Closed-loop client: one thread, one keep-alive connection, sends its
  * next request `thinkMs` after the previous reply has been read. */
final class Client(id: Int, base: String, stream: Iterator[Req],
                   t0: Long, until: Long, keepBody: Req => Boolean,
                   thinkMs: Int = 0) extends Runnable {
  val samples = new scala.collection.mutable.ArrayBuffer[Sample]()
  @volatile var failure: Option[Throwable] = None

  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .executor((r: Runnable) => r.run())
    .build()

  def run(): Unit = {
    var seq = 0
    try while (System.nanoTime() < until && stream.hasNext) {
      val req = stream.next()
      val b = HttpRequest.newBuilder(URI.create(base + req.path))
        .timeout(java.time.Duration.ofSeconds(60))
      val hr =
        if (req.method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(
          req.body, StandardCharsets.UTF_8)).build()
        else b.GET().build()
      val s = System.nanoTime()
      val (status, ctype, body) =
        try {
          val resp = http.send(hr, HttpResponse.BodyHandlers.ofByteArray())
          (resp.statusCode(),
            resp.headers().firstValue("Content-Type").orElse(""), resp.body())
        } catch {
          case _: java.net.http.HttpTimeoutException => (-1, "", Array.emptyByteArray)
        }
      val e = System.nanoTime()
      if (s >= t0) {
        val (w, h) = Client.pngSize(body)
        samples += Sample(id, seq, req, s - t0, e - t0, status, ctype, w, h,
          body.length, if (keepBody(req)) body else null)
      }
      seq += 1
      if (thinkMs > 0) Thread.sleep(thinkMs)
    } catch { case t: Throwable => failure = Some(t) }
  }
}

/** A tile request's parameters, parsed back from its path. */
final case class TileReq(ds: String, v: String, z: Int, x: Int, y: Int,
                         time: String, cbar: String, vmin: Double,
                         vmax: Double) {
  def timeUs: Long = java.time.Instant.parse(time).toEpochMilli * 1000L
  def mapping: graft.render.Render.ColorMapping =
    graft.render.Render.ColorMapping(vmin, vmax,
      graft.render.ColorMaps.paletteOrDefault(cbar))
}

object TileReq {
  private val Re =
    """/datasets/(\w+)/vars/(\w+)/tiles/(\d+)/(\d+)/(\d+)\.png\?time=([^&]+)&cbar=(\w+)&vmin=([0-9.]+)&vmax=([0-9.]+)""".r
  def parse(path: String): TileReq = path match {
    case Re(ds, v, z, x, y, t, cb, lo, hi) =>
      TileReq(ds, v, z.toInt, x.toInt, y.toInt, t, cb, lo.toDouble, hi.toDouble)
  }
}

object Client {
  private val PngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10)

  /** (width, height) from a PNG's IHDR chunk, or (-1, -1). */
  def pngSize(b: Array[Byte]): (Int, Int) =
    if (b.length < 24 || !b.take(8).sameElements(PngMagic)) (-1, -1)
    else {
      val bb = java.nio.ByteBuffer.wrap(b)
      (bb.getInt(16), bb.getInt(20))
    }
}
