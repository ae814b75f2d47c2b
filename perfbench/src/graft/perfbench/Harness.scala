package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cube.{Cube, CubeGrid, CubeIngest}
import graft.server.{GraftServer, Perf, RegisteredDataset, ServiceContext}

/** Benchmark harness: sets the engine up, drives its HTTP server from
  * closed-loop clients in this JVM, and writes the raw samples (plus,
  * when traced, per-layer figures and spans) into an output directory.
  * `perfbench/run.py` builds this, runs it, checks the answers and
  * reduces the samples to metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <cpus> <outDir>
  *          <zarrCacheDir>
  *
  * The workload `zarr` writes the cube's zarr levels into `zarrCacheDir`
  * and exits; `tiles` runs serve them from there.
  */
object Harness {

  /** Half the reference demo cube's 2000×1000 (5 steps), at 0.02° so
    * it spans 20°×10°; see perfbench/README.md for why. */
  val Grid: CubeGrid = CubeGrid(1000, 500, 0.0, 40.0, 0.02)
  val Variables: Seq[String] = Seq("conc_chl", "conc_tsm")
  val NumTimes = 5
  val NanEvery = 10
  /** `tiles` requests 16 value ranges per palette (48 styles per tile):
    * 9,600 keys, so the never-seen stream below lasts a run at three
    * times the fastest tile rate seen, while every PNG still fits the
    * server's 512 MB tile cache; `mixed` requests one range. */
  val TilesRangeMaxima: Seq[Int] = 60 to 135 by 5
  /** the hot set: the most popular keys, rendered before the clients
    * start. A hit costs the same whichever cached key it is, so its size
    * sets only the untimed pre-render and the cache's heap. */
  val HotKeys = 60
  /** On `tiles` every 10th request is instead a key never requested
    * before, so the miss share stays fixed through the run: 1 in 10 is
    * the mean miss share of a Zipf(1.1) stream over every key of the
    * reference demo cube (2 stores × 2 variables × 5 times × 42 tiles ×
    * 3 palettes = 2,520 keys, a cache that never evicts) over its
    * requests 3,000–9,000, a reference point perfbench/README.md
    * explains. `mixed` requests the hot set only. */
  val ColdEvery = 10
  /** `mixed`'s tile clients pause 5 ms between tiles, which bounds the
    * load they offer; this is a chosen figure, not a measured viewer
    * think time (perfbench/README.md). */
  val MixedThinkMs = 5
  /** never-seen tiles per `tiles` client whose bodies are kept, from the
    * start of the timed phase, for the pixel check */
  val ColdChecksPerClient = 3
  /** client traffic before the timed phase (after the hot set is
    * rendered) */
  val WarmupSeconds = 8.0
  /** The first repeat pays Spark's first compile of the ingest plans
    * (about 1.5 times a warm repeat; an untimed ingest of a smaller cube
    * first did not take that away), so `setup_s`, the median of three,
    * is a warm repeat. */
  val SetupRepeats = 3
  val PlaceFeatures = 40

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cpus: Int, out: Path, zarrCache: Path)

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4).toInt, Paths.get(args(5)), Paths.get(args(6)))
    Files.createDirectories(o.out)
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded status bookkeeping, so the retained heap measures the
      // engine's caches rather than how many jobs a run happened to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try { new Run(spark, o).run(); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    spark.stop()
    // the JDK HttpClient and server pools keep non-daemon threads
    System.exit(code)
  }
}

final class Run(spark: SparkSession, o: Harness.Opts) {
  import Harness._

  private val trace = o.trace
  private val spans = new Spans
  private val perf = new PerfCapture
  private val sparkMeter = new SparkMeter
  private val phaseMeter = new PhaseMeter
  private val jvm = new JvmMeter
  private val summary = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** JVM uptime (s) at the end of each phase, for the run record */
  private def mark(phase: String): Unit = phases(phase) =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  // the input cube is generated and materialized before any timing
  private val cube = {
    val c = Cube.synthetic(spark, Grid, NumTimes, Variables, NanEvery)
    c.copy(df = c.df.persist())
  }
  summary("cube_rows") = cube.df.count()
  mark("cube")
  private val bbox = Grid.bbox
  private val timeLabels = (0 until NumTimes).map(t =>
    java.time.LocalDate.parse("2017-01-01").plusDays(t).toString + "T00:00:00Z")
  private val style = Some(graft.model.StyleConfig("bench", Map(
    "conc_chl" -> graft.model.ColorMappingConfig("plasma", (0.0, 100.0)),
    "conc_tsm" -> graft.model.ColorMappingConfig("viridis", (0.0, 100.0)))))

  def run(): Unit = {
    if (o.workload == "zarr") return writeZarrCache()
    if (trace) {
      spark.sparkContext.addSparkListener(sparkMeter)
      spark.listenerManager.register(phaseMeter)
    }
    val ctx = new ServiceContext(spark)
    val withZarr = o.workload == "tiles"
    val (setupTimes, stores) = setup(ctx, SetupRepeats, withZarr)
    summary("setup_s") = setupTimes
    mark("setup")
    val rnd = new SplittableRandom(o.seed)
    val placeList = Streams.placeFeatures(rnd.split(), bbox, PlaceFeatures)
    if (o.workload == "mixed") registerPlaces(ctx, placeList)

    val srv = new GraftServer(ctx).start()
    if (trace) {
      Perf.sink = perf.sink
      srv.tracePerf = true
    }
    try drive(ctx, srv, rnd, placeList, stores)
    finally srv.stop()
    if (trace) {
      write("layers.json", Json.render(layers.toMap))
      writeSpans()
    }
    mark("done")
    summary("phases_uptime_s") = phases.toMap
    write("summary.json", Json.render(summary.toMap))
  }

  /** The cube's zarr levels (`ZarrStore.writeZarr` per pyramid level,
    * the engine's driver-side fixture writer), written by a process of
    * their own once per engine build, so that every measuring process
    * starts from the same state; `complete` records the write's seconds. */
  private def writeZarrCache(): Unit = {
    val base = o.zarrCache
    deleteTree(base)
    val levels = graft.operators.Pyramid.build(cube).map { l =>
      val p = l.copy(df = l.df.persist()); p.df.count(); p
    }
    val t0 = System.nanoTime()
    levels.zipWithIndex.foreach { case (lv, i) =>
      graft.sources.ZarrStore.writeZarr(lv, base.resolve(s"$i.zarr").toString)
    }
    Files.writeString(base.resolve("complete"),
      ((System.nanoTime() - t0) / 1e9).toString)
  }

  /** Set-up as a server operator pays it: ingest the cube into graft's
    * parquet levels and open them (plus the zarr levels on `tiles`),
    * `repeats` times into fresh directories; serve from the last. The
    * zarr levels are read from `zarrCache` (see `writeZarrCache`); their
    * write is outside the repeats.
    * Returns the per-repeat seconds and each dataset's level paths. */
  private def setup(ctx: ServiceContext, repeats: Int, withZarr: Boolean)
      : (Seq[Double], Map[String, Seq[String]]) = {
    val zPaths = if (!withZarr) Nil else {
      val complete = o.zarrCache.resolve("complete")
      require(Files.exists(complete), s"no zarr levels in ${o.zarrCache}")
      layers("sources.write_zarr_s") = Files.readString(complete).trim.toDouble
      val ls = Files.list(o.zarrCache)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".zarr")).toSeq.sortBy(_.stripSuffix(".zarr").toInt)
        .map(n => o.zarrCache.resolve(n).toString)
      finally ls.close()
    }
    var stores = Map.empty[String, Seq[String]]
    val times = (0 until repeats).map { k =>
      val dir = o.out.resolve(s"stores$k")
      zPaths.foreach(graft.sources.StoreCache.invalidate)
      val t0 = System.nanoTime()
      val (_, wl) = spans.timed("cube.write_levels")(
        CubeIngest.writeLevels(cube, s"$dir/cube.levels"))
      val (pq, op) = spans.timed("sources.open") {
        CubeIngest.openLevels(spark, s"$dir/cube.levels") ++
          zPaths.map(graft.sources.ZarrStore.openCube(spark, _))
      }
      val (pqLevels, zrLevels) = pq.splitAt(pq.size - zPaths.size)
      ctx.register(RegisteredDataset("pq", "parquet levels", pqLevels.head,
        style, levels = pqLevels))
      if (withZarr) ctx.register(RegisteredDataset("zr", "zarr levels",
        zrLevels.head, style, levels = zrLevels))
      val secs = (System.nanoTime() - t0) / 1e9
      if (k > 0) deleteTree(o.out.resolve(s"stores${k - 1}"))
      layers("cube.write_levels_s") = wl / 1e3
      layers("sources.open_s") = op / 1e3
      stores = Map("pq" -> pqLevels.flatMap(_.storePath)) ++
        (if (withZarr) Map("zr" -> zPaths) else Map.empty)
      secs
    }
    (times, stores)
  }

  private def registerPlaces(ctx: ServiceContext,
                             feats: IndexedSeq[String]): Unit = {
    val p = o.out.resolve("places.geojson")
    Files.writeString(p, """{"type":"FeatureCollection","features":[""" +
      feats.mkString(",") + "]}")
    ctx.registerPlaces("zones",
      graft.operators.Places.loadGeoJson(spark, p.toString), "bench zones")
  }

  private def drive(ctx: ServiceContext, srv: GraftServer,
                    rnd: SplittableRandom, placeList: IndexedSeq[String],
                    stores: Map[String, Seq[String]]): Unit = {
    val datasets = stores.keys.toSeq.sorted
    val grid = ctx.dataset("pq").get.tileGrid
    val keys = Streams.tileKeys(datasets, Variables, timeLabels, grid,
      if (o.workload == "tiles") TilesRangeMaxima else Seq(100))
    // both workloads draw from a hot set rendered before the clients
    // start; `tiles` also sends a fixed share of never-seen keys. A
    // tile's cost class is its store and zoom level.
    def cls(r: Req): String = { val t = TileReq.parse(r.path); s"${t.ds}/${t.z}" }
    val byRank = Streams.ranked(keys, rnd.split(), cls)
    val hot = new Streams.Zipf(byRank.take(HotKeys), 1.1)
    val cold = byRank.drop(HotKeys)
    fetchAll(srv, hot.ranked)
    // pixel-check sample: seeded keys among the most popular ones, so
    // every run requests them (served from the tile cache), and on
    // `tiles` each client's first never-seen tiles of the timed phase
    // (rendered while the clients run)
    val checkRnd = rnd.split()
    val checkKeys = Streams.ranked(byRank.take(20), checkRnd, _ => "")
      .take(4).toSet
    val nTile = if (o.workload == "tiles") o.cpus else math.max(1, o.cpus / 2)
    val nTs = if (o.workload == "mixed") o.cpus - nTile else 0
    val coldEvery = if (o.workload == "tiles") ColdEvery else 0
    val colds = (0 until nTile).map(i =>
      if (coldEvery == 0) IndexedSeq.empty[Req]
      else cold.indices.filter(_ % nTile == i).map(cold))
    val streams: Seq[Iterator[Req]] =
      (0 until nTile).map { i =>
        new Streams.TileStream(rnd.split(), hot, colds(i), coldEvery,
          i % math.max(1, coldEvery))
      } ++
      (0 until nTs).map { i =>
        new Streams.TsStream(rnd.split(), i * 5, "pq", Variables, bbox,
          placeList)
      }
    summary("clients") = Map("tile" -> nTile, "ts" -> nTs)
    summary("tile_keys") = keys.size

    val t0 = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    val until = t0 + (o.seconds * 1e9).toLong
    val kept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    /** which timed-phase reply bodies client `i` keeps: every analytics
      * answer, the check keys once, its first never-seen tiles */
    def keep(i: Int): Req => Boolean = {
      val coldSet = if (i < nTile) colds(i).toSet else Set.empty[Req]
      var coldKept = 0
      r => r.kind != "tile" || (checkKeys(r) && kept.add(r.path)) ||
        (coldSet(r) && { coldKept += 1; coldKept <= ColdChecksPerClient })
    }
    val clients = streams.zipWithIndex.map { case (s, i) =>
      new Client(i, srv.address, s, t0, until, keep(i),
        if (o.workload == "mixed" && i < nTile) MixedThinkMs else 0)
    }
    val threads = clients.map(c => new Thread(c))
    threads.foreach(_.start())
    // timed-phase meters start when the warm-up ends
    val startAt = t0 - System.nanoTime()
    if (startAt > 0) Thread.sleep(startAt / 1000000L)
    jvm.start()
    if (trace) { sparkMeter.reset(); phaseMeter.reset(); perf.records.clear() }
    threads.foreach(_.join())
    val wallNs = math.max(until, System.nanoTime()) - t0
    clients.flatMap(_.failure).foreach(throw _)
    val samples = clients.flatMap(_.samples)
    summary("timed_s") = (until - t0) / 1e9
    summary("wall_s") = wallNs / 1e9

    if (trace) {
      Thread.sleep(1000) // let the listener bus drain
      layers("jvm.gc_ms") = jvm.gcMs
      layers("jvm.heap_peak_mb") = jvm.heapPeakMb
    }
    // full collections, with a pause for Spark's cleaner to drop the
    // broadcasts and shuffles the first one released
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    summary("retained_heap_mb") = {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      m.getHeapMemoryUsage.getUsed / 1048576.0
    }
    mark("timed")
    writeSamples(samples)
    checkPixels(ctx, samples)
    mark("pixels")
    if (trace) traceLayers(ctx, samples, t0, stores)
  }

  /** Request every key once from `cpus` threads (not timed). */
  private def fetchAll(srv: GraftServer, keys: Seq[Req]): Unit = {
    val slices = keys.grouped(math.max(1, (keys.size + o.cpus - 1) / o.cpus))
    val cs = slices.map(sl => new Client(-1, srv.address, sl.iterator,
      Long.MaxValue, Long.MaxValue, _ => false)).toSeq
    val ts = cs.map(c => new Thread(c))
    ts.foreach(_.start()); ts.foreach(_.join())
    cs.flatMap(_.failure).foreach(throw _)
  }

  // ------------------------------------------------------------ output

  private def write(name: String, body: String): Unit =
    Files.writeString(o.out.resolve(name), body, StandardCharsets.UTF_8)

  private def writeSamples(samples: Seq[Sample]): Unit = {
    val w = Files.newBufferedWriter(o.out.resolve("samples.tsv"))
    try samples.foreach { s =>
      w.write(Seq(s.client, s.seq, s.req.kind, s.startNs, s.endNs, s.status,
        s.contentType, s.pngW, s.pngH, s.bytes).mkString("\t"))
      w.newLine()
    } finally w.close()
    // analytics answers, with their requests, for the closed-form check
    val ts = Files.newBufferedWriter(o.out.resolve("ts.jsonl"))
    try samples.filter(_.req.kind.startsWith("ts.")).foreach { s =>
      ts.write(Json.render(Map("kind" -> s.req.kind, "path" -> s.req.path,
        "body" -> s.req.body, "status" -> s.status,
        "response" -> new String(Option(s.body).getOrElse(Array.emptyByteArray),
          StandardCharsets.UTF_8))))
      ts.newLine()
    } finally ts.close()
  }

  /** Render each sampled tile again through the Spark path on the
    * in-memory cube and keep both PNGs for the pixel comparison. */
  private def checkPixels(ctx: ServiceContext, samples: Seq[Sample]): Unit = {
    val dir = o.out.resolve("pixels")
    Files.createDirectories(dir)
    val inMem = graft.operators.Pyramid.build(cube)
    val picked = samples.filter(s => s.body != null && s.req.kind == "tile")
    val rows = picked.zipWithIndex.map { case (s, i) =>
      val t = TileReq.parse(s.req.path)
      val d = ctx.dataset(t.ds).get
      val lv = inMem(math.max(0, math.min(inMem.length - 1,
        d.tileGrid.numLevels - 1 - t.z)))
      val ts = java.sql.Timestamp.from(java.time.Instant.parse(t.time))
      val ref = graft.render.Render.renderTile(lv, t.v, ts, t.x, t.y,
        256, 256, t.mapping, flipY = lv.grid.latAscending)
      Files.write(dir.resolve(s"served$i.png"), s.body)
      Files.write(dir.resolve(s"ref$i.png"), ref)
      Map("i" -> i, "path" -> s.req.path)
    }
    write("pixels.json", Json.render(Map("tiles" -> rows)))
  }

  // ----------------------------------------------------------- tracing

  /** Per-layer figures of the traced run: server stages from `Perf`,
    * replays of the tile misses through the source and render layers,
    * replays of each analytics request's mask and plan, Spark and
    * Catalyst accounting. */
  private def traceLayers(ctx: ServiceContext, samples: Seq[Sample],
                          t0: Long, stores: Map[String, Seq[String]]): Unit = {
    val records = perf.records.asScala.toSeq
    val byPrefix = records.groupBy(_.prefix).map { case (k, v) =>
      k -> scala.collection.mutable.Queue(v.sortBy(_.endNs): _*) }
    def mean(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // client spans, with the server's stages laid out backwards from
    // the moment its record completed
    val tileRec = scala.collection.mutable.ArrayBuffer.empty[(Sample, PerfRecord)]
    val tsRec = scala.collection.mutable.ArrayBuffer.empty[(Sample, PerfRecord)]
    val reqSpan = scala.collection.mutable.HashMap.empty[Sample, Long]
    samples.sortBy(_.endNs).foreach { s =>
      val req = s"${s.client}-${s.seq}"
      val id = spans.add(s"client.${s.req.kind}", t0 + s.startNs,
        t0 + s.endNs, 0, req)
      reqSpan(s) = id
      val prefix = perfPrefix(s.req)
      val rec = prefix.flatMap(byPrefix.get).flatMap { q =>
        q.dequeueFirst(r => r.endNs >= t0 + s.startNs && r.endNs <= t0 + s.endNs + 5000000L)
      }
      rec.foreach { r =>
        var end = r.endNs
        r.stages.reverse.foreach { case (stage, ms) =>
          val start = end - (ms * 1e6).toLong
          val layer = if (s.req.kind == "tile") "server.tile" else "server.ts"
          spans.add(s"$layer.$stage", start, end, id, req)
          end = start
        }
        if (s.req.kind == "tile") tileRec += ((s, r)) else tsRec += ((s, r))
      }
    }
    def stage(rs: Seq[(Sample, PerfRecord)], name: String): Double =
      mean(rs.flatMap(_._2.stages.collect { case (`name`, ms) => ms }))
    layers("server.tile.parse_ms") = stage(tileRec.toSeq, "parse")
    layers("server.tile.render_ms") = stage(tileRec.toSeq, "render")
    layers("server.tile.send_ms") = stage(tileRec.toSeq, "send")
    layers("server.tile.requests") = tileRec.size
    layers("server.tile.misses") = tileRec.count(!_._2.cacheHit)
    layers("server.tile_cache.hit_ratio") =
      if (tileRec.isEmpty) 0.0 else tileRec.count(_._2.cacheHit).toDouble / tileRec.size
    layers("server.ts.parse_ms") = stage(tsRec.toSeq, "parse")
    layers("server.ts.query_ms") = stage(tsRec.toSeq, "query")
    layers("server.ts.encode_ms") = stage(tsRec.toSeq, "encode")
    layers("server.ts.traced_requests") = tsRec.size
    val gaps = (tileRec ++ tsRec).toSeq.map { case (s, r) =>
      (s.endNs - s.startNs) / 1e6 - r.totalMs }
    layers("server.http_gap_ms") = mean(gaps)
    layers("server.unmatched_requests") = samples.size - tileRec.size - tsRec.size

    // Spark jobs of the timed phase, attributed to the one request in
    // flight when that is unambiguous
    val jobs = sparkMeter.jobs.filter(_.endNs > 0)
    val bySpan = samples.map(s => (s, t0 + s.startNs, t0 + s.endNs))
    jobs.foreach { j =>
      val owners = bySpan.filter { case (_, s, e) => j.startNs >= s && j.endNs <= e }
      val (parent, req) = owners match {
        case Seq((s, _, _)) => (reqSpan(s), s"${s.client}-${s.seq}")
        case _ => (0L, "")
      }
      spans.add("spark.job", j.startNs, j.endNs, parent, req)
    }
    val nReq = math.max(1, samples.size)
    val ts = samples.filter(_.req.kind.startsWith("ts."))
    val perReq = math.max(1, if (ts.nonEmpty) ts.size else samples.size)
    layers("spark.jobs") = jobs.size
    layers("spark.stages") = sparkMeter.stages.get.toDouble
    layers("spark.tasks") = sparkMeter.tasks.get.toDouble
    layers("spark.jobs_per_request") = jobs.size.toDouble / nReq
    layers("spark.executor_run_ms") = sparkMeter.runMs.get.toDouble / perReq
    layers("spark.executor_cpu_ms") = sparkMeter.cpuNs.get / 1e6 / perReq
    layers("spark.task_gc_ms") = sparkMeter.gcMs.get.toDouble / perReq
    layers("spark.shuffle_read_mb") = sparkMeter.shuffleRead.get / 1048576.0
    layers("spark.shuffle_write_mb") = sparkMeter.shuffleWrite.get / 1048576.0
    layers("spark.spill_mb") = sparkMeter.spill.get / 1048576.0
    val jobIv = jobs.map(j => (j.startNs, j.endNs))
    layers("spark.driver_gap_ms") = mean(ts.map { s =>
      val (a, b) = (t0 + s.startNs, t0 + s.endNs)
      (b - a - Intervals.covered(jobIv, a, b)) / 1e6 })
    val nq = math.max(1L, phaseMeter.queries.get)
    layers("catalyst.queries") = phaseMeter.queries.get.toDouble
    layers("catalyst.analysis_ms") = phaseMeter.ms("analysis") / nq
    layers("catalyst.optimization_ms") = phaseMeter.ms("optimization") / nq
    layers("catalyst.planning_ms") = phaseMeter.ms("planning") / nq

    replayTiles(ctx, tileRec.toSeq, stores)
    replayTs(ctx, ts)
  }

  private def perfPrefix(r: Req): Option[String] = r.kind match {
    case "tile" =>
      val p = r.path.split("[/?]")
      // /datasets/{ds}/vars/{v}/tiles/{z}/{x}/{y}.png?...
      Some(s"tile ${p(2)}.${p(4)}/${p(6)}/${p(7)}/${p(8).stripSuffix(".png")}")
    case "ts.point" => Some("GET " + r.path.takeWhile(_ != '?'))
    case "ts.geometry" => Some("POST " + r.path)
    case _ => None // fan-out routes carry no Perf trace
  }

  /** Each tile miss of the timed phase, replayed once (distinct window)
    * through the direct window read and the window renderer, with the
    * decoded-window cache emptied first. */
  private def replayTiles(ctx: ServiceContext,
                          tileRec: Seq[(Sample, PerfRecord)],
                          stores: Map[String, Seq[String]]): Unit = {
    val windows = tileRec.filter(!_._2.cacheHit)
      .map { case (s, _) => TileReq.parse(s.req.path) }
      .distinctBy(t => (t.ds, t.v, t.z, t.x, t.y, t.time)).take(400)
    stores.values.flatten.foreach(graft.sources.StoreCache.invalidate)
    var fallbacks = 0
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pngMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pngKb = scala.collection.mutable.ArrayBuffer.empty[Double]
    windows.foreach { t =>
      val d = ctx.dataset(t.ds).get
      val lv = d.levelSeq(math.max(0, math.min(d.levelSeq.length - 1,
        d.tileGrid.numLevels - 1 - t.z)))
      val (win, ms) = spans.timed("sources.window_read") {
        try graft.sources.DirectWindow.read(lv.storePath.get, t.v, t.timeUs,
          t.y * 256, t.x * 256, 256, 256)
        catch { case scala.util.control.NonFatal(e) =>
          val k = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          errors(k) = errors.getOrElse(k, 0) + 1
          None
        }
      }
      readMs += ms
      win match {
        case None => fallbacks += 1
        case Some(w) =>
          val (png, pms) = spans.timed("render.window_png")(
            graft.render.Render.renderWindow(w, 256, 256, t.mapping,
              flipY = lv.grid.latAscending))
          pngMs += pms
          pngKb += png.length / 1024.0
      }
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    layers("sources.window_reads") = windows.size
    layers("sources.window_read_ms") = mean(readMs.toSeq)
    layers("sources.window_read_fallbacks") = fallbacks
    layers("render.window_png_ms") = mean(pngMs.toSeq)
    layers("render.png_kb") = mean(pngKb.toSeq)
    summary("window_read_errors") = errors.toMap
  }

  /** Each analytics request of the timed phase, replayed through the
    * geometry mask and the time-series plan builder (no collect). */
  private def replayTs(ctx: ServiceContext, ts: Seq[Sample]): Unit = {
    val d = ctx.dataset("pq").get
    val g = d.cube.grid
    val maskMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val planMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    ts.foreach { s =>
      val v = s.req.path.split("[/?]")(3)
      val geoms: Seq[graft.geo.Geo.Geometry] = s.req.kind match {
        case "ts.point" => Nil
        case "ts.geometry" => Seq(graft.geo.Geo.parseGeoJson(s.req.body))
        case "ts.geometries" =>
          mapper.readTree(s.req.body).get("geometries").asScala.toSeq
            .map(n => graft.geo.Geo.parseGeoJson(n.toString))
        case _ =>
          mapper.readTree(s.req.body).get("features").asScala.toSeq
            .map(n => graft.geo.Geo.parseGeoJson(n.get("geometry").toString))
      }
      geoms.foreach { geom =>
        val (_, ms) = spans.timed("geo.mask", req = s"${s.client}-${s.seq}")(
          mask(g, geom))
        maskMs += ms
      }
      val (_, ms) = spans.timed("operators.ts_plan",
          req = s"${s.client}-${s.seq}") {
        s.req.kind match {
          case "ts.point" =>
            val q = s.req.path.split("\\?")(1).split("&")
              .map(_.split("=")).map(a => a(0) -> a(1).toDouble).toMap
            graft.operators.TimeSeries.point(d.cube, v, q("lon"), q("lat"))
          case "ts.geometry" => graft.operators.TimeSeries.zonal(d.cube, v,
            geoms.head)
          case _ => graft.operators.TimeSeries.zonalMany(d.cube, v, geoms)
        }
      }
      planMs += ms
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    layers("geo.mask_ms") = mean(maskMs.toSeq)
    layers("operators.ts_plan_ms") = mean(planMs.toSeq)
  }

  /** The zonal operator's mask call for one geometry (same window). */
  private def mask(g: CubeGrid, geom: graft.geo.Geo.Geometry): Unit = {
    val inter = g.bbox.intersection(geom.bbox).getOrElse(return)
    def clamp(v: Int, lo: Int, hi: Int) = math.max(lo, math.min(hi, v))
    val res = (g.latMax - g.latMin) / g.height
    val x1 = clamp(math.floor((inter.xMin - g.lonMin) / res).toInt, 0, g.width - 1)
    val x2 = clamp(math.ceil((inter.xMax - g.lonMin) / res).toInt + 1, 0, g.width - 1)
    val y1 = clamp(math.floor((g.latMax - inter.yMax) / res).toInt, 0, g.height - 1)
    val y2 = clamp(math.ceil((g.latMax - inter.yMin) / res).toInt + 1, 0, g.height - 1)
    if (x2 > x1 && y2 > y1)
      graft.geo.Geo.geometryMask(x2 - x1, y2 - y1, geom, g.lonMin + x1 * res,
        g.latMax - y2 * res, res)
  }

  private def writeSpans(): Unit = {
    val w = Files.newBufferedWriter(o.out.resolve("spans.jsonl"))
    try spans.all.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":"${s.req}"}""")
      w.newLine()
    } finally w.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.server.Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) =>
      graft.server.Json.str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => graft.server.Json.str(other.toString)
  }
}
