package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.grid.{FracRow, FracRowBytes, FractionStore, GridHeader, GridPipeline, IncrementalAppend}
import graft.sources.{Hdf4, Ingest}

/** Command line of one benchmark run (see run.py). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String, cores: Int)

/** Benchmark entry point: one workload, one seed, one process, one
  * client thread. Writes the result (metrics, checks, span dump) as JSON
  * files for run.py to print. */
object Main {
  val Workloads = Seq("date_append", "region_queries")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.get("selftest").contains("1")) { SelfTest.run(); return }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv("cores").toInt)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, o).apply()
    finally spark.stop()
  }
}

/** One unit of timed work (an append round or a block of queries): wall seconds, engine-call latencies, pixel-values
  * written or covered, JVM GC seconds, and whether it was traced. */
final case class Work(wallS: Double, callMs: Seq[Double], pxValues: Long,
                      traced: Boolean, gcS: Double = 0)

final class Run(spark: SparkSession, o: Opts) {
  private val spec = Spec.default(o.seed)
  private val tracer = new Tracer(spark.sparkContext, o.trace)
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val work = Paths.get(o.work)

  /** Count one checked operation; a thrown exception or a list of
    * problems is a failure that is recorded, never rethrown. */
  private def checked(what: String)(body: => Seq[String]): Boolean = {
    attempted += 1
    val problems =
      try body
      catch { case NonFatal(e) => Seq(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) errors += problems.mkString("; ").take(600)
    problems.isEmpty
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  private def log(msg: String): Unit = System.err.println(f"[graftbench ${secs(born)}%7.2f] $msg")

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  private def parquetBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  /** One generated cube and the engine calls that build, grow and query
    * stores of it under `dir`. */
  private final class Grid(val spec: Spec, dir: Path) {
    val gen = new Gen(spec)
    lazy val cube = new Cube(gen)
    val ts: Seq[Long] = (0 until spec.allDates).map(gen.timestampMs)
    val landing: Path = dir.resolve("landing")
    val pxPerDate: Long = spec.width.toLong * spec.height

    private def header(name: String, dtype: String, nodata: Double, nd: Int) =
      GridHeader(name, spec.width, spec.height, spec.frac, spec.frac, spec.fracND,
        dtype, "sinusoidal", Geo.geot, ts.take(nd), nodata)
    def hN(nd: Int): GridHeader = header("ndvi", "int16", Gen.NdviNodata, nd)
    def hQ(nd: Int): GridHeader = header("qa", "uint16", Gen.QaNodata, nd)
    def hM(nd: Int): GridHeader = header("masked", "int16", Gen.NdviNodata, nd)

    def roots(store: Path): (String, String, String) =
      (store.resolve("ndvi").toString, store.resolve("qa").toString,
        store.resolve("masked").toString)

    /** Landing directory: one deflated two-SDS HDF4 file per date, named
      * `<x0>_<y0>_<t0>.hdf` as the engine's ingest expects. */
    def writeLanding(): Unit = {
      rmrf(landing)
      Files.createDirectories(landing)
      val pool = Executors.newFixedThreadPool(o.cores)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = (0 until spec.nDates).map { t =>
          Future {
            val bytes = Hdf4.writeSds(Seq(
              Hdf4.Sds(Gen.NdviSds, Seq(spec.height, spec.width), "int16", cube.plane(0, t)),
              Hdf4.Sds(Gen.QaSds, Seq(spec.height, spec.width), "uint16", cube.plane(1, t))),
              deflateLevel = 1)
            Files.write(landing.resolve(s"0_0_$t.hdf"), bytes)
          }
        }
        fs.foreach(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }

    /** Run the masking pipeline over a store set of `nd` dates, where
      * `fresh` chunks have inputs it has not seen. A lazy run must
      * compute exactly those; a `forceAll` run recomputes every chunk.
      * Returns the latency in ms and records a failure unless the
      * pipeline computed the expected number of chunks. */
    def runPipeline(store: Path, nd: Int, fresh: Long, forceAll: Boolean = false): Double = {
      val (n, q, m) = roots(store)
      val expected = if (forceAll) spec.fracsX * spec.fracsY * spec.timeChunks(nd).toLong else fresh
      val (computed, ms) = timed(tracer.span("pipeline.run", "pipeline") {
        val c = new GridPipeline(Seq((hN(nd), n), (hQ(nd), q)), hM(nd), m, forceAll)
          .run(spark)(Masking.apply)
        tracer.note("chunks_computed", c.toDouble)
        tracer.note("chunks_new", fresh.toDouble)
        c
      })
      checked("pipeline recompute set") {
        if (computed == expected) Nil else Seq(s"pipeline computed $computed chunks, expected $expected")
      }
      ms
    }

    /** NDVI and QA stores written straight from the generator through
      * the engine's store writer, without a landing directory. */
    def writeStores(store: Path): Unit = {
      rmrf(store)
      val (n, q, _) = roots(store)
      Seq((0, hN(spec.nDates), n), (1, hQ(spec.nDates), q)).foreach { case (band, h, root) =>
        FractionStore.write(spark, h, chunkRows(band), root)
      }
    }

    /** Every chunk of one band of the 23-date store, payload packed as
      * little-endian 16-bit values in [y][x][t] order. */
    private def chunkRows(band: Int): DataFrame = {
      import spark.implicits._
      val (g, sp) = (gen, spec)
      val keys = for (fy <- 0 until sp.fracsY; fx <- 0 until sp.fracsX;
                      tc <- 0 until sp.timeChunks(sp.nDates)) yield (fx, fy, tc)
      keys.toDS().map { case (fx, fy, tc) =>
        val (x0, y0, t0) = (fx * sp.frac, fy * sp.frac, tc * sp.fracND)
        val w = math.min(sp.frac, sp.width - x0)
        val h = math.min(sp.frac, sp.height - y0)
        val nd = math.min(sp.fracND, sp.nDates - t0)
        val data = new Array[Byte](2 * w * h * nd)
        var i = 0
        for (y <- y0 until y0 + h; x <- x0 until x0 + w; t <- t0 until t0 + nd) {
          val v = g.band(band, x, y, t)
          data(2 * i) = v.toByte
          data(2 * i + 1) = (v >> 8).toByte
          i += 1
        }
        FracRowBytes(fy * sp.fracsX + fx, tc, fx, fy, x0, y0, t0, w, h, nd, data)
      }.toDF()
    }

    /** The worldgrid build: ingest the landing directory into the NDVI
      * and QA stores, then derive the masked grid. */
    def build(store: Path): Unit = {
      rmrf(store)
      val (n, q, _) = roots(store)
      tracer.span("ingest", "sources") {
        Ingest.ingestHdf4DirAlignedMulti(spark, landing.toString,
          Seq((hN(spec.nDates), Gen.NdviSds, n), (hQ(spec.nDates), Gen.QaSds, q)))
      }
      runPipeline(store, spec.nDates, spec.fracsX * spec.fracsY * spec.timeChunks(spec.nDates))
    }

    /** Check stores of the bands `bands` (0 NDVI, 1 QA, 2 masked). */
    def checkStores(store: Path, nd: Int, bands: Seq[Int] = Seq(0, 1, 2)): Unit = {
      val (n, q, m) = roots(store)
      bands.foreach { b =>
        checked(s"store ${Gen.Bands(b)}")(StoreCheck.check(spark, Seq(n, q, m)(b), gen, b, nd))
      }
    }

    def bytesPerPx(store: Path, nd: Int, bands: Int = 3): Double =
      parquetBytes(store).toDouble / (bands * pxPerDate * nd)

    /** New dates' pixels (x, y, t local to the new dates, value), held in
      * memory before timing so the timed part is the append itself. */
    lazy val newPixels: Seq[DataFrame] = Seq(0, 1).map { band =>
      import spark.implicits._
      val (g, w, n0, plane) = (gen, spec.width, spec.nDates, pxPerDate)
      val df = spark.range(plane * spec.appendDates)
        .map { i =>
          val px = (i % plane).toInt
          val t = (i / plane).toInt
          (px % w, px / w, t, g.band(band, px % w, px / w, n0 + t))
        }.toDF("x", "y", "t", "value")
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }

    /** Append the new dates to both bands, then bring the derived grid
      * up to date. Returns the two `appendDates` latencies in ms. */
    def appendRound(store: Path): Seq[Double] = {
      val (n, q, _) = roots(store)
      val nAll = spec.allDates
      val c0 = spec.nDates / spec.fracND
      val a = Seq(n, q).zip(newPixels).map { case (root, px) =>
        timed(tracer.span("appendDates", "append") {
          IncrementalAppend.appendDates(spark, root, ts.drop(spec.nDates), px)
        })._2
      }
      // the derived grid's chunks that read the rewritten tail are stale,
      // and a lazy resume skips every chunk that exists in the output
      // whatever its inputs did: re-derive the whole grid (forceAll)
      runPipeline(store, nAll, spec.fracsX * spec.fracsY * (spec.timeChunks(nAll) - c0),
        forceAll = true)
      a
    }

    def queryStores(store: Path): Queries.Stores = {
      val (n, q, _) = roots(store)
      Queries.Stores((hN(spec.nDates), n), (hQ(spec.nDates), q),
        Geo.dstHeader(spec, ts.take(spec.nDates)))
    }

    /** Plan and execute one query; returns its answer and latency in ms. */
    def runQuery(s: Queries.Stores, query: Query): (Queries.Answer, Double) =
      tracer.span(query.kind, Queries.layerOf(query.kind), query.id) {
        val t0 = System.nanoTime()
        val df = tracer.span("plan", "store") {
          val d = Queries.plan(spark, s, query)
          d.queryExecution.executedPlan
          d
        }
        val ans = tracer.span("execute", Queries.layerOf(query.kind)) {
          Queries.execute(df, query, spec.seed)
        }
        tracer.note("needed_chunks", Run.neededChunks(spec, query).toDouble)
        (ans, (System.nanoTime() - t0) / 1e6)
      }
  }

  private val grid = new Grid(spec, work)

  // ---- units of work -----------------------------------------------------

  private val units = mutable.ArrayBuffer.empty[Work]
  private var setupS = 0.0
  private var storeBytesPerPx = 0.0

  /** Repeat units until `seconds` have passed and the minimum counts are
    * met; in a traced run, units alternate untraced and traced. */
  private def loop(minUnits: Int)(unit: (Int, Boolean) => Work): Unit = {
    val t0 = System.nanoTime()
    val need = if (o.trace) 2 * math.max(2, minUnits / 2) else minUnits
    var i = 0
    while (i < need || secs(t0) < o.seconds) {
      val traced = o.trace && i % 2 == 1
      tracer.paused = !traced
      tracer.unit = i
      val gc0 = Tracer.gcSeconds()
      units += unit(i, traced).copy(gcS = Tracer.gcSeconds() - gc0)
      log(f"unit $i${if (traced) " (traced)" else ""}: ${units.last.wallS}%.3f s")
      tracer.paused = false
      tracer.unit = -1
      i += 1
    }
  }

  /** Set up `passes` times and keep the median pass: the first is the
    * JVM's first engine work (class loading, JIT), the later ones repeat
    * the same work warm. */
  private def setup(passes: Int)(pass: => Unit): Unit = {
    val ts = (1 to passes).map { i =>
      val t0 = System.nanoTime()
      pass
      val s = secs(t0)
      log(f"setup pass $i: $s%.2f s")
      s
    }
    setupS = Stats.median(ts)
  }

  /** Untimed warm-up with spans off: the first calls of a JVM pay for
    * class loading, JIT and Spark code generation. */
  private def warmUp(body: => Unit): Unit = {
    tracer.paused = true
    try body finally tracer.paused = false
    log("warm-up done")
  }

  private def fileDigests(dir: Path): Map[String, (Long, Long)] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val crc = new java.util.zip.CRC32C()
      crc.update(Files.readAllBytes(p))
      dir.relativize(p).toString -> (Files.size(p), crc.getValue)
    }.toMap

  private def copyTree(from: Path, to: Path): Unit = {
    rmrf(to)
    Files.walk(from).iterator().asScala.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def dateAppend(): Unit = {
    val pristine = work.resolve("pristine")
    // the landing directory is input, written once; set-up times the
    // engine's build from it
    grid.writeLanding()
    setup(3)(grid.build(pristine))
    grid.checkStores(pristine, spec.nDates)
    val digests = fileDigests(pristine)
    grid.newPixels
    val live = work.resolve("live")
    // one untimed round: the first append of a JVM pays for class
    // loading and JIT
    warmUp { copyTree(pristine, live); grid.appendRound(live) }
    loop(4) { (i, traced) =>
      copyTree(pristine, live)
      checked("restored store is byte-identical") {
        if (fileDigests(live) == digests) Nil else Seq("restored store differs from the pristine copy")
      }
      val t0 = System.nanoTime()
      val calls = grid.appendRound(live)
      val wall = secs(t0)
      grid.checkStores(live, spec.allDates)
      storeBytesPerPx = grid.bytesPerPx(live, spec.allDates)
      Work(wall, calls, 2 * grid.pxPerDate * spec.appendDates, traced)
    }
  }

  private var zonalTested = 0.0
  private var zonalInside = 0.0

  def regionQueries(): Unit = {
    val k = Queries.Block.length
    val stores = work.resolve("stores")
    // passes of 1-2 s, so two more than date_append's 4-5 s ones: the
    // median of two warm passes moved by a third between runs
    setup(5)(grid.writeStores(stores))
    grid.checkStores(stores, spec.nDates, Seq(0, 1))
    storeBytesPerPx = grid.bytesPerPx(stores, spec.nDates, bands = 2)
    val s = grid.queryStores(stores)
    // one query of each slot of a block outside the measured stream: with
    // one small query per kind, the first timed block still ran 20-40%
    // slower than the later ones
    warmUp(Queries.Block.zipWithIndex.foreach { case (slot, i) =>
      grid.runQuery(s, Queries.make(grid.gen, 1000000 + i, slot))
    })
    // 4 blocks of 14: the 56 latencies put 11 samples beyond the p80,
    // the highest percentile with at least 10 (100 for a p90 would not
    // fit the run budget: each query costs 0.2-1.1 s whatever its size)
    loop(4) { (b, traced) =>
      val qs = (b * k until (b + 1) * k).map(Queries.make(grid.gen, _))
      val ms = qs.map { query =>
        var ms = 0.0
        checked(s"query ${query.id} ${query.kind}") {
          val (ans, t) = grid.runQuery(s, query)
          ms = t
          log(f"query ${query.id} ${query.kind}${if (query.large) " large" else ""}: $ms%.1f ms")
          Expect.check(grid.cube, query, ans, s.dst).toSeq
        }
        ms
      }
      if (traced) qs.filter(_.kind == "polygon_zonal").foreach { z =>
        // pixels the containment test ran on vs pixels inside a region
        val bb = Run.neededWindow(spec, z)
        zonalTested += (bb._2 - bb._1).toDouble * (bb._4 - bb._3) * (z.t1 - z.t0)
        zonalInside += z.polys.map(p => Expect.regionPixels(grid.cube, p._2).length).sum.toDouble *
          (z.t1 - z.t0)
      }
      // a closed loop with one client: the block's wall is its queries'
      // latencies, without the oracle's time between them
      Work(ms.sum / 1e3, ms, qs.map(_.pxValues).sum, traced)
    }
  }

  // ---- reporting ---------------------------------------------------------

  def apply(): Unit = {
    o.workload match {
      case "date_append" => dateAppend()
      case "region_queries" => regionQueries()
    }
    val plain = units.filterNot(_.traced).toSeq
    val calls = plain.flatMap(_.callMs)
    val isQ = o.workload == "region_queries"
    // on date_append the calls are the timed rounds' appendDates calls,
    // too few for a tail: nearest-rank p50 and p80 of those few calls
    val e2e = Seq(
      "setup_s" -> setupS,
      "run_s" -> Stats.median(plain.map(_.wallS)),
      "mpx_per_s" -> plain.map(_.pxValues).sum / plain.map(_.wallS).sum / 1e6,
      "query_p50_ms" -> Stats.percentile(calls, 50, if (isQ) 10 else 0).getOrElse(Double.NaN),
      "query_p80_ms" -> Stats.percentile(calls, 80, if (isQ) 10 else 0).getOrElse(Double.NaN),
      "store_bytes_per_px" -> storeBytesPerPx)
    tracer.drain()
    val layers =
      if (o.trace) Layers.metrics(tracer, units.toSeq,
        spec.width.toDouble * spec.height * spec.appendDates, zonalTested, zonalInside)
      else Nil
    val samples = Seq("units" -> plain.length.toDouble, "query_samples" -> calls.length.toDouble)
    val info = Seq(
      "spark_version" -> Json.str(spark.version),
      "task_threads" -> o.cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "width" -> spec.width.toString, "height" -> spec.height.toString,
      "dates" -> spec.nDates.toString, "chunk" -> Json.str(s"${spec.frac}x${spec.frac}x${spec.fracND}"))
    def obj(m: Seq[(String, Double)]) = Json.obj(m.map { case (k, v) => k -> Json.num(v) })
    val result = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> errors.length.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> obj(e2e), "layers" -> obj(layers), "samples" -> obj(samples),
      "info" -> Json.obj(info)))
    Files.write(Paths.get(o.out), result.getBytes("UTF-8"))
    if (o.trace) Files.write(Paths.get(o.out + ".spans.json"), tracer.toJson.getBytes("UTF-8"))
  }
}

object Run {
  /** Chunk rows a query needs: those overlapping its window, per store
    * read (the latlng and zonal windows are their pixel bounding boxes). */
  def neededChunks(sp: Spec, q: Query): Long = {
    val (x0, x1, y0, y1) = neededWindow(sp, q)
    if (x1 <= x0 || y1 <= y0) return 0
    val fx = (x1 - 1) / sp.frac - x0 / sp.frac + 1
    val fy = (y1 - 1) / sp.frac - y0 / sp.frac + 1
    val tc = (q.t1 - 1) / sp.fracND - q.t0 / sp.fracND + 1
    val stores = if (q.kind == "qa_masked_mean") 2 else 1
    fx.toLong * fy * tc * stores
  }

  /** Source pixel window a query reads: its own window, the zonal
    * regions' clamped bounding box, or the reprojection's source
    * footprint. */
  def neededWindow(sp: Spec, q: Query): (Int, Int, Int, Int) =
    q.kind match {
      case "polygon_zonal" =>
        val xy = q.polys.flatMap(_._2.map { case (la, ln) => Geo.xyOf(la, ln) })
        (math.max(0, xy.map(_._1).min.floor.toInt), math.min(sp.width, xy.map(_._1).max.ceil.toInt),
          math.max(0, xy.map(_._2).min.floor.toInt), math.min(sp.height, xy.map(_._2).max.ceil.toInt))
      case "reproject" =>
        // source pixels the dst window's corners and edge midpoints map to
        val dst = Geo.dstHeader(sp, Seq(0L))
        val pts = for (x <- Seq(q.x0, (q.x0 + q.x1) / 2, q.x1); y <- Seq(q.y0, (q.y0 + q.y1) / 2, q.y1))
          yield {
            val lng = dst.geot(0) + x * dst.geot(1); val lat = dst.geot(3) + y * dst.geot(5)
            Geo.xyOf(lat, lng)
          }
        (math.max(0, pts.map(_._1).min.floor.toInt - 1), math.min(sp.width, pts.map(_._1).max.ceil.toInt + 1),
          math.max(0, pts.map(_._2).min.floor.toInt - 1), math.min(sp.height, pts.map(_._2).max.ceil.toInt + 1))
      case "latlng_box" =>
        val px = Expect.latlngPixels(sp, q)
        if (px.isEmpty) (0, 0, 0, 0)
        else (px.map(_._1).min, px.map(_._1).max + 1, px.map(_._2).min, px.map(_._2).max + 1)
      case _ => (q.x0, q.x1, q.y0, q.y1)
    }
}

/** The derived-grid kernel: NDVI where the QA word decodes to
  * confidence > 0.5, nodata elsewhere. */
object Masking {
  def apply(row: FracRow, in: Seq[Array[Double]]): Array[Double] = {
    val v = in(0); val q = in(1)
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = if (v(i) != Gen.NdviNodata && Gen.clear(q(i).toInt)) v(i) else Gen.NdviNodata
      i += 1
    }
    out
  }
}
