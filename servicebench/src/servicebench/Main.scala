package servicebench

import graft.GraftSession
import graft.api.{Catalog, Server}
import graft.compile.GraphCompiler
import graft.graph.ProcessGraph
import graft.ops.{Scan, Sinks}
import org.apache.spark.sql.SparkSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** openEO service benchmark: one measured run of one workload.
  *
  * Set-up (session + store + server) runs [[SetupReps]] times. The first
  * two, in a cold JVM, are untimed; `setup_s` is the median of the others.
  * Untimed warm-up requests (a stream of their own, never repeated later)
  * cover every request shape. Then closed-loop clients POST graphs to
  * `graft.api.Server` for `--seconds`; every artifact is checked
  * afterwards, outside the timed window.
  *
  * With `--trace 1` the same HTTP run happens with the tracer's listeners
  * registered, followed by a direct-call replay that times each layer's
  * public entry point (parse, scan open, compose, sink) and attributes
  * Spark jobs, tasks, Catalyst phases and codegen to those calls.
  *
  * The last stdout line is the result JSON; the line before it carries the
  * run context (cpus, master, heap, calibration loop). */
object Main {
  val SetupReps = 5
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  final case class Args(workload: Workload, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(Workload(m("workload")), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    // explicit exit: Server.stop() leaves the server's pool threads
    // running (non-daemon), so the JVM would not end on its own
    System.exit(code)
  }

  /** Fixed CPU calibration loop, the same as the engine's Bench, so drift
    * from other load on the host shows next to the results. */
  private def calOnce(): Double = {
    val t0 = System.nanoTime()
    var s = 0L; var i = 0L
    while (i < 400000000L) { s += i * 31 + (s >>> 7); i += 1 }
    if (s == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  final case class Setup(spark: SparkSession, server: Server,
      session: Double, store: Double, total: Double)

  private def setUp(a: Args, cpus: Int, rep: Int): Setup = {
    val t0 = System.nanoTime()
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    val t1 = System.nanoTime()
    Store.write(spark, s"${a.work}/store", a.seed)
    val t2 = System.nanoTime()
    val catalog = new Catalog(Map(Store.CollectionId -> Store.spec(s"${a.work}/store")))
    val server = new Server(spark, catalog, s"${a.work}/results-$rep").start()
    val (code, _) = Http.get(server.boundPort, "/collections")
    require(code == 200, s"server not answering: $code")
    val t3 = System.nanoTime()
    Setup(spark, server, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t0) / 1e9)
  }

  object Http {
    private val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    private def send(port: Int, path: String, b: HttpRequest.Builder => HttpRequest.Builder) = {
      val res = client.send(b(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))).build(),
        HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    }
    def get(port: Int, path: String): (Int, String) = send(port, path, _.GET())
    def post(port: Int, body: String): (Int, String) =
      send(port, "/graph", _.POST(HttpRequest.BodyPublishers.ofString(body)))
  }

  /** One HTTP request as the client saw it. */
  final case class Rec(req: Req, startNs: Long, endNs: Long, status: Int,
      output: Option[String], cached: Boolean, error: String) {
    def latency: Double = (endNs - startNs) / 1e9
    def ok: Boolean = status == 200 && output.isDefined
  }

  def timedPost(port: Int, req: Req): Rec = {
    val t0 = System.nanoTime()
    val (code, body) = try Http.post(port, req.json) catch {
      case e: Exception => (-1, String.valueOf(e))
    }
    val t1 = System.nanoTime()
    val (out, cached) = if (code != 200) (None, false) else {
      val n = mapper.readTree(body)
      (Option(n.get("output")).map(_.asText), Option(n.get("cached")).exists(_.asBoolean))
    }
    Rec(req, t0, t1, code, out, cached, if (code == 200) "" else body)
  }

  /** Closed loop: `clients` threads, each sending its next request when the
    * previous one returns, until `seconds` have passed and the number of
    * requests sent is a multiple of the workload's cycle; requests in
    * flight then complete. Returns the records and the loop's wall time. */
  private def closedLoop(port: Int, a: Args): (Seq[Rec], Double) = {
    val next = new AtomicInteger()
    val stopAt = new AtomicInteger(Int.MaxValue)
    val cycle = a.workload.cycle
    val recs = new ConcurrentLinkedQueue[Rec]()
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    def client(): Unit = {
      var going = true
      while (going) {
        val i = next.getAndIncrement()
        if (System.nanoTime() >= deadline)
          stopAt.compareAndSet(Int.MaxValue, (i + cycle - 1) / cycle * cycle)
        if (i < stopAt.get) recs.add(timedPost(port, a.workload.request(a.seed, 0, i)))
        else going = false
      }
    }
    val threads = (1 to a.workload.clients).map { _ =>
      val t = new Thread(() => client()); t.start(); t
    }
    threads.foreach(_.join())
    val all = recs.asScala.toSeq.sortBy(_.startNs)
    (all, (all.map(_.endNs).max - t0) / 1e9)
  }

  /** Sends requests from `clients` threads; records in request order. */
  private def sendAll(port: Int, reqs: Seq[Req], clients: Int): Seq[Rec] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try reqs.map(r => pool.submit(() => timedPost(port, r))).map(_.get)
    finally pool.shutdown()
  }

  /** Check a record's artifact; returns the cells it holds, or None after
    * reporting why it failed. */
  def check(spark: SparkSession, r: Rec): Option[Long] =
    if (!r.ok) {
      System.err.println(s"request ${r.req.id} (${r.req.kind}) failed: ${r.status} ${r.error}")
      None
    } else try Some(r.req.check(spark, r.output.get)) catch {
      case e: Exception =>
        System.err.println(s"request ${r.req.id} (${r.req.kind}) artifact check failed: $e")
        None
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** Linear-interpolated percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The program's memory, independent of the heap's fixed size.
    *
    * `mem_live_mb` (the metric): heap still reachable after a full
    * collection at the end of the loop, plus non-heap in use (metaspace,
    * code cache): what the server keeps once it has served the traffic.
    *
    * `mem_peak_mb` (context line): every collection reports the heap in
    * use right after it (GC notifications); a request's peak is the
    * largest such reading while it ran, and this is the median of those
    * peaks plus non-heap. It also sees memory a request holds only while
    * it runs, but whether a collection falls into that moment varies
    * from run to run. */
  object Memory {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    /** (System.nanoTime at the notification, heap bytes in use after the GC) */
    private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            afterGc.add(System.nanoTime() -> info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
          }, null, null)
      case _ =>
    }
    def reset(): Unit = afterGc.clear()
    def collections: Int = afterGc.size
    def nonHeapMb(): Double =
      ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1e6
    def requestPeakMb(recs: Seq[Rec]): Double = {
      val gcs = afterGc.asScala.toSeq
      val peaks = recs.flatMap { r =>
        gcs.collect { case (t, used) if t >= r.startNs && t <= r.endNs => used }.maxOption }
      val heap = if (peaks.isEmpty) gcs.map(_._2).maxOption.getOrElse(0L).toDouble
        else median(peaks.map(_.toDouble))
      heap / 1e6 + nonHeapMb()
    }
    /** Heap MB still reachable after a full collection. */
    def liveMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
  }

  private def run(a: Args): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val cal = calOnce()
    Memory.install()
    val allSetups = (0 until SetupReps).map { rep =>
      val s = setUp(a, cpus, rep)
      if (rep < SetupReps - 1) { s.server.stop(); s.spark.stop() }
      s
    }
    // the first two set-ups pay for class loading and a cold JIT
    val setups = allSetups.drop(2)
    val Setup(spark, server, _, _, _) = setups.last
    val port = server.boundPort
    val wl = a.workload

    val tWarm = System.nanoTime()
    val warm = sendAll(port, (0 until wl.warmups).map(wl.request(a.seed, 1, _)), wl.clients)
    val warmOk = warm.forall(r => check(spark, r).isDefined)
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    Memory.reset()
    val (recs, elapsed) = closedLoop(port, a)
    val memPeak = Memory.requestPeakMb(recs)
    val gcs = Memory.collections
    val memLive = Memory.liveMb() + Memory.nonHeapMb()
    val failed = recs.count(r => check(spark, r).isEmpty)
    val ok = recs.filter(_.ok)
    val latencies = ok.map(_.latency)
    require(latencies.nonEmpty, "no request completed")

    val (metrics, traceAttempted, traceFailed) = tracer match {
      case None =>
        (Seq(
          "setup_s" -> (median(setups.map(_.total)), "s"),
          "latency_p50_s" -> (median(latencies), "s"),
          "graphs_per_s" -> (ok.size / elapsed, "1/s"),
          "mem_live_mb" -> (memLive, "MB")), 0, 0)
      case Some(t) =>
        val layers = new Layers(spark, t, a, port)
        val m = layers.replay() ++ Seq(
          "server.requests" -> (recs.size.toDouble, "count"),
          "server.executions" -> (recs.count(r => r.ok && !r.cached).toDouble, "count"),
          "server.cache_hit_ratio" -> (recs.count(_.cached).toDouble / recs.size, "ratio"),
          "server.hit_latency_p50_s" -> (layers.hitLatency(ok), "s"),
          "trace.latency_p50_s" -> (median(latencies), "s"),
          "setup.session_s" -> (median(setups.map(_.session)), "s"),
          "setup.store_s" -> (median(setups.map(_.store)), "s"))
        layers.recordHttp(recs)
        layers.writeSpans(s"${a.out}/${wl.name}-${a.seed}-spans.jsonl")
        (m, layers.attempted, layers.failed)
    }

    val attempted = recs.size + traceAttempted
    val failedAll = failed + traceFailed
    // each replayed request's layer spans must cover its wall time
    val uncovered = metrics.collectFirst { case ("trace.uncovered_max", (v, _)) => v }
    val covered = uncovered.forall(_ <= 0.10)
    if (!covered) System.err.println(s"layer spans leave ${uncovered.get} of a request uncovered")
    // the guide's rule: the highest percentile with ten samples beyond it
    val p90 = if (latencies.size >= 100) percentile(latencies, 0.9).toString else "null"
    val context =
      s"""{"context":{"workload":"${wl.name}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${if (a.trace) 1 else 0},"cpus":$cpus,"master":"${spark.sparkContext.master}",""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"cal_s":$cal,""" +
      s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}",""" +
      s""""clients":${wl.clients},"requests":${recs.size},"ok":${ok.size},""" +
      s""""failed_share":${failedAll.toDouble / attempted},"latency_p90_s":$p90,""" +
      s""""elapsed_s":$elapsed,"warmup_s":$warmS,"warmup_ok":$warmOk,""" +
      s""""mem_peak_mb":$memPeak,"mem_live_mb":$memLive,"gcs":$gcs,""" +
      s""""setup_untimed_s":[${allSetups.take(2).map(_.total).mkString(",")}],""" +
      s""""setup_session_s":[${setups.map(_.session).mkString(",")}],""" +
      s""""setup_store_s":[${setups.map(_.store).mkString(",")}],""" +
      s""""setup_s":[${setups.map(_.total).mkString(",")}],""" +
      s""""kinds":{${recs.groupBy(_.req.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        s""""$k":{"n":${rs.size},"p50_s":${median(rs.map(_.latency))}}""" }.mkString(",")}}}}"""
    val metricsJson = metrics.map { case (k, (v, unit)) =>
      s""""$k":{"value":$v,"unit":"$unit"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${warmOk && covered && failedAll == 0},"attempted":$attempted,""" +
      s""""failed":$failedAll,"metrics":$metricsJson}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${a.out}/${wl.name}-${a.seed}-${if (a.trace) 1 else 0}.json"),
      s"$context\n$result\n")
    server.stop()
    spark.stop()
    println(context)
    println(result)
  }
}
