package servicebench

import graft.compile.GraphCompiler
import graft.graph.ProcessGraph
import graft.ops.{EpsgRef, Scan, Sinks}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** The traced run's direct-call replay: each request of the trace stream
  * is driven through the layers' public entry points in order, each call
  * a span under the request's root span:
  *
  *   parse      `ProcessGraph.parse`
  *   scan.open  `Scan.loadCollection`, once per load of the graph
  *   compose    `GraphCompiler.run` on the graph minus its save_result
  *   sink       `Sinks.saveResult` with the graph's format
  *
  * Spark jobs (tagged by the call that submitted them) and Catalyst
  * phases (placed by their start time) become child spans of these. The
  * server's own overhead compares the same request sent over HTTP with a
  * second direct call, both after the first direct call warmed the
  * codegen cache for its plan. */
final class Layers(spark: SparkSession, tracer: Tracer, a: Main.Args, port: Int) {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private val catalog = Map(Store.CollectionId -> Store.spec(s"${a.work}/store"))
  var attempted = 0
  var failed = 0

  private def newId(): Int = { nextId += 1; nextId }

  private def timed[T](parent: Int, req: String, name: String)(f: => T): (T, Span) = {
    val t0 = Clock.now
    val v = f
    val s = Span(newId(), parent, req, name, t0, Clock.now)
    spans += s
    (v, s)
  }

  private def count(cells: Option[Long]): Long = {
    attempted += 1
    if (cells.isEmpty) failed += 1
    cells.getOrElse(0L)
  }

  private def dirBytes(dir: java.io.File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** One direct-call request, its spans under request id `rid`; returns
    * its per-layer record. */
  private def direct(req: Req, rid: String): LinkedHashMap[String, Double] = {
    val outDir = s"${a.work}/direct/$rid"
    tracer.take()
    val c0 = tracer.counters()
    val root = newId()
    val t0 = Clock.now
    val (pg, parse) = timed(root, rid, "parse")(ProcessGraph.parse(req.json))
    tracer.tagThread(s"$rid/scan")
    val probes = req.loads.map { l =>
      timed(root, rid, "scan.open")(Scan.loadCollection(spark, catalog(Store.CollectionId),
        l.bands, Some((l.w.from, l.w.to)),
        Some((l.w.west, l.w.south, l.w.east, l.w.north)), extentCrs = Some(EpsgRef(4326))))._2
    }
    val save = pg.resultNode
    val dataId = save.arguments("data") match {
      case ProcessGraph.FromNode(id) => id
      case other => throw new IllegalArgumentException(s"save_result data: $other")
    }
    val composeGraph = ProcessGraph(pg.nodes - save.id +
      (dataId -> pg.nodes(dataId).copy(result = true)))
    tracer.tagThread(s"$rid/compose")
    val (value, compose) = timed(root, rid, "compose")(
      new GraphCompiler(spark, catalog, outDir).run(composeGraph))
    tracer.tagThread(s"$rid/sink")
    val (path, sink) = timed(root, rid, "sink")(Sinks.saveResult(value, req.format, outDir))
    tracer.tagThread(null)
    val rootSpan = Span(root, 0, rid, "request", t0, Clock.now)
    spans += rootSpan
    val ev = tracer.take()
    val c1 = tracer.counters()

    def under(tag: String) = if (tag.endsWith("/compose")) compose.id
      else if (tag.endsWith("/sink")) sink.id else root
    ev.jobs.foreach(j => spans += Span(newId(), under(j.tag), rid, "job", j.start, j.end))
    ev.phases.foreach { p =>
      val parent = Seq(compose, sink).find(s => p.start >= s.start && p.start < s.end)
        .map(_.id).getOrElse(root)
      spans += Span(newId(), parent, rid, s"catalyst.${p.name}", p.start, p.end)
    }
    def jobWall(inside: Span, tag: String) = Intervals.union(Intervals.clip(
      ev.jobs.filter(_.tag.endsWith(tag)).map(j => (j.start, j.end)), inside.start, inside.end))
    def phase(name: String) = ev.phases.filter(_.name == name).map(p => p.end - p.start).sum / 1e9
    val probeNs = probes.map(_.dur).sum
    val cells = count(Main.check(spark, Main.Rec(req, 0, 0, 200, Some(path), false, "")))
    val children = Seq(parse.dur, probeNs, compose.dur, sink.dur).sum

    LinkedHashMap[String, Double](
      "parse.s" -> parse.dur / 1e9,
      "parse.nodes" -> pg.nodes.size,
      // GraphCompiler.run opens the scan itself; the probe's time for the
      // same loads stands in for that part of compose
      "compose.self_s" -> math.max(0L,
        compose.dur - jobWall(compose, "/compose") - probeNs) / 1e9,
      "compose.eager_jobs" -> ev.jobs.count(_.tag.endsWith("/compose")),
      "scan.open_s" -> probeNs / 1e9,
      "scan.input_mb" -> ev.tasks.map(_.inBytes).sum / 1e6,
      "scan.input_records" -> ev.tasks.map(_.inRecords).sum,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "codegen.compiles" -> (c1.compiles - c0.compiles),
      "codegen.compile_s" -> c1.compileMsSince(c0) / 1e3,
      "codegen.fallbacks" -> (c1.fallbacks - c0.fallbacks),
      "exec.jobs" -> ev.jobs.size,
      "exec.stages" -> ev.stages,
      "exec.tasks" -> ev.tasks.size,
      "exec.task_run_s" -> ev.tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ev.tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_wait_s" -> ev.tasks.map(_.waitMs).sum / 1e3,
      "exec.shuffle_read_mb" -> ev.tasks.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> ev.tasks.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> ev.tasks.map(_.spill).sum / 1e6,
      "exec.gc_s" -> ev.tasks.map(_.gcMs).sum / 1e3,
      "sink.self_s" -> (sink.dur - jobWall(sink, "/sink")) / 1e9,
      "sink.out_mb" -> dirBytes(new java.io.File(outDir)) / 1e6,
      "sink.out_rows" -> cells,
      // inputs of the ratio metrics and of the server overhead
      "_cells" -> req.loads.map(_.cells).sum,
      "_job_wall_s" -> Intervals.union(ev.jobs.map(j => (j.start, j.end))) / 1e9,
      "_direct_s" -> (rootSpan.dur - probeNs) / 1e9,
      "_uncovered" -> (1.0 - children.toDouble / rootSpan.dur))
  }

  /** Replays the workload's first requests of the trace stream; returns
    * the per-layer metrics (means per request unless named otherwise). */
  def replay(): Seq[(String, (Double, String))] = {
    val recs = (0 until a.workload.replays).map { i =>
      val req = a.workload.request(a.seed, 2, i)
      val d = direct(req, req.id)
      val http = Main.timedPost(port, req)
      count(Main.check(spark, http))
      d("_overhead") = http.latency - direct(req, s"${req.id}.warm")("_direct_s")
      d
    }
    def total(k: String) = recs.map(_(k)).sum
    val means = recs.head.keys.filterNot(_.startsWith("_")).toSeq
      .map(k => k -> total(k) / recs.size)
    (means ++ Seq(
      "scan.read_amplification" -> total("scan.input_records") / total("_cells"),
      "exec.busy_cores" -> total("exec.task_run_s") / total("_job_wall_s"),
      "server.overhead_s" -> Main.median(recs.map(_("_overhead"))),
      "trace.uncovered_max" -> recs.map(_("_uncovered")).max))
      .map { case (k, v) => k -> (v, Layers.unit(k)) }
  }

  /** Median latency of re-sending up to five graphs the server already
    * answered (result cache hits). */
  def hitLatency(served: Seq[Main.Rec]): Double = {
    val again = served.groupBy(_.req.json).values.map(_.head).toSeq
      .sortBy(_.startNs).take(5).map(r => Main.timedPost(port, r.req))
    again.foreach(r => count(Main.check(spark, r)))
    Main.median(again.map(_.latency))
  }

  /** A root span for each request of the HTTP loop. */
  def recordHttp(recs: Seq[Main.Rec]): Unit = recs.foreach { r =>
    spans += Span(newId(), 0, r.req.id, "http.request",
      Clock.fromNano(r.startNs), Clock.fromNano(r.endNs))
  }

  def writeSpans(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      spans.sortBy(_.id).map(_.json).asJava)
}

object Layers {
  def unit(metric: String): String =
    if (metric.endsWith("_s") || metric == "parse.s") "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_ratio") || metric.endsWith("amplification") ||
      metric.endsWith("uncovered_max")) "ratio"
    else if (metric == "exec.busy_cores") "cores"
    else "count"
}
