package benchkit

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed unit of work (an iteration, or a query batch for serving). */
final case class UnitSample(wallS: Double, counts: Counts, idleS: Double, sqlActions: Long)

/** What the harness hands a workload: the session, the listeners, and
  * the bookkeeping for timed units and output checks. */
final class Ctx(val spark: SparkSession, val rollup: Rollup, val seed: Long, val out: Path) {
  val units   = ArrayBuffer.empty[UnitSample]
  val checks  = ArrayBuffer.empty[(String, Boolean)]
  var failedUnits = 0
  val slots: Int = spark.sparkContext.defaultParallelism

  def check(name: String, ok: Boolean): Boolean = {
    checks += ((name, ok))
    if (!ok) System.err.println(s"[benchkit] check failed: $name")
    ok
  }

  /** Times `body` as one unit; Spark counters are read after the
    * listener has caught up, outside the timed interval. */
  def unit[T](body: => T): T = {
    val before = rollup.lastJobId
    val acts0  = rollup.sqlActions.get
    val t0     = System.currentTimeMillis()
    val n0     = System.nanoTime()
    val r      = body
    val wall   = (System.nanoTime() - n0) / 1e9
    val t1     = System.currentTimeMillis()
    rollup.settle()
    val js = rollup.jobsAfter(before)
    units += UnitSample(wall, Counts.of(js), rollup.idleMs(js, t0, t1) / 1e3, rollup.sqlActions.get - acts0)
    r
  }

  def timeS[T](body: => T): (T, Double) = {
    val n0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - n0) / 1e9)
  }
}

/** A benchmark workload. `setup` builds every input from the seed in a
  * fresh directory and may be called several times (the last call's
  * state is used); `iterate` runs one measured iteration through
  * `ctx.unit`; `traced` replays it with spans and returns its output
  * hash; `isolated` times single layer calls for the traced report.
  */
trait Workload {
  def setup(dir: Path): Unit
  def warmup(): Unit
  def iterate(): Unit
  def outputHash: String
  def traced(tr: Tracer): String
  def isolated(m: Metrics): Unit
  def finish(m: Metrics): Unit
  /** Output quality vs the workload's reference (NaN: decided later). */
  def quality: Double
  def close(): Unit
}

/** Metric sink, in insertion order. */
final class Metrics {
  val values = new java.util.LinkedHashMap[String, (Double, String)]()
  def put(name: String, v: Double, unit: String): Unit = values.put(name, (v, unit))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** The highest percentile (of 50, 75, 90, 95, 99, 99.9) with at least
    * 10 samples above it, nearest-rank; (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator
      .map(p => (p, math.max(0, math.ceil(p / 100 * n).toInt - 1)))
      .find { case (_, i) => n - 1 - i >= 10 }
      .map { case (p, i) => (p, s(i)) }
      .getOrElse((100.0, if (n == 0) 0.0 else s.last))
  }
}

object Main {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a        = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name     = a("workload")
    val seed     = a("seed").toLong
    val seconds  = a("seconds").toDouble
    val trace    = a.getOrElse("trace", "0") == "1"
    val out      = Paths.get(a("out"))
    val result   = new java.util.LinkedHashMap[String, Any]()
    val metrics  = new Metrics
    var spark: SparkSession = null
    var wl: Workload = null
    var ctx: Ctx = null
    Files.createDirectories(out)
    try {
      spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors(), "benchkit")
      spark.sparkContext.setLogLevel("ERROR")
      result.put("session_ready_after_jvm_start_s",
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      if (name == "gen") { result.put("gen", Gen.report(spark, out.resolve("gen").toString, seed)); return }
      ctx = new Ctx(spark, new Rollup(spark), seed, out)
      wl = name match {
        case "extract_small" => new Extract(ctx)
        case "curate_graph"  => new Curate(ctx)
        case "serve_ingest"  => new Serve(ctx)
        case other           => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // set-up is repeated and its median reported, so one slow
      // repetition (class loading, JIT) does not decide the figure
      val setups = (0 until 3).map(i => ctx.timeS(wl.setup(out.resolve(s"in$i")))._2)
      metrics.put("setup_s", Stats.median(setups), "s")
      result.put("setups_s", setups.asJava)
      result.put("first_iteration_after_jvm_start_s",
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      wl.warmup()
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      val untracedBudget = if (trace) seconds / 2 else seconds
      def loop(budget: Double): Unit =
        while (ctx.units.isEmpty || elapsed < budget) {
          try wl.iterate()
          catch { case e: Exception => ctx.failedUnits += 1; System.err.println(s"[benchkit] iteration failed: $e"); if (ctx.failedUnits > 3) throw e }
        }
      loop(untracedBudget)
      val unitWall = ctx.units.map(_.wallS).toSeq
      val hash = wl.outputHash
      if (!trace) {
        metrics.put("iter_s_p50", Stats.median(unitWall), "s")
        metrics.put("exec_cpu_s", Stats.median(ctx.units.map(_.counts.cpuS).toSeq), "s")
        metrics.put("heap_after_gc_mb", heapAfterGcMb(), "MB")
        wl.finish(metrics)
        metrics.put("quality", wl.quality, "ratio")
      } else {
        val pl = new Metrics
        sparkLayer(ctx, pl)
        val tr = new Tracer(spark.sparkContext)
        val tracedWall = ArrayBuffer.empty[Double]
        val firstJob = ctx.rollup.lastJobId
        val tStart = System.nanoTime()
        while (tracedWall.isEmpty || (System.nanoTime() - tStart) / 1e9 < seconds / 2) {
          val before = ctx.units.size
          val (h, s) = ctx.timeS(tr.span("iteration")(wl.traced(tr)))
          // a workload whose replay records its own unit (serving: the batch,
          // not the ingest before it) is compared on that unit's time
          tracedWall += (if (ctx.units.size > before) ctx.units.last.wallS else s)
          ctx.check(s"traced replay hash equals untraced hash (trace ${tr.trace})", h == hash)
          tr.trace += 1
        }
        ctx.rollup.settle()
        spanLayer(tr, ctx.rollup.jobsAfter(firstJob), pl)
        val overhead = Stats.median(tracedWall.toSeq) - Stats.median(unitWall)
        pl.put("trace.overhead_s", overhead, "s")
        wl.isolated(pl)
        wl.finish(pl)
        Files.write(out.resolve("spans.json"), mapper.writeValueAsBytes(tr.toJson))
        result.put("span_file", out.resolve("spans.json").toString)
        result.put("overhead_line",
          f"tracing overhead: traced iter_s_p50 ${Stats.median(tracedWall.toSeq)}%.4f s - untraced ${Stats.median(unitWall)}%.4f s = $overhead%.4f s")
        metrics.values.clear()
        metrics.values.putAll(pl.values)
      }
      result.put("units", ctx.units.size)
      result.put("unit_wall_s", unitWall.asJava)
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter; e.printStackTrace(new java.io.PrintWriter(sw))
        result.put("error", sw.toString)
    } finally {
      try if (wl != null) wl.close() catch { case _: Throwable => () }
      if (ctx != null) {
        result.put("failed_units", ctx.failedUnits)
        result.put("checks", ctx.checks.map { case (n, ok) => java.util.Map.of("name", n, "ok", ok) }.asJava)
      }
      val mm = new java.util.LinkedHashMap[String, Any]()
      metrics.values.asScala.foreach { case (k, (v, u)) => mm.put(k, java.util.Map.of("value", v, "unit", u)) }
      result.put("metrics", mm)
      Files.write(out.resolve("result.json"), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(result))
      if (spark != null) spark.stop()
    }
  }

  /** Heap still in use after full collections: the retained working
    * set, which shows work moved into memory. Spark's ContextCleaner
    * frees unreachable broadcasts and blocks only after a GC has queued
    * them, so collect, let it run, and collect again; then read each
    * heap pool's usage as of its last collection. */
  def heapAfterGcMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  /** `spark.*` per-layer figures: medians over the untraced units. */
  def sparkLayer(ctx: Ctx, m: Metrics): Unit = {
    def med(f: UnitSample => Double) = Stats.median(ctx.units.map(f).toSeq)
    m.put("spark.jobs", med(_.counts.jobs.toDouble), "count")
    m.put("spark.stages", med(_.counts.stages.toDouble), "count")
    m.put("spark.tasks", med(_.counts.tasks.toDouble), "count")
    m.put("spark.sql_actions", med(_.sqlActions.toDouble), "count")
    m.put("spark.driver_gap_s", med(_.idleS), "s")
    m.put("spark.slot_busy_share", med(u => u.counts.runS / (u.wallS * ctx.slots)), "ratio")
    m.put("spark.gc_s", med(_.counts.gcS), "s")
    m.put("spark.shuffle_read_mb", med(_.counts.shuffleReadMb), "MB")
    m.put("spark.shuffle_write_mb", med(_.counts.shuffleWriteMb), "MB")
    m.put("spark.spill_mb", med(_.counts.spillMb), "MB")
    m.put("spark.skew_max", med(_.counts.skewMax), "ratio")
  }

  /** Spans of every layer the benchmark names, reported for every
    * workload (0 where a workload does not run that layer). Per traced
    * iteration, a name's self time, jobs, CPU and shuffle are summed;
    * the report is the median over iterations. */
  val SpanLayers: Seq[(String, Seq[String])] =
    Seq("api.sample", "api.identify_schema", "api.select", "api.validity", "api.view")
      .map(_ -> Seq("self_s", "jobs", "cpu_s")) ++
    Seq("textops.quality", "textops.exact_dedup", "textops.span_removal", "textops.decontam",
      "textops.langid_pack", "textops.dedup_clusters", "textops.pagerank_neardup",
      "relops.edges", "relops.triangles", "relops.kcore", "relops.profile", "relops.graph_card")
      .map(_ -> Seq("self_s", "jobs", "shuffle_mb"))

  def spanLayer(tr: Tracer, jobs: Seq[JobStats], m: Metrics): Unit = {
    val bySpan = jobs.groupBy(j => scala.util.Try(j.span.toInt).getOrElse(-1))
    val traces = tr.spans.filter(_.endMs >= 0).groupBy(_.trace)
    SpanLayers.foreach { case (name, measures) =>
      val perTrace = traces.values.map { ss =>
        val mine = ss.filter(_.name == name)
        val js   = mine.flatMap(s => bySpan.getOrElse(s.id, Nil))
        val c    = Counts.of(js)
        Map("self_s" -> mine.map(tr.selfMs).sum / 1e3, "jobs" -> c.jobs.toDouble,
          "cpu_s" -> c.cpuS, "shuffle_mb" -> (c.shuffleReadMb))
      }.toSeq
      measures.foreach { k =>
        val unit = k match { case "jobs" => "count"; case "shuffle_mb" => "MB"; case _ => "s" }
        m.put(s"$name.$k", Stats.median(perTrace.map(_(k))), unit)
      }
    }
    // time inside a traced iteration that no layer span covers
    val residual = traces.values.flatMap { ss =>
      ss.filter(_.name == "iteration").map(root => tr.selfMs(root) / 1e3)
    }.toSeq
    m.put("trace.residual_s", Stats.median(residual), "s")
  }
}
