package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up, runs one workload's measurement
 * window (and, when tracing, the layer probe after it), and
 * writes raw samples to `<out>/raw.json` and spans to `<out>/trace.jsonl`.
 * `perfbench/run.py` builds this, launches it and turns the samples into
 * metrics.
 *
 * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *   --cores C --data DIR --work DIR --out DIR [--queries FILE] */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  private val t00 = System.nanoTime
  /** A progress line in the JVM log. */
  private def mark(what: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime - t00) / 1e9}%.1f s $what")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val out = a("out")
    val tracer = new Tracer(traced)
    val ctx = new Ctx(a("cores").toInt, a("seed").toLong, a("seconds").toDouble, a("work"),
      a("data"), tracer)
    val queries = a.get("queries").toSeq.flatMap(f =>
      Files.readAllLines(Paths.get(f)).asScala.map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(n, s) = l.split("\\s+"); (n, s)
      })
    val setup: (Ctx, Int) => Unit = workload match {
      case "ingest_backlog" => Workloads.ingestSetup
      case "live_dashboard" => Workloads.liveSetup
      case "batch_suite" => Workloads.batchSetup
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def window(dir: String): Map[String, Any] = workload match {
      case "ingest_backlog" => Workloads.ingest(ctx, dir)
      case "live_dashboard" => Workloads.live(ctx, dir)
      case _ => Workloads.batch(ctx, queries)
    }

    mark("start")
    tracer.phase = "setup"
    val setupS = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime
      ctx.spark = tracer.span("session.build", s"setup:$i")(session(ctx))
      setup(ctx, i)
      val s = (System.nanoTime - t0) / 1e9
      if (i < SetupReps - 1) ctx.spark.stop()
      s
    }
    // One untimed pass, so each query is timed warm wherever the seed's order
    // puts it. The pass runs in name order: the JIT then compiles from the
    // same profile whatever the seed.
    if (workload == "batch_suite") queries.sortBy(_._1).foreach { case (n, s) => Suite.run(ctx, n, s, -1) }

    // A traced run measures its window where a timed run does; the tracing
    // overhead is the traced window against the same seed's untraced run.
    tracer.phase = "window"
    val measuredWindow = measured(ctx, window(s"${ctx.work}/window"))
    mark("window done")
    val probe = if (traced) {
      tracer.phase = "probe"
      Some(Workloads.probe(ctx, s"${ctx.work}/probe"))
    } else None
    ctx.exec.drain()
    val exec = ctx.exec.snapshot()
    ctx.spark.stop()
    mark("stopped")

    val raw = Map("workload" -> workload, "seed" -> ctx.seed, "cores" -> ctx.cores,
      "seconds" -> ctx.seconds, "trace" -> traced, "setup_s" -> setupS,
      "window" -> measuredWindow, "probe" -> probe, "exec" -> exec,
      "attempted" -> ctx.attempted, "failures" -> ctx.failures.asScala.toSeq,
      "fatal" -> ctx.fatal.asScala.toSeq, "peak_rss_mb" -> peakRssMb())
    Json.mapper.writeValue(Paths.get(out, "raw.json").toFile, raw)
    if (traced) tracer.write(Paths.get(out, "trace.jsonl").toString)
    System.exit(0)
  }

  /** A fresh session with the engine's canonical configuration and the
   * benchmark's listeners. */
  def session(ctx: Ctx): SparkSession = {
    val s = graft.GraftSession.local(ctx.cores)
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(ctx.exec)
    s.streams.addListener(ctx.batches)
    s
  }

  /** Runs `body` with JVM GC time and the window's wall recorded. */
  private def measured(ctx: Ctx, body: => Map[String, Any]): Map[String, Any] = {
    def gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val g0 = gc
    val r = body
    r + ("jvm_gc_ms" -> (gc - g0))
  }

  /** The JVM's peak resident set, from `/proc/self/status` (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
