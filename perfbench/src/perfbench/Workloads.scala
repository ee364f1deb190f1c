package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Transforms
import graft.queries.Tables
import graft.sources.EnvelopeGenerator
import graft.streaming.{StreamingAnalytics, StreamingEtl}

/** State shared by a run: the session, the listeners, the tracer and the
 * failures counted so far. */
final class Ctx(val cores: Int, val seed: Long, val seconds: Double, val work: String,
    val data: String, val tracer: Tracer) {
  var spark: SparkSession = _
  val exec = new ExecCounters
  val batches = new BatchLog
  val failures = new ConcurrentLinkedQueue[String]
  /** Failures that invalidate the whole measurement (a growing backlog, a
   * late feeder), reported with a non-zero exit. */
  val fatal = new ConcurrentLinkedQueue[String]
  private val attempts = new java.util.concurrent.atomic.AtomicLong
  def attempt(n: Long = 1): Unit = { attempts.addAndGet(n); () }
  def attempted: Long = attempts.get

  /** Charges the calling thread's next jobs to `req` (scoped by the tracer
   * phase, so set-up, window and probe stay apart) and `step`. */
  def tag(req: String, step: String): Unit =
    ExecCounters.tag(spark.sparkContext, s"${tracer.phase}|$req", step)

  def fail(msg: String): Unit = { failures.add(msg); System.err.println(s"perfbench: FAILED $msg") }
  def deadline(start: Long): Long = start + (seconds * 1e9).toLong
}

/** The seeded envelope backlog: EnvelopeGenerator documents with a stated
 * share of in-chunk duplicate ids and of malformed documents. */
object Envelopes {
  /** Share of documents that repeat an earlier document of the same chunk
   * verbatim (same `login.uuid`), so the keyed sink's dedup drops them. */
  val DupShare = 0.05
  /** Share of documents cut in half, which the PERMISSIVE parse turns into
   * a null envelope that explodes to no row. */
  val MalformedShare = 0.01

  def chunk(seed: Long, idx: Long, n: Int): Array[String] = {
    val rng = new Random(seed * 1000003L + idx)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = rng.nextDouble()
      out(i) =
        if (i > 0 && u < DupShare) out(rng.nextInt(i))
        else if (u < DupShare + MalformedShare) {
          val e = EnvelopeGenerator.envelope(rng)
          e.substring(0, e.length / 2)
        } else EnvelopeGenerator.envelope(rng)
      i += 1
    }
    out
  }
}

/** One running `StreamingEtl.start` query over a MemoryStream, with its
 * keyed parquet sinks wrapped so each write is timed. */
final class Spine(val query: StreamingQuery, val input: MemoryStream[String],
    val sinkPaths: Seq[String], val writes: ConcurrentLinkedQueue[Spine.Write]) {
  def lastWriteEnd(batch: Long): Option[Long] =
    writes.asScala.filter(_.batch == batch).map(_.end).maxOption
  def lastEnd: Long = writes.asScala.map(_.end).maxOption.getOrElse(0L)
}

object Spine {
  final case class Write(batch: Long, sink: Int, start: Long, end: Long)

  def start(ctx: Ctx, dir: String, nSinks: Int): Spine = {
    // One input partition per core, as a Kafka topic with that many
    // partitions would give; a single partition would parse on one core.
    val input = MemoryStream[String](ctx.spark, ctx.cores)(Encoders.STRING)
    val writes = new ConcurrentLinkedQueue[Write]
    val paths = (0 until nSinks).map(i => s"$dir/sink$i")
    val sinks = paths.zipWithIndex.map { case (p, i) =>
      val sink = StreamingEtl.parquetKeyedSink(p)
      StreamingEtl.BatchSink(sink.name, (df: DataFrame, id: Long) => {
        ctx.tag(s"batch:$id", s"sink$i")
        val t0 = System.nanoTime
        ctx.tracer.span(s"sinks.write$i", s"batch:$id")(sink.write(df, id))
        writes.add(Write(id, i, t0, System.nanoTime))
        ()
      })
    }
    val profiles = StreamingEtl.profileStream(input.toDF(), Tables.AsOfDate)
    val q = ctx.tracer.span("streaming.start", "start")(
      StreamingEtl.start(profiles, s"$dir/checkpoint", sinks))
    new Spine(q, input, paths, writes)
  }

  /** Per-batch records of a stopped spine, and (when tracing) the batch's
   * phase spans laid out from the listener's durations, with the timed sink
   * writes re-parented under `streaming.addBatch`. */
  def batchRecords(ctx: Ctx, spine: Spine): Seq[Map[String, Any]] = {
    val ws = spine.writes.asScala.toSeq
    val log = ctx.batches.of(spine.query.runId.toString, ws.map(_.batch).toSet)
    log.map { b =>
      val mine = ws.filter(_.batch == b.id)
      val d = b.durations
      if (mine.nonEmpty) traceBatch(ctx, b, mine)
      Map("id" -> b.id, "rows" -> b.rows, "durations_ms" -> d,
        "done_ns" -> mine.map(_.end).maxOption.getOrElse(0L),
        "start_offset" -> b.start, "end_offset" -> b.end,
        "writes_ms" -> mine.sortBy(_.sink).map(w => (w.end - w.start) / 1e6))
    }
  }

  private val Before = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")

  private def traceBatch(ctx: Ctx, b: BatchLog.Batch, ws: Seq[Write]): Unit =
    if (ctx.tracer.enabled) {
      val ms = 1000000L
      val req = s"batch:${b.id}"
      val first = ws.map(_.start).min
      val last = ws.map(_.end).max
      val addStart = math.min(first, last - b.durations.getOrElse("addBatch", 0L) * ms)
      val starts = Before.reverse.scanLeft(addStart)((t, k) => t - b.durations.getOrElse(k, 0L) * ms)
      val commitEnd = last + b.durations.getOrElse("commitOffsets", 0L) * ms
      val root = ctx.tracer.record("streaming.batch", req, 0L, starts.last, commitEnd)
      Before.reverse.zip(starts.zip(starts.tail)).foreach { case (k, (end, start)) =>
        ctx.tracer.record(s"streaming.$k", req, root, start, end)
      }
      val add = ctx.tracer.record("streaming.addBatch", req, root, addStart, last)
      ctx.tracer.record("streaming.commitOffsets", req, root, last, commitEnd)
      ctx.tracer.adopt(add)(s => s.req == req && s.name.startsWith("sinks.") && s.parent == 0L)
    }

  /** Part files and bytes the sinks hold. */
  def sinkFiles(paths: Seq[String]): (Long, Long) = {
    val files = paths.filter(p => Files.exists(Paths.get(p))).flatMap { p =>
      val s = Files.walk(Paths.get(p))
      try s.iterator().asScala.filter(f => f.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    }
    (files.size.toLong, files.map(f => Files.size(f)).sum)
  }

  /** The batch spine over the same documents, deduplicated on the key. */
  def expected(ctx: Ctx, dir: String, docs: Iterator[Array[String]]): DataFrame = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    docs.zipWithIndex.foreach { case (c, i) =>
      Files.write(p.resolve(f"chunk-$i%06d.txt"), c.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    Transforms.etlSpine(ctx.spark.read.text(dir), Tables.AsOfDate).dropDuplicates("id")
  }

  /** Sink contents against the batch spine: equal digest, and no key twice. */
  def checkSink(ctx: Ctx, path: String, want: String): Unit = {
    ctx.attempt()
    val got = ctx.spark.read.parquet(path).drop("__batch_id")
    val d = Digest.of(got)
    val n = d.takeWhile(_ != ':').toLong
    val ids = got.select("id").distinct().count()
    if (d != want) ctx.fail(s"sink $path digest $d != batch spine $want")
    else if (ids != n) ctx.fail(s"sink $path holds $n rows but $ids distinct ids")
  }
}

/** A1-A4 of the reference dashboard over the committed keyed sink. */
object Dashboard {
  final case class View(a1: Long, a2: Seq[(String, Long)], a3: Seq[(String, Long)],
      a4: Seq[(Int, Long, Long)])

  def a2(df: DataFrame): Seq[(String, Long)] =
    df.groupBy("gender").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

  def a3(df: DataFrame): Seq[(String, Long)] =
    StreamingAnalytics.topKDomains(df, 5).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  def a4(df: DataFrame): Seq[(Int, Long, Long)] =
    df.groupBy("age").agg(count(lit(1)).as("n"))
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy("age").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

  def view(df: DataFrame): View =
    View(df.count(), a2(df), a3(df), a4(df))

  /** One timed A1-A4 refresh; returns its record and the view it read. */
  def refresh(ctx: Ctx, path: String, n: Int): (Map[String, Any], View) = {
    val req = s"refresh:$n"
    val t = ctx.tracer
    def step[T](k: String)(body: => T): (T, Double) = {
      ctx.tag(req, k)
      val t0 = System.nanoTime
      val r = t.span(s"dashboard.$k", req)(body)
      (r, (System.nanoTime - t0) / 1e6)
    }
    val t0 = System.nanoTime
    t.span("dashboard.refresh", req) {
      val (df, readMs) = step("read")(ctx.spark.read.parquet(path))
      val files = df.inputFiles.length
      val (v1, ms1) = step("a1")(df.count())
      val (v2, ms2) = step("a2")(a2(df))
      val (v3, ms3) = step("a3")(a3(df))
      val (v4, ms4) = step("a4")(a4(df))
      t.count("dashboard.files_listed", req, files)
      val wall = (System.nanoTime - t0) / 1e6
      (Map("n" -> n, "req" -> req, "wall_ms" -> wall, "read_ms" -> readMs, "a1_ms" -> ms1,
        "a2_ms" -> ms2, "a3_ms" -> ms3, "a4_ms" -> ms4, "files_listed" -> files, "a1" -> v1),
        View(v1, v2, v3, v4))
    }
  }
}

/** Batch queries: build through `QueryDef.run`, plan, and run the plan to
 * its last row. The result digest is computed after the timed interval, so
 * the query's wall holds only the engine's work; the untimed warm-up pass
 * (`pass` -1) skips it. */
object Suite {
  def run(ctx: Ctx, name: String, subset: String, pass: Int): Map[String, Any] = {
    val req = s"q:$name:$pass"
    val t = ctx.tracer
    ctx.attempt()
    t.span("bench.query", req) {
      try {
        val fn = graft.SparkEntry.queries(name)
        ctx.tag(req, "build")
        val t0 = System.nanoTime
        val df = t.span("queries.build", req)(fn(ctx.spark, ctx.data))
        val t1 = System.nanoTime
        ctx.tag(req, "plan")
        t.span("exec.plan", req)(df.queryExecution.executedPlan)
        val t2 = System.nanoTime
        ctx.tag(req, "run")
        // Every output row is produced with every column; unlike count(),
        // Catalyst cannot prune columns the caller does not read.
        t.span("exec.run", req)(df.queryExecution.toRdd.foreach(_ => ()))
        val t3 = System.nanoTime
        ctx.tag(req, "digest")
        val digest = if (pass < 0) "" else t.span("bench.digest", req)(Digest.of(df))
        Map("name" -> name, "subset" -> subset, "pass" -> pass, "req" -> req, "ok" -> true,
          "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
          "run_ms" -> (t3 - t2) / 1e6, "wall_ms" -> (t3 - t0) / 1e6, "digest" -> digest)
      } catch {
        case e: Exception =>
          ctx.fail(s"query $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Map("name" -> name, "subset" -> subset, "pass" -> pass, "req" -> req, "ok" -> false)
      }
    }
  }
}

object Workloads {
  /** Documents per ingest_backlog chunk; one chunk is one micro-batch. */
  val BacklogChunkDocs = 20000
  /** live_dashboard: documents per chunk and the fixed enqueue interval,
   * an offered load of 2000 documents/s. */
  val LiveChunkDocs = 400
  val LiveIntervalMs = 200L
  /** live_dashboard runs its schedule this long before the measured
   * seconds start, so the backlog and the JIT reach steady state. */
  val LiveWarmNs = 5000000000L
  /** The feeder may run this late against its schedule before the run is
   * declared invalid. */
  val MaxLagMs = 250.0
  /** Documents of the set-up chunk and of the layer probe's fixed batch. */
  val SetupDocs = 1000
  val ProbeDocs = 20000
  val ProbeSeed = 7L

  private def ms(ns: Long): Double = ns / 1e6

  // ---- ingest_backlog ----------------------------------------------------

  def ingestSetup(ctx: Ctx, i: Int): Unit = streamSetup(ctx, i, 2)

  private def streamSetup(ctx: Ctx, i: Int, nSinks: Int): Unit = {
    val spine = Spine.start(ctx, s"${ctx.work}/setup$i", nSinks)
    spine.input.addData(Envelopes.chunk(ctx.seed, -1L - i, SetupDocs).toSeq)
    spine.query.processAllAvailable()
    spine.query.stop()
  }

  final case class Loop(chunks: Int, wallS: Double, latencyMs: Seq[Double], waitMs: Seq[Double])

  /** Closed loop: queue one chunk, wait until it is committed, repeat while
   * `more(chunksDone)`. The generator thread keeps the next chunks ready;
   * the time the loop waits for it after the first chunk is the generator's
   * lag, and the wall runs from the first chunk's enqueue. The first
   * `warmup` chunks are committed before the clock starts, so a fresh
   * query's first-batch cost stays out of the samples. */
  def closedLoop(ctx: Ctx, spine: Spine, seed: Long, docs: Int, warmup: Int)(more: Int => Boolean): Loop = {
    val queue = new ArrayBlockingQueue[Array[String]](2)
    val stop = new AtomicBoolean(false)
    val gen = new Thread(() => {
      var i = 0L
      while (!stop.get) {
        val c = ctx.tracer.span("sources.generate", s"chunk:$i")(Envelopes.chunk(seed, i, docs))
        while (!stop.get && !queue.offer(c, 50, TimeUnit.MILLISECONDS)) ()
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val lat = ArrayBuffer.empty[Double]
    val waits = ArrayBuffer.empty[Double]
    var first = 0L
    var k = 0
    try {
      while (k < warmup) {
        spine.input.addData(queue.take().toSeq)
        spine.query.processAllAvailable()
        k += 1
      }
      while (more(k - warmup)) {
        val w0 = System.nanoTime
        val c = queue.take()
        val enq = System.nanoTime
        if (k == warmup) first = enq else waits += ms(enq - w0)
        ctx.attempt()
        try {
          spine.input.addData(c.toSeq)
          spine.query.processAllAvailable()
          lat += ms(spine.lastEnd - enq)
        } catch { case e: Exception => ctx.fail(s"chunk $k: ${e.getMessage}") }
        k += 1
      }
    } finally {
      stop.set(true)
      gen.join()
    }
    Loop(k, (System.nanoTime - first) / 1e9, lat.toSeq, waits.toSeq)
  }

  def ingest(ctx: Ctx, dir: String): Map[String, Any] = {
    val spine = Spine.start(ctx, s"$dir/spine", 2)
    var end = 0L
    val loop = closedLoop(ctx, spine, ctx.seed, BacklogChunkDocs, warmup = 1) { k =>
      if (k == 0) end = ctx.deadline(System.nanoTime)
      k == 0 || System.nanoTime < end
    }
    val k = loop.chunks
    spine.query.stop()
    val batches = Spine.batchRecords(ctx, spine)
    val (files, bytes) = Spine.sinkFiles(spine.sinkPaths)
    val want = Spine.expected(ctx, s"$dir/expected",
      Iterator.range(0, k).map(i => Envelopes.chunk(ctx.seed, i.toLong, BacklogChunkDocs)))
    val wantDigest = Digest.of(want)
    spine.sinkPaths.foreach(p => Spine.checkSink(ctx, p, wantDigest))
    // Rows the timed batches committed: every batch but the warm-up batch 0.
    val timedRows = ctx.spark.read.parquet(spine.sinkPaths.head).where(col("__batch_id") > 0).count()
    Map("chunks" -> k, "chunk_docs" -> BacklogChunkDocs, "docs" -> k.toLong * BacklogChunkDocs,
      "wall_s" -> loop.wallS, "rows_committed" -> timedRows,
      "batch_latency_ms" -> loop.latencyMs, "generator_wait_ms" -> loop.waitMs, "batches" -> batches,
      "files_written" -> files, "bytes_written" -> bytes)
  }

  // ---- live_dashboard ----------------------------------------------------

  def liveSetup(ctx: Ctx, i: Int): Unit = streamSetup(ctx, i, 1)

  /** Open loop for writes: the feeder queues a chunk every interval whether
   * or not the engine keeps up. Closed loop for reads: one dashboard client
   * refreshes A1-A4 back to back. */
  def live(ctx: Ctx, dir: String): Map[String, Any] = {
    val spine = Spine.start(ctx, s"$dir/spine", 1)
    val sink = spine.sinkPaths.head
    // Chunk 0 and one untimed refresh warm the query and the dashboard up
    // before the schedule starts.
    spine.input.addData(Envelopes.chunk(ctx.seed, 0L, LiveChunkDocs).toSeq)
    spine.query.processAllAvailable()
    Dashboard.refresh(ctx, sink, -2)
    val t0 = System.nanoTime
    val measureFrom = t0 + LiveWarmNs
    val end = ctx.deadline(measureFrom)
    val interval = LiveIntervalMs * 1000000L
    final case class Fed(i: Int, due: Long, enq: Long, offset: Long)
    val fed = new ConcurrentLinkedQueue[Fed]
    val feeder = new Thread(() => {
      var i = 1
      try {
        while (t0 + (i - 1) * interval < end) {
          val due = t0 + (i - 1) * interval
          val c = ctx.tracer.span("sources.generate", s"chunk:$i")(
            Envelopes.chunk(ctx.seed, i.toLong, LiveChunkDocs))
          val wait = due - System.nanoTime
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val off = spine.input.addData(c.toSeq).json().toLong
          fed.add(Fed(i, due, System.nanoTime, off))
          i += 1
        }
      } catch {
        case e: Exception =>
          ctx.fail(s"feeder stopped at chunk $i: ${e.getMessage}")
          ctx.fatal.add(s"feeder stopped at chunk $i")
      }
    }, "perfbench-feeder")
    val stopReads = new AtomicBoolean(false)
    val refreshes = new ConcurrentLinkedQueue[Map[String, Any]]
    val client = new Thread(() => {
      var n = 0
      var prev = -1L
      while (!stopReads.get) {
        ctx.attempt()
        try {
          val started = System.nanoTime
          val (r, v) = Dashboard.refresh(ctx, sink, n)
          if (started >= measureFrom) refreshes.add(r)
          if (v.a1 < prev) ctx.fail(s"refresh $n: A1 fell from $prev to ${v.a1}")
          if (v.a1 != v.a2.map(_._2).sum) ctx.fail(s"refresh $n: A1 ${v.a1} != sum(A2) ${v.a2}")
          prev = v.a1
        } catch { case e: Exception => ctx.fail(s"refresh $n: ${e.getMessage}") }
        n += 1
      }
    }, "perfbench-dashboard")
    feeder.start()
    client.start()
    feeder.join()
    val stopAt = System.nanoTime
    spine.query.processAllAvailable()
    stopReads.set(true)
    client.join()
    spine.query.stop()

    val chunks = fed.asScala.toSeq.sortBy(_.i)
    val batches = Spine.batchRecords(ctx, spine).filter { b =>
      val done = b("done_ns").asInstanceOf[Long]
      done >= measureFrom && done <= stopAt
    }
    val log = ctx.batches.of(spine.query.runId.toString)
    val fresh = ArrayBuffer.empty[Double]
    chunks.foreach { c =>
      log.find(b => b.start < c.offset && c.offset <= b.end).flatMap(b => spine.lastWriteEnd(b.id)) match {
        case Some(done) => if (c.due >= measureFrom) fresh += ms(done - c.due)
        case None => ctx.fail(s"chunk ${c.i} (offset ${c.offset}) reached no committed batch")
      }
    }
    ctx.attempt(chunks.size.toLong)
    // Backlog: chunks queued but not yet committed, sampled at each commit.
    val backlog = log.flatMap { b =>
      spine.lastWriteEnd(b.id).filter(d => d >= t0 && d <= stopAt)
        .map(done => 1 + chunks.count(_.enq <= done) - (b.end + 1))
    }
    val third = math.max(1, backlog.size / 3)
    val (early, late) = (backlog.take(third), backlog.takeRight(third))
    def mean(x: Seq[Long]) = if (x.isEmpty) 0.0 else x.sum.toDouble / x.size
    ctx.attempt()
    if (backlog.size >= 6 && mean(late) > mean(early) + 2 && mean(late) > 1.5 * mean(early)) {
      val m = f"live_dashboard backlog grew from ${mean(early)}%.1f to ${mean(late)}%.1f chunks"
      ctx.fail(m)
      ctx.fatal.add(m)
    }
    val lags = chunks.map(c => ms(c.enq - c.due))
    ctx.attempt()
    if (lags.nonEmpty && lags.max > MaxLagMs) {
      val m = f"feeder ran ${lags.max}%.0f ms behind its schedule (limit $MaxLagMs%.0f ms)"
      ctx.fail(m)
      ctx.fatal.add(m)
    }

    // Final state: A1-A4 over the sink equal A1-A4 of the batch spine.
    ctx.attempt()
    val (last, got) = Dashboard.refresh(ctx, sink, -1)
    val expected = Spine.expected(ctx, s"$dir/expected",
      (0 +: chunks.map(_.i)).iterator.map(i => Envelopes.chunk(ctx.seed, i.toLong, LiveChunkDocs))).cache()
    val want = Dashboard.view(expected)
    expected.unpersist()
    if (got != want) ctx.fail(s"final dashboard $got != batch $want")
    val (files, bytes) = Spine.sinkFiles(spine.sinkPaths)
    Map("chunks" -> chunks.size, "chunk_docs" -> LiveChunkDocs,
      "offered_docs_per_s" -> LiveChunkDocs * 1000.0 / LiveIntervalMs,
      "wall_s" -> (stopAt - measureFrom) / 1e9, "freshness_ms" -> fresh, "lag_ms" -> lags,
      "backlog" -> backlog, "refreshes" -> refreshes.asScala.toSeq.sortBy(_("n").asInstanceOf[Int]),
      "final_refresh" -> last, "batches" -> batches,
      "committed_docs" -> batches.map(_("rows").asInstanceOf[Long]).sum,
      "files_written" -> files, "bytes_written" -> bytes)
  }

  // ---- batch_suite -------------------------------------------------------

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def batchSetup(ctx: Ctx, i: Int): Unit =
    Tables10.foreach(n => ctx.tracer.span("queries.load", s"setup:$i")(Tables.t(ctx.spark, ctx.data, n)))

  /** Closed loop, one query at a time, in the seed's order. One pass always
   * runs; another starts only if a pass as long as the last fits in the run
   * time. */
  def batch(ctx: Ctx, list: Seq[(String, String)]): Map[String, Any] = {
    val out = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime
    val end = ctx.deadline(t0)
    var pass = 0
    var last = 0L
    while (pass == 0 || System.nanoTime + last <= end) {
      val p0 = System.nanoTime
      list.foreach { case (n, s) => out += Suite.run(ctx, n, s, pass) }
      last = System.nanoTime - p0
      pass += 1
    }
    Map("passes" -> pass, "wall_s" -> (System.nanoTime - t0) / 1e9, "queries" -> out.toSeq)
  }

  // ---- layer probe (traced runs only) -----------------------------------

  /** A fixed pass through every layer, so each per-layer metric is measured
   * on every workload: prefix chains of the spine over one fixed batch, a
   * three-chunk stream into two sinks, one dashboard refresh and two queries. */
  def probe(ctx: Ctx, dir: String): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val docs = t.span("sources.generate", "probe:chain")(Envelopes.chunk(ProbeSeed, 0, ProbeDocs))
    // Cached, so the chains do not re-ship the documents with every task and
    // the scan costs little next to the layers measured on top of it.
    val raw = spark.createDataset(docs.toSeq)(Encoders.STRING).toDF("value").coalesce(1).cache()
    raw.count()
    val chains: Seq[(String, DataFrame)] = {
      val parsed = Transforms.parseEnvelope(raw)
      val exploded = Transforms.explodeResults(parsed)
      val flat = Transforms.flattenProfile(exploded, Tables.AsOfDate)
      Seq("scan" -> raw, "parse" -> parsed, "explode" -> exploded, "flatten" -> flat,
        "filter" -> Transforms.gdprFilter(flat))
    }
    ctx.tag("probe:chain", "ops")
    def timeOnce(name: String, df: DataFrame): Double = {
      val t0 = System.nanoTime
      t.span(s"ops.$name", "probe:chain")(df.write.format("noop").mode("overwrite").save())
      ms(System.nanoTime - t0)
    }
    chains.foreach { case (n, df) => timeOnce(n, df) }
    val chainMs = chains.map { case (n, df) => n -> Seq.fill(5)(timeOnce(n, df)).min }.toMap
    val profiles = chains.last._2
    val rowsOut = profiles.dropDuplicates("id").count()
    raw.unpersist()

    val spine = Spine.start(ctx, s"$dir/spine", 2)
    val loop = closedLoop(ctx, spine, ProbeSeed + 1, SetupDocs, warmup = 0)(_ < 3)
    spine.query.stop()
    val batches = Spine.batchRecords(ctx, spine)
    val (files, bytes) = Spine.sinkFiles(spine.sinkPaths)
    val (refresh, _) = Dashboard.refresh(ctx, spine.sinkPaths.head, 0)
    val queries = Seq("a1_count", "a2_group_count").map(n => Suite.run(ctx, n, "probe", 0))
    Map("docs" -> ProbeDocs, "chain_ms" -> chainMs, "rows_out" -> rowsOut, "batches" -> batches,
      "files_written" -> files, "bytes_written" -> bytes, "generator_wait_ms" -> loop.waitMs, "refreshes" -> Seq(refresh),
      "queries" -> queries)
  }
}
