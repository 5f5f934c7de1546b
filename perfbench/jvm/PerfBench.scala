package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicReferenceArray}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.config.{BarConfig, ChannelConfig, FlowControlConfig, SignalConfig}
import graft.operators.{Scan, TickPipeline}
import graft.sources.Capture
import graft.streaming.{HotLoopStep, TickIn, TickOut, TickStream}

/** The benchmark program. It calls the engine's public functions only.
  *
  * Untraced (`--trace 0`) it runs one workload and writes the end-to-end
  * metrics; traced (`--trace 1`) it runs the per-layer ladder, the same
  * for every workload. Results go to `--out` as JSON; `run.py` checks the
  * outputs against their oracles and prints the final line.
  */
object PerfBench {

  /** The tick queries' configuration (graft.operators.TickQueries), so the
    * replay output is checkable with the same oracle SQL. */
  val signal = SignalConfig(minPrice = 39000, maxPrice = 44000, maxJump = 50,
    winsorizeDeltaThreshold = 10, cpmModulationIndex = 0.5f,
    tickDerivativeImagScale = 2.0f, encoderType = "derivative")
  val bars = BarConfig(enabled = true, ticksPerBar = 21, normalizationWindowBars = 120,
    winsorizeBarThreshold = 50, maxBarJump = 100, barDerivativeImagScale = 4.0f,
    barMethod = "boxcar")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .config("spark.sql.shuffle.partitions", a("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("tmp"))
      .config("spark.sql.warehouse.dir", s"${a("tmp")}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(spark)
    val run = new Run(spark, a)
    try {
      if (a("trace") == "1") new Ladder(run).all()
      else a("workload") match {
        case "replay" => run.replay()
        case "stream" => run.stream()
      }
    } finally {
      run.write()
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Task and planning counters, summed per job group by [[Collector]]. */
final class Totals {
  var jobs, runMs, cpuNs, gcMs, shuffleBytes, spillBytes, bytesWritten, planNs = 0L
  def minus(o: Totals): Totals = {
    val d = new Totals
    d.jobs = jobs - o.jobs; d.runMs = runMs - o.runMs; d.cpuNs = cpuNs - o.cpuNs
    d.gcMs = gcMs - o.gcMs; d.shuffleBytes = shuffleBytes - o.shuffleBytes
    d.spillBytes = spillBytes - o.spillBytes; d.bytesWritten = bytesWritten - o.bytesWritten
    d.planNs = planNs - o.planNs
    d
  }
  def copy: Totals = minus(new Totals)
}

/** Records task metrics per job group, and planning time of every
  * executed query from `QueryExecution.tracker`. Events arrive on the
  * listener bus; read only after [[Run.drain]]. */
final class Collector extends SparkListener with QueryExecutionListener {
  val all = new Totals
  private val groups = mutable.Map[String, Totals]()
  private val stageGroup = mutable.Map[Int, String]()
  def group(g: String): Totals = synchronized(groups.getOrElseUpdate(g, new Totals).copy)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    all.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      groups.getOrElseUpdate(g, new Totals).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      (Seq(all) ++ stageGroup.get(e.stageId).map(g => groups.getOrElseUpdate(g, new Totals)))
        .foreach { t =>
          t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
          t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.bytesWritten += m.outputMetrics.bytesWritten
        }
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    all.planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One layer call: name, start, end, parent span and its counters. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, t: Totals) {
  def s: Double = (endNs - startNs) / 1e9
}

/** State and workloads of one benchmark process. */
final class Run(val spark: SparkSession, a: Map[String, String]) {
  import PerfBench._

  val data: String = a("data")
  val out: String = a("out")
  val budget: Double = a("seconds").toDouble
  val metrics = mutable.LinkedHashMap[String, Double]()
  var attempted, failed = 0L
  val startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private val checks = mutable.LinkedHashMap[String, String]()
  new File(out).mkdirs()

  // ------------------------------------------------------------- tracing
  val collector = new Collector
  val spans = ArrayBuffer[Span]()
  private var parents = List(0)
  private var lastId = 0
  /** Register or remove the collector on both listener buses. */
  def tracing(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    } else {
      spark.sparkContext.removeSparkListener(collector)
      spark.listenerManager.unregister(collector)
    }
  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Time `body` as one span with its own job group. */
  def span[T](name: String)(body: => T): T = {
    lastId += 1
    val id = lastId
    val g = s"span-$id"
    spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
    drain()
    val plan0 = collector.all.planNs
    parents = id :: parents
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      parents = parents.tail
      spark.sparkContext.clearJobGroup()
      drain()
      val t = collector.group(g)
      t.planNs = collector.all.planNs - plan0
      spans += Span(id, parents.head, name, t0, t1, t)
    }
  }

  // ------------------------------------------------------------- helpers
  /** Release cached and checkpointed blocks between operations. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private var heapPeak = 0.0
  /** Old-generation occupancy right after a full collection, once cached
    * blocks are released (a micro-batch unpersists without blocking) and
    * every posted listener event has been applied. */
  def sampleHeap(): Unit = {
    cleanup()
    drain()
    System.gc() // the second collection frees what the first left to cleaners
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
    heapPeak = math.max(heapPeak, old / 1048576.0)
  }

  def setupDone(): Unit = {
    metrics("setup_s") = (System.currentTimeMillis() - startMs) / 1000.0
    sampleHeap()
  }

  /** Run `pass` until the next one would overrun the budget (at least once). */
  def loop(pass: => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = ArrayBuffer[Double]()
    while (walls.isEmpty || seconds(t0) + median(walls.toSeq) <= budget) {
      walls += pass
      System.err.println(f"[perfbench] pass ${walls.length} ${walls.last}%.3f s")
      sampleHeap()
    }
    walls.toSeq
  }

  /** Run one operation; a throw counts as a failure. */
  def attempt(what: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
      false
    }
  }

  def write(): Unit = {
    dumpOracles(queryNames)
    metrics("heap_peak_mb") = heapPeak
    val m = metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    val c = checks.map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    val pw = new PrintWriter(s"$out/result.json")
    pw.println(s"""{"attempted": $attempted, "failed": $failed, "metrics": {$m}, "files": {$c}}""")
    pw.close()
  }

  // -------------------------------------------------------------- replay
  /** The replay contract: tick file -> parse -> expansion -> derivative hot
    * loop + boxcar bars -> enrichment -> parquet. */
  def replayPass(file: String, dest: String): Double = {
    val t0 = System.nanoTime()
    val ok = attempt("replay pass") {
      val ticks = TickPipeline.expandVolumeChunked(TickPipeline.readTickFile(spark, file))
      val hot = TickPipeline.hotLoopChunked(ticks, signal, assumeOrdered = true)
      Capture.writeParquet(
        TickPipeline.enrich(hot, TickPipeline.bars(ticks, bars), bars.ticksPerBar), dest)
    }
    val s = seconds(t0)
    cleanup()
    if (ok) s else Double.NaN
  }

  /** Untimed passes before a replay is measured. Pass times keep falling
    * (JIT) for about six full passes; measured on that slope, a run's median
    * depended on how far down it had got. */
  val WarmPasses = 6

  def replay(): Unit = {
    val file = s"$data/ticks.txt"
    val dest = s"$out/replay"
    for (_ <- 1 to WarmPasses) replayPass(file, dest)
    attempted = 0; failed = 0 // the warm passes are set-up, not measured work
    setupDone()
    val walls = loop(replayPass(file, dest)).filterNot(_.isNaN)
    val wall = median(walls)
    metrics("wall_s") = wall
    metrics("ticks_per_s") = a("ticks").toDouble / wall
    metrics("latency_p50_ms") = pct(walls, 50) * 1000
    metrics("latency_p99_ms") = pct(walls, 99) * 1000
    checkReplay(dest)
  }

  def checkReplay(dest: String): Unit = checks("replay") = dest
  def checkQueries(dest: String): Unit = checks("queries") = dest

  // ------------------------------------------------------------- queries
  val queryNames: Seq[String] = a.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq

  /** One pass over `names`, each answer written as parquet; returns
    * per-query seconds (NaN on failure).
    * Traced, each query is a span of its own. */
  def queryPass(names: Seq[String], dir: String, dest: String,
      traced: Boolean = false): Seq[Double] =
    names.map { n =>
      def body(): Unit =
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$dest/$n")
      val t0 = System.nanoTime()
      val ok = attempt(n)(if (traced) span(s"query.$n")(body()) else body())
      val s = seconds(t0)
      cleanup()
      if (ok) s else Double.NaN
    }

  /** The oracle SQL the checker runs in DuckDB. */
  def dumpOracles(names: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",\n", "}")
    val pw = new PrintWriter(s"$out/oracle_sql.json")
    pw.println(json)
    pw.close()
  }

  // -------------------------------------------------------------- stream
  /** Open-loop input: lead-in length and burst times (µs), and per tick the
    * send time (µs from start), raw price and delta. */
  final case class Feed(leadUs: Long, burstsUs: Seq[Long], sendUs: Array[Long],
      price: Array[Int], delta: Array[Int])

  def readFeed(path: String): Feed = {
    val src = scala.io.Source.fromFile(path)
    try {
      val it = src.getLines()
      val head = it.next().trim.split(" ").map(_.toLong).toSeq
      val rows = it.map(_.split(" ")).toArray
      Feed(head.head, head.tail, rows.map(_(0).toLong), rows.map(_(1).toInt), rows.map(_(2).toInt))
    } finally src.close()
  }

  /** One stream run. Ticks sent during the lead-in warm the query; the
    * metrics cover the ticks and batches after it. */
  final case class StreamRun(f: Feed, t0: Long, t0WallMs: Long, ticks: Array[TickIn],
      deliveredAt: Array[Long], lateMs: Seq[Double], progress: Seq[StreamingQueryProgress],
      registry: TickStream.ConsumerRegistry) {
    private val measured = ticks.indices.filter(i => f.sendUs(i) >= f.leadUs)
    def latMs: Seq[Double] = measured.map(i => (deliveredAt(i) - ticks(i).timestamp) / 1e6)
    def leadDoneNs: Long = ticks.indices.filter(i => f.sendUs(i) < f.leadUs).map(deliveredAt(_)).max
    def ticksPerS: Double =
      measured.length / ((measured.map(deliveredAt(_)).max - t0 - f.leadUs * 1000) / 1e9)
    /** Batches that started while the measured part of the schedule ran. */
    def batches: Seq[StreamingQueryProgress] = progress.filter { p =>
      val at = Instant.parse(p.timestamp).toEpochMilli - t0WallMs
      p.numInputRows > 0 && at >= f.leadUs / 1000 && at < f.sendUs.last / 1000
    }
  }

  /** Micro-batch cadence of the stream workload (FlowControlConfig.delayMs). */
  val CadenceMs = 1000L
  /** Send slot of the stream generator. */
  val SlotMs = 50L

  /** Feed `f` through hotLoopStream -> broadcastTo on its schedule. A
    * generator thread adds ticks when they are due and never waits for
    * the engine; each tick carries its scheduled send time (nanoTime
    * clock) in `timestamp`, and PRIORITY delivery records the latency. */
  /** A MemoryStream through hotLoopStream -> broadcastTo, delivering to a
    * PRIORITY, a MONITORING and an ANALYTICS consumer with the
    * ChannelConfig buffer sizes; PRIORITY lands in [[StreamSink]]. */
  private def fanOut(tag: String, n: Int, trigger: Trigger)
      : (MemoryStream[TickIn], StreamingQuery, TickStream.ConsumerRegistry) = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TickIn]
    val registry = new TickStream.ConsumerRegistry
    val ch = ChannelConfig()
    registry.subscribe("priority", TickStream.Priority, ch.priorityBufferSize)
    registry.subscribe("monitoring", TickStream.Monitoring, ch.standardBufferSize)
    registry.subscribe("analytics", TickStream.Analytics, ch.standardBufferSize)
    StreamSink.reset(n)
    val query = TickStream.broadcastTo(TickStream.hotLoopStream(input.toDS(), signal),
      registry, s"$out/ckpt-$tag", partitionSink = Some(StreamSink.deliver _), trigger = trigger)
    (input, query, registry)
  }

  def streamRun(f: Feed, tag: String): StreamRun = {
    val n = f.sendUs.length
    val (input, query, registry) =
      fanOut(tag, n, TickStream.triggerFor(FlowControlConfig(delayMs = CadenceMs)))
    // Micro-batches start on multiples of the cadence (wall clock). The
    // schedule starts half a cadence (plus half a send slot) after a start,
    // so every run sends its bursts at the same phase of the batch clock and
    // no send slot races a batch start.
    val now = System.currentTimeMillis()
    val t0WallMs = (now / CadenceMs + 1) * CadenceMs + CadenceMs / 2 + SlotMs / 2
    val t0 = System.nanoTime() + (t0WallMs - now) * 1000000
    val ticks = Array.tabulate(n)(i =>
      TickIn(i + 1L, t0 + f.sendUs(i) * 1000, f.price(i), f.delta(i)))
    // Sends go out on a fixed 50 ms cadence: MemoryStream turns every
    // addData call into one input partition, so per-tick sends would make
    // thousands of tasks per micro-batch. A tick's latency still counts
    // from its own scheduled time.
    val slotNs = SlotMs * 1000000
    val late = ArrayBuffer[Double]()
    val gen = new Thread(() => {
      var i = 0
      var slot = t0
      while (i < n) {
        val wait = slot - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        late += (System.nanoTime() - slot) / 1e6
        var j = i
        while (j < n && ticks(j).timestamp <= slot) j += 1
        if (j > i) input.addData(ticks.slice(i, j).toSeq)
        i = j
        slot += slotNs
      }
    })
    gen.start()
    gen.join()
    val deadline = System.nanoTime() + 60L * 1000000000
    while (StreamSink.deliveredCount < n && System.nanoTime() < deadline) Thread.sleep(5)
    query.processAllAvailable()
    val progress = query.recentProgress.toSeq
    query.stop()
    progress.foreach(p => System.err.println(
      s"[perfbench] batch ${p.batchId} rows ${p.numInputRows} ${p.durationMs}"))
    StreamRun(f, t0, t0WallMs, ticks, StreamSink.deliveredAt, late.toSeq, progress, registry)
  }

  def stream(): Unit = {
    val feed = readFeed(s"$data/stream.txt")
    val beforeRun = (System.currentTimeMillis() - startMs) / 1000.0
    val runStart = System.nanoTime()
    attempted += feed.sendUs.length
    val r = streamRun(feed, "main")
    // Set-up ends when the lead-in has been delivered.
    metrics("setup_s") = beforeRun + (r.leadDoneNs - runStart) / 1e9
    metrics("latency_p50_ms") = pct(r.latMs, 50)
    metrics("latency_p99_ms") = pct(r.latMs, 99)
    metrics("ticks_per_s") = r.ticksPerS
    metrics("wall_s") = median(r.batches.map(_.durationMs.get("triggerExecution").doubleValue)) / 1000
    checkStream(r)
    StreamSink.reset(0) // the benchmark's own delivery record is not engine heap
    sampleHeap()
  }

  /** Delivered and expected PRIORITY rows plus drop accounting, for the
    * checker: one line per tick, `count tick_idx fields...`. */
  def checkStream(r: StreamRun): Unit = {
    val expected = HotLoopStep.run(r.ticks.toSeq, signal)
    def fmt(o: TickOut): String =
      s"${o.tick_idx} ${o.raw_price} ${o.price_delta} ${o.signal_re} ${o.signal_im} ${o.normalization} ${o.status_flag}"
    val path = s"$out/stream_check.txt"
    val pw = new PrintWriter(path)
    val offered = r.ticks.length
    r.registry.active.foreach { c =>
      pw.println(s"consumer ${c.name} ${c.messagesSent.get()} ${c.messagesDropped.get()} $offered")
    }
    expected.zipWithIndex.foreach { case (e, i) =>
      val got = StreamSink.rows.get(i)
      pw.println(s"${StreamSink.counts.get(i)} | ${fmt(e)} | ${if (got == null) "-" else fmt(got)}")
    }
    pw.close()
    checks("stream") = path
  }
}

/** PRIORITY `partitionSink`. In local mode executor tasks run in this JVM,
  * so deliveries land in these arrays; `counts` exposes a dropped or
  * duplicated tick to the checker. */
object StreamSink {
  @volatile var counts = new AtomicIntegerArray(0)
  @volatile var rows = new AtomicReferenceArray[TickOut](0)
  @volatile var deliveredAt = new Array[Long](0)
  private val delivered = new AtomicLong
  def deliveredCount: Long = delivered.get()

  def reset(n: Int): Unit = {
    counts = new AtomicIntegerArray(n)
    rows = new AtomicReferenceArray[TickOut](n)
    deliveredAt = new Array[Long](n)
    delivered.set(0)
  }

  def deliver(name: String, it: Iterator[TickOut]): Unit =
    if (name == "priority") {
      val now = System.nanoTime()
      it.foreach { o =>
        val i = (o.tick_idx - 1).toInt
        rows.set(i, o)
        deliveredAt(i) = now
        if (counts.incrementAndGet(i) == 1) delivered.incrementAndGet()
      }
    } else it.foreach(_ => ())
}

/** The traced per-layer ladder: the replay layers at two sizes, the
  * scalar hot loop, one stream run with its progress phases, and every
  * tick query. */
final class Ladder(r: Run) {
  import PerfBench._
  private val spark = r.spark
  private val m = r.metrics

  def all(): Unit = {
    val full = s"${r.data}/ticks.txt"
    val dest = s"${r.out}/replay"
    for (_ <- 1 to r.WarmPasses) r.replayPass(full, dest)
    r.setupDone()
    // One traced pass between two untraced ones: pass times still fall as
    // the JIT warms, and the mean of the neighbours cancels that trend.
    val before = r.replayPass(full, dest)
    r.tracing(true)
    r.span("replay")(r.replayPass(full, dest))
    val traced = r.spans.last.s
    r.tracing(false)
    val untraced = (before + r.replayPass(full, dest)) / 2
    r.tracing(true)
    m("tracing.overhead_ratio") = traced / untraced
    r.checkReplay(dest)
    phase("replay")
    layers(full, s"${r.data}/ticks_tenth.txt", untraced)
    phase("layers")
    scalar()
    phase("scalar")
    streamLayers()
    phase("stream")
    queryLayers()
    phase("queries")
    writeSpans()
    r.drain()
    val t = r.collector.all
    m("engine.cpu_per_wall") = t.cpuNs / 1e6 / math.max(1L, t.runMs)
  }

  private val t0 = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ladder $name done at ${seconds(t0)}%.1f s")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def kept(df: DataFrame): DataFrame = { val p = df.persist(); noop(p); p }

  /** Time each replay layer on its predecessor's persisted output. */
  private def ladder(file: String, tag: String): (Map[String, Span], Long, Long, Long) = {
    val s = mutable.Map[String, Span]()
    def timed[T](name: String)(body: => T): T = {
      val v = r.span(s"$name@$tag")(body); s(name) = r.spans.last; v
    }
    val parsed = timed("parse")(kept(TickPipeline.readTickFile(spark, file)))
    val expanded = timed("expand")(kept(TickPipeline.expandVolumeChunked(parsed)))
    val hot = timed("hotloop")(kept(TickPipeline.hotLoopChunked(expanded, signal, assumeOrdered = true)))
    val counter = new Scan.Round {
      def zero: Any = 0L
      def lift(prev: Array[Any], row: InternalRow): Any = 1L
      def combine(x: Any, y: Any): Any = x.asInstanceOf[Long] + y.asInstanceOf[Long]
    }
    timed("scan")(noop(Scan.scanRounds(expanded, Seq(StructField("n", LongType, nullable = false)),
      IndexedSeq(counter), (st, _) => Seq(st(0).asInstanceOf[Long] + 1))))
    val barsDf = timed("bars")(kept(TickPipeline.bars(expanded, bars)))
    timed("fir")(noop(TickPipeline.firBarAverages(expanded, bars.ticksPerBar)))
    val enriched = timed("enrich")(kept(TickPipeline.enrich(hot, barsDf, bars.ticksPerBar)))
    timed("capture")(Capture.writeParquet(enriched, s"${r.out}/capture-$tag"))
    val lines = spark.read.textFile(file).count()
    val nParsed = parsed.count()
    val nTicks = expanded.count()
    r.cleanup()
    (s.toMap, lines, nParsed, nTicks)
  }

  private def layers(full: String, tenth: String, replayWall: Double): Unit = {
    ladder(tenth, "warm") // first use of the scan and FIR paths stays out of the fit
    val (small, _, _, nSmall) = ladder(tenth, "tenth")
    val (big, lines, parsed, nBig) = ladder(full, "full")
    for ((name, sp) <- big) {
      val slope = (sp.s - small(name).s) / (nBig - nSmall)
      m(s"$name.ns_per_tick") = slope * 1e9
      m(s"$name.fixed_s") = sp.s - slope * nBig
      m(s"$name.jobs") = sp.t.jobs.toDouble
      m(s"$name.cpu_s") = sp.t.cpuNs / 1e9
      m(s"$name.gc_s") = sp.t.gcMs / 1e3
      m(s"$name.shuffle_bytes") = sp.t.shuffleBytes.toDouble
    }
    m("parse.kept_ratio") = parsed.toDouble / lines
    m("expand.ticks_per_line") = nBig.toDouble / parsed
    m("hotloop.spill_bytes") = big("hotloop").t.spillBytes.toDouble
    m("capture.bytes_written") = big("capture").t.bytesWritten.toDouble
    val inReplay = Seq("parse", "expand", "hotloop", "bars", "enrich", "capture")
    m("replay.span_coverage") = inReplay.map(big(_).s).sum / replayWall
  }

  /** HotLoopStep.run on one thread, warm, per encoder. */
  private def scalar(): Unit = {
    val f = r.readFeed(s"${r.data}/stream.txt")
    val ticks = f.sendUs.indices.map(i => TickIn(i + 1L, 0L, f.price(i), f.delta(i)))
    for (enc <- Seq("derivative", "hexad16", "cpm", "amc")) {
      val cfg = signal.copy(encoderType = enc)
      val ns = (0 until 5).map { _ =>
        val t0 = System.nanoTime(); HotLoopStep.run(ticks, cfg); (System.nanoTime() - t0).toDouble
      }
      m(s"hotloopstep.ns_per_tick.$enc") = median(ns.drop(2)) / ticks.length
    }
  }

  private def streamLayers(): Unit = {
    val f = r.readFeed(s"${r.data}/stream.txt")
    r.drain()
    val jobs0 = r.collector.all.jobs
    val run = r.span("stream")(r.streamRun(f, "ladder"))
    val jobs = r.collector.all.jobs - jobs0
    r.attempted += f.sendUs.length
    r.checkStream(run)
    val ps = run.batches
    def phase(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val batchMs = ps.map(_.durationMs.get("triggerExecution").doubleValue)
    m("stream.batch_ms.p50") = median(batchMs)
    m("stream.batch_ms.p99") = pct(batchMs, 99)
    Seq("getBatch" -> "get_batch", "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
      .foreach { case (k, n) => m(s"stream.${n}_ms") = phase(k) }
    m("stream.jobs_per_batch") = jobs.toDouble / run.progress.count(_.numInputRows > 0)
    m("stream.rows_per_batch") = median(ps.map(_.numInputRows.toDouble))
    m("stream.state_bytes") = ps.last.stateOperators.head.memoryUsedBytes.toDouble
    for (c <- Seq("monitoring", "analytics")) {
      val s = run.registry.get(c).get
      m(s"stream.drop_ratio.$c") = s.messagesDropped.get().toDouble /
        (s.messagesSent.get() + s.messagesDropped.get())
    }
    m("loadgen.late_ms.p99") = pct(run.lateMs, 99)
  }

  private def queryLayers(): Unit = {
    val dir = s"${r.data}/wh"
    val dest = s"${r.out}/queries"
    r.queryPass(r.queryNames, dir, dest) // cold pass: JIT and code generation
    val ts = r.span("tick_queries")(r.queryPass(r.queryNames, dir, dest, traced = true))
    val t = r.spans.last
    r.queryNames.zip(ts).foreach { case (n, s) => m(s"query.$n.s") = s }
    m("tick_queries.plan_s") = t.t.planNs / 1e9
    m("tick_queries.jobs") = r.spans.filter(_.parent == t.id).map(_.t.jobs).sum.toDouble
    r.checkQueries(dest)
  }

  private def writeSpans(): Unit = {
    val pw = new PrintWriter(s"${r.out}/spans.jsonl")
    r.spans.foreach { s =>
      pw.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${s.t.jobs}, """ +
        s""""cpu_ns": ${s.t.cpuNs}, "gc_ms": ${s.t.gcMs}, "shuffle_bytes": ${s.t.shuffleBytes}}""")
    }
    pw.close()
  }
}
