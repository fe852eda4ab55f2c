package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload several times, feed it
  * closed-loop units for a fixed time, check the outputs, and write the
  * measurements as JSON (see run.py, which prints the result line).
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --slots C
  * --work DIR --out FILE. Everything the run writes lives under DIR. */
object Main {
  /** Set-ups per run; setup_s reports their median (plus the session
    * start and every warm-up unit). */
  val SetupReps = 3

  final case class UnitRec(n: Int, ms: Double, items: Long, span: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val slots = opt("slots").toInt
    val work = opt("work")
    val workload = Workload(name)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    // session settings of graft.Bench; scratch under the run's work dir
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val tracer = if (trace) Some(new Tracer(spark, slots)) else None
    val runSpan = tracer.map(_.newSpanId()).getOrElse(0)

    val calibBefore = calibrate(spark, slots)
    val loadBefore = loadavg()

    // Set-up, several times. The first fixture also runs the JVM warm-up
    // units; the last one is measured, after its own warm-up units. A
    // traced run traces everything from here on, so its end-to-end
    // figures less an untraced run's are the tracing overhead.
    val setupMs = ArrayBuffer.empty[Double]
    var warmupMs = 0.0
    var fixture: Fixture = null
    for (rep <- 0 until SetupReps) {
      if (fixture != null) {
        fixture.close()
        deleteTree(s"$work/setup${rep - 1}")
      }
      val s0 = System.currentTimeMillis
      tracer.foreach(_.attach(-1 - rep))
      val t0 = System.nanoTime
      fixture = workload.setup(spark, seed, s"$work/setup$rep")
      val ms = (System.nanoTime - t0) / 1e6
      tracer.foreach { t =>
        t.detach()
        t.addSpan(Span(t.newSpanId(), runSpan, s"setup $rep", "bench", s0,
          System.currentTimeMillis))
      }
      setupMs += ms
      phase(f"set-up $rep: $ms%.0f ms")
      val fx0 = fixture // stable, for its Input type
      if (rep == 0) (0 until workload.jvmWarmups).foreach { n =>
        val in = fx0.prepare()
        tracer.foreach(_.attach(-10 - n))
        val t0 = System.nanoTime
        fx0.run(in)
        warmupMs += (System.nanoTime - t0) / 1e6
        phase(s"JVM warm-up unit $n done")
        tracer.foreach(_.detach())
      }
    }
    val fx = fixture
    (0 until workload.warmups).foreach { n =>
      val in = fx.prepare()
      tracer.foreach(_.attach(n))
      val t0 = System.nanoTime
      fx.run(in)
      warmupMs += (System.nanoTime - t0) / 1e6
      phase(s"warm-up unit $n done")
      tracer.foreach { t =>
        t.detach()
        // untimed: sets the gauges' baselines (rows appended, fed so far)
        fx.gauges(n)
      }
    }
    val setupS = sessionS + (median(setupMs.toSeq) + warmupMs) / 1000.0
    phase("set-up done")

    // Closed loop: the next unit is prepared (untimed) only after the
    // previous one finished. The loop runs whole cycles for at least
    // `seconds`.
    val units = ArrayBuffer.empty[UnitRec]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val hostBefore = HostLoad()
    val loopStart = System.nanoTime
    var k = 0
    def more: Boolean = System.nanoTime - loopStart < seconds * 1e9 ||
      k % workload.cycle != 0
    while (more) {
      val n = workload.warmups + k
      val in = fx.prepare()
      val span = tracer.map(_.newSpanId()).getOrElse(0)
      tracer.foreach(_.attach(n))
      val s0 = System.currentTimeMillis
      val t0 = System.nanoTime
      fx.run(in)
      val ms = (System.nanoTime - t0) / 1e6
      val s1 = System.currentTimeMillis
      units += UnitRec(n, ms, fx.items(in), span)
      phase(f"unit $n: $ms%.0f ms")
      tracer.foreach { t =>
        t.detach()
        layers += t.unitLayers(n, ms) ++ fx.gauges(n)
        t.addSpan(Span(span, runSpan, s"unit $n", workload.layer, s0, s1,
          Map("items" -> fx.items(in))))
      }
      k += 1
    }
    val rssMb = vmHwmKb() / 1024.0
    val hostLoop = HostLoad() - hostBefore
    phase("timed loop done")

    val checks = fx.check()
    phase("check done")
    val runGauges = fx.runGauges()
    fx.close()
    phase("closed")
    val calibAfter = calibrate(spark, slots)
    val loadAfter = loadavg()

    val timed = units.toSeq
    val failed = timed.count(u => !checks.getOrElse(u.n, false))
    val warmupsOk = (0 until workload.warmups).forall(checks.getOrElse(_, false))
    val (tail, pct, beyond) = tailOf(timed.map(_.ms))
    val endToEnd = Map(
      "throughput" -> timed.map(_.items).sum * 1000.0 / timed.map(_.ms).sum,
      "latency_p50_ms" -> median(timed.map(_.ms)),
      "latency_tail_ms" -> tail, "latency_tail_pct" -> pct,
      "latency_tail_beyond" -> beyond.toDouble,
      "setup_s" -> setupS, "peak_rss_mb" -> rssMb,
      "error_rate" -> failed.toDouble / timed.size,
      "session_s" -> sessionS, "units" -> timed.size.toDouble)

    val perLayer: Map[String, Double] = tracer.map { t =>
      // a unit reports a key only where it applies (a layer that ran
      // jobs, a fold's amplification): medians are over those units
      val keys = layers.flatMap(_.keys).distinct
      val perUnit = keys.map(k => k -> median(layers.flatMap(_.get(k)).toSeq))
      val totals = keys.map(k => s"$k.total" -> layers.flatMap(_.get(k)).sum)
      val busy = layers.flatMap(_.get("unit.busy_ms")).sum
      def share(k: String): Double =
        if (busy <= 0) 0.0 else layers.flatMap(_.get(k)).sum / busy
      // the traced run's own end-to-end figures: less an untraced run's,
      // the tracing overhead
      val traced = Seq("throughput", "latency_p50_ms", "latency_tail_ms",
        "setup_s", "peak_rss_mb").map(k => s"traced.$k" -> endToEnd(k))
      (perUnit ++ totals).toMap ++ runGauges ++ traced ++
        Tracer.How.map(h => s"run.share.$h" -> share(s"unit.busy_ms.$h")) ++
        Map("run.unattributed_share" -> share("unit.unattributed_busy_ms"))
    }.getOrElse(runGauges)

    tracer.foreach { t =>
      val unitSpan = timed.map(u => u.n -> u.span).toMap
      val jobs = t.jobSpans(u => unitSpan.getOrElse(u, runSpan))
      t.addSpan(Span(runSpan, 0, "run", "bench", jvmStart,
        System.currentTimeMillis, Map("workload" -> name, "seed" -> seed)))
      writeTrace(opt("out") + ".trace.json", opt.getOrElse("run-id", ""),
        t.spans.toSeq ++ jobs)
    }

    val result = Map(
      "correct" -> (failed == 0 && warmupsOk),
      "attempted" -> timed.size,
      "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "setup_ms" -> setupMs.toSeq, "warmup_ms" -> warmupMs,
      "unit_ms" -> timed.map(_.ms),
      "calibration_s" -> Map("before" -> calibBefore, "after" -> calibAfter),
      "loadavg" -> Map("before" -> loadBefore, "after" -> loadAfter),
      "timed_loop" -> hostLoop.toMap)
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(Json(result)) finally w.close()
    phase("result written")
    spark.stop()
    phase("stopped")
  }

  /** A progress line on stderr, stamped with the JVM's uptime (as the GC
    * log is). */
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $what")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it, as
    * (value, percentile, samples beyond). Below 21 samples that
    * percentile would not lie above the median, so the maximum stands
    * in for it. */
  def tailOf(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 20) (s.last, 100.0, 0)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size - 1 - i)
    }
  }

  /** graft.Bench's calibration probe: a fixed CPU-bound job, min of 3. */
  def calibrate(spark: SparkSession, slots: Int): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    (1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime
      spark.range(0L, slots * 1000000L, 1L, slots)
        .select(sum(xxhash64(col("id")).cast("decimal(38,0)"))).collect()
      (System.nanoTime - t0) / 1e9
    }.min
  }

  def loadavg(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split(' ').take(3).mkString(" ") finally s.close()
    } catch { case _: Exception => "" }

  def vmHwmKb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
      }.getOrElse(0.0) finally s.close()
    } catch { case _: Exception => 0.0 }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** Spans with their self time: duration minus the part of it that
    * child spans cover. */
  def writeTrace(path: String, runId: String, spans: Seq[Span]): Unit = {
    val children = spans.groupBy(_.parent)
    val out = spans.sortBy(s => (s.start, s.id)).map { s =>
      val covered = Tracer.unionMs(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(c => c._2 > c._1))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> ((s.end - s.start) - covered)) ++ s.attrs
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json(Map("run_id" -> runId, "spans" -> out)))
    finally w.close()
  }
}
