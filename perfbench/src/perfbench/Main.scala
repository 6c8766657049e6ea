package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Pipeline benchmark entry point.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *
  * Closed loop, one client: the driver thread waits for each call into
  * the program before making the next. Set-up builds the session,
  * generates the inputs from the seed three times, each into a fresh
  * directory, and builds the standing state the passes start from; it
  * reports session + median generation + standing-state time. The run
  * then makes passes over the last inputs until `seconds` have passed (at
  * least one), each in a fresh output root with Spark's cache cleared
  * before it, and checks the outputs of every pass. There is no warm-up
  * pass: the first pass pays the JIT warm-up of the pipeline's code, as
  * a batch job in a fresh JVM does.
  *
  * With --trace 0 the last stdout line holds the end-to-end metrics. With
  * --trace 1 a discarded pass is followed by untraced and traced passes
  * in turn; the line holds the per-layer metrics, and the spans go to
  * DIR/spans.jsonl.
  */
object Main {
  val SetupCycles = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workload.all.find(_.name == o.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    Files.createDirectories(o.out)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    val sessionS = secondsSince(t0)
    try println(new Runner(spark, wl, o, cores).run(sessionS))
    finally spark.stop()
  }
}

/** Per-layer metrics: span name -> (metric, unit). A layer that a
  * workload does not run reads 0.
  */
object Layers {
  val Specs: Seq[(String, Seq[(String, String)])] = Seq(
    "sources.bronze" -> Seq("self_s" -> "s", "task_busy_s" -> "s", "input_records" -> "count",
      "scan_amplification" -> "ratio", "output_files" -> "count", "shuffle_write_bytes" -> "bytes"),
    "quality.checks" -> Seq("self_s" -> "s", "jobs" -> "count", "input_records" -> "count"),
    "operators.silver" -> Seq("self_s" -> "s", "task_busy_s" -> "s", "input_records" -> "count",
      "output_files" -> "count"),
    "operators.features" -> Seq("self_s" -> "s", "task_busy_s" -> "s",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "task_skew" -> "ratio"),
    "operators.gold" -> Seq("self_s" -> "s", "jobs" -> "count", "input_records" -> "count"),
    "ml.train" -> Seq("self_s" -> "s", "jobs" -> "count", "task_busy_s" -> "s",
      "result_bytes" -> "bytes"),
    "ml.eval" -> Seq("self_s" -> "s", "jobs" -> "count"),
    "ml.predict" -> Seq("self_s" -> "s", "output_files" -> "count"),
    "functions.annotate" -> Seq("self_s" -> "s", "task_busy_s" -> "s", "tasks" -> "count",
      "single_task_stages" -> "count"),
    "operators.dedup" -> Seq("self_s" -> "s", "jobs" -> "count", "task_busy_s" -> "s",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "result_bytes" -> "bytes"),
    "operators.pack_write" -> Seq("self_s" -> "s", "jobs" -> "count", "output_files" -> "count",
      "shuffle_write_bytes" -> "bytes"),
    "operators.ingest_increment" -> Seq("self_s" -> "s", "jobs_per_batch" -> "count",
      "stages_per_batch" -> "count", "tasks_per_batch" -> "count", "sched_wait_s" -> "s",
      "slot_util" -> "ratio", "input_records_per_batch" -> "count",
      "index_read_amplification" -> "ratio", "result_bytes" -> "bytes"),
    Tracer.Root -> Seq("self_s" -> "s", "gc_s" -> "s", "failed_tasks" -> "count",
      "slot_util" -> "ratio", "tracing_overhead_s" -> "s"))

  def fileCount(dirs: Seq[String]): Long = dirs.map(Paths.get(_)).filter(Files.exists(_)).map { d =>
    val walk = Files.walk(d)
    try walk.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.toLong
    finally walk.close()
  }.sum

  /** One span's value of a metric. `callRows` is the base of the
    * amplification ratios, `cores` the base of slot utilisation.
    */
  def value(t: Tracer, s: Span, metric: String, callRows: Long, cores: Int): Double = {
    val c = t.listener.countsOf(s.id)
    metric match {
      case "self_s" => t.selfSeconds(s)
      case "jobs" | "jobs_per_batch" => c.jobsStarted
      case "stages_per_batch" => c.stages
      case "tasks" | "tasks_per_batch" => c.tasks
      case "single_task_stages" => c.singleTaskStages
      case "task_busy_s" => c.taskBusyMs / 1e3
      case "sched_wait_s" => c.schedDelayMs / 1e3
      case "input_records" | "input_records_per_batch" => c.inputRecords
      case "scan_amplification" | "index_read_amplification" => c.inputRecords.toDouble / callRows
      case "output_files" => fileCount(t.outputs.getOrElse(s.id, Nil))
      case "shuffle_write_bytes" => c.shuffleWriteBytes
      case "spill_bytes" => c.spillBytes
      case "result_bytes" => c.resultBytes
      case "task_skew" => c.taskSkew
      case "slot_util" => c.taskBusyMs / 1e3 / (s.seconds * cores)
      case other => throw new IllegalArgumentException(s"no per-span metric $other")
    }
  }
}

/** Runs one workload and renders the result line. */
final class Runner(spark: SparkSession, val wl: Workload, o: Main.Opts, cores: Int) {
  import Main._

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passNo = 0

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"perfbench: FAILED $what")
  }

  /** One pass in a fresh root, checked. Every call counts as attempted;
    * one that threw or whose outputs failed a check counts as failed.
    * `afterRun` runs between the pass and its checks.
    */
  private def pass(prep: wl.Prep, tracer: Option[Tracer], afterRun: () => Unit = () => ())
      : (Path, PassResult) = {
    spark.catalog.clearCache()
    passNo += 1
    val root = o.work.resolve(s"pass$passNo")
    val res = wl.run(spark, prep, root, tracer)
    afterRun()
    val checkFailures =
      try wl.check(spark, prep, root, res).toMap
      catch { case e: Exception => Map(0 -> s"check threw ${Calls.describe(e)}") }
    res.calls.zipWithIndex.foreach { case (c, i) =>
      attempted += 1
      c.error.orElse(checkFailures.get(i)).foreach { why =>
        failed += 1
        fail(s"pass $passNo ${c.name}: $why")
      }
    }
    (root, res)
  }

  def run(sessionS: Double): String = {
    var last: Option[wl.Prep] = None
    val gens = (1 to SetupCycles).map { k =>
      val t0 = System.nanoTime()
      last = Some(wl.prepare(spark, o.work.resolve(s"input$k"), o.seed))
      secondsSince(t0)
    }
    val t0 = System.nanoTime()
    wl.standUp(spark, last.get)
    val standS = secondsSince(t0)
    val setupS = sessionS + median(gens) + standS
    System.err.println(f"perfbench: set-up: session $sessionS%.3f s, inputs " +
      gens.map(c => f"$c%.3f").mkString(" ") + f" s, standing state $standS%.3f s")
    val (metrics, selfTestOk) = if (o.trace) traced(last.get) else (timed(last.get, setupS), true)
    Files.write(o.out.resolve("failures.txt"), failures.asJava, StandardCharsets.UTF_8)
    val m = metrics.map { case (k, v, unit) => s""""$k": {"value": $v, "unit": "$unit"}""" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0 && selfTestOk}, "attempted": $attempted, "failed": $failed, "metrics": $m}"""
  }

  /** Untraced passes for `seconds`: the end-to-end metrics. */
  private def timed(prep: wl.Prep, setupS: Double): Seq[(String, Double, String)] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (walls.isEmpty || secondsSince(t0) < o.seconds) {
      val (root, res) = pass(prep, None)
      walls += res.wall
      latencies ++= wl.batchLatencies(res)
      deleteTree(root)
    }
    System.err.println(s"perfbench: ${walls.size} passes, wall " +
      walls.map(w => f"$w%.3f").mkString(" ") + " s")
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(walls.toSeq), "s"),
      ("batch_p50_s", median(latencies.toSeq), "s"),
      ("peak_rss_mb", peakRssMb, "MB"))
  }

  /** Alternate untraced and traced passes for `seconds` (at least one of
    * each): the per-layer metrics, medians over the traced passes.
    * Self-tests: every job of a traced pass is attributed to a span and
    * has ended before its counts are read, and the traced composition's
    * outputs match the untraced entry point's.
    */
  private def traced(prep: wl.Prep): (Seq[(String, Double, String)], Boolean) = {
    val tracer = new Tracer(spark.sparkContext, s"${wl.name}-seed${o.seed}")
    val selfTest = mutable.ArrayBuffer.empty[String]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    // a first, discarded pass, so the untraced and traced passes compared
    // for the overhead are both warm
    deleteTree(pass(prep, None)._1)
    val t0 = System.nanoTime()
    try {
      while (tracedWalls.isEmpty || secondsSince(t0) < o.seconds) {
        val (uRoot, uRes) = pass(prep, None)
        untracedWalls += uRes.wall
        tracer.drain()
        tracer.listener.takeUnattributed()
        val seen0 = tracer.listener.jobsSeen
        val spans0 = tracer.spans.size
        val gc0 = gcSeconds
        var gc = 0.0
        var jobs = 0
        var unattributed = Seq.empty[(Long, String)]
        val (tRoot, tRes) = pass(prep, Some(tracer), () => {
          gc = gcSeconds - gc0
          tracer.drain()
          jobs = tracer.listener.jobsSeen - seen0
          unattributed = tracer.listener.takeUnattributed()
        })
        tracedWalls += tRes.wall
        val spans = tracer.spans.drop(spans0).toSeq
        val counts = spans.map(s => tracer.listener.countsOf(s.id))
        // A job without a span whose SQL execution began before the
        // traced pass is a late broadcast of the untraced pass before it.
        val firstExecution = counts.map(_.minExecution).min
        val (late, missed) = unattributed
          .partition { case (e, _) => e >= 0 && e < firstExecution }
        val attributed = counts.map(_.jobsStarted).sum
        if (attributed != jobs - late.size)
          selfTest += s"pass $passNo: span job counts sum to $attributed, the pass ran " +
            s"${jobs - late.size} jobs; without a span: ${missed.map(_._2).mkString("; ")}"
        if (late.nonEmpty)
          System.err.println(s"perfbench: ${late.size} late jobs of the previous pass excluded")
        spans.zip(counts).filter { case (_, c) => c.jobsStarted != c.jobsEnded }
          .foreach { case (s, _) => selfTest += s"pass $passNo: span ${s.name} has jobs without an end event" }
        val selfSum = spans.map(tracer.selfSeconds).sum
        if (math.abs(selfSum - tRes.wall) > 0.05)
          selfTest += f"pass $passNo: span self times sum to $selfSum%.3f s, the pass took ${tRes.wall}%.3f s"
        if (perPass.isEmpty) {
          val (u, t) = (wl.digest(spark, uRoot), wl.digest(spark, tRoot))
          if (u != t) selfTest += s"traced outputs differ from the entry point's: $t vs $u"
        }
        perPass += passMetrics(tracer, spans, prep, gc)
        deleteTree(uRoot)
        deleteTree(tRoot)
      }
      writeSpans(tracer)
    } finally tracer.close()
    selfTest.foreach(s => fail(s"self-test: $s"))
    val overhead = median(tracedWalls.toSeq) - median(untracedWalls.toSeq)
    System.err.println(s"perfbench: ${tracedWalls.size} traced passes, wall " +
      tracedWalls.map(w => f"$w%.3f").mkString(" ") + " s; untraced " +
      untracedWalls.map(w => f"$w%.3f").mkString(" ") + " s")
    val metrics = for ((layer, ms) <- Layers.Specs; (m, unit) <- ms) yield {
      val key = s"$layer.$m"
      val v = if (key == s"${Tracer.Root}.tracing_overhead_s") overhead
        else median(perPass.map(_.getOrElse(key, 0.0)).toSeq)
      (key, v, unit)
    }
    (metrics, selfTest.isEmpty)
  }

  /** Per-layer values of one traced pass: per span name, the median over
    * its spans (one per pass, or one per batch for ingest).
    */
  private def passMetrics(t: Tracer, spans: Seq[Span], prep: wl.Prep, gc: Double): Map[String, Double] = {
    val rows = wl.callRows(prep)
    val root = spans.find(_.name == Tracer.Root).get
    val byLayer = for {
      (layer, ms) <- Layers.Specs
      ofLayer = spans.filter(_.name == layer)
      if ofLayer.nonEmpty
      (m, _) <- ms
      if !(layer == Tracer.Root && Set("gc_s", "failed_tasks", "slot_util", "tracing_overhead_s")(m))
    } yield s"$layer.$m" -> median(ofLayer.map(s => Layers.value(t, s, m, rows, cores)))
    val counts = spans.map(s => t.listener.countsOf(s.id))
    val busy = counts.map(_.taskBusyMs).sum / 1e3
    (byLayer ++ Seq(
      s"${Tracer.Root}.gc_s" -> gc,
      s"${Tracer.Root}.failed_tasks" -> counts.map(_.failedTasks).sum.toDouble,
      s"${Tracer.Root}.slot_util" -> busy / (root.seconds * cores))).toMap
  }

  private def writeSpans(t: Tracer): Unit = {
    val origin = t.spans.map(_.start).min
    val lines = t.spans.sortBy(_.start).map { s =>
      val c = t.listener.countsOf(s.id)
      f"""{"run_id": "${s.runId}", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        f""""start_s": ${(s.start - origin) / 1e9}%.6f, "end_s": ${(s.end - origin) / 1e9}%.6f, """ +
        f""""self_s": ${t.selfSeconds(s)}%.6f, "jobs": ${c.jobsStarted}, "stages": ${c.stages}, """ +
        f""""tasks": ${c.tasks}, "task_busy_s": ${c.taskBusyMs / 1e3}%.3f, """ +
        f""""input_records": ${c.inputRecords}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        f""""result_bytes": ${c.resultBytes}}"""
    }
    Files.write(o.out.resolve("spans.jsonl"), lines.asJava, StandardCharsets.UTF_8)
  }
}
