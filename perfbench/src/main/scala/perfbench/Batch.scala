package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The two batch workloads. Both drive `SparkEntry.queries` over the
  * fixture tables in `data/`:
  *
  *  - set-up, three times: build the session, then run every timed query
  *    once and compare its content digest with `expected/` (the
  *    correctness check);
  *  - warm-up: `WarmPasses` untimed passes over the same queries, because
  *    the JIT keeps speeding the Spark driver paths up through the first
  *    passes;
  *  - timed: `seconds / 2` passes (at least four), each in a fresh seeded
  *    order; each call is DataFrame construction plus a noop write of the
  *    full plan. Every metric is a median over these passes.
  */
object Batch {
  val SetupCycles = 3
  val WarmPasses = 4
  val MinPasses = 4
  val TimeoutS = 60.0

  final case class Workload(modules: Map[String, String], timed: Seq[String])

  def workloads(benchDir: String): Map[String, Workload] = {
    val root = Json.read(s"$benchDir/workloads.json")
    root.fieldNames.asScala.filter(_.startsWith("batch_")).map { w =>
      val node = root.get(w)
      val modules = node.get("modules").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      w -> Workload(modules, node.get("timed").elements.asScala.map(_.asText).toSeq)
    }.toMap
  }

  def expected(benchDir: String): Map[String, Digest] =
    Json.read(s"$benchDir/expected/sf0.01.json").fields.asScala.map { e =>
      e.getKey -> Digest(e.getValue.get("rows").asLong,
        java.lang.Long.parseUnsignedLong(e.getValue.get("digest").asText, 16))
    }.toMap

  /** The failure to report for a query whose result digest is `got`. */
  def verdict(q: String, got: Digest, expect: Map[String, Digest]): Option[String] =
    if (expect.get(q).contains(got)) None
    else Some(s"$q: digest ${got.rows}/${got.hex} != expected " +
      expect.get(q).map(d => s"${d.rows}/${d.hex}").getOrElse("(none)"))

  def run(cfg: Config, emit: String => Unit): Result = {
    val wl = workloads(cfg.benchDir)(cfg.workload)
    val expect = expected(cfg.benchDir)
    val names = if (cfg.allQueries) wl.modules.keys.toSeq.sorted else wl.timed
    val rng = new scala.util.Random(cfg.seed)
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (notes.size < 20) notes += msg }

    // Set-up cycles: session build + warm-up pass that checks digests.
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer[Double]()
    val buildMs = mutable.ArrayBuffer[Double]()
    val heap = mutable.ArrayBuffer[Double]()
    for (cycle <- 1 to SetupCycles) {
      val t0 = System.nanoTime()
      if (spark != null) Common.stopSession(spark)
      val (s, ms) = Common.buildSession()
      spark = s
      buildMs += ms
      System.err.println(f"[perfbench] setup$cycle session ${ms}%.0f ms, ready after ${(System.nanoTime() - t0) / 1e9}%.3f s")
      rng.shuffle(names).foreach { q =>
        var got: Digest = null
        val c = Common.call(spark, s"$q@setup$cycle", TimeoutS)(
          graft.SparkEntry.queries(q)(spark, cfg.dataDir))(df => got = Digest.of(df))
        attempted += 1
        System.err.println(f"[perfbench] setup$cycle $q%-28s ${c.totalNs / 1e9}%.3f s")
        c.error.orElse(verdict(q, got, expect)).foreach(fail)
        Common.sweep(spark)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    heap += Common.heapAfterGcMb()

    // Timed passes.
    val tracer = if (cfg.trace) Some(new Tracer("driver")) else None
    tracer.foreach(_.attach(spark))
    val passWall = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val passJit = mutable.ArrayBuffer[Double]()
    val passRows = mutable.ArrayBuffer[Double]()
    val calls = mutable.ArrayBuffer[(String, Int, Call)]()
    val measured = math.max(MinPasses, cfg.seconds / 2)
    val passes = WarmPasses + measured
    for (pass <- 1 to passes) {
      var wallNs = 0L
      var cpu = 0L
      var rows = 0L
      val jit0 = Common.jitMs()
      rng.shuffle(names).foreach { q =>
        val group = s"$q#$pass"
        tracer.foreach(_.current = group)
        val c0 = Common.cpuNs()
        val c = Common.call(spark, group, TimeoutS)(
          graft.SparkEntry.queries(q)(spark, cfg.dataDir))(Common.noopWrite)
        cpu += Common.cpuNs() - c0
        attempted += 1
        System.err.println(f"[perfbench] pass$pass $q%-28s ${c.totalNs / 1e9}%.3f s")
        c.error.foreach(e => fail(s"$q: $e"))
        wallNs += c.totalNs
        rows += expect.get(q).map(_.rows).getOrElse(0L)
        calls += ((q, pass, c))
        Common.sweep(spark)
        tracer.foreach(_.drain(spark))
      }
      passWall += wallNs / 1e9
      passCpu += cpu / 1e9
      passJit += (Common.jitMs() - jit0) / 1e3
      passRows += rows / (wallNs / 1e9)
    }
    heap += Common.heapAfterGcMb()

    // Each query's median over the measured passes, then quantiles across queries:
    // the spread between queries is the distribution, pass-to-pass jitter
    // of one query is noise.
    val late = calls.filter(_._2 > passes - measured).toSeq
    def perQuery(f: Call => Double): Seq[Double] =
      late.groupBy(_._1).values.map(cs => Common.median(cs.map(c => f(c._3)))).toSeq
    val totals = perQuery(_.totalNs / 1e9)
    val execMs = perQuery(_.execNs / 1e6)
    def lateMedian(xs: mutable.ArrayBuffer[Double]) = Common.median(xs.takeRight(measured).toSeq)
    val e2e = Seq(
      ("setup_s", Common.median(setupS.toSeq), "s"),
      ("wall_s", lateMedian(passWall), "s"),
      ("query_p50_s", Common.quantile(totals, 0.5), "s"),
      ("query_p90_s", Common.quantile(totals, 0.9), "s"),
      ("latency_p50_ms", Common.quantile(execMs, 0.5), "ms"),
      ("latency_p99_ms", Common.quantile(execMs, 0.99), "ms"),
      ("capacity_rows_per_s", lateMedian(passRows), "rows/s"),
      ("cpu_s", lateMedian(passCpu), "s"),
      ("heap_peak_mb", heap.max, "MB"))
    emit(Json.obj(Seq("record" -> "run", "workload" -> cfg.workload, "queries" -> names.size,
      "passes" -> passes, "measured_passes" -> measured, "samples" -> late.size, "setup_cycles_s" -> setupS.toSeq,
      "pass_wall_s" -> passWall.toSeq, "pass_cpu_s" -> passCpu.toSeq, "pass_jit_s" -> passJit.toSeq,
      "call_s" -> calls.groupBy(_._1).map { case (q, cs) => q -> cs.sortBy(_._2).map(_._3.totalNs / 1e9).toSeq })))

    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        t.detach(spark)
        emit(Json.obj(Seq("record" -> "traced_e2e", "workload" -> cfg.workload) ++
          e2e.map { case (n, v, _) => n -> v }))
        layers(cfg, t, late, wl, expect, measured, Common.median(buildMs.toSeq), emit)
    }
    Result(failed == 0, attempted, failed, metrics, notes.toSeq)
  }

  /** Per-layer metrics of the measured passes (totals per pass), plus one
    * record per query with its module and its own layer split. */
  private def layers(cfg: Config, t: Tracer, calls: Seq[(String, Int, Call)], wl: Workload,
                     expect: Map[String, Digest], passes: Int, sessionBuildMs: Double,
                     emit: String => Unit): Seq[(String, Double, String)] = {
    val cores = Common.cores
    final class Acc {
      var buildMs, execMs, wallMs, coveredMs = 0.0
      var calls = 0
      val a = new SpanAgg
      def add(c: Call, s: SpanAgg): Unit = {
        calls += 1
        buildMs += c.buildNs / 1e6
        execMs += c.execNs / 1e6
        val wall = c.totalNs / 1e6
        wallMs += wall
        coveredMs += s.coveredMs(c.startMs, c.startMs + math.ceil(wall).toLong)
        a.add(s)
      }
      def driverOnlyMs: Double = wallMs - coveredMs
      def coreFill: Double = if (coveredMs > 0) a.taskRunMs / (coveredMs * cores) else 0.0
    }
    val total = new Acc
    val perQuery = mutable.LinkedHashMap[String, Acc]()
    calls.foreach { case (q, pass, c) =>
      val s = t.spans.getOrElse(s"$q#$pass", new SpanAgg)
      total.add(c, s)
      perQuery.getOrElseUpdate(q, new Acc).add(c, s)
    }
    perQuery.toSeq.sortBy(_._1).foreach { case (q, acc) =>
      val n = acc.calls.toDouble
      emit(Json.obj(Seq(
        "record" -> "query", "workload" -> cfg.workload, "query" -> q,
        "module" -> wl.modules.getOrElse(q, "?"), "calls" -> acc.calls,
        "wall_ms" -> acc.wallMs / n, "build_ms" -> acc.buildMs / n, "exec_ms" -> acc.execMs / n,
        "driver_only_ms" -> acc.driverOnlyMs / n, "jobs" -> acc.a.jobs / n,
        "build_jobs" -> acc.a.buildJobs / n, "stages" -> acc.a.stages / n, "tasks" -> acc.a.tasks / n,
        "task_run_ms" -> acc.a.taskRunMs / n, "task_cpu_ms" -> acc.a.taskCpuNs / 1e6 / n,
        "core_fill" -> acc.coreFill,
        "catalyst_ms" -> (acc.a.analysisMs + acc.a.optimizationMs + acc.a.planningMs) / n,
        "shuffle_write_bytes" -> acc.a.shuffleWrite / n, "scan_rows" -> acc.a.inRows / n,
        "output_rows" -> expect.get(q).map(_.rows).getOrElse(-1L))))
    }
    val p = passes.toDouble
    val a = total.a
    val rows = calls.map { case (q, _, _) => expect.get(q).map(_.rows).getOrElse(0L) }.sum
    Layers.zeroed ++ Seq(
      ("sessions.build_ms", sessionBuildMs, "ms"),
      ("entry.build_ms", total.buildMs / p, "ms"),
      ("entry.build_jobs", a.buildJobs / p, "count"),
      ("catalyst.analysis_ms", a.analysisMs / p, "ms"),
      ("catalyst.optimization_ms", a.optimizationMs / p, "ms"),
      ("catalyst.planning_ms", a.planningMs / p, "ms"),
      ("exec.ms", total.execMs / p, "ms"),
      ("sched.jobs", a.jobs / p, "count"),
      ("sched.stages", a.stages / p, "count"),
      ("sched.tasks", a.tasks / p, "count"),
      ("sched.driver_only_ms", total.driverOnlyMs / p, "ms"),
      ("sched.driver_only_frac", total.driverOnlyMs / total.wallMs, "frac"),
      ("task.run_ms", a.taskRunMs / p, "ms"),
      ("task.cpu_ms", a.taskCpuNs / 1e6 / p, "ms"),
      ("task.gc_ms", a.taskGcMs / p, "ms"),
      ("task.core_fill", total.coreFill, "frac"),
      ("task.failed", a.failedTasks / p, "count"),
      ("tables.scan_bytes", a.inBytes / p, "bytes"),
      ("tables.scan_rows", a.inRows / p, "count"),
      ("output.rows", rows / p, "count"),
      ("shuffle.write_bytes", a.shuffleWrite / p, "bytes"),
      ("shuffle.read_bytes", a.shuffleRead / p, "bytes"),
      ("shuffle.fetch_wait_ms", a.fetchWaitMs / p, "ms"),
      ("spill.bytes", a.spillBytes / p, "bytes"))
  }
}

/** The per-layer metric table: every name with its unit. A workload
  * reports each; layers it does not exercise read 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sessions.build_ms" -> "ms", "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "trigger.query_planning_ms" -> "ms",
    "exec.ms" -> "ms", "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.driver_only_ms" -> "ms", "sched.driver_only_frac" -> "frac",
    "task.run_ms" -> "ms", "task.cpu_ms" -> "ms", "task.gc_ms" -> "ms",
    "task.core_fill" -> "frac", "task.failed" -> "count",
    "tables.scan_bytes" -> "bytes", "tables.scan_rows" -> "count", "output.rows" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "spill.bytes" -> "bytes",
    "source.offered_rows" -> "count", "source.gen_late_ms_max" -> "ms",
    "source.backlog_rows_max" -> "count", "source.backlog_growth_rows_per_s" -> "rows/s",
    "trigger.count" -> "count", "trigger.ms_p50" -> "ms", "trigger.ms_p99" -> "ms",
    "trigger.rows_p50" -> "count", "trigger.add_batch_ms" -> "ms", "trigger.get_batch_ms" -> "ms",
    "trigger.latest_offset_ms" -> "ms", "trigger.wal_commit_ms" -> "ms",
    "trigger.commit_offsets_ms" -> "ms",
    "state.rows" -> "count", "state.mem_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.rows_dropped_late" -> "count", "state.rows_removed" -> "count",
    "watermark.lag_ms" -> "ms", "window.emit_delay_ms" -> "ms",
    "sink.rows_main" -> "count", "sink.rows_dead" -> "count", "sink.files" -> "count",
    "sink.bytes" -> "bytes",
    "op.parse_ms" -> "ms", "op.typed_ms" -> "ms", "op.dedup_ms" -> "ms",
    "op.validate_ms" -> "ms", "op.enrich_ms" -> "ms", "op.window_ms" -> "ms")

  def zeroed: Seq[(String, Double, String)] = all.map { case (n, u) => (n, 0.0, u) }

  /** Later entries override earlier ones; output follows `all`'s order. */
  def merge(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val m = ms.map(x => x._1 -> x).toMap
    all.map { case (n, u) => m.getOrElse(n, (n, 0.0, u)) }
  }
}
