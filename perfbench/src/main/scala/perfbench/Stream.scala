package perfbench

import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Sources, StreamPipeline}

/** The streaming workload: the reference transaction pipeline fed by an
  * open-loop generator thread through a MemoryStream. Two queries read
  * the stream:
  *
  *  - parse -> typed -> dedupStream -> enrich -> dualSinkQuery (main and
  *    dead-letter parquet, idempotent per micro-batch);
  *  - parse -> typed -> validate -> windowedAgg -> parquet append sink.
  *
  * Event time is the creation time, so the 2 s windows close within a
  * run. A fixed share of events is out of order by less than the
  * watermark delay (always kept), a share is a minute late (always
  * dropped once the watermark exists), a share repeats a recent id
  * within the delay (dropped by the dedup) and a share is invalid
  * (dead-lettered).
  *
  * Timed phases: `Drains` bounded backlogs, each offered at once and
  * worked off before the next (capacity: the median drain; the first is
  * slower, as the JIT is still compiling the trigger path), then a fixed
  * rate below capacity (latency), which the backlogs have warmed up.
  */
object Stream {
  val DelayMs = 2000L
  val Delay = "2 seconds"
  val WindowMs = 2000L
  val Window = "2 seconds"
  val LateMs = 60000L
  /** Fixed-rate phase, rows/s: below this host class's capacity. */
  val RatePerS = 2000
  /** Rows of each backlog per second of run length. */
  val BacklogPerS = 3000
  val Drains = 3
  val PoolSize = 4096
  /** The generator offers what has fallen due every tick. */
  val TickMs = 50L
  val SetupCycles = 3

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  /** Field values drawn by `pipeline.Generator.transactions`. */
  final case class Pool(account: Array[String], customer: Array[String], kind: Array[String],
                        amount: Array[Double], status: Array[String], source: Array[String])

  def pool(spark: SparkSession): Pool = {
    val rows = graft.pipeline.Generator.transactions(spark, PoolSize)
      .select("account_id", "customer_id", "transaction_type", "amount", "status", "source")
      .collect()
    Pool(rows.map(_.getString(0)), rows.map(_.getString(1)), rows.map(_.getString(2)),
      rows.map(_.getDouble(3)), rows.map(_.getString(4)), rows.map(_.getString(5)))
  }

  /** A seeded plan of sends. Times are filled in when a send is offered:
    * created = phase start + due, event = created + shift (a duplicate
    * carries its original's event time). */
  final class Sends(val n: Int) {
    val id = new Array[Int](n)
    val pool = new Array[Int](n)
    val shiftMs = new Array[Long](n)
    /** 0 valid, 1 non-positive amount, 2 missing account. */
    val invalid = new Array[Byte](n)
    val dupOf = Array.fill(n)(-1)
    val dueMs = new Array[Long](n)
    val createdMs = new Array[Long](n)
    val eventMs = new Array[Long](n)
    def late(i: Int): Boolean = shiftMs(i) <= -LateMs
  }

  final class Generator(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private var nextId = 0

    /** `n` sends spread evenly over `spanMs` (0 = all at once). */
    def plan(n: Int, spanMs: Long, withFaults: Boolean): Sends = {
      val s = new Sends(n)
      val perMs = if (spanMs > 0) n.toDouble / spanMs else Double.PositiveInfinity
      // Duplicates repeat a send at most 0.4 x delay older, and out-of-order
      // events are at most 0.4 x delay old: together under the delay, so
      // neither is ever behind the watermark.
      val dupReach = math.max(1, math.min(n, (0.4 * DelayMs * perMs).toInt))
      for (i <- 0 until n) {
        s.dueMs(i) = if (spanMs > 0) i * spanMs / n else 0L
        val j = if (withFaults && i > dupReach && rng.nextDouble() < 0.02) i - 1 - rng.nextInt(dupReach) else -1
        if (j >= 0 && s.dupOf(j) < 0 && !s.late(j)) {
          s.dupOf(i) = j
          s.id(i) = s.id(j); s.pool(i) = s.pool(j); s.invalid(i) = s.invalid(j)
        } else {
          s.id(i) = nextId; nextId += 1
          s.pool(i) = rng.nextInt(PoolSize)
          if (withFaults) {
            val r = rng.nextDouble()
            if (r < 0.02) s.shiftMs(i) = -LateMs
            else if (r < 0.08) s.shiftMs(i) = -rng.nextInt((0.4 * DelayMs).toInt).toLong
            val v = rng.nextDouble()
            if (v < 0.03) s.invalid(i) = 1 else if (v < 0.05) s.invalid(i) = 2
          }
        }
      }
      s
    }
  }

  def txnId(id: Int): String = f"TXN$id%010d"

  def json(p: Pool, s: Sends, i: Int): String = {
    val k = s.pool(i)
    val amount = if (s.invalid(i) == 1) -p.amount(k) else p.amount(k)
    val account = if (s.invalid(i) == 2) "" else s""""account_id":"${p.account(k)}","""
    s"""{"transaction_id":"${txnId(s.id(i))}",$account"customer_id":"${p.customer(k)}",""" +
      s""""transaction_type":"${p.kind(k)}","amount":$amount,"currency":"USD",""" +
      s""""timestamp":"${tsFmt.format(Instant.ofEpochMilli(s.eventMs(i)))}",""" +
      s""""status":"${p.status(k)}","source":"${p.source(k)}"}"""
  }

  /** Stamp sends [from, until) as created at `startMs + due` and build
    * their Kafka-shaped (key, value) records. */
  def stamp(p: Pool, s: Sends, startMs: Long, from: Int, until: Int): Seq[(String, String)] =
    (from until until).map { i =>
      s.createdMs(i) = startMs + s.dueMs(i)
      s.eventMs(i) = if (s.dupOf(i) >= 0) s.eventMs(s.dupOf(i)) else s.createdMs(i) + s.shiftMs(i)
      (p.account(s.pool(i)), json(p, s, i))
    }

  final class Pipeline(spark: SparkSession, val dir: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // A MemoryStream drops what its reader committed, so each query
    // reads its own copy of the stream. Without a partition count every
    // addData call becomes one task of the next micro-batch.
    private val parts = spark.sparkContext.defaultParallelism
    private val memMain = MemoryStream[(String, String)](parts)
    private val memWin = MemoryStream[(String, String)](parts)
    private val t0 = System.nanoTime()
    private def typed(m: MemoryStream[(String, String)]) =
      StreamPipeline.typed(StreamPipeline.parse(m.toDF().toDF("key", "value")))
    private val main = StreamPipeline.enrich(StreamPipeline.dedupStream(typed(memMain), Delay))
    private val win = StreamPipeline.windowedAgg(
      StreamPipeline.validate(typed(memWin)).filter(col("is_valid")), Delay, Window)
    val buildMs: Double = (System.nanoTime() - t0) / 1e6
    val qMain: StreamingQuery = Sources.dualSinkQuery(main, s"$dir/main", s"$dir/dead", s"$dir/ck_main")
    val qWin: StreamingQuery = win.writeStream.format("parquet").outputMode("append")
      .option("path", s"$dir/windows").option("checkpointLocation", s"$dir/ck_win").start()
    def offer(rows: Seq[(String, String)]): Unit =
      if (rows.nonEmpty) { memMain.addData(rows); memWin.addData(rows) }
    def settle(): Unit = { qMain.processAllAvailable(); qWin.processAllAvailable() }
    def stop(): Unit = { qMain.stop(); qWin.stop() }
  }

  /** Offer `s` on its schedule from a separate thread; returns the
    * thread, the offer lateness samples and the backlog samples. */
  final class Feeder(pipe: Pipeline, p: Pool, s: Sends, val startMs: Long,
                     processed: () => Long) extends Thread("perfbench-feeder") {
    @volatile var lateMaxMs = 0L
    val backlog = mutable.ArrayBuffer[(Long, Long)]()
    @volatile var error: Throwable = null
    setDaemon(true)
    override def run(): Unit = try {
      var next = 0
      while (next < s.n) {
        val now = System.currentTimeMillis()
        var until = next
        while (until < s.n && startMs + s.dueMs(until) <= now) until += 1
        if (until > next) {
          lateMaxMs = math.max(lateMaxMs, now - (startMs + s.dueMs(next)))
          pipe.offer(stamp(p, s, startMs, next, until))
          next = until
          backlog += ((now, next - processed()))
        }
        Thread.sleep(TickMs)
      }
    } catch { case e: Throwable => error = e }
  }

  def run(cfg: Config, emit: String => Unit): Result = {
    val t00 = System.nanoTime()
    def mark(what: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2f s $what")
    val work = new java.io.File(cfg.workDir, "stream")
    Common.deleteRecursively(work)
    val gen = new Generator(cfg.seed)
    val tracer = if (cfg.trace) Some(new Tracer("stream")) else None
    var spark: SparkSession = null
    var p: Pool = null
    var pipe: Pipeline = null
    var pre: Sends = null
    val setupS = mutable.ArrayBuffer[Double]()
    val buildMs = mutable.ArrayBuffer[Double]()
    // Each set-up cycle builds the session, starts both queries and pushes
    // one warm-up batch through them; the last cycle's queries go on into
    // the timed phases (their warm-up batch also set the first watermark).
    for (cycle <- 1 to SetupCycles) {
      if (pipe != null) pipe.stop()
      val t0 = System.nanoTime()
      if (spark != null) Common.stopSession(spark)
      val (s, ms) = Common.buildSession()
      spark = s
      buildMs += ms
      if (p == null) p = pool(spark)
      // A streaming query copies the session's listeners when it starts.
      if (cycle == SetupCycles) tracer.foreach(_.attach(spark))
      pipe = new Pipeline(spark, s"$work/" + (if (cycle == SetupCycles) "run" else s"setup$cycle"))
      pre = gen.plan(1500, 0, withFaults = false)
      pipe.offer(stamp(p, pre, System.currentTimeMillis(), 0, pre.n))
      pipe.settle()
      setupS += (System.nanoTime() - t0) / 1e9
      mark(s"setup$cycle done")
    }

    val processedRows: () => Long = tracer match {
      case Some(t) => () => t.synchronized(t.progress.filter(_.progress.id == pipe.qMain.id)
        .map(_.progress.numInputRows).sum)
      case None => () => 0L
    }
    def feed(s: Sends): Feeder = {
      // The backlog samples count the rows of this phase only.
      tracer.foreach(_.drain(spark))
      val before = processedRows()
      val f = new Feeder(pipe, p, s, System.currentTimeMillis() + 50, () => processedRows() - before)
      f.start()
      f.join()
      pipe.settle()
      if (f.error != null) throw f.error
      f
    }

    var cpuB = 0L
    def drain(b: Sends): Double = {
      val backlogRows = stamp(p, b, System.currentTimeMillis(), 0, b.n)
      val cpuB0 = Common.cpuNs()
      val tB = System.nanoTime()
      pipe.offer(backlogRows)
      pipe.settle()
      val s = (System.nanoTime() - tB) / 1e9
      cpuB += Common.cpuNs() - cpuB0
      s
    }

    tracer.foreach(_.reset(spark))

    val bs = Seq.fill(Drains)(gen.plan(BacklogPerS * cfg.seconds, 0, withFaults = true))
    val phaseAms = (cfg.seconds * 600L)
    val a = gen.plan((RatePerS * phaseAms / 1000).toInt, phaseAms, withFaults = true)
    val heap = mutable.ArrayBuffer[Double]()

    val bStart = System.currentTimeMillis()
    val drainS = bs.map(drain)
    heap += Common.heapAfterGcMb()
    mark("backlogs drained")

    val cpuA0 = Common.cpuNs()
    val feeder = feed(a)
    val aStart = feeder.startMs
    val aEnd = System.currentTimeMillis()
    val cpuA = Common.cpuNs() - cpuA0
    heap += Common.heapAfterGcMb()
    mark("phase A settled")
    val watermarkMs = Option(pipe.qWin.lastProgress).map(_.eventTime.get("watermark"))
      .map(w => Instant.parse(w).toEpochMilli).getOrElse(0L)
    val progresses = Seq("main" -> pipe.qMain.recentProgress.toSeq, "windows" -> pipe.qWin.recentProgress.toSeq)
    tracer.foreach(_.detach(spark))
    pipe.stop()
    mark("queries stopped")

    // Correctness against the sends.
    val all = Seq(pre) ++ bs :+ a
    val expectMain = mutable.Set[String]()
    val expectDead = mutable.Set[String]()
    val reference = mutable.Map[StreamCheck.WinKey, StreamCheck.WinVal]()
    all.foreach { s =>
      for (i <- 0 until s.n if !s.late(i)) {
        if (s.dupOf(i) < 0) (if (s.invalid(i) == 0) expectMain else expectDead) += txnId(s.id(i))
        if (s.invalid(i) == 0) {
          val k = StreamCheck.WinKey(Math.floorDiv(s.eventMs(i), WindowMs) * WindowMs, p.account(s.pool(i)))
          val v = reference.getOrElse(k, StreamCheck.WinVal(0, 0.0))
          reference(k) = StreamCheck.WinVal(v.count + 1, v.sum + p.amount(s.pool(i)))
        }
      }
    }
    val mainRows = spark.read.parquet(s"${pipe.dir}/main").select("transaction_id", "micro_batch_id")
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
    val deadIds = spark.read.parquet(s"${pipe.dir}/dead").select("transaction_id")
      .collect().map(_.getString(0)).toSeq
    val winDf = spark.read.parquet(s"${pipe.dir}/windows").withColumn("file", input_file_name())
    val winRows = winDf.select("window_start", "account_id", "transaction_count", "total_amount", "file")
      .collect().map(r => (StreamCheck.WinKey(r.getTimestamp(0).getTime, r.getString(1)),
        StreamCheck.WinVal(r.getLong(2), r.getDouble(3)), r.getString(4))).toSeq
    val problems = StreamCheck.ids(mainRows.map(_._1).toSeq, deadIds, expectMain.toSet, expectDead.toSet) ++
      StreamCheck.windows(winRows.map(x => (x._1, x._2)), reference.toMap, WindowMs, watermarkMs)

    mark("checked")
    // Latency: creation of each phase-A event to the commit of the
    // micro-batch that wrote it to the main sink.
    val commitMs = mutable.Map[Long, Long]()
    def commitOf(batch: Long): Long = commitMs.getOrElseUpdate(batch,
      Files.getLastModifiedTime(Paths.get(s"${pipe.dir}/ck_main/commits/$batch")).toMillis)
    val firstA = (0 until a.n).filter(a.dupOf(_) < 0).map(i => txnId(a.id(i)) -> i).toMap
    val latencies = mainRows.toSeq.flatMap { case (id, batch) =>
      firstA.get(id).map(i => (commitOf(batch) - a.createdMs(i)).toDouble)
    }
    def inPhaseA(pr: StreamingQueryProgress): Boolean = {
      val t = Instant.parse(pr.timestamp).toEpochMilli
      t >= aStart && t < aEnd && pr.numInputRows > 0
    }
    // Micro-batch times per query; the quantiles are across the queries'
    // medians, as the batch workloads' are across their queries' medians.
    val triggerS = progresses.map { case (q, prs) =>
      q -> prs.filter(inPhaseA).map(_.durationMs.get("triggerExecution").toDouble / 1000) }
    val queryS = triggerS.map(x => Common.median(x._2))

    val e2e = Seq(
      ("setup_s", Common.median(setupS.toSeq), "s"),
      ("wall_s", Common.median(drainS), "s"),
      ("query_p50_s", Common.quantile(queryS, 0.5), "s"),
      ("query_p90_s", Common.quantile(queryS, 0.9), "s"),
      ("latency_p50_ms", Common.quantile(latencies, 0.5), "ms"),
      ("latency_p99_ms", Common.quantile(latencies, 0.99), "ms"),
      ("capacity_rows_per_s", Common.median(bs.zip(drainS).map { case (b, d) => b.n / d }), "rows/s"),
      ("cpu_s", (cpuA + cpuB) / 1e9, "s"),
      ("heap_peak_mb", heap.max, "MB"))
    emit(Json.obj(Seq("record" -> "run", "workload" -> cfg.workload, "rate_rows_per_s" -> RatePerS,
      "phase_a_rows" -> a.n, "backlog_rows" -> bs.map(_.n), "drain_s" -> drainS,
      "latency_samples" -> latencies.size,
      "trigger_samples" -> triggerS.map(_._2.size).sum, "trigger_s" -> triggerS.toMap,
      "setup_cycles_s" -> setupS.toSeq,
      "gen_late_ms_max" -> feeder.lateMaxMs)))

    val attempted = all.map(_.n.toLong).sum
    val failed = problems.size.toLong
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        emit(Json.obj(Seq("record" -> "traced_e2e", "workload" -> cfg.workload) ++
          e2e.map { case (n, v, _) => n -> v }))
        val winDelay = winRows.map { case (k, _, f) =>
          (new java.io.File(new java.net.URI(f)).lastModified() - (k.startMs + WindowMs)).toDouble }
        layers(spark, t, pipe, gen, p, a.n + bs.map(_.n).sum, feeder, bStart, aEnd,
          Common.median(buildMs.toSeq), winDelay)
    }
    Common.stopSession(spark)
    Result(problems.isEmpty, attempted, failed, metrics, problems)
  }

  private def layers(spark: SparkSession, t: Tracer, pipe: Pipeline, gen: Generator, p: Pool,
                     offered: Long, feeder: Feeder, fromMs: Long, toMs: Long,
                     sessionBuildMs: Double, winDelayMs: Seq[Double]): Seq[(String, Double, String)] = {
    val ev = t.progress.map(_.progress).filter { pr =>
      val ts = Instant.parse(pr.timestamp).toEpochMilli
      ts >= fromMs && ts <= toMs
    }.toSeq
    val withRows = ev.filter(_.numInputRows > 0)
    def dur(k: String) = Common.median(withRows.map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    def stateSum(pr: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      pr.stateOperators.map(f).sum.toDouble
    def perQueryMax(f: StreamingQueryProgress => Double) =
      ev.groupBy(_.id).values.map(g => g.map(f).max).sum
    val winEv = ev.filter(_.id == pipe.qWin.id).filter(_.eventTime.containsKey("watermark"))
    val a = t.total
    val wallMs = (toMs - fromMs).toDouble
    val covered = a.coveredMs(fromMs, toMs).toDouble
    val cores = Common.cores
    val bl = feeder.backlog.toSeq
    val growth = if (bl.size < 2) 0.0 else {
      val xs = bl.map(_._1 / 1000.0); val ys = bl.map(_._2.toDouble)
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
    def dirStats(d: String): (Long, Long) = {
      val fs = Files.walk(Paths.get(d)).iterator.asScala.filter(f => f.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
    val sinks = Seq("main", "dead", "windows").map(x => dirStats(s"${pipe.dir}/$x"))
    val rowsMain = spark.read.parquet(s"${pipe.dir}/main").count().toDouble
    val rowsDead = spark.read.parquet(s"${pipe.dir}/dead").count().toDouble
    val rowsWin = spark.read.parquet(s"${pipe.dir}/windows").count().toDouble
    Layers.zeroed ++ Seq(
      ("sessions.build_ms", sessionBuildMs, "ms"),
      ("entry.build_ms", pipe.buildMs, "ms"),
      ("catalyst.analysis_ms", a.analysisMs.toDouble, "ms"),
      ("catalyst.optimization_ms", a.optimizationMs.toDouble, "ms"),
      ("catalyst.planning_ms", a.planningMs.toDouble, "ms"),
      ("trigger.query_planning_ms", dur("queryPlanning"), "ms"),
      ("exec.ms", withRows.map(_.durationMs.get("triggerExecution").toDouble).sum, "ms"),
      ("sched.jobs", a.jobs.toDouble, "count"),
      ("sched.stages", a.stages.toDouble, "count"),
      ("sched.tasks", a.tasks.toDouble, "count"),
      ("sched.driver_only_ms", wallMs - covered, "ms"),
      ("sched.driver_only_frac", (wallMs - covered) / wallMs, "frac"),
      ("task.run_ms", a.taskRunMs.toDouble, "ms"),
      ("task.cpu_ms", a.taskCpuNs / 1e6, "ms"),
      ("task.gc_ms", a.taskGcMs.toDouble, "ms"),
      ("task.core_fill", if (covered > 0) a.taskRunMs / (covered * cores) else 0.0, "frac"),
      ("task.failed", a.failedTasks.toDouble, "count"),
      ("tables.scan_bytes", a.inBytes.toDouble, "bytes"),
      ("tables.scan_rows", a.inRows.toDouble, "count"),
      ("output.rows", rowsMain + rowsDead + rowsWin, "count"),
      ("shuffle.write_bytes", a.shuffleWrite.toDouble, "bytes"),
      ("shuffle.read_bytes", a.shuffleRead.toDouble, "bytes"),
      ("shuffle.fetch_wait_ms", a.fetchWaitMs.toDouble, "ms"),
      ("spill.bytes", a.spillBytes.toDouble, "bytes"),
      ("source.offered_rows", offered.toDouble, "count"),
      ("source.gen_late_ms_max", feeder.lateMaxMs.toDouble, "ms"),
      ("source.backlog_rows_max", if (bl.isEmpty) 0.0 else bl.map(_._2).max.toDouble, "count"),
      ("source.backlog_growth_rows_per_s", growth, "rows/s"),
      ("trigger.count", ev.size.toDouble, "count"),
      ("trigger.ms_p50", Common.quantile(withRows.map(_.durationMs.get("triggerExecution").toDouble), 0.5), "ms"),
      ("trigger.ms_p99", Common.quantile(withRows.map(_.durationMs.get("triggerExecution").toDouble), 0.99), "ms"),
      ("trigger.rows_p50", Common.median(withRows.map(_.numInputRows.toDouble)), "count"),
      ("trigger.add_batch_ms", dur("addBatch"), "ms"),
      ("trigger.get_batch_ms", dur("getBatch"), "ms"),
      ("trigger.latest_offset_ms", dur("latestOffset"), "ms"),
      ("trigger.wal_commit_ms", dur("walCommit"), "ms"),
      ("trigger.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("state.rows", perQueryMax(pr => stateSum(pr)(_.numRowsTotal)), "count"),
      ("state.mem_bytes", perQueryMax(pr => stateSum(pr)(_.memoryUsedBytes)), "bytes"),
      ("state.commit_ms", Common.median(withRows.map(pr => stateSum(pr)(_.commitTimeMs))), "ms"),
      ("state.rows_dropped_late", ev.map(pr => stateSum(pr)(_.numRowsDroppedByWatermark)).sum, "count"),
      ("state.rows_removed", ev.map(pr => stateSum(pr)(_.numRowsRemoved)).sum, "count"),
      ("watermark.lag_ms", Common.median(winEv.map(pr => (Instant.parse(pr.timestamp).toEpochMilli -
        Instant.parse(pr.eventTime.get("watermark")).toEpochMilli).toDouble)), "ms"),
      ("window.emit_delay_ms", Common.median(winDelayMs), "ms"),
      ("sink.rows_main", rowsMain, "count"),
      ("sink.rows_dead", rowsDead, "count"),
      ("sink.files", sinks.map(_._1).sum.toDouble, "count"),
      ("sink.bytes", sinks.map(_._2).sum.toDouble, "bytes")) ++
      opCosts(spark, gen, p)
  }

  /** Marginal cost of each StreamPipeline stage: successive prefixes of
    * the chain over one static frame of generated rows, each timed as a
    * noop write (median of five), differenced. The parse, typed, enrich,
    * validate and window stages are the pipeline's own functions. */
  private def opCosts(spark: SparkSession, gen: Generator, p: Pool): Seq[(String, Double, String)] = {
    import spark.implicits._
    val s = gen.plan(40000, 10000, withFaults = true)
    val base = stamp(p, s, System.currentTimeMillis(), 0, s.n).toDF("key", "value").cache()
    base.count()
    def time(df: DataFrame): Double = Common.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); Common.noopWrite(df); (System.nanoTime() - t0) / 1e6
    })
    val parsed = StreamPipeline.parse(base)
    val typed = StreamPipeline.typed(parsed)
    // dropDuplicatesWithinWatermark runs on streams only; its static twin
    // is the same split with a plain dropDuplicates.
    val dedup = typed.filter(col("transaction_id").isNotNull).dropDuplicates("transaction_id")
      .unionByName(typed.filter(col("transaction_id").isNull))
    val enriched = StreamPipeline.enrich(dedup)
    val valid = StreamPipeline.validate(typed)
    val win = StreamPipeline.windowedAgg(valid.filter(col("is_valid")), Delay, Window)
    time(base) // warm
    val Seq(t0, t1, t2, t3, t4, tv, tw) = Seq(base, parsed, typed, dedup, enriched, valid, win).map(time)
    base.unpersist()
    Seq(("op.parse_ms", t1 - t0, "ms"), ("op.typed_ms", t2 - t1, "ms"), ("op.dedup_ms", t3 - t2, "ms"),
      ("op.validate_ms", tv - t2, "ms"), ("op.enrich_ms", t4 - t3, "ms"), ("op.window_ms", tw - tv, "ms"))
  }
}
