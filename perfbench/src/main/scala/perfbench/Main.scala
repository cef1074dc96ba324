package perfbench

import java.io.{File, FileWriter, PrintWriter}

/** Entry point. Usage (normally through run.py):
  *
  * {{{
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <benchDir> <recordsFile> [all]
  *   perfbench.Main selftest <benchDir>
  *   perfbench.Main expect <benchDir> <verifiedOutputDir>
  * }}}
  *
  * `run` prints one JSON record per line and, last, the result object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code = try args.headOption match {
      case Some("run") => run(args.tail)
      case Some("selftest") => SelfTest.run(args(1))
      case Some("expect") => expect(args(1), args(2))
      case _ => System.err.println("usage: perfbench.Main run|selftest|expect ..."); 2
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(a: Array[String]): Int = {
    val benchDir = a(4)
    val cfg = Config(workload = a(0), seed = a(1).toLong, seconds = a(2).toInt, trace = a(3) == "1",
      benchDir = benchDir, dataDir = s"$benchDir/data/sf0.01", workDir = s"$benchDir/.work",
      recordsPath = a(5), allQueries = a.length > 6 && a(6) == "all")
    val records = new PrintWriter(new FileWriter(cfg.recordsPath, false), true)
    val emit: String => Unit = { line => println(line); records.println(line) }
    val result = cfg.workload match {
      case "batch_etl" | "batch_llm_heavy" => Batch.run(cfg, emit)
      case "stream_txn" => Stream.run(cfg, emit)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics = if (cfg.trace) Layers.merge(result.metrics) else result.metrics
    if (result.notes.nonEmpty) emit(Json.obj(Seq("record" -> "failures", "notes" -> result.notes)))
    val line = Json.obj(Seq(
      "correct" -> result.correct, "attempted" -> result.attempted, "failed" -> result.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
    records.println(line)
    records.close()
    println(line)
    0
  }

  /** Write `expected/sf0.01.json` (row count and digest per query) from a
    * correctness dump that passed the oracle check: one parquet directory
    * per query, as written by graft.Verify. */
  private def expect(benchDir: String, verified: String): Int = {
    val (spark, _) = Common.buildSession()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val entries = names.map { q =>
      val d = Digest.of(spark.read.parquet(s"$verified/$q"))
      s"  ${Json.str(q)}: {\"rows\": ${d.rows}, \"digest\": ${Json.str(d.hex)}}"
    }
    new File(s"$benchDir/expected").mkdirs()
    val w = new PrintWriter(s"$benchDir/expected/sf0.01.json")
    w.println(entries.mkString("{\n", ",\n", "\n}")); w.close()
    println(s"wrote ${names.size} expected digests")
    0
  }
}

/** The benchmark's own tests: the workload partition covers the query
  * registry exactly, and the checkers report each kind of wrong output. */
object SelfTest {
  def run(benchDir: String): Int = {
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    def expectThat(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems += what
    }

    // Coverage guard.
    val registry = graft.SparkEntry.queries.keySet
    val wls = Batch.workloads(benchDir)
    val assigned = wls.values.toSeq.flatMap(_.modules.keys)
    expectThat(wls.keySet == Set("batch_etl", "batch_llm_heavy"), "batch workloads are batch_etl and batch_llm_heavy")
    expectThat(assigned.size == assigned.toSet.size, "no query is in two batch workloads")
    expectThat(assigned.toSet == registry,
      s"batch workloads partition SparkEntry.queries (unassigned: ${(registry -- assigned).toSeq.sorted.mkString(",")};" +
        s" unknown: ${(assigned.toSet -- registry).toSeq.sorted.mkString(",")})")
    wls.foreach { case (w, wl) =>
      expectThat(wl.timed.nonEmpty && wl.timed.forall(wl.modules.contains), s"$w timed queries belong to $w")
    }
    val expect = Batch.expected(benchDir)
    expectThat(expect.keySet == registry, "expected digests cover exactly the registered queries")

    // Batch checker: the real digest matches, a wrong expected digest fails.
    val (spark, _) = Common.buildSession()
    val dataDir = s"$benchDir/data/sf0.01"
    val q = "q_validation_summary"
    val df = graft.SparkEntry.queries(q)(spark, dataDir)
    val got = Digest.of(df)
    expectThat(Batch.verdict(q, got, expect).isEmpty, s"$q digest matches expected")
    expectThat(Batch.verdict(q, got, expect.updated(q, got.copy(hash = got.hash + 1))).nonEmpty,
      "a wrong expected batch digest is reported")
    expectThat(Batch.verdict(q, Digest.of(df.limit(math.max(0, got.rows.toInt - 1))), expect).nonEmpty,
      "a dropped batch row is reported")
    expectThat(Batch.verdict(q, Digest.of(df.union(df.limit(1))), expect).nonEmpty,
      "a duplicated batch row is reported")
    val changed = df.withColumn(df.columns.last, org.apache.spark.sql.functions.lit(null).cast(df.schema.last.dataType))
    expectThat(Batch.verdict(q, Digest.of(changed), expect).nonEmpty, "a changed batch value is reported")

    // Stream checker on a small clean case and its corruptions.
    import StreamCheck._
    val mainIds = Seq("TXN1", "TXN2", "TXN3")
    val deadIds = Seq("TXN4")
    val ref = Map(WinKey(0L, "ACC1") -> WinVal(2, 30.5), WinKey(2000L, "ACC1") -> WinVal(1, 7.25),
      WinKey(4000L, "ACC2") -> WinVal(1, 1.0))
    val emitted = Seq(WinKey(0L, "ACC1") -> WinVal(2, 30.5), WinKey(2000L, "ACC1") -> WinVal(1, 7.25))
    val wm = 4500L
    expectThat(ids(mainIds, deadIds, mainIds.toSet, deadIds.toSet).isEmpty, "clean stream ids pass")
    expectThat(windows(emitted, ref, 2000L, wm).isEmpty, "clean stream windows pass")
    expectThat(ids(mainIds.tail, deadIds, mainIds.toSet, deadIds.toSet).nonEmpty, "a dropped sink row is reported")
    expectThat(ids(mainIds :+ "TXN2", deadIds, mainIds.toSet, deadIds.toSet).nonEmpty, "a duplicated sink row is reported")
    expectThat(ids(mainIds, Seq("TXN4", "TXN1"), mainIds.toSet, deadIds.toSet).nonEmpty,
      "a row in both main and dead is reported")
    expectThat(windows(emitted.updated(1, WinKey(2000L, "ACC1") -> WinVal(1, 7.5)), ref, 2000L, wm).nonEmpty,
      "a wrong window sum is reported")
    expectThat(windows(emitted.updated(0, WinKey(0L, "ACC1") -> WinVal(3, 30.5)), ref, 2000L, wm).nonEmpty,
      "a wrong window count is reported")
    expectThat(windows(emitted.tail, ref, 2000L, wm).nonEmpty, "a missing closed window is reported")
    expectThat(windows(emitted :+ (WinKey(4000L, "ACC2") -> WinVal(1, 1.0)), ref, 2000L, wm).nonEmpty,
      "a window emitted before the watermark passed it is reported")

    // Layer table: every per-layer metric has one unit.
    expectThat(Layers.all.map(_._1).distinct.size == Layers.all.size, "per-layer metric names are unique")
    Common.stopSession(spark)
    println(if (problems.isEmpty) "selftest passed" else s"selftest FAILED: ${problems.size}")
    if (problems.isEmpty) 0 else 1
  }
}
