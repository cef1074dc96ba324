package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run options, as passed by run.py. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    benchDir: String,
    dataDir: String,
    workDir: String,
    recordsPath: String,
    allQueries: Boolean)

/** What a workload run hands back: the correctness verdict, the
  * operation counts and the metrics (name -> (value, unit)). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    notes: Seq[String])

/** Outcome of one query call: build and execute times, or an error. */
final case class Call(startMs: Long, buildNs: Long, execNs: Long, error: Option[String]) {
  def totalNs: Long = buildNs + execNs
}

object Common {
  val PhaseKey = "perfbench.phase"

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Time the JIT compilers have spent so far, summed over their threads. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Old-generation heap in use right after a full collection, in MB. The
    * first collections let Spark's context cleaner (which polls every
    * 100 ms) drop the blocks of unreachable shuffles and broadcasts; the
    * last one measures. */
  def heapAfterGcMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Cores of the `local[n]` session. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The engine's own session builder, timed. */
  def buildSession(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.util.Sessions.build("perfbench")
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("ERROR")
    (spark, ms)
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drop what a query cached so the next one starts from the same heap. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Build then execute one query on a worker thread inside a job group,
    * so a watchdog can cancel it. The phase local property lets the
    * traced run tell DataFrame-construction jobs from execution jobs. */
  def call(spark: SparkSession, group: String, timeoutS: Double)(
      build: => DataFrame)(exec: DataFrame => Unit): Call = {
    val sc = spark.sparkContext
    val startMs = System.currentTimeMillis()
    @volatile var buildNs = 0L
    @volatile var execNs = 0L
    @volatile var err: Throwable = null
    val done = new CountDownLatch(1)
    val th = new Thread(() => {
      try {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        sc.setLocalProperty(PhaseKey, "build")
        val t0 = System.nanoTime()
        val df = build
        val t1 = System.nanoTime()
        buildNs = t1 - t0
        sc.setLocalProperty(PhaseKey, "exec")
        exec(df)
        execNs = System.nanoTime() - t1
      } catch { case e: Throwable => err = e }
      finally {
        sc.setLocalProperty(PhaseKey, null)
        sc.clearJobGroup()
        done.countDown()
      }
    }, s"perfbench-$group")
    th.setDaemon(true)
    th.start()
    if (!done.await((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)) {
      sc.cancelJobGroup(group)
      done.await(10, TimeUnit.SECONDS)
      Call(startMs, buildNs, execNs, Some(s"timeout after ${timeoutS}s"))
    } else if (err != null) {
      val msg = Option(err.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
      Call(startMs, buildNs, execNs, Some(s"${err.getClass.getSimpleName}: $msg"))
    } else Call(startMs, buildNs, execNs, None)
  }

  def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Minimal JSON writer for flat records (the harness has no JSON dependency
  * of its own; reading uses the Jackson that ships with Spark). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}
