package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, the work items it completed and its wall time. */
final case class Op(kind: String, items: Long, seconds: Double)

/** A workload: inputs under `data`, scratch state under `work`. */
trait Workload {
  /** Op kinds whose latency the end-to-end percentiles summarise. */
  def latencyKinds: Set[String]
  /** Builds the initial state from the inputs in a fresh session,
    * replacing any earlier state; repeated to time set-up. */
  def setup(spark: SparkSession): Unit = ()
  /** Runs everything once before timing, after the last set-up. */
  def warmup(spark: SparkSession): Unit
  /** After the warm-up, untimed: input digests and correctness references. */
  def references(spark: SparkSession): Unit = ()
  /** Runs the next operation of the closed loop. */
  def next(spark: SparkSession): Op
  /** True between cycles: the timed region ends only on a boundary, so
    * every run measures whole cycles of the same operation mix. */
  def atBoundary: Boolean = true
  /** Correctness checks, outside the timed region: one line per failure. */
  def check(spark: SparkSession): Seq[String]
  /** Content digest of inputs the workload generates itself ("" if none). */
  def inputDigest: String = ""
  /** Per-layer metrics of a traced run. */
  def layers(spark: SparkSession, spans: Seq[Trace.Span],
      own: Map[Int, Trace.Counters]): Map[String, Double] = Map.empty
}

/** Several workloads as one closed loop over one session: a cycle runs
  * one cycle of each part in turn. Set-up, warm-up and checks of the
  * parts run concurrently; the timed loop stays one client thread. */
final class Composite(parts: Seq[Workload]) extends Workload {
  private var current = 0
  def latencyKinds: Set[String] = parts.flatMap(_.latencyKinds).toSet
  override def setup(spark: SparkSession): Unit = Main.concurrently(parts.map(p => () => p.setup(spark)))
  def warmup(spark: SparkSession): Unit = Main.concurrently(parts.map(p => () => p.warmup(spark)))
  override def references(spark: SparkSession): Unit = parts.foreach(_.references(spark))
  def next(spark: SparkSession): Op = {
    val op = parts(current).next(spark)
    if (parts(current).atBoundary) current = (current + 1) % parts.size
    op
  }
  override def atBoundary: Boolean = current == 0 && parts.head.atBoundary
  def check(spark: SparkSession): Seq[String] = {
    val found = Array.fill(parts.size)(Seq.empty[String])
    Main.concurrently(parts.indices.map(i => () => found(i) = parts(i).check(spark)))
    found.toSeq.flatten
  }
  override def inputDigest: String = parts.map(_.inputDigest).mkString
  override def layers(spark: SparkSession, spans: Seq[Trace.Span],
      own: Map[Int, Trace.Counters]): Map[String, Double] =
    parts.map(_.layers(spark, spans, own)).reduce(_ ++ _)
}

/** Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <data> <work> <out.json> <smoke 0|1>
  *
  * Runs one workload on `local[availableProcessors]` with one client
  * thread and writes its measurements as JSON to `out.json`. */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Hard stop for the timed loop, so a run always ends within its limit. */
  val MaxTimedSeconds = 90.0

  def workload(name: String, data: String, work: String, seed: Long, smoke: Boolean): Workload =
    name match {
      case "foto_weekly" => new FotoWeekly(work, seed, smoke)
      case "analyst_index" =>
        new Composite(Seq(new AnalystSql(data, work, seed), new IndexLifecycle(data, work, seed, smoke)))
      case other => sys.error(s"unknown workload $other")
    }

  /** `train <work> (<workload> <data>)...`: one smoke cycle of each
    * workload in one JVM, so a class-data archive recorded from this
    * process covers the classes every workload loads. */
  def train(work: String, pairs: Seq[(String, String)]): Unit = {
    val spark = graft.Sessions.local(cores.toString, cores.toString)
    pairs.foreach { case (name, data) =>
      val wl = workload(name, data, s"$work/$name", 1L, smoke = true)
      new File(s"$work/$name").mkdirs()
      wl.setup(spark); wl.warmup(spark); wl.references(spark)
      do wl.next(spark) while (!wl.atBoundary)
    }
    spark.stop()
    sys.exit(0)
  }

  def main(argv: Array[String]): Unit = {
    if (argv(0) == "train") train(argv(1), argv.drop(2).grouped(2).map(a => a(0) -> a(1)).toSeq)
    val Array(name, seedS, secondsS, traceS, data, work, out, smokeS) = argv
    val seed = seedS.toLong
    val smoke = smokeS == "1"
    val traced = traceS == "1"
    new File(work).mkdirs()
    val wl = workload(name, data, work, seed, smoke)

    // set-up, three times (median): session start and initial state;
    // then one warm-up
    val setupReps = if (smoke) 1 else 3
    val starts, setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = graft.Sessions.local(cores.toString, cores.toString)
      starts += (System.nanoTime() - t0) / 1e9
      wl.setup(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val warmupS = timed(wl.warmup(spark))._2
    val referencesS = timed(wl.references(spark))._2

    // timed region: whole cycles for at least `seconds`
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer.empty[Op]
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def cycles(minSeconds: Double): Double = {
      val begin = System.nanoTime()
      def elapsed = (System.nanoTime() - begin) / 1e9
      do {
        attempted += 1
        Trace.request()
        try ops += wl.next(spark)
        catch { case e: Exception => failures += s"op $attempted: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      } while ((elapsed < minSeconds || !wl.atBoundary) && elapsed < MaxTimedSeconds)
      if (!wl.atBoundary) failures += f"timed region stopped inside a cycle after $elapsed%.1f s"
      elapsed
    }
    if (traced) Trace.start(spark.sparkContext)
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val (cpu0, jit0, gc0, java0) = (cpu.getProcessCpuTime, jit.getTotalCompilationTime, gcMs, javaThreadsCpuNs())
    val timedS = cycles(secondsS.toDouble)
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val javaS = javaThreadsCpuNs().map { case (id, ns) => ns - java0.getOrElse(id, 0L) }.sum / 1e9
    val (jitS, gcS) = ((jit.getTotalCompilationTime - jit0) / 1e3, (gcMs - gc0) / 1e3)
    val (spans, own) = if (traced) Trace.finish() else (Nil, Map.empty[Int, Trace.Counters])
    val heapMb = liveHeapMb()

    val (checked, checkS) = timed(try wl.check(spark) catch { case e: Exception => Seq(s"check: $e") })
    failures ++= checked

    val items = ops.map(_.items).sum
    val opSeconds = ops.map(_.seconds).sum
    val lat = ops.filter(o => wl.latencyKinds(o.kind)).map(_.seconds * 1000).sorted.toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("setup_s") = (median(setups.toSeq), "s")
    // Java threads only: the JIT compiler and GC threads are not among
    // them. JIT is most of the timed region's CPU even after the warm-up
    // and varies from run to run; the full result keeps process CPU too.
    metrics("cpu_ms_per_item") = (if (items > 0) javaS * 1000 / items else 0.0, "ms")
    metrics("heap_live_mb") = (heapMb, "MB")

    val layerMetrics = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      layerMetrics("session_start_s") = median(starts.toSeq)
      layerMetrics ++= Layers.generic(spans, own, cores)
      layerMetrics ++= wl.layers(spark, spans, own)
      Files.write(new File(work, "spans.jsonl").toPath,
        spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_s" -> Trace.selfSeconds(spans, s))).text).mkString("\n").getBytes(UTF_8))
    }
    spark.stop()

    val json = Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> (failures.size.toLong min attempted),
      "failures" -> failures.toSeq,
      "ops" -> ops.size,
      "op_log" -> ops.toSeq.map(o => Json.obj(Seq("kind" -> o.kind, "s" -> o.seconds))),
      "op_geomean_ms" -> geomean(lat),
      "work_per_s" -> (if (opSeconds > 0) items / opSeconds else 0.0),
      "latency_samples" -> lat.size,
      "p50_ms" -> median(lat),
      "p90_ms" -> percentile(lat, 90),
      "tail_ms" -> tail(lat)._1,
      "tail_pct" -> tail(lat)._2,
      "timed_s" -> timedS,
      "cpu_s" -> cpuS,
      "java_threads_cpu_s" -> javaS,
      "jit_s" -> jitS,
      "gc_s" -> gcS,
      "setup_reps_s" -> setups.toSeq,
      "session_start_reps_s" -> starts.toSeq,
      "warmup_s" -> warmupS,
      "references_s" -> referencesS,
      "check_s" -> checkS,
      "jvm_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) },
      "layers" -> layerMetrics,
      "jvm_input_digest" -> wl.inputDigest,
      "host" -> Json.obj(Seq(
        "nproc" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> org.apache.spark.SPARK_VERSION))))
    Files.write(new File(out).toPath, json.text.getBytes(UTF_8))
    // graft's pooled writer threads are not daemons; do not wait for them
    sys.exit(0)
  }

  /** CPU time of every live Java thread, by thread id. A thread that
    * ends inside the timed region takes its CPU time with it. */
  def javaThreadsCpuNs(): Map[Long, Long] = {
    val threads = ManagementFactory.getThreadMXBean
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** Heap in use after full collections, once the context cleaner has
    * dropped the blocks of unreachable checkpoints: the least of three
    * collect-then-wait rounds. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile of ascending `sorted`. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = (sorted.size - 1) * p / 100
      val i = x.toInt
      if (i + 1 >= sorted.size) sorted.last else sorted(i) + (sorted(i + 1) - sorted(i)) * (x - i)
    }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile); the maximum when there are ten or fewer. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (0.0, 0.0)
    else if (n <= 10) (sorted.last, 100.0)
    else (sorted(n - 11), 100.0 * (n - 10) / n)
  }

  /** Wall time of `body` in seconds, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `tasks` on a small pool and waits for all; warm-ups only, never the timed loop. */
  def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, cores - 1))
    try {
      val fs = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  def deleteDir(f: File): Unit = if (f.exists()) graft.sources.Compaction.deleteLocalDir(f)
}

/** Per-layer metrics every workload has: client-side build, planning
  * and execution, as per-operation means over the traced spans. */
object Layers {
  def generic(spans: Seq[Trace.Span], own: Map[Int, Trace.Counters], cores: Int): Map[String, Double] = {
    val reqs = math.max(1, spans.map(_.req).distinct.size)
    def phase(name: String) = spans.filter(_.name == name)
    def sumS(name: String) = phase(name).map(_.seconds).sum
    def sumC(name: String) = {
      val c = new Trace.Counters
      phase(name).foreach(s => c += Trace.inclusive(spans, own, s.id))
      c
    }
    val b = sumC("build"); val e = sumC("exec")
    val execS = sumS("exec")
    Map(
      "build_s" -> sumS("build") / reqs,
      "build.jobs" -> b.jobs.toDouble / reqs,
      "plan_s" -> sumS("plan") / reqs,
      "exec_s" -> execS / reqs,
      "exec.jobs" -> e.jobs.toDouble / reqs,
      "exec.stages" -> e.stages.toDouble / reqs,
      "exec.tasks" -> e.tasks.toDouble / reqs,
      "exec.cpu_s" -> e.cpuNs / 1e9 / reqs,
      "exec.core_util" -> (if (execS > 0) e.cpuNs / 1e9 / (execS * cores) else 0.0),
      "exec.shuffle_write_mb" -> e.shuffleWrite / 1048576.0 / reqs,
      "exec.input_mb" -> e.input / 1048576.0 / reqs,
      "exec.spill_mb" -> e.spill / 1048576.0 / reqs,
      "exec.gc_s" -> e.gcMs / 1000.0 / reqs)
  }

  /** Median seconds and mean inclusive job count of the spans named `name`. */
  def named(spans: Seq[Trace.Span], own: Map[Int, Trace.Counters], name: String,
      metric: String): Map[String, Double] = {
    val hits = spans.filter(_.name == name)
    val jobs = hits.map(s => Trace.inclusive(spans, own, s.id).jobs.toDouble)
    Map(s"${metric}_s" -> Main.median(hits.map(_.seconds)),
      s"$metric.jobs" -> (if (jobs.isEmpty) 0.0 else jobs.sum / jobs.size))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }).text
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
