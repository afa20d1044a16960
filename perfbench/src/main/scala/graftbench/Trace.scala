package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, plus a SparkListener
  * that attributes every job, stage and task to the innermost span open
  * when the job was submitted.
  *
  * Nothing is recorded while `enabled` is false: the untraced run pays
  * one volatile read per span. Spans stay in memory and are written out
  * once, when the run ends; counters are attributed at that point too,
  * after the listener bus has drained.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, req: Int,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Executor-side totals; all byte counts in bytes, times in ns/ms as named. */
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var shuffleWrite = 0L; var input = 0L; var spill = 0L; var gcMs = 0L
    def +=(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      shuffleWrite += o.shuffleWrite; input += o.input; spill += o.spill; gcMs += o.gcMs
    }
  }

  @volatile var enabled = false
  private val PropKey = "graftbench.span"
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Long, Long)] // (id, startNs, startMs), innermost first
  private var nextId = 1
  private var req = 0
  private var sc: SparkContext = _
  private var listener: Ledger = _

  /** Starts a new request: spans opened until the next call share its id. */
  def request(): Unit = req += 1

  /** The id of the current request. */
  def currentRequest: Int = req

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parentProp = sc.getLocalProperty(PropKey)
      open = (id, System.nanoTime(), System.currentTimeMillis()) :: open
      sc.setLocalProperty(PropKey, id.toString)
      try body
      finally {
        val (_, s, sMs) = open.head
        open = open.tail
        sc.setLocalProperty(PropKey, parentProp)
        val parent = open.headOption.map(_._1).getOrElse(0)
        done += Span(id, name, parent, req, s, System.nanoTime(), sMs, System.currentTimeMillis())
      }
    }

  /** Registers the listener; called only by a traced run. */
  def start(context: SparkContext): Unit = {
    sc = context
    listener = new Ledger
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Stops recording, waits for the listener bus to deliver every job
    * end, and returns the spans with the counters of their own jobs. */
  def finish(): (Seq[Span], Map[Int, Counters]) = {
    enabled = false
    val deadline = System.currentTimeMillis() + 10000
    while (!listener.quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
    sc.removeSparkListener(listener)
    (done.toSeq, listener.attribute(done.toSeq))
  }

  /** Inclusive counters of span `id`: its own plus its descendants'. */
  def inclusive(spans: Seq[Span], own: Map[Int, Counters], id: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val c = new Counters
    def walk(i: Int): Unit = { own.get(i).foreach(c += _); kids.getOrElse(i, Nil).foreach(s => walk(s.id)) }
    walk(id)
    c
  }

  /** Self time: the span's duration minus the union of its children's. */
  def selfSeconds(spans: Seq[Span], s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).sortBy(_.startNs)
    var covered = 0L; var reach = s.startNs
    kids.foreach { k =>
      val from = math.max(k.startNs, reach)
      if (k.endNs > from) { covered += k.endNs - from; reach = k.endNs }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  private final class Ledger extends SparkListener {
    private val jobSpan = mutable.Map.empty[Int, (Option[Int], Long)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageCounters = mutable.Map.empty[Int, Counters]
    private var started = 0
    private var ended = 0

    def quiet: Boolean = synchronized(started == ended)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += 1
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt)
      jobSpan(e.jobId) = (prop, e.time)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageCounters.getOrElseUpdate(e.stageInfo.stageId, new Counters).stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.input += m.inputMetrics.bytesRead
        c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }

    /** A job belongs to the span named in its local properties; a job
      * submitted from a thread that did not inherit them (graft's
      * parallel writers) belongs to the innermost span open at its
      * submission time. */
    def attribute(spans: Seq[Span]): Map[Int, Counters] = synchronized {
      val out = mutable.Map.empty[Int, Counters]
      def byTime(t: Long): Int = {
        val hits = spans.filter(s => s.startMs <= t && t <= s.endMs)
        if (hits.isEmpty) 0 else hits.maxBy(_.startNs).id
      }
      val jobOwner = jobSpan.map { case (j, (prop, t)) => j -> prop.getOrElse(byTime(t)) }
      jobOwner.values.foreach(s => out.getOrElseUpdate(s, new Counters).jobs += 1)
      stageCounters.foreach { case (st, c) =>
        val owner = stageJob.get(st).flatMap(jobOwner.get).getOrElse(0)
        out.getOrElseUpdate(owner, new Counters) += c
      }
      out.toMap
    }
  }
}
