package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counters Spark reports for the jobs of one span (children excluded). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** One recorded layer call. `pass` tags the workload iteration it ran in
  * (0 is the first, cold one) and `slot` its position inside the pass
  * (the tick of a refresh cycle); `parent` is the enclosing span's id. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, slot: Int, traced: Boolean,
                      startNs: Long, var endNs: Long, own: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span-and-counter recorder. `span(name)` times a layer call; with
  * tracing on it also runs the call's Spark jobs under a job group of
  * their own, and a [[SparkListener]] attributes each job's tasks, CPU,
  * GC, shuffle, spill and output bytes to the innermost open span. Spans
  * are kept in memory; [[summary]] folds them into `<layer>.<counter>`
  * values and [[spanRecords]] lists them for the result file.
  *
  * With tracing off (the default; see [[setActive]]) `span` only reads
  * the clock and no listener is registered, so untraced work pays
  * nothing for the recorder. */
final class Trace(spark: SparkSession, cores: Int) {
  private val groupPrefix = "perfbench-span-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  var pass = 0
  var slot = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith(groupPrefix)) {
        val s = Trace.this.synchronized(spans(group.stripPrefix(groupPrefix).toInt))
        s.own.synchronized(s.own.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.own.synchronized {
        val c = s.own
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.taskMs += e.taskInfo.duration
      }
    }
  }
  private var active = false

  /** Attach or detach the listener; spans opened while detached carry
    * walls only and stay out of [[summary]]. */
  def setActive(on: Boolean): Unit = if (on != active) {
    val sc = spark.sparkContext
    if (on) sc.addSparkListener(listener)
    else {
      PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    active = on
  }

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = synchronized {
      val sp = Span(spans.length, name, open.headOption.fold(-1)(_.id), pass, slot, active,
        System.nanoTime(), 0L, new Counters)
      spans += sp
      sp
    }
    open = s :: open
    val traced = active
    if (traced) sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (traced) open.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id)
    s +: kids.flatMap(subtree).toSeq
  }

  /** The counters of one span, its child spans included. */
  def counters(s: Span): Seq[(String, Double)] = {
    val all = subtree(s).map(_.own)
    def total(f: Counters => Long): Long = all.map(f).sum
    val taskMs = all.flatMap(_.taskMs).sorted
    val medianTask = if (taskMs.isEmpty) 0L else taskMs(taskMs.length / 2)
    Seq(
      "wall_s" -> s.wallS,
      "jobs" -> total(_.jobs).toDouble,
      "tasks" -> total(_.tasks).toDouble,
      "cpu_s" -> total(_.cpuNs) / 1e9,
      "gc_s" -> total(_.gcMs) / 1e3,
      "shuffle_write_mb" -> total(_.shuffleWriteBytes) / 1e6,
      "spill_mb" -> total(_.spillBytes) / 1e6,
      "output_mb" -> total(_.outputBytes) / 1e6,
      "core_util" -> (if (s.wallS <= 0) 0.0 else total(_.runMs) / 1e3 / (s.wallS * cores)),
      "task_skew" -> (if (medianTask <= 0) 0.0 else taskMs.last.toDouble / medianTask))
  }

  /** Per-layer values: for every traced span name, the median over the
    * warm passes (pass >= 1; the cold pass 0 only when nothing else ran)
    * of each counter, keyed `<name>.<counter>`. Also returns which
    * deterministic counters (jobs, tasks, shuffle bytes, output bytes)
    * read exactly the same in every traced pass, comparing spans of the
    * same name and slot, and which did not. */
  def summary(): (Map[String, Double], Seq[String], Seq[String]) = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val byName = spans.toSeq.filter(_.traced).groupBy(_.name)
    val exact = mutable.ArrayBuffer.empty[String]
    val varying = mutable.ArrayBuffer.empty[String]
    val values = byName.toSeq.flatMap { case (name, ss) =>
      val warm = ss.filter(_.pass >= 1)
      val use = if (warm.nonEmpty) warm else ss
      val rows = use.map(counters)
      val keys = rows.head.map(_._1)
      val bySlot = ss.groupBy(_.slot).values.filter(_.map(_.pass).distinct.length >= 2)
      if (bySlot.nonEmpty) Seq("jobs", "tasks", "shuffle_write_mb", "output_mb").foreach { k =>
        val same = bySlot.forall(g => g.map(sp => counters(sp).toMap.apply(k)).distinct.length == 1)
        (if (same) exact else varying) += s"$name.$k"
      }
      keys.map { k => s"$name.$k" -> Stats.median(rows.map(_.toMap.apply(k))) }
    }
    (values.toMap, exact.sorted.toSeq, varying.sorted.toSeq)
  }

  /** Every span with its counters, for the result file. */
  def spanRecords: Seq[ListMap[String, Any]] = spans.toSeq.map { s =>
    ListMap[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "slot" -> s.slot, "traced" -> s.traced, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
      counters(s)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
