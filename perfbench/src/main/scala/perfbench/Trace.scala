package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call the benchmark made into a layer: its driver wall interval,
  * the span that caused it, and counters the workload attaches after the
  * call (files written, pruning ratio, ...).
  */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Times calls from outside the engine. With tracing off it only measures
  * wall time. With tracing on it also keeps every span in memory, tags each
  * Spark job submitted under a span with that span's id (a local property,
  * which Spark carries to the job and its stages), and sums the jobs' task
  * metrics per span through a [[SparkListener]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val bus = new Attribution
  if (enabled) sc.addSparkListener(bus)

  /** Runs `body`; returns its value and its wall seconds. */
  def time[T](name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t = System.nanoTime()
      val v = body
      return (v, (System.nanoTime() - t) / 1e9)
    }
    val s = new Span(spans.length, name, open.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(PropKey, s.id.toString)
    try {
      val v = body
      s.endNs = System.nanoTime()
      (v, s.wallS)
    } finally {
      if (s.endNs < 0) s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(PropKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attaches a counter to the most recent span called `name`. */
  def note(name: String, key: String, value: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach(_.counters(key) = value)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Median over the timed iteration spans of `key` summed over the spans
    * under each that are named in `parts`.
    */
  def median(parts: Seq[String], key: String): Double =
    Stats.median(named("iteration").map(it => descendants(it)
      .filter(c => parts.contains(c.name)).map(stats(_).getOrElse(key, 0.0)).sum))

  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Per-span figures over the span and everything under it. */
  def stats(s: Span): Map[String, Double] = {
    org.apache.spark.perfbenchshim.ListenerBusDrain(sc)
    val sub = (s +: descendants(s)).map(_.id).toSet
    val acc = bus.sumOver(sub)
    val (lo, hi) = (epochMs(s.startNs), epochMs(s.endNs))
    val busyMs = unionMs(bus.jobIntervals(sub).map { case (a, b) =>
      (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }.filter(x => x._2 > x._1))
    val childWall = spans.filter(_.parent == s.id).map(_.wallS).sum
    Map(
      "wall_s" -> s.wallS,
      "self_s" -> math.max(0.0, s.wallS - childWall),
      "jobs" -> acc.jobs.toDouble,
      "tasks" -> acc.tasks.toDouble,
      "executor_cpu_s" -> acc.cpuNs / 1e9,
      "gc_s" -> acc.gcMs / 1e3,
      "scheduler_delay_s" -> acc.schedMs / 1e3,
      "no_job_running_s" -> math.max(0.0, s.wallS - busyMs / 1e3),
      "shuffle_write_bytes" -> acc.shuffleWrite.toDouble,
      "spill_bytes" -> acc.spill.toDouble,
      "output_bytes" -> acc.outBytes.toDouble,
      "output_records" -> acc.outRecords.toDouble) ++ s.counters
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** Writes every span with its figures to one JSON file. */
  def writeJson(path: java.io.File, runId: String): Unit = {
    val rows = spans.toSeq.map { s =>
      Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ms" -> Json.num(epochMs(s.startNs)), "end_ms" -> Json.num(epochMs(s.endNs))) ++
        stats(s).toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json.obj(Seq("run_id" -> Json.str(runId),
      "spans" -> rows.mkString("[\n", ",\n", "\n]"))))
    finally w.close()
  }

  private final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var outBytes = 0L; var outRecords = 0L
  }

  /** Attributes jobs and task metrics to the span id the job carried. */
  private final class Attribution extends SparkListener {
    private val jobSpan = mutable.HashMap[Int, (Int, Long, Long)]()
    private val stageSpan = mutable.HashMap[Int, Int]()
    private val perSpan = mutable.HashMap[Int, Acc]()

    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(PropKey))).fold(-1)(_.toInt)

    private def acc(id: Int): Acc = perSpan.getOrElseUpdate(id, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = spanOf(e.properties)
      jobSpan(e.jobId) = (id, e.time, e.time)
      e.stageIds.foreach(stageSpan(_) = id)
      acc(id).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach { case (id, start, _) => jobSpan(e.jobId) = (id, start, e.time) }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageSpan.getOrElse(e.stageId, -1))
        val info = e.taskInfo
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }

    def sumOver(ids: Set[Int]): Acc = synchronized {
      val out = new Acc
      perSpan.foreach { case (id, a) =>
        if (ids.contains(id)) {
          out.jobs += a.jobs; out.tasks += a.tasks; out.cpuNs += a.cpuNs
          out.gcMs += a.gcMs; out.schedMs += a.schedMs
          out.shuffleWrite += a.shuffleWrite; out.spill += a.spill
          out.outBytes += a.outBytes; out.outRecords += a.outRecords
        }
      }
      out
    }

    def jobIntervals(ids: Set[Int]): Seq[(Long, Long)] = synchronized {
      jobSpan.values.collect { case (id, a, b) if ids.contains(id) => (a, b) }.toSeq
    }
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
