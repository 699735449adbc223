package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The scheduler-level figures a traced run reports per iteration. */
object SchedulerMetrics {
  val Keys: Seq[(String, String, String)] = Seq(
    ("spark_jobs", "jobs", "count"), ("spark_tasks", "tasks", "count"),
    ("scheduler_delay_s", "scheduler_delay_s", "s"), ("no_job_running_s", "no_job_running_s", "s"),
    ("executor_cpu_s", "executor_cpu_s", "s"), ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("output_bytes", "output_bytes", "bytes"))

  /** The figures kept for the write and the read side of an iteration. */
  val SideKeys: Seq[(String, String)] = Seq(
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"), ("no_job_running_s", "s"))

  def metrics(of: String => Double): Seq[Metric] = Keys.map { case (n, k, u) => Metric(n, of(k), u) }
}

/** What one part hands back at the end of a run: its operations, the
  * checks that failed, and, for a part that keeps a table, the table's
  * bytes per live row after each timed iteration.
  */
final case class PartOutcome(attempted: Long, failed: Long, errors: Seq[String], bytesPerRow: Seq[Double])

/** What one workload run hands back. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
    endToEnd: Seq[Metric], perLayer: Seq[Metric])

/** One workload's share of a run. Building it makes its inputs; each
  * `iteration` runs one batch, round or pass inside the run's iteration
  * span and returns the wall seconds of its timed calls; `finish` runs
  * the final checks.
  */
trait Part {
  /** The spans of one iteration that write storage, by name. */
  def writes: Seq[String]
  /** The spans of one iteration that only read or compute, by name. */
  def reads: Seq[String]
  def iteration(timed: Boolean): Double
  def finish(): PartOutcome
}

/** Everything a workload needs: the session, its seed, how long to measure,
  * the tracer and a private work directory.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val work: java.io.File, t0Ms: Long) {
  private var setupDone = Double.NaN

  /** Set-up time, fixed at the start of the first timed iteration. */
  def setupS: Double = setupDone

  /** Runs untimed iterations (`timed = false`) until `Ctx.WarmupS` seconds
    * have passed, one at least, which close set-up: the first pass through
    * the parsers, writers and Spark's code generation runs at a third to
    * half of steady speed while the JIT compiles them, and an ETL batch
    * still gets 10–20 % faster over the next three or four. A cheap
    * iteration so gets more than one warm-up (an ETL batch two); a
    * lake-curation iteration's first pass alone takes longer than
    * `WarmupS`. Then runs timed iterations
    * until `seconds` have passed and at least `Ctx.MinTimed` have run, so
    * every time is a median of several. A full GC runs after every
    * iteration, outside the timing, so the collector's pauses and the
    * context cleaner it triggers do not land inside a timed one. Each
    * iteration's whole wall time, checks included, is logged.
    */
  def measure(iteration: Boolean => Unit): Unit = {
    def one(timed: Boolean, label: String): Unit = {
      val t = System.nanoTime()
      iteration(timed)
      System.gc()
      mark(f"$label ${(System.nanoTime() - t) / 1e9}%.2fs")
    }
    def until(s: Double) = System.nanoTime() + (s * 1e9).toLong
    val warm = until(Ctx.WarmupS)
    var w = 0
    while (w < 1 || System.nanoTime() < warm) {
      w += 1
      one(timed = false, s"warm-up $w")
    }
    setupDone = (System.currentTimeMillis() - t0Ms) / 1000.0
    mark("set-up done")
    val end = until(seconds)
    var i = 0
    while (i < Ctx.MinTimed || System.nanoTime() < end) {
      i += 1
      one(timed = true, s"iteration $i")
    }
  }

  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Logs a phase with the seconds since the process started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2fs $what")
}

object Ctx {
  val WarmupS = 12.0
  val MinTimed = 3

  /** Bytes of every file under `f`. */
  def bytesUnder(f: java.io.File): Long = if (f.isDirectory) f.listFiles().map(bytesUnder).sum else f.length()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Runs one workload in this JVM and prints the result as the last line
  * of standard output:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --t0-ms <epoch ms the process was launched> --cores <k>`.
  */
object Main {
  /** Each workload's parts. The lake and curation parts share a run: the
    * run budget (see README) fits two workloads, not three.
    */
  val Workloads: Map[String, Seq[Ctx => Part]] = Map(
    "etl_pipeline" -> Seq(EtlWorkload.start(_)),
    "lake_curation" -> Seq(LakeWorkload.start(_), CurationWorkload.start(_)))

  /** Builds the parts, measures their iterations together and finishes
    * them. Every workload reports the same metrics: the median over timed
    * iterations of the seconds spent in the timed calls, and the median
    * bytes per live row of the tables it keeps; a traced run splits Spark's
    * figures per iteration between the calls that write storage and those
    * that only read or compute.
    */
  def run(ctx: Ctx, starts: Seq[Ctx => Part]): Outcome = {
    val tracer = ctx.tracer
    val parts = starts.map(_(ctx))
    ctx.mark("inputs ready")
    val walls = mutable.ArrayBuffer[Double]()
    ctx.measure { timed =>
      val s = tracer.time(if (timed) "iteration" else "warmup")(parts.map(_.iteration(timed)).sum)._1
      if (timed) walls += s
    }
    val outs = parts.map(_.finish())
    val endToEnd = Seq(
      Metric("iteration_s", Stats.median(walls.toSeq), "s"),
      Metric("bytes_per_row", Stats.median(outs.flatMap(_.bytesPerRow)), "bytes/row"))
    val perLayer = if (!tracer.enabled) Nil else {
      val sides = Seq("write" -> parts.flatMap(_.writes), "read" -> parts.flatMap(_.reads))
      val steps = sides.flatMap(_._2)
      sides.flatMap { case (side, names) =>
        SchedulerMetrics.SideKeys.map { case (k, u) => Metric(s"$side.$k", tracer.median(names, k), u) }
      } ++ (Metric("traced_iteration_s", tracer.median(steps, "wall_s"), "s") +:
        SchedulerMetrics.metrics(k => tracer.median(steps, k)))
    }
    Outcome(outs.map(_.attempted).sum, outs.map(_.failed).sum, outs.flatMap(_.errors), endToEnd, perLayer)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val starts = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val t0 = opt("t0-ms").toLong
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val spark = session(opt("cores"), work)
    try {
      val tracer = new Tracer(spark, traced)
      val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, tracer, work, t0)
      ctx.mark("session ready")
      val out = run(ctx, starts)
      ctx.mark("workload done")
      out.errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
      if (traced) tracer.writeJson(new java.io.File(work, "trace.json"), s"$workload-${opt("seed")}")
      val metrics = if (traced) out.perLayer else Metric("setup_s", ctx.setupS, "s") +: out.endToEnd
      println(Json.obj(Seq(
        "correct" -> out.errors.isEmpty.toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "metrics" -> Json.obj(metrics.map(m =>
          m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    } finally spark.stop()
  }

  /** The engine's own session settings, on `local[cores]`, with every
    * scratch path inside the run's work directory.
    */
  def session(cores: String, work: java.io.File): SparkSession = {
    val s = graft.Engine.builder(cores)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
