package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Procedure per BASELINE.md: one warmup pass over every query (JIT +
  * parquet footer caches), then N=5 timed runs, median reported. Each run
  * fully materializes via the `noop` sink — `count()` would let Catalyst
  * prune sorts and unreferenced aggregate columns and under-measure.
  * Failures are recorded under "errors" (not swallowed into the totals:
  * a broken query must not show up as a fast query).
  *
  * SURVIVAL CONTRACT (VERDICT r15 item 1 — the round-15 driver run died
  * at its wall-clock limit with rc=124 and produced NOTHING, because the
  * detail sidecar was written once after the full 247-entry suite and
  * the headline printed only after that): a kill at ANY point must leave
  * parseable evidence of the completed prefix.
  *
  *  - `bench_detail.json` is flushed INCREMENTALLY after every entry's
  *    timed block (staged to a tmp sibling, atomic rename) — a timeout
  *    95% of the way through leaves 95% of the rows on disk, marked
  *    `"partial":true` until the suite completes;
  *  - a JVM shutdown hook prints the partial headline JSON line (done/
  *    remaining counts, partial total, provisional probe) straight onto
  *    the process stdout fd, so a SIGTERM'd run still hands the driver
  *    a parseable last line (best effort — the incremental sidecar is
  *    the robust channel);
  *  - `SPARK_GRAFT_BENCH_BUDGET_SEC` (default 3000 — below any plausible
  *    driver limit) is honored as a hard wall: when the elapsed clock
  *    plus a per-entry estimate (warmup-measured) would blow the budget,
  *    the remaining entries downshift N 5→3→1 and finally SKIP, recorded
  *    in an explicit `"skipped"` list. An honest partial beats a silent
  *    rc=124.
  *
  * LOAD CALIBRATION: sub-second queries on a shared machine produce 2-6×
  * one-off spikes that are load artifacts, not regressions (6 adjudicated
  * in round 3, 3 in round 4, 7 in round 5). The PROBE is a pinned,
  * sf-independent, CPU-bound job (xxhash64 over a 20M range, 32
  * partitions) serving as the machine-speed unit. Two calibration layers:
  *
  *  - suite-level: probe medians before and after the suite → `probe_sec`;
  *    per-query `ratios` = median / probe_sec (cancels SUSTAINED load).
  *  - query-level: one probe run immediately before each query's N timed
  *    runs → `probe_local` per query; `ratios_local` = median /
  *    local-probe (catches MID-SUITE bursts, which round 5 showed inflate
  *    a contiguous alphabetical block while leaving the suite probes
  *    untouched — the pre/post probe cannot see them).
  *
  * The regression rule in BASELINE.md reads `ratios_local` first: a query
  * whose global ratio spikes but whose local ratio holds was timed during
  * a burst the local probe also absorbed — a load artifact, adjudicated
  * by the harness instead of a judge re-run.
  */
object Bench {
  private val N = 5

  /** Median + the probe measurement taken immediately before this
    * query's timed block + the Spark JOB count of one run (−1 when not
    * measured) + the number of timed runs the median came from (the
    * budget governor may downshift below the suite N). Job counts are
    * DETERMINISTIC per query (unlike wall time): protocol-heavy entries
    * pay fixed per-job scheduler latency that suite pressure multiplies,
    * and a job-count jump is the real regression signal wall-clock
    * ghosts have imitated for three rounds (VERDICT r12 item 1). Each
    * bracket read DRAINS the async listener bus first (ADVICE r13:
    * without the drain, a run's own events may be unprocessed at read
    * time — an undercount min-of-runs would then adjudicate as real),
    * so deltas are exact; the minimum across the N timed runs then only
    * strips cleanup jobs a sweep attributed late.
    */
  final case class Timing(median: Double, probeLocal: Double,
      jobs: Long = -1L, nRuns: Int = 0)

  /** Probe runs taken immediately before each query's timed block. */
  val LocalProbeRuns = 3

  /** BETWEEN-QUERY STATE SWEEP — the round-10 verdict's suite-context-
    * pressure fix. A 203-query JVM accumulates residue each entry leaves
    * behind, and the accumulation slows UNRELATED queries mid-suite
    * while every query stays clean in isolation (the `q_dedup_clusters`
    * ghost generalized; round 10's driver run flagged five dual-ratio
    * regressions concentrated on versioned-table and streaming-state
    * entries). Each sweep accounts for one residue class:
    *
    *  - leaked streaming queries: stopped (each entry stops its own —
    *    this is the belt for a failed entry's leak);
    *  - cached state-store providers: `StateStore.unloadAll()` — RocksDB
    *    instances hold NATIVE memory and file handles long after their
    *    query stops, and ~20 streaming entries' residue squeezes the
    *    page cache every parquet scan lives on (reflection: the object
    *    is `private[sql]`);
    *  - cached relations + leftover persisted RDDs: unpersisted (dead
    *    localCheckpoint blocks pin storage memory — the round-10
    *    `Checkpoints.free` class, swept here for anything that escaped);
    *  - staged `graft_*` table/checkpoint dirs under tmpdir: DELETED.
    *    Every query resets its own work dirs at entry
    *    (`FileOps.resetWorkDirs`), so this is safe — and on a tmpfs
    *    /tmp the staged versioned tables are RAM, not disk;
    *  - dead broadcasts + shuffle files: `System.gc()` drives the
    *    ContextCleaner promptly (its own periodic GC defaults to 30 min
    *    — longer than the whole suite).
    *
    * Runs BEFORE each query's local probes, so probe and timed runs see
    * the same (clean) context and sweep cost lands in no timing.
    */
  def sweep(spark: org.apache.spark.sql.SparkSession, gc: Boolean = true): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val mod = cls.getField("MODULE$").get(null)
      cls.getMethod("unloadAll").invoke(mod)
    } catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("graft_"))
      .foreach(deleteRec)
    if (gc) System.gc()
  }

  /** Recursive delete that NEVER follows symlinks (stream staging dirs
    * hold links into the read-only testdata — following one would try
    * to delete source data).
    */
  private[graft] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Time each query: `LocalProbeRuns` probes (median — a SINGLE probe
    * sample turned one 0.04 s scheduler blip into a 2-3× ratio_local
    * swing on sub-second entries, round-6 verdict), then `n` runs,
    * median. Failures land in `errors` instead of destroying the other
    * queries' medians (ADVICE r2). `preQuery` runs before each query's
    * probes — the state sweep in production, a no-op in specs. Factored
    * out of `main` so `BenchHarnessSpec` can drive it with a synthetic
    * mid-suite load burst and assert the local ratios self-adjudicate.
    *
    * Budget seams (VERDICT r15 item 1): `nFor` caps the run count per
    * entry (`min(n, nFor(qn))`; ≤0 = skip the entry outright, recorded
    * in `skipped` — probes and run never execute), `onTimed` fires after
    * each completed entry (the incremental sidecar flush in production).
    */
  def timeSuite(names: Seq[String], run: String => Unit, probe: () => Double,
      n: Int, errors: scala.collection.mutable.Map[String, String],
      preQuery: () => Unit = () => (),
      jobCount: () => Long = () => -1L,
      nFor: String => Int = _ => Int.MaxValue,
      onTimed: (String, Timing) => Unit = (_, _) => (),
      skipped: scala.collection.mutable.Buffer[String] =
        scala.collection.mutable.ArrayBuffer.empty[String]): Seq[(String, Timing)] =
    names.flatMap { qn =>
      val nq = math.min(n, nFor(qn))
      if (nq <= 0) { skipped += qn; None }
      else try {
        preQuery()
        val ps = (1 to LocalProbeRuns).map(_ => probe()).sorted
        val p = ps(ps.length / 2)
        val runs = (1 to nq).map { _ =>
          val j0 = jobCount()
          val t0 = System.nanoTime()
          run(qn)
          ((System.nanoTime() - t0) / 1e9, jobCount() - j0)
        }
        val times = runs.map(_._1).sorted
        val jobs = if (jobCount() < 0) -1L else runs.map(_._2).min
        val t = Timing(times(times.length / 2), p, jobs, nq)
        onTimed(qn, t)
        Some(qn -> t)
      } catch { case e: Throwable =>
        errors(qn) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        None
      }
    }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  // Locale.ROOT: default-locale %.2f renders "1,23" under e.g. de_DE,
  // which is invalid JSON (ADVICE r5)
  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Headline subset: the flagship + the heaviest operator families —
    * the queries the per-round adjudication has actually reached for.
    */
  val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q_join_orders_lineitem", "q_topn_orders",
    "q_window_topk", "q_minhash_lsh", "q_similarity_join",
    "q_entity_resolution", "q_pagerank", "q_triangles", "q_sessionize",
    "q_dedup_incremental", "q_ann_incremental", "q_cosine_topk",
    "q_bpe_train", "q_stream_window_counts", "q_stream_exactly_once")

  /** The stdout line — MUST stay short enough that the driver's capture
    * parses it (BENCH_r06/r07 both recorded `parsed: null` from the old
    * ~15k-char four-dict line). Headline medians only at %.3f, first 3
    * errors truncated to 80 chars, skipped entries as a COUNT plus the
    * first few names (the full list lives in the sidecar);
    * `BenchHarnessSpec` pins the length bound at full suite width so the
    * regression cannot recur.
    */
  /** Deterministic per-round suite permutation (VERDICT r16 item 8): a
    * fixed alphabetical order means the budget governor's skips starve
    * the SAME tail entries on a consistently slow machine. Ordering by
    * md5(seed:name) is a full pseudo-random permutation that changes
    * with the seed and is stable within a run; seed 0 keeps the legacy
    * alphabetical order so a filtered re-time reproduces old runs
    * exactly. Pure — `BenchHarnessSpec` pins the law.
    */
  def suiteOrder(names: Seq[String], seed: Int): Seq[String] =
    if (seed == 0) names.sorted
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      names.sortBy { n =>
        val h = md.digest(s"$seed:$n".getBytes("UTF-8"))
        (h.map("%02x".format(_)).mkString, n)
      }
    }

  def renderHeadline(timings: Seq[(String, Timing)],
      errors: collection.Map[String, String], probeMed: Double, n: Int,
      detailPath: String, sfDir: String,
      skipped: Seq[String] = Nil, partial: Boolean = false,
      nTotal: Int = -1, orderSeed: Int = -1): String = {
    val byName = timings.toMap
    val hq = Headline.flatMap(nm => byName.get(nm).map(t => s"${jstr(nm)}:${f3(t.median)}"))
      .mkString("{", ",", "}")
    val esShort = errors.take(3)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v.take(80))}" }.mkString("{", ",", "}")
    val total = timings.map(_._2.median).sum
    val skShort = skipped.take(6).map(jstr).mkString("[", ",", "]")
    val extra =
      (if (partial) s""","partial":true,"n_done":${timings.size},"n_remaining":${
        math.max(0, nTotal - timings.size - errors.size - skipped.size)}"""
       else "") +
      (if (skipped.nonEmpty) s""","n_skipped":${skipped.size},"skipped":$skShort"""
       else "") +
      (if (orderSeed >= 0) s""","order_seed":$orderSeed""" else "")
    s"""{"metric":"total_median_sec","value":${f3(total)},"unit":"sec","n_runs":$n,"probe_sec":${f3(probeMed)},"n_queries":${timings.size},"n_errors":${errors.size}$extra,"queries":$hq,"errors":$esShort,"detail":${jstr(detailPath)},"sf":${jstr(sfDir)}}"""
  }

  /** Full-fidelity sidecar JSON (all five per-query dicts — `jobs` is
    * the deterministic per-run Spark job count; BASELINE.md's job-budget
    * rule adjudicates >25% growth on the protocol-heavy entries).
    * `partial:true` marks an in-flight incremental flush; `n_timed_runs`
    * records any budget downshift per entry; `skipped` is the explicit
    * not-run list.
    */
  def renderDetail(timings: Seq[(String, Timing)],
      errors: collection.Map[String, String], probeMed: Double, n: Int,
      sfDir: String, skipped: Seq[String] = Nil,
      partial: Boolean = false): String = {
    def dict(f: Timing => String): String = timings.map { case (k, t) =>
      s"${jstr(k)}:${f(t)}" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.map(_._2.median).sum
    val sk = skipped.map(jstr).mkString("[", ",", "]")
    s"""{"metric":"total_median_sec","value":$total,"unit":"sec","n_runs":$n,"partial":$partial,"probe_sec":$probeMed,"queries":${dict(t => t.median.toString)},"ratios":${dict(t => f2(t.median / probeMed))},"probe_local":${dict(t => t.probeLocal.toString)},"ratios_local":${dict(t => f2(t.median / t.probeLocal))},"jobs":${dict(t => t.jobs.toString)},"n_timed_runs":${dict(t => t.nRuns.toString)},"skipped":$sk,"errors":$es,"sf":${jstr(sfDir)}}"""
  }

  /** Stage-and-rename atomic write: a kill mid-write leaves the previous
    * complete flush, never a torn JSON file.
    */
  private def atomicWrite(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, text)
    try java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Per-entry cost estimate for the budget governor: sweep + probes +
    * `runs` timed runs at the entry's WARMUP-measured duration (a cold
    * run overestimates steady state, which errs toward skipping early —
    * safe). Entries never warmed (the warmup pass itself hit the budget
    * fence) estimate at the median of the warm times seen.
    */
  def estimateSec(warm: Option[Double], warmFallback: Double,
      probeSec: Double, runs: Int): Double =
    0.5 + LocalProbeRuns * probeSec + runs * warm.getOrElse(warmFallback)

  /** The governor's decision for one entry: full `n`, a downshift, or 0
    * (= skip). Pure so `BenchHarnessSpec` pins the law: downshift before
    * skip, skip before blowing the budget.
    */
  def planRuns(remainSec: Double, warm: Option[Double], warmFallback: Double,
      probeSec: Double, n: Int): Int = {
    if (remainSec >= estimateSec(warm, warmFallback, probeSec, n) * 1.3) n
    else if (n > 3 && remainSec >= estimateSec(warm, warmFallback, probeSec, 3) * 1.2) 3
    else if (remainSec >= estimateSec(warm, warmFallback, probeSec, 1) * 1.1) 1
    else 0
  }

  def main(args: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - mainT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // HARD WALL (VERDICT r15 item 1c): the driver's wall-clock limit is
    // not announced, so default below any plausible limit; the env var
    // overrides for tight-budget drills and generous local runs. The
    // tail reserve covers post-suite probes + the final writes.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(3000.0)
    val tailReserve = 20.0
    def remainSec: Double = budgetSec - elapsedSec - tailReserve
    // Optional arg: comma-list of query names — re-time a flagged subset
    // with the EXACT suite procedure (warmup, probes, N medians) instead
    // of eyeballing PlanLab runs. The driver passes no args (full suite).
    val filter = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    filter.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names in filter: ${unknown.mkString(", ")}")
    }
    val spark = Engine.session()
    // ERROR level for the bench run: the 160-query suite re-registers the
    // session extensions' SQL functions thousands of times, and the
    // resulting WARN SimpleFunctionRegistry flood is what buried the
    // round-8 headline in the driver's captured tail. (It also keeps the
    // shutdown hook's partial headline from being buried under Spark's
    // own SIGTERM-time shutdown logging.)
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Pinned probe: fixed work, no IO, no sf dependence, nothing to
    // optimize away (xxhash64 over a non-foldable range relation).
    val lastProbe = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToLongBits(0.2))
    def probeOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .select(xxhash64(org.apache.spark.sql.functions.col("id")).as("h"))
        .agg(bit_xor(org.apache.spark.sql.functions.col("h"))) // xor: no ANSI overflow
        .write.format("noop").mode("overwrite").save()
      val d = (System.nanoTime() - t0) / 1e9
      lastProbe.set(java.lang.Double.doubleToLongBits(d))
      d
    }
    def probeEst: Double = java.lang.Double.longBitsToDouble(lastProbe.get())
    def probeRuns(): Seq[Double] = { probeOnce(); (1 to N).map(_ => probeOnce()) }

    // per-round rotation seed: the count of BENCH_r*.json evidence files
    // in the working dir advances once per round and is stable within
    // one; SPARK_GRAFT_BENCH_SEED overrides (0 = legacy alphabetical,
    // for reproducing old runs). A FILTERED re-time stays alphabetical —
    // it is a reproduction tool.
    val orderSeed =
      if (filter.isDefined) 0
      else sys.env.get("SPARK_GRAFT_BENCH_SEED")
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .getOrElse {
          val fl = new java.io.File(".").listFiles()
          if (fl == null) 0
          else fl.count(f => f.getName.matches("BENCH_r\\d+\\.json"))
        }
    val names = suiteOrder(filter.fold(SparkEntry.queries.keys.toSeq)(f =>
      SparkEntry.queries.keys.filter(f).toSeq), orderSeed)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    val probePre = probeRuns()
    val provisionalProbe = probePre.sorted.apply(probePre.length / 2)

    // ---- crash-evidence state shared with the shutdown hook ----------
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val liveTimings = new java.util.concurrent.CopyOnWriteArrayList[(String, Timing)]()
    val completed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def snapshotSeq: Seq[(String, Timing)] = {
      val it = liveTimings.iterator(); val b = Seq.newBuilder[(String, Timing)]
      while (it.hasNext) b += it.next()
      b.result()
    }
    def errorsSnapshot: collection.Map[String, String] =
      try errors.toList.toMap catch { case _: Throwable => Map.empty }
    def flushDetail(partial: Boolean, probeMed: Double): Unit =
      try atomicWrite(detailPath, renderDetail(snapshotSeq, errorsSnapshot,
        probeMed, N, sfDir, skipped.toList, partial))
      catch { case _: Throwable => () }
    // Shutdown hook: a SIGTERM (the driver's `timeout` default) runs JVM
    // hooks — print the partial headline as a bare last-ditch stdout
    // line and flush the sidecar one final time. No-op after a normal
    // completion (the main path printed the real headline already).
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!completed.get()) {
        flushDetail(partial = true, provisionalProbe)
        val line = try renderHeadline(snapshotSeq, errorsSnapshot,
          provisionalProbe, N, detailPath, sfDir, skipped.toList,
          partial = true, nTotal = names.size, orderSeed = orderSeed)
        catch { case _: Throwable =>
          s"""{"metric":"total_median_sec","value":0,"unit":"sec","partial":true,"n_done":${liveTimings.size()},"sf":${jstr(sfDir)}}"""
        }
        val raw = new java.io.PrintStream(
          new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
        raw.println(line)
        raw.flush()
      }
    }, "bench-partial-headline"))

    // warmup (also shakes out failures so timed runs only see good
    // queries) — swept every few entries: residue accumulated across the
    // warmup pass would otherwise front-load the timed pass's context
    // (GC only on the periodic sweeps; the full per-query sweep+gc runs
    // in the timed loop where it matters). Warm times feed the budget
    // governor's per-entry estimates. The warmup pass itself respects
    // the budget: past 30% of it, remaining entries go unwarmed (their
    // first timed run warms — the median of 5 absorbs it).
    val warmSec = scala.collection.mutable.HashMap[String, Double]()
    names.zipWithIndex.foreach { case (nm, i) =>
      if (elapsedSec < budgetSec * 0.30) {
        val t0 = System.nanoTime()
        try { materialize(nm); warmSec(nm) = (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          errors(nm) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        if (i % 8 == 7) sweep(spark)
      }
    }
    def warmFallback: Double =
      if (warmSec.isEmpty) 1.0
      else { val s = warmSec.values.toSeq.sorted; s(s.length / 2) }

    // deterministic job counter: every timed run's submitted Spark jobs
    // (probe jobs excluded by delta bracketing inside timeSuite)
    val jobCounter = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          { jobCounter.incrementAndGet(); () }
      })

    // START-OF-SUITE SETTLE (VERDICT r14 item 8): the r14 driver run's
    // alphabetical head block (`q_archive_move` … `q_bpe_*`) timed under
    // a ~10× machine-load burst that had decayed by mid-suite — the
    // local probes absorbed it per the dual-ratio rule, but baseline
    // comparisons should not depend on alphabetical position at all.
    // Run a few DISCARDED timed entries through the exact suite
    // procedure first, so boot-adjacent load decays before the first
    // REAL timing and the head block's local probes land within the
    // suite's normal band. Skipped when the budget is already tight —
    // evidence beats settling.
    if (remainSec > budgetSec * 0.5) {
      val settleErrors = scala.collection.mutable.LinkedHashMap[String, String]()
      timeSuite(names.filterNot(errors.contains).take(4),
        materialize, () => probeOnce(), 1, settleErrors,
        preQuery = () => sweep(spark))
      ()
    }

    val timings = timeSuite(names.filterNot(errors.contains),
      materialize, () => probeOnce(), N, errors,
      preQuery = () => sweep(spark),
      jobCount = () => {
        // drain the async bus so the bracket read sees every event of
        // the run it closes and none of it leaks into the next delta
        org.apache.spark.sql.graftshim.StreamingFrameShim.drainListenerBus(spark)
        jobCounter.get()
      },
      nFor = qn => planRuns(remainSec, warmSec.get(qn), warmFallback, probeEst, N),
      onTimed = (qn, t) => {
        liveTimings.add((qn, t))
        flushDetail(partial = true, provisionalProbe)
      },
      skipped = skipped)

    // Probe again AFTER the suite: the combined median reflects machine
    // speed across the whole run, not just its first seconds.
    val probePost = probeRuns()
    val allProbes = (probePre ++ probePost).sorted
    val probeMed = allProbes(allProbes.length / 2)

    // FULL per-query fidelity goes to a sidecar file; the stdout line
    // stays short (see renderHeadline's scaladoc for the r6/r7 history).
    atomicWrite(detailPath, renderDetail(timings, errors, probeMed, N, sfDir,
      skipped.toList, partial = false))
    val headline = renderHeadline(timings, errors, probeMed, N, detailPath,
      sfDir, skipped.toList, partial = false, nTotal = names.size,
      orderSeed = orderSeed)
    completed.set(true)
    // Stop Spark FIRST (its shutdown logs anything it wants to), then emit
    // the headline as the LAST line, straight onto the process's stdout
    // file descriptor — bypassing any System.out swap a launcher installed,
    // so the line reaches the driver bare (no logger prefix, nothing after
    // it from this JVM). Paired with build.sbt's StdoutOutput strategy.
    spark.stop()
    val raw = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    raw.println(headline)
    raw.flush()
  }
}
