package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line with the total and the
  * slowest-40 per-query seconds.
  *
  * Contract-line rules (the driver parses the stdout tail, ~2000 chars):
  *   - the JSON must be the LAST line of stdout, unprefixed. build.sbt sets
  *     `run / outputStrategy := Some(StdoutOutput)` so the forked JVM's stdout
  *     bypasses sbt's `[info]` logger, and `Global / showSuccess := false` +
  *     `.sbtopts -Dsbt.supershell=false` suppress the `[success]` epilogue
  *     that used to follow it (BENCH_r01..r05 all recorded `parsed: null`).
  *   - printed AFTER `spark.stop()` so no Spark shutdown logging can land
  *     after it, and flushed explicitly.
  *   - formatted with Locale.ROOT: an f-interpolator uses the JVM default
  *     locale, and a comma decimal separator would break the JSON.
  *   - kept well under ~2000 chars (slowest-40 only); the full-precision
  *     per-query map goes to `BENCH_FULL.json` (BASELINE.md points at it).
  *
  * Cache hygiene: several library paths cache/localCheckpoint bounded
  * intermediates (shingle maps, CC edges). Run-to-run those accumulated
  * across 131 queries in one session and evicted each other (r05:
  * "Asked to cache already cached data", uniform +0.4s drift) — so the loop
  * clears the catalog cache between queries: each query is measured cold on
  * its own plan, like the driver's per-query verify.
  */
/** Per-query resource probe (SPARK_GRAFT_BENCH_PROBE=1): snapshots the
  * JVM/Spark counters that can tell an in-suite slowdown's MECHANISM
  * apart — the round-18 verdict's s27/a15/d16 "diffuse drift" class ran
  * 2.6× slower inside the full close than scoped in the same window,
  * and a label is not a mechanism. Counters, and the hypothesis each
  * one tests:
  *   - gc_ms/gc_n (JVM collector MXBeans) + heap_peak_mb (pool peaks,
  *     reset per rep): old-gen pressure from 240 queries of plan/block
  *     debris → later queries pay longer collections.
  *   - storage_used_mb (getExecutorMemoryStatus, before the rep):
  *     broadcast/localCheckpoint block accumulation the per-query
  *     unpersist+gc nudge fails to reclaim (ContextCleaner lag).
  *   - shuffle_files/shuffle_file_mb (blockmgr-* dir walk, before the
  *     rep): shuffle files from earlier queries still on disk — page
  *     cache eviction pressure on the rows that re-read their shuffles.
  *   - sw_mb/sr_mb/spill_mb/task_gc_ms/task_run_ms (stage-aggregated
  *     TaskMetrics via a listener): whether the EXECUTOR side of the
  *     query itself did more work in-suite (spill onset) or the same
  *     work slower (GC share), vs the wall clock growing around it
  *     (driver/scheduling).
  *   - codegen_n (CodegenMetrics compilation count delta): generated-
  *     class cache misses (512 slots, two per whole-stage class; see
  *     Sessions.configure) — a full suite cycling more than that
  *     recompiles what a scoped run hits warm.
  * All public/DeveloperApi surfaces; probe off (the default) changes
  * nothing about the artifact shape or the measured loop. */
/** Local shuffle-file debris accounting + the pre-rep DRAIN barrier.
  *
  * Round-19 finding (the probe's first catch): ContextCleaner reclaims
  * shuffle files ASYNCHRONOUSLY after the loop's System.gc() nudge, so
  * the first measured rep after a big shuffle producer inherits its
  * debris — the scoped a15 first rep ran 10.6 s with 288 files /
  * 277.7 MB of canary_io leftovers still on disk (deleted DURING the
  * rep, racing its own IO), vs 3.7 s once clean. In a full run the
  * debris lands on whichever query follows a heavy shuffle; in a
  * scoped run it always lands on the first query — a window-dependent
  * bias in BOTH directions of the full-vs-scoped comparison. The drain
  * polls the blockmgr dirs after the gc nudge until the cleaner has
  * caught up (count stable and small) before t0, so every rep starts
  * from the same clean-disk state. Wait time is bounded and spent
  * OUTSIDE the measured region. */
private object ShuffleDebris {
  import java.nio.file.{Files, Path, Paths}

  /** blockmgr-* dirs that existed BEFORE this process created its
    * SparkSession — captured explicitly by main() ahead of session
    * init, because file creation-time is not reliable discrimination
    * (Linux stat commonly reports mtime as creationTime, and an active
    * foreign driver's dir mtime keeps advancing). Our dir is whatever
    * appeared afterwards. */
  @volatile private var preexisting: Set[String] = Set.empty
  def markPreexisting(): Unit = preexisting = listBlockmgrs().toSet

  private def listBlockmgrs(): Seq[String] = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val dirs = Files.list(tmp)
    try {
      val b = Seq.newBuilder[String]
      dirs.forEach { p =>
        if (p.getFileName.toString.startsWith("blockmgr-"))
          b += p.toString
      }
      b.result()
    } finally dirs.close()
  }

  /** THIS JVM's blockmgr dirs: everything not present at the
    * markPreexisting() snapshot — foreign leftovers and concurrently
    * running drivers that predate us can never stall the drain on
    * files our cleaner cannot delete. */
  private def ownDirs: Seq[Path] =
    listBlockmgrs().filterNot(preexisting).map(Paths.get(_))

  /** (file count, total MB) across this JVM's own blockmgr dirs.
    * Tolerates files vanishing mid-walk — the ContextCleaner this
    * exists to observe deletes concurrently, so NoSuchFileException is
    * the EXPECTED signal, not an error. */
  def snapshot(): (Long, Double) = {
    var n = 0L; var bytes = 0L
    ownDirs.foreach { d =>
      if (Files.exists(d)) {
        try {
          val st = Files.walk(d)
          try st.forEach { p =>
            try {
              if (Files.isRegularFile(p)) { n += 1; bytes += Files.size(p) }
            } catch { case _: java.io.IOException => () } // deleted mid-stat
          } finally st.close()
        } catch {
          case _: java.io.IOException => ()
          case _: java.io.UncheckedIOException => () // deleted mid-walk
        }
      }
    }
    (n, bytes / 1048576.0)
  }

  /** Wait (bounded) for the async cleaner to finish deleting earlier
    * queries' shuffle files: poll until the count is small or the
    * window closes. No stopped-shrinking early exit — the GC →
    * reference-queue → cleaner-thread chain can sit idle for hundreds
    * of ms before the first delete, so "stable" is indistinguishable
    * from "not started"; instead the gc nudge is re-issued every few
    * polls (one collection does not always enqueue every weak ref). */
  def drain(maxWaitMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis + maxWaitMs
    var polls = 0
    while (System.currentTimeMillis < deadline && snapshot()._1 > 64) {
      Thread.sleep(100)
      polls += 1
      if (polls % 5 == 0) System.gc()
    }
    // a timeout exit must be OBSERVABLE, not silent: a rep measured
    // with deletion still racing its IO is exactly the bias this
    // barrier removes, and an artifact claiming drained reps must not
    // quietly stop being one
    val leftover = snapshot()._1
    if (leftover > 64)
      System.err.println(
        s"[bench] drain TIMED OUT with $leftover shuffle files on disk " +
          "— this rep is NOT debris-clean")
  }
}

private final class BenchProbe(sc: org.apache.spark.SparkContext) {
  import java.util.concurrent.atomic.LongAdder
  private val sw, sr, spill, tgc, trun = new LongAdder
  // round-19: job/stage/task counts — a query whose wall clock dwarfs its
  // summed task time is DRIVER-bound (sequential planning/scheduling/
  // codegen of many small jobs), and the job count is the divisor that
  // turns "slow query" into "N jobs × fixed per-job overhead"
  private val jobs, stages, tasks = new LongAdder
  sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.add(1)
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.add(1)
      tasks.add(e.stageInfo.numTasks.toLong)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        sw.add(m.shuffleWriteMetrics.bytesWritten)
        sr.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        tgc.add(m.jvmGCTime)
        trun.add(m.executorRunTime)
      }
    }
  })
  private def gcBeans = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asInstanceOf[java.util.List[
      java.lang.management.GarbageCollectorMXBean]]
  private def gcSnap: (Long, Long) = {
    var t = 0L; var n = 0L
    gcBeans.forEach { b => t += b.getCollectionTime; n += b.getCollectionCount }
    (t, n)
  }
  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asInstanceOf[java.util.List[
      java.lang.management.MemoryPoolMXBean]]
  private def codegenCount: Long = org.apache.spark.metrics.source
    .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Approximate total janino compile ms so far: histogram mean × count.
    * The reservoir is sampled, so per-query deltas are an ESTIMATE — good
    * for attribution (is compile time a 5% or a 50% share), not for
    * sub-percent bookkeeping. */
  private def codegenMsApprox: Double = {
    val h = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
  private def storageUsedMb: Double = sc.getExecutorMemoryStatus.values
    .map { case (max, remaining) => max - remaining }.sum / 1048576.0
  private var g0 = (0L, 0L); private var cg0 = 0L; private var cgMs0 = 0.0
  private var s0 = (0L, 0L, 0L, 0L, 0L)
  private var j0 = (0L, 0L, 0L)
  private var pre = (0.0, 0L, 0.0)
  def begin(): Unit = {
    heapPools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP)
        p.resetPeakUsage()
    }
    val sf = ShuffleDebris.snapshot()
    pre = (storageUsedMb, sf._1, sf._2)
    g0 = gcSnap; cg0 = codegenCount; cgMs0 = codegenMsApprox
    s0 = (sw.sum, sr.sum, spill.sum, tgc.sum, trun.sum)
    j0 = (jobs.sum, stages.sum, tasks.sum)
  }
  def end(): String = {
    // Settle the async listener bus first: the job returning does not
    // imply its stage-completed events were delivered — without this
    // the final (typically largest) stage's task metrics land AFTER
    // the read and silently vanish from the record (and the next
    // begin() re-baselines over them). Bounded poll until the adders
    // go quiet. Callers run this OUTSIDE the timed region.
    var prev = (sw.sum, sr.sum, spill.sum, tgc.sum, trun.sum)
    var quiet = 0
    val deadline = System.currentTimeMillis + 1000
    while (System.currentTimeMillis < deadline && quiet < 2) {
      Thread.sleep(15) // short poll: the quiet-bus floor is ~30 ms/rep
      val now = (sw.sum, sr.sum, spill.sum, tgc.sum, trun.sum)
      if (now == prev) quiet += 1 else { quiet = 0; prev = now }
    }
    val g1 = gcSnap
    var peak = 0L
    heapPools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP)
        peak += p.getPeakUsage.getUsed
    }
    var codeCache = 0L
    heapPools.forEach { p =>
      if (p.getName.contains("CodeHeap")) codeCache += p.getUsage.getUsed
    }
    def mb(b: Long) = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(b / 1048576.0))
    def d1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(v))
    s"""{"gc_ms":${g1._1 - g0._1},"gc_n":${g1._2 - g0._2}""" +
      s""","heap_peak_mb":${mb(peak)},"code_cache_mb":${mb(codeCache)}""" +
      s""","storage_used_mb":${d1(pre._1)}""" +
      s""","shuffle_files":${pre._2},"shuffle_file_mb":${d1(pre._3)}""" +
      s""","sw_mb":${mb(sw.sum - s0._1)},"sr_mb":${mb(sr.sum - s0._2)}""" +
      s""","spill_mb":${mb(spill.sum - s0._3)}""" +
      s""","task_gc_ms":${tgc.sum - s0._4}""" +
      s""","task_run_ms":${trun.sum - s0._5}""" +
      s""","jobs":${jobs.sum - j0._1},"stages":${stages.sum - j0._2}""" +
      s""","tasks":${tasks.sum - j0._3}""" +
      s""","codegen_n":${codegenCount - cg0}""" +
      // clamped at 0: the reservoir-sampled histogram mean can DROP
      // between snapshots, and a negative compile-time share is
      // misleading in an attribution-only field (round-19 advice)
      s""","codegen_ms_est":${d1(math.max(0.0, codegenMsApprox - cgMs0))}}"""
  }
}

object Bench {
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // before session init: pin which blockmgr dirs are NOT ours
    ShuffleDebris.markPreexisting()
    val spark = graft.core.Sessions
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM + parquet footers once so per-query numbers measure the
    // plan, not first-touch classloading.
    graft.core.Tables.all.foreach { n =>
      try graft.core.Tables(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_BENCH_REPS controls run-to-run variance handling: each
    // query runs `reps` times (cache-cleared before every run, so every
    // rep is the same cold measurement) and the recorded value is the
    // MEDIAN of the successful reps — robust to a one-off GC pause —
    // with all reps preserved in BENCH_FULL.json so a "regression" can
    // be told from noise. Default 2: the round-7 driver artifact (1 rep,
    // cold JIT, host contention) read 1.4x the committed 2-rep clean run
    // for identical code; defaulting the driver's invocation to the same
    // methodology keeps the two artifacts comparable.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run — for isolating one
    // query's cost from cross-query JVM interference when triaging a
    // regression. The driver never sets it; full runs stay the contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // blank value = no restriction (mirror Verify)
    // Constant-work CANARY: a data-independent seeded aggregation timed
    // with the same rep/median discipline as the queries. Four idle-host
    // closes spread ±9% with UNIFORM per-query drift (round-14 finding:
    // VM-level window speed, not code), so cross-run deltas under ~30%
    // are unreadable raw — the canary gives every artifact a
    // window-speed divisor: normalize two runs by their canary ratio
    // before reading per-query deltas. 400M codegen'd xxhash64 folded
    // with bit_xor (sum would overflow a long under ANSI mode) over a
    // fixed 32-partition range: no I/O, no data dependence, ~1 s —
    // sized so the reading's own jitter is small relative to the ±9%
    // window drift it measures (a 100M first cut read 0.19–0.24 s,
    // where sub-second scheduling noise rivaled the signal).
    val canary = {
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        ShuffleDebris.drain()
        val t0 = System.nanoTime()
        spark.range(0L, 400000000L, 1L, 32)
          .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times((times.size - 1) / 2)
    }
    // Constant-work IO/SHUFFLE canary: the round-16 sessions proved the
    // CPU canary above can read 1.7× FASTER while the suite's
    // shuffle/IO-bound rows run 1.3–1.7× slower (diffuse disk/page-cache
    // window drift the codegen'd range scan never touches), which made
    // cross-session deltas unreadable without manual isolated
    // re-measures. This probe pays what those rows pay: 30M rows
    // (~0.7 GB of unsafe-row shuffle) hash-REPARTITIONED (repartition
    // has no map-side combine, so the full volume is written to local
    // shuffle files and read back) then folded. Same rep/median
    // discipline; recorded as `canary_io` beside `canary` in every
    // artifact — BASELINE.md's reading rule uses the PAIR (CPU drift
    // indexes via canary, IO drift via canary_io).
    val canaryIo = {
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        ShuffleDebris.drain()
        val t0 = System.nanoTime()
        spark.range(0L, 30000000L, 1L, 32)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.expr(
              "(id * 2654435761) % 1048576").as("k"))
          .repartition(64, org.apache.spark.sql.functions.col("k"))
          .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times((times.size - 1) / 2)
    }
    // Window-suspect flag (round-19 verdict ask #8): apply BASELINE.md's
    // canary-PAIR reading rule inside the artifact itself, so a judge
    // reading one BENCH line knows whether the window was comparable to
    // the reference window without re-deriving the noise argument from
    // four files. Reference pair from SPARK_GRAFT_CANARY_REF="cpu,io"
    // (a builder comparing two specific runs), defaulting to the
    // committed canonical clean-window close's pair (BENCH_CLEAN_R19
    // .json: 0.382 / 3.020). >30% divergence on EITHER canary marks the
    // window suspect — per-query deltas then need canary-normalized or
    // same-window re-reads, not raw comparison. Additions-only: the
    // field rides beside the existing keys.
    val (canaryRefCpu, canaryRefIo) = sys.env.get("SPARK_GRAFT_CANARY_REF")
      .map(_.split(",")).collect { case Array(c, i) =>
        (c.trim.toDouble, i.trim.toDouble) }
      .getOrElse((0.382, 3.020))
    val windowSuspect = {
      def off(now: Double, ref: Double) =
        now / ref > 1.3 || ref / now > 1.3
      off(canary, canaryRefCpu) || off(canaryIo, canaryRefIo)
    }
    val probe = if (sys.env.get("SPARK_GRAFT_BENCH_PROBE").contains("1"))
      Some(new BenchProbe(spark.sparkContext)) else None
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val probes = Vector.newBuilder[String]
      val times = (1 to reps).map { _ =>
        // Cold per query: drop catalog-cached plans AND leftover persisted
        // RDDs — localCheckpoint blocks (CC rounds, pair caches) are NOT in
        // the catalog cache and otherwise sit in storage memory until a JVM
        // GC lets ContextCleaner reclaim them, skewing later queries.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        // localCheckpoint blocks whose DataFrames went out of scope are
        // reclaimed by ContextCleaner only after their weak refs are
        // GC'd; without this nudge they pile up across queries and the
        // widest shuffles (tfidf/vocab token aggs) measured 4-6x slower
        // in a full run than in isolation.
        System.gc()
        // Pre-rep drain barrier: see ShuffleDebris — the async cleaner
        // must not delete the PREVIOUS query's shuffle files inside
        // this rep's measured region. BEFORE t0: the wait must never
        // bill to the rep (the review caught the first cut doing
        // exactly the bias it was built to remove).
        ShuffleDebris.drain()
        probe.foreach(_.begin())
        val t0 = System.nanoTime()
        // A crashed query must NOT masquerade as a fast one: an OOM'd
        // 10x run once recorded 19.7s for a query that takes 73s when it
        // actually completes. Failures time as the NEGATED elapsed time —
        // visibly wrong in any artifact — and are listed in "failed".
        //
        // Consumed through the noop sink, which materializes EVERY
        // output column through the full plan — what a user writing the
        // result would pay. A .count() would let Catalyst skip work it
        // does not need (column pruning, outer-join elimination).
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // end() settles the listener bus (bounded poll) — after dt, so
        // the wait never bills to the rep
        probe.foreach(p => probes += p.end())
        if (ok) dt else -dt
      }
      // LOWER median over SUCCESSFUL reps when any exist: a failed rep's
      // negated time must not participate in the pick (times [-80, -79,
      // 10] would record -79); the negations stay visible in the reps
      // array and the failed list. At even rep counts the lower middle
      // is the pick — for the default reps=2 that is the warm rep, the
      // steady-state number (cold JIT lives in rep 1). Every committed
      // artifact and the driver's run use this same statistic, so
      // cross-artifact comparisons are like-for-like; just don't read
      // an even-reps "median" as a central estimate — it is the better
      // half.
      val succ = times.filter(_ > 0).sorted
      val med =
        if (succ.nonEmpty) succ((succ.size - 1) / 2)
        else times.sorted.apply((reps - 1) / 2)
      (name, med, times, probes.result())
    }
    val failed = timed.collect {
      case (name, _, times, _) if times.exists(_ < 0) => name
    }
    val results = timed.map { case (name, med, _, _) => name -> med }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val fullJson = timed
      .map { case (k, med, times, prbs) =>
        val probeJson = if (prbs.isEmpty) ""
          else ",\"probe\":[" + prbs.mkString(",") + "]"
        if (reps == 1 && prbs.isEmpty) s"\"" + k + "\":" + med
        else s"\"" + k + "\":{\"median\":" + med +
          ",\"reps\":[" + times.mkString(",") + "]" + probeJson + "}"
      }
      .mkString(
        s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"reps":$reps,"mode":"noop","canary":$canary,"canary_io":$canaryIo,"window_suspect":$windowSuspect,"canary_ref":[$canaryRefCpu,$canaryRefIo],"failed":${failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir","queries":{""",
        ",",
        "}}")
    // A SCOPED run (SPARK_GRAFT_BENCH_ONLY) writes its detail to
    // BENCH_SCOPED.json so ad-hoc isolation/rehearsal runs can never
    // clobber the committed full-run artifact the driver/BASELINE.md
    // point at. SPARK_GRAFT_BENCH_OUT overrides the detail filename:
    // the builder's clean-window closes set it to BENCH_CLEAN.json
    // (the committed artifact), leaving BENCH_FULL.json to the driver's
    // own per-round run — two artifacts, neither clobbering the other
    // (BASELINE.md names which is which). A scoped run pointed at
    // BENCH_FULL.json is ALWAYS a mistake (it would clobber the full
    // artifact with a partial map) — redirect it to BENCH_SCOPED.json
    // loudly instead of honoring the override.
    val detailFile0 = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_SCOPED.json" else "BENCH_FULL.json")
    val detailFile =
      if (only.isDefined && java.nio.file.Paths.get(detailFile0)
          .getFileName.toString == "BENCH_FULL.json") {
        System.err.println("[bench] refusing to write a SCOPED run to " +
          s"$detailFile0 (the committed full artifact); " +
          "writing BENCH_SCOPED.json instead")
        "BENCH_SCOPED.json"
      } else detailFile0
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Compact stdout contract line: slowest 40 queries, 3-decimal seconds.
    val top = results.sortBy(-_._2).take(40).sortBy(_._1)
    val qs = top.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":${failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},"mode":"noop","canary":${f3(canary)},"canary_io":${f3(canaryIo)},"window_suspect":$windowSuspect,"canary_ref":[${f3(canaryRefCpu)},${f3(canaryRefIo)}],"detail":"$detailFile","queries":$qs$failedJson,"sf":"$sfDir"}"""
    spark.stop()
    println(line)
    System.out.flush()
  }
}
