package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every catalog query, fully materialized (noop sink —
  * forces the complete physical plan, unlike count() which can prune
  * projections), on SPARK_GRAFT_SF_DIR. Prints exactly one JSON line.
  *
  * Methodology (hardened after round 2 shipped a blind regression):
  *   - ingest throughput is measured FIRST, in the still-clean session — r2
  *     measured 0.0 ev/s because 268 s of leaked checkpoint blocks starved
  *     the stream of execution memory;
  *   - every query is timed 3×; the headline per-query number is the MIN
  *     (median also reported), so a single GC/compaction event can't define
  *     the round's numbers;
  *   - [[Residency.release]] runs between every pair of measurements and the
  *     harness asserts nothing stayed resident — `clearCache()` alone cannot
  *     free snapped blocks (the r2 q19/q20 contamination);
  *   - the one-time streaming-cascade machinery (st04–st09 MV builds, which
  *     sq06 also reads) is executed before timing and reported separately as
  *     `streaming_setup_sec` — r2 misattributed its ~28 s to whichever query
  *     sorted first.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Trace-proof stdout: BENCH_r04's captured tail opened mid-stack-trace —
    // something (log4j console appender or an uncaught streaming-thread
    // handler) printed to stdout around teardown, and one longer trace would
    // push the JSON line out of the driver's ~2000-char capture window.
    // Redirect System.out to stderr BEFORE Spark initializes (log4j binds its
    // console stream at first use, i.e. after this), keep the real fd, and
    // print the one JSON line to it as the very last action after stop().
    val realOut = System.out
    System.setOut(System.err)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    // Child mode for the END-of-session canary pair (r13 verdict item 5):
    // run ONLY the canaries in a fresh JVM and print one JSON line. The
    // parent's end pair used to read up to ~25 % below cold start on a
    // HEALTHY box because a session's worth of JIT warmth is baked into the
    // same generated-code paths the canaries exercise — a fresh child JVM
    // measures the box at session end under exactly the start pair's
    // conditions (cold JIT, settled heap), so the pinned COLD references
    // stay valid for both and start ≈ end on a sustained box.
    if (sys.env.contains("SPARK_GRAFT_CANARY_ONLY")) {
      val s = GraftSession.session("graft-canary-child", sfDir, cpus)
      s.sparkContext.setLogLevel("ERROR")
      val (c, m, sc) = runCanaries(s)
      s.stop()
      realOut.println(s"""{"canary_child_cpu_s":$c,"canary_child_mem_s":$m,"canary_child_sched_s":$sc}""")
      realOut.flush()
      return
    }
    val spark = GraftSession.session("graft-bench", sfDir, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Route ALL log4j output to a file (target/bench_spark.log) and nothing
    // to the console: r5's captured tail carried `ERROR DataWritingSparkTask:
    // Aborted commit` lines that crowded the bounded stdout window. Must run
    // AFTER session creation — SparkContext init sees a default log4j config
    // and installs Spark's own profile over anything applied earlier (r6's
    // first attempt configured before the session and was silently undone).
    //
    // Provenance of those ERROR lines (root-caused in r6): they are this
    // bench's OWN ingest-throughput probe tearing down — q.stop() at the end
    // of the measured window interrupts the in-flight noop micro-batch, and
    // every running task logs `Aborted commit` (writer=NoopStreamingWrite)
    // plus a CANNOT_WRITE_STATE_STORE for the interrupted state checkpoint,
    // all stamped the same second the window closes. Nothing is retried or
    // lost — no data sink is involved — so the right response is to keep the
    // teardown noise in the file, not to "fix" a failure that isn't one.
    redirectLogsToFile("target/bench_spark.log")

    // Codegen-fallback gate (r9 verdict item 8 — st14's silent 64 KB janino
    // overflow cost 6.6× and hid in WARN logs): WholeStageCodegenExec logs
    // every fallback ("Whole-stage codegen disabled for plan" on compile
    // failure; "…whole-stage codegen was disabled for this plan" on the
    // huge-method bytecode limit) — redirectLogsToFile routes that logger at
    // INFO to its own file, and every entry's materialization diffs the
    // fallback count, so a recurrence fails loudly WITH the entry named and
    // the artifact carries the total.
    val codegenLogPath = java.nio.file.Paths.get("target/bench_codegen.log")
    def codegenFallbacks: Long =
      if (!java.nio.file.Files.exists(codegenLogPath)) 0L
      else {
        val src = scala.io.Source.fromFile(codegenLogPath.toFile)
        try src.getLines().count(_.contains("disabled for")) finally src.close()
      }
    val fallbackEntries = scala.collection.mutable.LinkedHashMap[String, Long]()
    def gateCodegen[T](stage: String)(body: => T): T = {
      val before = codegenFallbacks
      val r = body
      val delta = codegenFallbacks - before
      if (delta > 0) {
        fallbackEntries.updateWith(stage)(v => Some(v.getOrElse(0L) + delta))
        System.err.println(s"[bench] CODEGEN FALLBACK: $stage triggered $delta " +
          s"whole-stage fallback(s) — interpreted hot path; see target/bench_codegen.log")
      }
      r
    }

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillisNow: Long = {
      var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t
    }
    def heapUsedMb: Long =
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024 * 1024)

    // ---- Box-calibration canaries (r12 verdict item 1). Two pinned,
    // DATA-INDEPENDENT micro-workloads run FIRST in every bench session, so
    // cross-round comparisons can separate "the box is slow today" from "the
    // plan regressed" without the ad-hoc forensics r12 needed twice (a +32 %
    // uniform sf0.1 inflation and a +76 % identical-code sf10 witness, both
    // box condition — SCALE.md §0g.5).
    //   - canary_cpu: 2^29 rows of the avalanche-hash arithmetic through one
    //     whole-stage-codegen aggregate — no I/O, no shuffle; tracks per-core
    //     CPU throughput and nothing else.
    //   - canary_mem: a fixed ~1.2 GB round-trip shuffle (16 M × 9-long rows
    //     repartitioned by key to a noop sink) — tracks memory/serialization
    //     bandwidth, the term the r12 sf10 witness showed inflating while
    //     CPU-bound entries stayed flat.
    // Both are min-of-3; coefficients are each canary's min divided by the
    // reference minima pinned on the companion object (measured on the r13
    // round box). A coefficient ≫ 1 says: divide this artifact's wall numbers
    // by it before calling anything a regression.
    val (canaryCpuS, canaryMemS, canarySchedS) =
      if (sys.env.contains("SPARK_GRAFT_SKIP_CANARY")) (-1.0, -1.0, -1.0)
      else gateCodegen("canary")(runCanaries(spark))
    val boxCpuCoef =
      if (canaryCpuS < 0) -1.0 else math.round(canaryCpuS / CanaryCpuRefS * 1000) / 1000.0
    val boxMemCoef =
      if (canaryMemS < 0) -1.0 else math.round(canaryMemS / CanaryMemRefS * 1000) / 1000.0
    val boxSchedCoef =
      if (canarySchedS < 0) -1.0 else math.round(canarySchedS / CanarySchedRefS * 1000) / 1000.0
    if (canaryCpuS >= 0)
      System.err.println(f"[bench] canary: cpu=$canaryCpuS%.3f s (coef $boxCpuCoef), " +
        f"mem=$canaryMemS%.3f s (coef $boxMemCoef), sched=$canarySchedS%.3f s (coef $boxSchedCoef)")
    Residency.release(spark)
    // Boundary hygiene after the canary pair (r13, measured): the canary's
    // own 3× 1.2 GB shuffles reshape the fresh JVM's old gen, and exchange-
    // heavy entries then run WILDLY slower in the same session — dd06 read
    // 22.5 s min-of-3 in a canary JVM vs 4.6 s with SPARK_GRAFT_SKIP_CANARY,
    // same box, same data (q15 read 2.8× its canary-free wall the same day).
    // This is the r10 cascade/probe coupling class; the same gc+settle
    // applied at that boundary restores the entries (re-measured: dd06 back
    // to its r12-class wall with canaries ON). Instrument rule made explicit:
    // a probe that shares the measured JVM must hand back a settled heap.
    // Guarded like the end pair (r13 ADVICE): SKIP_CANARY runs are the
    // no-canary CONTROL in contamination A/Bs and must not carry the
    // canary's own settle perturbation.
    if (!sys.env.contains("SPARK_GRAFT_SKIP_CANARY")) {
      System.gc(); Thread.sleep(2000); System.gc()
    }

    // SPARK_GRAFT_BENCH_ONLY=dd07_x,dc02_y: time just those entries (targeted
    // scale-curve runs for new entries without re-benching the whole
    // catalog). Ingest and cascade setup are skipped unless a selected entry
    // needs the MVs; the full-catalog artifacts are only written for full
    // runs, so a filtered run can't masquerade as a round bench.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val needsCascade = only.forall(_.exists(n =>
      n.startsWith("st") || n.startsWith("pr") || n.startsWith("sq")))

    // One-time streaming machinery FIRST, in the still-clean session (r10
    // verdict item 6: at sf10 the cascade ran ~3× slower AFTER the ingest
    // probe — near-equal STW GC but a 100 GB JVM whose old-gen shape after
    // the probe costs G1 concurrent-cycle CPU the counters can't see; the
    // production posture never co-hosts the two, so the setup number users
    // quote should be the clean-session one). The 6-MV cascade plus the
    // per-dir heavyweight streams (st02 upsert sink, st10 stream-stream
    // join) — their catalog entries then time the maintained-result READ,
    // which is what a serving query would pay. GC/heap counters retained
    // around the phase so the reorder's effect is itself in the artifact.
    val setupGc0 = gcMillisNow
    val setupHeap0 = heapUsedMb
    val setupT0 = System.nanoTime()
    // Per-phase attribution (r14 verdict item 4: setup_s tripled 38.6→103.1
    // across rounds with no in-artifact breakdown). Three named phases cover
    // the whole block — state-store provider init (RocksDB native load +
    // first store open, isolated on a 3-row MemoryStream probe), the 6-MV
    // cascade, and the maintained streaming-MV family warm — plus an `other`
    // residual so the fields sum to setup_s exactly.
    var setupProviderInitS = -1.0
    var setupCascadeS = -1.0
    var setupStreamWarmS = -1.0
    val streamingSetup =
      if (!needsCascade) -1.0
      else try {
        gateCodegen("streaming_setup") {
          val p0 = System.nanoTime()
          stateProviderInitProbe(spark)
          setupProviderInitS = (System.nanoTime() - p0) / 1e9
          val c0 = System.nanoTime()
          graft.streaming.MvCascade.run(spark, sfDir)
          setupCascadeS = (System.nanoTime() - c0) / 1e9
          val w0 = System.nanoTime()
          graft.streaming.StreamingMVs.warm(spark, sfDir)
          setupStreamWarmS = (System.nanoTime() - w0) / 1e9
          (System.nanoTime() - setupT0) / 1e9
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] cascade setup failed: ${e.getMessage}"); -1.0
      }
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    val setupPhasesJson =
      if (streamingSetup < 0) "{}"
      else {
        val other = math.max(0.0,
          streamingSetup - setupProviderInitS - setupCascadeS - setupStreamWarmS)
        s"""{"state_provider_init":${r3(setupProviderInitS)},"cascade":${r3(setupCascadeS)},"stream_warm":${r3(setupStreamWarmS)},"other":${r3(other)}}"""
      }
    val setupGcMs = gcMillisNow - setupGc0
    val setupHeap1 = heapUsedMb
    if (streamingSetup >= 0)
      System.err.println(f"[bench] streaming setup: gc=${setupGcMs} ms " +
        f"(${setupGcMs / 10.0 / streamingSetup}%.1f%% of wall), " +
        f"heap ${setupHeap0} -> ${setupHeap1} MB")
    if (streamingSetup >= 0)
      graft.streaming.MvCascade.setupBreakdown(sfDir).foreach { case (n, c) =>
        System.err.println(f"[bench] cascade $n%-22s wall=${c.wallSec}%7.1f s busy=${c.busySec}%7.1f s batches=${c.batches}")
      }
    Residency.release(spark)

    // Heap settle between the two streaming-heavy phases: the cascade leaves
    // a grown old gen; without a full collection the ingest probe would pay
    // the same cross-phase G1 coupling in the other direction.
    System.gc(); Thread.sleep(2000); System.gc()

    // Ingest throughput probe AFTER the cascade (was first until r10; the
    // original r2 rationale — leaked checkpoint blocks starving the stream —
    // is covered by Residency.release + the resident-RDD assert, and the
    // probe's own warm-up + 3-window median absorbs heap-shape drag, whereas
    // the cascade's setup number demonstrably does not).
    val eps =
      if (only.isEmpty) gateCodegen("ingest_probe")(ingestEventsPerSec(spark))
      else IngestStats(-1.0, -1.0, -1.0)
    Residency.release(spark)

    // JVM/codegen/parquet-footer warm-up (not reported)
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    Residency.release(spark)

    def materialize(name: String): Double = gateCodegen(name) {
      val t0 = System.nanoTime()
      val secs =
        try { SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains(graft.pipeline.ExactBaseline.ConfKey) =>
            System.err.println(s"[bench] $name SKIPPED by exact-baseline guard " +
              s"(deliberate at this scale; raise SPARK_GRAFT_EXACT_MAXROWS to run it): ${e.getMessage}")
            -1.0
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
      Residency.release(spark)
      val left = Residency.residentRddCount(spark)
      if (left > 0) System.err.println(s"[bench] WARNING: $name left $left resident RDDs after release")
      secs
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_BENCH_ROUNDS=1: single-pass mode for the very long full
    // scale drives (sf10's full catalog is hours at min-of-3); the artifact
    // records `runs` so a 1-round figure can never masquerade as min-of-3.
    val rounds = sys.env.get("SPARK_GRAFT_BENCH_ROUNDS").map(_.toInt).getOrElse(3)
    val samples: Map[String, Seq[Double]] =
      (1 to rounds).flatMap(_ => names.map(n => n -> materialize(n)))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    def minOf(n: String): Double = {
      val ok = samples(n).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def medianOf(n: String): Double = {
      val ok = samples(n).filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    def fmtMap(f: String => Double): String =
      names.map(n => "\"" + n + "\":" + f(n)).mkString("{", ",", "}")
    val total = names.map(minOf).filter(_ >= 0).sum
    // per-MV cascade setup breakdown (r8 verdict item 3): wall = that
    // query's start→termination while all ran concurrently; busy =
    // Σ triggerExecution — the additive cost signal that localizes a
    // superlinear member inside the aggregate streaming_setup_sec
    val cascadeBreakdown = graft.streaming.MvCascade.setupBreakdown(sfDir)
      .map { case (n, c) =>
        s""""$n":{"wall":${math.round(c.wallSec * 10) / 10.0},"busy":${math.round(c.busySec * 10) / 10.0},"batches":${c.batches},"state_bytes":${c.stateBytes}}"""
      }.mkString("{", ",", "}")
    // per-stream maintenance seconds for the maintained streaming indexes
    // (st14–st18 serve reads are in `queries`; this is their build cost)
    val streamMvs = graft.streaming.StreamingMVs.maintenanceBreakdown(sfDir)
      .map { case (n, s) => s""""$n":${math.round(s * 10) / 10.0}""" }
      .mkString("{", ",", "}")
    // End-of-session canary pair: the start pair samples ~15 s of box time,
    // which on a BURSTY box can read 2.5× while the session integral is
    // near-healthy (measured in r13 — catalog 209 s ≈ r12's face value under
    // a start-coef of 2.5). Start ≈ end ⇒ the condition was sustained and
    // the coefficient is a valid deflator; start ≫ end (or vice versa) ⇒
    // bursty, trust the catalog integral over either probe.
    // The end pair runs in a FRESH CHILD JVM (r13 verdict item 5): in-JVM
    // it conflated JIT warmth with box condition — a healthy sustained box
    // shipped box_cpu_coef 0.833 / _end 0.405 where up to half the 2×
    // divergence was structural warmth, not burst. The child reproduces the
    // start pair's conditions (cold JIT, its own settled heap) at session-
    // end wall-clock time, so the cold references apply to both and
    // start ≈ end is the expected healthy-box reading. In-JVM fallback (with
    // the old settle) only if the spawn fails; `canary_end_mode` records
    // which path produced the number.
    var canaryEndMode = "none"
    val (canaryCpuEndS, canaryMemEndS, canarySchedEndS) =
      if (sys.env.contains("SPARK_GRAFT_SKIP_CANARY")) (-1.0, -1.0, -1.0)
      else spawnEndCanaries(cpus) match {
        case Some((c, m, sc)) => canaryEndMode = "child_jvm"; (c, m, sc)
        case None =>
          canaryEndMode = "in_jvm"
          // settle before probing: without a collected heap the pair
          // inherits the last entries' old-gen shape (observed: end-mem
          // coef 5.08 right after dd06's exchanges on a 1.14-start box)
          System.gc(); Thread.sleep(2000); System.gc()
          gateCodegen("canary_end")(runCanaries(spark))
      }
    val boxCpuCoefEnd =
      if (canaryCpuEndS < 0) -1.0 else math.round(canaryCpuEndS / CanaryCpuRefS * 1000) / 1000.0
    val boxMemCoefEnd =
      if (canaryMemEndS < 0) -1.0 else math.round(canaryMemEndS / CanaryMemRefS * 1000) / 1000.0
    val boxSchedCoefEnd =
      if (canarySchedEndS < 0) -1.0 else math.round(canarySchedEndS / CanarySchedRefS * 1000) / 1000.0
    if (canaryCpuEndS >= 0)
      System.err.println(f"[bench] canary end: cpu=$canaryCpuEndS%.3f s (coef $boxCpuCoefEnd), " +
        f"mem=$canaryMemEndS%.3f s (coef $boxMemCoefEnd)")
    Residency.release(spark)
    val fallbacksJson = fallbackEntries
      .map { case (n, c) => s""""$n":$c""" }.mkString("{", ",", "}")
    val codegenTotal = codegenFallbacks
    if (codegenTotal > 0)
      System.err.println(s"[bench] CODEGEN GATE FAILED: $codegenTotal whole-stage " +
        s"fallback(s) across the catalog (offenders: ${fallbackEntries.keys.mkString(", ")})")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$rounds,"queries":${fmtMap(minOf)},"queries_median":${fmtMap(medianOf)},"streaming_setup_sec":$streamingSetup,"setup_phases":$setupPhasesJson,"setup_gc_ms":$setupGcMs,"setup_heap_mb":[$setupHeap0,$setupHeap1],"cascade_mvs":$cascadeBreakdown,"stream_mvs":$streamMvs,"codegen_fallbacks":$codegenTotal,"codegen_fallback_entries":$fallbacksJson,"ingest_events_per_sec":${eps.median},"ingest_eps_min":${eps.min},"ingest_eps_max":${eps.max},"ingest_eps_spread_pct":${eps.spreadPct},"ingest_spread_cause":"${eps.spreadCause}","ingest_eps_overall":${eps.overall},"ingest_windows":${eps.windowsJson},"canary_cpu_s":$canaryCpuS,"canary_mem_s":$canaryMemS,"box_cpu_coef":$boxCpuCoef,"box_mem_coef":$boxMemCoef,"canary_cpu_end_s":$canaryCpuEndS,"canary_mem_end_s":$canaryMemEndS,"box_cpu_coef_end":$boxCpuCoefEnd,"box_mem_coef_end":$boxMemCoefEnd,"canary_sched_s":$canarySchedS,"box_sched_coef":$boxSchedCoef,"canary_sched_end_s":$canarySchedEndS,"box_sched_coef_end":$boxSchedCoefEnd,"canary_end_mode":"$canaryEndMode","sf":"$sfDir"}"""
    // The driver keeps only a bounded (~2000-char) stdout tail and parses the
    // JSON line out of it; the full-name two-map line above is ~6 KB and has
    // never fit (BENCH_r1–r3 all show `parsed: null`). Print a compact line —
    // unique short keys (prefix before the first '_'), 3-decimal values, min
    // only — that fits the window; the full-precision line goes to the files.
    val shortNames = names.map(n => n -> n.takeWhile(_ != '_'))
    val compactQueries =
      if (shortNames.map(_._2).distinct.size == names.size)
        shortNames.map { case (n, s) => "\"" + s + "\":" + (math.round(minOf(n) * 1000) / 1000.0) }
          .mkString("{", ",", "}")
      else fmtMap(n => math.round(minOf(n) * 1000) / 1000.0)
    // Headline fields go AFTER the per-entry map (r11 verdict item 5): the
    // driver's window keeps the TAIL, so when the map alone overflows it the
    // surviving suffix still carries total/count/setup/ingest.
    val compactLine =
      s"""{"metric":"total","unit":"sec","runs":$rounds,"queries":$compactQueries,"value":${math.round(total * 1000) / 1000.0},"total_s":${math.round(total * 1000) / 1000.0},"n":${names.count(n => minOf(n) >= 0)},"setup_s":${math.round(streamingSetup * 10) / 10.0},"setup_phases":$setupPhasesJson,"codegen_fallbacks":$codegenTotal,"ingest_eps":${eps.median},"ingest_eps_min":${eps.min},"ingest_eps_max":${eps.max},"ingest_eps_spread_pct":${eps.spreadPct},"ingest_spread_cause":"${eps.spreadCause}","ingest_eps_overall":${eps.overall},"canary_cpu_s":$canaryCpuS,"canary_mem_s":$canaryMemS,"box_cpu_coef":$boxCpuCoef,"box_mem_coef":$boxMemCoef,"box_cpu_coef_end":$boxCpuCoefEnd,"box_mem_coef_end":$boxMemCoefEnd,"sf":"$sfDir","full_names_and_medians":"target/bench_<sf>.json"}"""
    // Also persist: the driver captures a bounded stdout tail, and r1's
    // per-query numbers fell outside the window — the file copy is the
    // durable record. Keyed by scale factor so consecutive runs (one per sf)
    // don't clobber each other; bench.json stays as "latest run" for tooling.
    try {
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      val paths =
        if (only.isDefined) Seq(s"target/bench_${sfName}_filtered.json")
        else Seq(s"target/bench_$sfName.json", "target/bench.json")
      for (p <- paths) {
        val out = java.nio.file.Paths.get(p)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, line + "\n")
      }
    } catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    realOut.println(compactLine)
    realOut.flush()
  }

  // Canary reference walls: the MEDIAN of three clean idle-box sessions'
  // min-of-3 on the round-13 box (cpu 0.407/0.414/0.336 s, mem
  // 1.256/1.373/1.323 s — SCALE.md §0h.1), so box_*_coef ≈ 1.0 ± 0.2 means
  // healthy. r12's box condition would have shown as box_mem_coef ≈ 1.3–1.8
  // with box_cpu_coef ≈ 1.0.
  private val CanaryCpuRefS = 0.407
  private val CanaryMemRefS = 1.323
  // r14: third canary — small-task SCHEDULING/dispatch. Found the hard way:
  // an r14 session read start AND end cpu/mem coefs healthy (0.83/0.88,
  // 0.79/1.04) while the catalog's sub-second entries ran a uniform ~1.3×
  // over r13 on unchanged code, reproduced in a minimal fresh JVM — the
  // big-granule pair (one 2^29-row stage, one 1.2 GB shuffle) is blind to
  // the dimension small entries are dominated by: per-stage launch +
  // per-task dispatch. This probe runs 3 200 near-empty tasks through one
  // single-row aggregate, min-of-3 — pure scheduler/dispatch throughput.
  // Reference pinned from the same r14 evening that exposed the gap
  // (sched 1.152 s measured WHILE the small-entry catalog ran ~1.3× over
  // r13, i.e. the reference box was plausibly NOT healthy on this axis):
  // until a quiet-morning session re-pins it, read box_sched_coef as
  // RELATIVE to that condition (≪1 = better box than the r14 evening,
  // and if the catalog recovers to r13 levels alongside a low sched coef,
  // the blind-spot hypothesis is confirmed and the ref re-pins there).
  private val CanarySchedRefS = 1.152

  /** Isolate the state-store provider's one-time cost (RocksDB JNI library
    * load + first store open + first snapshot machinery) on a 3-row
    * MemoryStream dedup, so the cascade phase that follows measures MV work,
    * not provider bring-up.
    */
  private def stateProviderInitProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 2L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-provider-init")
    val q = ms.toDF().dropDuplicates("value").writeStream
      .format("noop")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** Spawn a fresh JVM that runs ONLY the canary pair (SPARK_GRAFT_CANARY_
    * ONLY mode of this main) and parse its one-line JSON. Same java binary,
    * inherited --add-opens, same classpath; -Xmx capped at 8g so a 100 g
    * parent drive doesn't double-reserve the box (the canaries need ~2 g).
    * None on any failure — caller falls back to the in-JVM pair.
    */
  private def spawnEndCanaries(cpus: Int): Option[(Double, Double, Double)] = try {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(javaBin, "-Xmx8g") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
      "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_CANARY_ONLY", "1")
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    // Child stdout goes to a temp FILE, not a parent-read pipe: reading the
    // pipe to EOF before waitFor meant the 300 s timeout could never fire
    // while the child was alive (a wedged Spark startup would block the
    // parent bench forever and the in-JVM fallback was unreachable —
    // ADVICE r14). With a file sink the parent can waitFor with the real
    // timeout, destroy a hung child, and only then parse.
    val outFile = java.nio.file.Files.createTempFile("graft-canary-child", ".json")
    pb.redirectOutput(ProcessBuilder.Redirect.to(outFile.toFile))
    val p = pb.start()
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) {
      p.destroyForcibly()
      System.err.println("[bench] end-canary child timed out after 300 s; killed")
      java.nio.file.Files.deleteIfExists(outFile)
      return None
    }
    val out = java.nio.file.Files.readString(outFile)
    java.nio.file.Files.deleteIfExists(outFile)
    val re = """"canary_child_cpu_s":([0-9.]+),"canary_child_mem_s":([0-9.]+),"canary_child_sched_s":([0-9.]+)""".r
    re.findFirstMatchIn(out).map(m =>
      (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble))
  } catch {
    case e: Exception =>
      System.err.println(s"[bench] end-canary child failed: ${e.getMessage}")
      None
  }

  /** Min-of-3 walls for the two calibration canaries (see main). Fixed row
    * counts and fixed seeds: the workloads measure the BOX, never the data —
    * identical at every SF, every round, so their walls are comparable
    * across artifacts unconditionally.
    */
  private def runCanaries(spark: SparkSession): (Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    def minOf3(body: => Unit): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        Residency.release(spark)
      }
      math.round(best * 1000) / 1000.0
    }
    val cpu = minOf3 {
      // 2^29 rows × the avalanche arithmetic, one codegen'd aggregate; the
      // single-row result makes the job pure map-side CPU (no exchange).
      spark.range(0, 1L << 29, 1, 32)
        .select((col("id") * lit(2654435761L)).as("v0"))
        .select(col("v0").bitwiseXOR(shiftrightunsigned(col("v0"), 13)).as("v1"))
        .select(((col("v1") % 16777216L) * lit(2246822519L)).as("v2"))
        // mod before the SUM: 2^29 values × up to 2^55 would overflow the
        // ANSI BIGINT accumulator; 2^29 × 10^6 stays far inside it
        .agg(sum(col("v2").bitwiseXOR(shiftrightunsigned(col("v2"), 17)) % 1000000L))
        .write.format("noop").mode("overwrite").save()
    }
    val mem = minOf3 {
      // 16 M × 9-long rows (~1.2 GB) through one full repartition exchange —
      // every byte is shuffle-written and shuffle-read; compute is trivial.
      val payload = (0 until 8).map(i => (col("id") * lit(2654435761L + i)).as(s"p$i"))
      spark.range(0, 16L * 1000 * 1000, 1, 32)
        .select(((col("id") * lit(2654435761L)) % 1000000L).as("k") +: payload: _*)
        .repartition(64, col("k"))
        .write.format("noop").mode("overwrite").save()
    }
    val sched = minOf3 {
      // 3 200 near-empty tasks into one single-row aggregate: 100 dispatch
      // waves on 32 threads, no data, no shuffle bytes — pure per-stage
      // launch + per-task scheduling throughput (see CanarySchedRefS)
      spark.range(0, 3200L, 1, 3200)
        .agg(sum(lit(1L)))
        .write.format("noop").mode("overwrite").save()
    }
    (cpu, mem, sched)
  }

  /** Replace the log4j2 configuration with one that writes everything at
    * ERROR+ to `path` and NOTHING to the console. Must be called AFTER the
    * SparkSession exists: SparkContext startup treats the current config as
    * default and installs Spark's log4j profile over it ("Using Spark's
    * default log4j profile" in the r6 sf1 log proved an earlier-placed
    * reconfigure gets clobbered). Failure here must never kill the bench —
    * log noise is a reporting problem, not a correctness one.
    */
  private def redirectLogsToFile(path: String): Unit =
    try {
      val cfg = java.nio.file.Paths.get("target/bench-log4j2.properties")
      java.nio.file.Files.createDirectories(cfg.getParent)
      java.nio.file.Files.writeString(cfg,
        s"""rootLogger.level = error
           |rootLogger.appenderRef.file.ref = BenchFile
           |appender.file.type = File
           |appender.file.name = BenchFile
           |appender.file.fileName = $path
           |appender.file.append = false
           |appender.file.layout.type = PatternLayout
           |appender.file.layout.pattern = %d{HH:mm:ss.SSS} %p %c: %m%n%ex
           |appender.cg.type = File
           |appender.cg.name = CodegenFile
           |appender.cg.fileName = target/bench_codegen.log
           |appender.cg.append = false
           |appender.cg.layout.type = PatternLayout
           |appender.cg.layout.pattern = %d{HH:mm:ss.SSS} %p: %m%n
           |logger.wscg.name = org.apache.spark.sql.execution.WholeStageCodegenExec
           |logger.wscg.level = info
           |logger.wscg.additivity = false
           |logger.wscg.appenderRef.cg.ref = CodegenFile
           |""".stripMargin)
      org.apache.logging.log4j.core.config.Configurator.reconfigure(cfg.toUri)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] log redirect failed (continuing): $e")
    }

  /** Streaming ingest→MV throughput: drive the synthetic generator through
    * the watermarked minute-MV aggregation (graft.streaming.Ingest) and
    * report events/s — comparable to the reference's headline ~100 events/s
    * + 20 orders/s ingest claim (BASELINE.md).
    *
    * Methodology (r7 verdict item 3 — the single fixed 30 s window still
    * spread 55–65 k ev/s across same-code runs): THREE consecutive fixed
    * 10 s windows over one continuously-running stream in the clean session;
    * the headline is the MEDIAN, the artifact carries {median, min, max,
    * spread%}, and a spread above 10 % of the median is flagged loudly in
    * the artifact and on stderr rather than silently shipped.
    */
  private final case class IngestWindow(eps: Double, rows: Long, batches: Long, gcMs: Long)
  private final case class IngestStats(median: Double, min: Double, max: Double,
      overall: Double = -1.0, windows: Seq[IngestWindow] = Seq.empty) {
    def spreadPct: Double =
      if (median <= 0) -1.0 else math.round((max - min) / median * 1000) / 10.0
    // per-window {eps, batches, gc} in the artifact (r9 verdict item 6): a
    // contended-session window is attributable on sight — a slow window with
    // FEWER batches lost a batch quantum; same batches with high gc lost
    // time inside them.
    def windowsJson: String = windows.map(w =>
      s"""{"eps":${math.round(w.eps * 10) / 10.0},"rows":${w.rows},"batches":${w.batches},"gc_ms":${w.gcMs}}""")
      .mkString("[", ",", "]")
    // One-word spread attribution IN the artifact (r12 verdict item 6 — the
    // 11.1 % r12 spread tripped the loud flag but the driver-captured tail
    // carried no verdict; the counters that decide it were already here):
    //   quantum   — the slow window completed fewer micro-batches (one ~50 k
    //               batch quantum is the whole min-median gap, the r9 root
    //               cause of the r8 "bimodality");
    //   gc        — same batch count but the slow window lost ≥0.5 s more to
    //               collections;
    //   contended — neither counter explains it: external CPU/memory
    //               contention on the box (the r12 condition).
    def spreadCause: String =
      if (median <= 0 || windows.isEmpty) "unmeasured"
      else if (spreadPct <= 10.0) "none"
      else {
        val slow = windows.minBy(_.eps)
        val fast = windows.maxBy(_.eps)
        if (slow.batches < fast.batches) "quantum"
        else if (slow.gcMs - fast.gcMs >= 500) "gc"
        else "contended"
      }
  }

  private def ingestEventsPerSec(spark: SparkSession): IngestStats = {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
    // Accumulate numInputRows in a listener: recentProgress is a bounded
    // rolling buffer (~100 entries), and with ProcessingTime(0) more batches
    // than that can elapse between two reads — differencing it undercounts
    // (even negatively) once early batches roll out of the window.
    //
    // The listener counts rows and batches of the ingest query's OWN runId:
    // the session's listener bus carries QueryProgress events from EVERY
    // stream, so a concurrently-running stream (a leaked warm stream, a
    // cascade overlapping the probe) would silently pollute the counters.
    val ingestRunId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val totalRows = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new StreamingQueryListener {
      // Capture the runId HERE: onQueryStarted fires
      // synchronously on the bus before any progress event, so the id is
      // published before the first batch can count — no window where an
      // instant first batch would be dropped by the runId filter. CAS
      // from null: only the FIRST stream started after this listener
      // registers is the probe (nothing else starts during it), and a
      // hypothetical second start can't steal the slot.
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        ingestRunId.compareAndSet(null, e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == ingestRunId.get()) {
          totalRows.addAndGet(e.progress.numInputRows)
          batches.incrementAndGet()
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = graft.streaming.Ingest.generatedMinuteMv(spark, rowsPerBatch = 50000)
        .writeStream.outputMode("update").format("noop")
        .trigger(Trigger.ProcessingTime(0)).start()
      // stopped on every path: a probe left running would load every
      // timed entry after it
      try {
        // belt-and-braces: if the started event somehow didn't land yet, the
        // CAS from the main thread publishes the same id
        ingestRunId.compareAndSet(null, q.runId)
        assert(ingestRunId.get() == q.runId,
          s"ingest probe runId mismatch: listener saw ${ingestRunId.get()}, started ${q.runId}")
        // warm-up: wait (bounded) for the first processed batch before timing,
        // so slow stream startup under load doesn't read as zero throughput
        val warmDeadline = System.currentTimeMillis() + 30000
        while (totalRows.get() == 0 &&
          System.currentTimeMillis() < warmDeadline) Thread.sleep(200)
        // 5 s settle after the first processed batch: the stream's first
        // seconds are JIT/codegen-cold, and folding them into window 1 trips
        // the spread flag on every run (observed: 95k/110k/110k — a 13.6%
        // "spread" that is really warm-up). The settle keeps the three
        // windows comparable so the flag means variance, not ramp.
        Thread.sleep(5000)
        // Three consecutive fixed 10 s windows over the one running stream —
        // similar total measurement time to one 30 s window, but
        // the median defends the headline against a GC/compaction burst in
        // any one window, and the min/max spread makes run-to-run variance a
        // REPORTED quantity instead of an invisible one.
        val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        def gcMillis: Long = {
          var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t
        }
        val windows = (1 to 3).map { i =>
          val rows0 = totalRows.get()
          val batches0 = batches.get()
          val gc0 = gcMillis
          val t0 = System.nanoTime()
          Thread.sleep(10000)
          val secs = (System.nanoTime() - t0) / 1e9
          val rows = totalRows.get() - rows0
          // per-window rows/batches/GC named in the log localizes whether a
          // slow window lost a micro-batch (fewer batches) or lost time
          // inside batches (GC/compaction) — the two look identical in ev/s.
          val w = IngestWindow(rows / secs, rows, batches.get() - batches0, gcMillis - gc0)
          System.err.println(f"[bench] ingest window $i: ${w.eps}%.0f ev/s " +
            f"(${w.rows} rows, ${w.batches} batches, gc=${w.gcMs} ms)")
          w
        }
        // The 10 s windows quantize ev/s in 5 k steps (micro-batches are
        // exactly 50 k rows at ~1 batch/s, so a window catches 10 or 11
        // completions — one batch quantum IS the observed 5 k min-median
        // gap, GC flat across windows). `overall` spans all three windows —
        // quantization 1/30 of a batch — and is the unquantized headline
        // companion.
        val sorted = windows.map(_.eps).sorted.map(e => math.round(e * 10) / 10.0)
        val overall = math.round(windows.map(_.eps).sum / 3 * 10) / 10.0
        val stats = IngestStats(sorted(1), sorted.head, sorted.last, overall, windows)
        if (stats.spreadPct > 10.0)
          System.err.println(f"[bench] WARNING: ingest window spread ${stats.spreadPct}%.1f%% " +
            f"of median exceeds the 10%% repeatability target (windows: ${sorted.mkString(", ")})")
        stats
      } finally q.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ingest throughput failed: ${e.getMessage}")
      IngestStats(-1.0, -1.0, -1.0)
    } finally spark.streams.removeListener(listener)
  }
}
