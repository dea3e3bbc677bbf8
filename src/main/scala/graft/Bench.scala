package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints exactly ONE JSON line on stdout (also written to
  * `graft_bench.json` in the cwd so the driver can fall back to the file if
  * the sbt logger decorates stdout). A run restricted by SPARK_GRAFT_ONLY
  * writes its `graft_bench.json` and `bench_stages.jsonl` under `target/`
  * instead, so it never replaces the recorded headline files.
  */
object Bench {

  /** The gates flagged `headline` in [[SparkEntry.gates]]. */
  val headline: Seq[String] = SparkEntry.gates.filter(_.headline).map(_.name)

  def main(args: Array[String]): Unit = {
    // Every number below is formatted with the f interpolator, which uses
    // the JVM default locale — a comma-decimal locale (de_DE, fr_FR)
    // would make the JSON line, graft_bench.json, and bench_stages.jsonl
    // unparseable. This is a standalone measurement main, so pinning the
    // process default is the one-line fix for every %f site at once.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (profiling aid) — any
    // gate is benchable, not just the headline set; an unknown name fails.
    val onlySelected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(s => SparkEntry.gatesNamed(s.split(",").toSeq).map(_.name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(HadoopFs.forkFreeLocalConfs)
      // NOTE: no spark.driver.memory here — in local mode the JVM is
      // already running, so a builder conf would be a silent no-op; the
      // heap actually comes from build.sbt's -Xmx (same SPARK_DRIVER_MEM
      // env), and a conf that pretends otherwise misattributes heap_mb.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-stage attribution for every shot → bench_stages.jsonl. This is
    // the instrument for the suite-vs-solo gap: GC pressure, spill, and
    // lingering storage blocks each leave a distinct signature.
    val listener = new graft.tools.StageMetricsListener()
    spark.sparkContext.addSparkListener(listener)
    val outDir =
      if (onlySelected.isDefined)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      else java.nio.file.Paths.get("")
    val stagesOut = new java.io.PrintWriter(
      java.nio.file.Files.newBufferedWriter(outDir.resolve("bench_stages.jsonl")))

    // Warm the JVM/session (codegen, parquet footers) outside the timings.
    Tables(spark, sfDir, "lineitem").count()

    // Bench-order ROTATION (r20, VERDICT r19 #8): the end-of-run
    // contention cluster hit the same (alphabetically late / recently
    // added) queries every round, confounding per-query cross-round
    // deltas with suite position. Each round now times the headline in a
    // different DETERMINISTIC order: seed = next round index (max
    // committed BENCH_r*.json + 1 — the same number the driver will
    // stamp on this run's artifact), shuffle seeded by it, stamped into
    // the output JSON as order_seed so the order is reproducible from
    // the artifact alone. SPARK_GRAFT_ONLY runs keep their given order.
    val orderSeed: Int = {
      val re = "BENCH_r(\\d+)\\.json".r
      val seed = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .foldLeft(0)(math.max) + 1
      // Run from any directory other than the repo root this resolves to
      // a constant 1 and the rotation silently never rotates (ADVICE
      // r20) — warn loudly so an artifact stamped order_seed=1 is
      // recognizable as a wrong-cwd run, not round 1.
      if (seed == 1) System.err.println(
        "[bench] WARNING: no BENCH_r*.json in cwd — order_seed=1; run " +
          "from the repo root for cross-round order rotation")
      seed
    }
    val selected = onlySelected.getOrElse(
      new scala.util.Random(orderSeed.toLong).shuffle(headline))

    // JIT warmup (untimed): run each selected query once at the SMALLEST
    // scale factor available so HotSpot compiles the hot loops (native
    // expressions, codegen'd stages) before any timed shot. Stage metrics
    // showed the first execution of a query burning 3-10x the CPU of the
    // second on identical cold-cache plans — pure interpreter/C1 tax, not
    // query work; without this, best-of-N measures JIT state instead of
    // the query on short-run boxes. Data caches do NOT leak into timings:
    // every timed shot still starts with clearCache(), and the warmup
    // runs on sf0.001-sized inputs where available (falling back to the
    // bench dir only if no smaller set exists).
    // Smallest-SF dir, shared by the suite warmup and the per-query
    // re-warm below — ONE resolution so the two can't drift apart.
    val warmDir = {
      val small = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(small)) small.toString else sfDir
    }
    val warmupOn = sys.env.get("SPARK_GRAFT_WARMUP").forall(_ == "1")
    if (warmupOn) {
      selected.foreach { name =>
        try Tables.restoringNanosFlag(spark) {
          SparkEntry.queries(name)(spark, warmDir).count(); ()
        }
        // Best-effort, but only for recoverable failures: an OOM here must
        // surface now, not resurface later as a confusing timed-shot error.
        catch { case scala.util.control.NonFatal(_) => () }
      }
      spark.catalog.clearCache()
    }
    // Best-of-N per query (default 2): this box is shared, and a single
    // shot can be 2-4x inflated by ambient load; the minimum measures the
    // query, not the neighbors.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt)
    // When the base shots disagree by more than this factor, the box was
    // noisy during at least one of them — take extra shots (up to
    // best-of-max(4, runs)) so the minimum has a fair chance of landing
    // in a quiet window. (VERDICT r9: the regression cluster was
    // wait-not-work; the bench must make contention self-evident.)
    val varianceBound = 1.4

    /** 1-minute load average — the direct witness for "someone else was
      * on the box during this shot". -1 when /proc is unavailable. */
    def loadavg1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }

    /** Instantaneous runnable-thread count (/proc/loadavg field 4).
      * The PRE-shot contention witness: unlike load_1m, it does not
      * carry a decaying average of our own previous shot's 32-thread
      * burst, so "runnable > gate while we idle" means FOREIGN load
      * right now. -1 when /proc is unavailable. */
    def runnableNow(): Int =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(3).split("/")(0).toInt
      catch { case scala.util.control.NonFatal(_) => -1 }

    // Load gate (r18 VERDICT #4): BENCH_r18's six phantom "regressions"
    // were shots taken at load_1m 5.4 with 15-20 s of scheduler wait on
    // 1-2 s-CPU queries — the artifact needed manual forensics to trust.
    // Two gates make contention self-healing instead of self-evident:
    //  - PRE-shot: while foreign runnables crowd the box, defer in 5 s
    //    steps (bounded — the suite never stalls on a permanently busy
    //    host). Stamped per shot as deferred_ms.
    //  - POST-shot: a shot whose task-side wait exceeds 5× its CPU time
    //    (and 1 s absolute — sub-second fixed-cost queries have
    //    legitimate scheduler-delay floors) was preempted, not slow:
    //    reject it (stamped in bench_stages.jsonl), re-shoot, cap 3
    //    rejects per query. Rejected shots never enter the diag arrays
    //    or the best-of-N minimum.
    val runnableGate = 6
    val maxDeferMs = 30000L
    def deferWhileLoaded(): Long = {
      var waited = 0L
      var r = runnableNow()
      while (r > runnableGate && waited < maxDeferMs) {
        Thread.sleep(5000); waited += 5000; r = runnableNow()
      }
      waited
    }
    def contendedShot(waitMs: Long, cpuMs: Long): Boolean =
      waitMs > 1000 && waitMs > 5 * cpuMs

    // Host-capacity witness (r16): this box is a VM whose EFFECTIVE
    // parallel capacity varies with host contention that neither guest
    // loadavg nor /proc steal shows (measured: identical code benched
    // 33.6 s vs ~40 s two hours apart; a direct probe read ~30 vs ~22
    // effective cores while single-thread speed, steal and idle loadavg
    // were unchanged). One fixed CPU kernel timed solo and at full width
    // turns that into a recorded number per bench run, so a future
    // cross-round regression can be adjudicated from the artifact alone.
    @volatile var burnSink = 0L
    def burn(iters: Int): Long = {
      var h = 0x9E3779B97F4A7C15L; var i = 0
      while (i < iters) {
        h = java.lang.Long.rotateLeft(h * -7046029254386353131L, 31)
        h ^= (h >>> 33); i += 1
      }
      h
    }
    def probeEffectiveCores(): Double = {
      val iters = 150000000
      burnSink ^= burn(iters) // JIT warm + sink
      val t1 = System.nanoTime(); burnSink ^= burn(iters)
      val solo = (System.nanoTime() - t1).toDouble
      val n = Runtime.getRuntime.availableProcessors()
      val threads = (1 to n).map(_ => new Thread(() => { burnSink ^= burn(iters); () }))
      val t2 = System.nanoTime(); threads.foreach(_.start()); threads.foreach(_.join())
      val wide = (System.nanoTime() - t2).toDouble
      math.round(n.toDouble * solo / wide * 10.0) / 10.0
    }
    val effectiveCores = probeEffectiveCores()
    System.err.println(s"[bench] effective_cores=$effectiveCores of " +
      s"${Runtime.getRuntime.availableProcessors()}")

    /** Block until cumulative JIT compile time stops advancing. Fast path:
      * one 150 ms probe — an already-quiet compiler costs each shot almost
      * nothing. Busy path: wait for two consecutive quiet 250 ms windows
      * or the cap. */
    def jitQuiesce(maxWaitMs: Long): Unit = {
      val t0 = System.nanoTime()
      var last = graft.tools.StageMetricsListener.jitCompileMs()
      Thread.sleep(150)
      var now = graft.tools.StageMetricsListener.jitCompileMs()
      if (now - last < 30) return
      last = now
      var stable = 0
      while (stable < 2 && (System.nanoTime() - t0) / 1e6 < maxWaitMs) {
        Thread.sleep(250)
        now = graft.tools.StageMetricsListener.jitCompileMs()
        if (now - last < 50) stable += 1 else stable = 0
        last = now
      }
    }

    final case class Shot(sec: Double, load: Double, waitMs: Long, cpuMs: Long, gcMs: Long)

    // Drain the warmup pass's JIT debt ONCE before any timed shot: the
    // 31-query warmup queues minutes of compilation, and with the capped
    // compiler (build.sbt CICompilerCount) that queue would otherwise
    // persist deep into the timed suite. r12's 90 s cap was measured to
    // run out — jit_ms was still advancing 3.2 s across q_join's timed
    // shots (bench_stages.jsonl) — so the cap is now sized to the whole
    // queue: untimed, and it only spends what the queue actually needs.
    jitQuiesce(maxWaitMs = 240000)

    val diags = scala.collection.mutable.LinkedHashMap[String, Seq[Shot]]()
    val rejections = scala.collection.mutable.LinkedHashMap[String, Int]()
    val results = selected.map { name =>
      val fn = SparkEntry.queries(name)
      // Re-warm THIS query immediately before its timed shots (VERDICT
      // r11 #1): the suite-start warmup compiles everything, but 30
      // queries later this query's generated code has been deoptimized
      // by profile pollution and its recompiles sit behind the whole
      // suite's compile queue — mid-suite shots then run interpreted
      // (r11: q_dedup_minhash 0.60->4.02s; r12 repro: q_ngram_jaccard
      // 1.2->6.6s ONLY in full-suite position, cpu 30s for a 2s-CPU
      // stage). A sf0.001 pass right here re-triggers exactly this
      // query's compilations, and the quiesce in oneShot lets them
      // finish before timing. Honors the same SPARK_GRAFT_WARMUP=0
      // opt-out as the suite warmup — cold/JIT-inclusive measurement
      // must actually be cold.
      // The re-warm runs at the BENCH scale factor, not warmDir: an
      // sf0.001 pass compiles the right classes but leaves HotSpot's
      // profile-driven tiers cold on the actual loop shapes — measured
      // on q_ann_ivf (r14): after an sf0.001-only warm, consecutive
      // sf0.1 runs go 1.32 → 1.15 → 0.84 → 0.73 s on identical plans,
      // so a best-of-2 reads the JIT ramp, not the query. One untimed
      // full-SF pass puts every timed shot at the converged floor (and
      // stages any per-(dir,stamp) on-disk index untimed — the
      // documented "measure the serving path" semantics). Data caches
      // still cleared per shot below.
      if (warmupOn) {
        try Tables.restoringNanosFlag(spark) { fn(spark, sfDir).count(); () }
        catch { case scala.util.control.NonFatal(_) => () }
        spark.catalog.clearCache()
        // The re-warm itself queues compilations; give them a longer
        // drain window than the per-shot quiesce so they finish HERE
        // (untimed) instead of stealing cores from the timed shots —
        // the r12 regression mechanism (wait_ms up to 40 s on shot 0
        // of mid-suite queries, bench_stages.jsonl).
        jitQuiesce(maxWaitMs = 45000)
      }
      def oneShot(shot: Int): Shot = {
        spark.catalog.clearCache() // every shot cold: no warm index reuse
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext, 10000)
        listener.drain() // discard stages of prior work
        // Let the JIT queue drain before timing: compilation triggered by
        // the PREVIOUS execution otherwise steals cores from this shot
        // (the r11 regression mechanism — wait_ms >> cpu_ms). Outside the
        // timed region by construction; bounded so a busy compiler can
        // never stall the suite.
        jitQuiesce(maxWaitMs = 10000)
        // Collect the PREVIOUS execution's garbage outside the timed
        // region: a full GC here is ~100-300 ms untimed, where letting it
        // land mid-shot shows up as driver_gc_ms noise on this query.
        System.gc()
        val deferredMs = deferWhileLoaded()
        val load0 = loadavg1()
        val gc0 = graft.tools.StageMetricsListener.jvmGcMs()
        val (blocks0, bytes0) = graft.tools.StageMetricsListener.storedRddBytes(spark.sparkContext)
        // the flag's set and restore stay outside the timed region
        val (n, s) = Tables.restoringNanosFlag(spark) {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        val gcDelta = graft.tools.StageMetricsListener.jvmGcMs() - gc0
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext, 10000)
        val stages = listener.drain()
        val runMs = stages.map(_.runMs).sum
        val cpuMs = stages.map(_.cpuNs).sum / 1000000
        // Task-side idle-wait: executor run time not spent on CPU or GC —
        // scheduler delay, IO wait, and (on a shared box) involuntary
        // preemption. The r9 regression's signature was wait >> cpu.
        val waitMs = (runMs - cpuMs).max(0L)
        stagesOut.println(
          s"""{"query":"$name","shot":$shot,"sec":${f"$s%.3f"},"rows":$n,""" +
            s""""load_1m":${f"$load0%.2f"},"wait_ms":$waitMs,"deferred_ms":$deferredMs,""" +
            s""""driver_gc_ms":$gcDelta,"heap_mb":${graft.tools.StageMetricsListener.heapUsedMb()},""" +
            s""""code_cache_mb":${graft.tools.StageMetricsListener.codeCacheUsedMb()},""" +
            s""""jit_ms":${graft.tools.StageMetricsListener.jitCompileMs()},""" +
            s""""janino_n":${graft.tools.StageMetricsListener.janinoCompiles()},""" +
            s""""rdd_blocks_before":$blocks0,"rdd_bytes_before":$bytes0,""" +
            s""""stages":${listener.summarize(stages)}}""")
        stagesOut.flush()
        System.err.println(f"[bench] $name%-20s $s%8.2fs  ($n rows, load $load0%.1f)")
        Shot(s, load0, waitMs, cpuMs, gcDelta)
      }
      // Post-shot wait gate: preempted shots are rejected + re-shot (see
      // the gate block above). The rejection is stamped to
      // bench_stages.jsonl so the retry is auditable; the rejected Shot
      // itself never reaches the diag arrays or the minimum.
      var nRejected = 0
      def gatedShot(shot: Int): Shot = {
        var s = oneShot(shot)
        while (contendedShot(s.waitMs, s.cpuMs) && nRejected < 3) {
          nRejected += 1
          stagesOut.println(
            s"""{"query":"$name","shot":$shot,"rejected":true,""" +
              s""""wait_ms":${s.waitMs},"cpu_ms":${s.cpuMs},"sec":${f"${s.sec}%.3f"}}""")
          stagesOut.flush()
          System.err.println(f"[bench] $name%-20s shot $shot contended " +
            f"(wait ${s.waitMs} ms vs cpu ${s.cpuMs} ms) — re-shooting ($nRejected/3)")
          s = oneShot(shot)
        }
        s
      }
      val base = (0 until runs).map(gatedShot)
      val shots = scala.collection.mutable.ArrayBuffer(base: _*)
      // Disagreeing shots mean at least one was contended; take up to two
      // extra so the minimum has a fair chance of landing on a quiet one
      // (every shot is recorded in bench_stages.jsonl either way).
      while (shots.length < math.max(4, runs) &&
             shots.map(_.sec).max / shots.map(_.sec).min > varianceBound)
        shots += gatedShot(shots.length)
      // Sub-second queries are FIXED-COST-dominated and their shot-to-shot
      // jitter (GC pause, a stray compile, scheduler hiccup) is the same
      // order as the floor itself — two agreeing-but-inflated shots pass
      // the variance gate yet overstate the query by 30-50% (r13:
      // q_distinct_sketch best-of-2 read 0.31 s on one run, 0.20 s on the
      // next, identical code). Extra shots are cheap at this size: always
      // give the minimum four chances to land on the floor.
      // …but never in cold-measurement mode (SPARK_GRAFT_WARMUP=0):
      // forced extra shots reuse the first shot's JIT output and would
      // silently replace the cold time the flags were set to capture.
      while (warmupOn && shots.length < 4 && shots.map(_.sec).min < 1.0)
        shots += gatedShot(shots.length)
      rejections(name) = nRejected
      diags(name) = shots.toSeq
      name -> shots.map(_.sec).min
    }
    stagesOut.close()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Per-query self-diagnosis: every shot's wall/load/wait/cpu, so a slow
    // number in this artifact carries its own explanation (high load_1m or
    // wait_ms >> cpu_ms = box contention, not query work).
    val diagJson = diags.map { case (k, shots) =>
      val best = shots.minBy(_.sec)
      "\"" + k + "\":" + {
        s"""{"shots":${shots.map(s => f"${s.sec}%.3f").mkString("[", ",", "]")},""" +
          s""""load_1m":${shots.map(s => f"${s.load}%.2f").mkString("[", ",", "]")},""" +
          s""""wait_ms":${shots.map(_.waitMs).mkString("[", ",", "]")},""" +
          s""""cpu_ms":${shots.map(_.cpuMs).mkString("[", ",", "]")},""" +
          s""""n_rejected":${rejections.getOrElse(k, 0)},""" +
          s""""best_load_1m":${f"${best.load}%.2f"},"best_wait_over_cpu":${
            if (best.cpuMs > 0) f"${best.waitMs.toDouble / best.cpuMs}%.2f" else "0.0"}}"""
      }
    }.mkString("{", ",", "}")

    // Single-node reference wall-times (tools/baseline.py → BASELINE.md):
    // DuckDB running the same oracle SQL on the same box. Ratios >1 mean
    // Spark is slower; at sf0.1 Spark's fixed per-query cost (job setup,
    // codegen, AQE) dominates — see BASELINE.md for the scale analysis.
    val baselinePath = java.nio.file.Paths.get("baseline_times.json")
    val baseline: Map[String, Double] =
      if (java.nio.file.Files.exists(baselinePath)) {
        val txt = java.nio.file.Files.readString(baselinePath)
        "\"(q_\\w+)\":\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 > 0.0) // a 0.0 baseline (sub-ms DuckDB query rounded
          .toMap              // down) would print ratio "Infinity" = bad JSON
      } else Map.empty
    val ratioJson: (String, String) =
      if (baseline.isEmpty) ("", "")
      else {
        val rs = results.collect { case (k, v) if baseline.contains(k) =>
          "\"" + k + "\":" + f"${v / baseline(k)}%.1f"
        }.mkString("{", ",", "}")
        val bTot = results.collect { case (k, _) if baseline.contains(k) => baseline(k) }.sum
        val sTot = results.collect { case (k, v) if baseline.contains(k) => v }.sum
        if (bTot == 0.0) ("", "") // no covered queries selected: NaN would corrupt the JSON
        else {
          // Some gates have pathological single-node baselines
          // (OracleSql.adversarialBaselines), so the headline aggregate
          // can read as throughput parity on the back of adversarial
          // oracles. Emit the aggregate EXCLUDING them on both sides:
          // ratio_ex_components (the closure gate only) and
          // ratio_ex_adversarial (every gate in the set).
          def exRatio(excluded: Set[String]): Option[Double] = {
            val b = results.collect {
              case (k, _) if baseline.contains(k) && !excluded(k) => baseline(k) }.sum
            val s = results.collect {
              case (k, v) if baseline.contains(k) && !excluded(k) => v }.sum
            if (b == 0.0) None else Some(s / b)
          }
          val exJson =
            exRatio(Set(OracleSql.closureBaseline))
              .map(r => s""","ratio_ex_components":${f"$r%.1f"}""").getOrElse("") +
            exRatio(OracleSql.adversarialBaselines)
              .map(r => s""","ratio_ex_adversarial":${f"$r%.1f"}""").getOrElse("")
          // The per-query ratio map goes to the FILE only: BENCH_r14's
          // one-line stdout record exceeded the driver's tail-capture
          // window with 41 queries x 2 maps (`parsed: null`), and the map
          // is derivable offline from `queries` + baseline_times.json.
          (s""","baseline_total":${f"$bTot%.3f"},"bench_vs_baseline":${f"${sTot / bTot}%.1f"}$exJson""",
           s""","ratio_vs_duckdb":$rs""")
        }
      }
    val (ratioAgg, ratioMap) = ratioJson
    // stdout gets the COMPACT line (no per-shot diag, no per-query ratio
    // map) so it fits the driver's parse window; graft_bench.json keeps
    // the full diagnosis.
    // capacity at suite END too — an 8-minute run spans host-contention
    // phases, and a start-only probe can misattribute mid-run drift
    val effectiveCoresEnd = probeEffectiveCores()
    val core =
      s""""metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"runs":$runs,"order_seed":$orderSeed,"effective_cores":$effectiveCores,"effective_cores_end":$effectiveCoresEnd,"sf":"$sfDir""""
    println(s"{$core$ratioAgg}")
    // Durable machine-readable sink (VERDICT r21 #1): the driver captures
    // a bounded stdout TAIL, and BENCH_r20's one-line JSON fell outside it,
    // erasing that round's per-query comparison (PERF_r21 n_common = 0).
    // graft_bench.json is the stable fallback: written ATOMICALLY (temp
    // file + ATOMIC_MOVE) so a crash mid-write can never leave a torn
    // JSON, and carrying the same `queries`/totals as the stdout line
    // (plus the per-shot diag and per-query ratio map that are too wide
    // for the stdout parse window). A file system without atomic moves
    // falls back to a plain replacing move.
    val benchTmp = outDir.resolve("graft_bench.json.tmp")
    val benchOut = outDir.resolve("graft_bench.json")
    java.nio.file.Files.writeString(benchTmp,
      s"""{$core,"diag":$diagJson$ratioAgg$ratioMap}""" + "\n")
    try java.nio.file.Files.move(benchTmp, benchOut,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      java.nio.file.Files.move(benchTmp, benchOut,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    spark.stop()
  }
}
