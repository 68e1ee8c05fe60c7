package graft

import org.apache.spark.sql.SparkSession

import graft.util.Json.quote

/**
 * Benchmark main. Runs every catalog query against
 * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
 *
 * Measurement protocol (a single-run wall clock cannot distinguish a 2×
 * regression from JIT/session warm-up noise):
 *  - one untimed warm-up pass over the whole suite (JIT, codegen cache,
 *    file-listing caches);
 *  - then `SPARK_GRAFT_REPS` (default 3) timed passes; per-query MEDIAN
 *    is reported;
 *  - `spark.catalog.clearCache()` between queries so no query inherits
 *    another's cached/persisted state;
 *  - a query that throws in any pass is reported as -1 with its error
 *    message under "errors" — never as a normal-looking time;
 *  - LOAD GUARD: /proc/loadavg is sampled before the warm-up and after
 *    the timed passes; if the machine was already busy when the bench
 *    started (another sbt/JVM job), "contended" is true and the run
 *    must not be treated as an official number (the r4/r5 official
 *    benches were both contaminated exactly this way — 2-4x uniform
 *    swings on unchanged code);
 *  - DEGRADED MODE: if the host is contended at start, the bench drops
 *    to reps=1 and tags the artifact "degraded":true — an imprecise
 *    artifact beats round 13's rc=124/parsed-null nothing.
 *    SPARK_GRAFT_DEGRADE=0 disables;
 *  - INCREMENTAL EMISSION: parseable partial summary lines print every
 *    25 timed queries and at end-of-primary, so a timeout at any point
 *    after warm-up still leaves a valid (tagged "partial") JSON line
 *    in the driver's tail window;
 *  - MID-SUITE CONTENTION DETECTOR: the start-time load guard cannot
 *    see a competitor that ARRIVES mid-run (the r14/r15 late-suite
 *    elevations) and loadavg is useless while the bench itself runs,
 *    so every 25-query segment records the EXTERNAL cpu (system busy
 *    time minus this JVM's own) — "ext_load" per segment and
 *    "ext_load_max" in the artifact; "contended_midsuite" flags any
 *    segment above max(1, limit/2) external cores. Validated against
 *    deliberate busy-loop competitors (2 spinners -> 1.95-1.98
 *    measured);
 *  - TIME BUDGET (the r13/r14/r15 official artifacts were all lost to
 *    the protocol outgrowing the driver's timeout: the suite is
 *    ~350-470 s/pass, while the r15 kill timestamps put the driver
 *    budget at ~2700-2800 s). SPARK_GRAFT_TIME_BUDGET_SECS (default
 *    2400, conservative vs the observed kill; 0 disables) bounds the
 *    WHOLE run: after the warm-up pass its wall time is a per-pass
 *    estimate, and the timed reps are capped so warm-up + reps fits
 *    0.8x budget ("reps" in the artifact is the EFFECTIVE count,
 *    "reps_requested" the configured one). A full-precision summary
 *    line prints as soon as the timed passes end, before the contended
 *    rerun. With reps capped at 2, the reported statistic is min-of-2
 *    (timing noise is strictly additive, so min is the better central
 *    estimate); at 3+ it is the true median as before.
 *
 * Sessions come from [[Sessions.local]] and the between-query cleanup is
 * [[Sessions.reap]]. The "alt", "alt_total" and "alt_cpus" keys of the
 * output always read null: they are kept so the key set of every line
 * stays the same.
 */
object Bench {
  private def load1m: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  // MID-SUITE contention detector (rounds 14 AND 15 each spent a day
  // attributing late-suite elevations the START-TIME load guard cannot
  // see — a competitor arriving mid-run): loadavg is useless once the
  // bench itself is running (local[32] IS the load), so measure the
  // EXTERNAL cpu directly — system busy jiffies minus this JVM's own
  // process cpu, per segment. ~0.1 core of noise from the sbt parent
  // pumping output; anything near a whole core is a competitor.
  private def busySecs: Double =
    try {
      val p = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toDouble)
      // user+nice+system+irq+softirq+steal ONLY (fields 0,1,2,5,6,7):
      // guest/guest_nice (8,9) are already counted inside user/nice, so
      // `sum - idle - iowait` double-counts VM guest time and inflates
      // ext_load on virtualized hosts (round-15 advice)
      Seq(0, 1, 2, 5, 6, 7).map(i => if (p.length > i) p(i) else 0.0).sum / 100.0
    } catch { case _: Throwable => -1.0 }

  private def ownCpuSecs: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsedSecs: Double = (System.nanoTime() - benchStart) / 1e9
    // whole-run wall budget (see scaladoc): the r15 kill timestamps put
    // the driver's timeout at ~2700-2800 s; 2400 leaves real margin.
    val timeBudget = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET_SECS", "2400").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ambient load BEFORE the bench contributes anything: anything past a
    // couple of cores means another job is on the host.
    val loadLimit = math.max(2.0, cpus.toInt / 8.0)
    // DEFER-AND-RETRY (round-14 verdict item 7): two consecutive rounds
    // lost their clean OFFICIAL series to a host that was busy at start
    // but idle soon after (r11: load 4.69 at start, idle at end). So
    // before trading precision for a degraded artifact, WAIT for the
    // competing job to drain: poll /proc/loadavg every 15 s for up to
    // SPARK_GRAFT_WAIT_SECS (default 300 — the 1-minute loadavg decays
    // with a ~60 s time constant, so five minutes catches any job that
    // ended around bench start without risking the driver's budget the
    // way round 13's rc=124 did). The wait is recorded in the artifact;
    // SPARK_GRAFT_WAIT_SECS=0 disables.
    val waitBudget = sys.env.getOrElse("SPARK_GRAFT_WAIT_SECS", "300").toInt
    var waitedSecs = 0
    while (load1m > loadLimit && waitedSecs < waitBudget) {
      System.err.println(f"[bench] ambient load ${load1m}%.2f > $loadLimit%.1f — " +
        s"deferring start (waited ${waitedSecs}s of ${waitBudget}s)")
      Thread.sleep(15000)
      waitedSecs += 15
    }
    val loadBefore = load1m
    // DEGRADED MODE (the round-13 lesson: the official BENCH_r13.json is
    // rc=124/parsed-null because the full protocol did not fit the
    // driver's budget on a host already running another job at load
    // 8.47). Timings taken under contention are unreliable ANYWAY (that
    // is what the load guard is for), so when the host is busy at start
    // the bench trades the precision it cannot have for the artifact it
    // must produce: reps=1, tagged "degraded":true. SPARK_GRAFT_DEGRADE=0
    // forces the full protocol regardless of load.
    val degraded = loadBefore > loadLimit &&
      sys.env.getOrElse("SPARK_GRAFT_DEGRADE", "1") != "0"
    // an EXPLICIT SPARK_GRAFT_REPS wins even in degraded mode (a caller
    // who set reps deliberately on a known-busy host asked for exactly
    // that); degraded only overrides the DEFAULT
    val repsRequested = sys.env.get("SPARK_GRAFT_REPS").map { r =>
      if (degraded) System.err.println(
        s"[bench] degraded mode, but honoring explicit SPARK_GRAFT_REPS=$r")
      r.toInt
    }.getOrElse(if (degraded) 1 else 3)
    // explicit SPARK_GRAFT_REPS also opts out of the budget cap on reps
    // (a caller who pinned reps wants exactly that count)
    val repsPinned = sys.env.contains("SPARK_GRAFT_REPS")
    // dev-only: SPARK_GRAFT_ONLY=q1,q2 restricts the run while iterating.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = graft.queries.Catalog.all
      .filter(q => only.forall(_(q.name)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // dev-only diagnostics (SPARK_GRAFT_QLOG=1): per-query stderr line
    // with wall secs, GC-time delta and heap-used — for attributing
    // in-suite elevations (GC? external? compute) without touching the
    // timed protocol or the stdout contract.
    val qlog = sys.env.get("SPARK_GRAFT_QLOG").contains("1")
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // JIT compilation time + code-cache/metaspace occupancy: the
    // late-suite elevation suspects (the JVM's 240 MB default code cache
    // holds every JIT-compiled method of every janino class the suite
    // generates; once it fills, the sweeper flushes cold methods and
    // re-executions run interpreted until re-JITed).
    def jitMillis: Long =
      Option(java.lang.management.ManagementFactory.getCompilationMXBean)
        .map(_.getTotalCompilationTime).getOrElse(-1L)
    def poolUsedMb(prefix: String): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith(prefix))
        .map(_.getUsage.getUsed).sum / (1024 * 1024)
    }

    def runOnce(spark: SparkSession, q: graft.queries.Q, errKey: String): Double = {
      val gc0 = if (qlog) gcMillis else 0L
      val jit0 = if (qlog) jitMillis else 0L
      val cpu0 = if (qlog) ownCpuSecs else 0.0
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        if (qlog) {
          val heapMb = (Runtime.getRuntime.totalMemory() -
            Runtime.getRuntime.freeMemory()) / (1024 * 1024)
          System.err.println(f"[qlog] ${q.name}%-28s ${secs}%7.2f s  cpu=${ownCpuSecs - cpu0}%7.1f s  gc=${gcMillis - gc0}%5d ms  jit=${jitMillis - jit0}%6d ms  code=${poolUsedMb("CodeHeap")}%4d MB  meta=${poolUsedMb("Metaspace")}%5d MB  heap=${heapMb}%6d MB")
        }
        secs
      } catch {
        case e: Throwable =>
          // contended-rerun failures are keyed "rerun:<query>" so they are
          // never confused with the primary series' own
          errors.getOrElseUpdate(errKey,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          -1.0
      } finally Sessions.reap(spark)
    }

    def r2(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

    // INCREMENTAL EMISSION: every 25 timed queries, print a small but
    // fully parseable summary line (running total, n_queries done so
    // far, "partial":true). A driver timeout at ANY point after the
    // warm-up now leaves a valid JSON line in the captured tail instead
    // of nothing (round 13's artifact was rc=124/parsed-null); on a
    // clean finish the final complete line is printed last and wins.
    var effReps = repsRequested
    // per-25-query EXTERNAL-cpu profile: competing cores during each
    // timed segment (see busySecs)
    val extSegs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val primary = {
      val spark = Sessions.local(cpus)
      try {
        val warmT0 = System.nanoTime()
        selected.zipWithIndex.foreach { case (q, i) => // warm-up, untimed
          runOnce(spark, q, q.name)
          // stderr only: a stdout line with no real total could be the
          // tail-window line a timed-out run gets parsed from
          if ((i + 1) % 50 == 0)
            System.err.println(s"[bench] warm-up ${i + 1}/${selected.size}")
        }
        val warmSecs = (System.nanoTime() - warmT0) / 1e9
        // BUDGET CAP on reps: the warm-up pass wall time is the per-pass
        // estimate (slightly conservative — warm-up pays JIT); cap the
        // timed passes so warm-up + reps fits 0.8x the budget.
        effReps = if (repsPinned || timeBudget <= 0) repsRequested
        else {
          val fit = ((timeBudget * 0.8 - elapsedSecs) / math.max(1.0, warmSecs)).toInt
          val r = math.max(1, math.min(repsRequested, fit))
          if (r < repsRequested) System.err.println(
            f"[bench] budget cap: warm-up $warmSecs%.0f s, elapsed $elapsedSecs%.0f of ${timeBudget}s — reps $repsRequested -> $r")
          r
        }
        val nReps = math.max(1, effReps)
        var running = 0.0
        var (w0, b0, o0) = (System.nanoTime(), busySecs, ownCpuSecs)
        // the pass order is query-major, so a median is final as soon as
        // its reps finish. With nReps=2 the statistic is min-of-2 (index
        // (size-1)/2 — identical to the median at any odd count).
        selected.zipWithIndex.map { case (q, i) =>
          val ts = (1 to nReps).map(_ => runOnce(spark, q, q.name))
          val med = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply((ts.size - 1) / 2)
          if (med >= 0) running += med
          if ((i + 1) % 25 == 0 || i + 1 == selected.size) {
            val (w1, b1, o1) = (System.nanoTime(), busySecs, ownCpuSecs)
            val wall = (w1 - w0) / 1e9
            extSegs += (if (wall > 0 && b0 >= 0 && b1 >= 0 && o0 >= 0 && o1 >= 0)
              math.max(0.0, ((b1 - b0) - (o1 - o0)) / wall) else -1.0)
            w0 = w1; b0 = b1; o0 = o1
          }
          if ((i + 1) % 25 == 0 && i + 1 < selected.size) {
            println(s"""{"metric":"total","value":${r2(running)},"unit":"sec","sf":"$sfDir","reps":$effReps,"cpus":$cpus,"n_queries":${i + 1},"n_total":${selected.size},"n_errors":${errors.size},"partial":true,"degraded":$degraded,"load_before":$loadBefore}""")
            Console.out.flush()
          }
          q.name -> med
        }
      } finally spark.stop()
    }
    val total = primary.collect { case (_, v) if v >= 0 => v }.sum
    val qs = primary.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    val extArr = extSegs.map(r2).mkString("[", ",", "]")
    val extPeak = extSegs.filter(_ >= 0).maxOption.getOrElse(-1.0)
    val extMax = r2(extPeak)
    // tighter than the start guard: even a couple of EXTERNAL cores
    // skews the iteration class (the r14/r15 elevations), and the
    // measurement has ~0.1-core noise, so half the limit, floor 1.0
    val extContended = extPeak > math.max(1.0, loadLimit / 2)
    // primary complete: emit a full-precision summary NOW (stdout line +
    // BENCH_FULL.json), before the contended rerun — a timeout inside it
    // no longer costs the run its primary result. The clean-finish path
    // overwrites both with the complete version below.
    val slowest25 = primary.sortBy(-_._2).take(25)
      .map { case (k, v) => s"${quote(k)}:${r2(v)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","sf":"$sfDir","reps":$effReps,"reps_requested":$repsRequested,"cpus":$cpus,"n_queries":${primary.size},"n_errors":${errors.size},"queries":$slowest25,"alt_total":null,"partial":false,"degraded":$degraded,"load_before":$loadBefore,"ext_load_max":$extMax,"contended_midsuite":$extContended,"time_budget_secs":$timeBudget,"full":"BENCH_FULL.json"}""")
    Console.out.flush()
    locally {
      val errJsonNow = errors.map { case (k, v) => s"${quote(k)}:${quote(v)}" }
        .mkString("{", ",", "}")
      val primaryLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$effReps,"reps_requested":$repsRequested,"cpus":$cpus,"alt":null,"errors":$errJsonNow,"load_before":$loadBefore,"ext_load":$extArr,"ext_load_max":$extMax,"contended_midsuite":$extContended,"degraded":$degraded,"time_budget_secs":$timeBudget,"partial":false}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        primaryLine.getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    }
    // load_after keeps its historical meaning: ambient load at END OF
    // SUITE (sampled before any self-defense rerun adds its own load)
    val loadAfter = load1m
    val contended = loadBefore > loadLimit
    if (contended)
      System.err.println(f"[bench] WARNING: ambient load $loadBefore%.2f > $loadLimit%.1f " +
        "before the run — another job is on this host; timings are unreliable, re-run quiet")
    // SELF-DEFENSE for contended runs (rounds 10 AND 11 each paid an
    // investigation round re-attributing ambient-load elevations by
    // hand): if the machine was busy at start, re-measure the 5 slowest
    // primary queries on a fresh session AFTER the suite — by then the
    // competing job has usually drained (r11: load 4.69 at start, idle at
    // end) — and ship both numbers in the artifact, so an elevation that
    // vanishes in the rerun is attributed in the SAME artifact that
    // reported it, not a round later. Skippable via SPARK_GRAFT_RERUN=0;
    // a rerun failure must never cost the primary line.
    val rerunJson = if (!contended || sys.env.get("SPARK_GRAFT_RERUN").contains("0")) "null"
    else if (timeBudget > 0 && elapsedSecs > timeBudget * 0.85) "\"skipped_budget\""
    else {
      try {
        val slowNames = primary.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._1).toSet
        val slowQs = selected.filter(q => slowNames(q.name))
        // ambient load AT RERUN START — sampled before the rerun itself
        // contributes (a post-rerun sample would read ~ncpus from the
        // rerun's own work and falsely claim "still contended")
        val loadAtRerun = load1m
        val spark = Sessions.local(cpus)
        val medians = try {
          slowQs.foreach(q => runOnce(spark, q, "rerun:" + q.name))
          slowQs.map { q =>
            val ts = (1 to effReps).map(_ => runOnce(spark, q, "rerun:" + q.name))
            q.name -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply((ts.size - 1) / 2))
          }
        } finally spark.stop()
        s"""{"load_at_rerun":$loadAtRerun,"queries":${medians
          .map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")}}"""
      } catch {
        case e: Throwable =>
          s"""{"error":${quote(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))}}"""
      }
    }
    // serialized AFTER the rerun block so "rerun:<query>" failure
    // messages land in the artifact (the whole point of the errKey)
    val errJson = errors.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")
    // TWO outputs, one contract. The driver captures only the TAIL of the
    // run's output (~2000 chars) and parses the JSON line out of it — the
    // full per-query map (210 queries) is ~5 KB, so the full line has
    // NEVER survived that window (every BENCH_r*.json through r9 has
    // parsed:null). So: the COMPLETE result goes to BENCH_FULL.json
    // (committed, full precision), and stdout gets a COMPACT
    // line — totals, counts, and the slowest-25 query map — sized to fit
    // the tail window with room for sbt's trailing [success] line.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$effReps,"reps_requested":$repsRequested,"cpus":$cpus,"alt":null,"errors":$errJson,"load_before":$loadBefore,"waited_for_load":$waitedSecs,"load_after":$loadAfter,"contended":$contended,"ext_load":$extArr,"ext_load_max":$extMax,"contended_midsuite":$extContended,"degraded":$degraded,"time_budget_secs":$timeBudget,"elapsed_secs":${r2(elapsedSecs)},"contended_rerun":$rerunJson}"""
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json")
    try java.nio.file.Files.write(fullPath, fullLine.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","sf":"$sfDir","reps":$effReps,"reps_requested":$repsRequested,"cpus":$cpus,"n_queries":${primary.size},"n_errors":${errors.size},"queries":$slowest25,"alt_total":null,"alt_cpus":null,"load_before":$loadBefore,"waited_for_load":$waitedSecs,"load_after":$loadAfter,"contended":$contended,"ext_load_max":$extMax,"contended_midsuite":$extContended,"degraded":$degraded,"time_budget_secs":$timeBudget,"elapsed_secs":${r2(elapsedSecs)},"contended_rerun":$rerunJson,"full":"BENCH_FULL.json"}""")
  }
}
