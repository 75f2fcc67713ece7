package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLongArray

/** Cumulative task-metric counters for the bench. Wall-clock on this
  * box swings up to 10x under host contention on identical code (the
  * r8 adjudication: a 2.31x driver artifact vs a 1.28x quiet-box rerun
  * of the same binaries), so each query is also measured in
  * contention-invariant units: summed executor CPU time and
  * shuffle/input BYTE counts. Bytes are a pure function of the plan —
  * if a query's bytes are flat across passes/rounds while wall-clock
  * drifts, the drift is environment; if bytes grow, the plan (or an
  * accumulated artifact) changed. The 2x gate is adjudicable from CPU
  * time alone, from a single contended run. A snapshot also carries the
  * JVM's count of Janino compiles of generated code, so a pass that
  * misses Spark's codegen cache shows as compiles, not only as CPU.
  */
private[graft] final class TaskMetricsTap extends SparkListener {
  // idx: 0=cpuNs 1=runMs 2=shufReadB 3=shufWriteB 4=inputB 5=spillB 6=tasks
  // and, in a snapshot only, 7=compiles
  private val acc = new AtomicLongArray(7)
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      acc.addAndGet(0, m.executorCpuTime)
      acc.addAndGet(1, m.executorRunTime)
      acc.addAndGet(2, m.shuffleReadMetrics.totalBytesRead)
      acc.addAndGet(3, m.shuffleWriteMetrics.bytesWritten)
      acc.addAndGet(4, m.inputMetrics.bytesRead)
      acc.addAndGet(5, m.memoryBytesSpilled + m.diskBytesSpilled)
      acc.addAndGet(6, 1L)
    }
  }
  def snapshot(): Array[Long] =
    Array.tabulate(7)(acc.get) :+ CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Bench {

  /** Minimal JSON string escaping for the one-line bench artifact:
    * backslash, quote, and EVERY control char below 0x20 (\n \r \t get
    * their short forms, the rest \u00XX) — an exception message carrying
    * a raw control byte (e.g. an ANSI escape from a wrapped process)
    * must not produce an unparseable artifact.
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Path of the per-query artifact: `bench_full.json` for the full
    * registry, `bench_subset.json` for a query subset, so a quick subset
    * run never replaces the committed full-registry record.
    * SPARK_GRAFT_BENCH_FULL overrides either (heavy/scale legs write
    * their own artifact).
    */
  private[graft] def fullArtifactName(subset: Boolean,
      env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (subset) "bench_subset.json" else "bench_full.json")

  // Locale.ROOT: the f-interpolator honors the default locale, and a
  // comma decimal separator would make the line unparseable JSON —
  // regenerating the exact driver-parse failure this format exists to fix
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** One query's raw per-pass trace in the full artifact, from tap
    * snapshot deltas: shuffle-read and input bytes (plan-pure, so a
    * non-flat trace means the plan changed) and Janino compiles (a warm
    * pass that still compiles is missing Spark's codegen cache).
    */
  private[graft] def rawPassesJson(name: String, perPass: Seq[Array[Long]]): String =
    s""""$name":{"shr_b":[${perPass.map(_(2)).mkString(",")}],""" +
      s""""inp_b":[${perPass.map(_(4)).mkString(",")}],""" +
      s""""compiles":[${perPass.map(_(7)).mkString(",")}]}"""

  /** Run totals on both the headline and the full artifact: executor CPU
    * and spill over the per-query medians, Janino compiles over every
    * timed pass. A written "zero spills" claim must be mechanical, not
    * hand-derived (the r14 claim was contradicted by its own artifact's
    * q_profile_columns row); so must a "no recompiles" one.
    */
  private[graft] def totalsJson(medians: Seq[Array[Long]],
      perPass: Seq[Seq[Array[Long]]]): String =
    s""""cpu_total_sec":${fmt(medians.map(_(0)).sum / 1e9)},""" +
      s""""spill_total_b":${medians.map(_(5)).sum},""" +
      s""""compiles_total":${perPass.flatten.map(_(7)).sum}"""

  /** Per-query anchors (cpu seconds + shuffle-read bytes) for in-run
    * adjudication — a flat TSV (`name cpu_sec shr_b`, regenerated from
    * the committed bench artifact, see BASELINE.md §protocol) so the
    * bench needs no JSON parser. Queries without an anchor row (new this
    * round) are simply not gated. Missing/unreadable file → no anchors,
    * bench behavior identical to pre-r10.
    */
  private def loadAnchors(path: String): Map[String, (Double, Long)] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().flatMap { l =>
        val p = l.trim.split("\\s+")
        if (p.length >= 3 && !l.trim.startsWith("#"))
          try Some((p(0), (p(1).toDouble, p(2).toLong)))
          catch { case _: Throwable => None }
        else None
      }.toMap
      finally src.close()
    } catch { case _: Throwable => Map.empty }

  /** Anchored fixture fingerprint from the anchors TSV: `# fp <table>
    * <rows> <bytes>` comment rows written by tools/make_anchors.py.
    * Returns table -> data-file bytes (the side Bench can recompute
    * without reading footers). Missing rows → empty map → no check.
    */
  private def loadFingerprint(path: String): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().flatMap { l =>
        val p = l.trim.split("\\s+")
        if (p.length >= 5 && p(0) == "#" && p(1) == "fp")
          try Some((p(2), p(4).toLong))
          catch { case _: Throwable => None }
        else None
      }.toMap
      finally src.close()
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    // Before anything Spark: the WindowExec warning demotion must win
    // even in harness environments whose logging config is applied at
    // JVM start (the shipped classpath log4j2.properties is the second
    // layer of the same fix).
    graft.plans.LogHygiene.suppressBoundedWindowWarn()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    // In-driver median-of-N (default 3): single-pass per-query numbers on
    // this box swing up to 10x on identical code (BASELINE.md r6 protocol),
    // so the emitted per-query values are per-query MEDIANS over N
    // back-to-back runs — adjudicable against the median-of-3 anchor
    // without driver-side multi-pass orchestration. PASSES=1 restores the
    // old single-pass mode for quick local smoke.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    // The lint rides every bench in FAIL mode: the sf10 legs and the skew
    // gate have run fail-mode since r17, the registry is lint-clean, and a
    // new scale-killer plan shape (global windows, accidental cartesians,
    // float payloads on exchanges) should abort the bench loudly rather
    // than ride a warn line nobody reads. A scaled-fixture bench is what
    // surfaces flips the fixture scale hides — the f30 broadcast→shuffle
    // flip on the LSH verify re-attach was invisible until measured
    // (SCALE.md §stress). SPARK_GRAFT_EXTRA_CONF can still demote per run:
    // comma-separated k=v session confs (e.g. spark.graft.lsh.bits=7 at a
    // scaled fixture), applied in order after the lint mode.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(',')).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = GraftSession.create("graft-bench", cpus,
      (graft.plans.ScaleLint.ConfKey -> "fail") +: extraConf: _*)
    val tap = new TaskMetricsTap
    spark.sparkContext.addSparkListener(tap)
    // Listener delivery is async; drain the bus around each timed region
    // so TaskMetrics deltas attribute to the right query. A drain timeout
    // degrades that pass's metric delta (wall-clock is unaffected) —
    // never fails the bench.
    def drain(): Unit =
      try org.apache.spark.graft.ListenerFlush
        .waitUntilEmpty(spark.sparkContext, 30000)
      catch { case _: Throwable => () }
    // Untimed warmup: JIT + codegen + parquet-footer caches, so the first
    // timed query doesn't absorb JVM startup (it skewed ~3-4 s onto
    // whichever query the map iterated first).
    // Materialize via the noop sink, NOT count(): count() lets the
    // optimizer prune every computed column and eliminate final sorts, so
    // projection-shaped queries would time a bare scan and a regression
    // in any projection expression would be invisible to the anchor.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q_scan_agg").foreach(q => run(q(spark, sfDir)))
    } catch { case _: Throwable => () }
    // Contractual scale exclusion: queries tagged oracle-scale-only
    // (Q.scaleBound) are skipped when the target sf exceeds their bound —
    // the declared O(n²) baselines never ride a large-sf bench by
    // accident. Unparseable dir names (no "sf<k>" segment) filter nothing.
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
    val bounds = SparkEntry.scaleBounds
    // Optional subset mode: explicit query names as main args restrict the
    // run (stress passes over the heavy family at scaled fixtures); no
    // args = the full registry, which is what the driver invokes.
    val subset = args.toSet
    val picked =
      if (subset.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter(q => subset(q._1))
    val (eligible, excluded) = picked.sortBy(_._1).partition {
      case (name, _) => sf.forall(s => bounds.get(name).forall(_ >= s))
    }
    // Pre-stage loaded-twin artifacts OUTSIDE the timed region: the
    // *_loaded/*_appended registry twins build their fingerprint-keyed
    // artifact on first invocation (build-if-absent), so without this an
    // empty tmpdir charges a one-time index BUILD to pass 1 of a query
    // that exists to measure PROBE cost. One untimed pass per twin makes
    // every timed pass probe-only and decouples medians from tmpdir state.
    // Each twin's prestage wall time is emitted in the artifact
    // ("prestaged"): a long prestage = the build ran HERE, which is the
    // in-artifact proof that the timed passes below are probe-only by
    // construction, not by tmpdir luck (r14 verdict task 6).
    val prestaged = eligible
      .filter { case (n, _) =>
        n.contains("_loaded") || n.contains("_appended") || n.contains("_deleted")
      }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try run(fn(spark, sfDir)) catch { case _: Throwable => () }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // Sorted-name execution order: Map iteration order reshuffles whenever
    // the registry grows, silently changing which queries run warm (JIT,
    // FS cache) — sorted order keeps anchors comparable across rounds.
    // The N passes per query run back-to-back (not pass-major): the first
    // run absorbs that query's codegen/shuffle warm-up and the median
    // reflects the warm steady state the anchor wants.
    // A query that throws (e.g. a ScaleLint violation in fail mode)
    // must not masquerade as a fast pass: record the first error per
    // query and surface the count on the headline + messages in the
    // full artifact, while still timing the remaining queries.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timed = eligible.map { case (name, fn) =>
      // Between queries (untimed): force a GC so ContextCleaner reaps the
      // PREVIOUS query's private localCheckpoint blocks. Spark only
      // triggers this on its periodic GC (default every 30 min), so in a
      // long registry run checkpoint blocks from every past query pile up
      // in storage memory — at the 10× fixture that pressure inflated
      // mid-run queries ~3x in wall AND task CPU (q10: 9.9 s/172 CPU-s
      // mid-run vs 2.8 s/~15 CPU-s standalone, identical plan and bytes)
      // — cross-query contamination the per-query metrics exist to rule
      // out. Block deletion is async; the GC plus the listener drain
      // below gives the cleaner its window.
      System.gc()
      val passData = (1 to passes).map { _ =>
        drain(); val s0 = tap.snapshot()
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)) } catch {
          case e: Throwable => errors.getOrElseUpdate(name,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        drain(); val s1 = tap.snapshot()
        (wall, Array.tabulate(s0.length)(i => s1(i) - s0(i)))
      }
      val ts = passData.map(_._1)
      // Per-field medians across passes: CPU medians absorb a contended
      // pass the same way wall medians do; byte fields are plan-pure and
      // should be identical across passes — raw arrays are kept so a
      // non-flat byte trace is visible in the artifact itself.
      val med = Array.tabulate(passData.head._2.length)(i =>
        passData.map(_._2(i)).sorted.apply(passes / 2))
      (name, ts.sorted.apply(ts.size / 2), ts, med, passData.map(_._2))
    }
    val results = timed.map { case (name, med, _, _, _) => name -> med }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // ---- In-run outlier adjudication (r9 verdict task: no judge
    // re-measurement even in the worst machine mode). Anchors are the
    // committed per-query medians; two checks:
    //   1. BYTE DRIFT: shuffle-read bytes are a pure function of the
    //      plan — drift beyond ±10% (the documented AQE-coalesce jitter
    //      band, BASELINE.md §protocol) means the PLAN changed, not the
    //      machine; flagged loudly in the artifact.
    //   2. CPU > 2× anchor: re-run the suspect SOLO in a quiet tail pass
    //      (sequential, post-registry, GC'd) and emit both numbers —
    //      contended registry CPU inflates up to ~5× under full-registry
    //      pressure on this box while solo collapses to ~1×; the solo
    //      figure is the adjudicable one.
    val anchorsPath = sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "ANCHORS.tsv")
    // the default ANCHORS.tsv holds sf0.1 medians and applies only there;
    // an EXPLICIT SPARK_GRAFT_ANCHORS engages at any sf — the sf10 legs
    // carry their own anchor set (r12 task 3: sf10 self-adjudication)
    val anchors =
      if (sys.env.contains("SPARK_GRAFT_ANCHORS") || sf.contains(0.1))
        loadAnchors(anchorsPath)
      else Map.empty[String, (Double, Long)]
    // Cross-round continuity set (r13 verdict task 3): ANCHORS.tsv is
    // regenerated from each ACCEPTED run, so its in-run gate is
    // self-referential by construction — it can never see cross-round
    // drift. ANCHORS_prev.tsv is the PRIOR round's committed anchors
    // (tools/make_anchors.py snapshots the old file before overwriting),
    // and this second ratio set puts the round-over-round CPU comparison
    // in the artifact itself instead of judge archaeology. Same
    // engagement rule and >2× solo-adjudication treatment as the
    // primary set.
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_ANCHORS_PREV", "ANCHORS_prev.tsv")
    val prevAnchors =
      if (sys.env.contains("SPARK_GRAFT_ANCHORS_PREV") || sf.contains(0.1))
        loadAnchors(prevPath)
      else Map.empty[String, (Double, Long)]
    // Testdata fingerprint check (r19 task 4): the anchors TSV records
    // the per-table byte sizes of the fixture its numbers were measured
    // on (`# fp` rows, tools/make_anchors.py); the driver regenerates
    // /root/testdata each round, and that level shift produced 8 of the
    // 12 r18 byte-drift flags. Comparing CURRENT table bytes against the
    // anchored fingerprint makes fixture-shift drift machine-separable
    // from plan drift: a nonzero `fixture_drift` says "expect byte_drift
    // rows on fixture-sensitive queries; adjudicate against the shifted
    // tables, not the plan".
    val anchoredFp =
      if (anchors.nonEmpty) loadFingerprint(anchorsPath)
      else Map.empty[String, Long]
    val fixtureDrift = anchoredFp.flatMap { case (table, aBytes) =>
      val p = new java.io.File(s"$sfDir/$table.parquet")
      val nowBytes =
        if (p.isFile) p.length
        else if (p.isDirectory)
          p.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(_.length).sum
        else -1L
      if (nowBytes != aBytes)
        Some(table -> (aBytes, nowBytes))
      else None
    }
    // Absolute floor on the drift flag (r10 verdict #3): a percentage
    // band alone cries wolf on near-empty exchanges — q5's flagged
    // "1.15×" was 184 BYTES of AQE-coalesce jitter on a broadcast-heavy
    // plan. Drift below 64 KiB on both sides is measurement noise, not a
    // plan change; only flag when at least one side is a real exchange.
    val byteDriftFloorB = 64L * 1024
    val byteDrift = timed.flatMap { case (name, _, _, m, _) =>
      anchors.get(name).collect {
        case (_, aShr) if aShr > 0 &&
            math.abs(m(2) - aShr).toDouble / aShr > 0.10 &&
            math.max(m(2), aShr) >= byteDriftFloorB =>
          name -> (m(2).toDouble / aShr)
      }
    }
    // per-query CPU ratio vs the prior round's committed anchors, plus
    // the summary stats the cross-round gate reads (median of per-query
    // ratios; total = Σcpu_now / Σcpu_prev over the shared queries)
    val prevRatios = timed.flatMap { case (name, _, _, m, _) =>
      prevAnchors.get(name).collect {
        case (aCpu, _) if aCpu > 0 => name -> (m(0) / 1e9 / aCpu)
      }
    }
    val prevShared = timed.flatMap { case (name, _, _, m, _) =>
      prevAnchors.get(name).collect {
        case (aCpu, _) if aCpu > 0 => (m(0) / 1e9, aCpu)
      }
    }
    // conventional median: even-sized ratio sets average the two middle
    // elements (the upper-middle alone biased prev_median slightly up)
    val prevMedian =
      if (prevRatios.isEmpty) 0.0
      else {
        val s = prevRatios.map(_._2).sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    val prevTotal =
      if (prevShared.isEmpty) 0.0
      else prevShared.map(_._1).sum / prevShared.map(_._2).sum
    val cpuSuspects = (timed.collect {
      case (name, _, _, m, _)
          if anchors.get(name).exists { case (aCpu, _) =>
            aCpu > 0 && m(0) / 1e9 > 2.0 * aCpu } => name
    } ++ prevRatios.collect { case (name, r) if r > 2.0 => name }).distinct
    // Solo re-run errors are recorded, not swallowed: a suspect that
    // fails its quiet-tail pass must not publish partial-execution
    // medians as the adjudicable numbers — its entry is flagged instead.
    val soloErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val solo = cpuSuspects.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        System.gc()
        val passData = (1 to passes).map { _ =>
          drain(); val s0 = tap.snapshot()
          val t0 = System.nanoTime()
          try run(fn(spark, sfDir)) catch {
            case e: Throwable => soloErrors.getOrElseUpdate(name,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          }
          val wall = (System.nanoTime() - t0) / 1e9
          drain(); val s1 = tap.snapshot()
          (wall, s1(0) - s0(0))
        }
        val w = passData.map(_._1).sorted.apply(passes / 2)
        val c = passData.map(_._2).sorted.apply(passes / 2) / 1e9
        (name, w, c)
      }
    }
    // Full per-query timings go to a file: the driver captures only the
    // last ~2000 chars of output, and a 124-query JSON line (~3 KB) gets
    // its head truncated there, so the driver's parse fails (BENCH_r01 and
    // BENCH_r03 both recorded parsed:null). The printed line stays compact
    // — total + the slowest queries that fit a hard budget — and points at
    // bench_full.json for the complete map (medians + raw per-pass arrays).
    val skippedJson = excluded.map { case (n, _) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val totals = totalsJson(timed.map(_._4), timed.map(_._5))
    val fullJson = {
      val meds = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
      val raw = timed.map { case (k, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.mkString(",") + "]"
      }.mkString(",")
      // Contention-invariant family: per-query median executor CPU sec,
      // plus the byte/task counters (median across passes) and the raw
      // per-pass shuffle-read/input byte traces. cpu_sec is the gate
      // metric; shr/shw/inp/spill bytes pin the plan; tasks pins fan-out.
      val cpu = timed.map { case (k, _, _, m, _) =>
        "\"" + k + "\":" + m(0) / 1e9
      }.mkString(",")
      val metrics = timed.map { case (k, _, _, m, _) =>
        s""""$k":{"cpu_sec":${m(0) / 1e9},"run_sec":${m(1) / 1e3},""" +
          s""""shr_b":${m(2)},"shw_b":${m(3)},"inp_b":${m(4)},""" +
          s""""spill_b":${m(5)},"tasks":${m(6)}}"""
      }.mkString(",")
      val rawBytes = timed.map { case (k, _, _, _, perPass) =>
        rawPassesJson(k, perPass)
      }.mkString(",")
      val errJson = errors.map { case (k, v) =>
        "\"" + k + "\":\"" + jsonEscape(v) + "\""
      }.mkString(",")
      // solo tail-pass results for every >2x-CPU suspect: the contended
      // registry numbers stay in queries/cpu; these are the adjudicable
      // quiet-box medians for the same binaries in the same run
      val soloJson = solo.map { case (k, w, c) =>
        soloErrors.get(k) match {
          // a failed solo pass publishes the error, never the medians —
          // partial executions cannot masquerade as a fast clean run
          case Some(err) =>
            s""""$k":{"failed":true,"error":"${jsonEscape(err)}"}"""
          case None => s""""$k":{"wall_sec":$w,"cpu_sec":$c}"""
        }
      }.mkString(",")
      val driftJson = byteDrift.map { case (k, r) =>
        s""""$k":$r"""
      }.mkString(",")
      val prevJson = prevRatios.map { case (k, r) =>
        s""""$k":$r"""
      }.mkString(",")
      val prestageJson = prestaged.map { case (k, s) =>
        "\"" + k + "\":" + fmt(s)
      }.mkString(",")
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
        s"""$totals,""" +
        s""""prestaged":{$prestageJson},""" +
        s""""cpus":$cpus,"sf":"$sfDir","mode":"median$passes",""" +
        // the gate's leg-reuse check needs the EFFECTIVE lint mode (r17
        // ADVICE: a stale lint-off dump must not pass as gate evidence)
        s""""lint_mode":"${graft.plans.ScaleLint.mode(spark)}",""" +
        s""""anchors":"${if (anchors.isEmpty) "" else anchorsPath}",""" +
        s""""prev_anchors":"${if (prevAnchors.isEmpty) "" else prevPath}",""" +
        s""""prev_median":$prevMedian,"prev_total":$prevTotal,""" +
        s""""prev_n":${prevRatios.size},""" +
        s""""skipped":$skippedJson,"errors":{$errJson},""" +
        s""""solo":{$soloJson},"byte_drift":{$driftJson},""" +
        s""""fixture_drift":{${fixtureDrift.map { case (t, (a, n)) =>
          s""""$t":{"anchor_b":$a,"now_b":$n}"""
        }.mkString(",")}},""" +
        s""""cpu_vs_prev":{$prevJson},""" +
        s""""queries":{$meds},"cpu":{$cpu},""" +
        s""""task_metrics":{$metrics},"raw_bytes":{$rawBytes},"raw":{$raw}}"""
    }
    val fullName = fullArtifactName(subset.nonEmpty, sys.env)
    val fullPath = java.nio.file.Paths.get(fullName).toAbsolutePath
    java.nio.file.Files.write(fullPath,
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val budget = 1500 // chars for the whole line; tail capture is 2000
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$totals,"n":${results.size},"mode":"median$passes","skipped":${excluded.size},"errors":${errors.size},"solo":${solo.size},"byte_drift":${byteDrift.size},"prev_median":${fmt(prevMedian)},"prev_total":${fmt(prevTotal)},"prev2x":${prevRatios.count(_._2 > 2.0)},"full":"$fullName","sf":"$sfDir","queries":{"""
    val slowestFirst = results.sortBy(-_._2)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + 2 // closing "}}"
    slowestFirst.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + fmt(v)
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
    }
    println(head + entries.mkString(",") + "}}")
    spark.stop()
  }
}
