package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line.
  *
  * Methodology:
  *  - a session warm-up (JIT, codegen, parquet footer reads) runs before
  *    anything timed;
  *  - each query then runs once UNTIMED (building any shared memoized
  *    substrates — docNgrams, signatures, buckets — so their one-off
  *    construction cost is not charged to whichever query happens to run
  *    first), then the whole suite runs `Reps` TIMED passes ROUND-ROBIN
  *    (every query once per pass), reporting the per-query MEDIAN across
  *    passes. On a ±30-50% noisy shared host a single sample cannot
  *    distinguish a plan regression from background load, and
  *    back-to-back reps let one sustained load spike own a query's whole
  *    median window; interleaving spreads any spike across many queries'
  *    single samples so the medians survive;
  *  - results are fully materialized through the `noop` sink (exercises
  *    the complete plan including final sorts/projections, unlike
  *    count() which lets Catalyst prune them);
  *  - failures are recorded per query — never silently swallowed into a
  *    fast wall-time;
  *  - the substrate memo is released at the end (per-dir), so a session
  *    benching many dirs doesn't accumulate pinned persists.
  */
object Bench {
  val DefaultReps = 3

  /** Timed passes: `SPARK_GRAFT_REPS`, a dev-only knob for the builder's
    * iteration loop (1 halves the wall of a what-did-my-change-do run);
    * unset, the full 3-pass median methodology. */
  def reps(env: collection.Map[String, String] = sys.env): Int =
    GraftSession.intKnob("SPARK_GRAFT_REPS", 1, env).getOrElse(DefaultReps)

  /** `SPARK_GRAFT_GC_EACH`: forced GC between timed queries — `1`
    * before every query, `0` never; unset (None), ADAPTIVE: only when
    * used heap crosses half of max. */
  def gcEach(env: collection.Map[String, String] = sys.env): Option[Boolean] =
    GraftSession.flagKnob("SPARK_GRAFT_GC_EACH", env)

  /** `SPARK_GRAFT_FAMILY_MAJOR=1`: warm, time and release one family at a
    * time (see main); `0` or unset keeps the global interleave. */
  def familyMajor(env: collection.Map[String, String] = sys.env): Boolean =
    GraftSession.flagKnob("SPARK_GRAFT_FAMILY_MAJOR", env).getOrElse(false)

  def main(args: Array[String]): Unit = {
    // dev-only filter for isolating queries while iterating
    // (SPARK_GRAFT_ONLY=d2_ngram_jaccard,d7_winnow); unset, every key is
    // benched. Checked before the session starts.
    val only = SparkEntry.onlyKeys(sys.env.get("SPARK_GRAFT_ONLY"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val Reps = reps()
    val gcMode = gcEach()
    val byFamily = familyMajor()
    // Scan-split sizing for the local harness: snappy parquet with
    // string-heavy columns (events.props JSON) decodes at 5-20× its
    // stored bytes of CPU, so the 128 MB/4 MB defaults leave a big
    // file's whole row set on 1-2 tasks (p8's "15× at sf1" was a 1M
    // row JSON parse on one task — a single-row-group file to boot;
    // 5.3 s isolated → 2.5 s re-chunked → sub-second split-tuned).
    // INPUT-SIZED since round 14 (F.autoSplitMb): the same 1 MB floor
    // that fixes sf1 minted 4× the tasks at sf0.1 and cost a measured
    // 18% there — defaults below 64 MB of input, 32 MB/1 MB above.
    // SPARK_GRAFT_SPLIT_MB is the dev-only A/B override (=0 forces
    // Spark defaults). The session's other keys: GraftSession.
    val spark = GraftSession(sfDir)

    // Warm-up: JIT + whole-stage codegen + shuffle machinery + parquet
    // readers, charged to no query.
    spark.range(1L << 22).selectExpr("sum(id)", "count(distinct id % 1024)").collect()
    Tables.all.foreach { t =>
      // events goes through its schema-adaptive reader (ns/µs parquet
      // variants, Tables.normalizeEventsTs) so the warm-up exercises
      // the same read path the queries use
      try {
        val df = if (t == "events") Tables.events(spark, sfDir) else Tables(spark, sfDir, t)
        df.limit(16).collect()
      } catch { case scala.util.control.NonFatal(_) => () }
    }

    // Calibration probe: a FIXED deterministic CPU-bound job (the same
    // shape as the warm-up above, so it is fully JIT/codegen-warm when
    // timed). Probed 3× before and 3× after the timed passes; the
    // median of all 6 is reported as "cal" in the JSON line. The
    // round-7 driver bench was 1.85× inflated by host load and only
    // manual re-runs proved it — with this token any consumer can
    // normalize (or flag) a contended run mechanically: idle-host cal
    // is ~0.10-0.15 s at 32 threads (NOTES_r08); a cal 2× that means
    // the per-query numbers carry the same contention factor.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 23).selectExpr("sum(id * (id % 7))", "count(distinct id % 1024)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // ReadSchema-sized split refinement (F.SplitTuner): the 32 MB base
    // bounds stored bytes per task, but a narrow projection decodes a
    // small fraction of each split — per-query the split widens by
    // 1/read-fraction so b4-class 2-of-16-column scans stop paying 3×
    // task-scheduling overhead for p8's full-width win. The A/B
    // override keeps its fixed-config meaning (tuning off under it).
    val tuner = GraftSession.splitTuner(spark, sfDir)

    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { tuner.build(name, fn).write.format("noop").mode("overwrite").save(); true }
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(s"[bench] $name FAILED: $e"); false
      }

    // JVM telemetry for the timed window: cumulative GC time and peak
    // heap. The r8→r9 "cal" token swung 0.46→3.62 s on identical code
    // with nothing to attribute it to; gc_s/heap_mb in the line give
    // any consumer the missing denominator (a high-cal run with high
    // gc_s is memory pressure; high cal with flat gc_s is external
    // host contention).
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
    def heapPools() = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    // Untimed GC between queries (timed samples bracket it, so pauses
    // are charged to no query): lets the ContextCleaner reclaim stale
    // broadcast/shuffle blocks from the previous query instead of
    // letting them pressure the next one's memory — the round-9
    // natural experiment showed late-suite queries run ~3× slower
    // under accumulated suite context. Unconditional per-query GC cost
    // 169 s of the round-11 wall, so the default is now ADAPTIVE:
    // collect only when used heap crosses half of max (the pressure the
    // round-9 experiment was actually about), which skips the forced
    // pause for the majority of light queries. SPARK_GRAFT_GC_EACH=1
    // restores every-query GC; =0 disables forced GC entirely.
    val maxHeap = Runtime.getRuntime.maxMemory
    def maybeGc(): Unit = gcMode match {
      case Some(false) => ()
      case Some(true) => System.gc()
      case None =>
        val used = heapPools().map(_.getUsage.getUsed).sum
        if (used * 2 > maxHeap) System.gc()
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // fail BEFORE the timing loop, not after minutes of completed work:
    // a short-id clash must not discard the run's results
    def shortId(name: String): String = name.takeWhile(_ != '_')
    require(selected.map(s => shortId(s._1)).distinct.size == selected.size,
      "short query ids must stay unique — rename the clashing query")
    // Memo spill policy for carve-scale suites (SPARK_GRAFT_FAMILY_MAJOR
    // =1): at n ≥ 10⁶ the co-resident memoized substrates of every
    // family in ONE local JVM pin the heap at its ceiling (round 15
    // measured 46 of 48 GB with 21.7 s GC at the 1.28M-vector carve —
    // a local-mode artifact; on a cluster substrates partition across
    // executors). Family-major order warms and times one SURVEY family
    // (short-id letter prefix) at a time, releasing its substrate
    // persists before the next, so at most one family's substrates are
    // ever co-resident. Within a family the timed passes stay
    // round-robin (the host-spike robustness the global interleave
    // exists for); a cross-family substrate cleared at a boundary
    // rebuilds inside the next family's own UNTIMED warm pass. Default
    // off: the driver's sf0.1 bench keeps the global interleave
    // (substrates there are small, and cross-pass spike robustness
    // matters more than heap headroom).
    val calPre = Seq.fill(3)(calOnce())
    val warmT0 = System.nanoTime()
    // pass 0: substrate/cache warm pass, untimed (per family when
    // family-major — see above)
    val warmOks = scala.collection.mutable.Map.empty[String, Boolean]
    if (!byFamily)
      selected.foreach { case (name, fn) => warmOks(name) = runOnce(name, fn) }
    // telemetry window = the timed passes only (warm-pass substrate
    // builds are charged to no query, so their GC isn't either). In
    // family-major mode later families' warm passes DO land inside the
    // window — gc_s/heap_mb then bound the policy's whole working set,
    // which is the number the policy exists to shrink.
    heapPools().foreach(_.resetPeakUsage())
    val gc0 = gcMillis()
    // passes 1..Reps run ROUND-ROBIN — the whole suite once per pass,
    // per-query median taken ACROSS passes. Back-to-back reps let a
    // minutes-long background load spike sit inside one query's entire
    // median window (round 5 charged 53 s to a 0.8 s query that way);
    // interleaved, the same spike clips one sample from many queries
    // and every median survives.
    def runPasses(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      (1 to Reps).map { _ =>
        qs.map { case (name, fn) =>
          maybeGc()
          val t0 = System.nanoTime()
          val ok = runOnce(name, fn)
          name -> ((System.nanoTime() - t0) / 1e9, ok)
        }.toMap
      }
    val passes: Seq[Map[String, (Double, Boolean)]] =
      if (!byFamily) runPasses(selected)
      else selected.groupBy(_._1.head).toSeq.sortBy(_._1).flatMap { case (_, fam) =>
        // family-scoped warm pass (substrate builds untimed, as ever)
        fam.foreach { case (name, fn) => warmOks(name) = runOnce(name, fn) }
        val p = runPasses(fam)
        operators.DedupOps.clearMemo(spark, sfDir)
        System.gc()
        p
      }
    val results = selected.map { case (name, _) =>
      val samples = passes.flatMap(_.get(name))
      val median = samples.map(_._1).sorted.apply(Reps / 2)
      (name, median, warmOks(name) && samples.forall(_._2))
    }
    val gcSec = (gcMillis() - gc0) / 1e3
    val heapMb = heapPools().map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
    val wallTotal = (System.nanoTime() - warmT0) / 1e9
    // post-passes probes bracket the timed window, so contention that
    // arrived mid-run still moves the median; true 6-sample median
    // (mean of the two middle order statistics — index 3 alone is the
    // UPPER median and biased high)
    val calSorted = (calPre ++ Seq.fill(3)(calOnce())).sorted
    val cal = (calSorted(2) + calSorted(3)) / 2

    // One compact machine-readable line. Kept deliberately SHORT:
    // consumers that retain only the LAST ~2 KB of process output must
    // still see the whole line, and it must be the line itself that
    // parses as JSON (no log prefix — see build.sbt's outputStrategy).
    // At 88 queries the full-name map broke 2 KB, so the stdout line
    // keys queries by their SURVEY §2 SHORT ID (the unique prefix
    // before the first underscore: q1, d2, t10, ...) — ~11 bytes per
    // query, leaving room for rounds of growth. BENCH_SELF.json keeps
    // the full-name map as the unmediated local record.
    // trailing zeros stripped ("0.90" -> "0.9", "2.00" -> "2"): the
    // consumer's tail capture is ~2 KB and the 197-key line is ~2.4 KB,
    // so every byte saved moves more of the line inside the window
    def r2(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    def qmap(key: String => String) =
      results.map { case (k, v, _) => "\"" + key(k) + "\":" + r2(v) }.mkString("{", ",", "}")
    // failed uses the same key scheme as queries: a mass failure must
    // not blow the tail window either
    def failedArr(key: String => String) =
      results.collect { case (k, _, false) => "\"" + key(k) + "\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // per-streaming-query scheduling/materialization floor (sec) from
    // the last timed pass — micro-batch trigger + commit-log + state-
    // store overhead, reported SEPARATELY so a regression in actual
    // compute can't hide inside (or be mistaken for) the ~2-3 s floor.
    // Keys are already short ids (p9, p13, ...).
    val floorMap = streaming.StreamPipeline.streamFloors.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    // methodology (median of Reps substrate-warm runs) is documented in
    // the scaladoc + round notes, not spent as line bytes
    def line(key: String => String) =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":${qmap(key)},"failed":${failedArr(key)},"stream_floor":$floorMap,"sf":"$sfDir","wall":${r2(wallTotal)},"cal":${r2(cal)},"gc_s":${r2(gcSec)},"heap_mb":$heapMb}"""
    // codegen-compile diagnostic (stderr, NOT the JSON contract): how
    // many distinct sources janino compiled this process and their
    // mean compile time — the attribution signal for class-cache
    // sizing (a count far above F.CodegenCacheEntries means the suite
    // overflowed the cache and re-paid compiles per pass). Printed
    // BEFORE the contract line: consumers keep only the LAST ~2 KB of
    // merged output, and the r17/r18 records show anything trailing
    // the line pushes its head out of that window.
    try {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      System.err.println(
        s"[bench] codegen compiles=${m.METRIC_COMPILATION_TIME.getCount} " +
        f"mean_raw=${m.METRIC_COMPILATION_TIME.getSnapshot.getMean}%.0f " +
        s"cache_max=${graft.functions.F.CodegenCacheEntries}")
    } catch { case scala.util.control.NonFatal(_) => () }
    // Also land the FULL-NAME line as a local file (gitignored) —
    // stdout passes through sbt and whatever wrapper invoked it; the
    // file is the unmediated record. Best-effort: a read-only or
    // foreign cwd must not turn a successful bench into an IO failure.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SELF.json"),
      (line(identity) + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    operators.DedupOps.clearMemo(spark, sfDir)
    // stop() BEFORE the contract line: Spark shutdown can log to stderr,
    // and the line must be the FINAL bytes of merged output so a
    // tail-window capture ends exactly at the line's end (VERDICT r18
    // item 2 — the r17 round-over-round comparison was lost to exactly
    // this truncation).
    // a throw in shutdown must not cost the contract line either
    try spark.stop()
    catch {
      case scala.util.control.NonFatal(e) => System.err.println(s"[bench] spark.stop failed: $e")
    }
    println(line(shortId))
    System.out.flush()
    if (results.exists(!_._3)) sys.exit(1)
  }
}
