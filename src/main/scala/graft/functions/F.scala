package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers shared across graft operators.
  *
  * Everything here is built from codegen'd Catalyst built-ins (no UDFs),
  * or from graft's own native expressions ([[dotLong]]), and is
  * *oracle-portable*: each helper has an exact DuckDB-SQL equivalent, so
  * query results can be hash-compared bit-for-bit against an
  * independent engine (see graft.Oracles).
  */
object F {

  /** Portable 60-bit non-negative hash of any column.
    *
    * Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: bigint
    * DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
    *
    * md5 is identical everywhere; 15 hex chars = 60 bits < 2^63 so the
    * value is always positive and exact in an int64. Used for dedup
    * fingerprints, MinHash base hashes, SimHash token hashes, and
    * deterministic pseudo-random projections — anywhere we need a hash
    * an independent engine can reproduce.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Driver-side mirror of hash60 — md5 is the same function on the
    * driver as in any engine, so coefficients derived here (hyperplanes,
    * MinHash permutations, stub frame signatures) are identical to what
    * Spark or DuckDB would compute. Single definition: every driver-side
    * use MUST go through this, or a width/encoding change would silently
    * break oracle agreement for some operators only. */
  def hash60Driver(s: String): Long =
    hash60With(java.security.MessageDigest.getInstance("MD5"), s)

  /** ObjectHashAggregate's sort-based fallback threshold for the graft
    * session builders (Bench/Verify): the number of in-memory groups an
    * object aggregation holds before switching to sort-based
    * aggregation. Spark's default is 128 — calibrated for aggregation
    * buffers of unbounded size (collect_list of whole rows), not for
    * this library's bounded states (the K = 16-slot minhash buffer,
    * 64-long centroid sum rows: ≲ 400 B/group). At the 3.2M-doc carve
    * the default made every minhash partial-agg map task sort its
    * ~10⁸-row gram stream (a measured 20+ min single-task straggler in
    * the d3 substrate build) where hash-aggregating the task's ~10⁵
    * doc groups costs ~25 MB. 2²¹ groups × ~400 B ≈ 800 MB ceiling per
    * task — and a task only pays what its group count actually is; at
    * every shipped SF the count is orders of magnitude below the
    * threshold. On a cluster the same setting belongs in the submit
    * conf for any job running these operators.
    *
    * HOUSE RULE (the threshold's contract): this override is
    * session-wide, so every NEW typed/object aggregate added to the
    * library must keep its per-group buffer BOUNDED (~hundreds of
    * bytes — a fixed slot array, a sketch, a fixed-width struct). An
    * unbounded buffer (collect_list of rows, growing maps) under this
    * threshold can hold ~2M groups with no sort-spill safety net
    * before OOM. If an unbounded-buffer aggregate ever becomes
    * necessary, scope it to its own session or restore the Spark
    * default around it. */
  val ObjectAggFallbackGroups: Int = 1 << 21

  /** Whole-stage-codegen class-cache size for the graft session
    * ([[graft.GraftSession]]) —
    * `spark.sql.codegen.cache.maxEntries`, a STATIC conf (must be set
    * at session build). Spark's default is 100 compiled classes, sized
    * for a driver that runs a handful of distinct plans; this library's
    * suite runs 197 queries × ~10-30 generated stages each, so under
    * the default every round-robin bench pass evicts everything and
    * janino RECOMPILES every stage of every query, every pass — pure
    * driver-side overhead charged to whichever query runs it. The
    * round-18 A/B (46-key suite, 4 passes) measured fat-plan keys 30-60%
    * faster with the cache sized to the suite (e25 13.4→8.1 s,
    * e17 2.6→1.5, d14 2.1→1.5, q16 2.6→1.0) and the bench's own fixed
    * CAL PROBE dropping below its documented idle band (0.88→0.48 s) —
    * the probe itself had been paying recompiles, i.e. the default
    * contaminated the measurement floor as well as the queries.
    * Sizing: the cache is keyed by the full generated SOURCE TEXT, so
    * heap cost ≈ entries × source size (tens of KB each). MEASURED at
    * the full 197-key suite (Bench's stderr codegen diagnostic):
    * 5687 distinct sources compiled per process, mean 27 ms each —
    * ~154 s of one-time compile work that the 100-entry default
    * re-ran EVERY PASS (~600 s across a 4-pass bench). 16384 holds
    * the measured suite with ~3× headroom for growth at a bounded
    * worst-case source-text ceiling inside the 8 GB driver. Scale
    * note: this is JVM-level, core-count- and data-size-independent;
    * a production driver (or executor) running a large mixed query
    * suite wants the same setting in its submit conf. Results are
    * unaffected — the cache keys on generated SOURCE TEXT, so a hit
    * replays the identical class. */
  val CodegenCacheEntries: Int = 16384

  /** Collision-proof per-data-dir tag: the sanitized dir name keeps it
    * readable, the md5-derived suffix keeps DISTINCT dirs from ever
    * sharing a name — `replaceAll` alone maps two dirs differing only
    * in non-alphanumeric chars to the same string, silently
    * cross-contaminating their materializations. Identifier-safe (no
    * dots — a '.' inside a memory-sink table name would parse as
    * db.table). THE single definition of the scheme: sink paths,
    * streaming staging dirs and memory-sink names all derive from it. */
  def dirTag(dir: String): String =
    (dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      (hash60Driver(dir) % 100000)).toLowerCase

  /** Collision-proof local sink dir per (operator kind, data dir) —
    * every batch sink (p10/p14/p22/p24/p29/x7/e10/e11) derives its
    * path here. */
  def sinkPath(kind: String, dir: String): String =
    s"target/graft-sink/${kind}_" + dirTag(dir)

  private val splitMbByDir = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** INPUT-SIZED scan-split config for the local mains (Bench/Verify):
    * the decoded-CPU split sizing (32 MB maxPartitionBytes / 1 MB
    * openCost) that fixed p8's sf1 scan starvation MEASURABLY HURTS
    * small inputs — the round-14 A/B on the five drifted sf0.1 keys
    * (e5/q25/q29/q5/s10, 5-rep medians) ran 8.30 s under 32 MB/1 MB vs
    * 6.82 s under Spark defaults (-18%): with kilobyte-per-core
    * inputs, the 1 MB floor mints 4× the tasks and pure scheduling
    * overhead eats the win. So the config is sized from the input
    * itself: Spark defaults below 64 MB of dir bytes (task overhead
    * dominates decode), 32 MB/1 MB above (decode CPU dominates; the
    * string-heavy parquet under-splits 5-20× on stored bytes). Returns
    * the maxPartitionBytes MB to set, or 0 for Spark defaults. On a
    * real cluster this knob belongs in the submit conf; lake files
    * there are 128 MB+ with bounded row groups, where the defaults
    * are right. Memoized per canonical directory for the JVM's life:
    * the streaming materializations ask once each per pass, and an
    * input dir does not change under a running suite. */
  def autoSplitMb(sfDir: String): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    val dir = new java.io.File(sfDir).getCanonicalFile
    splitMbByDir.getOrElseUpdate(dir.getPath,
      if (bytes(dir) > 64L * 1024 * 1024) 32 else 0)
  }

  /** Per-query refinement of [[autoSplitMb]]: the 32 MB split exists to
    * bound DECODED CPU per task, but stored file bytes only proxy that
    * for a query reading every column. A narrow scan (b4 reads 2 of
    * lineitem's 16 columns) decodes a small FRACTION of each split, so
    * directory-sized splits mint 4-16× the tasks for kilobytes of
    * decode each — the round-15 A/B measured b4 at 3.21 s under
    * 32 MB splits vs 1.03 s under defaults at sf1, pure scheduling
    * overhead. The right denominator is the bytes the query's
    * ReadSchema actually decodes: this walks the UNEXECUTED physical
    * plan's parquet scans, estimates each scan's read fraction from
    * one file's footer (column-chunk compressed sizes, cached per
    * path), and widens the split by 1/fraction so every task decodes
    * ~baseMb worth of READ columns regardless of projection width.
    * Full-width scans (p8's props parse) keep baseMb and their 8×;
    * narrow scans converge to Spark-default-sized tasks. Capped at
    * 512 MB (a lost task still re-reads bounded work) and floored at
    * baseMb; plans with no parquet scan (streaming memory tables,
    * cached substrates) keep baseMb. Returns MB to set as
    * spark.sql.files.maxPartitionBytes for THIS query. */
  def splitMbForPlan(df: org.apache.spark.sql.DataFrame, baseMb: Int): Int = {
    if (baseMb <= 0) return 0
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import scala.jdk.CollectionConverters._
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(flatten)
    // subqueries (scalar/broadcast) plan their own scans; main plan is
    // what dominates bytes, and missing a subquery scan only keeps a
    // conservative (smaller) split — walk children only.
    val scans = flatten(df.queryExecution.sparkPlan)
      .collect { case f: FileSourceScanExec => f }
    if (scans.isEmpty) return baseMb
    val (readSum, storedSum) = scans.foldLeft((0.0, 0.0)) { case ((r, s), scan) =>
      val files = scan.relation.location.inputFiles
      if (files.isEmpty) (r, s)
      else {
        val cols = footerColBytes(files.head,
          df.sparkSession.sparkContext.hadoopConfiguration)
        val total = cols.values.sum.toDouble
        if (total <= 0) (r, s)
        else {
          val read = scan.requiredSchema.fieldNames
            .map(n => cols.getOrElse(n.toLowerCase(java.util.Locale.ROOT), 0L)).sum.toDouble
          val stored = scan.relation.location.sizeInBytes.toDouble
          (r + stored * (read / total), s + stored)
        }
      }
    }
    if (storedSum <= 0 || readSum <= 0) baseMb
    else math.min(512, math.max(baseMb,
      math.ceil(baseMb * storedSum / readSum).toInt))
  }

  /** Per-query split tuning shared by the two local mains (Bench and
    * Verify — ONE implementation, so the harnesses can never silently
    * run different scan configs). `build` plans the query once under
    * the base config, derives its ReadSchema-fraction split via
    * [[splitMbForPlan]] (memoized per query name), sets the session's
    * maxPartitionBytes for the run, and rebuilds only when the tuned
    * value differs — a streaming key (whose fn executes during
    * construction and returns a memory table with no parquet scan)
    * keeps the base and is never run twice. Disabled (`enabled=false`,
    * e.g. under the SPARK_GRAFT_SPLIT_MB A/B override or Spark-default
    * small inputs), it is a pass-through. */
  final class SplitTuner(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String,
      baseMb: Int,
      enabled: Boolean) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    private def set(mb: Int): Unit =
      spark.conf.set("spark.sql.files.maxPartitionBytes", mb.toLong * 1024 * 1024)
    def build(
        name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      if (!enabled) fn(spark, sfDir)
      else Option(cache.get(name)) match {
        case Some(mb) =>
          set(mb); fn(spark, sfDir)
        case None =>
          set(baseMb)
          val probe = fn(spark, sfDir)
          val mb =
            try splitMbForPlan(probe, baseMb)
            catch { case scala.util.control.NonFatal(_) => baseMb }
          cache.put(name, mb)
          if (mb == baseMb) probe else { set(mb); fn(spark, sfDir) }
      }
  }

  /** Top-level-column compressed byte totals from one parquet footer,
    * memoized per path and [[graft.io.PathStamp]] (footers are a few KB;
    * queries re-probe the same tables every bench pass, and a file
    * rewritten at the same path is read again). */
  private val footerCache = new graft.io.StampedMemo[String, Map[String, Long]]
  private[graft] def footerColBytes(
      path: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    try graft.io.PathStamp.of(path, conf).fold(Map.empty[String, Long]) { stamp =>
      footerCache(path, stamp) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(path), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toArray.head.toLowerCase(java.util.Locale.ROOT))
          .map { case (k, cs) => k -> cs.map(_.getTotalSize).sum }
          .toMap
        finally reader.close()
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty[String, Long] }
  }

  /** Land a parquet input into a staging dir as top-level files a file
    * streaming source will list — handling BOTH physical layouts a
    * lake serves: a single parquet file (the sandbox testdata shape)
    * and a directory of part files (the norm everywhere else; part
    * files flatten into the staging dir under `baseName_N.parquet`,
    * `_`/`.`-prefixed bookkeeping entries skipped). Fails loudly if
    * ZERO data files land: `Files.copy` on a directory "succeeds" by
    * creating an empty directory, and the resulting silently-empty
    * staged stream materializes an empty result that exits 0 — the one
    * failure shape worse than a crash (found by the 10× scale run,
    * whose derived tables are directory-layout). */
  def stageParquet(src: String, dstDir: String, baseName: String): Unit = {
    import java.nio.file._
    val s = Paths.get(src)
    val d = Paths.get(dstDir)
    Files.createDirectories(d)
    // Clear this baseName's PREVIOUS staging first — marker included, so
    // a crash mid-restage can't leave a stale done-marker next to a
    // partial file set. If the source's part count shrank, or its layout
    // flipped between directory and single file, leftover baseName_N
    // files would stay listed by the file stream and the staged set
    // would silently double-count rows — the same silent-wrong-result
    // shape the zero-file guard below kills.
    Files.deleteIfExists(d.resolve(stagedMarkerName(baseName)))
    val prior = Files.list(d)
    try {
      val it = prior.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        // match ONLY this baseName's own staged parts
        // (baseName_<digits>.parquet) — a bare-prefix match would also
        // delete a sibling baseName's parts when one name prefixes the
        // other (e.g. restaging 'events' nuking 'events_wire_0.parquet')
        if (name == s"$baseName.parquet" ||
            name.matches(java.util.regex.Pattern.quote(baseName) + "_\\d+\\.parquet"))
          Files.delete(p)
      }
    } finally prior.close()
    val landedFiles =
      if (Files.isDirectory(s)) {
        val parts = Files.list(s)
        try {
          val it = parts.iterator()
          var n = 0
          while (it.hasNext) {
            val p = it.next()
            val name = p.getFileName.toString
            if (name.endsWith(".parquet") && !name.startsWith("_") &&
                !name.startsWith(".")) {
              Files.copy(p, d.resolve(s"${baseName}_$n.parquet"),
                StandardCopyOption.REPLACE_EXISTING)
              n += 1
            }
          }
          n
        } finally parts.close()
      } else {
        Files.copy(s, d.resolve(s"$baseName.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        1
      }
    require(landedFiles > 0,
      s"staging landed ZERO parquet data files from $src into $dstDir — " +
        "an empty staged stream would materialize an empty result")
    // Done-marker, written LAST: the landOnce heal artifact. The bare
    // staging directory is a useless artifact (a partial clean that
    // removes the data files but keeps the dir — or a crash between
    // createDirectories and the copies — passes an exists() check and
    // serves an empty stream); the marker exists iff a staging run
    // COMPLETED. Underscore-prefixed so the file source never lists it.
    Files.write(d.resolve(stagedMarkerName(baseName)),
      landedFiles.toString.getBytes("UTF-8"))
  }

  /** The completion marker [[stageParquet]] writes last — pass
    * `dstDir/this` (not the bare dstDir) as the [[landOnce]] artifact. */
  def stagedMarkerName(baseName: String): String = s"_staged_$baseName"

  /** Builds landed by THIS JVM, per key (see [[landOnce]]). */
  private val landed = new graft.Once[String, Unit](identity)

  /** Single-artifact convenience overload of [[landOnce]]. */
  def landOnce(key: String, artifact: String)(build: => Unit): Unit =
    landOnce(key, Seq(artifact))(build)

  /** Runs `build` at most once per JVM per key ([[graft.Once]]: a second
    * concurrent caller awaits the winner instead of racing a duplicate
    * overwrite into the same directory, and a failed build is run again
    * by the next caller) — and again if ANY of `artifacts` (the
    * directories the build must land) has been cleaned from disk since
    * it completed, so a partially wiped target/ heals instead of
    * serving a missing sibling path. An in-flight build is never
    * evicted: its artifacts legitimately don't exist yet. Used by every
    * operator whose MEASURED work is maintenance/serving over a landed
    * artifact (e10-e14, p32): the landing is setup, charged to no timed
    * pass after the first. */
  def landOnce(key: String, artifacts: Seq[String])(build: => Unit): Unit =
    landed(key, _ => artifacts.exists(a => !new java.io.File(a).exists()))(build)

  /** hash60 over a CALLER-OWNED MessageDigest — the per-partition hot
    * path (m2 frame sampling) hoists one instance per partition and
    * reuses it per row (`digest()` resets the instance), instead of
    * allocating one per frame. Same bytes, same value as hash60Driver. */
  def hash60With(md: java.security.MessageDigest, s: String): Long = {
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Exact, order-independent sum of a double column.
    *
    * Row-level values are cast to DECIMAL(18,6) (deterministic rounding
    * of identical IEEE doubles in every engine), summed exactly
    * (decimal addition is associative — no float reassociation drift
    * across partitionings), and cast back to double. This is what makes
    * aggregate results reproducible between a 32-thread local run, a
    * 1000-executor cluster, and the DuckDB oracle.
    */
  def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast(DoubleType)

  /** Mean built from the exact decimal sum: one IEEE division at the end,
    * identical in every engine. */
  def decAvg(c: Column): Column =
    decSum(c) / count(lit(1))

  /** Whitespace tokenizer (lower-cased). DuckDB equivalent:
    * regexp_split_to_array(lower(trim(x)), '\s+'). */
  def tokens(c: Column): Column =
    split(trim(lower(c)), "\\s+")

  /** Quantize a float-array embedding to exact int64 milli-units:
    * floor(x * 1000 + 0.5). Makes dot products / norms exact integer
    * arithmetic — bit-identical in Spark and DuckDB — while preserving
    * 3 decimals of the embedding. Scale note: |x|<=~1 keeps each term
    * <= 1e6 and a 64-dim dot product <= ~6.4e7, far inside int64. */
  def quantize(arr: Column): Column =
    transform(arr, x => floor(x.cast(DoubleType) * lit(1000.0) + lit(0.5)).cast(LongType))

  /** Exact integer dot product of two quantized embeddings (built-in
    * formulation — portable to any engine; [[DotProductRewrite]] plans
    * it as the native [[LongDotProduct]], and it is the reference the
    * specs compare [[dotLong]] against). */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact integer dot product through the codegen'd native
    * [[LongDotProduct]] (`graft_dot_long`, registered by
    * [[GraftExtensions]]): a tight primitive loop in the generated
    * stage. Same result as [[dotQ]]. */
  def dotLong(a: Column, b: Column): Column = call_function("graft_dot_long", a, b)

  /** Cosine built over a supplied dot-product implementation. */
  def cosineWith(dot: (Column, Column) => Column)(a: Column, b: Column): Column =
    dot(a, b).cast(DoubleType) /
      sqrt(dot(a, a).cast(DoubleType) * dot(b, b).cast(DoubleType))

  /** Materialization barrier for iterative/rank operators — the ONE
    * place the localCheckpoint fault-tolerance caveat lives. Default:
    * `localCheckpoint` (executor-memory blocks — fast, but NOT
    * recomputable: on a real cluster an executor loss during the
    * consuming stage fails the job and the retry restarts the
    * operator; determinism makes the retry byte-identical). With
    * session conf `graft.checkpoint.durable=true`: a RELIABLE
    * `checkpoint()` against `graft.checkpoint.dir` (default
    * `target/graft-checkpoints`; set it to HDFS/object storage on a
    * cluster), whose blocks survive executor loss — the recovery story
    * for long multi-round jobs, at the price of a filesystem write per
    * barrier. Same plan shape either way, so consumers cannot tell the
    * modes apart except by durability. */
  def materialize(df: org.apache.spark.sql.DataFrame,
      eager: Boolean = true): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("graft.checkpoint.durable").contains("true")) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.getOption("graft.checkpoint.dir")
            .getOrElse("target/graft-checkpoints"))
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Chainable form of [[materialize]]:
    * `df.transform(...).materialized()`. */
  implicit class Materialize(private val df: org.apache.spark.sql.DataFrame) {
    def materialized(eager: Boolean = true): org.apache.spark.sql.DataFrame =
      F.materialize(df, eager)
  }
}
