package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.F._

/** Sketch/sampling operators — the corpus-statistics stage of a
  * training-data pipeline (vocabulary estimation, distribution
  * summaries, deterministic down-sampling).
  *
  * Everything is md5-derived and integer/IEEE-exact, so the DuckDB
  * oracle reproduces results bit-for-bit (graft.Oracles), and nothing
  * depends on partitioning: the same answer at local[32] and on 1000
  * executors.
  */
object SketchOps {

  /** KMV sketch size. The synthetic corpus vocabulary is tiny (~31
    * tokens), so k stays small; at real scale k=1024+ gives ~3% error
    * and the plan shape below is unchanged. */
  val KmvK = 16

  /** 2^60 — the hash60 value range (see F.hash60). */
  val HashRange: Double = 1152921504606846976.0

  /** s1: distinct-count estimation via the K-Minimum-Values sketch —
    * hash every token, keep the K smallest DISTINCT hash values, and
    * estimate |distinct| = (K−1) · range / kth_min.
    *
    * Scale shape: the distinct() is a hash aggregation with map-side
    * partial dedup (shuffle volume ≈ per-partition distinct hashes, not
    * rows); the K-smallest is a TakeOrderedAndProject (per-partition
    * top-K then a K·partitions driver merge — never a global sort). The
    * exact count is included for error inspection; a 100 TB user would
    * drop that column and with it nothing but the final count job. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .select(hash60(col("tok")).as("h"))
      .distinct()
    val kth = hashes.orderBy("h").limit(KmvK)
      .agg(max("h").as("kth_min"))
    kth.crossJoin(hashes.agg(count(lit(1)).as("n_exact")))
      .select(
        lit(KmvK).as("k"),
        col("kth_min"),
        (lit((KmvK - 1).toDouble) * lit(HashRange) / col("kth_min"))
          .as("est_distinct"),
        col("n_exact"))
  }

  /** Quantile points for s2. */
  val Quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75)

  /** s2: EXACT distributed quantiles per group via rank arithmetic
    * (percentile_disc semantics): within each key, rank rows by
    * (value, tiebreak) and keep the row whose rank is
    * floor((n−1)·q) + 1. One shuffle+sort per group key — the standard
    * exact-quantile-by-key plan; no driver collection, no approximation,
    * and (unlike approx_percentile) engine-independent, so the oracle
    * matches exactly. */
  def groupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val qs = Quantiles.map(q => struct(lit(q).as("q")))
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")))
      .withColumn("qv", explode(array(qs: _*)))
      .withColumn("q", col("qv.q"))
      .filter(col("rn") === floor((col("cnt") - 1) * col("q")).cast(LongType) + 1)
      .select(col("o_orderpriority"), col("q"), col("o_totalprice").as("quantile_value"))
      .orderBy("o_orderpriority", "q")
  }

  /** HLL register count (2^8). Small enough that the register table is
    * nothing, big enough for ~6.5% standard error; production would use
    * 2^14 with the identical plan. */
  val HllM = 256

  /** HLL bias constant α_m for m=256 — single literal shared with the
    * oracle SQL so both engines multiply the exact same double. */
  val HllAlpha: Double = 0.7213 / (1 + 1.079 / 256)

  /** s4: distinct-count estimation via a HYPERLOGLOG sketch, built from
    * engine-portable primitives: md5-derived 60-bit hash → low 8 bits
    * pick the register, the remaining 52 bits' leading-zero rank
    * (computed EXACTLY via length(bin(x)) — no float log2) updates it.
    * The register sum Σ2^-M runs as exact integer arithmetic scaled by
    * 2^53 (max 256·2^53 = 2^61, inside int64), so everything up to the
    * final estimate division is bit-deterministic and order-independent;
    * the small-range linear-counting correction applies on the same
    * branch condition in both engines.
    *
    * Scale shape vs s1 (KMV): ONE map-side-combining groupBy on an
    * 8-bit key — 256 registers of shuffle traffic per partition, no
    * distinct() pre-shuffle of the full value set, no TakeOrdered. This
    * is the sketch you run at 100 TB; KMV's kth-smallest needs the
    * distinct hash set first. Registers also merge associatively
    * (max per bucket), so per-day sketches roll up without rescanning. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllEstimateOf(spark, dir,
      hllRegistersOf(Tables.events(spark, dir).select(hash60(col("event_id")).as("h"))))

  /** The (bucket, rho) register relation of a hashed-id slice — the HLL
    * STATE. Registers merge associatively by per-bucket max, which is
    * what makes s9's per-day roll-up exact. */
  private def hllRegistersOf(hashed: DataFrame): DataFrame = {
    val m = HllM
    hashed
      .select((col("h") % m).as("bucket"), expr(s"h div $m").as("rest"))
      .groupBy("bucket")
      .agg(max(when(col("rest") === 0, lit(53))
        .otherwise(lit(53) - length(bin(col("rest"))))).as("rho"))
  }

  /** The HLL estimator over any register relation (densified to all m
    * buckets, integer-exact register sum, linear-counting branch) —
    * ONE definition, shared by s4 and the s9 merge so the estimate
    * arithmetic cannot fork. */
  private def hllEstimateOf(spark: SparkSession, dir: String, regs: DataFrame): DataFrame = {
    val m = HllM
    val full = spark.range(m.toLong).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .withColumn("rho", coalesce(col("rho"), lit(0)))
    val agg = full.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - rho AS INT))")).as("s"),
      sum(when(col("rho") === 0, 1).otherwise(0)).cast("long").as("v"))
    val raw = lit(HllAlpha) * m * m * lit(9007199254740992.0) / col("s")
    agg.crossJoin(
        Tables.events(spark, dir).agg(countDistinct(col("event_id")).as("n_exact")))
      .select(
        lit(m.toLong).as("m"), col("s"), col("v"),
        when(raw <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(raw).as("est_distinct"),
        col("n_exact"))
  }

  /** s9: HLL SKETCH ROLL-UP — the operational form every 100 TB
    * distinct-count deployment actually uses: per-DAY register sets
    * (built independently, e.g. by a daily job) max-merged into the
    * corpus sketch, then estimated. Register max-merge is associative
    * and idempotent, so the rolled-up estimate is BIT-IDENTICAL to
    * building one sketch over the whole corpus — the oracle is s4's
    * statement verbatim; no re-scan of history when a new day lands,
    * and re-merging a day changes nothing (at-least-once safe).
    *
    * Scale shape: per-day state is m=256 rows; merging D days is a
    * groupBy over D×256 rows. The fact scan happens once per day, ever. */
  def hllMergeDaily(spark: SparkSession, dir: String): DataFrame = {
    val m = HllM
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), hash60(col("event_id")).as("h"))
      .select(col("day"), (col("h") % m).as("bucket"), expr(s"h div $m").as("rest"))
      .groupBy("day", "bucket")
      .agg(max(when(col("rest") === 0, lit(53))
        .otherwise(lit(53) - length(bin(col("rest"))))).as("rho"))
    // the MERGE: associative per-bucket max across the day sketches
    hllEstimateOf(spark, dir, daily.groupBy("bucket").agg(max("rho").as("rho")))
  }

  /** Per-stratum sampling rates (permille) for s3 — keep every signup,
    * half the purchases, thin the high-volume click/view noise, drop
    * errors: the shape of a real training-mix rebalance. */
  val RatesPermille: Map[String, Int] =
    Map("signup" -> 1000, "purchase" -> 500, "click" -> 100, "view" -> 50, "error" -> 0)

  /** s3: DETERMINISTIC stratified Bernoulli sampling — keep a row iff
    * md5-hash(salt + event_id) mod 1000 < rate(event_type). No RNG, no
    * seed plumbing: the sample is a pure function of the row, so it is
    * reproducible across engines, partitionings and reruns (re-running
    * a 100 TB sample job yields the identical sample), and the
    * per-stratum rates are exact in expectation. A codegen'd narrow
    * filter — no shuffle at all. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = RatesPermille.foldLeft(lit(0)) { case (acc, (t, r)) =>
      when(col("event_type") === t, lit(r)).otherwise(acc)
    }
    Tables.events(spark, dir)
      .filter(hash60(concat(lit("sample_"), col("event_id").cast("string"))) % 1000 < rate)
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  }

  /** Count-Min geometry: depth × width cells. Width 4096 keeps the
    * expected collision mass (ε = e/w ≈ 0.07% of stream length) well
    * under the heavy-hitter counts at the test SFs; at 100 TB you widen
    * w, never restructure the plan. */
  val CmDepth = 4
  val CmWidth = 4096L

  /** s6: LOG-BIN HISTOGRAM QUANTILES — the approximate-quantile sketch
    * that complements s2's exact rank arithmetic the way s4 (HLL)
    * complements s1 (KMV): s2 pays a full shuffle+sort of every row per
    * key; this pays ONE map-combined groupBy collapsing each key to
    * ≤ 64 power-of-two bins (value → exact milli-units → bin =
    * length(bin(x)), s4's exact integer log2), then extracts p50/p95 as
    * the first bin whose cumulative count crosses the rank — integer
    * comparisons on a ≤ 64-rows-per-key relation, engine-exact, no
    * floats anywhere. The price is resolution (a power-of-two bracket,
    * reported as the exclusive upper bound); the win is that histograms
    * merge bin-wise, so per-day/per-source rollups and streaming
    * maintenance come free — the same argument as s4 vs s1.
    *
    * Scale shape: shuffle volume ≤ 64 bins × keys per task regardless
    * of input; everything after the first groupBy runs on a
    * keys × 64-row relation. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesFromBins(
      binnedValues(spark, dir)
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c")))

  /** The shared log-bin projection (s6/s11): positive values in
    * milli-units, bin = position of the highest set bit. */
  private def binnedValues(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(col("event_type"), to_date(col("ts")).as("date"),
        floor(col("value") * 1000).cast(LongType).as("mv"))
      .withColumn("bin", length(bin(col("mv"))).cast(LongType))

  /** s11: HISTOGRAM ROLL-UP — s9's no-history-rescan deployment story
    * for the quantile sketch: per-DAY bin counts are built
    * independently (what a daily job lands beside its partition) and
    * SUM-merged into the corpus histogram, which feeds the IDENTICAL
    * quantile derivation as s6 — bin counts are exact integers and sum
    * is associative, so the merged quantiles are bit-equal to the
    * one-shot build (oracle = s6's statement verbatim; spec pins
    * bin-level equality too). The merge contract is ADD-ONCE: counts
    * sum, so idempotence under replay rides on exactly-once landing
    * (p21's sink discipline) — deliberately DIFFERENT from s9's HLL
    * max-merge, which is idempotent by itself; the pair documents the
    * trade (exactness + add-once vs approximation + re-merge-safe). */
  def histMergeDaily(spark: SparkSession, dir: String): DataFrame =
    quantilesFromBins(
      binnedValues(spark, dir)
        .groupBy("event_type", "date", "bin").agg(count(lit(1)).as("c"))
        .groupBy("event_type", "bin").agg(sum("c").as("c")))

  /** The quantile derivation over an (event_type, bin, c) histogram —
    * THE single definition s6 (one-shot) and s11 (day-merged) share. */
  private def quantilesFromBins(b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = b
      .withColumn("cum_c", sum("c").over(
        Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    val q50 = cum.filter(col("cum_c") * 2 >= col("n"))
      .groupBy("event_type").agg(min("bin").as("p50_bin"))
    val q95 = cum.filter(col("cum_c") * 100 >= col("n") * 95)
      .groupBy("event_type").agg(min("bin").as("p95_bin"))
    cum.groupBy("event_type").agg(max("n").as("n"))
      .join(q50, "event_type").join(q95, "event_type")
      .select(col("event_type"), col("n"),
        col("p50_bin"), expr("shiftleft(CAST(1 AS BIGINT), CAST(p50_bin AS INT))").as("p50_hi_milli"),
        col("p95_bin"), expr("shiftleft(CAST(1 AS BIGINT), CAST(p95_bin AS INT))").as("p95_hi_milli"))
      .orderBy("event_type")
  }

  /** The depth rows' (d, cell) struct array for a key — md5 is computed
    * ONCE per row (`mh` must be the materialized md5 column) and each
    * depth takes its own DISJOINT 8-hex-char (32-bit) slice of the
    * digest as its hash. Disjoint md5 slices are independent bits, so
    * depths collide independently — deriving all depths from one shared
    * base hash via a·h + b would make any base-hash collision collide
    * at EVERY depth, voiding the 1−(1/e)^depth guarantee (a·h+b is
    * injective in h per depth). One md5 per row, zero extra hashing,
    * and the oracle mirrors the same slices. */
  private[graft] def cmCells(mh: org.apache.spark.sql.Column) = {
    require(CmDepth * 8 <= 32, "md5 has 32 hex chars — at most 4 disjoint 32-bit slices")
    val cells = (0 until CmDepth).map { d =>
      struct(lit(d).as("d"),
        (conv(substring(mh, 1 + 8 * d, 8), 16, 10).cast("long") % CmWidth).as("cell"))
    }
    explode(array(cells: _*)).as("dc")
  }

  /** s5: Count-Min frequency sketch over the lineitem partkey stream,
    * evaluated on the true top-10 heavy hitters (estimate ≥ truth,
    * within ε·N with probability 1 − (1/e)^depth — the mergeable
    * fixed-size structure that answers "how often did key X appear"
    * over a stream too large to count exactly per key).
    *
    * Scale shape: the sketch build is ONE map-combined groupBy on
    * (depth, cell) — at most depth×width = 16 384 cells of partial
    * state per task regardless of input size, and sketches from any
    * partitioning/day/source merge by cell-wise addition. Row cost is
    * one md5 + depth integer universal hashes (see cmCells). The exact
    * per-key top-10 alongside it is the EVALUATION reference (a second
    * groupBy + TakeOrderedAndProject); a production user queries the
    * sketch for candidate keys without it. The probe joins 40
    * candidate (depth, cell) rows against the 16 k-cell sketch —
    * broadcast territory at any scale. */
  def countMinTopk(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_partkey")
    def withMd5(df: DataFrame): DataFrame =
      df.withColumn("mh", md5(concat(lit("cm_"), col("l_partkey").cast(StringType))))
    val sketch = withMd5(li).select(cmCells(col("mh")))
      .select(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .groupBy("d", "cell").agg(count(lit(1)).as("cnt"))
    val truth = li.groupBy("l_partkey").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("l_partkey")).limit(10)
    withMd5(truth).select(col("l_partkey"), col("true_cnt"), cmCells(col("mh")))
      .select(col("l_partkey"), col("true_cnt"),
        col("dc.d").as("d"), col("dc.cell").as("cell"))
      .join(sketch, Seq("d", "cell"))
      .groupBy("l_partkey")
      .agg(max("true_cnt").as("true_cnt"), min("cnt").as("est_cnt"))
      .orderBy(col("true_cnt").desc, col("l_partkey"))
  }

  /** Bloom filter geometry: 2^16 bits (1024 longs = 8 KB) × 4 hashes.
    * For n inserted keys the false-positive rate is
    * (1 − e^(−4n/65536))^4 — ≈ 8·10⁻⁴ at n = 3 000; for bigger key
    * sets a production caller scales `BloomBits` (the 8 KB is
    * per-QUERY constant, not per-row).
    *
    * Sizing rule (k = 4 hashes; fp ≈ (1 − e^(−k·n/m))^k):
    * {{{
    *   n keys     m for fp ≈ 1e-3    bitset size
    *   3 000      2^16               8 KB      (this default)
    *   1 000 000  2^25               4 MB
    *   100 M      2^31..2^32         256-512 MB — use Spark's
    *              spark.sql.optimizer.runtime.bloomFilter / a
    *              broadcast variable instead of a literal
    * }}}
    * The build ships the bitset into the plan as an array LITERAL,
    * which is only sane while it stays kilobytes — `bloomPredicate`
    * enforces the ceiling below. */
  val BloomBits = 1 << 16
  val BloomHashes = 4

  /** Hard ceiling for the literal-embedding strategy (2^20 bits =
    * 128 KB). Beyond this the bitset must travel as a broadcast
    * variable or through Spark's native runtime filter, not inside the
    * expression tree — a multi-MB literal bloats every serialized task
    * and can break codegen's constant-pool limits. */
  val MaxLiteralBloomBits = 1 << 20
  private val Pow2: Array[Long] = Array.tabulate(64)(i => 1L << i)

  /** Build an 8 KB Bloom bitset over `keys` (one key column) and return
    * the might-contain predicate for `probe`.
    *
    * Build shape: each key maps to `BloomHashes` bit positions
    * (independent xxhash64 seeds via a literal salt arg); positions
    * group to ≤ 1024 (word → bit_or mask) rows — a map-combined
    * aggregate whose state is bounded by the bitset size, never the key
    * count — then the 8 KB collects to the driver and re-enters the
    * plan as an array LITERAL. That driver hop is size-constant and is
    * exactly how engine-native runtime filters ship bloom state; at
    * 100 TB the 8 KB literal broadcasts with the task binaries.
    *
    * Probe shape: pure row-local integer ops (2 xxhash64 + shift + mask
    * per hash, the dynamic 1<<k done via a 64-entry literal lookup to
    * stay inside codegen) — no false negatives by construction, so
    * `fact.filter(pred).join(dim)` is exactly `fact.join(dim)` with the
    * shuffle fed only might-match rows. */
  def bloomPredicate(keys: DataFrame, keyCol: String, probe: Column): Column = {
    require(BloomBits <= MaxLiteralBloomBits,
      s"BloomBits=$BloomBits exceeds the literal-embedding ceiling " +
        s"($MaxLiteralBloomBits bits = 128 KB): ship the bitset as a " +
        "broadcast variable or use spark.sql.optimizer.runtime.bloomFilter")
    val bits = (0 until BloomHashes).map(i =>
      pmod(xxhash64(col(keyCol), lit(i)), lit(BloomBits.toLong)))
    val words = keys
      .select(explode(array(bits: _*)).as("bit"))
      .select(shiftright(col("bit"), 6).cast("int").as("w"),
        element_at(lit(Pow2), col("bit").bitwiseAND(lit(63L)).cast("int") + 1).as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("mask"))
      .collect()
    val arr = new Array[Long](BloomBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    val bloom = lit(arr)
    (0 until BloomHashes).map { i =>
      val bit = pmod(xxhash64(probe, lit(i)), lit(BloomBits.toLong))
      (element_at(bloom, shiftright(bit, 6).cast("int") + 1)
        .bitwiseAND(element_at(lit(Pow2), bit.bitwiseAND(lit(63L)).cast("int") + 1))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** s7: BLOOM-FILTER SEMI-JOIN REDUCTION — revenue of lineitems
    * belonging to urgent orders, with the fact side pruned by an 8 KB
    * Bloom filter over the urgent orderkeys BEFORE the join shuffle.
    * This is the manual form of runtime filtering (Spark's own
    * spark.sql.optimizer.runtime.bloomFilter does the same rewrite when
    * its size thresholds fire): when the dim is too big to broadcast
    * but its KEY SET sketches into kilobytes, shipping the sketch
    * instead turns a full-fact shuffle into a might-match shuffle —
    * here ~4/5 of lineitem never leaves the map side (1 − urgent
    * fraction − ~8·10⁻⁴ false positives). The join after the filter
    * removes false positives, so the result is EXACTLY the plain join
    * the oracle runs. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val pred = bloomPredicate(urgent, "o_orderkey", col("l_orderkey"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .filter(pred)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** s8 sample size (documents drawn without replacement). */
  val WsK = 50

  /** s8: WEIGHTED SAMPLING WITHOUT REPLACEMENT, integer-exact — draw
    * WsK documents with probability proportional to token count (the
    * "sample training docs by mass, not count" stage; by-count sampling
    * over-represents short boilerplate). The classic A-ES scheme ranks
    * by u^(1/w) — transcendental, so the last-ulp of `ln`/`pow` can
    * differ between engines and flip a top-K boundary (the round-3
    * cross-engine lesson). This formulation is the DISCRETE equivalent:
    * each doc draws one md5 hash per token and ranks by its MINIMUM —
    * P(min of a hashes < min of b hashes) = a/(a+b), exactly
    * proportional — so ranking is pure int64 compares and the oracle
    * agrees bit-for-bit.
    *
    * Scale shape: the per-token explode is ∝ corpus token count (the
    * same row class as tokenize t9); the per-doc min is ONE map-combined
    * groupBy; the K-smallest is TakeOrderedAndProject (never a global
    * sort). At 100 TB the explode can be replaced by a per-doc loop in
    * a native expression without changing any downstream semantics. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1)).as("j"))
      .select(col("doc_id"), col("n_tok"),
        hash60(concat(lit("ws_"), col("doc_id").cast("string"),
          lit("_"), col("j").cast("string"))).as("h"))
      .groupBy("doc_id", "n_tok")
      .agg(min("h").as("min_h"))
      .orderBy(col("min_h"), col("doc_id"))
      .limit(WsK)

  /** s10 sketch size — one definition, in [[graft.functions.KmvAgg]]
    * (256: power of two ⇒ exact binary divisions, bit-identical in
    * both engines). Against ~1.3k distinct shingles per fixture source
    * it gives ~6% standard error (1/√(k−1)); a 100 TB curation run
    * raises it to 4-16k and the plan shape is unchanged. */
  val SetOpsK: Int = graft.functions.KmvAgg.K

  /** The distinct (source, shingle-hash) relation — s10's substrate,
    * shared with d2/d3's n-gram universe (same shingles, same hash60),
    * persisted once per session+dir. */
  private[graft] def sourceHashes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "s10_srchash", dir) {
      DedupOps.docNgrams(spark, dir)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("ngram").as("h")) // ngram IS hash60(gram)
        .distinct()
    }

  /** The per-source bottom-k sketch relation (source, h): ONE
    * map-combined `graft_kmv_agg` (bounded K-slot buffer — no
    * per-source sort of the full hash set). */
  private[graft] def sourceSketch(spark: SparkSession, dir: String): DataFrame =
    sourceHashes(spark, dir).groupBy("source")
      .agg(call_function("graft_kmv_agg", col("h")).as("hs"))
      .select(col("source"), explode(col("hs")).as("h"))

  /** s10: SOURCE-OVERLAP ESTIMATION from KMV sketches — the
    * dataset-curation question "how much do my corpus sources share?"
    * answered WITHOUT a cross-source join of the corpora: each source
    * keeps only its k minimum distinct shingle-hash values (s1's KMV,
    * per source), and every pairwise estimate derives from merged
    * sketches alone. For a pair (A, B): the union sketch is the k
    * smallest of sketch_A ∪ sketch_B, θ its kth value — so
    * est|A∪B| = (k−1)·2⁶⁰/θ (s1's estimator on the merged sketch) —
    * and because θ_union ≤ min(θ_A, θ_B), membership of a union-sketch
    * element in A is EXACTLY answered by sketch_A (the classic KMV
    * closure property): overlap_k = |{h ∈ U : h ∈ both sketches}|
    * estimates Jaccard as overlap_k/k, and est|A∩B| = Ĵ·est|A∪B|.
    * Exact n_inter/n_union columns ride along for error inspection,
    * s1's discipline — a 100 TB user drops them and with them the only
    * cross-source join in the plan.
    *
    * Scale shape: the sketch build is one distinct + one per-source
    * bottom-k — `graft_kmv_agg`, a bounded K-slot imperative aggregate
    * (O(log K) per row, map-side partial merge — the MinHashAgg
    * pattern). Everything pairwise runs on |sources|²·k sketch rows —
    * kilobytes — never on the corpora:
    * S sources cost S·k rows however many petabytes they hold. All
    * arithmetic is int64 hashes + IEEE doubles with power-of-two
    * divisors, so the oracle matches bit-for-bit. */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = sourceHashes(spark, dir)
    val sk = sourceSketch(spark, dir)
    val srcs = full.select("source").distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    // union-sketch membership per pair: tag each sketch row with which
    // side(s) hold it, keep the pair's k smallest
    val entA = pairs.join(sk.withColumnRenamed("source", "src_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("h"), lit(1L).as("ia"), lit(0L).as("ib"))
    val entB = pairs.join(sk.withColumnRenamed("source", "src_b"), "src_b")
      .select(col("src_a"), col("src_b"), col("h"), lit(0L).as("ia"), lit(1L).as("ib"))
    val merged = entA.unionByName(entB)
      .groupBy("src_a", "src_b", "h")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy("h")))
      .filter(col("rnk") <= SetOpsK)
    val est = merged.groupBy("src_a", "src_b").agg(
      max("h").as("theta"),
      count(lit(1)).as("kk"),
      sum(when(col("ia") === 1L && col("ib") === 1L, 1L).otherwise(0L)).as("overlap_k"))
    // exact error-inspection columns (verification-SF only at scale)
    val sizes = full.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = full.select(col("source").as("src_a"), col("h"))
      .join(full.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(sizes.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("overlap_k"),
        when(col("kk") < SetOpsK, col("kk").cast(DoubleType))
          .otherwise(lit((SetOpsK - 1).toDouble) * lit(HashRange) / col("theta"))
          .as("est_union"),
        (col("overlap_k").cast(DoubleType) / col("kk")).as("est_jaccard"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
      .orderBy("src_a", "src_b")
  }
}
