package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.F._

/** Embedding clustering — the diversity/curation stage of a training-data
  * pipeline (cluster-balanced sampling, near-duplicate cluster pruning,
  * topic bucketing all start from a k-means pass over the corpus
  * embeddings).
  *
  * Determinism discipline (same as g1): every coordinate is exact int64
  * (milli-unit quantized embeddings), distances are exact integer sums,
  * centroid updates are floor(sum/count) — one IEEE division of exact
  * integers, identical in every engine — and argmin ties break on the
  * lowest cluster id. The DuckDB oracle replays both Lloyd rounds
  * bit-for-bit; results are partition-count-invariant by construction.
  */
object ClusterOps {

  /** Cluster count. Kept deliberately small: centroids are a k×d table
    * that must broadcast (k·d·8 bytes — 4 KB here, 2 MB at k=4096,
    * d=64); beyond broadcast size you shard the assignment join on a
    * centroid-block key instead. */
  val K = 8

  /** Lloyd rounds. Two is enough to demonstrate the iterate-refine loop
    * (seed → assign → update → assign); production k-means iterates to
    * movement-below-epsilon with the identical per-round plan. */
  val Rounds = 2

  /** e7: distributed k-means over the quantized embeddings.
    *
    * Plan per round: UNNESTED coordinates (vec_id, dim, value) join the
    * broadcast k×d centroid table on `dim` — a map-side k-fan-out, no
    * shuffle — then one partial-agg groupBy(vec_id, cid) computes exact
    * integer distances; the argmin window runs on the (vec_id)-hash
    * partitioning. Centroid update is one groupBy(cid, dim) over the
    * assigned coordinates (k·d output rows), localCheckpoint'd so the
    * next round's plan doesn't re-derive the previous round (the d5/g1
    * iteration lesson). At 100 TB: corpus-side work is 2 shuffles per
    * round (distance agg + update agg), broadcast traffic is k·d·8
    * bytes per round — nothing SF-proportional ever sits on one node. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist").as("dist_sq"))
      .orderBy("vec_id")

  /** The UNSORTED fixed-2-round assignment (vec_id, cid, dist) — e7's
    * substrate, memoized per (session, dir) like the dedup signatures
    * so the Lloyd rounds run once, not once per consumer (the d3/d5
    * lesson). Downstream consumers (d12, x2) read the CONVERGED
    * [[kmeansStableAssign]] instead — e7 keeps the fixed-round form
    * because its contract is "exactly `Rounds` rounds". */
  private[graft] def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "e7_assign", dir)(kmeansFixedAssign(spark, dir, Rounds))

  /** Exactly `rounds` Lloyd rounds — e7's body (rounds = Rounds), and
    * the replay harness the e16 spec uses to prove the early stop is
    * invisible (converged assignment ≡ the fixed-MaxRounds replay). */
  private[graft] def kmeansFixedAssign(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val u = unpivoted(spark, dir)
    var centroids = seedCentroids(spark, dir, u)
    var assigned = assignTo(u, centroids)
    for (_ <- 2 to rounds) {
      centroids = updateFrom(u, assigned).materialized()
      assigned = assignTo(u, centroids)
    }
    assigned
  }

  /** The UNNESTED coordinate relation (vec_id, dim, value) every Lloyd
    * stage joins — shared by the fixed-round e7 and the
    * converge-or-cap e16 so the two variants cannot drift in geometry
    * derivation. */
  private def unpivoted(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(quantize(col("embedding"))))
      .toDF("vec_id", "d", "v")

  /** Seeds: the K smallest vec_ids on a fixed stride — deterministic,
    * engine-reproducible, and spread across the id space. */
  private def seedCentroids(spark: SparkSession, dir: String, u: DataFrame): DataFrame = {
    val seeds = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0)
      .select("vec_id").orderBy("vec_id").limit(K)
      .withColumn("cid", (row_number().over(Window.orderBy("vec_id")) - 1).cast("long"))
    seeds.join(u, "vec_id").select(col("cid"), col("d"), col("v").as("cv"))
  }

  /** One assignment pass: exact integer argmin distance per vector,
    * ties toward the lower cluster id. */
  private def assignTo(u: DataFrame, centroids: DataFrame): DataFrame = {
    val byVec = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    u.join(broadcast(centroids), "d")
      .groupBy("vec_id", "cid")
      .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("dist"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select("vec_id", "cid", "dist")
  }

  /** One centroid update: floor over one exact-int IEEE division — NOT
    * integer `div`, whose negative-operand semantics differ between
    * engines. */
  private def updateFrom(u: DataFrame, assigned: DataFrame): DataFrame =
    assigned.select("vec_id", "cid").join(u, "vec_id")
      .groupBy("cid", "d")
      .agg(floor(sum("v").cast("double") / count(lit(1))).cast("long").as("cv"))

  /** Round cap for the convergence-aware variant (e16). Measured
    * fixpoints for this seed/quantization (identical in DuckDB and
    * Spark — the exact-integer discipline): a_13=a_12 at sf0.001,
    * a_19=a_18 at sf0.01, a_29=a_28 at sf0.1 — so 32 leaves headroom
    * at every tested SF while the stopping rule (fixpoint OR period-2
    * cycle, see [[kmeansStable]]) keeps the loop from ever paying the
    * cap; the cap is the unconditional bound that makes the job
    * provably terminating even on a geometry with a longer orbit. */
  val MaxRounds = 32

  /** e16: CONVERGENCE-AWARE k-means — production Lloyd: iterate the
    * identical exact-integer round (assignTo/updateFrom — the same
    * single definitions e7 runs) until the ASSIGNMENT stops producing
    * new states, detected as either
    *   - a FIXPOINT  (a_r == a_{r-1}: the centroid update of an
    *     unchanged assignment is unchanged, so every later round is the
    *     identity), or
    *   - a PERIOD-2 CYCLE (a_r == a_{r-2}: integer-floor centroids can
    *     oscillate between two assignments forever — real Lloyd over
    *     quantized coordinates does this; iterating further can only
    *     replay the orbit, so we stop and deterministically report a_r,
    *     the later phase of the cycle, at the detection round),
    * or MaxRounds caps it. Each probe is a bounded existence check
    * (first changed row) on localCheckpoint'd per-round assignments, so
    * plan lineage stays one round deep — the d5/g1 iteration
    * discipline.
    *
    * Oracle strategy: the DuckDB oracle replays a FIXED MaxRounds
    * rounds, independently derives stable_round as
    * min{r : a_r = a_{r-1} or a_r = a_{r-2}} (else MaxRounds), and
    * outputs the assignment AT that round — verifying the stopping
    * rule itself (which round fires and which phase is reported), not
    * just the geometry.
    *
    * Scale shape: identical per-round plan to e7 (2 shuffles per round,
    * k·d·8-byte broadcast); the stop typically lands in single-digit
    * rounds, and each stability probe adds one bounded vec_id-keyed
    * join per round — nothing SF-proportional beyond the rounds
    * themselves. */
  def kmeansStable(spark: SparkSession, dir: String): DataFrame =
    kmeansStableAssign(spark, dir)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist").as("dist_sq"),
        col("stable_round"))
      .orderBy("vec_id")

  /** The memoized converge-or-cap assignment with its realized
    * stable_round column. */
  private[graft] def kmeansStableAssign(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "e16_assign", dir)(kmeansStableCompute(spark, dir))

  /** The un-memoized converge-or-cap loop — split out so the
    * determinism spec can rerun the REAL pipeline instead of reading
    * the memo back. */
  private[graft] def kmeansStableCompute(spark: SparkSession, dir: String): DataFrame = {
    def sameAssignment(a: DataFrame, b: DataFrame): Boolean =
      a.join(b.select(col("vec_id"), col("cid").as("_pcid")), "vec_id")
        .filter(col("cid") =!= col("_pcid")).isEmpty
    val u = unpivoted(spark, dir)
    var centroids = seedCentroids(spark, dir, u)
    var prev: DataFrame = null // a_{r-2}, for the period-2 probe
    var assigned = assignTo(u, centroids).materialized()
    var round = 1
    var stoppedAt = 0
    while (stoppedAt == 0 && round < MaxRounds) {
      centroids = updateFrom(u, assigned).materialized()
      val next = assignTo(u, centroids).materialized()
      round += 1
      val fixpoint = sameAssignment(next, assigned)
      val cycle = !fixpoint && prev != null && sameAssignment(next, prev)
      if (fixpoint || cycle) stoppedAt = round
      prev = assigned
      assigned = next
    }
    assigned.withColumn("stable_round",
      lit(if (stoppedAt > 0) stoppedAt else MaxRounds).cast("long"))
  }

  /** d12's target vectors-per-cluster: the adaptive k is sized so
    * per-cell pair volume stays ~flat as the corpus grows (k ∝ n ⇒
    * Σ n_c² ≈ n·TargetCellSize — linear, where the fixed demo K made
    * it (n/K)²·K, the 16×-on-10×-data quadratic the sf1 point
    * measured). */
  val TargetCellSize = 250

  /** Training-sample FLOOR for the adaptive run: Lloyd iterates over a
    * deterministic md5-rank sample of [[trainSampleSize]] vectors (the
    * s3/panel discipline), then assigns the full corpus ONCE against
    * the converged centroids. Without sampling, k ∝ n makes the
    * per-round assignment itself n·k·d ∝ n² — sampling is how
    * production SemDeDup (and FAISS's IVF training) keeps the train
    * step bounded: rounds cost sample·k·d, and the corpus pays ONE
    * n·k·d pass. At 256 < 500 = |embeddings(sf0.01)| the sampled
    * branch is exercised by the correctness gate itself. */
  val TrainSampleCap = 256

  /** Training points per centroid: the sample GROWS with k
    * (sample = max(TrainSampleCap, PointsPerCentroid·k)) so seeds are
    * never silently clamped to the sample size — with a FIXED 256-row
    * sample, effective k = min(k, 256) and the advertised k ∝ n
    * scaling would quietly revert to quadratic pair volume beyond
    * n ≈ 64k (the round-13 advice finding). 4·k is FAISS's published
    * minimum training-set sizing for IVF (it warns below
    * 39 points/centroid; 4 is the hard floor — cited here because the
    * trade is the same: more points refine centroids, fewer bound
    * train cost). */
  val PointsPerCentroid = 4

  /** √n-sizing multiplier for the large-corpus regime of
    * [[adaptiveK]]. */
  val SqrtKFactor = 4

  /** d12's cluster count, from a 1-row corpus count:
    * k = max(K, min(⌈n/TargetCellSize⌉, ⌈SqrtKFactor·√n⌉)) — linear
    * growth (bounded ~250-vector cells ⇒ linear pair volume) up to the
    * crossover n ≈ 10⁶, then the FAISS √n coarse sizing: beyond that,
    * k ∝ n would make the sample-trained Lloyd rounds (cost
    * sample·k·d = 4k²·d) themselves quadratic, while k = 4√n keeps
    * training LINEAR in n and pair volume at n²/k = n^1.5/4 — the
    * standard IVF regime (a deployment needing flat pair volume at
    * n > 10⁶ shards the corpus first). Both branches and the max/min
    * are re-derived by the oracle in SQL (sqrt is correctly rounded
    * IEEE in both engines and ×4 is exact, so the ceil agrees
    * bit-for-bit), so a Spark-side retune cannot silently diverge. */
  def adaptiveK(n: Long): Int =
    math.max(K.toDouble, math.min(
      math.ceil(n.toDouble / TargetCellSize),
      math.ceil(SqrtKFactor * math.sqrt(n.toDouble)))).toInt

  /** The adaptive run's training-sample size — grows with k so the
    * seed count is never clamped by the sample (see
    * [[PointsPerCentroid]]). */
  def trainSampleSize(k: Int): Int =
    math.max(TrainSampleCap, PointsPerCentroid * k)

  /** Exact-integer argmin assignment as a PER-PARTITION KERNEL — the
    * adaptive path's replacement for [[assignTo]]'s unnested join. The
    * declarative form fans every coordinate row k× (n·d·k rows through
    * a hash aggregate), which is fine at the fixed e7/e16 k=8 (linear,
    * Catalyst-visible) but under [[adaptiveK]]'s √n branch becomes
    * n^1.5·d ROWS — ~2.6e11 at n=10⁶, the row-explosion quadratic in
    * disguise this kernel exists to remove. Here each vector row does
    * the k·d work INSIDE one JIT'd loop over a broadcast k×d centroid
    * matrix (k·d·8 bytes — 2.3 MB at n=10⁶'s k=4√n; beyond broadcast
    * size you shard on a centroid-block key, the [[K]] note), with
    * per-dimension EARLY ABANDONMENT against the running best (sums
    * are monotone non-negative, so a partial sum ≥ best can never win
    * — pure pruning, zero result change). Math is bit-identical to
    * [[assignTo]]: exact int64 Σ(v−cv)², argmin ties to the LOWER cid
    * (ascending-cid scan + strict improvement). mapPartitions is the
    * charter's genuine-imperative case: a BLAS-style n·k·d kernel no
    * relational shape expresses without materializing n·k rows. */
  private def assignKernel(spark: SparkSession, vecs: DataFrame, cent: DataFrame): DataFrame = {
    import spark.implicits._
    val centLocal = cent.select("cid", "d", "cv").collect()
    val dims = centLocal.iterator.map(_.getInt(1)).max + 1
    val mat: Array[(Long, Array[Long])] = centLocal
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map { case (cid, rs) =>
        val v = new Array[Long](dims)
        rs.foreach(r => v(r.getInt(1)) = r.getLong(2))
        (cid, v)
      }
    val bc = spark.sparkContext.broadcast(mat)
    // Parallelism guard: the kernel is COMPUTE-bound (k·d work per row),
    // but mapPartitions inherits the INPUT's partitioning — and a
    // heavily-compressed or single-row-group parquet scan can hand a
    // million-vector corpus to 1-2 tasks (the round-13 p8 scan-starve
    // find, recurring at the compute layer: bytes are a proxy for scan
    // cost, not kernel cost). If the input arrives under-split, pay one
    // round-robin shuffle of the packed vectors to fan the kernel out;
    // at real scale the scan already has >= cores partitions and this
    // is a no-op.
    val cores = spark.sparkContext.defaultParallelism
    val pVecs = vecs.select(col("vec_id"), col("q"))
    val spread =
      if (pVecs.rdd.getNumPartitions < cores) pVecs.repartition(cores) else pVecs
    spread.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, q) =>
          var bestC = -1L
          var bestD = Long.MaxValue
          var i = 0
          while (i < cents.length) {
            val cv = cents(i)._2
            val n = q.length
            var s = 0L
            var d = 0
            while (d < n && s < bestD) {
              val diff = q(d) - cv(d); s += diff * diff; d += 1
            }
            if (d == n && s < bestD) { bestD = s; bestC = cents(i)._1 }
            i += 1
          }
          (id, bestC, bestD)
        }
      }.toDF("vec_id", "cid", "dist")
  }

  /** The d12 substrate: converge-or-cap Lloyd (the e16 stopping rule —
    * fixpoint or period-2 cycle, MaxRounds cap) trained on the
    * [[trainSampleSize]] md5-rank sample at the [[adaptiveK]] cluster
    * count, then ONE full-corpus assignment against the centroids that
    * produced the reported sample assignment. Memoized per
    * (session, dir) like the other signatures. Returns
    * (vec_id, cid, dist) over the FULL corpus. */
  private[graft] def adaptiveStableAssign(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "d12_assign", dir)(adaptiveStableCompute(spark, dir))

  /** The un-memoized sample-trained converge-or-cap loop (see
    * [[adaptiveStableAssign]]) — split out so specs can rerun the real
    * pipeline. Plan per round: identical assignTo/updateFrom to
    * e7/e16, but over the SAMPLE's coordinates only; every per-round
    * relation is localCheckpoint'd (one-round lineage, the d5/g1
    * discipline). The full corpus is touched exactly twice: the
    * 1-row count that sizes k, and the single final assignment. */
  private[graft] def adaptiveStableCompute(spark: SparkSession, dir: String): DataFrame = {
    def sameAssignment(a: DataFrame, b: DataFrame): Boolean =
      a.join(b.select(col("vec_id"), col("cid").as("_pcid")), "vec_id")
        .filter(col("cid") =!= col("_pcid")).isEmpty
    val emb = Tables.embeddings(spark, dir)
    val k = adaptiveK(emb.count())
    val u = unpivoted(spark, dir)
    // fixed-size deterministic training sample (the panel rule under a
    // d12 salt); orderBy.limit plans as TakeOrderedAndProject
    val samp = emb.select("vec_id")
      .withColumn("_h", hash60(concat(lit("d12s_"), col("vec_id").cast("string"))))
      .orderBy(col("_h"), col("vec_id")).limit(trainSampleSize(k))
      .select("vec_id")
    val us = u.join(broadcast(samp), "vec_id").materialized()
    // seeds: the k sample members with the smallest seed-salt rank —
    // NOT the stride rule (a 256-row sample has too few stride
    // survivors to seed an adaptive k)
    val seeds = samp
      .withColumn("_h", hash60(concat(lit("d12seed_"), col("vec_id").cast("string"))))
      .orderBy(col("_h"), col("vec_id")).limit(k)
      .withColumn("cid", (row_number().over(
        Window.orderBy(col("_h"), col("vec_id"))) - 1).cast("long"))
      .select("vec_id", "cid")
    var cent = seeds.join(us, "vec_id")
      .select(col("cid"), col("d"), col("v").as("cv")).materialized()
    // packed (vec_id, q) sides for the kernel: the memoized e-family
    // corpus projection, and its sample restriction — the adaptive
    // path's assignments run through assignKernel (see its Scaladoc:
    // the unnested join's n·d·k row volume is n^1.5·d under the √n
    // branch), while updateFrom keeps the declarative sample·d
    // aggregate (linear, k-independent)
    val pk = graft.operators.AnnOps.quantized(spark, dir).select("vec_id", "q")
    val sq = pk.join(broadcast(samp), "vec_id").materialized()
    var prev: DataFrame = null
    var assigned = assignKernel(spark, sq, cent).materialized()
    var round = 1
    var stoppedAt = 0
    while (stoppedAt == 0 && round < MaxRounds) {
      val nextCent = updateFrom(us, assigned).materialized()
      val next = assignKernel(spark, sq, nextCent).materialized()
      round += 1
      val fixpoint = sameAssignment(next, assigned)
      val cycle = !fixpoint && prev != null && sameAssignment(next, prev)
      if (fixpoint || cycle) stoppedAt = round
      cent = nextCent
      prev = assigned
      assigned = next
    }
    // ONE full-corpus pass: assign every vector to the centroids that
    // produced the reported (converged) sample assignment
    assignKernel(spark, pk, cent)
  }

  /** Per-cluster sample size for x2. */
  val SampleN = 20

  /** x2: CLUSTER-BALANCED SAMPLING — the diversity-sampling stage a
    * training mix actually runs on the CONVERGED (e16) clusters: from every cluster,
    * keep the SampleN members with the smallest deterministic md5 rank
    * (a reproducible "random" per-cluster sample — same discipline as
    * s3: the sample is a pure function of the row, identical on rerun,
    * any partitioning, any engine).
    *
    * Scale shape: the per-cluster top-N runs through the custom
    * TopKPerKey physical operator — bounded per-key heaps after one
    * hash shuffle, no per-cluster sort of the full corpus. The rank
    * column is recomputed on the ≤ K·SampleN survivors — trivial by
    * construction. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val withH = kmeansStableAssign(spark, dir)
      .select(col("vec_id"), col("cid").as("cluster"))
      .withColumn("h", hash60(concat(lit("bal_"), col("vec_id").cast("string"))))
    graft.plans.TopKPerKey(withH, Seq("cluster"), Seq(("h", true), ("vec_id", true)), SampleN)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("h"), col("vec_id"))).cast("long"))
      .select(col("cluster"), col("rnk"), col("vec_id"))
      .orderBy("cluster", "rnk")
  }
}
