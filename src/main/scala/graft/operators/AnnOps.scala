package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.F._

/** Approximate-nearest-neighbor / embedding-similarity operators over the
  * `embeddings` table (vec_id, embedding: array<float>, label).
  *
  * Embeddings are quantized to exact int64 milli-units (F.quantize) so
  * every dot product, norm and cosine is exact integer arithmetic plus a
  * single IEEE division — deterministic across partitionings, engines
  * and cluster sizes.
  *
  * Scale design: the brute-force path (e1) is the correctness baseline
  * and is only ever run for a bounded query set; the LSH paths (e2/e3)
  * bucket the corpus by random-hyperplane sign codes so candidate
  * generation is an equality join on the code, never a cross join.
  *
  * The hyperplane coefficients are md5-derived integers
  * (hash60("hp_p_d") % 2001 − 1000). md5 is the same function on the
  * driver as in any engine, so the coefficients are PRECOMPUTED here and
  * embedded as array literals: each vector's bucket/band codes are a
  * single map-side projection over the scan — zero shuffles, zero joins
  * for signature construction (vs. the posexplode+join formulation that
  * exploded 64 dims × planes rows per vector through two shuffles).
  */
object AnnOps {

  /** Query subset: every 25th vector — bounded, deterministic. */
  val QueryStride = 25

  /** Hard size cap on the EVALUATION panels (e1/e8/e17/e21/g5, and
    * m4's blob panel): the stride rule alone keeps |panel| ∝ corpus,
    * which made every brute-force evaluation leg quadratic-in-corpus
    * (the 10× scale point measured m4 at 116× on 10× data). Above the
    * cap the panel is the PanelCap stride-queries with the smallest
    * (hash60('panel_' || id), id) — the s3 deterministic-sample
    * discipline: a pure per-row function, identical on any engine, any
    * partitioning, any rerun. At 16 < 20 = sf0.01-stride-count the
    * capped branch is exercised by the correctness gate itself, not
    * just at the big SFs. SERVING panels (e2/e4/e5/e6/e19/…) stay on
    * the bare stride: their per-query work is probe-bounded, so panel
    * growth models query volume, not a quadratic. */
  val PanelCap = 16

  /** The bounded evaluation panel over any relation: stride-select on
    * the id, then keep the PanelCap smallest (hash60('panel_'||id), id).
    * `orderBy.limit` plans as TakeOrderedAndProject — per-partition
    * top-M with a driver merge of M·partitions rows, never a global
    * sort — so panel selection itself is scale-safe. */
  private[operators] def panelOf(rel: DataFrame, idCol: String,
      stride: Int): DataFrame =
    rel.filter(col(idCol) % stride === 0)
      .withColumn("_ph", hash60(concat(lit("panel_"), col(idCol).cast("string"))))
      .orderBy(col("_ph"), col(idCol)).limit(PanelCap)
      .drop("_ph")

  /** e2/e4's single-bucket code width rides the SAME corpus-count
    * sizing as e3's bands ([[bandPlanes]]): a fixed width (the old 12)
    * makes expected bucket size ∝ n/2^12 — benign until n ≈ 16k, then
    * the same quadratic-in-disguise as every other fixed coarse
    * geometry. With p = bandPlanes(n), buckets hold ~BandBucketTarget
    * unrelated vectors at any SF and the candidate join stays linear. */

  /** e3 banded multi-probe: Bands codes of [[bandPlanes]] hyperplanes
    * each; a pair is a candidate if ANY band code matches. Collision
    * probability for a pair at angle θ is 1−(1−(1−θ/π)^p)^4 — at the
    * p=6 floor ≈17% for cosine 0.3 vs ≈0.2% for the single 12-plane
    * bucket; true near-dups (θ≈0) collide at ~1 for ANY p, which is
    * what keeps the output non-empty as p grows with the corpus. */
  val Bands = 4

  /** Floor on planes per band (the verification-SF collision-rate
    * setting) — [[bandPlanes]] grows the count with the corpus. */
  val PlanesPerBand = 6

  /** Expected non-near-dup band-bucket occupancy target: [[bandPlanes]]
    * sizes each band's code space at ≥ n/BandBucketTarget codes. */
  val BandBucketTarget = 4

  /** e3's planes per band = the smallest p ≥ PlanesPerBand with
    * 2^p·BandBucketTarget ≥ n. A FIXED p made candidate volume
    * Σ bucket² ≈ n²/2^p per band — the quadratic the round-13 sf1
    * point measured at 14× on 10× data; growing the code space with
    * the corpus bounds expected bucket size, so candidates are
    * ~n·BandBucketTarget per band plus the true near-dup clusters
    * (irreducible — they are the output). The oracle re-derives the
    * identical p from COUNT(*) in SQL. p=7 > the 6-floor at the
    * gate SF (n=500), so the adaptive derivation is exercised by the
    * correctness gate itself. */
  def bandPlanes(n: Long): Int = {
    var p = PlanesPerBand
    while (p < 24 && (1L << p) * BandBucketTarget < n) p += 1
    p
  }

  /** Embedding dimensionality (driver testdata; coefficients are derived
    * per (plane, dim) so any other width only changes this constant). */
  val Dims = 64

  /** Integer coefficients of hyperplane p: w(p,d) = hash60("hp_p_d") %
    * 2001 − 1000, matching the oracle's regeneration in SQL. */
  private def planeW(p: Int): Seq[Long] =
    (0 until Dims).map(d => hash60Driver(s"hp_${p}_${d}") % 2001L - 1000L)

  /** Sign bit of q·w(p) — an exact integer dot against a literal
    * coefficient array, evaluated map-side. */
  private def planeBit(q: Column, p: Int): Column =
    when(dotLong(q, typedlit(planeW(p))) > 0, lit(1L)).otherwise(lit(0L))

  /** Packed LSH code over planes [p0, p0+n): bit i = sign of plane p0+i. */
  private def packedCode(q: Column, p0: Int, n: Int): Column =
    (0 until n).map(i => planeBit(q, p0 + i) * lit(1L << i)).reduce(_ + _)

  /** Target members per IVF coarse cell — the d12/ClusterOps sizing
    * discipline applied to the inverted file: [[cellBits]] grows the
    * cell COUNT with the corpus so per-cell volume — and with it every
    * probe's rerank cost — stays bounded as the corpus scales. (The
    * round-13 sf1 point measured the fixed 10-label geometry at 17×
    * on 10× data for e6: |queries| ∝ n times cell size ∝ n is the
    * all-pairs-in-disguise quadratic.) */
  val CellTarget = 250

  /** Label cardinality of the corpus's class column. Enters ONLY the
    * cell-count sizing in [[cellBits]]; the composite cell id
    * label·2^b + sub is injective for any actual label range. */
  val BaseLabels = 10

  /** IVF subdivision bits: the smallest b ≥ 1 with
    * BaseLabels·2^b·CellTarget ≥ n — the least power-of-two
    * hyperplane refinement of the label partition that brings
    * expected cell size under CellTarget, so cells ∝ n and cell size
    * stays in [CellTarget/2, CellTarget] (a ≤2× sawtooth, never ∝ n).
    * b ≥ 1 keeps the subdivision exercised at the correctness-gate SF
    * (b=1 at n=500); the 20-bit cap (10M cells) keeps the composite
    * id inside int32 — beyond broadcast-able cell counts you shard
    * the probe on a centroid-block key, the ClusterOps.K note. The
    * oracle re-derives the identical b from COUNT(*) in SQL, so a
    * Spark-side retune cannot silently diverge. */
  def cellBits(n: Long): Int = {
    var b = 1
    while (b < 20 && BaseLabels.toLong * (1L << b) * CellTarget < n) b += 1
    b
  }

  /** Integer coefficients of cell-subdivision hyperplane p — the e2
    * 'hp_' family's discipline under a 'cp_' salt, regenerated by the
    * oracle in SQL. */
  private[graft] def cellPlaneW(p: Int): Seq[Long] =
    (0 until Dims).map(d => hash60Driver(s"cp_${p}_${d}") % 2001L - 1000L)

  /** Quantized corpus, persisted once per session+dir: e1's two sides,
    * e2/e3's bucket builds and candidate recheck all read it. The
    * `label` column carries the IVF COARSE CELL id: the class label
    * refined by [[cellBits]] adaptive hyperplane bits
    * (cell = label·2^b + sub, sub computed map-side against literal
    * 'cp_' coefficients — zero shuffle, like the e2 buckets). The
    * class partition plays the trained coarse quantizer's role, and
    * the hyperplane refinement keeps cell volume ≈ CellTarget as the
    * corpus grows. */
  /** The composite coarse-cell expression over (label, q) columns —
    * ONE definition shared by the batch [[quantized]] projection and
    * e18's streaming delta encode, so the two ingest paths cannot
    * fork in geometry. */
  private def cellCol(b: Int): Column = {
    val sub = (0 until b).map(i =>
      when(dotLong(col("q"), typedlit(cellPlaneW(i))) > 0, lit(1L << i))
        .otherwise(lit(0L))).reduce(_ + _)
    (col("label").cast(LongType) * (1L << b) + sub).cast(IntegerType)
  }

  /** This corpus's subdivision-bit count (a 1-row metadata count). */
  private def cellBitsOf(spark: SparkSession, dir: String): Int =
    cellBits(Tables.embeddings(spark, dir).count())

  /** The ONE ingest-encode definition: (vec_id, label, embedding) →
    * (vec_id, label = composite coarse cell, q). Shared by e18's
    * streaming delta encode and p40's in-stream decon so no ingest
    * path can fork in geometry — a raw class label here would land
    * vectors in nonexistent cells (the bug class the round-14 gate
    * caught on e18). The bit count derives from the FULL corpus, the
    * same 1-row metadata count the batch [[quantized]] uses. */
  private[graft] def encodeCells(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val b = cellBitsOf(spark, dir)
    df.select(col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
      .withColumn("label", cellCol(b))
  }

  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_quantized", dir) {
      val raw = Tables.embeddings(spark, dir)
      // Parallelism guard before the persist: every e-family map-side
      // stage (cell codes, band codes, probe dots, kernels) inherits
      // THIS relation's partitioning, and a heavily-compressed or
      // single-row-group embeddings file hands a million-vector corpus
      // to 1-2 scan tasks (bytes proxy scan cost, not the k·d compute
      // downstream — the round-13 p8 scan-starve find at the compute
      // layer). Width is sized from the ROW count (~40k vectors per
      // partition, the density the 1.28M carve ran 22/22 green at),
      // NOT blindly to the session's cores: repartition(cores) on a
      // 2k-vector substrate mints `cores` micro-partitions that every
      // downstream e-family read then pays scheduling for — the
      // round-16 A/B measured e1 at 0.58 s (r14) vs 1.00 s (r15
      // cores-wide cache) at sf0.1 from exactly this. The count is
      // parquet-footer metadata (cellBitsOf already pays it for the
      // geometry), charged once per memo build. At real scale the scan
      // arrives wider than the target and this is a no-op.
      val cores = spark.sparkContext.defaultParallelism
      val want = math.min(cores.toLong, math.max(1L,
        Tables.embeddings(spark, dir).count() / 40000L)).toInt
      val spread =
        if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
      spread
        .select(col("vec_id"), quantize(col("embedding")).as("q"), col("label"))
        .withColumn("label", cellCol(cellBitsOf(spark, dir)))
    }

  /** e1: brute-force cosine top-k per query — the exactness baseline.
    * Deliberately bounded: |queries| = |corpus| / QueryStride. At scale
    * this stays a broadcast of the small query side against a single
    * corpus scan; the unbounded scale path is e2. */
  def annTopk(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    cosineTopkOf(quantized(spark, dir), "vec_id", "q", QueryStride, k)

  /** THE exact-cosine top-k scoring chain — e1 and m4 (blob-embedding
    * similarity) both run through this one definition, so the shared
    * discipline (stride-selected broadcast queries, (score desc, c_id)
    * tie-break, round-6 presentation) cannot fork between the two
    * exactness baselines. Norms are precomputed per ROW (n2 = v·v on
    * the corpus relation), so the pair loop pays ONE dot product, not
    * three — the exact doubles are unchanged (norms are the same exact
    * integers, cast and multiplied in the same order as the oracle's
    * `dot / sqrt(na * nb)`). */
  private[operators] def cosineTopkOf(rel: DataFrame, idCol: String, vCol: String,
      stride: Int, k: Int): DataFrame = {
    val withN = rel.select(col(idCol).as("_id"), col(vCol).as("_v"))
      .withColumn("_n2", dotLong(col("_v"), col("_v")).cast(DoubleType))
    val queries = panelOf(withN, "_id", stride)
      .select(col("_id").as("q_id"), col("_v").as("qv"), col("_n2").as("qn2"))
    rankTopk(
      withN.select(col("_id").as("c_id"), col("_v").as("cv"), col("_n2").as("cn2"))
        .join(broadcast(queries), col("q_id") =!= col("c_id"))
        .withColumn("score",
          dotLong(col("qv"), col("cv")).cast(DoubleType) / sqrt(col("qn2") * col("cn2"))),
      k)
  }

  /** Rank-and-trim to per-query top-k on a NARROW projection — the ONE
    * scoring-family window. The (q_id, c_id, score) projection before
    * ranking is deliberate: a rank window SORTS its input, and letting
    * the 64-long vector payloads ride through it turns a 10⁷-candidate
    * sort into a ~100 GB one (the n = 1.28e6 carve measured the whole
    * family wedged in exactly that sort) — score the fat rows, rank
    * the narrow ones. Presentation is the family's (score desc, c_id)
    * tie-break with round-6 display. */
  private def rankTopk(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
    scored.select("q_id", "c_id", "score")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), round(col("score"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** Corpus + 12-plane bucket code, computed in one map-side projection
    * (no shuffle) and persisted — both the query and corpus sides of e2
    * read it. */
  private def withBucket(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_withBucket", dir) {
      val p = bandPlanes(Tables.embeddings(spark, dir).count())
      quantized(spark, dir)
        .select(col("vec_id"), col("q"),
          packedCode(col("q"), 0, p).as("bucket"))
    }

  /** e2: LSH-bucketed ANN — query joins only its own bucket; exact cosine
    * rerank inside the bucket, top-3. This is the 100 TB path: the join
    * is an equality join on (bucket), never a cross join. */
  def annLsh(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val cos = cosineWith(dotLong) _
    val withB = withBucket(spark, dir)
    val queries = withB.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("bucket"))
    val corpus = withB.select(col("vec_id").as("c_id"), col("q").as("cq"), col("bucket"))
    rankTopk(
      queries.join(corpus, "bucket")
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** e4: multi-probe LSH ANN — each query probes its own bucket PLUS all
    * bandPlanes(n) hamming-1 neighbor buckets (flipping one sign bit),
    * trading a (p+1)× widening of the tiny query side for recall that a
    * single bucket can't reach. The corpus side is untouched and the
    * join stays an equality join on (bucket): the canonical recall knob
    * for hyperplane LSH at scale. Candidates are exactly the pairs whose
    * codes differ in ≤ 1 bit, which is what the oracle re-derives with
    * bit_count(xor). */
  def annMultiprobe(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val cos = cosineWith(dotLong) _
    val withB = withBucket(spark, dir)
    val nPlanes = bandPlanes(Tables.embeddings(spark, dir).count())
    val probeSet = array((col("bucket") +:
      (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))): _*)
    val queries = withB.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"),
        explode(probeSet).as("bucket"))
    val corpus = withB.select(col("vec_id").as("c_id"), col("q").as("cq"), col("bucket"))
    rankTopk(
      queries.join(corpus, "bucket")
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** How many coarse cells an IVF query probes (e5). */
  val NProbe = 2

  /** IVF coarse centroids — one per cell (the composite `label` id of
    * [[quantized]]: class label × adaptive hyperplane refinement, so
    * |centroids| ∝ corpus/CellTarget), kept as
    * EXACT integers: the per-dimension sum vector `s`, member count `n`,
    * and `ss = s·s`. Mean-based distances are compared through the
    * n-scaled identity  n²·‖q − s/n‖² = n²·q·q − 2n·(q·s) + s·s,
    * so centroid ranking needs no division and is bit-deterministic.
    * Magnitudes stay ≤ ~1e15 — exact in int64 and in the oracle's
    * 53-bit doubles. */
  private[graft] def centroids(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_centroids", dir) {
      centroidStateOf(quantized(spark, dir))
    }

  /** The per-cell centroid STATE (label, per-dim sum vector s, member
    * count n, ss = s·s) of any quantized slice. (s, n) is the additive
    * part — states of disjoint slices merge by element-wise s addition
    * and n addition (ss re-derives) — which is what makes e11's
    * delta-only index maintenance exact. */
  private[operators] def centroidStateOf(qv: DataFrame): DataFrame =
    qv.select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy("label", "d").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("d"), col("s")))),
          x => x.getField("s")).as("s"),
        min("n").as("n"))
      .withColumn("ss", dotQ(col("s"), col("s")))

  /** e5: IVF (inverted-file) ANN — the classic coarse-quantize-then-probe
    * architecture: each query ranks the (tiny, broadcast) centroid table
    * by exact scaled distance, probes only the NProbe nearest cells, and
    * reranks that ~NProbe/|cells| fraction of the corpus by exact
    * cosine. The corpus-side join stays an equality join on the cell id
    * (`label`) — at 100 TB the inverted file is the partitioning, so a
    * probe touches only its cells' partitions. Complements e2/e4: LSH
    * needs no training and probes O(1) rows per bucket; IVF follows the
    * data's cluster structure and bounds the scanned fraction. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 3, nProbe: Int = NProbe): DataFrame =
    ivfRerank(spark, dir, probedCells(spark, dir, nProbe), k)

  /** The exact rerank over an explicit probed-cells relation — annIvf's
    * body, factored so e25's evaluation can feed a panel-restricted
    * probe through the identical presentation. */
  private def ivfRerank(spark: SparkSession, dir: String, probed: DataFrame,
      k: Int): DataFrame = {
    val cos = cosineWith(dotLong) _
    val qv = quantized(spark, dir)
    rankTopk(
      probed.join(qv.select(col("vec_id").as("c_id"), col("q").as("cq"), col("label")), "label")
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** e9: FILTERED ANN — vector search under a metadata predicate
    * ("nearest English documents"): the IVF probe of e5 with the
    * predicate's allowed-id set applied to the candidates BEFORE
    * scoring and ranking. Pre- vs post-filtering is the correctness
    * fork every vector store faces: post-filtering ranks the global
    * top-k and THEN drops non-matching rows, returning FEWER than k
    * (possibly zero) results whenever the neighborhood is dominated by
    * non-matching vectors; pre-filtering restricts the candidate set so
    * every returned rank is the true k-th best WITHIN the predicate
    * (proven against post-filtering in NewOpsSpec).
    *
    * Scale shape: e5's equality join on the probed cell ids, plus one
    * left-semi join against the allowed-id relation — which a real
    * deployment supplies as a pruned scan (partition/z-order on the
    * metadata) or a broadcast id set; candidates shrink before the
    * expensive exact rerank, never after. */
  def annFiltered(spark: SparkSession, dir: String, k: Int = 3, nProbe: Int = NProbe): DataFrame = {
    val cos = cosineWith(dotLong) _
    val allowed = graft.Tables.documents(spark, dir)
      .filter(col("lang") === "en").select(col("doc_id").as("c_id"))
    val qv = quantized(spark, dir)
    rankTopk(
      probedCells(spark, dir, nProbe)
        .join(qv.select(col("vec_id").as("c_id"), col("q").as("cq"), col("label")), "label")
        .filter(col("q_id") =!= col("c_id"))
        .join(allowed, Seq("c_id"), "left_semi") // pre-filter: BEFORE rerank
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** The IVF coarse probe shared by e5, e6, and e9: each query ranks the
    * broadcast centroid table by the exact n-scaled distance identity
    * (see [[centroids]]) and keeps its nProbe nearest cells →
    * (q_id, qq, label). ONE definition: the dist2 identity and the
    * (dist2, label) tie-break must stay bit-identical to both oracles,
    * so neither operator carries its own copy. */
  private[graft] def probedCells(spark: SparkSession, dir: String, nProbe: Int): DataFrame =
    probedCellsWith(spark, dir, nProbe, centroids(spark, dir))

  /** probedCells against an EXPLICIT centroid relation — e5/e6/e9 pass
    * the session-memoized build, e10 passes the parquet read-back of the
    * persisted index; the probe logic itself must not fork. */
  private def probedCellsWith(spark: SparkSession, dir: String, nProbe: Int,
      cent: DataFrame): DataFrame =
    probedCellsOf(
      quantized(spark, dir).filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("q_id"), col("q").as("qq")),
      nProbe, cent)

  /** The probe core against an EXPLICIT (q_id, qq) query relation —
    * the e-family passes the stride queries; d19 passes the eval
    * carve's vectors (its query side is the benchmark, not a stride).
    * One definition: the dist2 identity and (dist2, label) tie-break
    * cannot fork between consumers. */
  private[graft] def probedCellsOf(queries: DataFrame, nProbe: Int,
      cent: DataFrame): DataFrame = {
    // score the fat rows (the dist2 dots need qq), RANK the narrow
    // ones: at |queries| × |cells| candidate volume the crnk window
    // sorts its whole input, and the 64-long qq payload would make
    // that a vector-corpus-scale sort (the rankTopk lesson applied to
    // the probe). qq is reattached to the nProbe survivors by a
    // broadcast join on q_id — the query side is the family's small,
    // broadcast-able relation by design.
    val narrow = queries
      .crossJoin(broadcast(cent))
      .withColumn("dist2",
        col("n") * col("n") * dotLong(col("qq"), col("qq")) -
          lit(2L) * col("n") * dotLong(col("qq"), col("s")) + col("ss"))
      .select(col("q_id"), col("label"), col("dist2"))
      .withColumn("crnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("dist2"), col("label"))))
      .filter(col("crnk") <= nProbe)
    narrow.select("q_id", "label")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("qq"), col("label"))
  }

  /** PQ geometry (e6): 64 dims split into SubSpaces=8 subvectors of
    * SubDim=8; CodebookK=16 md5-derived centroids per subspace (fixed —
    * no training pass, like the e2 hyperplanes); queries shortlist
    * PqShortlist candidates by asymmetric distance before exact rerank. */
  val SubSpaces = 8
  val SubDim = 8
  val CodebookK = 16
  val PqShortlist = 40

  /** Centroid d-th coordinate of codeword k in subspace m — md5-derived
    * like every other coefficient, so the oracle regenerates it. */
  private def pqC(m: Int, k: Int, d: Int): Long =
    hash60Driver(s"pq_${m}_${k}_${d}") % 2001L - 1000L

  /** The full codebook [m][k][d] as one constant-folded literal — the
    * second argument of the native PQ codec expressions and the
    * indexable table of the built-ins reference. */
  private lazy val codebook: Seq[Seq[Seq[Long]]] =
    (0 until SubSpaces).map(m => (0 until CodebookK).map(k =>
      (0 until SubDim).map(d => pqC(m, k, d))))
  private def cbLit: Column = typedlit(codebook)

  /** All CodebookK exact L2² distances of a vector's m-th subvector,
    * built-ins only (HOFs over the codebook literal — small expression
    * trees that Spark evaluates via clean CodegenFallback, vs. the old
    * literal expansion whose thousands of inlined nodes blew janino's
    * method limit and silently dropped the stage to interpreted
    * execution). The reference the native codec below is checked
    * against; no query plans it. */
  private def pqDistsHof(q: Column, m: Int): Column =
    transform(element_at(cbLit, m + 1), cv =>
      aggregate(zip_with(slice(q, m * SubDim + 1, SubDim), cv,
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x))

  /** Codeword of subspace m, built-ins only: first index of the minimum
    * distance — ties toward the smaller k, identical to the native
    * expression's strict-< scan and the oracle's (dist, k) struct-min. */
  private def pqCodeHof(q: Column, m: Int): Column = {
    val ds = pqDistsHof(q, m)
    (array_position(ds, array_min(ds)) - 1).cast(IntegerType)
  }

  /** Codes array (length SubSpaces) of one vector: the native
    * constant-size-codegen `graft_pq_encode` (the 100 TB path — the
    * encode is THE corpus-proportional pass of the index build and must
    * stay inside whole-stage codegen, pinned by CodegenHealthSpec). */
  private def pqCodesCol(q: Column): Column = call_function("graft_pq_encode", q, cbLit)

  /** Flat ADC table (length SubSpaces·CodebookK, (m·K + k) order) of one
    * query vector: the native `graft_pq_adc`. */
  private def pqDistsFlatCol(q: Column): Column = call_function("graft_pq_adc", q, cbLit)

  /** Test hook: (native codes, built-ins codes, native ADC, built-ins
    * ADC) over the same vector column — CodegenHealthSpec asserts the
    * native codec bit-equal to the [[pqCodeHof]]/[[pqDistsHof]]
    * reference formulation. */
  private[graft] def pqCodecColumnsForTest(q: Column): (Column, Column, Column, Column) =
    (pqCodesCol(q),
      array((0 until SubSpaces).map(m => pqCodeHof(q, m)): _*),
      pqDistsFlatCol(q),
      flatten(array((0 until SubSpaces).map(m => pqDistsHof(q, m)): _*)))

  /** e6: IVF+PQ ANN — the production composition: the IVF coarse probe
    * (e5's centroids) PRUNES candidate generation to the query's NProbe
    * cells, and product quantization COMPRESSES what gets scored there:
    * each corpus vector is 8 codewords (computed map-side against
    * literal codebooks — zero shuffle, like e2's buckets), each query
    * materializes its 128-entry asymmetric-distance lookup table (also
    * map-side), and the classic ADC score is equality joins on (cell)
    * then (subspace, code) + a sum. PQ alone would still score every
    * pair (compression is not pruning — it shrinks bytes per candidate,
    * not candidates); the IVF stage is what bounds candidate volume to
    * ~NProbe/|cells| of the corpus, and raw vectors are only read to
    * rerank the ADC shortlist. Integer arithmetic end-to-end, so codes,
    * probes, ADC sums and the shortlist cutoff are bit-identical in the
    * oracle. */
  def annPq(spark: SparkSession, dir: String, k: Int = 3, nProbe: Int = NProbe): DataFrame =
    pqAnswer(spark, dir, centroids(spark, dir), pqCodes(spark, dir), k, nProbe)

  /** The un-memoized encode plan — one map-side projection (zero
    * shuffle: codes are a per-row function of the vector), exploded to
    * the (c_id, label, m, code) inverted-file shape. Exposed to the
    * codegen-health spec, which asserts the projection compiles and
    * stays inside whole-stage codegen. */
  private[graft] def pqEncodePlan(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(col("vec_id").as("c_id"), col("label"),
        posexplode(pqCodesCol(col("q"))).as(Seq("m", "code")))
      .select("c_id", "label", "m", "code")

  /** The compressed corpus index (c_id, cell label, m, code), map-side.
    * Persisted like every other signature: the per-vector codeword
    * search is the PQ build cost — paid once per session+dir. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_pq_codes", dir)(pqEncodePlan(spark, dir))

  /** The un-memoized per-query ADC-table plan: one flat distance array
    * per query vector, posexploded to (q_id, m, k, dist) with
    * m = pos div K, k = pos mod K. Map-side like the encode; exposed to
    * the codegen-health spec (the old 128-struct literal expansion was
    * the janino blowup site). */
  private[graft] def pqAdcPlan(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"),
        posexplode(pqDistsFlatCol(col("q"))).as(Seq("pos", "dist")))
      .select(col("q_id"),
        (col("pos") / lit(CodebookK)).cast(IntegerType).as("m"),
        (col("pos") % lit(CodebookK)).as("k"),
        col("dist"))

  /** The e6 query pipeline against EXPLICIT index relations (centroids +
    * PQ codes) — e6 passes the session-memoized build, e10 the parquet
    * read-back of the persisted index. ONE definition of probe → ADC →
    * shortlist → exact rerank, so the in-memory and persisted paths
    * cannot drift. */
  private def pqAnswer(spark: SparkSession, dir: String, cent: DataFrame,
      codes: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cos = cosineWith(dotLong) _
    val qv = quantized(spark, dir)
    // per-query ADC lookup table: (q_id, m, k, dist), map-side
    val qdist = DedupOps.memoized(spark, "ann_pq_qdist", dir)(pqAdcPlan(spark, dir))
    // IVF coarse probe (shared with e5) → the query's NProbe cells:
    // this is what PRUNES the ADC join
    val probed = probedCellsWith(spark, dir, nProbe, cent).select("q_id", "label")
    // NOTE on shape (10×-scale A/B, round 12): the per-subspace join
    // below was also tried in the e19-style array-fold form (fold codes
    // + query tables to arrays, ADC as one in-row aggregate) — it
    // MEASURED 1.15-1.3× SLOWER at sf1: PQ's join fan-out is only
    // SubSpaces=8 rows/candidate, and the per-call corpus-scale fold
    // groupBys plus the non-codegen HOF aggregate cost more than the
    // 8× join-volume saving buys. SQ8 (Dims=64 fan-out) is the other
    // side of that trade — see sqCodeArrays. Keep this one a join.
    val qd = qdist.select(col("q_id").as("qd_qid"), col("m").as("qd_m"),
      col("k"), col("dist"))
    val adc = probed.join(codes, "label")
      .filter(col("q_id") =!= col("c_id"))
      .join(qd, col("q_id") === col("qd_qid") && col("m") === col("qd_m") &&
        col("code") === col("k"))
      .groupBy("q_id", "c_id").agg(sum("dist").as("adc"))
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc"), col("c_id"))
    val short = adc.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= PqShortlist).select("q_id", "c_id")
    rankTopk(
      short
        .join(qv.select(col("vec_id").as("q_id"), col("q").as("qq")), "q_id")
        .join(qv.select(col("vec_id").as("c_id"), col("q").as("cq")), "c_id")
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** Lands a code relation into a `label=<cell>/` parquet lake with the
    * rows CLUSTERED on the partition column first. Without the cluster
    * a dynamic-partition write fans out |tasks| × |cells| files — at
    * the 1.28M-vector carve that is 32 × 5120 ≈ 164k four-row files,
    * and the driver's single-threaded commit walk over them dominates
    * the build (the small-files catastrophe; at 1000 executors it
    * would be 160M files per index version). Hash-clustering on label
    * sends each cell to exactly ONE task → one file per cell
    * directory; Spark's planned write sorts cells within the task, so
    * writer memory stays one open file. */
  private def writeCells(codes: DataFrame, path: String): Unit =
    codes.repartition(col("label"))
      .write.mode("overwrite").partitionBy("label").parquet(path)

  /** Lands the e10 index artifacts (first call per JVM per dir, see
    * [[graft.functions.F.landOnce]]) and returns the index root — shared
    * by the batch-serving e10 and the single-request e12 paths. Serving
    * calls after the first skip the rewrite, so repeated bench passes
    * measure the SERVING path; the artifacts are a deterministic
    * function of the dir, so skipping can only skip an identical
    * rewrite. */
  private def buildPersistedIndex(spark: SparkSession, dir: String): String = {
    val out = graft.functions.F.sinkPath("annindex", dir)
    landOnce(out, Seq(s"$out/centroids", s"$out/codes")) {
      centroids(spark, dir).write.mode("overwrite").parquet(s"$out/centroids")
      writeCells(pqCodes(spark, dir), s"$out/codes")
      // a previous run's cached file listing would point at deleted
      // files after the overwrite (the p29 lesson)
      spark.catalog.refreshByPath(s"$out/centroids")
      spark.catalog.refreshByPath(s"$out/codes")
    }
    out
  }

  /** e10: the PERSISTED vector index — a production vector search does
    * not rebuild its index per session: the IVF centroid table and the
    * PQ code inverted file are LAKE ARTIFACTS, built once and read by
    * every serving job. This operator lands both as parquet — the code
    * file partitioned `label=<cell>/` so a probe's candidate fetch
    * prunes at the DIRECTORY level (p14's discipline: the inverted
    * file IS the partitioning) — reads them back, and answers the e6
    * query from the landed artifacts through the SAME pqAnswer
    * pipeline. Its oracle is e6's oracle verbatim: the persisted path
    * must reproduce the in-memory answer exactly, which also proves
    * the index round-trips losslessly (integer codes and centroid
    * sums; parquet is exact on int64).
    *
    * Scale notes: index build cost is paid once per corpus version,
    * amortized across every query job; serving reads only
    * `centroids/` (tiny, broadcast) + the probed `label=` directories.
    * Incremental corpora append new cell directories; re-clustering is
    * a rebuild, as in any IVF system. */
  def annPersistedIndex(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe): DataFrame = {
    val out = buildPersistedIndex(spark, dir)
    val cent = spark.read.parquet(s"$out/centroids")
    val codes = spark.read.parquet(s"$out/codes")
      // partition-column discovery re-infers label's type; pin it back
      // to the corpus type so the probe join never re-casts the big side
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, cent, codes, k, nProbe)
  }

  /** e12's served query — a stride query id present at every SF. */
  val ServeQueryId = 50L

  /** e12: SINGLE-REQUEST SERVING from the persisted index — how a
    * vector store answers ONE query: resolve the request's NProbe
    * cells against the kilobyte centroid table (a constant-size driver
    * step, the analog of an index-metadata lookup — same discipline as
    * the s7 bloom hop), then scan ONLY those `label=` directories of
    * the code lake. The cell ids enter the read as LITERALS, so the
    * big-side scan carries directory-level PartitionFilters: at 100 TB
    * the request opens NProbe cells' files and nothing else (pinned in
    * spec). The batch path (e10) evaluates every stride query in one
    * plan instead; this path is the per-request latency shape. */
  def annServeOne(spark: SparkSession, dir: String, qId: Long = ServeQueryId,
      k: Int = 3, nProbe: Int = NProbe): DataFrame = {
    val out = buildPersistedIndex(spark, dir)
    val cent = spark.read.parquet(s"$out/centroids")
    val cells = probedCellsWith(spark, dir, nProbe, cent)
      .filter(col("q_id") === qId)
      .select("label").collect().map(_.getInt(0)).toSeq
    require(cells.nonEmpty, s"query $qId resolved no cells — not a stride query?")
    val codes = spark.read.parquet(s"$out/codes")
      .filter(col("label").isin(cells: _*)) // literal → directory pruning
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, cent, codes, k, nProbe)
      .filter(col("q_id") === qId)
  }

  /** e11: INCREMENTAL INDEX MAINTENANCE — a vector lake ingests new
    * embeddings continuously; rebuilding the index per batch would
    * rescan the whole corpus. This operator proves the delta-only
    * update is EXACT: the base corpus (vec_id % 10 ≠ 0) lands its index
    * (centroid state + PQ codes, as in e10); the delta batch
    * (vec_id % 10 = 0) then (a) PQ-encodes itself — codes are a pure
    * per-vector function of the fixed codebooks, so they simply land as
    * new files in the cell directories — and (b) merges its own
    * centroid state into the persisted one by element-wise sum-vector
    * addition + count addition (ss re-derived), which is exact because
    * the state is ASSOCIATIVE (see [[centroidStateOf]]). The answer
    * from the maintained index equals the full-rebuild answer
    * bit-for-bit — the oracle is e6's statement verbatim.
    *
    * Scale shape: the update reads the 100 TB base corpus ZERO times —
    * only the delta (encoded map-side) and the kilobyte centroid state.
    * The delta's code files land beside the base's in the same
    * `label=<cell>/` layout (written here to a sibling dir for
    * idempotent reruns; appending files into the cell dirs is the same
    * operation). Deletes decrement the same state — the e13 leg;
    * re-clustering (new cell geometry) is the one event that forces a
    * rebuild. */
  def annIncrementalIndex(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe): DataFrame = {
    val out = graft.functions.F.sinkPath("annincr", dir)
    val isDelta = col("c_id") % 10 === 0
    // ---- base ingest: index state of the initial corpus (once per
    // JVM per dir — repeated calls measure the MAINTENANCE op below,
    // which is the operator) ----
    landOnce(s"$out/base", Seq(s"$out/centroids_v1", s"$out/codes_base")) {
      centroidStateOf(quantized(spark, dir).filter(col("vec_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(s"$out/centroids_v1")
      writeCells(pqCodes(spark, dir).filter(!isDelta), s"$out/codes_base")
    }
    // ---- delta ingest: encode + merge, never rescanning the base ----
    writeCells(pqCodes(spark, dir).filter(isDelta), s"$out/codes_delta")
    spark.catalog.refreshByPath(s"$out/centroids_v1")
    val deltaState = centroidStateOf(quantized(spark, dir).filter(col("vec_id") % 10 === 0))
      .select(col("label"), col("s").as("sd"), col("n").as("nd"))
    spark.read.parquet(s"$out/centroids_v1")
      .select(col("label"), col("s").as("sb"), col("n").as("nb"))
      .join(deltaState, Seq("label"), "full_outer") // cells new to either side survive
      .select(col("label"),
        when(col("sb").isNull, col("sd"))
          .when(col("sd").isNull, col("sb"))
          .otherwise(zip_with(col("sb"), col("sd"), (a, b) => a + b)).as("s"),
        (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"))
      .withColumn("ss", dotQ(col("s"), col("s")))
      .write.mode("overwrite").parquet(s"$out/centroids_v2")
    // ---- serve from the maintained index ----
    Seq("centroids_v2", "codes_base", "codes_delta")
      .foreach(p => spark.catalog.refreshByPath(s"$out/$p"))
    val cent = spark.read.parquet(s"$out/centroids_v2")
    val codes = spark.read.parquet(s"$out/codes_base")
      .unionByName(spark.read.parquet(s"$out/codes_delta"))
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, cent, codes, k, nProbe)
  }

  /** The tombstoned slice for e13 (vec_id % 10 == DeleteSlice). Chosen
    * to intersect the query stride (odd multiples of 25 are ≡ 5 mod 10),
    * so the delete also removes QUERIES — the output must lose those
    * q_id groups, not just candidate rows. */
  val DeleteSlice = 5L

  /** e13: INDEX DELETE MAINTENANCE — the fourth lifecycle leg
    * (build e10 / add e11 / serve e12 / delete e13). A vector lake
    * deletes continuously (takedowns, retention, corpus re-curation);
    * rebuilding per delete batch would rescan the whole corpus. The
    * delta-only delete is EXACT, the mirror image of e11's add:
    *
    *  - the tombstone batch DECREMENTS the persisted centroid state —
    *    the (sum-vector, count) state is a group under element-wise
    *    addition, so subtraction is as exact as e11's addition; int64
    *    arithmetic makes v_full − v_deleted bit-equal to a direct
    *    rebuild's v_surviving. Cells whose count hits zero leave the
    *    index (their directory is compacted away in production);
    *  - the tombstoned ids are ANTI-JOINED out of the code lake at
    *    serve time (the standard tombstone-then-compact pattern: logical
    *    delete now, physical file rewrite on the next compaction —
    *    p24's operator is exactly that rewrite);
    *  - tombstoned vectors also stop being QUERIES: their q_id groups
    *    disappear from the answer.
    *
    * The maintained index answers bit-for-bit like a full rebuild on
    * the surviving corpus (pinned in Round7OpsSpec); the oracle is e6's
    * statement restricted to surviving vectors. Scale shape: the delete
    * reads the base corpus ZERO times — only the tombstone batch
    * (encoded map-side) and the kilobyte centroid state; the anti-join
    * ships only the tombstone id set (broadcast at any realistic delete
    * batch size). */
  def annDeleteIndex(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe): DataFrame = {
    val out = graft.functions.F.sinkPath("anndel", dir)
    val deleted = col("vec_id") % 10 === DeleteSlice
    // ---- the pre-delete index (once per JVM per dir — repeated calls
    // measure the DELETE maintenance below, which is the operator) ----
    landOnce(s"$out/full", Seq(s"$out/centroids_v1", s"$out/codes_full")) {
      centroids(spark, dir).write.mode("overwrite").parquet(s"$out/centroids_v1")
      writeCells(pqCodes(spark, dir), s"$out/codes_full")
      spark.catalog.refreshByPath(s"$out/centroids_v1")
      spark.catalog.refreshByPath(s"$out/codes_full")
    }
    // ---- tombstone ingest: decrement state, never rescanning the base ----
    decrementedState(spark.read.parquet(s"$out/centroids_v1"),
        centroidStateOf(quantized(spark, dir).filter(deleted)))
      .write.mode("overwrite").parquet(s"$out/centroids_v2")
    // ---- serve from the maintained index, tombstones anti-joined ----
    Seq("centroids_v2", "codes_full")
      .foreach(p => spark.catalog.refreshByPath(s"$out/$p"))
    val tombstones = quantized(spark, dir).filter(deleted)
      .select(col("vec_id").as("c_id"))
    val codes = spark.read.parquet(s"$out/codes_full")
      .join(broadcast(tombstones), Seq("c_id"), "left_anti")
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, spark.read.parquet(s"$out/centroids_v2"), codes, k, nProbe)
      .filter(col("q_id") % 10 =!= DeleteSlice)
  }

  /** base centroid state minus the tombstone batch's state — the exact
    * int64 group inverse of e11's merge; cells whose count hits zero
    * leave the index. Shared by e13 (per-call decrement — the measured
    * maintenance op) and e14's landed pre-state. */
  private def decrementedState(base: DataFrame, del: DataFrame): DataFrame =
    base.select(col("label"), col("s").as("sb"), col("n").as("nb"))
      .join(del.select(col("label"), col("s").as("sd"), col("n").as("nd")),
        Seq("label"), "left")
      .select(col("label"),
        when(col("sd").isNull, col("sb"))
          .otherwise(zip_with(col("sb"), col("sd"), (a, b) => a - b)).as("s"),
        (col("nb") - coalesce(col("nd"), lit(0L))).as("n"))
      .filter(col("n") > 0) // fully-deleted cells leave the index
      .withColumn("ss", dotQ(col("s"), col("s")))

  /** e14: INDEX COMPACTION — tombstone RETIREMENT as a physical rewrite
    * (p24's discipline applied to the vector lake). e13 serves
    * correctly by anti-joining the tombstone set out of every read:
    * right for the delete moment, but each serve pays that anti-join
    * forever and the lake keeps dead rows. Compaction rewrites the code
    * lake ONCE — tombstoned ids dropped, the `label=<cell>/` layout
    * preserved, emptied cells leaving PHYSICALLY (no surviving rows →
    * no directory written) — after which serving needs no tombstone set
    * at all: the plan is e10's pure probed-cell scan again, with ZERO
    * anti-joins (pinned in spec). Answers bit-equal to e13's maintained
    * index and to a full rebuild on the surviving corpus.
    *
    * Scale shape: the rewrite streams the code lake once with the
    * tombstone ids broadcast (delete batches are small relative to the
    * corpus by construction), writing only survivors — embarrassingly
    * parallel per cell directory, and the raw vectors are read ZERO
    * times (codes are already encoded). In production this runs on the
    * compaction cadence (p24), amortized across every subsequent serve;
    * the tombstone anti-join tax disappears from the read path. */
  def annCompactIndex(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe): DataFrame = {
    val out = graft.functions.F.sinkPath("anncompact", dir)
    val deleted = col("vec_id") % 10 === DeleteSlice
    // ---- the tombstoned index this compaction retires (e13's state,
    // landed once per JVM per dir — the COMPACTION below is the
    // measured operator) ----
    landOnce(s"$out/pre", Seq(s"$out/codes_full", s"$out/centroids_v2")) {
      writeCells(pqCodes(spark, dir), s"$out/codes_full")
      decrementedState(centroids(spark, dir),
          centroidStateOf(quantized(spark, dir).filter(deleted)))
        .write.mode("overwrite").parquet(s"$out/centroids_v2")
      spark.catalog.refreshByPath(s"$out/codes_full")
      spark.catalog.refreshByPath(s"$out/centroids_v2")
    }
    // ---- the compaction rewrite: drop tombstoned rows, keep layout ----
    val tombstones = quantized(spark, dir).filter(deleted)
      .select(col("vec_id").as("c_id"))
    writeCells(spark.read.parquet(s"$out/codes_full")
      .join(broadcast(tombstones), Seq("c_id"), "left_anti"), s"$out/codes_v2")
    spark.catalog.refreshByPath(s"$out/codes_v2")
    // ---- serve from the COMPACTED lake: no tombstone set anywhere ----
    val codes = spark.read.parquet(s"$out/codes_v2")
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, spark.read.parquet(s"$out/centroids_v2"), codes, k, nProbe)
      .filter(col("q_id") % 10 =!= DeleteSlice)
  }

  /** e15: INDEX HEALTH — the observability leg of the lifecycle (the
    * vector-lake analog of p31's job health): per-cell member counts,
    * share of corpus, and the classic IVF imbalance factor
    * η = k·Σnᵢ²/n² (FAISS's metric: expected number of ideal-cell-loads
    * a random probe scans; 1.0 = perfectly balanced). η drifting up is
    * THE signal that ingest (e11) has skewed the cell geometry and the
    * one rebuild-forcing event — re-clustering — is due; `over_110`
    * flags cells ≥ 1.1× ideal share (the watch threshold a production
    * config tunes).
    *
    * Determinism discipline: every ratio is an integer floor-div in
    * ppm; the squared sums run in DECIMAL(38,0) because Σnᵢ² overflows
    * int64 at ~10¹² vectors — the card stays exact at any corpus size
    * an int64 row count can name. Scale shape: one map-combined
    * groupBy to k rows, a 1-row broadcast total, per-cell arithmetic —
    * the health report of a 100 TB index costs one count pass. */
  def indexHealth(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val stats = quantized(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("n_members"))
    val totals = stats.agg(
      sum(col("n_members")).as("n"),
      sum(col("n_members").cast(d38) * col("n_members").cast(d38)).as("ss"),
      count(lit(1)).as("k"))
    stats.crossJoin(broadcast(totals))
      .select(col("label"), col("n_members"),
        call_function("div", col("n_members") * 1000000L, col("n")).as("share_ppm"),
        (col("n_members") * col("k") * 10L > col("n") * 11L).as("over_110"),
        call_function("div",
          col("k").cast(d38) * col("ss") * lit(1000000L).cast(d38),
          col("n").cast(d38) * col("n").cast(d38)).as("imbalance_ppm"))
      .orderBy("label")
  }

  /** e23: CENTROID-DRIFT REINDEX ADVISOR — the "when to re-cluster"
    * signal that completes the maintenance loop: e11/e13 keep the index
    * EXACT under adds and deletes, but the one event they cannot absorb
    * is geometry staleness — the cells' true means migrating away from
    * the geometry the corpus was assigned under. Per cell, this reports
    * the base-corpus population (the e11 carve, vec_id % 10 ≠ 0 — the
    * state the index was built from), the current population, the
    * growth in ppm, and the DRIFT: cosine between the base mean and the
    * current mean (scale-invariant, so the exact SUM-vectors stand in
    * for the means with no division). Most-drifted cells sort first —
    * the re-cluster worklist, read top-down next to e15's balance
    * report (which catches SIZE skew; this catches DIRECTION shift —
    * a cell can stay perfectly sized while its contents move).
    *
    * Determinism/overflow discipline: the per-dim sums are exact int64
    * (the e11 state); their dot products run in decimal(38,0) because
    * Σ(s₁·s₂) crosses int64 at ~10⁶ members × 64 dims of milli-unit
    * sums — exactly the carve regime. One IEEE sqrt+division at the
    * end (the d19 rule); cells with no base members (new cells — e20's
    * split advisor owns those) report NULL drift and sort LAST via a
    * +2 presentation key (drift ∈ [−1, 1], so 2 is past every real
    * score); the worklist head stays the most-drifted EXISTING cell.
    *
    * Scale shape: two aggregation passes over the quantized corpus
    * (the base leg shares the memoized e11 carve filter shape) into
    * k-row states, one k-row join, per-cell arithmetic — the advisor
    * for a 100 TB index costs two count-pass aggregates and never
    * materializes a pair. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dotDec(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast(d38) * y.cast(d38)),
        lit(0).cast(d38), (acc, x) => acc + x)
    val base = centroidStateOf(quantized(spark, dir)
        .filter(col("vec_id") % 10 =!= 0))
      .select(col("label"), col("s").as("s1"), col("n").as("n_base"))
    val now = centroidStateOf(quantized(spark, dir))
      .select(col("label"), col("s").as("s2"), col("n").as("n_now"))
    now.join(base, Seq("label"), "left")
      // x18's zero-guard discipline: an all-zero sum vector (total
      // cancellation) would divide by zero — Spark yields NaN where
      // DuckDB yields NULL, so guard the denominator explicitly
      .withColumn("ss1", dotDec(col("s1"), col("s1")))
      .withColumn("ss2", dotDec(col("s2"), col("s2")))
      .withColumn("drift", when(
        col("n_base").isNotNull && col("ss1") > 0 && col("ss2") > 0,
        round(
          dotDec(col("s1"), col("s2")).cast(DoubleType) /
            sqrt(col("ss1").cast(DoubleType) * col("ss2").cast(DoubleType)),
          6)))
      .select(col("label"), col("n_base"), col("n_now"),
        when(col("n_base").isNotNull,
          call_function("div",
            (col("n_now") - col("n_base")) * 1000000L, col("n_base")))
          .as("growth_ppm"),
        col("drift"))
      .orderBy(coalesce(col("drift"), lit(2.0)), col("label"))
  }

  /** e24 graph-probe geometry: out-degree of the cell-adjacency graph,
    * beam (frontier) width per expansion round, and the number of
    * unrolled expansion rounds. Small constants — the probe's cost per
    * query is |entry net| + BeamRounds·BeamWidth·BeamDegree centroid
    * distances, every term O(√cells) or O(1). */
  val BeamDegree = 4
  val BeamWidth = 4
  val BeamRounds = 2

  /** Graph-build degree ceiling: [[cellGraph]] keeps each cell's
    * BeamDegreeMax nearest neighbors WITH their rank, so e25's sweep can
    * price denser navigation graphs without rebuilding the banded
    * candidate structure — consumers filter `ernk <= degree`. The
    * ceiling is a graph-size knob (C·BeamDegreeMax edge rows), not a
    * per-query cost. */
  val BeamDegreeMax = 8

  /** e25's swept (BeamWidth, BeamRounds, BeamDegree) configs — the
    * e17 SweepProbes discipline applied to the beam's three knobs:
    * the default (4,2,4) plus one-axis variations, so the A/B table
    * says WHICH beam config wins before a deployment switches its
    * probe discipline. Bounded: each config costs one panel-scale
    * chain + rerank over the shared memoized substrates. */
  val BeamSweep: Seq[(Int, Int, Int)] =
    Seq((2, 2, 4), (4, 1, 4), (4, 2, 4), (4, 2, 8), (8, 2, 4))

  /** e24 entry net size: 2·⌈√C⌉ cells (capped at C) — the √-sized
    * navigation net that replaces e5's rank-ALL-cells probe. Both
    * engines derive it from the same cell count (IEEE sqrt/ceil —
    * exact at every integer that matters). */
  def entryCount(cells: Long): Long =
    math.min(cells, 2L * math.ceil(math.sqrt(cells.toDouble)).toLong)

  /** The cell-adjacency graph (label → its BeamDegree nearest OTHER
    * cells): the navigation structure of e24's graph-guided probe.
    * HNSW-class indexes keep a neighbor graph over the data points; a
    * batch engine gets the same navigation win at the CELL layer, where
    * the graph is k-rows small, rebuilt with the index, and broadcast
    * to every query.
    *
    * Candidate generation is the e3 recipe applied to the centroid
    * relation itself: band the cells by 'bp_'-salted hyperplane sign
    * codes and pair only band-sharers — O(cells·BandBucketTarget)
    * candidate pairs, never cells². The sign of mean·w equals the sign
    * of s·w (n > 0), so banding runs on the exact int64 SUM vectors
    * with no division. Exact ranking of the survivors uses the
    * division-free inter-centroid identity
    *   ‖sa/na − sb/nb‖²·(na·nb)² = nb²·ssa − 2·na·nb·(sa·sb) + na²·ssb
    * in decimal(38,0) (the e23 overflow discipline: Σs·s crosses int64
    * near 10⁶-member cells); tie-break (dist2, neighbor label). Edges
    * are DIRECTED a→top-[[BeamDegreeMax]] with their rank `ernk` — the
    * HNSW convention; e24 reads the default top-BeamDegree slice and
    * e25's sweep prices denser slices off the same build. */
  private[graft] def cellGraph(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_cellGraph", dir) {
      val cent = centroids(spark, dir)
      val p = bandPlanes(cent.count())
      def beamPlaneW(gp: Int): Seq[Long] =
        (0 until Dims).map(d => hash60Driver(s"bp_${gp}_${d}") % 2001L - 1000L)
      def beamCode(s: Column, j: Int): Column =
        (0 until p).map { i =>
          when(dotLong(s, typedlit(beamPlaneW(j * p + i))) > 0, lit(1L << i))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      val codes = array((0 until Bands).map(j => beamCode(col("s"), j)): _*)
      val banded = cent.select(col("label"), posexplode(codes).as(Seq("band", "code")))
      val cand = banded.select(col("label").as("la"), col("band"), col("code"))
        .join(banded.select(col("label").as("lb"), col("band"), col("code")),
          Seq("band", "code"))
        .filter(col("la") =!= col("lb"))
        .select("la", "lb").distinct()
      val d38 = DecimalType(38, 0)
      def dd(c: Column): Column = c.cast(d38)
      def dotDec(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x.cast(d38) * y.cast(d38)),
          lit(0).cast(d38), (acc, x) => acc + x)
      val a = cent.select(col("label").as("la"), col("s").as("sa"),
        col("n").as("na"), col("ss").as("ssa"))
      val b = cent.select(col("label").as("lb"), col("s").as("sb"),
        col("n").as("nb"), col("ss").as("ssb"))
      cand.join(broadcast(a), "la").join(broadcast(b), "lb")
        .withColumn("dist2",
          dd(col("nb")) * dd(col("nb")) * dd(col("ssa")) -
            lit(2).cast(d38) * dd(col("na")) * dd(col("nb")) * dotDec(col("sa"), col("sb")) +
            dd(col("na")) * dd(col("na")) * dd(col("ssb")))
        .select(col("la"), col("lb"), col("dist2"))
        .withColumn("ernk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("la").orderBy(col("dist2"), col("lb"))))
        .filter(col("ernk") <= BeamDegreeMax)
        .select(col("la").as("label"), col("lb").as("nb"), col("ernk"))
    }

  /** e24: GRAPH-GUIDED ANN PROBE (beam search over the cell graph) —
    * the navigation alternative to e5's exhaustive coarse probe. e5
    * ranks EVERY cell per query: exact, but O(cells) per query, and
    * cells ∝ corpus/CellTarget — at the 10⁷-vector decade that is
    * 12.8k centroid distances per query. e24 starts from a 2·⌈√C⌉
    * entry net (hash-ranked — deterministic, data-independent spread),
    * keeps the BeamWidth nearest visited cells as the frontier, and
    * expands BeamRounds times over [[cellGraph]]'s edges — the
    * greedy-descent loop of HNSW/NSG search, batch-expressed as
    * unrolled join-union-rank rounds. Final candidates = the NProbe
    * nearest VISITED cells, reranked exactly like e5, so the two
    * operators' outputs are directly comparable (same shape, same
    * tie-breaks) and recall lost to navigation is measurable per
    * config (compose with e8's evaluation harness).
    *
    * Determinism: entry net ranks (hash60('entry_'||label), label);
    * every beam rank orders (dist2, label); dist2 is the int64
    * n-scaled identity of [[probedCellsOf]] — bit-identical to the
    * oracle's replay of the same three ranks.
    *
    * Scale shape: per query O(√C + BeamRounds·BeamWidth·BeamDegree)
    * centroid distances vs e5's O(C); the graph build is
    * O(C·BandBucketTarget) banded candidates. Every per-query relation
    * (entries, frontier, visited) is bounded by constants × √C and
    * broadcasts; the corpus is touched only by the final probed-cell
    * equality join — the inverted-file partition-pruning path. */
  /** e24's probe chain, with the per-round visited sets exposed:
    * `entryRows` is the (query × entry-net) scoring relation and
    * `visiteds(r)` the visited set after round r — the ranked-cell
    * counts e25's cost accounting reads. `probed` is the final
    * NProbe-nearest-visited relation annBeam reranks. */
  private[graft] case class BeamChain(queries: DataFrame, entryRows: DataFrame,
      visiteds: Seq[DataFrame], probed: DataFrame)

  /** @param width    beam width (frontier size per round)
    * @param rounds   expansion rounds (unrolled)
    * @param degree   graph out-degree read from [[cellGraph]]'s top-
    *                 [[BeamDegreeMax]] edges (must be ≤ BeamDegreeMax)
    * @param queriesOpt explicit (q_id, qq) query relation — e25 passes
    *                 the capped evaluation panel (output-invariant: every
    *                 e25 leg is panel-scoped, so non-panel chain work is
    *                 pure waste at carve scale); None = the serving
    *                 stride queries
    * @param persist  materialize each round's visited set and the final
    *                 probed relation — e25 reads every one of them from
    *                 several aggregate actions (recall, cost,
    *                 cells_ranked), so without the barrier the chain
    *                 re-executes per action (the r17 ADVICE find)
    * @param shared   INVOCATION-local prefix-state cache (VERDICT r18
    *                 item 5): a beam state is a pure function of
    *                 (width, round, degree) given fixed queries/entries,
    *                 so e25's swept chains share identical prefixes —
    *                 v0 depends on width alone ((4,1,4)/(4,2,4)/(4,2,8)
    *                 share it) and visited(1) on (width, degree)
    *                 ((4,1,4) is a strict prefix of (4,2,4)). Single
    *                 evaluation per key ([[graft.Once]]); rows are by
    *                 construction identical to the unshared build —
    *                 every rank is total-ordered. The cache object
    *                 lives only for one annBeamEval call: nothing is
    *                 reused across invocations or bench passes. None
    *                 (e24's serving path) = exactly the old plan. */
  private[graft] def beamChain(spark: SparkSession, dir: String,
      width: Int = BeamWidth, rounds: Int = BeamRounds,
      degree: Int = BeamDegree, queriesOpt: Option[DataFrame] = None,
      persist: Boolean = false,
      shared: Option[graft.Once[(String, Int, Int, Int), DataFrame]] = None): BeamChain = {
    require(degree <= BeamDegreeMax, s"degree $degree > BeamDegreeMax $BeamDegreeMax")
    val qv = quantized(spark, dir)
    val cent = centroids(spark, dir)
    val adj = cellGraph(spark, dir)
      .filter(col("ernk") <= degree).select("label", "nb")
    val queries = queriesOpt.getOrElse(
      qv.filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("q_id"), col("q").as("qq")))
    val en = entryCount(cent.count()).toInt
    // TakeOrderedAndProject (the panelOf discipline): per-partition
    // top-en with a driver merge, never a global sort
    val entries = cent
      .withColumn("_eh", hash60(concat(lit("entry_"), col("label").cast("string"))))
      .orderBy(col("_eh"), col("label")).limit(en)
      .select("label")
    // (q_id, label) → + dist2, the probedCellsOf identity; both joined
    // sides are k-rows/√C-rows small by construction
    def scored(v: DataFrame): DataFrame =
      v.join(broadcast(queries), "q_id")
        .join(broadcast(cent), "label")
        .withColumn("dist2",
          col("n") * col("n") * dotLong(col("qq"), col("qq")) -
            lit(2L) * col("n") * dotLong(col("qq"), col("s")) + col("ss"))
        .select("q_id", "label", "dist2")
    def topW(v: DataFrame, w: Int): DataFrame =
      v.withColumn("brnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("dist2"), col("label"))))
        .filter(col("brnk") <= w)
        .select("q_id", "label")
    def barrier(df: DataFrame): DataFrame =
      if (persist) df.materialized() else df
    def sharedState(tag: String, r: Int, deg: Int)(build: => DataFrame): DataFrame =
      shared match {
        case None => build
        case Some(cache) => cache((tag, width, r, deg))(build)
      }
    val entryRows = queries.select("q_id").crossJoin(broadcast(entries))
    // under sharing, v0 is barriered so the sharers reuse its COMPUTE,
    // not just its lineage (v0 is width-keyed: degree plays no part)
    val v0 = sharedState("v0", 0, 0) {
      if (shared.isDefined) barrier(topW(scored(entryRows), width))
      else topW(scored(entryRows), width)
    }
    var visited = v0
    var frontier = v0
    val visiteds = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val f = frontier
      visited = sharedState("v", r, degree) {
        val nbrs = f.join(broadcast(adj), "label")
          .select(col("q_id"), col("nb").as("label"))
        barrier(visited.union(nbrs).distinct())
      }
      visiteds += visited
      frontier = topW(scored(visited), width)
    }
    BeamChain(queries, entryRows, visiteds.result(),
      barrier(topW(scored(visited), NProbe)))
  }

  /** The exact rerank over a beam chain's probed cells — e5's
    * presentation, factored so annBeam and e25's swept recall legs read
    * ONE chain instead of rebuilding it (the r17 ADVICE find). */
  private def beamRerank(spark: SparkSession, dir: String, chain: BeamChain,
      k: Int): DataFrame = {
    val cos = cosineWith(dotLong) _
    val qv = quantized(spark, dir)
    val probed = chain.probed.join(broadcast(chain.queries), "q_id")
    rankTopk(
      probed
        .join(qv.select(col("vec_id").as("c_id"), col("q").as("cq"), col("label")), "label")
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  def annBeam(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    beamRerank(spark, dir, beamChain(spark, dir), k)

  /** e25: BEAM-VS-EXHAUSTIVE PROBE EVALUATION + BEAM KNOB SWEEP —
    * e17's harness extended to the probe-discipline fork AND across the
    * beam's hyperparameters: one row per swept (BeamWidth, BeamRounds,
    * BeamDegree) config from [[BeamSweep]] plus one for e5's
    * rank-all-cells IVF at NProbe, each carrying recall@3 against e1's
    * exact top-3, the rerank volume (candidates_scanned = Σ probed cell
    * sizes), and CELLS_RANKED — the coarse-probe cost itself, the term
    * the beam exists to cut: the exhaustive probe ranks |panel|·C
    * centroid distances, a beam config ranks the entry net plus each
    * round's visited set. Run this before switching a 100 TB index from
    * e5 to e24: the table says WHICH beam config wins, not just that
    * one does (knob columns bw/br/bd; 0 = the ivf row).
    *
    * Cost accounting is over the SAME capped panel the recall legs
    * score (the e17 rule) — and the evaluation CHAINS run on the panel
    * only: every output leg (the recall join against the panel-keyed
    * exact set, the panel-scoped costs) is invariant to non-panel
    * queries, so chain work beyond the panel would be pure waste at
    * carve scale. Each config's chain is built ONCE with its visited
    * sets and probed relation materialized; recall and both cost legs
    * read those barriers (the r17 ADVICE find: the old shape rebuilt
    * the chain per aggregate action). */
  def annBeamEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = annTopk(spark, dir).filter(col("rnk") <= 3)
      .select("q_id", "c_id").materialized()
    val panel = exact.select("q_id").distinct()
    val cellSizes = centroids(spark, dir).select(col("label"), col("n"))
    val cells = centroids(spark, dir).count()
    val nq = panel.agg(count(lit(1)).as("n_q"))
    // the panel as a (q_id, qq) query relation — the swept chains' and
    // the ivf leg's shared query side (panel ⊆ the serving stride)
    val panelQueries = quantized(spark, dir)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
      .join(panel, Seq("q_id"), "left_semi")
      .materialized()
    def row(cfg: String, knobs: (Int, Int, Int), approx: DataFrame,
        probedCost: DataFrame, cellsRanked: DataFrame): DataFrame = {
      val hits = exact.join(approx.filter(col("rnk") <= 3).select("q_id", "c_id"),
        Seq("q_id", "c_id")).agg(count(lit(1)).as("n_hit"))
      hits.crossJoin(nq).crossJoin(probedCost).crossJoin(cellsRanked)
        .select(lit(cfg).as("config"),
          lit(knobs._1.toLong).as("bw"), lit(knobs._2.toLong).as("br"),
          lit(knobs._3.toLong).as("bd"),
          col("n_q"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / (col("n_q") * lit(3.0)), 6)
            .as("recall_at_3"),
          col("candidates_scanned"), col("cells_ranked"))
    }
    def count1(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("cnt"))
    // The five swept chains are INDEPENDENT (each reads only the shared
    // memoized substrates + the two barriers above), and each erects 3
    // eager materialization barriers — 15 sequential job launches whose
    // wall is scheduling latency, not compute, at evaluation scale.
    // Build them CONCURRENTLY (the guide's overlap-independent-jobs
    // discipline): each chain's barrier jobs back-fill the idle slots of
    // the others' tails; at carve scale the same overlap fills the
    // cluster during each chain's small-relation rounds. The chains'
    // first calls of the shared memoized substrates (cellGraph) build
    // each one once; the other chains wait for it. Row content is
    // identical to the sequential form: per-chain results never depend
    // on scheduling.
    val beamRows = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(BeamSweep.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // invocation-local prefix-state cache: the swept configs share
      // identical chain prefixes (see beamChain's `shared` doc); dies
      // with this call — nothing crosses invocations.
      val prefixCache = new graft.Once[(String, Int, Int, Int), DataFrame](
        k => s"e25_${k._1}_w${k._2}_r${k._3}_d${k._4}")
      try Await.result(
        Future.sequence(BeamSweep.map { case (w, r, d) => Future {
          SparkSession.setActiveSession(spark) // thread-local; new pool thread
          val chain = beamChain(spark, dir, w, r, d, Some(panelQueries),
            persist = true, shared = Some(prefixCache))
          val cost = chain.probed.join(broadcast(cellSizes), "label")
            .agg(sum("n").as("candidates_scanned"))
          val ranked = (count1(chain.entryRows) +: chain.visiteds.map(count1))
            .reduce(_ unionByName _)
            .agg(sum("cnt").as("cells_ranked"))
          row(s"beam_w${w}_r${r}_d${d}", (w, r, d),
            beamRerank(spark, dir, chain, 3), cost, ranked)
        } }), scala.concurrent.duration.Duration.Inf)
      catch {
        // a failed chain rethrows immediately — interrupt the surviving
        // threads too, or they keep erecting persist=true barriers
        // (leaked Spark jobs + pinned blocks) after the caller has
        // already seen the failure
        case e: Throwable => pool.shutdownNow(); throw e
      }
      finally pool.shutdown()
    }
    val ivfProbed = probedCellsOf(panelQueries, NProbe, centroids(spark, dir)).materialized()
    val ivfCost = ivfProbed.join(broadcast(cellSizes), "label")
      .agg(sum("n").as("candidates_scanned"))
    val ivfRanked = nq.select((col("n_q") * lit(cells)).as("cells_ranked"))
    val ivfRow = row("ivf", (0, 0, 0), ivfRerank(spark, dir, ivfProbed, 3),
      ivfCost, ivfRanked)
    (beamRows :+ ivfRow).reduce(_ unionByName _).orderBy("config")
  }

  /** The full-rebuild reference for e13's bit-equality spec: the same
    * pqAnswer pipeline over an index built DIRECTLY from the surviving
    * corpus (no decrement, no anti-join). Test-only seam. */
  private[graft] def annDeleteRebuildReference(spark: SparkSession, dir: String,
      k: Int = 3, nProbe: Int = NProbe): DataFrame = {
    val survives = col("vec_id") % 10 =!= DeleteSlice
    val cent = centroidStateOf(quantized(spark, dir).filter(survives))
    val codes = pqCodes(spark, dir).filter(col("c_id") % 10 =!= DeleteSlice)
    pqAnswer(spark, dir, cent, codes, k, nProbe)
      .filter(col("q_id") % 10 =!= DeleteSlice)
  }

  /** (vec_id, band, code) — Bands rows per vector, codes computed in the
    * same map-side projection then unpacked with one posexplode (no
    * joins). Persisted: both sides of the e3 candidate join read it. */
  private def bandCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_bandCodes", dir) {
      val ppb = bandPlanes(Tables.embeddings(spark, dir).count())
      val codes = array((0 until Bands).map(j =>
        packedCode(col("q"), j * ppb, ppb)): _*)
      quantized(spark, dir)
        .select(col("vec_id"), posexplode(codes).as(Seq("band", "code")))
    }

  /** e3: embedding-cosine near-dup pairs — banded multi-probe LSH
    * candidate generation (a<b sharing ANY band code), then exact cosine
    * threshold on the persisted quantized vectors. */
  def embedNearDup(spark: SparkSession, dir: String, minCosine: Double = 0.3): DataFrame = {
    val cos = cosineWith(dotLong) _
    val bands = bandCodes(spark, dir)
    val qv = quantized(spark, dir)
    val cand = bands.select(col("vec_id").as("id_a"), col("band"), col("code"))
      .join(bands.select(col("vec_id").as("id_b"), col("band"), col("code")),
        Seq("band", "code"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(qv.select(col("vec_id").as("id_a"), col("q").as("qa")), "id_a")
      .join(qv.select(col("vec_id").as("id_b"), col("q").as("qb")), "id_b")
      .withColumn("cosine", cos(col("qa"), col("qb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** e8: RECALL EVALUATION of the IVF scale path against the exact
    * baseline — per query, how many of e5's top-3 are in e1's true
    * top-3. This is the operator you run before trusting an ANN config
    * at 100 TB: the exact side is computed once on a bounded query
    * sample (e1's stride), the approximate side is the production
    * configuration, and the output quantifies the recall the probe/
    * band parameters actually buy. Zero-hit queries are kept (left
    * join) — silently dropping them would inflate the metric. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // PanelCap·3 rows, consumed twice (hits + the zero-hit left join):
    // materialize so the brute-force leg runs once
    val exact = annTopk(spark, dir).filter(col("rnk") <= 3)
      .select("q_id", "c_id").materialized()
    val approx = annIvf(spark, dir).filter(col("rnk") <= 3).select("q_id", "c_id")
    val hits = exact.join(approx, Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / lit(3.0), 6)
          .as("recall_at_3"))
      .orderBy("q_id")
  }

  /** Swept nProbe values for e17 (the tuning curve's x-axis). */
  val SweepProbes: Seq[Int] = Seq(1, 2, 4)

  /** e17: the RECALL-vs-COST TUNING SWEEP — the evaluation an ANN
    * deployment runs to CHOOSE nProbe before committing the index
    * config at 100 TB: for each swept nProbe, the aggregate recall@3
    * of the e5 probe against e1's exact top-3 (e8's metric, rolled up)
    * next to the probe's COST — `candidates_scanned`, the total cell
    * membership the rerank touches (Σ over queries of the probed
    * cells' sizes, from the broadcast centroid state — no extra corpus
    * pass to price a config). One row per config; reading the curve
    * top-down shows exactly what each extra probe buys and costs.
    *
    * Scale shape: the swept branches are unions of the SAME memoized
    * substrates (quantized corpus, centroid state, exact top-k runs
    * once); each branch adds one probed-cells broadcast join and two
    * 1-row aggregates. Sweeping P configs costs P reranks of the
    * probed fraction — the evaluation is itself the bounded-query
    * discipline of e8 (exact side on the query stride only). */
  def annSweep(spark: SparkSession, dir: String): DataFrame = {
    // the exact leg is PanelCap·3 rows consumed 3× PER BRANCH (hits,
    // n_q, the cost semi-join) — materialized once, every branch
    // reads the checkpointed rows instead of re-deriving the
    // brute-force chain (the round-13 e17 regression: 9 re-derivations
    // of the panel machinery)
    val exact = annTopk(spark, dir).filter(col("rnk") <= 3)
      .select("q_id", "c_id").materialized()
    val cellSizes = centroids(spark, dir).select(col("label"), col("n"))
    val branches = SweepProbes.map { np =>
      val approx = annIvf(spark, dir, 3, np).select("q_id", "c_id")
      val hits = exact.join(approx, Seq("q_id", "c_id"))
        .agg(count(lit(1)).as("n_hit"))
      val nq = exact.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
      // cost over the SAME capped panel the recall legs score — the
      // exact side's q_ids ARE the panel (annTopk runs panelOf)
      val cost = probedCells(spark, dir, np)
        .join(exact.select("q_id").distinct(), Seq("q_id"), "left_semi")
        .join(broadcast(cellSizes), "label")
        .agg(sum("n").as("candidates_scanned"))
      hits.crossJoin(nq).crossJoin(cost)
        .select(lit(np.toLong).as("nprobe"), col("n_q"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / (col("n_q") * lit(3.0)), 6)
            .as("recall_at_3"),
          col("candidates_scanned"))
    }
    branches.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** e18: STREAMING INDEX UPSERT — e11's delta-only maintenance with
    * the delta arriving on a STREAM: a production vector lake does not
    * receive its new embeddings as a neat batch; they land continuously
    * (the reference's Kinesis ingestion shape, here the events p-family
    * discipline carried to the vector lake). Two streaming legs run
    * over the arrival directory, both behind a `dropDuplicates(vec_id)`
    * exactly-once gate (at-least-once delivery is the bus contract;
    * re-delivered vectors must neither double-count the centroid state
    * nor duplicate code rows — proven under whole-batch re-delivery in
    * Round11OpsSpec):
    *
    *  - **codes leg**: PQ-encode map-side per micro-batch (codes are a
    *    pure per-vector function of the fixed codebooks — the same
    *    [[pqCodesCol]] projection as batch e11) and APPEND into the
    *    `label=<cell>/` code lake through a checkpointed file sink —
    *    the streaming analog of e11's delta file landing, with the
    *    sink's commit log making replays idempotent;
    *  - **state leg**: the per-(cell, dim) centroid sums and member
    *    counts as a LIVE streaming aggregation (complete mode) — sums
    *    and counts are associative, so micro-batch accumulation is
    *    exact, exactly the argument that makes batch e11's merge exact
    *    (p27 merges its CDC state on the same grounds).
    *
    * The batch side then merges the streamed state into the persisted
    * base state (the identical full-outer element-wise addition as
    * e11) and serves through the ONE [[pqAnswer]] pipeline. The answer
    * is bit-equal to batch e11 (spec) and to a full rebuild — the
    * oracle is e6's statement verbatim.
    *
    * Scale shape: identical to e11 — the upsert reads the 100 TB base
    * corpus ZERO times; the streamed state is |cells|·Dims rows
    * (kilobytes) regardless of stream volume (p28's bounded-state
    * argument), and the encode is map-side inside each micro-batch.
    * The dedup state is the one volume-proportional piece (vec_id set)
    * — in production it rides a retention watermark like p9's. */
  def annStreamUpsert(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe): DataFrame = {
    val out = graft.functions.F.sinkPath("annstream", dir)
    // ---- base index: e11's landing under e18's own root (content is
    // a deterministic function of the dir), so e18 never depends on
    // e11 having run first ----
    landOnce(s"$out/base", Seq(s"$out/centroids_v1", s"$out/codes_base")) {
      centroidStateOf(quantized(spark, dir).filter(col("vec_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(s"$out/centroids_v1")
      writeCells(pqCodes(spark, dir).filter(col("c_id") % 10 =!= 0),
        s"$out/codes_base")
      spark.catalog.refreshByPath(s"$out/centroids_v1")
      spark.catalog.refreshByPath(s"$out/codes_base")
    }
    // ---- the delta ARRIVAL directory (staged once per JVM per dir;
    // the re-delivery spec drops duplicate copies in here) ----
    landOnce(s"$out/arrivals", Seq(s"$out/arrivals")) {
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 0)
        .write.mode("overwrite").parquet(s"$out/arrivals")
    }
    // ---- merge + serve, batch-side over the streamed artifacts ----
    val deltaState = ingestDeltaStream(spark, dir, out)
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("d"), col("s")))),
          x => x.getField("s")).as("sd"),
        min("n").as("nd"))
    spark.catalog.refreshByPath(s"$out/codes_delta")
    val cent = spark.read.parquet(s"$out/centroids_v1")
      .select(col("label"), col("s").as("sb"), col("n").as("nb"))
      .join(deltaState, Seq("label"), "full_outer")
      .select(col("label"),
        when(col("sb").isNull, col("sd"))
          .when(col("sd").isNull, col("sb"))
          .otherwise(zip_with(col("sb"), col("sd"), (a, b) => a + b)).as("s"),
        (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"))
      .withColumn("ss", dotQ(col("s"), col("s")))
    val codes = spark.read.parquet(s"$out/codes_base")
      .unionByName(spark.read.parquet(s"$out/codes_delta"))
      .select(col("c_id"), col("label").cast(IntegerType).as("label"),
        col("m"), col("code"))
    pqAnswer(spark, dir, cent, codes, k, nProbe)
  }

  /** e18's streaming leg. The codes query is CHECKPOINTED (its dedup
    * state + sink commit log persist across invocations — replays and
    * re-deliveries append nothing twice); the state query is a fresh
    * complete-mode aggregation per invocation (a complete-mode memory
    * sink restarted against an exhausted checkpoint would re-emit
    * nothing and present an EMPTY table — the fresh query re-reads the
    * small arrival set and re-derives the identical state, dedup
    * included, which is also what makes repeated bench passes measure
    * the maintenance op rather than a warm no-op). Both legs run as one
    * [[graft.streaming.StreamPipeline.run]]; the state leg's memory
    * sink is returned as a table. */
  private def ingestDeltaStream(spark: SparkSession, dir: String, out: String): DataFrame = {
    val schema = spark.read.parquet(s"$out/arrivals").schema
    // the delta's cell id must derive from the SAME composite geometry
    // as the base index — the one shared [[encodeCells]] definition
    def arrivals = encodeCells(spark, dir,
      spark.readStream.schema(schema).parquet(s"$out/arrivals")
        .dropDuplicates("vec_id"))
    val codes = arrivals
      .select(col("vec_id").as("c_id"), col("label"),
        posexplode(pqCodesCol(col("q"))).as(Seq("m", "code")))
      .select("c_id", "label", "m", "code")
      // cluster the micro-batch on the cell label for the same
      // one-file-per-cell reason as [[writeCells]]
      .repartition(col("label"))
      .writeStream.format("parquet")
      .option("path", s"$out/codes_delta")
      .option("checkpointLocation", s"$out/codes_ckpt")
      .partitionBy("label")
      .outputMode("append")
    graft.streaming.StreamPipeline.toMemory(spark, "e18", dir, "complete")(arrivals
      .select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
      .groupBy("label", "d").agg(sum("v").as("s"), count(lit(1)).as("n")), codes)
  }

  /** e20: HOT-CELL SPLIT — the rebalance leg e15 diagnoses and nothing
    * yet fixed: when one inverted-file cell grows hot (skewed corpus
    * drift after upserts e11/e18 and deletes e13), probes of that cell
    * scan disproportionately many candidates. The classic maintenance
    * move splits the hottest cell in two with one deterministic
    * farthest-pair 2-means step: seed A = the member farthest from the
    * cell centroid (the n-scaled exact-integer distance identity, no
    * division), seed B = the member farthest from A (excluding A —
    * identical-payload cells cannot degenerate to one seed), every
    * member assigned to the nearer seed (tie → A). The output is the
    * new sub-assignment a compaction pass (e14) would land as
    * `label=<cell>a/` and `label=<cell>b/` directories.
    *
    * Determinism: argmaxes are (distance desc, vec_id) total orders;
    * distances are exact int64; oracle replays seed choice and
    * assignment verbatim.
    *
    * Scale shape: hottest-cell resolution is a 1-row TakeOrdered off
    * the memoized centroid-state relation; everything after is bounded
    * by ONE cell's membership — two broadcast seed rows against the
    * member scan, no corpus pass, no pairwise join. Exactly the
    * request-path cost a production rebalance pays per split. */
  def annCellSplit(spark: SparkSession, dir: String): DataFrame = {
    val qv = quantized(spark, dir)
    val hot = qv.groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("label")).limit(1)
    val members = qv.join(broadcast(hot.select("label")), "label")
      .select(col("vec_id"), col("label"), col("q"))
    val centRow = centroids(spark, dir)
      .join(broadcast(hot.select("label")), "label")
      .select(col("s"), col("n"), col("ss"))
    val seedA = members.crossJoin(broadcast(centRow))
      .withColumn("dist2",
        col("n") * col("n") * dotLong(col("q"), col("q")) -
          lit(2L) * col("n") * dotLong(col("q"), col("s")) + col("ss"))
      .orderBy(col("dist2").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("a_id"), col("q").as("a_q"))
    val seedB = members.crossJoin(broadcast(seedA))
      .filter(col("vec_id") =!= col("a_id"))
      .withColumn("da",
        dotLong(col("q"), col("q")) - lit(2L) * dotLong(col("q"), col("a_q")) +
          dotLong(col("a_q"), col("a_q")))
      .orderBy(col("da").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("b_id"), col("q").as("b_q"))
    members.crossJoin(broadcast(seedA)).crossJoin(broadcast(seedB))
      .withColumn("da",
        dotLong(col("q"), col("q")) - lit(2L) * dotLong(col("q"), col("a_q")) +
          dotLong(col("a_q"), col("a_q")))
      .withColumn("db",
        dotLong(col("q"), col("q")) - lit(2L) * dotLong(col("q"), col("b_q")) +
          dotLong(col("b_q"), col("b_q")))
      .select(col("vec_id"), col("label").as("old_label"),
        when(col("da") <= col("db"), lit(0L)).otherwise(lit(1L)).as("sub"))
      .orderBy("vec_id")
  }

  /** g5: HUBNESS DIAGNOSTIC — the classic high-dimensional embedding
    * pathology check: in a healthy embedding space the exact k-NN
    * graph's in-degrees concentrate near k·|queries|/|corpus|; hub
    * vectors that appear in MANY queries' top-k (a symptom of
    * norm/anisotropy problems) degrade every retrieval metric while
    * recall still looks fine. This reports every vector with in-degree
    * ≥ 2 over e1's exact top-k graph with its share of all edges (ppm)
    * — the table read next to e8's recall before trusting an
    * embedding model.
    *
    * Scale shape: a map-combined groupBy over e1's bounded
    * (|queries|·k)-row output plus a 1-row broadcast edge total —
    * evaluation-scale like e8/e17, never corpus-scale; at 100 TB the
    * same report runs over the sampled query panel every offline
    * eval already pays for. */
  def annHubness(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val edges = annTopk(spark, dir, k).select("c_id")
    val total = edges.agg(count(lit(1)).as("n_edges"))
    edges.groupBy("c_id").agg(count(lit(1)).as("in_degree"))
      .filter(col("in_degree") >= 2)
      .crossJoin(broadcast(total))
      .select(col("c_id"), col("in_degree"),
        expr("(1000000 * in_degree) div n_edges").as("share_ppm"))
      .orderBy(col("in_degree").desc, col("c_id"))
  }

  /** e21: COMPRESSED-INDEX BAKE-OFF — e8's recall discipline turned on
    * the codec choice itself: the three compressed indexes the library
    * ships (e6 IVF+PQ, e19 IVF+SQ8, e22 IVF+BQ) evaluated head-to-head
    * against the exact top-3 on the same query panel — the one-table
    * answer to "which codec do I deploy". `bytes_per_vec` carries the
    * byte math (PQ: one code per [[SubDim]]-dim subspace = Dims/SubDim
    * bytes; SQ8: one code per dimension = Dims bytes; BQ: one BIT per
    * dimension = Dims/8 bytes) so the fidelity-per-byte decision reads
    * off the table itself.
    *
    * Scale shape: both answers and the exact baseline are the bounded
    * evaluation panels e6/e19/e1 already compute (memoized substrates
    * shared); scoring is two dedup-output-scale joins + 1-row
    * aggregates — evaluation-scale, like e8/e17/g5. */
  def annIndexEval(spark: SparkSession, dir: String): DataFrame = {
    // consumed twice per codec branch — materialize like e17's
    val exact = annTopk(spark, dir).filter(col("rnk") <= 3)
      .select("q_id", "c_id").materialized()
    val nq = exact.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
    val branches = Seq(
      ("ivf_bq", annBq(spark, dir), (Dims / 8).toLong),
      ("ivf_pq", annPq(spark, dir), (Dims / SubDim).toLong),
      ("ivf_sq8", annSq(spark, dir), Dims.toLong)).map { case (name, ans, bytes) =>
      val hits = exact.join(ans.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .agg(count(lit(1)).as("n_hit"))
      hits.crossJoin(broadcast(nq))
        .select(lit(name).as("index_kind"), lit(bytes).as("bytes_per_vec"),
          col("n_q"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / (col("n_q") * lit(3.0)), 6)
            .as("recall_at_3"))
    }
    branches.reduce(_ unionByName _).orderBy("index_kind")
  }

  /** SQ8 quantization levels (codes 0..SqLevels). */
  val SqLevels = 255L

  /** Per-dimension SQ8 range stats (d, mn, mx) over the quantized
    * corpus — Dims rows, broadcast into the encode and the ADC scoring
    * join. Unlike e6's fixed md5 codebooks this IS a (one-pass,
    * associative min/max) training step: the classic trade of scalar
    * vs product quantization. */
  private[graft] def sqStats(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_sq_stats", dir) {
      quantized(spark, dir)
        .select(posexplode(col("q")).as(Seq("d", "v")))
        .groupBy("d").agg(min("v").as("mn"), max("v").as("mx"))
    }

  /** The SQ8 code rows (c_id, label, d, code, recon255) — one map-side
    * projection against the broadcast range stats; recon255 =
    * 255·mn + code·(mx−mn) is the ×255-scaled reconstruction, kept
    * integer so ADC sums are exact (|qv255| ≤ 255·|v|, diff² ≤ ~1e12,
    * ×Dims ≈ 7e13 — inside int64 with 5 decimal orders to spare). */
  private[graft] def sqCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_sq_codes", dir) {
      quantized(spark, dir)
        .select(col("vec_id").as("c_id"), col("label"),
          posexplode(col("q")).as(Seq("d", "v")))
        .join(broadcast(sqStats(spark, dir)), "d")
        .withColumn("code",
          when(col("mx") > col("mn"),
            expr(s"(v - mn) * $SqLevels div (mx - mn)")).otherwise(lit(0L)))
        .select(col("c_id"), col("label"), col("d"), col("code"),
          (col("mn") * lit(SqLevels) +
            col("code") * (col("mx") - col("mn"))).as("recon255"))
    }

  /** [[sqCodes]] folded to ONE ARRAY row per vector (recon255 in
    * dimension order) — the ADC-scoring substrate. Scoring joins carry
    * one row per candidate instead of Dims rows, so the probe-bounded
    * ADC join volume drops ×Dims while the integer math stays
    * bit-identical (zip_with/aggregate over the same recon255 values;
    * the 10× scale point measured the per-dim-join e19 at 59× cost on
    * 10× data — the array form removes that constant). The per-dim
    * rows remain the stored-codes truth for the code-level spec and
    * the e21 byte math. */
  private[graft] def sqCodeArrays(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_sq_code_arr", dir) {
      sqCodes(spark, dir)
        .groupBy("c_id", "label")
        .agg(transform(
          array_sort(collect_list(struct(col("d"), col("recon255")))),
          s => s.getField("recon255")).as("recon_arr"))
    }

  /** e19: IVF+SQ8 ANN — e6's composition with a SCALAR quantizer in
    * the compressed-scoring role: one uint8 code per DIMENSION (vs
    * PQ's one code per 8-dim subspace), reconstructing each coordinate
    * on the per-dim [mn, mx] range learned in one associative pass.
    * 4× the code bytes of PQ but no codebook training and a far
    * cheaper encode (a subtract-multiply-divide per coordinate vs a
    * 16-way nearest-centroid search per subspace) — the standard
    * "fidelity per byte vs build cost" alternative every vector store
    * ships next to PQ (FAISS's SQ8 vs PQ8). IVF still does the
    * PRUNING (compression never bounds candidate volume); asymmetric
    * distance = Σ_d (255·q_d − recon255_d)² in exact int64, shortlist
    * PqShortlist by (adc, c_id), exact-cosine rerank top-k — e6's
    * presentation, so the two compressed indexes are directly
    * comparable row-for-row.
    *
    * Scale shape: stats are Dims rows (broadcast); encode is map-side
    * against the scan; the ADC join volume is probed-cells ×
    * candidates × Dims rows — same profile as e6's ADC at 8× the dim
    * granularity, bounded by the IVF probe, never corpus². */
  def annSq(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe, shortlist: Int = PqShortlist): DataFrame = {
    val cos = cosineWith(dotLong) _
    val qv = quantized(spark, dir)
    val q255 = qv.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"),
        transform(col("q"), v => v * lit(SqLevels)).as("q255"))
    val probed = probedCells(spark, dir, nProbe).select("q_id", "label")
    // array-form ADC: one row per (query, candidate), the whole
    // Σ_d (255·q_d − recon255_d)² inside one codegen'd expression —
    // identical integers to the per-dim join, at 1/Dims the join volume
    val adc = probed.join(sqCodeArrays(spark, dir), "label")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(q255), "q_id")
      .withColumn("adc", expr(
        "aggregate(zip_with(q255, recon_arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .select("q_id", "c_id", "adc")
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc"), col("c_id"))
    val short = adc.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist).select("q_id", "c_id")
    rankTopk(
      short
        .join(qv.select(col("vec_id").as("q_id"), col("q").as("qq")), "q_id")
        .join(qv.select(col("vec_id").as("c_id"), col("q").as("cq")), "c_id")
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }

  /** Per-vector sign codes for e22: one bit per DIMENSION (the sign of
    * the quantized coordinate), packed into TWO 32-bit words per vector
    * rather than one 64-bit word — a `1L << 63` differs between
    * engines' overflow conventions, while two sub-2^32 sums are exact
    * BIGINTs everywhere. Map-side over the memoized [[quantized]]
    * projection (zero shuffle), like every coarse code in the family. */
  private[graft] def bqCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoized(spark, "ann_bq_codes", dir) {
      def word(off: Int): Column =
        (0 until 32).map(i =>
          when(col("q")(off + i) > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _)
      quantized(spark, dir).select(col("vec_id"), col("label"),
        word(0).as("bq_lo"), word(32).as("bq_hi"))
    }

  /** e22: IVF+BQ ANN — e6/e19's composition with BINARY quantization in
    * the compressed-scoring role: ONE SIGN BIT per dimension (vs SQ8's
    * byte per dimension, PQ's 4 bits per 8-dim subspace), the cheapest
    * tier every vector store ships below PQ/SQ (FAISS's binary indexes,
    * the "BQ" tier in serving systems): 8 bytes/vector, no training, no
    * codebook, and candidate scoring collapses to two XOR+popcounts —
    * exercised here through the engines' codegen'd `bit_count` rather
    * than any arithmetic reconstruction. IVF still does the PRUNING
    * (compression never bounds candidate volume): probe [[NProbe]]
    * cells, rank the probed candidates by hamming distance (tie-break
    * c_id), shortlist [[PqShortlist]], exact-cosine rerank top-k —
    * e6/e19's presentation, so the three compressed tiers are directly
    * comparable row-for-row.
    *
    * Scale shape: the code build is a map-side projection of the one
    * memoized corpus scan; the hamming join volume is probed-cells ×
    * candidates with TWO LONG COLUMNS per side (vs e19's 64-long
    * arrays) — the narrowest candidate relation in the family, bounded
    * by the adaptive IVF probe, never corpus². */
  def annBq(spark: SparkSession, dir: String, k: Int = 3,
      nProbe: Int = NProbe, shortlist: Int = PqShortlist): DataFrame = {
    val cos = cosineWith(dotLong) _
    val qv = quantized(spark, dir)
    val codes = bqCodes(spark, dir)
    val qCodes = codes.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("q_id"),
        col("bq_lo").as("q_lo"), col("bq_hi").as("q_hi"))
    val probed = probedCells(spark, dir, nProbe).select("q_id", "label")
    val ham = probed
      .join(codes.select(col("vec_id").as("c_id"), col("label"),
        col("bq_lo"), col("bq_hi")), "label")
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(qCodes), "q_id")
      .withColumn("hamming",
        bit_count(col("q_lo").bitwiseXOR(col("bq_lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("bq_hi"))))
      .select("q_id", "c_id", "hamming")
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("hamming"), col("c_id"))
    val short = ham.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist).select("q_id", "c_id")
    rankTopk(
      short
        .join(qv.select(col("vec_id").as("q_id"), col("q").as("qq")), "q_id")
        .join(qv.select(col("vec_id").as("c_id"), col("q").as("cq")), "c_id")
        .withColumn("score", cos(col("qq"), col("cq"))),
      k)
  }
}
