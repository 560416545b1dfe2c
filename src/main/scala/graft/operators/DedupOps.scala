package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.F._

/** Document-deduplication operator family: exact, n-gram Jaccard,
  * MinHash+LSH banding, SimHash — the four standard tiers of a
  * training-data dedup stage.
  *
  * Scale design: nothing here ever does all-pairs comparison. Candidate
  * pairs come from equality joins on derived keys (fingerprint, shared
  * n-gram with document-frequency pruning, LSH band signature, SimHash
  * chunk), so at 100 TB the cost is one shuffle per candidate-key space,
  * proportional to true-duplicate density rather than |docs|².
  *
  * Signature construction is shuffle-minimal: the SimHash signature is a
  * SINGLE hash aggregation into one 60-slot vote buffer (no row
  * explosion), and every signature that feeds a self-join is persisted
  * first so the join's two sides read the materialized signature instead
  * of recomputing the tokenize→hash lineage. On a cluster the persists
  * below would be checkpoints/shuffle-reuse; the plan shape is the same.
  *
  * Oracle portability: every hash is the md5-based F.hash60, modular
  * arithmetic stays inside int64, so DuckDB reproduces the exact same
  * signatures, candidates and scores.
  */
object DedupOps {

  /** Session-scoped memo of persisted intermediate DataFrames, so the
    * same signature build is materialized once per (session, sfDir) even
    * when several operators (d2/d3 share docNgrams; e2/e3 share buckets)
    * or both sides of a self-join need it. Concurrent first callers of a
    * key share one build, a failed build is built again by the next
    * caller, and a build that waits on itself fails naming the keys
    * ([[graft.Once]]). Every substrate persists at deserialized
    * `MEMORY_AND_DISK`: substrates are re-read per query, and on a
    * cluster they partition across executors. */
  private val memo = new graft.Once[(SparkSession, String, String), DataFrame](_._2)
  private[operators] def memoized(spark: SparkSession, key: String, dir: String)(
      build: => DataFrame): DataFrame = {
    MemoTrace.record(key)
    memo((spark, key, dir)) {
      MemoTrace.push(key)
      try build.persist(StorageLevel.MEMORY_AND_DISK) finally MemoTrace.pop()
    }
  }

  /** Dev-only memo-topology recorder (see [[graft.DocGen]]): when
    * `edges` is non-null every [[memoized]] ACCESS records an
    * (owner → key) edge, where the owner is the memo build in progress
    * on this thread (nested substrate builds attribute their inner
    * accesses to the substrate, not the query) or else the query label
    * the tracer installed. Null owner or null `edges` ⇒ zero work, so
    * production paths pay one volatile read. */
  private[graft] object MemoTrace {
    @volatile var edges: java.util.concurrent.ConcurrentLinkedQueue[(String, String)] = null
    @volatile var label: String = null
    private val owner = new ThreadLocal[List[String]] {
      override def initialValue: List[String] = Nil
    }
    def record(key: String): Unit = {
      val e = edges
      if (e != null) {
        val own = owner.get() match { case h :: _ => h; case Nil => label }
        if (own != null && own != key) e.add((own, key))
      }
    }
    def push(key: String): Unit = owner.set(key :: owner.get())
    def pop(): Unit = owner.set(owner.get().drop(1))
  }

  /** Release every memoized persist for a session — call between
    * experiments (the determinism tests do) or before retiring a
    * long-lived session; otherwise the memo pins its signature builds
    * for the session lifetime by design (they are re-read per query).
    * A clear racing an in-flight build unpersists it once it is built. */
  def clearMemo(spark: SparkSession): Unit =
    memo.removeWhere(_._1 eq spark, unpersist)

  private def unpersist(df: DataFrame): Unit = df.unpersist(blocking = false): Unit

  /** Release only the persists built for one data directory — the memo
    * lifecycle hook for long-lived sessions that sweep many dirs
    * (Verify/Bench call this after finishing a dir, so the session never
    * pins more than one dir's substrates at a time). */
  def clearMemo(spark: SparkSession, dir: String): Unit =
    memo.removeWhere(k => (k._1 eq spark) && k._3 == dir, unpersist)

  /** Token 3-gram array (empty when the doc has < 3 tokens). */
  private def ngramsExpr: Column = expr(
    """CASE WHEN size(t) >= 3
      |  THEN transform(sequence(0, size(t) - 3), i -> array_join(slice(t, i + 1, 3), ' '))
      |  ELSE array() END""".stripMargin)

  /** Distinct (doc_id, gram) pairs — the shared candidate substrate for
    * d2/d3/d8/d13/d16/t13/s10, persisted once per session+dir. The
    * `ngram` column carries the gram's hash60 FINGERPRINT (int64), not
    * the string: the hash is applied map-side BEFORE the distinct, so
    * every shuffle this substrate feeds (the distinct itself, the DF
    * count, both self-join sides) moves 8-byte keys instead of ~30-byte
    * salted trigram strings. At the 3.2M-doc carve the string form's
    * substrate chain spilled > 75 GB (ENOSPC on the local disk — the
    * substrate IS the shuffle at this scale); fingerprints cut it ~4×.
    * Semantics are unchanged for every consumer: all of them either
    * join/group on gram equality (invariant under an injective-in-
    * practice hash; a 60-bit collision needs ~10⁹ distinct grams for
    * even-odds WITHIN one doc's ~10² grams it is ~1e-14) or re-hash the
    * gram — and hash60 here IS the value d3/s10's oracles mirror
    * (md5-based, engine-portable), so those consumers now read the
    * column directly instead of hashing a second time. */
  private[graft] def docNgrams(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "docNgrams", dir) {
      val raw = Tables.documents(spark, dir)
      // Parallelism guard (the AnnOps.quantized discipline applied to
      // the documents substrate): tokenize/shingle CPU is orders of
      // magnitude above scan-byte cost, so a poorly-chunked file — a
      // one-row-group 3.2M-doc carve before flatten.py, or any lake
      // file with giant row groups — would hand the whole corpus to
      // 1-2 tasks. Width from ROW count (~50k docs/partition), capped
      // at cores; a no-op whenever the scan already arrives wider.
      val cores = spark.sparkContext.defaultParallelism
      val want = math.min(cores.toLong,
        math.max(1L, raw.count() / 50000L)).toInt
      val spread =
        if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
      spread
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), explode(ngramsExpr).as("ng"))
        .select(col("doc_id"), hash60(col("ng")).as("ngram"))
        .distinct()
    }

  /** d1: exact dedup — md5 fingerprint of the normalized token stream,
    * keep the lowest doc_id per group. One hash-groupBy shuffle. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(array_join(tokens(col("text")), " ")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  /** Max document frequency for an n-gram to participate in candidate
    * generation (d2). Ubiquitous n-grams generate quadratic junk
    * candidates at scale; dropping them bounds the join fan-out. */
  val MaxNgramDf = 100L

  /** d2: n-gram Jaccard near-dup pairs.
    * distinct ngrams → DF-pruned inverted index → self-join on ngram →
    * |A∩B| via count, |A∪B| = |A|+|B|−|A∩B|. The pruned index feeds the
    * self-join (both sides) and the per-doc sizes, so it is persisted. */
  /** The DF-pruned inverted index — d2's candidate substrate, shared
    * with d8 (containment), persisted once per session+dir. */
  private def prunedIndex(spark: SparkSession, dir: String): DataFrame = {
    val ng = docNgrams(spark, dir)
    memoized(spark, "d2_pruned", dir) {
      ng.join(
        ng.groupBy("ngram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= MaxNgramDf).select("ngram"),
        "ngram")
    }
  }

  /** Pairwise distinct-ngram intersection counts over the pruned index
    * — the substrate BOTH d2 (symmetric Jaccard) and d8 (asymmetric
    * containment) rank from. Memoized: the index self-join is the
    * expensive half of both operators, and without the memo it ran once
    * per consumer (the d3/d5 lesson applied to the inverted index). */
  private def pairIntersections(spark: SparkSession, dir: String): DataFrame = {
    val pruned = prunedIndex(spark, dir)
    memoized(spark, "d2_inter", dir) {
      pruned.select(col("doc_id").as("doc_a"), col("ngram"))
        .join(pruned.select(col("doc_id").as("doc_b"), col("ngram")), "ngram")
        .filter(col("doc_a") < col("doc_b"))
        // Exchange FIRST, then one complete hash agg per partition.
        // The default partial-then-final shape is pathological for this
        // aggregation: the join stream is gram-ordered, a pair's shared
        // grams scatter across the whole gram range, so a map task's
        // partial hash map fills with ~its entire input's distinct
        // pairs, falls back to sort-based aggregation, and SORTS the
        // full candidate stream (Σ df² rows — 3.2B at the 3.2M-doc
        // carve; the sort spill exhausted an 80 GB disk where the whole
        // shuffled stream is ~25 GB compressed). Partitioned by the
        // pair key, each task's group count is |pairs|/tasks (bounded,
        // hash agg never falls back) and the exchange is the candidate
        // stream exactly once — the shape a 1000-executor run wants
        // too, since partial agg collapses ~nothing per map task.
        .repartition(col("doc_a"), col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
    }
  }

  /** Per-doc distinct pruned-ngram counts (the |A| denominators). */
  private def prunedSizes(spark: SparkSession, dir: String): DataFrame = {
    val pruned = prunedIndex(spark, dir)
    memoized(spark, "d2_sizes", dir) {
      pruned.groupBy("doc_id").agg(count(lit(1)).as("n_ng"))
    }
  }

  def ngramJaccard(spark: SparkSession, dir: String, minJaccard: Double = 0.18): DataFrame = {
    val sizes = prunedSizes(spark, dir)
    pairIntersections(spark, dir)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_ng").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_ng").as("nb")), "doc_b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard",
        round(col("inter").cast(DoubleType) / col("uni").cast(DoubleType), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash parameters: K permutations over a Mersenne-prime field,
    * banded K/BandRows-way for LSH. Permutation coefficients are derived
    * from md5 so the oracle can regenerate them. */
  val K = 16
  val BandRows = 4
  val P = 2147483647L // 2^31 − 1: keeps a*h + b < 2^62, inside int64

  /** MinHash signatures: one row per (doc_id, perm i) with the min hash
    * over the doc's shingle set. Persisted: it feeds the band build plus
    * both sides of the candidate verification join (3 uses).
    *
    * The graft_minhash_agg imperative aggregate: ONE pass over the
    * (doc_id, h) rows with a K-slot buffer, no 16× permutation
    * crossJoin, no extra shuffle tier. Bit-identical to
    * [[minhashSigDeclarative]] (same md5-derived coefficients). */
  private[graft] def minhashSig(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "minhashSig", dir) {
      docNgrams(spark, dir)
        .withColumn("h", col("ngram") % P) // ngram IS hash60(gram)
        .groupBy("doc_id")
        .agg(call_function("graft_minhash_agg", col("h")).as("mhs"))
        .select(col("doc_id"), posexplode(col("mhs")).as(Seq("i", "mh")))
    }

  /** Built-ins-only MinHash: the oracle-mirroring reference formulation
    * the specs compare [[minhashSig]] against. */
  private[graft] def minhashSigDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val perms = spark.range(K.toLong).select(col("id").cast(IntegerType).as("i"))
      .withColumn("pa", hash60(concat(lit("perm_a_"), col("i"))) % (P - 1) + 1L)
      .withColumn("pb", hash60(concat(lit("perm_b_"), col("i"))) % P)
    docNgrams(spark, dir)
      .withColumn("h", col("ngram") % P) // ngram IS hash60(gram)
      .crossJoin(broadcast(perms))
      .groupBy("doc_id", "i")
      .agg(min((col("pa") * col("h") + col("pb")) % P).as("mh"))
  }

  /** d3: MinHash + LSH banding. Band signature = md5 of the band's
    * minhashes in permutation order; candidates = pairs sharing any band;
    * est_jaccard = fraction of agreeing permutations.
    *
    * The verified pair set (NOT just the signature) is memoized: d5
    * builds its cluster graph from exactly these pairs, so without the
    * memo the band build + band self-join + verification joins would
    * re-execute once per consumer — at sf0.1 that recompute was 46% of
    * the whole benchmark. With it, d3 and d5 share one materialization. */
  /** LSH band signatures — md5 over each band's minhashes in
    * permutation order. Memoized and shared by d3 (self-join) and d10
    * (cross-carve join) so the banding semantics can never drift
    * between the two and the band build runs once per session. */
  private[graft] def lshBands(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "lshBands", dir)(
      bandsWith(minhashSig(spark, dir), BandRows))

  /** Band signatures at an arbitrary band width — the ONE banding
    * definition, shared by the production config (lshBands, width
    * [[BandRows]]) and d14's tuning sweep so swept configs measure the
    * exact machinery they would ship. */
  private def bandsWith(sig: DataFrame, rowsPerBand: Int): DataFrame =
    sig.withColumn("band", floor(col("i") / rowsPerBand).cast(IntegerType))
      .groupBy("doc_id", "band")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("i"), col("mh")))),
          s => s.getField("mh").cast(StringType)),
        ",")).as("bkey"))

  def minhashLsh(spark: SparkSession, dir: String, minEst: Double = 0.25): DataFrame =
    memoized(spark, s"d3_pairs:$minEst", dir) {
      val sig = minhashSig(spark, dir)
      val bands = lshBands(spark, dir)
      val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      cand
        .join(sig.select(col("doc_id").as("doc_a"), col("i"), col("mh").as("mha")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("i"), col("mh").as("mhb")),
          Seq("doc_b", "i"))
        .groupBy("doc_a", "doc_b")
        .agg((sum(when(col("mha") === col("mhb"), 1L).otherwise(0L))
          .cast(DoubleType) / K).as("est_jaccard"))
        .filter(col("est_jaccard") >= minEst)
    }.orderBy("doc_a", "doc_b")

  /** d10: CROSS-DATASET near-dup decontamination — training documents
    * that are near-duplicates of a held-out evaluation set (the x3
    * carve: doc_id % 20 == 0 stands in for the benchmark), found by
    * MinHash similarity rather than x3's exact n-gram overlap. Exact
    * overlap catches verbatim contamination; this catches the
    * paraphrased/reformatted copies that share most shingles but no
    * single 8-gram.
    *
    * Scale shape — deliberately DIFFERENT from d3's self-join: the eval
    * side is constant-size in production (a benchmark, not a crawl), so
    * its band signatures BROADCAST and the corpus side never shuffles
    * for the candidate join — band match is map-side. The signature
    * substrate is the memoized d3 one (one MinHashAgg pass serves d3,
    * d5, g2 and d10); only candidate verification touches the corpus
    * signatures again, proportional to candidates, not corpus². */
  def crossNearDup(spark: SparkSession, dir: String, minEst: Double = 0.25): DataFrame = {
    val sig = minhashSig(spark, dir)
    val bands = lshBands(spark, dir)
    val evalB = bands.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("eval_doc"), col("band"), col("bkey"))
    val trainB = bands.filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id").as("train_doc"), col("band"), col("bkey"))
    val cand = trainB.join(broadcast(evalB), Seq("band", "bkey"))
      .select("train_doc", "eval_doc").distinct()
    cand
      .join(sig.select(col("doc_id").as("train_doc"), col("i"), col("mh").as("mha")),
        "train_doc")
      .join(sig.select(col("doc_id").as("eval_doc"), col("i"), col("mh").as("mhb")),
        Seq("eval_doc", "i"))
      .groupBy("train_doc", "eval_doc")
      .agg((sum(when(col("mha") === col("mhb"), 1L).otherwise(0L))
        .cast(DoubleType) / K).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .orderBy("train_doc", "eval_doc")
  }

  /** d11: INCREMENTAL-INGEST near-dup check — the daily-drop question:
    * which documents of an incoming batch (doc_id % 4 == 0 stands in
    * for today's crawl) are near-duplicates of the EXISTING corpus?
    * Complements d10's architecture: there the small side (a benchmark)
    * BROADCASTS; here the incoming batch is assumed too large to
    * broadcast but its band-key set fits a BLOOM FILTER, so the
    * existing corpus's bands prefilter MAP-SIDE (s7's runtime-filter
    * machinery, reused) before the band equality join — the corpus
    * rows that could never match (the overwhelming majority on a daily
    * drop) never leave the map side. The bloom admits only false
    * positives, and the join enforces exact band equality after it, so
    * the result is EXACTLY the unfiltered join's (pinned by spec).
    *
    * Scale: existing-side shuffle volume ∝ bloom hit rate (≈ incoming
    * band count / corpus band count + ε), not corpus size; signature
    * and band substrates are the memoized d3 ones. */
  def incrementalNearDup(spark: SparkSession, dir: String,
      minEst: Double = 0.25): DataFrame = {
    val sig = minhashSig(spark, dir)
    val bands = lshBands(spark, dir)
    val incoming = bands.filter(col("doc_id") % 4 === 0)
    val existing = bands.filter(col("doc_id") % 4 =!= 0)
    val pre = SketchOps.bloomPredicate(
      incoming.select("bkey").distinct(), "bkey", col("bkey"))
    val cand = existing.filter(pre)
      .select(col("doc_id").as("existing_doc"), col("band"), col("bkey"))
      .join(incoming.select(col("doc_id").as("incoming_doc"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select("incoming_doc", "existing_doc").distinct()
    cand
      .join(sig.select(col("doc_id").as("incoming_doc"), col("i"), col("mh").as("mha")),
        "incoming_doc")
      .join(sig.select(col("doc_id").as("existing_doc"), col("i"), col("mh").as("mhb")),
        Seq("existing_doc", "i"))
      .groupBy("incoming_doc", "existing_doc")
      .agg((sum(when(col("mha") === col("mhb"), 1L).otherwise(0L))
        .cast(DoubleType) / K).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .orderBy("incoming_doc", "existing_doc")
  }

  /** Label-propagation iterations for d5 (bounded — see scaladoc). */
  val ClusterIters = 3

  /** The SYMMETRIZED near-dup edge list (both directions of every d3
    * pair), localCheckpoint'd once — the round substrate d5's bounded
    * loop and g4's converge-or-cap loop share, so the two cluster
    * variants run over the IDENTICAL graph (the edgesOf discipline of
    * g1/g3). The pair graph comes straight from the memoized d3
    * materialization — no recompute of the band/verification joins
    * when d3 already ran. */
  private[graft] def neardupEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select("doc_a", "doc_b")
    // localCheckpoint(eager): ONE materialization job with the lineage
    // truncated at the checkpoint — the band-join plan can't double
    // into every propagation round, and there is no separate count()
    // job (the r2 persist+count formulation paid an extra aggregation
    // job purely to force materialization).
    pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .materialized()
  }

  /** Every node of the near-dup graph labeled with its own id — round 0
    * of both label-propagation loops. */
  private[graft] def lpInit(edges: DataFrame): DataFrame =
    edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .materialized()

  /** One label-propagation round: label := min(own, neighbors') — THE
    * single round definition d5 (bounded) and g4 (converge-or-cap)
    * both replay; one join + one map-combined groupBy on the (small)
    * pair graph, NOT on the corpus. */
  private[graft] def lpRoundOver(edges: DataFrame)(labels: DataFrame): DataFrame = {
    val nb = edges
      .join(labels.select(col("doc_id").as("nb_id"), col("label").as("nb_label")),
        col("doc_b") === col("nb_id"))
      .groupBy(col("doc_a").as("upd_id"))
      .agg(min("nb_label").as("nb_min"))
    labels
      .join(nb, col("doc_id") === col("upd_id"), "left")
      .select(col("doc_id"),
        least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
  }

  /** d5: near-duplicate CLUSTERS — connected components over the
    * MinHash-LSH pair graph via bounded label propagation: every doc
    * starts labeled with its own id; each round takes the min of its own
    * and its neighbors' labels. `ClusterIters` rounds merge any
    * component of diameter ≤ ClusterIters (near-dup clusters are tiny
    * and dense, so this converges immediately in practice; the
    * iterate-to-fixpoint form — exact at ANY diameter — is g4,
    * replaying the identical [[lpRoundOver]] round). The oracle
    * replays the exact same rounds, so results match even if some
    * pathological chain hasn't converged. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = neardupEdges(spark, dir)
    var labels = lpInit(edges)
    for (_ <- 1 to ClusterIters)
      labels = lpRoundOver(edges)(labels).materialized()
    labels.select(col("doc_id"), col("label").as("cluster_id")).orderBy("doc_id")
  }

  /** The d5 cluster partition extended to the WHOLE corpus:
    * (doc_id, cluster_id) with d5's label where the doc is in the
    * near-dup pair graph, the doc's own id otherwise (singleton).
    * Shared by d18 (weights), g6 (spectrum) and anything else that
    * reads dedup structure corpus-wide — one left join over the
    * memoized d5 labels, linear in the corpus. */
  private[graft] def corpusClusters(spark: SparkSession, dir: String): DataFrame = {
    val clusters = nearDupClusters(spark, dir).select("doc_id", "cluster_id")
    Tables.documents(spark, dir).select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
  }

  /** d18: SOFT dedup — per-document training weights from near-dup
    * cluster size, the drop-free alternative to d5-then-discard: every
    * doc in a near-dup cluster of size s gets weight 1/s (int64 ppm,
    * floor div), so each distinct content unit contributes ~unit mass
    * to the training mix regardless of how many copies the crawl
    * caught. Standard soft-dedup discipline (downweight, don't drop) —
    * the mixer (x4) can consume these weights where a hard d5 keep-list
    * would lose the duplicates' provenance entirely. Docs outside the
    * d5 pair graph are singletons: cluster_id = doc_id, weight 1.
    * The weight is FLOORED at 1 ppm (greatest(1, 10⁶ div s)): past
    * 10⁶-member clusters integer floor-division would zero the whole
    * cluster's mass — the giant-LSH-chain case g6 exists to flag —
    * where soft dedup's contract is ~unit mass per content unit. The
    * oracle mirrors the identical GREATEST.
    *
    * Scale shape: rides the MEMOIZED d5 label-propagation output
    * (pair-graph-scale, never corpus²) plus one corpus-key left join
    * and a cluster-size aggregate — both shuffle on doc_id/cluster_id
    * and stay linear in the corpus. */
  def dupWeights(spark: SparkSession, dir: String): DataFrame = {
    val withC = corpusClusters(spark, dir)
    val csz = withC.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    withC.join(csz, "cluster_id")
      .withColumn("weight_ppm", expr("greatest(1L, 1000000 div cluster_size)"))
      .select("doc_id", "cluster_id", "cluster_size", "weight_ppm")
      .orderBy("doc_id")
  }

  /** Max edit distance for d6 fuzzy matching. */
  val MaxEditDist = 4

  /** d6: fuzzy string matching — near-identical catalog names by edit
    * distance, with prefix blocking. The vocabulary is deduplicated
    * FIRST (distinct names), so the quadratic comparison runs on the
    * distinct-name space, never on the row space: 2000 rows with 64
    * distinct names compare 64×64-within-block, not 2000×2000. Recall
    * is by-design limited to pairs agreeing on the 2-char prefix (the
    * standard blocked-matching trade — the oracle applies the identical
    * rule). `levenshtein` is a codegen'd built-in in both engines. */
  def fuzzyNames(spark: SparkSession, dir: String, maxDist: Int = MaxEditDist): DataFrame =
    fuzzyNamesOf(Tables.part(spark, dir).select("p_name").distinct(), maxDist)

  /** The d6 core over an explicit distinct-name relation (the seam the
    * hot-prefix spec drives with constructed vocabularies).
    *
    * Blocking key is (2-char prefix, LENGTH BAND) — the secondary band
    * de-skews hot prefixes: real name distributions concentrate on
    * common prefixes, and a prefix-only block makes that block's
    * within-block work quadratic in its population. Banding is
    * LOSSLESS, not a recall trade: levenshtein(a, b) >= |len(a) −
    * len(b)|, so with band width maxDist + 1 any pair within maxDist
    * has band distance <= 1. Side A emits its band ± 1 (three DISTINCT
    * keys), side B its own band: every qualifying pair meets on
    * EXACTLY one key — no duplicate candidates, no distinct pass — and
    * the join stays a plain equality hash join. Per-block population
    * drops from |prefix| to |prefix ∩ length-window|, bounding the
    * quadratic term by length concentration instead of prefix
    * popularity. The oracle keeps the plain prefix rule: band output =
    * prefix output, by the triangle bound. */
  private[graft] def fuzzyNamesOf(names: DataFrame, maxDist: Int): DataFrame = {
    val bandW = maxDist + 1
    val a = names.select(col("p_name").as("name_a"))
      .withColumn("pb", expr(s"CAST(length(name_a) div $bandW AS INT)"))
      .select(col("name_a"), substring(col("name_a"), 1, 2).as("pfx"),
        explode(array(col("pb") - 1, col("pb"), col("pb") + 1)).as("band"))
    val b = names.select(col("p_name").as("name_b"))
      .select(col("name_b"), substring(col("name_b"), 1, 2).as("pfx"),
        expr(s"CAST(length(name_b) div $bandW AS INT)").as("band"))
    a.join(b, Seq("pfx", "band"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= maxDist)
      .select("name_a", "name_b", "edit_dist")
      .orderBy("name_a", "name_b")
  }

  /** SimHash geometry: 60-bit hashes (F.hash60), 4 blocking chunks of 15
    * bits — pigeonhole guarantees recall for hamming ≤ 3. */
  val SimBits = 60
  val ChunkBits = 15
  val MaxHamming = 3

  /** (doc_id, token, count, hash60) — the SimHash vote substrate. */
  private def tokCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("h", hash60(col("tok")))

  /** 60-bit SimHash of any (doc_id, c, h) vote relation — ONE
    * definition shared by d4 (token-frequency votes) and m6 (distinct
    * byte-shingle votes), so the two fuzzy sketches cannot drift.
    *
    * The graft_simhash_agg imperative aggregate: one 60-slot buffer
    * updated in a tight loop, ONE shuffle with map-side partial
    * aggregation and a constant-size plan. Bit-identical to the 60
    * declarative sums of [[simhashSigDeclarative]]. */
  private[graft] def simhashOf(votes: DataFrame): DataFrame =
    votes.groupBy("doc_id")
      .agg(call_function("graft_simhash_agg", col("c"), col("h")).as("simhash"))

  /** Per-doc 60-bit SimHash: token-frequency-weighted bit votes.
    * Persisted because the chunk self-join below reads it from both
    * sides. */
  private[graft] def simhashSig(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "simhashSig", dir)(
      simhashOf(tokCounts(spark, dir)))

  /** Built-ins-only SimHash: the oracle-mirroring reference formulation
    * the specs compare [[simhashSig]] against. */
  private[graft] def simhashSigDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val votes = (0 until SimBits).map(b =>
      sum(col("c") * (expr(s"shiftright(h, $b) & 1") * 2L - 1L)).as(s"s$b"))
    tokCounts(spark, dir)
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash"))
  }

  /** d4: SimHash near-dup pairs — chunk-equality blocking then exact
    * hamming via bit_count(xor). The blocking join's two sides both read
    * the persisted signature (K rows/doc, tiny). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(simhashSig(spark, dir))

  /** The 4×15-bit pigeonhole blocking + exact-hamming filter over any
    * (doc_id, simhash) signature — shared by d4 and m6 (the pigeonhole
    * guarantee is a property of the geometry, not the substrate). */
  private[graft] def simhashPairsOf(sig: DataFrame): DataFrame = {
    val chunkArr = array((0 until SimBits / ChunkBits).map(j =>
      expr(s"shiftright(simhash, ${j * ChunkBits}) & ${(1 << ChunkBits) - 1}")): _*)
    val chunks = sig.select(col("doc_id"), col("simhash"),
      posexplode(chunkArr).as(Seq("j", "chunk")))
    val cand = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
        col("j"), col("chunk"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
        col("j"), col("chunk")), Seq("j", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ha", "hb").distinct()
    cand.withColumn("hamming", expr("bit_count(ha ^ hb)").cast(LongType))
      .filter(col("hamming") <= MaxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** d8: CONTAINMENT near-dup pairs — the ASYMMETRIC companion to d2's
    * Jaccard: containment(a→b) = |A∩B| / |A| finds documents mostly
    * CONTAINED in another (quotes, excerpts, page-within-crawl), which
    * symmetric Jaccard misses whenever the containing document is much
    * larger. Reuses d2's DF-pruned inverted index (one substrate, two
    * metrics): intersections are computed once per unordered pair on
    * the a<b self-join, then MIRRORED into both directions — half the
    * join work of a full a≠b self-join, identical result. */
  def containmentPairs(spark: SparkSession, dir: String,
      minContainment: Double = 0.6): DataFrame = {
    val sizes = prunedSizes(spark, dir)
    val inter = pairIntersections(spark, dir)
    val directed = inter
      .select(col("doc_a").as("src"), col("doc_b").as("dst"), col("inter"))
      .unionByName(inter
        .select(col("doc_b").as("src"), col("doc_a").as("dst"), col("inter")))
    directed
      .join(sizes.select(col("doc_id").as("src"), col("n_ng").as("n_src")), "src")
      .filter(col("inter").cast(DoubleType) / col("n_src") >= minContainment)
      .select(col("src").as("doc_a"), col("dst").as("doc_b"),
        col("inter"), col("n_src"),
        round(col("inter").cast(DoubleType) / col("n_src"), 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing window size (w consecutive n-gram hashes per window) and
    * the fingerprint document-frequency cap (same fan-out bound as d2's
    * MaxNgramDf). */
  val WinnowW = 4
  val MaxFpDf = 100L

  /** d7: WINNOWING document fingerprints (the MOSS algorithm family,
    * Schleimer et al., SIGMOD 2003): hash every positional token 3-gram,
    * slide a w-wide window over the hash sequence, keep each window's
    * MINIMUM as a fingerprint — guaranteeing any shared run of
    * w + 2 tokens between two documents shares at least one fingerprint
    * (a positional-coverage guarantee MinHash's whole-document sampling
    * does not give). Pairs sharing ≥ 2 fingerprints are emitted with
    * their shared count.
    *
    * Scale shape: the hash sequence and its sliding-window minima are
    * PER-DOCUMENT quantities, so they are computed inside one narrow
    * projection with array higher-order functions — no posexplode of
    * 3n positional rows, no (doc_id) shuffle, no window sort; the only
    * exploded rows are the ≈ 2·n/w distinct fingerprints themselves
    * (a FRACTION of d2's every-distinct-ngram index). At 100 TB the
    * substrate build is a pure map over the scan. The DF cap bounds
    * the self-join fan-out exactly as in d2; candidate generation is
    * an equality join on the fingerprint value. */
  /** The winnowed fingerprint set of a (doc_id, text) frame — exposed
    * for the coverage-guarantee property test and the formulation-
    * equality spec (HOF sliding min vs the literal windowed min). */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    val w = WinnowW
    // window ending at 0-based hash position i covers hv[i-w+1 .. i] —
    // slice is 1-based, so start = i - (w - 2); docs with fewer than w
    // n-grams have no full window and contribute nothing
    val fpArr = array_distinct(transform(
      sequence(lit(w - 1), size(col("hv")) - 1),
      i => array_min(slice(col("hv"), i - (w - 2), lit(w)))))
    docs
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= w + 2) // < w+2 tokens ⇒ < w n-grams
      .withColumn("hv", transform(ngramsExpr, g => hash60(g)))
      .select(col("doc_id"), explode(fpArr).as("fp"))
  }

  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // the fingerprint set feeds three arms (DF cap + both self-join
    // sides) — persisted like the other signature substrates
    val fps = memoized(spark, "d7_fps", dir) {
      winnowFps(Tables.documents(spark, dir))
    }
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxFpDf).select("fp")
    val pf = fps.join(keep, "fp")
    pf.as("a")
      .join(pf.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // Exchange FIRST, then one complete hash agg per partition — the
      // pairIntersections discipline: the join stream arrives in FP
      // order, a pair's shared fingerprints scatter across the whole
      // fp range, so the default partial agg's map fills with ~every
      // distinct pair in the task and collapses ~nothing (at the
      // 3.2M-doc carve the partial-agg churn GC-wedged a 96 GB heap).
      // One exchange of the narrow pair stream; per-task group count
      // bounded at |pairs|/tasks.
      .repartition(col("doc_a"), col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("doc_a", "doc_b")
  }

  /** d9 passage length in tokens. */
  val PassageLen = 8

  /** d9: PASSAGE-level exact dedup — the sub-document granularity d1
    * misses: a boilerplate header or license block repeated across
    * otherwise-distinct documents never trips whole-doc fingerprints.
    * Documents are cut into consecutive non-overlapping 8-token
    * passages; a passage whose md5 appears in ≥ 2 DISTINCT documents is
    * reported with its occurrence/document counts and the lowest doc_id
    * (the canonical copy a cleaning pass would keep). Partial tail
    * passages (< 8 tokens) are excluded — they alias arbitrary prefixes.
    *
    * Scale shape: narrow explode (~n/8 rows per doc, no overlap blowup)
    * → ONE hash groupBy on the passage fingerprint with map-side
    * partial aggregation; count(DISTINCT doc_id) runs as the standard
    * two-phase expand — no joins, no per-doc state. At 100 TB this is
    * the same single-shuffle profile as d1 with 8× the row count. */
  /** The (doc_id, passage-md5) relation — d9's substrate, shared with
    * x8's boilerplate-incidence leg (one documents scan serves both). */
  private[operators] def passageFps(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "d9_passages", dir) {
      val p = PassageLen
      Tables.documents(spark, dir)
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(0, (size(t) + ${p - 1}) div $p - 1),
             |          u -> slice(t, u * $p + 1, $p))""".stripMargin)).as("w"))
        .filter(size(col("w")) === p) // full passages only
        .select(col("doc_id"), md5(array_join(col("w"), " ")).as("fp"))
    }

  def passageDedup(spark: SparkSession, dir: String): DataFrame = {
    passageFps(spark, dir)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("keep_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy("fp")
  }

  /** d12 cosine threshold: picked against the testdata's within-cluster
    * cosine distribution (p97 ≈ 0.28, max ≈ 0.47) so the dedup removes a
    * real ~16% slice while keeping the bulk — the knob a production run
    * tunes per corpus. */
  val SemDedupTau = 0.35

  /** d12: SEMANTIC DEDUP (SemDeDup-style) — near-duplicate pruning in
    * EMBEDDING space, the modern LLM-curation complement to the lexical
    * tiers d1–d11: paraphrases and re-renderings that share almost no
    * n-grams still land on near-identical embeddings. The classic
    * recipe (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    * corpus embeddings, then compare ONLY within each cluster —
    * candidate generation is the cluster assignment itself, never
    * all-pairs — and within a cluster keep the highest-priority member
    * of every near-dup neighborhood.
    *
    * Determinism discipline: priority = (distance-to-centroid asc,
    * vec_id asc) — medoid-first, total order, no randomness. A vector
    * is REMOVED iff some strictly-higher-priority member of its cluster
    * has cosine ≥ τ with it; `dup_of` reports the highest-priority such
    * witness. Cosines are exact-int dot products over the memoized
    * quantized embeddings (one IEEE division — bit-identical in the
    * oracle, which replays the Lloyd rounds and this rule verbatim).
    *
    * Scale shape: rides the ADAPTIVE sample-trained converged
    * assignment (ClusterOps.adaptiveStableAssign): k =
    * max(8, ⌈n/TargetCellSize⌉) from a 1-row count keeps per-cluster
    * size ~flat, so the within-cluster pair volume Σ_c n_c² ≈
    * n·TargetCellSize is LINEAR in the corpus (the fixed e7 demo K
    * made it (n/K)²·K — the 16×-on-10×-data quadratic the sf1 scale
    * point measured); Lloyd itself trains on a fixed md5-rank sample
    * so k ∝ n cannot make the per-round assignment quadratic either.
    * The self-join is an EQUALITY join on the cluster id with the
    * priority predicate as a post-join filter — one hash partitioning
    * by cluster. */
  def semanticDedup(spark: SparkSession, dir: String,
      tau: Double = SemDedupTau): DataFrame = {
    import spark.implicits._
    val m = ClusterOps.adaptiveStableAssign(spark, dir)
      .select("vec_id", "cid", "dist")
      .join(AnnOps.quantized(spark, dir), "vec_id")
      .select(col("cid"), col("dist"), col("vec_id"), col("q"))
    // PRIORITY-ORDERED EARLY-STOP SCAN per cluster, not a pair join.
    // The reported witness is the best (b_dist, b_id) cluster-mate with
    // cosine ≥ τ — which is exactly the FIRST above-τ mate when mates
    // are scanned in priority order. The declarative self-join
    // materializes every (vector, higher-priority mate) pair first —
    // Σ_c n_c² rows, which on a duplicate-heavy corpus (exact/ε-dups
    // pile into one cluster no quantizer can split — SemDeDup's known
    // precondition) is cluster-size-QUADRATIC: the n = 1.28e6 carve
    // (640 ε-copies per base vector) measured it wedged for tens of
    // minutes in pair generation alone. The scan pays one cluster
    // shuffle + a within-partition sort by (cid, dist, vec_id), then
    // per vector stops at its first witness: near-dup piles stop at
    // mate #1 (expected O(n) pairs total — the duplicates ARE the
    // early exit), and only the kept representatives pay a full
    // predecessor scan. Exact same integers/doubles as the join form:
    // one int64 dot per examined pair, cosineWith's cast order.
    // Memory contract: one cluster's packed vectors per task buffer —
    // bounded by max cluster size (the adaptive-k sizing keeps cells
    // ~250 outside degenerate piles; a ≥10⁶-member pile would need a
    // shard-the-cluster pass, the ClusterOps.K note's regime).
    // DUPLICATE-AWARE scan: the buffer holds only the FIRST instance of
    // each distinct vector, and a per-cell map memoizes each distinct
    // vector's scan outcome. Semantics-EXACT vs buffering every row,
    // by two invariants of the append-only priority buffer:
    //  (1) a duplicate can never be a later row's FIRST above-τ witness
    //      — its twin precedes it with the identical cosine, so the
    //      first hit lands on (or before) the twin;
    //  (2) a duplicate's own witness is its twin's hit if the twin had
    //      one (the shared prefix is unchanged — append-only), else the
    //      twin itself (the earliest entry after the twin's no-hit
    //      prefix, at cosine(q, q) ≥ τ for any τ ≤ 1; the τ compare is
    //      still evaluated on the computed double for exactness).
    // Without this, the scan is duplicate-BLIND: every member of an
    // ε-duplicate pile re-scans the cell's cross-pile prefix, and on a
    // duplicate-heavy corpus (SemDeDup's own precondition) a
    // mixed-pile cell degenerates to members × prefix dots — the
    // 1.28M-vector carve measured a 510-cell Lloyd convergence whose
    // largest mixed cells (19.9k members, ~70 distinct vectors per
    // 640-copy pile) wedged ONE task for 45+ minutes; distinct-q
    // scanning is O(distinct² + members) per cell and returns the
    // BIT-IDENTICAL output (same witnesses, same doubles).
    val t = tau
    val scanned = m.repartition(col("cid"))
      .sortWithinPartitions("cid", "dist", "vec_id")
      .as[(Long, Long, Long, Array[Long])]
      .mapPartitions { it =>
        final class QK(val a: Array[Long]) {
          override val hashCode: Int = java.util.Arrays.hashCode(a)
          override def equals(o: Any): Boolean = o match {
            case k: QK => java.util.Arrays.equals(a, k.a)
            case _ => false
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean, Option[Long], Option[Double])]
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Double)]
        // distinct vector → index into buf of the witness a duplicate
        // finds (the twin's hit, or the twin itself when it was kept)
        val seen = new java.util.HashMap[QK, java.lang.Integer]()
        var curCid = Long.MinValue
        def dotL(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        def emit(vid: Long, q: Array[Long], n2: Double): Unit = {
          val key = new QK(q)
          val memo = seen.get(key)
          // duplicate fast path: invariant (2) — one dot against the
          // memoized witness row, same double arithmetic as the full
          // scan. A kept twin's self-cosine is ≥ τ for any τ below
          // 1−1ulp (and a zero vector's NaN fails the compare exactly
          // as every later NaN would), so the c < t fall-through to
          // the full scan below can only fire at τ within an ulp of
          // 1.0 — kept for absolute exactness at any parameter.
          val fast = memo != null && {
            val w = buf(memo.intValue)
            val c = dotL(q, w._2).toDouble / math.sqrt(n2 * w._3)
            if (c >= t) { out += ((vid, curCid, false, Some(w._1), Some(c))); true }
            else if (memo.intValue == buf.length - 1) {
              // the twin is the last buffered entry, so the full scan
              // would end exactly where the memo compare did: kept
              out += ((vid, curCid, true, None, None)); true
            } else false // τ-within-ulp-of-1 / zero-vector: full scan
          }
          if (!fast) {
            var j = 0
            var hit = -1
            var sim = 0.0
            while (hit < 0 && j < buf.length) {
              val c = dotL(q, buf(j)._2).toDouble / math.sqrt(n2 * buf(j)._3)
              if (c >= t) { hit = j; sim = c }
              j += 1
            }
            if (hit >= 0) out += ((vid, curCid, false, Some(buf(hit)._1), Some(sim)))
            else out += ((vid, curCid, true, None, None))
            // buffer + memoize FIRST instances only (invariant 1): a
            // fall-through duplicate is emitted but never re-buffered
            if (memo == null) {
              buf += ((vid, q, n2))
              seen.put(key, if (hit >= 0) hit else buf.length - 1)
            }
          }
        }
        it.foreach { case (cid, _, vid, q) =>
          if (cid != curCid) { buf.clear(); seen.clear(); curCid = cid }
          val n2 = dotL(q, q).toDouble
          emit(vid, q, n2)
        }
        out.iterator
      }
      .toDF("vec_id", "cluster", "is_kept", "dup_of", "sim")
    scanned
      .select(col("vec_id"), col("cluster"), col("is_kept"),
        col("dup_of"), round(col("sim"), 6).as("sim"))
      .orderBy("vec_id")
  }

  /** d19: SEMANTIC DECONTAMINATION — the missing tier between x3/d10
    * and d12: x3 catches VERBATIM eval contamination (shared 8-grams),
    * d10 catches LEXICAL near-copies (MinHash), d12 catches semantic
    * dups WITHIN the corpus — but a benchmark answer paraphrased into
    * different tokens shares no grams, no shingles, and is not a
    * within-corpus pair. d19 closes it: training vectors whose
    * EMBEDDING is within cosine τ of any held-out eval vector (the x3
    * carve rule, vec_id % EvalMod == 0, stands in for the benchmark)
    * are flagged with their best witness; everything else is the keep
    * list (the anti-join leg x7's decon consumes for the lexical tier).
    *
    * Architecture is d10's broadcast-eval-side shape over d12's
    * embedding substrates: the eval carve is constant-size in
    * production (a benchmark, not a crawl), so its vectors probe the
    * memoized IVF centroid table (AnnOps.probedCellsOf — the same
    * dist2 identity and (dist2, label) tie-break as e5/e6/e9) and the
    * (eval vector × probed cell) relation BROADCASTS; the training
    * corpus joins it by CELL EQUALITY — map-side, no corpus shuffle —
    * and only probed-cell candidates pay the exact-int cosine.
    *
    * Determinism: cosines are exact-int dots over the memoized
    * quantized vectors (one IEEE sqrt+division — bit-identical in the
    * oracle); the witness rank orders (sim desc, eval_id asc) — the
    * e-family's presentation rule.
    *
    * Scale shape: corpus-side work is ONE map-side broadcast join +
    * a vec_id window over candidates (∝ eval size · cell size, never
    * corpus²); the probe is |eval| × cells against the broadcast
    * centroid state. Recall is by-design bounded by the IVF probe
    * (nProbe nearest cells) — the same trade e5 ships; a paraphrase
    * whose embedding lands outside the probed cells is missed, which
    * is the documented ANN-decon trade (raise nProbe to trade cost
    * for recall). */
  /** The (eval vector × probed cell) relation — (eval_id, eq, label,
    * e_n2), the constant-size broadcast side of the semantic-decon
    * probe. ONE definition shared by batch d19 and p40's in-stream
    * admission index so the two paths cannot fork in probe geometry
    * or norm arithmetic (the e18 anti-fork discipline). */
  private[graft] def deconProbes(spark: SparkSession, dir: String,
      nProbe: Int): DataFrame = {
    val evalQ = AnnOps.quantized(spark, dir)
      .filter(col("vec_id") % CorpusOps.EvalMod === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    AnnOps.probedCellsOf(evalQ, nProbe, AnnOps.centroids(spark, dir))
      .select(col("q_id").as("eval_id"), col("qq").as("eq"), col("label"))
      .withColumn("e_n2", dotLong(col("eq"), col("eq")).cast(DoubleType))
  }

  def semanticDecon(spark: SparkSession, dir: String,
      tau: Double = SemDedupTau, nProbe: Int = AnnOps.NProbe): DataFrame = {
    val qv = AnnOps.quantized(spark, dir)
    val probed = deconProbes(spark, dir, nProbe)
    val train = qv.filter(col("vec_id") % CorpusOps.EvalMod =!= 0)
      .withColumn("n2", dotLong(col("q"), col("q")).cast(DoubleType))
    // best witness by (sim desc, eval_id asc) through TopKPerKey's
    // bounded per-key heaps — d12's no-sort witness rule: a rank
    // window sorts every qualifying (train, eval-probe) pair, which
    // on a duplicate-heavy corpus is cell-size-quadratic. The
    // candidate relation is projected NARROW first so the heap never
    // shuffles vector payloads; norms are per-ROW so each pair
    // pays ONE dot (cosineTopkOf's identity — unchanged doubles).
    val cand = train.join(broadcast(probed), "label")
      .withColumn("sim",
        dotLong(col("q"), col("eq")).cast(DoubleType) / sqrt(col("n2") * col("e_n2")))
      .filter(col("sim") >= tau)
      .select(col("vec_id"), col("eval_id"), col("sim"))
    val hits = graft.plans.TopKPerKey(cand, Seq("vec_id"),
        Seq(("sim", false), ("eval_id", true)), 1)
      .select(col("vec_id"), col("eval_id").as("contam_of"), round(col("sim"), 6).as("sim"))
    train.select("vec_id").join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("contam_of").isNull.as("is_kept"),
        col("contam_of"), col("sim"))
      .orderBy("vec_id")
  }

  /** d13: ESTIMATOR QA for the MinHash path — e8's recall-evaluation
    * discipline applied to the dedup family. For every d3 candidate
    * pair: the number of agreeing permutations, the MinHash Jaccard
    * estimate, the EXACT n-gram Jaccard over the unpruned gram sets,
    * and the absolute error — the measurement you run before trusting
    * a (K, band) config to gate 100 TB of dedup decisions, exactly as
    * e8 runs before trusting an nProbe.
    *
    * Scale shape: every relation here is bounded by the MEMOIZED d3
    * pair set (output-of-dedup-scale) — pair members semi-join the
    * memoized gram substrate down to member-scale BEFORE the exact
    * intersection, so the corpus is never rescanned and nothing
    * quadratic-in-corpus exists; the agreeing-permutation recount is
    * K rows per member doc. Scores int64 ppm floor-div; est_ppm is
    * exact because matches/K has a power-of-two denominator. */
  def minhashEval(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select("doc_a", "doc_b")
    val sig = minhashSig(spark, dir)
    val ng = docNgrams(spark, dir)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val ngm = ng.join(members, "doc_id")
    val sizes = ngm.groupBy("doc_id").agg(count(lit(1)).as("n_ng"))
    val inter = pairs
      .join(ngm.select(col("doc_id").as("doc_a"), col("ngram")), "doc_a")
      .join(ngm.select(col("doc_id").as("doc_b"), col("ngram")), Seq("doc_b", "ngram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val matches = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("i"), col("mh").as("mha")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("i"), col("mh").as("mhb")),
        Seq("doc_b", "i"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("mha") === col("mhb"), 1L).otherwise(0L)).as("matches"))
    pairs
      .join(matches, Seq("doc_a", "doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_ng").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_ng").as("n_b")), "doc_b")
      .withColumn("inter0", coalesce(col("inter"), lit(0L)))
      .withColumn("est_ppm", expr(s"(1000000 * matches) div $K"))
      .withColumn("exact_ppm", expr("(1000000 * inter0) div (n_a + n_b - inter0)"))
      .select(col("doc_a"), col("doc_b"), col("matches"), col("est_ppm"),
        col("exact_ppm"), abs(col("est_ppm") - col("exact_ppm")).as("err_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** d14's swept band counts (rows per band = K / bands). Powers of two
    * aligned with K, so band boundaries NEST: a full 8-perm band match
    * implies both nested 4-perm matches implies all four 2-perm
    * matches — hence cand(2 bands) ⊆ cand(4) ⊆ cand(8), making cost
    * and recall PROVABLY monotone in the band count (spec-pinned as
    * actual set nesting, not just counts). */
  private[graft] val SweepBands = Seq(2, 4, 8)

  /** Bucket cap for d14's swept configs — d2's [[MaxNgramDf]] discipline
    * applied to band buckets: a swept bucket with more than this many
    * members is SKIPPED (its membership disclosed in `skipped_docs`,
    * never paired). Without it the most permissive swept key (2 perms)
    * collides heavily on a redundant corpus and the hottest bucket's
    * equality self-join is quadratic in bucket size — the one shape
    * that would not survive 100 TB. A production banding sweep caps its
    * probe buckets the same way. */
  val SweepBucketCap = 64L

  /** Swept band rows tagged with their bucket size — memoized so the
    * candidate leg, the skipped-mass leg and the nesting spec all read
    * ONE materialization per config. */
  private def sweepBands(spark: SparkSession, dir: String, bands: Int): DataFrame =
    memoized(spark, s"d14_bands_$bands", dir) {
      val b = bandsWith(minhashSig(spark, dir), K / bands)
      b.join(b.groupBy("band", "bkey").agg(count(lit(1)).as("bsz")),
        Seq("band", "bkey"))
    }

  /** The candidate pair set at a swept band count — the identical
    * [[bandsWith]] machinery, restricted to buckets within `cap`
    * (default [[SweepBucketCap]]; the spec passes Long.MaxValue to pin
    * the uncapped nesting theorem). Memoized per (config, cap): the
    * sweep consumes each branch twice (count leg + ref-recall leg), so
    * without the memo the band self-join ran twice per config. */
  private[graft] def sweepCandidates(spark: SparkSession, dir: String,
      bands: Int, cap: Long = SweepBucketCap): DataFrame =
    memoized(spark, s"d14_cand_${bands}_$cap", dir) {
      val b = sweepBands(spark, dir, bands).filter(col("bsz") <= cap)
      b.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
        .join(b.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }

  /** Docs carrying at least one over-cap bucket at a swept config — the
    * disclosed skipped mass. Provably MONOTONE in permissiveness: a
    * swept bucket at r rows per band is contained in its covering
    * bucket at r/2 rows (agreeing on 2r perms implies agreeing on each
    * r-perm half), so an over-cap bucket stays over cap in every more
    * permissive config and its members stay skipped. */
  private[graft] def sweepSkippedDocs(spark: SparkSession, dir: String,
      bands: Int, cap: Long = SweepBucketCap): DataFrame =
    sweepBands(spark, dir, bands).filter(col("bsz") > cap)
      .select("doc_id").distinct()

  /** d14: LSH BANDING TUNING SWEEP — e17's recall-vs-cost discipline
    * for the dedup family: one row per swept (bands, rows-per-band)
    * config with the candidate-pair count (the verification cost that
    * config buys) and its recall of the SHIPPED config's verified pair
    * set (d3, 4×4, est ≥ 0.25) — the curve read before committing a
    * banding config to gate 100 TB of dedup, exactly as e17's curve is
    * read before committing an nProbe. More bands of fewer rows =
    * more permissive: the aligned boundaries make the trade provable,
    * not just observed (see [[SweepBands]]).
    *
    * Scale shape: all three branches band the ONE memoized signature
    * substrate (K rows per doc — the corpus is never rescanned); each
    * branch is d3's band self-join at a different width, restricted to
    * buckets within [[SweepBucketCap]] (the skipped mass is a report
    * column, so the cap is disclosed, not silent) and MEMOIZED so its
    * two consumers (count leg, recall leg) read one materialization.
    * The reference set is the memoized d3 pair set and counts collapse
    * to 1-row aggregates unioned into a 3-row report.
    *
    * Capping note: the UNCAPPED candidate sets nest (cand(2) ⊆ cand(4)
    * ⊆ cand(8), the aligned-boundary theorem); capped sets need not —
    * a pair admitted by an under-cap fine bucket can sit in an over-cap
    * covering bucket at a coarser width. What stays provable under the
    * cap, and is spec-pinned: capped ⊆ uncapped per config, and the
    * skipped-doc set grows monotonically with permissiveness. */
  def lshTuningSweep(spark: SparkSession, dir: String): DataFrame = {
    val ref = minhashLsh(spark, dir).select("doc_a", "doc_b")
    val branches = SweepBands.map { bands =>
      val cand = sweepCandidates(spark, dir, bands)
      cand.agg(count(lit(1)).as("candidates"))
        .crossJoin(cand.join(ref, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("ref_caught")))
        .crossJoin(sweepSkippedDocs(spark, dir, bands)
          .agg(count(lit(1)).as("skipped_docs")))
        .select(lit(bands.toLong).as("bands"),
          lit((K / bands).toLong).as("rows_per_band"),
          col("candidates"), col("ref_caught"), col("skipped_docs"))
    }
    branches.reduce(_ unionByName _)
      .crossJoin(broadcast(ref.agg(count(lit(1)).as("n_ref"))))
      .withColumn("recall_ppm", expr("(1000000 * ref_caught) div n_ref"))
      .select("bands", "rows_per_band", "candidates", "ref_caught",
        "skipped_docs", "recall_ppm")
      .orderBy("bands")
  }

  /** d16: SINGLE-DOCUMENT SIMILARITY SERVING — e12's per-request
    * latency shape for the text family: "which documents look like
    * THIS one?", answered from the standing LSH index without any
    * corpus-wide pair generation. The served doc's 4 band keys resolve
    * against the memoized band index (a broadcast of 4 rows — the
    * index-metadata hop, same discipline as e12's cell resolution and
    * the s7 bloom fetch), candidates are the band-equality matches,
    * and only those candidates get exact n-gram Jaccard scoring
    * against the query's gram set (broadcast, one doc's grams).
    *
    * The served id is the lowest doc_id carrying any d3 pair — derived
    * (not hardcoded) so the demo is non-empty at every SF; the 1-row
    * derivation is a bounded driver hop off the memoized pair set.
    * Top-k by (jaccard desc, doc_id); jaccard is one exact-int
    * division, rounded at presentation only.
    *
    * Scale shape: zero corpus passes beyond the memoized substrates —
    * the band probe is an equality join against 4 broadcast keys, the
    * gram fetch is candidate-bounded, and nothing here scales with
    * |docs| except the standing index that production would already
    * hold partitioned by band key. */
  def docSimServe(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qRow = minhashLsh(spark, dir).agg(min(col("doc_a"))).head()
    if (qRow.isNullAt(0)) {
      // fully-deduplicated (or tiny) corpus: no pair carries a doc to
      // serve — return the empty serve table, not an NPE
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("rnk", IntegerType), StructField("doc_id", LongType),
          StructField("inter", LongType), StructField("uni", LongType),
          StructField("jaccard", DoubleType))))
    }
    val qId = qRow.getLong(0)
    val bands = lshBands(spark, dir)
    val qb = bands.filter(col("doc_id") === qId).select("band", "bkey")
    val cand = bands.join(broadcast(qb), Seq("band", "bkey"))
      .filter(col("doc_id") =!= qId)
      .select("doc_id").distinct()
    val ng = docNgrams(spark, dir)
    val qg = ng.filter(col("doc_id") === qId).select("ngram")
    val qn = qg.agg(count(lit(1)).as("na"))
    val cg = ng.join(cand, "doc_id")
    val sizes = cg.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val inter = cg.join(broadcast(qg), "ngram")
      .groupBy("doc_id").agg(count(lit(1)).as("inter"))
    val top = sizes.join(inter, "doc_id")
      .crossJoin(broadcast(qn))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("score", col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    // rank assignment over the already-LIMIT-k relation (bounded, so
    // the unpartitioned window is inside the WindowDiscipline contract)
    top
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("inter"), col("uni"),
        round(col("score"), 6).as("jaccard"))
      .orderBy("rnk")
  }

  /** d17's swept Jaccard thresholds (ppm). */
  private[graft] val JaccardSweep = Seq(180000L, 250000L, 400000L, 600000L)

  /** d17: JACCARD THRESHOLD SWEEP — the OTHER dedup knob priced (d14
    * prices the banding config; this prices the verification
    * threshold): for each swept τ, how many candidate pairs the d2
    * scorer would keep and how many documents they touch — the curve
    * read before committing a similarity cutoff to gate 100 TB of
    * dedup decisions. The predicate is EXACT integer
    * cross-multiplication (10⁶·inter ≥ τ·union — no float ratio, no
    * rounding boundary), and kept sets provably NEST as τ grows, so
    * the curve is monotone by construction.
    *
    * Scale shape: the whole sweep is TWO passes over the ONE memoized
    * pair-intersection substrate (candidate-scale, DF-pruned — the
    * corpus is never rescanned), however many thresholds are swept:
    * pair counts for every τ come from one conditional aggregation
    * over the per-pair ratio_ppm, and the nesting property reduces the
    * per-τ doc counts to "docs whose BEST pair clears τ" — one
    * fan-out-2 explode + per-doc max + a second conditional
    * aggregation. The integer proxy is exact: for integer τ,
    * ⌊10⁶·i/u⌋ ≥ τ ⟺ 10⁶·i ≥ τ·u, so the one precomputed ratio
    * answers every threshold. */
  def jaccardSweep(spark: SparkSession, dir: String): DataFrame = {
    val sizes = prunedSizes(spark, dir)
    val scored = memoized(spark, "d17_scored", dir) {
      pairIntersections(spark, dir)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_ng").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_ng").as("nb")), "doc_b")
        .withColumn("ratio_ppm",
          expr("(1000000 * inter) div (na + nb - inter)"))
        .select("doc_a", "doc_b", "ratio_ppm")
    }
    val pAggs = JaccardSweep.map(tau =>
      sum(when(col("ratio_ppm") >= tau, 1L).otherwise(0L)).as(s"p$tau"))
    val pairCounts = scored.agg(pAggs.head, pAggs.tail: _*)
    val dAggs = JaccardSweep.map(tau =>
      sum(when(col("best") >= tau, 1L).otherwise(0L)).as(s"d$tau"))
    val docCounts = scored
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"), col("ratio_ppm"))
      .groupBy("d").agg(max("ratio_ppm").as("best"))
      .agg(dAggs.head, dAggs.tail: _*)
    val wide = pairCounts.crossJoin(docCounts)
    JaccardSweep.map { tau =>
      wide.select(lit(tau).as("tau_ppm"),
        col(s"p$tau").as("n_pairs"), col(s"d$tau").as("n_docs"))
    }.reduce(_ unionByName _).orderBy("tau_ppm")
  }

  /** d15: CROSS-SOURCE DUPLICATION MATRIX — the curation question s10
    * ESTIMATES (how much do my sources share?) answered EXACTLY at the
    * document level from the dedup substrates already computed: for
    * every (source_a ≤ source_b) cell, the number of exact-duplicate
    * doc pairs (d1's token-stream fingerprint) and of verified near-dup
    * pairs (the shipped d3 MinHash-LSH pair set) whose endpoints live
    * in those sources. Diagonal cells report intra-source duplication;
    * off-diagonal cells are the "source B is a re-crawl of source A"
    * signal that decides which source to drop before mixing (x4/x5).
    *
    * Scale shape: the exact leg aggregates d1's fingerprint scan to
    * (fp, source, cnt) — duplicate-GROUP-scale, not corpus-scale — and
    * pairs per-fp SOURCE rows (fan-out C(sources_with_copy, 2) ≤
    * C(|sources|, 2) per group, never C(copies, 2) over documents);
    * counts multiply (ca·cb, cnt·(cnt−1)/2) instead of materializing
    * doc pairs. The near-dup leg is two dimension-scale joins over the
    * MEMOIZED d3 pair set (dedup-output-scale). Output ≤ |sources|²
    * rows. Nothing here rescans the corpus beyond d1's single
    * fingerprint pass. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fps = docs
      .select(md5(array_join(tokens(col("text")), " ")).as("fp"), col("source"))
      .groupBy("fp", "source").agg(count(lit(1)).as("cnt"))
    val cross = fps.select(col("fp"), col("source").as("source_a"), col("cnt").as("ca"))
      .join(fps.select(col("fp"), col("source").as("source_b"), col("cnt").as("cb")), "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("ca") * col("cb")).as("exact_pairs"))
    val diag = fps.filter(col("cnt") > 1)
      .groupBy(col("source").as("source_a"))
      .agg(sum(expr("cnt * (cnt - 1) div 2")).as("exact_pairs"))
      .select(col("source_a"), col("source_a").as("source_b"), col("exact_pairs"))
    val src = docs.select(col("doc_id"), col("source"))
    val nd = minhashLsh(spark, dir).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("neardup_pairs"))
    cross.unionByName(diag)
      .join(nd, Seq("source_a", "source_b"), "full_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("exact_pairs"), lit(0L)).as("exact_pairs"),
        coalesce(col("neardup_pairs"), lit(0L)).as("neardup_pairs"))
      .orderBy("source_a", "source_b")
  }
}
