package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, the way a 100 TB image/audio corpus is
  * carried through Spark (binary + metadata columns in parquet, decode
  * deferred to the last possible stage).
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment): `n_frames` below is a deterministic fake "decode" so the
  * Spark-side plumbing — binary schema, per-row feature extraction,
  * partition-parallel execution, hash/magic/size metadata — is real and
  * testable. Swapping the stub for a real decoder is a one-expression
  * change (e.g. a mapPartitions batch decode), leaving the plan shape
  * intact.
  */
object MultimodalOps {

  /** m3: EXACT-DUPLICATE BLOB dedup — the multimodal counterpart of
    * d1: group the binary payloads by content hash, keep the minimum
    * doc_id, report the duplicate count per kept blob. This is the
    * first pass of any image/audio corpus dedup (identical bytes —
    * re-crawled files, mirrored CDN copies) and runs BEFORE any decode:
    * the hash is over the raw payload, so the expensive codec stage
    * only ever sees one representative per content.
    *
    * Scale shape: identical to d1 — one map-combined groupBy on the
    * 128-bit content hash; shuffle rows are (hash, id) pairs, never the
    * blobs themselves (the projection drops the payload before the
    * exchange, which is what makes this viable on a 100 TB media
    * corpus). */
  def blobDedup(spark: SparkSession, dir: String): DataFrame =
    blobDedupOf(Tables.documents(spark, dir)
      .withColumn("blob", col("text").cast("binary")))

  /** m3's core on any (doc_id, blob) relation — separate so the spec
    * can prove the dedup semantics on constructed duplicate blobs (the
    * synthetic corpus is duplicate-free, so the oracle row alone only
    * proves the identity case). */
  private[graft] def blobDedupOf(docs: DataFrame): DataFrame =
    docs
      // sha2-256 for CONTENT IDENTITY: md5 collisions are practically
      // constructable, so on an adversarial media corpus two distinct
      // blobs could silently merge and a document would be dropped;
      // 256-bit collision resistance is the identity-key standard
      // (md5 stays only where cross-engine hash60 compatibility needs
      // it — coefficients, not identity)
      .select(sha2(col("blob"), 256).as("sha"), col("doc_id"))
      .groupBy("sha")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  /** m1: binary metadata extraction. The documents' text bytes stand in
    * for media blobs; every derived column is computed from the binary
    * payload only. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("blob", col("text").cast("binary"))
      .select(
        col("doc_id"),
        octet_length(col("blob")).as("byte_len"),
        // an md5 FINGERPRINT (cheap per-blob metadata, honest name —
        // content-identity decisions go through m3's sha2-256 instead)
        md5(col("blob")).as("content_md5"),
        lower(hex(expr("substring(blob, 1, 4)"))).as("magic"),
        // --- stubbed decode: deterministic fake frame count ---
        (octet_length(col("blob")) % 30 + 1).as("n_frames"))
      .orderBy("doc_id")

  /** m6 byte-shingle width (the ssdeep/TLSH-style rolling unit). */
  val FuzzyShingleBytes = 8

  /** m7's validity floor: blobs below this are headers/fragments, not
    * trainable media. */
  val MinMediaBytes = 64L

  /** m7: the MEDIA TRAINING MANIFEST — x9's reproducibility artifact
    * for the media lake, completing the multimodal capstone the way x7
    * →x9 completes the text one: exact-dup representatives (m3's
    * sha-256 keep-min) MINUS fuzzy near-dup losers (the higher doc_id
    * of every m6 pair — the blob another rep already covers up to
    * re-encode noise) MINUS sub-[[MinMediaBytes]] fragments, with m1's
    * metadata attached and ONE deterministic md5-ranked global order,
    * so any cluster regenerates the identical (step → blob) schedule.
    *
    * Scale shape: composes three already-checked substrates (m3's one
    * content-hash groupBy; m6's MEMOIZED signature + bounded pair
    * joins; m1's narrow metadata map) with two dedup-output-scale
    * anti/semi joins; the global order is [[RankOps.withGlobalRank]]'s
    * range shuffle — no single-task window, no new corpus pass beyond
    * the metadata projection. */
  def mediaManifest(spark: SparkSession, dir: String): DataFrame =
    RankOps.withGlobalRank(mediaKept(spark, dir), "step",
        Seq(col("ok"), col("doc_id")))
      .select("step", "doc_id", "byte_len", "magic", "n_frames")
      .orderBy("step")

  /** The deduplicated, fragment-filtered, deterministically-ordered
    * kept-blob relation — m7's manifest body, shared with m9's shard
    * packing so the shard order IS the manifest order by construction
    * (the x9/x10 substrate pattern carried to the media lake). */
  private def mediaKept(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.F.hash60
    val docs = Tables.documents(spark, dir)
      .withColumn("blob", col("text").cast("binary"))
    val meta = docs.select(
      col("doc_id"),
      octet_length(col("blob")).as("byte_len"),
      lower(hex(expr("substring(blob, 1, 4)"))).as("magic"),
      (octet_length(col("blob")) % 30 + 1).as("n_frames"))
    val reps = blobDedup(spark, dir).select(col("keep_doc_id").as("doc_id"))
    val fuzzyLosers = blobFuzzyDedup(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    meta.filter(col("byte_len") >= MinMediaBytes)
      .join(reps, "doc_id")
      .join(fuzzyLosers, Seq("doc_id"), "left_anti")
      .withColumn("ok",
        hash60(concat(lit("morder_"), col("doc_id").cast("string"))))
  }

  /** Byte budget per media training shard (m9). */
  val MediaShardBytes = 4096L

  /** m9: MEDIA SHARD PACKING — x10's concat-and-cut for the media
    * lake: the m7-kept blobs, in the manifest's exact deterministic
    * order, packed into byte-budgeted shards; each blob lands at
    * (shard_id, shard_off) = (cum div B, cum mod B) where cum is the
    * EXCLUSIVE running byte total before it, and `cut` marks blobs
    * straddling a shard boundary. Every shard except the last is
    * byte-dense by construction — the tar/WebDataset-style layout a
    * media training run streams, precomputed so any worker seeks
    * directly to its shard.
    *
    * Scale shape: x10's machinery verbatim — one range shuffle +
    * per-partition running sums + O(p) broadcast offsets
    * (RankOps.withGlobalRankAndPrefixSum); the global byte
    * concatenation never passes through a single-task window. */
  def mediaShards(spark: SparkSession, dir: String): DataFrame = {
    val b = MediaShardBytes
    RankOps.withGlobalRankAndPrefixSum(mediaKept(spark, dir), "step",
        Some(("cum", col("byte_len").cast("long"))),
        Seq(col("ok"), col("doc_id")))
      .select(
        expr(s"cum div $b").as("shard_id"),
        (col("cum") % b).as("shard_off"),
        col("doc_id"), col("byte_len").cast("long").as("byte_len"),
        (col("cum") % b + col("byte_len") > b).as("cut"))
      .orderBy("shard_id", "shard_off")
  }

  /** m6: FUZZY-HASH NEAR-DUP over binary payloads — the ssdeep/TLSH
    * family: m3 catches byte-identical blobs; this catches
    * nearly-identical ones (re-crawled files with tweaked headers,
    * re-muxed containers, patched binaries) whose sha2 differs but
    * whose byte content overlaps heavily. Distinct byte 8-gram shingles
    * (hex-encoded so the hash input is engine-portable for ANY bytes,
    * not just valid UTF-8) vote a 60-bit SimHash per blob — d4's exact
    * sketch machinery over a byte-level substrate instead of a
    * token-level one — then d4's 4×15-bit pigeonhole blocking and
    * exact hamming ≤ 3. Modality-agnostic and decode-free, like m3.
    *
    * Scale shape: shingling + hex is a narrow map (array HOFs, no
    * posexplode until the vote rows); the vote aggregation is ONE
    * map-combined shuffle to a single int64 per blob (the imperative
    * graft_simhash_agg); candidates come from 4 chunk-equality joins
    * over K-rows/blob signatures — never an all-pairs comparison of
    * payloads. */
  def blobFuzzyDedup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhashPairsOf(
      DedupOps.memoized(spark, "m6_sig", dir)(
        fuzzySigOf(spark, Tables.documents(spark, dir)
          .withColumn("blob", col("text").cast("binary")))))

  /** The m6 signature of any (doc_id, blob) relation — exposed so the
    * spec can prove near-dup sensitivity on constructed byte variants
    * (the synthetic corpus only demonstrates corpus-native pairs). */
  private[graft] def fuzzySigOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.F.hash60
    // ONE hex pass per blob, then shingles as 16-char windows at
    // 2-char (1-byte) stride — DuckDB 1.0 has no BLOB substring, so
    // the hex string IS the cross-engine shingle domain
    val shingles = docs
      .withColumn("hx", lower(hex(col("blob"))))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN octet_length(blob) >= $FuzzyShingleBytes
           | THEN array_distinct(transform(
           |   sequence(0, octet_length(blob) - $FuzzyShingleBytes),
           |   i -> substring(hx, i * 2 + 1, ${FuzzyShingleBytes * 2})))
           | ELSE array() END""".stripMargin)).as("s"))
    DedupOps.simhashOf(
      shingles.select(col("doc_id"), lit(1L).as("c"), hash60(col("s")).as("h")))
  }

  /** m4 embedding width (stub feature extractor). */
  val EmbDims = 16

  /** m4 query selection stride and top-k — named once; the oracle
    * interpolates BOTH (the EmbDims discipline: a Spark-side retune
    * must break the compile, not the oracle gate). The stride panel is
    * additionally CAPPED at AnnOps.PanelCap via the shared
    * cosineTopkOf/panelOf rule — the stride alone kept |panel| ∝
    * corpus, which made m4's brute-force retrieval leg quadratic (116×
    * cost on 10× data at the sf1 point). The scale path for UNBOUNDED
    * query volume over these vectors is m10 (blobAnnIvf). */
  val EmbQueryStride = 25
  val EmbTopK = 3

  /** m4: FEATURE EXTRACTION → SIMILARITY — the multimodal-to-vector
    * bridge: each blob maps to an embedding and every query blob
    * retrieves its top-k most similar blobs by exact integer cosine —
    * the stage that turns a media corpus into a searchable vector lake.
    * The MODEL CALL is stubbed deterministically (dim d =
    * hash60(payload ++ "_emb_d") % 2001 − 1000 — no vision/audio models
    * in this environment; swapping in a real encoder is the one-line
    * m2 discipline), while everything Spark-side is real: the feature
    * projection is map-side (EmbDims md5s per blob, zero shuffle), the
    * scoring is the e1 broadcast-queries shape on the derived vectors,
    * and at scale the e2/e5 bucketed paths apply to these vectors
    * UNCHANGED — that composability is the point of landing features
    * as plain `array<long>` columns. */
  def blobEmbedSim(spark: SparkSession, dir: String,
      k: Int = EmbTopK): DataFrame =
    // the e1 scoring chain, verbatim — one shared definition (stride
    // panel + PanelCap both applied inside cosineTopkOf/panelOf)
    AnnOps.cosineTopkOf(blobEmb(spark, dir), "doc_id", "v", EmbQueryStride, k)

  /** The (doc_id, v: array<long>) blob-embedding substrate m4 scores
    * and m10 indexes — the payload is digested ONCE per blob and the
    * dims derive from the (fixed-width) digest: 1 full-payload hash +
    * EmbDims short hashes per row, not EmbDims full-payload hashes;
    * memoized like the ANN signatures (both join sides + every bench
    * rep read it). */
  private[operators] def blobEmb(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.F.hash60
    DedupOps.memoized(spark, "m4_emb", dir) {
      Tables.documents(spark, dir)
        .withColumn("h", md5(col("text").cast("binary")))
        .select(col("doc_id"),
          array((0 until EmbDims).map(d =>
            hash60(concat(col("h"), lit(s"_emb_$d"))) % 2001L - 1000L): _*).as("v"))
    }
  }

  /** m10 coarse-quantizer geometry: [[m10Planes]] sign bits →
    * 2^planes inverted-file cells, the plane count WIRED TO CORPUS
    * SIZE (the AnnOps.cellBits discipline — a fixed cell count makes
    * per-cell volume ∝ corpus, the quadratic shape round 13 cured
    * d12 of): the smallest b ≥ 2 with 2^b·M10CellTarget ≥ n keeps
    * expected cell size in [M10CellTarget/2, M10CellTarget], so a
    * probe's rerank cost is bounded as the blob corpus grows. The
    * oracle re-derives the identical b from COUNT(*) in SQL. At the
    * gate SF (n=500) b=4 — the same 16 cells as the fixed round-13
    * setting, now a derived value instead of a constant. */
  val M10CellTarget = 32
  def m10Planes(n: Long): Int = {
    var b = 2
    while (b < 20 && (1L << b) * M10CellTarget < n) b += 1
    b
  }
  val M10NProbe = 2
  val M10TopK = 3

  /** Integer coefficients of m10 hyperplane p over the EmbDims blob
    * embedding space — the e2 'hp_' family's discipline under an
    * 'm10_hp_' salt, so the oracle regenerates them in SQL. */
  private def m10PlaneW(p: Int): Seq[Long] =
    (0 until EmbDims).map(d =>
      graft.functions.F.hash60Driver(s"m10_hp_${p}_${d}") % 2001L - 1000L)

  /** m10: BLOB-EMBEDDING ANN, THE SCALE PATH — m4's brute-force
    * retrieval leg re-expressed as the e5 IVF composition over the
    * SAME [[blobEmb]] vectors, exactly the composability the m4
    * docstring promises ("the e2/e5 bucketed paths apply to these
    * vectors UNCHANGED"): map-side hyperplane cell codes (zero
    * shuffle), exact-integer centroid state per cell (e5's n-scaled
    * distance identity, [[AnnOps.centroidStateOf]] verbatim), each
    * panel query probes its M10NProbe nearest cells, and candidates
    * are an EQUALITY join on the cell id — never query × corpus. Where
    * m4 answers "is the feature bridge exact?" (against the oracle's
    * replay of the whole chain), m10 answers "how do you serve
    * retrieval over those features at 100 TB": candidates per query ≈
    * nProbe·M10CellTarget rows (bounded — the adaptive plane count
    * keeps cells near M10CellTarget members), and the inverted file is the
    * partitioning — a probe touches only its cells' partitions. */
  def blobAnnIvf(spark: SparkSession, dir: String, k: Int = M10TopK,
      nProbe: Int = M10NProbe): DataFrame = {
    import graft.functions.F.{cosineWith, dotLong}
    val cos = cosineWith(dotLong) _
    val emb = blobEmb(spark, dir)
    // cell code: a per-row function of the vector against literal
    // coefficients — one map-side projection, memoized (index build);
    // the plane count derives from a 1-row corpus count (adaptive
    // geometry — see m10Planes)
    val withCell = DedupOps.memoized(spark, "m10_cells", dir) {
      val b = m10Planes(Tables.documents(spark, dir).count())
      emb.withColumn("label",
        (0 until b).map(p =>
          when(dotLong(col("v"), typedlit(m10PlaneW(p))) > 0, lit(1L << p))
            .otherwise(lit(0L))).reduce(_ + _))
    }
    val cent = DedupOps.memoized(spark, "m10_cent", dir) {
      AnnOps.centroidStateOf(withCell.select(col("label"), col("v").as("q")))
    }
    val queries = AnnOps.panelOf(emb, "doc_id", EmbQueryStride)
      .select(col("doc_id").as("q_id"), col("v").as("qv"))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dist2"), col("label"))
    val probed = queries.crossJoin(broadcast(cent))
      .withColumn("dist2",
        col("n") * col("n") * dotLong(col("qv"), col("qv")) -
          lit(2L) * col("n") * dotLong(col("qv"), col("s")) + col("ss"))
      .withColumn("crnk", row_number().over(byQ))
      .filter(col("crnk") <= nProbe)
      .select(col("q_id"), col("qv"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
    probed
      .join(withCell.select(col("doc_id").as("c_id"), col("v").as("cv"),
        col("label")), "label")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", cos(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"),
        round(col("score"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** One sampled "frame" of a media blob (see frameSample). */
  case class FrameRow(doc_id: Long, frame_idx: Int, frame_sig: Long)

  /** Every `FrameStride`-th frame is sampled. */
  val FrameStride = 5

  /** m2: frame sampling through the imperative escape hatch — a typed
    * `Dataset.mapPartitions` over the blob column, the Scala analog of a
    * batched decode UDF: per-partition setup (here the MD5 instance;
    * in production the codec context) is amortized across the
    * partition's rows, rows stream through without collecting, and the
    * output is a typed Dataset that drops straight back into relational
    * plans. The DECODE itself is stubbed deterministically (frame count
    * from payload length, frame signature from an md5 of payload+index —
    * no codecs in this environment), so the partition-parallel plumbing,
    * batch shape and schema are real and oracle-checkable while the
    * codec call remains a one-line swap. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // per-partition setup, amortized across the partition's rows —
        // in production this is the codec context; here the MD5 instance
        // (digest() resets it, so one instance serves every frame)
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty // undecodable blob: no frames
          else {
            val nFrames = text.getBytes("UTF-8").length % 30 + 1 // stubbed "decode"
            (0 until nFrames by FrameStride).iterator.map { i =>
              FrameRow(id, i, graft.functions.F.hash60With(md, text + "_frame_" + i))
            }
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** One resized blob's record (see resizeBlobs). */
  case class ResizedRow(doc_id: Long, in_len: Long, out_len: Long, out_md5: String)

  /** m5 downsample factor: every `ResizeStep`-th unit survives. */
  val ResizeStep = 2

  /** m5: RESIZE / TRANSCODE — the remaining batch-media stage after
    * metadata (m1), frame sampling (m2), dedup (m3) and features (m4):
    * re-encode every payload to a smaller derivative (thumbnailing,
    * audio downsampling, transcoding) and refresh its metadata. The
    * shape matches m2's imperative escape hatch exactly: typed
    * `mapPartitions`, per-partition codec context (here the MD5
    * instance), rows streaming through without collecting — the
    * payload-proportional work happens inside the task and only the
    * derivative's metadata (length + content hash) leaves it.
    *
    * The RESIZE itself is stubbed deterministically — keep every 2nd
    * decoded unit (chars standing in for pixels/samples; no codecs in
    * this environment) — so the oracle can replay the derivative's
    * content hash exactly: a plumbing bug that corrupted, reordered or
    * truncated payloads could not stay green. Swapping a real decoder +
    * scaler in is the same one-expression change as m2's.
    *
    * Scale shape: zero shuffles — a narrow per-row transform whose cost
    * is payload-proportional; at 100 TB this is the embarrassingly
    * parallel bulk stage run right after m3's dedup (one representative
    * per content hash ever reaches it), and the output parquet carries
    * the new blob + metadata columns. */
  def resizeBlobs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty // undecodable blob: no output
          else {
            val units = text.toCharArray
            val half = new String(Array.tabulate((units.length + ResizeStep - 1) / ResizeStep)(
              i => units(i * ResizeStep)))
            val hex = md.digest(half.getBytes("UTF-8")).map("%02x".format(_)).mkString
            Iterator.single(ResizedRow(id, units.length.toLong, half.length.toLong, hex))
          }
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** One content-defined frame fingerprint (see clipNearDup). */
  case class ClipFrameRow(doc_id: Long, fp: Long)

  /** m8 frame geometry: a "frame" is a FrameWin-unit content window
    * every FrameStep units (overlapping, so two payloads sharing
    * footage at any offset ≡ 0 (mod FrameStep) still collide). */
  val FrameWin = 16
  val FrameStep = 8

  /** Ubiquity cutoff for a frame fingerprint to generate candidates
    * (d2's MaxNgramDf discipline at the frame tier). */
  val MaxFrameDf = 100L

  /** Minimum shared distinct frames before a pair is reported. */
  val MinSharedFrames = 3L

  /** m8: CLIP NEAR-DUP — which media files SHARE FOOTAGE: decode every
    * blob into overlapping content-window frames, fingerprint each
    * frame, and report blob pairs sharing ≥ MinSharedFrames distinct
    * fingerprints with a containment-style overlap score — the
    * re-edited/re-cut clip detector (same footage, different
    * trim/concat) that m3's whole-content hash and m6's whole-payload
    * fuzzy signature both miss, and the multimodal analog of d9's
    * shared-passage tier. Unlike m2's whole-payload frame stub, the
    * fingerprint here is CONTENT-DEFINED (a hash of the window's
    * units), so shared subsequences collide across different payloads —
    * exactly what a perceptual frame hash gives a real video pipeline;
    * the decode is the same one-expression stub swap as m2/m5.
    *
    * Scale shape: the decode is m2's imperative mapPartitions shape
    * (per-partition codec context, rows streaming through); candidates
    * come from an equality join on the fingerprint over the DF-PRUNED
    * inverted index (d2's discipline: ubiquitous frames — color bars,
    * silence, boilerplate intros — would generate quadratic junk, so
    * they are cut before the self-join), never all-pairs; everything
    * after the one fingerprint groupBy is candidate-scale. */
  def clipNearDup(spark: SparkSession, dir: String): DataFrame =
    clipNearDupOf(spark, Tables.documents(spark, dir), Some(dir))

  /** m8's core on any (doc_id, text) relation — separate so specs can
    * drive constructed trim/re-cut payloads through the exact plan. */
  private[graft] def clipNearDupOf(spark: SparkSession, docs: DataFrame,
      memoDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val frames = docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // window offsets count CODE POINTS (one pass builds the
          // code-point → code-unit offset table), matching the oracle's
          // substr/length semantics even off the BMP; on BMP-only text
          // this is bit-identical to plain code-unit indexing
          if (text == null) Iterator.empty
          else {
            val n = text.codePointCount(0, text.length)
            if (n < FrameWin) Iterator.empty
            else {
              val offs = new Array[Int](n + 1)
              var cu = 0
              var k = 0
              while (k < n) {
                offs(k) = cu
                cu += Character.charCount(text.codePointAt(cu))
                k += 1
              }
              offs(n) = text.length
              (0 to n - FrameWin by FrameStep).iterator.map { i =>
                ClipFrameRow(id, graft.functions.F.hash60With(
                  md, text.substring(offs(i), offs(i + FrameWin))))
              }
            }
          }
        }
      }
      .toDF().distinct()
    def prune = frames.join(
      frames.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxFrameDf).select("fp"),
      "fp")
    val pruned = memoDir.fold(prune)(d => DedupOps.memoized(spark, "m8_frames", d)(prune))
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    pruned.select(col("doc_id").as("doc_a"), col("fp"))
      .join(pruned.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinSharedFrames)
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("frames_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("frames_b")), "doc_b")
      .withColumn("overlap_ppm",
        expr("(1000000 * shared) div least(frames_a, frames_b)"))
      .select("doc_a", "doc_b", "shared", "frames_a", "frames_b", "overlap_ppm")
      .orderBy("doc_a", "doc_b")
  }
}
