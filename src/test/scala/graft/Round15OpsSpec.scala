package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnOps, ClusterOps, CorpusOps, DedupOps}

/** Round-15 operators: d19 semantic decontamination. */
class Round15OpsSpec extends AnyFunSuite with SparkSpec {

  /** A constructed corpus with a PARAPHRASED eval leak: doc 0 is in the
    * eval carve (0 % EvalMod == 0), doc 1 says the same thing in a
    * fully disjoint vocabulary (zero shared tokens, hence zero shared
    * 3-gram shingles and zero shared 8-grams) but lands on the
    * IDENTICAL embedding — the case the lexical tiers (x3 exact-gram,
    * d10 MinHash) are structurally blind to and d19 exists to catch. */
  private lazy val paraphraseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("d19spec").toString
    val para = Array(
      0L -> "the quick brown fox jumps over the lazy dog while morning light warms the quiet meadow grass",
      1L -> "a swift auburn vulpine leaps across an idle canine as dawn glow heats still field turf")
    val filler = (2L until 40L).map(i =>
      i -> s"filler document number $i with enough repeated unrelated words item$i widget$i gadget$i thing$i stuff$i piece$i part$i unit$i")
    val docs = (para ++ filler).map { case (id, text) =>
      (id, text, "en", s"src${id % 3}", text.length.toLong)
    }
    spark.createDataFrame(docs.toSeq)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // identical embedding for the leak pair, same class label -> same
    // IVF cell; filler vectors vary per id and sit in other labels
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(d => (((seed * 31 + d * 7) % 13) - 6) / 10.0f)
    val leak = vec(999L)
    val embs = (0L until 40L).map { id =>
      val v = if (id <= 1L) leak else vec(id)
      val label = if (id <= 1L) 7 else (id % 7).toInt
      (id, v, label)
    }
    spark.createDataFrame(embs)
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("d19 catches a constructed paraphrase (same vector, disjoint tokens) that d10 and x3 miss") {
    val dir = paraphraseDir
    // sanity: the vocabularies genuinely share nothing
    val Array(t0, t1) = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") <= 1).orderBy("doc_id")
      .select("text").collect().map(_.getString(0).split(" ").toSet)
    assert(t0.intersect(t1).isEmpty, "constructed texts share tokens — rebuild the fixture")
    // d19: doc 1's vector is flagged with eval witness 0 at cosine 1.0
    val d19 = DedupOps.semanticDecon(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(d19.contains(1L))
    val hit = d19(1L)
    assert(!hit.getBoolean(1), "paraphrase not flagged by d19")
    assert(hit.getLong(2) === 0L, "wrong witness")
    assert(hit.getDouble(3) === 1.0, "identical vectors must score cosine 1.0")
    // every train vector appears exactly once; eval members never do
    assert(d19.size === 38)
    assert(!d19.contains(0L) && !d19.contains(20L))
    // d10 (MinHash cross-dup): structurally blind — no shared shingles,
    // so the pair cannot even become a band candidate
    val d10 = DedupOps.crossNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!d10.contains((1L, 0L)), "d10 unexpectedly caught the paraphrase")
    // x3 (exact 8-gram overlap): equally blind
    val x3 = CorpusOps.decontaminate(spark, dir).collect().map(_.getLong(0)).toSet
    assert(!x3.contains(1L), "x3 unexpectedly caught the paraphrase")
    DedupOps.clearMemo(spark, dir)
  }

  test("d19 flags are internally consistent at sf0.001") {
    val rows = DedupOps.semanticDecon(spark, Sf0001).collect()
    val evalIds = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .filter(col("vec_id") % CorpusOps.EvalMod === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val trainIds = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .filter(col("vec_id") % CorpusOps.EvalMod =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // exactly the training carve, once each
    assert(rows.map(_.getLong(0)).toSet === trainIds)
    assert(rows.length === trainIds.size)
    rows.foreach { r =>
      val kept = r.getBoolean(1)
      if (kept) assert(r.isNullAt(2) && r.isNullAt(3))
      else {
        // the witness is an eval member and the similarity clears tau
        assert(evalIds.contains(r.getLong(2)))
        assert(r.getDouble(3) >= DedupOps.SemDedupTau)
      }
    }
  }

  test("p40 in-stream semantic decon reproduces d19's batch answer row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val batch = DedupOps.semanticDecon(spark, Sf0001).collect().map(key).toSet
    val stream = graft.streaming.StreamPipeline.streamDecon(spark, Sf0001)
      .collect().map(key).toSet
    assert(stream === batch)
    assert(stream.exists(!_._2), "no in-stream contamination flag at sf0.001 — vacuous")
    // and the constructed paraphrase is REJECTED at the ingest gate
    val para = paraphraseDir
    val pStream = try graft.streaming.StreamPipeline.streamDecon(spark, para)
      .collect().map(key).map { case (v, k, w, s) => v -> ((k, w, s)) }.toMap
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(graft.streaming.StreamPipeline.stagingPath("embeddings", para)))
    assert(pStream(1L) === ((false, Some(0L), Some(1.0))),
      "paraphrase not rejected in-stream")
    DedupOps.clearMemo(spark, para)
  }

  test("d20 audit: the constructed paraphrase lands in the semantic-only cell, mass conserved") {
    val dir = paraphraseDir
    val rows = CorpusOps.deconReport(spark, dir).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) -> r.getLong(3))
      .toMap
    // doc 1 (identical embedding, disjoint vocabulary) is the (F,F,T)
    // cell — caught by NOTHING but the semantic tier
    assert(rows.getOrElse((false, false, true), 0L) >= 1L,
      s"semantic-only cell missing: $rows")
    // every train doc lands in exactly one cell
    val trainDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % CorpusOps.EvalMod =!= 0).count()
    assert(rows.values.sum === trainDocs)
    DedupOps.clearMemo(spark, dir)
  }

  test("e10 code lake lands exactly one file per cell directory") {
    // the dynamic-partition write must CLUSTER on the cell label first:
    // without it every task opens a file in every cell it sees —
    // |tasks| × |cells| files (164k at the 1.28M carve) and a driver
    // commit walk that dominates the build. One file per `label=` dir
    // is the layout contract that keeps the write linear at 100 TB.
    AnnOps.annPersistedIndex(spark, Sf0001).collect()
    val codes = new java.io.File(
      graft.functions.F.sinkPath("annindex", Sf0001) + "/codes")
    val cellDirs = codes.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("label="))
    assert(cellDirs.nonEmpty, "no cell directories landed")
    cellDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1,
        s"${d.getName}: ${parts.length} files — write not clustered on label")
    }
  }

  test("d12 kernel assignment: every vector once, exact dist to its centroid, deterministic rerun") {
    // value-level parity with the declarative form is owned by the
    // DuckDB gate (the oracle replays the whole Lloyd chain); this spec
    // pins what the gate can't see — that the mapPartitions kernel is
    // DETERMINISTIC across runs/partitionings (rebuilt from a cleared
    // memo) and covers every corpus vector exactly once
    val assign = ClusterOps.adaptiveStableAssign(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = AnnOps.quantized(spark, Sf0001).count()
    assert(assign.length.toLong === n)
    assert(assign.map(_._1).distinct.length === assign.length)
    DedupOps.clearMemo(spark, Sf0001)
    val assign2 = ClusterOps.adaptiveStableAssign(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(assign.sortBy(_._1).toSeq === assign2.sortBy(_._1).toSeq)
    DedupOps.clearMemo(spark, Sf0001)
  }

  test("x18 token budget matches a driver-side recomputation (pred-lang rule, exact div)") {
    import graft.operators.TextOps
    val dir = paraphraseDir
    val langs = TextOps.LangMarkers.map(_._1)
    val markers = TextOps.LangMarkers.toMap
    // t3's argmax rule: first lang (alphabetical) whose score >= every
    // LATER lang's score — the same when-chain withPredLang builds
    def predLang(toks: Seq[String]): String = {
      val score =
        langs.map(l => l -> toks.count(t => markers(l).contains(t)).toLong).toMap
      langs.init.find(l => langs.filter(_ > l).forall(o => score(l) >= score(o)))
        .getOrElse(langs.last)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("text", "source", "n_chars").collect()
      .map(r => (r.getString(1),
        predLang(r.getString(0).trim.toLowerCase.split("\\s+").toSeq),
        r.getString(0).trim.toLowerCase.split("\\s+").length.toLong,
        r.getLong(2)))
    val perCell = docs.groupBy(d => (d._1, d._2)).map { case ((src, pl), rows) =>
      (src, pl, rows.length.toLong, rows.map(_._3).sum, rows.map(_._4).sum)
    }.toSeq
    val totTokens = perCell.map(_._4).sum
    val expected = perCell.map { case (src, pl, nd, nt, nc) =>
      (src, pl, nd, nt, nc,
        if (nc > 0) nt * 1000000L / nc else 0L,
        nt * 1000000L / totTokens)
    }.sortBy(x => (x._1, x._2))
    val got = CorpusOps.tokenBudget(spark, dir).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // the shares partition the corpus: sum within one ppm·cells of 10^6
    val shareSum = got.map(_._7).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.length)
  }
}
