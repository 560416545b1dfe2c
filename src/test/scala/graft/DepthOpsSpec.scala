package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Analytics
import graft.operators.{AnnOps, DedupOps}

/** Session-3 depth operators: d15 (cross-source dup matrix), e19
  * (IVF+SQ8), a15 (A/B lift). Cross-operator reconciliation for the
  * matrix, an exact-equivalence theorem for the SQ8 path, hand-verified
  * arithmetic for the test statistic. */
class DepthOpsSpec extends AnyFunSuite with SparkSpec {

  // ---------- d15 ----------

  test("d15 exact-pair mass reconciles with d1's duplicate groups") {
    val matrix = DedupOps.sourceOverlap(spark, Sf0001).collect()
    val matrixExact = matrix.map(_.getLong(2)).sum
    // Σ over the matrix must equal Σ_fp C(copies, 2) from live d1 —
    // every unordered duplicate pair lands in exactly one (sa ≤ sb) cell
    val d1Pairs = DedupOps.dedupExact(spark, Sf0001)
      .select(col("n_copies")).collect()
      .map(r => { val n = r.getLong(0); n * (n - 1) / 2 }).sum
    assert(matrixExact === d1Pairs,
      s"matrix exact mass $matrixExact != d1 pair mass $d1Pairs")
  }

  test("d15 near-dup mass reconciles with the shipped d3 pair set") {
    val matrix = DedupOps.sourceOverlap(spark, Sf0001).collect()
    val matrixNd = matrix.map(_.getLong(3)).sum
    val d3Pairs = DedupOps.minhashLsh(spark, Sf0001).count()
    assert(matrixNd === d3Pairs,
      s"matrix near-dup mass $matrixNd != |d3| $d3Pairs")
  }

  test("d15 cells are canonically ordered and non-empty") {
    val matrix = DedupOps.sourceOverlap(spark, Sf0001).collect()
    assert(matrix.nonEmpty)
    matrix.foreach { r =>
      assert(r.getString(0) <= r.getString(1), s"non-canonical cell: $r")
      assert(r.getLong(2) > 0 || r.getLong(3) > 0, s"all-zero cell kept: $r")
    }
  }

  // ---------- e19 ----------

  test("e19 SQ8 codes are 8-bit and reconstruction error is within one step") {
    val stats = AnnOps.sqStats(spark, Sf0001)
    val joined = AnnOps.sqCodes(spark, Sf0001)
      .join(stats, "d")
      .join(Tables.embeddings(spark, Sf0001)
        .select(col("vec_id").as("c_id"),
          posexplode(graft.functions.F.quantize(col("embedding"))).as(Seq("d", "v"))),
        Seq("c_id", "d"))
      .select(col("code"), (col("v") * 255 - col("recon255")).as("errx255"),
        (col("mx") - col("mn")).as("step255"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (code, err, step) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(code >= 0 && code <= AnnOps.SqLevels, s"code out of 8-bit range: $r")
      // code = floor((v-mn)·255/(mx-mn)) ⇒ 0 ≤ v·255 − recon255 ≤ (mx−mn)
      assert(err >= 0 && err <= step, s"reconstruction off by more than a step: $r")
    }
  }

  test("e19 with a non-binding shortlist IS e5 (compression must not move the answer)") {
    // exact-cosine rerank over ALL probed candidates = e5's definition,
    // so routing them through the SQ8 ADC shortlist with the cap above
    // the candidate count must be a no-op — the theorem that pins the
    // whole codes/ADC plumbing.
    val viaSq = AnnOps.annSq(spark, Sf0001, shortlist = Int.MaxValue)
      .collect().map(_.toString)
    val viaIvf = AnnOps.annIvf(spark, Sf0001).collect().map(_.toString)
    assert(viaSq.sameElements(viaIvf))
  }

  test("e19 production shortlist returns the full per-query rank structure") {
    val rows = AnnOps.annSq(spark, Sf0001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    val queries = Tables.embeddings(spark, Sf0001)
      .filter(col("vec_id") % AnnOps.QueryStride === 0).count()
    assert(byQ.size === queries)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 3), "ranks must be 1..3")
    }
  }

  // ---------- a15 ----------

  private def eventsOf(rows: Seq[(Long, String)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.zipWithIndex.map { case ((u, t), i) =>
        Row(i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, t, 1.0)
      }.asJava,
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
  }

  test("a15 lift and z² agree with hand arithmetic on a constructed cohort") {
    // 5 even users (A), 5 odd (B); 4 A-converters, 1 B-converter on "t"
    val thr = Analytics.AbConvThreshold.toInt
    val rows =
      (0L to 9L).flatMap(u => Seq.fill(thr - 1)((u, "t"))) ++ // everyone near-misses
      Seq(0L, 2L, 4L, 6L).map(u => (u, "t")) ++                // 4 evens cross
      Seq((1L, "t"))                                           // 1 odd crosses
    val out = Analytics.abLiftOf(eventsOf(rows)).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) === ((5L, 4L, 5L, 1L)))
    // diff = 4·5 − 1·5 = 15; lift = 1e6·15 div (1·5) = 3_000_000
    assert(r.getLong(5) === 3000000L)
    // z² = 15²·10 / (5·5·5·5) = 3.6 → 3_600_000 ppm, below the 3_841_459 line
    assert(r.getLong(6) === 3600000L)
    assert(r.getBoolean(7) === false)
  }

  test("a15 one-sided conversion: significant, lift undefined") {
    val thr = Analytics.AbConvThreshold.toInt
    val rows =
      (0L to 9L).flatMap(u => Seq.fill(thr - 1)((u, "t"))) ++
      Seq(0L, 2L, 4L, 6L, 8L).map(u => (u, "t")) // all 5 evens cross, no odd
    val r = Analytics.abLiftOf(eventsOf(rows)).collect().head
    // diff = 25, z² = 625·10 / (5·5·5·5) = 10 → clearly past the 0.05 line
    assert(r.getLong(6) === 10000000L)
    assert(r.getBoolean(7) === true)
    assert(r.isNullAt(5), "lift against a zero-conversion control must be NULL")
  }

  // ---------- a16 ----------

  test("a16 cohort LTV reconciles mass and age-0 structure") {
    val ltv = Analytics.a16CohortLtv(spark, Sf0001).collect()
    assert(ltv.nonEmpty)
    // every cohort's age 0 row exists (the user was active on their first day)
    val byCohort = ltv.groupBy(_.get(0))
    byCohort.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).min === 0L, "cohort without an age-0 row")
      // cum_revenue is the running sum of revenue in age order
      val sorted = rows.sortBy(_.getLong(1))
      var run = BigDecimal(0)
      sorted.foreach { r =>
        run += BigDecimal(r.getDouble(3))
        assert(math.abs(run.toDouble - r.getDouble(4)) < 1e-6,
          s"cum_revenue drifted at $r")
      }
    }
    // total revenue mass = exact purchase revenue over valid events
    val total = ltv.map(r => BigDecimal(r.getDouble(3))).sum.toDouble
    val expected = Tables.events(spark, Sf0001)
      .filter(graft.pipeline.TripPipeline.validCond)
      .filter(col("event_type") === "purchase")
      .agg(graft.functions.F.decSum(col("value"))).head().getDouble(0)
    assert(math.abs(total - expected) < 1e-6)
  }

  // ---------- d16 ----------

  test("d16 serves internally consistent ranked similarity") {
    val out = DedupOps.docSimServe(spark, Sf0001).collect()
    assert(out.nonEmpty, "served doc must have at least one band-mate")
    assert(out.map(_.getInt(0)).sameElements(1 to out.length))
    // jaccard = round(inter/uni, 6) and ranks follow (jaccard desc, doc_id)
    val scored = out.map(r => (r.getLong(2).toDouble / r.getLong(3), r.getLong(1)))
    out.zip(scored).foreach { case (r, (s, _)) =>
      assert(math.abs(r.getDouble(4) - math.rint(s * 1e6) / 1e6) < 1e-9, r)
    }
    assert(scored.sortBy { case (s, id) => (-s, id) }.sameElements(scored),
      "rows must be ranked by (jaccard desc, doc_id)")
  }

  test("d16's served doc surfaces its own d3-verified partners") {
    val q = DedupOps.minhashLsh(spark, Sf0001)
      .agg(min(col("doc_a"))).head().getLong(0)
    val partners = DedupOps.minhashLsh(spark, Sf0001)
      .filter(col("doc_a") === q).select("doc_b")
      .collect().map(_.getLong(0)).toSet
    val served = DedupOps.docSimServe(spark, Sf0001).collect()
      .map(_.getLong(1)).toSet
    if (served.size < 5) // below the top-k cut nothing may be missing
      partners.foreach(p => assert(served.contains(p),
        s"verified partner $p of served doc $q missing from the serve answer"))
  }

  // ---------- x12 ----------

  test("x12 segments tile every packed sequence with no gaps or overlaps") {
    import graft.operators.CorpusOps
    val segs = CorpusOps.packBoundaries(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(segs.nonEmpty)
    val lastSeq = segs.map(_._1).max
    segs.groupBy(_._1).foreach { case (seq, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._3 === 0L, s"seq $seq does not start at token 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 === b._3, s"gap/overlap in seq $seq between $a and $b")
        case _ =>
      }
      if (seq != lastSeq)
        assert(sorted.last._4 === CorpusOps.SeqLen,
          s"non-final seq $seq not filled to SeqLen")
    }
    // token mass identical to the x10 packing it annotates
    val x10Mass = CorpusOps.sequencePack(spark, Sf0001)
      .agg(sum("n_tok")).head().getLong(0)
    assert(segs.map(s => s._4 - s._3).sum === x10Mass)
  }

  // ---------- b4 ----------

  test("b4 z-order bounds BOTH key spans; natural order leaves one unbounded") {
    import graft.operators.BucketOps
    val li = Tables.lineitem(spark, Sf0001)
      .agg(count(lit(1)), (max("l_orderkey") - min("l_orderkey")),
        (max("l_partkey") - min("l_partkey"))).head()
    val (nRows, oRange, pRange) = (li.getLong(0), li.getLong(1), li.getLong(2))
    val out = BucketOps.zorderLayout(spark, Sf0001).collect()
    val (zb, nb) = out.partition(_.getString(0) == "zorder")
    // same row mass cut into ≤ 256 files either way
    assert(zb.map(_.getLong(2)).sum === nRows && nb.map(_.getLong(2)).sum === nRows)
    assert(zb.length <= 256 && nb.length <= 256)
    // multi-row z files bound BOTH dims to a fraction of the range …
    val zMulti = zb.filter(_.getLong(2) >= 2)
    assert(zMulti.nonEmpty)
    assert(zMulti.map(_.getLong(3)).max <= oRange / 8, "z o_span too wide")
    assert(zMulti.map(_.getLong(4)).max <= pRange / 8, "z p_span too wide")
    // … while natural order bounds one dim tightly and not the other
    val nMulti = nb.filter(_.getLong(2) >= 2)
    assert(nMulti.map(_.getLong(3)).max <= oRange / 8, "natural o_span too wide")
    assert(nMulti.map(_.getLong(4)).max > pRange / 2,
      "natural layout unexpectedly bounds the second dim — fixture degenerate?")
  }

  // ---------- p36 ----------

  test("p36 classifies exactly the late-data window as changed") {
    val diff = pipeline.SinkOps.snapshotDiff(spark, Sf0001).collect()
      .map(r => (localDateOf(r.get(0)), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(diff.nonEmpty)
    val lateFrom = diff.map(_._1).max.minusDays(3)
    diff.foreach { case (d, status, e1, e2) =>
      if (d.isBefore(lateFrom))
        assert(status === "unchanged" && e1 === e2, s"pre-window day $d: $status")
      else {
        assert(status === "changed", s"window day $d not marked changed")
        assert(e1 < e2, s"window day $d lost no events?")
      }
    }
  }

  // ---------- x15 ----------

  test("x15 schedules x9's exact chunk set, cleanest phase first") {
    import graft.operators.CorpusOps
    val x9 = CorpusOps.trainManifest(spark, Sf0001).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted
    val cur = CorpusOps.curriculumSchedule(spark, Sf0001).collect()
    assert(cur.map(r => (r.getLong(2), r.getLong(3))).sorted.sameElements(x9),
      "curriculum must reorder x9's chunk set, not change it")
    // phases are contiguous along the step order
    val phases = cur.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(phases.sliding(2).forall(w => w(0) <= w(1)), "phases must not interleave")
    // quality strictly dominates across phases: every doc in phase p has
    // quality >= every doc in phase p+1 (ties broken into ranks)
    val q = graft.operators.TextOps.quality(spark, Sf0001)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byPhase = cur.groupBy(_.getLong(1)).view
      .mapValues(_.map(r => q(r.getLong(2)))).toMap
    byPhase.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(byPhase(a).min >= byPhase(b).max - 1e-12,
          s"phase $a not uniformly cleaner than phase $b")
      case _ =>
    }
    // doc-level quartiles balance within one document
    val docPhases = cur.map(r => (r.getLong(2), r.getLong(1))).distinct
      .groupBy(_._2).view.mapValues(_.length).values
    assert(docPhases.max - docPhases.min <= 1, s"unbalanced phases: $docPhases")
  }

  // ---------- e21 ----------

  test("e21 bake-off scores the exact answer tables the individual gates check") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(AnnOps.annTopk(spark, Sf0001).filter(col("rnk") <= 3))
    val expected = Map(
      "ivf_bq" -> (pairs(AnnOps.annBq(spark, Sf0001)) & exact).size.toLong,
      "ivf_pq" -> (pairs(AnnOps.annPq(spark, Sf0001)) & exact).size.toLong,
      "ivf_sq8" -> (pairs(AnnOps.annSq(spark, Sf0001)) & exact).size.toLong)
    // bytes_per_vec must reconcile with the codec constants: PQ emits
    // one code per SubDim-dim subspace, SQ8 one code per dimension,
    // BQ one BIT per dimension
    val expectedBytes = Map(
      "ivf_bq" -> (AnnOps.Dims / 8).toLong,
      "ivf_pq" -> (AnnOps.Dims / AnnOps.SubDim).toLong,
      "ivf_sq8" -> AnnOps.Dims.toLong)
    val out = AnnOps.annIndexEval(spark, Sf0001).collect()
    assert(out.length === 3)
    out.foreach { r =>
      val (kind, bytes, nq, nHit, rec) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(bytes === expectedBytes(kind), s"$kind bytes_per_vec")
      assert(nq === exact.map(_._1).size.toLong)
      assert(nHit === expected(kind), s"$kind hit count")
      assert(math.abs(rec - math.rint(nHit / (nq * 3.0) * 1e6) / 1e6) < 1e-9)
    }
  }

  // ---------- x14 ----------

  test("x14 ledger covers every doc and its kept set IS x1's output") {
    import graft.operators.CorpusOps
    val ledger = CorpusOps.dropLedger(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val nDocs = Tables.documents(spark, Sf0001).count()
    assert(ledger.length.toLong === nDocs, "every doc gets exactly one verdict")
    val kept = ledger.filter(_._2 == "kept").map(_._1).sorted
    val x1 = CorpusOps.corpusClean(spark, Sf0001).collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(x1), "ledger 'kept' must equal x1's keep decision")
    val reasons = ledger.map(_._2).toSet
    assert(reasons.subsetOf(Set("kept", "low_quality", "lang_mismatch",
      "exact_dup", "near_dup")))
  }

  // ---------- a17 ----------

  test("a17 paths: full, truncated and direct conversions on constructed journeys") {
    val rows = Seq(
      (7L, "signup"), (7L, "click"), (7L, "view"), (7L, "purchase"),
      (8L, "purchase"),
      (9L, "click"), (9L, "purchase"))
    // events ordered per user by the global arrival index as ts
    import scala.jdk.CollectionConverters._
    val ev = spark.createDataFrame(
      rows.zipWithIndex.map { case ((u, t), i) =>
        Row(i.toLong, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00"), u, t, 1.0)
      }.asJava,
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
    val out = Analytics.conversionPathsOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.sameElements(Array(
      ("(direct)", 1L), ("click", 1L), ("signup>click>view", 1L))),
      out.mkString("; "))
  }

  // ---------- m9 ----------

  test("m9 shards are the exclusive byte prefix sum of m7's exact order") {
    import graft.operators.MultimodalOps
    val manifest = MultimodalOps.mediaManifest(spark, Sf0001).collect()
      .sortBy(_.getLong(0)).map(r => (r.getLong(1), r.getInt(2).toLong))
    val out = MultimodalOps.mediaShards(spark, Sf0001).collect()
      .map(r => r.getLong(2) ->
        ((r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.size === manifest.length)
    val b = MultimodalOps.MediaShardBytes
    var cum = 0L
    manifest.foreach { case (docId, len) =>
      assert(out(docId) === ((cum / b, cum % b, len, cum % b + len > b)),
        s"blob $docId landed wrong")
      cum += len
    }
  }

  // ---------- d17 ----------

  test("d17 equals a driver-side recomputation of the threshold curve") {
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
    val grams = docs.map { case (id, t) =>
      id -> (if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val df = grams.values.flatten.groupBy(identity).view.mapValues(_.size)
    val pruned = grams.map { case (id, g) =>
      id -> g.filter(df(_) <= DedupOps.MaxNgramDf)
    }
    val ids = pruned.keys.toSeq.sorted
    val pairs = for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = pruned(ids(i)); b = pruned(ids(j))
      inter = (a & b).size if inter > 0
    } yield (ids(i), ids(j), inter.toLong, (a.size + b.size - inter).toLong)
    val out = DedupOps.jaccardSweep(spark, Sf0001).collect()
    assert(out.length === DedupOps.JaccardSweep.length)
    out.foreach { r =>
      val tau = r.getLong(0)
      val kept = pairs.filter { case (_, _, in, uni) => in * 1000000L >= tau * uni }
      assert(r.getLong(1) === kept.length.toLong, s"n_pairs at τ=$tau")
      assert(r.getLong(2) ===
        kept.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong,
        s"n_docs at τ=$tau")
    }
    // kept sets nest: both counts are nonincreasing in τ
    assert(out.map(_.getLong(1)).sliding(2).forall(w => w(0) >= w(1)))
    assert(out.map(_.getLong(2)).sliding(2).forall(w => w(0) >= w(1)))
  }

  // ---------- g5 ----------

  test("g5 hub table is the in-degree rollup of e1's exact edges") {
    val edges = AnnOps.annTopk(spark, Sf0001).collect().map(_.getLong(2))
    val expected = edges.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    val out = AnnOps.annHubness(spark, Sf0001).collect()
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    out.foreach { r =>
      assert(r.getLong(2) === 1000000L * r.getLong(1) / edges.length)
    }
    // ordered by (in_degree desc, c_id)
    val ord = out.map(r => (-r.getLong(1), r.getLong(0)))
    assert(ord.sameElements(ord.sorted))
  }

  // ---------- t14 ----------

  test("t14 matches a driver-side recomputation of the Heaps curve") {
    val docs = Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
    val n = docs.map(_._1).max + 1
    val firstOwner = docs.flatMap { case (id, ts) => ts.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    val out = graft.operators.TextOps.vocabGrowth(spark, Sf0001).collect()
    assert(out.length === 4)
    out.foreach { r =>
      val (pm, nd, nt, v, ttr) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      val d = 1000L / pm
      val cut = (n + d - 1) / d
      val pre = docs.filter(_._1 < cut)
      assert(nd === pre.length.toLong, s"n_docs at $pm‰")
      assert(nt === pre.map(_._2.length.toLong).sum, s"mass at $pm‰")
      assert(v === firstOwner.values.count(_ < cut).toLong, s"vocab at $pm‰")
      assert(ttr === 1000000L * v / nt, s"ttr at $pm‰")
    }
    // growth curve is monotone in corpus size by construction
    assert(out.map(_.getLong(3)).sliding(2).forall(w => w(0) <= w(1)))
  }

  // ---------- p38 ----------

  test("p38 merged speed+repair table equals batch truth bit-for-bit") {
    val merged = graft.streaming.StreamPipeline.lambdaReconcile(spark, Sf0001)
      .collect().map(_.toString).sorted
    val truth = Tables.events(spark, Sf0001)
      .filter(graft.pipeline.TripPipeline.validCond)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"))
      .collect().map(_.toString).sorted
    assert(merged.sameElements(truth),
      "the late model does not complement Spark's real drops")
  }

  // ---------- e20 ----------

  test("e20 splits exactly the hottest cell into two nearest-seed halves") {
    val raw = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), graft.functions.F.quantize(col("embedding")).as("q"),
        col("label"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getInt(2)))
    // independent reconstruction of the composite coarse cell
    // (class·2^b + 'cp_'-hyperplane subcode, b from the corpus count)
    val b = AnnOps.cellBits(raw.length.toLong)
    def cellOf(q: Array[Long], label: Int): Int = {
      val sub = (0 until b).map { i =>
        val dot = q.zip(AnnOps.cellPlaneW(i)).map { case (x, y) => x * y }.sum
        if (dot > 0) 1L << i else 0L
      }.sum
      (label.toLong * (1L << b) + sub).toInt
    }
    val emb = raw.map { case (id, q, l) => (id, q, cellOf(q, l)) }
    val hot = emb.groupBy(_._3).toSeq.map { case (l, ms) => (l, ms.length) }
      .minBy { case (l, n) => (-n, l) }._1
    val cell = emb.filter(_._3 == hot).map(m => m._1 -> m._2).toMap
    val out = AnnOps.annCellSplit(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.map(_._1).toSet === cell.keySet, "split must cover the hottest cell")
    assert(out.forall(_._2 == hot))
    val subs = out.map(r => r._1 -> r._3).toMap
    assert(subs.values.toSet === Set(0L, 1L), "a degenerate one-sided split")
    // independently recompute: every member sits with its nearer seed
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val centroidDist = cell.map { case (id, v) =>
      // n-scaled distance to the cell centroid: n²·v·v − 2n·(v·s) + s·s
      val n = cell.size.toLong
      val s = cell.values.transpose.map(_.sum).toArray
      id -> (n * n * v.map(x => x * x).sum -
        2 * n * v.zip(s).map { case (x, y) => x * y }.sum +
        s.map(x => x * x).sum)
    }
    val aId = cell.keys.toSeq.minBy(id => (-centroidDist(id), id))
    val bId = cell.keys.toSeq.filter(_ != aId)
      .minBy(id => (-d2(cell(id), cell(aId)), id))
    assert(subs(aId) === 0L && subs(bId) === 1L, "seeds must anchor their halves")
    cell.foreach { case (id, v) =>
      val (da, db) = (d2(v, cell(aId)), d2(v, cell(bId)))
      assert(subs(id) === (if (da <= db) 0L else 1L), s"member $id mis-assigned")
    }
  }

  // ---------- p37 ----------

  test("p37 DLQ ledger: v1 rejects three classes, v2 recovers the well-formed two") {
    val out = graft.pipeline.TripPipeline.dlqReplay(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    out.foreach { case (cls, (n, q, rec, dead)) =>
      assert(q === rec + dead, s"class $cls ledger does not balance")
      assert(n > 0)
      cls match {
        case 0L => assert(q === 0L, "ISO class must pass v1")
        case 3L => assert(dead === q && q === n, "garbage class must stay dead")
        case _ => assert(rec === q && q === n, s"well-formed class $cls not recovered")
      }
    }
  }

  // ---------- x13 ----------

  test("x13 keeps the max-quality member of every d5 cluster") {
    val members = DedupOps.nearDupClusters(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val score = graft.operators.TextOps.quality(spark, Sf0001)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = members.groupBy(_._2).map { case (c, ms) =>
      c -> ms.map(_._1).minBy(id => (-score(id), id))
    }
    val out = graft.operators.CorpusOps.qualityKeep(spark, Sf0001).collect()
    assert(out.length === expected.size)
    out.foreach { r =>
      val (c, keep, naive, upgraded) =
        (r.getLong(0), r.getLong(2), r.getLong(4), r.getBoolean(5))
      assert(keep === expected(c), s"cluster $c kept the wrong member")
      assert(upgraded === (keep != naive))
      assert(math.abs(r.getDouble(3) - score(keep)) < 1e-9)
    }
  }

  // ---------- m8 ----------

  private def docsOf(rows: Seq[(Long, String)]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  test("m8 detects trims, re-encodes and exact copies at the right containment") {
    import graft.operators.MultimodalOps
    // 8 distinct 8-char blocks; B = A with the first block trimmed (one
    // FrameStep), so every one of B's frames exists in A at a shifted
    // offset; C shares nothing; D is an exact copy of A
    val blocks = (0 until 8).map(i => s"block${i}xy".take(8))
    assert(blocks.forall(_.length == 8))
    val a = blocks.mkString
    val b = blocks.drop(1).mkString
    val c = (0 until 8).map(i => s"other${i}qz".take(8)).mkString
    val out = MultimodalOps.clipNearDupOf(spark,
      docsOf(Seq(1L -> a, 2L -> b, 3L -> c, 4L -> a)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // A: (64−16)/8+1 = 7 frames; B: 6 — all shared ⇒ containment 10⁶;
    // the exact copy shares all 7
    assert(out.sorted.sameElements(Array(
      (1L, 2L, 6L, 7L, 6L, 1000000L),
      (1L, 4L, 7L, 7L, 7L, 1000000L),
      (2L, 4L, 6L, 6L, 7L, 1000000L))), out.mkString("; "))
  }

  // ---------- p35 ----------

  private def localDateTimeOf(v: Any): java.time.LocalDateTime = v match {
    case t: java.sql.Timestamp => t.toLocalDateTime
    case d: java.time.LocalDateTime => d
    case i: java.time.Instant => i.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
    case other => sys.error(s"not a timestamp value: $other (${other.getClass})")
  }

  test("p35 admits a late row iff its window end is STRICTLY past the watermark") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("p35spec").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // evens (batch 0): max ts 12:00 → watermark 11:00 for the odd batch
    // odds  (batch 1): 09:30 (win end 10:00 < wm: dropped),
    //                  10:45 (win end 11:00 == wm: THE boundary),
    //                  11:30 (win end 12:00 > wm: admitted)
    val rows = Seq(
      0L -> "2024-01-01 10:00:00", 2L -> "2024-01-01 10:30:00",
      4L -> "2024-01-01 12:00:00",
      1L -> "2024-01-01 09:30:00", 3L -> "2024-01-01 10:45:00",
      5L -> "2024-01-01 11:30:00")
    spark.createDataFrame(
        rows.map { case (id, t) => Row(id, ts(t), 7L, "click", 1.0, null) }.asJava,
        schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = try graft.streaming.StreamPipeline.lateDataAccounting(spark, dir)
      .collect()
      .map(r => (localDateTimeOf(r.get(0)).toString,
        r.getLong(2), r.getLong(3), r.getLong(4)))
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(graft.streaming.StreamPipeline.stagingPath("p35", dir)))
    val expected = Array(
      ("2024-01-01T09:00", 1L, 0L, 1L),
      ("2024-01-01T10:00", 3L, 2L, 1L), // the == boundary row is DROPPED
      ("2024-01-01T11:00", 1L, 1L, 0L),
      ("2024-01-01T12:00", 1L, 1L, 0L))
    assert(out.sameElements(expected), out.mkString("; "))
  }

  test("a15 degenerate cohort (everyone converts) reports no verdict") {
    val thr = Analytics.AbConvThreshold.toInt
    val rows = (0L to 9L).flatMap(u => Seq.fill(thr)((u, "t")))
    val r = Analytics.abLiftOf(eventsOf(rows)).collect().head
    assert(r.isNullAt(6) && r.isNullAt(7),
      "pooled p̂(1−p̂) = 0 — z² and the verdict must be NULL, not a crash")
  }
}
