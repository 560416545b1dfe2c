package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Analytics
import graft.operators.{ClusterOps, JoinOps, SketchOps}

/** Semantics + scale-shape checks for the round-4 operators
  * (q21 / p17 / a4 / e7 / s4). */
class NewOpsSpec extends AnyFunSuite with SparkSpec {

  // --- q21: blame semantics on a constructed order set ------------------

  test("q30 equals an off-engine recomputation of the bilateral volume") {
    val natOf = Tables.nation(spark, Sf0001)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val custNat = Tables.customer(spark, Sf0001)
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> natOf(r.getLong(1))).toMap
    val suppNat = Tables.supplier(spark, Sf0001)
      .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> natOf(r.getLong(1))).toMap
    val ordCust = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pair = Set("NATION_10", "NATION_12")
    val agg = scala.collection.mutable.Map.empty[(String, String, Int), BigDecimal]
    Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), col("l_shipdate"), year(col("l_shipdate")).as("y"))
      .collect().foreach { r =>
        val sd = localDateOf(r.get(4))
        val inWindow = !sd.isBefore(java.time.LocalDate.of(1996, 1, 1)) &&
          sd.isBefore(java.time.LocalDate.of(1998, 1, 1))
        val cn = custNat(ordCust(r.getLong(0)))
        val sn = suppNat(r.getLong(1))
        if (inWindow && pair(cn) && pair(sn) && cn != sn) {
          val k = (cn, sn, r.getInt(5))
          agg(k) = agg.getOrElse(k, BigDecimal(0)) +
            BigDecimal(r.getDouble(2) * (1.0 - r.getDouble(3)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }
      }
    assert(agg.nonEmpty, "fixture must have bilateral volume")
    val got = Analytics.q30NationVolume(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.keySet === agg.keySet)
    for ((k, v) <- agg) assert(got(k) === v.toDouble, k)
  }

  test("g2 triangle census equals a brute-force recount of the d3 pair graph") {
    val pairs = operators.DedupOps.minhashLsh(spark, Sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = pairs.toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    var triangles = 0L
    for ((a, b) <- pairs; c <- nodes if b < c) {
      if (edgeSet((b, c)) && edgeSet((a, c))) triangles += 1
    }
    val r = operators.GraphOps.neardupTriangles(spark, Sf0001).collect()(0)
    assert(r.getAs[Long]("n_edges") === pairs.length.toLong)
    assert(r.getAs[Long]("n_nodes") === nodes.length.toLong)
    assert(r.getAs[Long]("n_triangles") === triangles)
    assert(triangles > 0, "fixture must contain at least one duplicate family triangle")
  }

  test("q21 blames exactly the sole-late supplier on multi-supplier finished orders") {
    // order 1: suppliers 10 (late) + 11 (on time)  -> 10 blamed
    // order 2: suppliers 10 (late) + 11 (late)     -> nobody (another late supplier)
    // order 3: supplier 10 alone (late)            -> nobody (no other supplier)
    // order 4: like order 1 but status 'O'         -> nobody (not finished)
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ship(days: Int) = java.sql.Timestamp.valueOf(s"2024-${if (days > 90) "05" else "01"}-01 00:00:00")
    val orders = spark.createDataFrame(java.util.List.of(
        Row(1L, "F", day0), Row(2L, "F", day0), Row(3L, "F", day0), Row(4L, "O", day0)),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_orderdate", TimestampType))))
    val li = spark.createDataFrame(java.util.List.of(
        Row(1L, 10L, ship(120)), Row(1L, 11L, ship(1)),
        Row(2L, 10L, ship(120)), Row(2L, 11L, ship(120)),
        Row(3L, 10L, ship(120)),
        Row(4L, 10L, ship(120)), Row(4L, 11L, ship(1))),
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_shipdate", TimestampType))))
    // the fixture drives the operator's REAL blame core
    val blamed = Analytics.q21BlamedSet(orders, li)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blamed === Set((1L, 10L)))
  }

  test("q21 runs on the real tables with no SF-proportional broadcast") {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val q = Analytics.q21Waiting(spark, Sf0001)
      assert(q.count() > 0, "q21 must be non-vacuous at sf0.001")
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // only the 25-row nation dim is broadcast by the code
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
      assert(nBroadcast === 1, s"expected only the nation broadcast, plan:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  // --- p17: SCD2 interval invariants ------------------------------------

  test("p17 intervals chain per user: contiguous, ordered, one current row") {
    val scd = pipeline.ScdOps.scdTiers(spark, Sf0001).cache()
    val n = scd.count()
    assert(n > 0)
    // exactly one open (is_current) interval per user
    val users = scd.select("user_id").distinct().count()
    val current = scd.filter(col("is_current")).count()
    assert(current === users, "each user must have exactly one open interval")
    // valid_from < valid_to on closed intervals; next version starts where
    // the previous ended; tiers actually change between versions
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("version")
    val bad = scd
      .withColumn("next_from", lead("valid_from", 1).over(w))
      .withColumn("next_tier", lead("tier", 1).over(w))
      .filter(
        (col("valid_to").isNotNull && col("valid_from") >= col("valid_to")) ||
        (col("next_from").isNotNull && col("valid_to") =!= col("next_from")) ||
        (col("next_tier").isNotNull && col("tier") === col("next_tier")))
      .count()
    assert(bad === 0L, "SCD2 invariants violated")
    scd.unpersist()
  }

  // --- a4: bucketed overlap equals the literal inequality join ----------

  test("a4 bucketed overlap join equals the naive theta-join") {
    val s = pipeline.TripPipeline.sessionize(spark, Sf0001)
      .select(col("user_id"), col("session_idx"),
        col("session_start").cast("timestamp").as("ss"),
        col("session_end").cast("timestamp").as("ee"))
    val naive = s.as("a").join(s.as("b"),
        col("a.user_id") =!= col("b.user_id") &&
          col("a.ss") <= col("b.ee") && col("b.ss") <= col("a.ee"))
      .groupBy(col("a.user_id"), col("a.session_idx")).count()
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val bucketed = JoinOps.intervalOverlap(spark, Sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(bucketed.size >= naive.size) // bucketed keeps zero-overlap rows
    naive.foreach { case (k, v) =>
      assert(bucketed(k) === v, s"overlap count mismatch for $k") }
    assert(bucketed.count(_._2 > 0) === naive.size)
  }

  // --- e7: determinism + assignment optimality ---------------------------

  test("e7 k-means is partition-count invariant and assigns to the nearest centroid") {
    def run(parts: Int): Array[Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      // drop the memoized assignment so each run really recomputes the
      // Lloyd rounds at its own partitioning (not the cached persist)
      operators.DedupOps.clearMemo(spark, Sf0001)
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        ClusterOps.kmeans(spark, Sf0001).collect()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run(3); val b = run(13)
    assert(a.toSeq === b.toSeq, "assignments must not depend on partitioning")
    val clusters = a.map(_.getLong(1)).distinct
    assert(clusters.length > 1 && clusters.length <= ClusterOps.K)
    assert(a.forall(_.getLong(2) >= 0L))
  }

  // --- d7: winnowing coverage guarantee ----------------------------------

  test("d7 winnowing: docs sharing a w+2-token run share a fingerprint") {
    import spark.implicits._
    // two docs sharing exactly a 6-token run (w=4 ⇒ guarantee threshold),
    // surrounded by disjoint text; a third doc with no overlap
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight nine $shared ten eleven twelve"),
      (3L, "thirteen fourteen fifteen sixteen seventeen eighteen nineteen"))
      .toDF("doc_id", "text")
    val fps = operators.DedupOps.winnowFps(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "a shared w+2-token run must yield a shared fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // fingerprint density: at most one per window position, far fewer
    // after the distinct collapse
    assert(byDoc(1L).size <= 12)
  }

  // --- p18: as-of window union equals the literal interval join ----------

  test("p18 window-union lookup equals the literal SCD2 range join") {
    val scd = pipeline.ScdOps.scdTiers(spark, Sf0001)
    val purchases = Tables.events(spark, Sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val literal = purchases.as("p").join(scd.as("v"),
        col("p.user_id") === col("v.user_id") &&
          col("p.ts").cast("timestamp_ntz") >= col("v.valid_from") &&
          (col("v.valid_to").isNull || col("p.ts").cast("timestamp_ntz") < col("v.valid_to")),
        "left")
      .select(col("p.event_id"), col("v.version"), col("v.tier"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val windowed = pipeline.ScdOps.temporalLookup(spark, Sf0001)
      .select(col("event_id"), col("version"), col("tier"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(windowed === literal)
  }

  test("p18 plans as windows only: no join, user_id exchanges shared") {
    val df = pipeline.ScdOps.temporalLookup(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"p18 must not plan a join:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 2, s"expected at most 2 user_id exchanges, got $hashEx:\n$plan")
  }

  test("a4 plans the overlap as an equality join on the bucket, never a nested loop") {
    val df = JoinOps.intervalOverlap(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the bucket rewrite must keep the join hashable:\n$plan")
  }

  test("e8/q24/d8 invariants: recall bounds, share bounds, containment direction") {
    val rec = operators.AnnOps.annRecall(spark, Sf0001).collect()
    assert(rec.nonEmpty)
    rec.foreach { r =>
      val hit = r.getLong(1)
      assert(hit >= 0 && hit <= 3)
      assert(math.abs(r.getDouble(2) - math.rint(hit / 3.0 * 1e6) / 1e6) < 1e-9)
    }
    val share = Analytics.q24MarketShare(spark, Sf0001).collect()
    assert(share.nonEmpty)
    share.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) > 0.0)
    }
    val cont = operators.DedupOps.containmentPairs(spark, Sf0001).collect()
    assert(cont.nonEmpty, "containment must be non-vacuous at sf0.001")
    cont.foreach { r =>
      val c = r.getDouble(4)
      assert(c >= 0.6 - 1e-9 && c <= 1.0 + 1e-9)
      assert(r.getLong(0) !== r.getLong(1))
    }
    // directionality of the DEFINITION: where both directions of a pair
    // survive with different index sizes, their containments must
    // differ by exactly the n_src ratio (containment = inter / n_src)
    val byPair = cont.map(r =>
      ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    byPair.foreach { case ((a, b), (inter, nSrc, c)) =>
      assert(math.abs(c - math.rint(inter.toDouble / nSrc * 1e6) / 1e6) < 1e-9)
      byPair.get((b, a)).foreach { case (inter2, nSrc2, c2) =>
        assert(inter2 === inter, "intersection must be symmetric")
        if (nSrc != nSrc2) assert(c !== c2, "containment must follow its own side's size")
      }
    }
  }

  // --- t9: chunk geometry covers every token exactly as specified --------

  test("t9 chunks cover every token: stride layout, full windows, short tail only") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), size(graft.functions.F.tokens(col("text"))).as("n"))
    val chunks = TextOps.chunk(spark, Sf0001)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        max("chunk_id").as("last_id"),
        min("n_tok").as("min_tok"),
        sum(when(col("n_tok") =!= TextOps.ChunkSize, 1L).otherwise(0L)).as("n_short"))
    val joined = docs.join(chunks, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val n = r.getAs[Int]("n").toLong
      val (nc, last, minTok, nShort) = (r.getAs[Long]("n_chunks"),
        r.getAs[Long]("last_id"), r.getAs[Long]("min_tok"), r.getAs[Long]("n_short"))
      assert(last === nc - 1, "chunk ids are dense ordinals")
      // last window reaches the final token; the one before it doesn't
      assert(last * TextOps.ChunkStride + TextOps.ChunkSize >= n)
      if (nc > 1) assert((last - 1) * TextOps.ChunkStride + TextOps.ChunkSize < n)
      assert(nShort <= 1, "only the final chunk may run short")
      assert(minTok >= 1)
    }
  }

  // --- d9: passage fingerprints vs a brute-force recount -----------------

  test("d9 reported passages really occur in >=2 distinct docs (brute recount)") {
    import graft.operators.DedupOps
    val reported = DedupOps.passageDedup(spark, Sf001)
    assert(reported.count() > 0, "sf0.01 must surface duplicated passages")
    // recount occurrences of each reported fingerprint straight off the text
    val p = DedupOps.PassageLen
    val all = Tables.documents(spark, Sf001)
      .withColumn("t", graft.functions.F.tokens(col("text")))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(t) + ${p - 1}) div $p - 1), u -> slice(t, u * $p + 1, $p))")).as("w"))
      .filter(size(col("w")) === p)
      .select(col("doc_id"), md5(array_join(col("w"), " ")).as("fp"))
    val recount = all.groupBy("fp").agg(
      countDistinct("doc_id").as("nd"), count(lit(1)).as("no"), min("doc_id").as("kd"))
    val bad = reported.join(recount, "fp")
      .filter(col("n_docs") =!= col("nd") || col("n_occ") =!= col("no") ||
        col("keep_doc_id") =!= col("kd") || col("n_docs") < 2)
    assert(bad.count() === 0L)
  }

  // --- x3: decontamination flags are sound and complete ------------------

  test("x3 flags exactly the train docs sharing a gram with the eval set") {
    import graft.operators.CorpusOps
    val out = CorpusOps.decontaminate(spark, Sf001).collect()
    assert(out.nonEmpty, "sf0.01 must surface contamination")
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % CorpusOps.EvalMod != 0L, "eval docs never flagged")
      assert(r.getAs[Long]("n_shared") > 0L)
    }
    // soundness+completeness vs an independent formulation: EXISTS semi
    // join instead of inner-join+groupBy
    val g = CorpusOps.ContamGram
    val grams = Tables.documents(spark, Sf001)
      .withColumn("t", graft.functions.F.tokens(col("text")))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(t) >= $g
           |  THEN transform(sequence(0, size(t) - $g), i -> array_join(slice(t, i + 1, $g), ' '))
           |  ELSE array() END""".stripMargin)).as("gram")).distinct()
    val ev = grams.filter(col("doc_id") % CorpusOps.EvalMod === 0).select("gram")
    val expected = grams.filter(col("doc_id") % CorpusOps.EvalMod =!= 0)
      .join(ev, Seq("gram"), "left_semi").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet === expected)
  }

  // --- s5: Count-Min never undercounts and stays inside its envelope -----

  test("s5 CMS estimates dominate the truth and respect the eps*N bound") {
    val li = Tables.lineitem(spark, Sf001)
    val n = li.count()
    val rows = SketchOps.countMinTopk(spark, Sf001).collect()
    assert(rows.length === 10)
    val eps = math.E / SketchOps.CmWidth
    rows.foreach { r =>
      val (t, e) = (r.getAs[Long]("true_cnt"), r.getAs[Long]("est_cnt"))
      assert(e >= t, "Count-Min can only overestimate")
      // per-row the eps*N bound holds w.p. 1-(1/e)^depth; with depth 4
      // and a deterministic hash family a violation means a real bug
      assert(e - t <= (eps * n).ceil.toLong * 2, s"overestimate ${e - t} vs n=$n")
    }
  }

  // --- q25: decorrelated argmin equals the literal correlated subquery ---

  test("q25 equals the decorrelated join-back formulation") {
    val out = Analytics.q25MinCost(spark, Sf0001)
    // independent formulation: second aggregation + equality join back
    // (the shape the operator deliberately avoids — see its scaladoc)
    val eusup = Tables.supplier(spark, Sf0001)
      .join(Tables.nation(spark, Sf0001), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, Sf0001).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val cost = Tables.lineitem(spark, Sf0001)
      .join(eusup.select("s_suppkey"), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey").agg(min("l_extendedprice").as("cost"))
    val best = cost.groupBy(col("l_partkey").as("b_partkey")).agg(min("cost").as("mc"))
    val viaJoinBack = cost
      .join(best, col("l_partkey") === col("b_partkey") && col("cost") === col("mc"))
      .join(Tables.part(spark, Sf0001).filter(col("p_size") <= 5),
        col("l_partkey") === col("p_partkey"))
      .join(eusup, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
    assert(out.collect().toSeq === viaJoinBack.collect().toSeq)
    // the operator's plan reads lineitem exactly once (split off AQE's
    // "== Initial Plan ==" echo, which double-prints every scan)
    val finalPlan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = finalPlan.linesIterator.count(_.contains("lineitem.parquet"))
    assert(scans === 1, "q25 must not re-scan the fact table for the argmin")
  }

  // --- p20: stream-static enrichment equals the batch join ---------------

  test("p20 streaming revenue-by-nation equals the batch formulation") {
    import graft.streaming.StreamPipeline
    import graft.pipeline.TripPipeline
    val streamed = StreamPipeline.revenueByNationViaFileStream(spark, Sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, Sf0001)
      .filter(TripPipeline.validCond)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, Sf0001)
          .join(Tables.nation(spark, Sf0001), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name")),
        col("user_id") === col("c_custkey"))
      .groupBy(to_date(col("ts")).as("date"), col("n_name"))
      .agg(graft.functions.F.decSum(col("value")).as("revenue"),
        count(lit(1)).as("n_purchases"))
      .orderBy("date", "n_name")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  // --- x4: mix rebalancing lands on the target and is deterministic ------

  test("x4 downsamples every language toward the smallest language's token mass") {
    import graft.operators.CorpusOps
    val rows = CorpusOps.weightedMix(spark, Sf001).collect()
    assert(rows.length >= 2)
    val target = rows.map(_.getAs[Long]("tokens_before")).min
    rows.foreach { r =>
      val (before, ppm, kept) = (r.getAs[Long]("tokens_before"),
        r.getAs[Long]("rate_ppm"), r.getAs[Long]("tokens_kept"))
      assert(kept <= before)
      if (ppm == 1000000L) assert(kept === before, "rate 1 must keep everything")
      else {
        assert(ppm === target * 1000000L / before)
        // Bernoulli sample of ~60+ docs: kept mass within 25% of target
        assert(math.abs(kept - target).toDouble / target <= 0.25,
          s"lang ${r.getAs[String]("lang")}: kept $kept vs target $target")
      }
    }
    // pure function of doc_id: a rerun is bit-identical
    assert(CorpusOps.weightedMix(spark, Sf001).collect().toSeq === rows.toSeq)
  }

  // --- t10: positional bigram scoring is internally consistent -----------

  test("t10 scores every multi-token doc with exact micro-unit arithmetic") {
    import graft.operators.TextOps
    val scored = TextOps.lmScore(spark, Sf001)
    val toks = Tables.documents(spark, Sf001)
      .select(col("doc_id"), size(graft.functions.F.tokens(col("text"))).as("n_tok"))
    val joined = scored.join(toks, "doc_id").collect()
    assert(joined.length === Tables.documents(spark, Sf001).count())
    joined.foreach { r =>
      val (nBg, sumC, score) = (r.getAs[Long]("n_bg"), r.getAs[Long]("sum_c"),
        r.getAs[Long]("score_micro"))
      assert(nBg === r.getAs[Int]("n_tok").toLong - 1, "one bigram per adjacent pair")
      assert(score === sumC * 1000000L / nBg)
      assert(sumC >= nBg, "each occurrence counts at least itself")
    }
  }

  // --- t11: repetition metrics are internally consistent -----------------

  test("t11 repetition metrics respect their arithmetic bounds and find repeats") {
    import graft.operators.TextOps
    val rows = TextOps.repetition(spark, Sf001).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (n, u, rep, top) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_unique"),
        r.getAs[Long]("rep_micro"), r.getAs[Long]("top_micro"))
      assert(u <= n && u >= 1)
      assert(rep === (n - u) * 1000000L / n)
      // the most frequent gram covers at least the average share
      assert(top >= 1000000L / u)
      assert(top <= 1000000L)
    }
    assert(rows.exists(_.getAs[Long]("rep_micro") > 0L),
      "corpus must surface some within-doc repetition")
  }

  // --- p22: merged schema null-fills exactly the v1 files ----------------

  test("p22 merged read null-fills avg_value exactly for v1-writer rows") {
    val rows = pipeline.SinkOps.schemaEvolutionRead(spark, Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v1 = r.getAs[Long]("writer_v") == 1L
      assert(r.isNullAt(r.fieldIndex("avg_value")) === v1,
        s"avg_value nullity must track writer version: $r")
      assert(v1 === (r.getAs[String]("event_type") < "p"))
    }
  }

  // --- e9: pre-filtering dominates post-filtering ------------------------

  test("e9 pre-filtered ANN returns every result post-filtering can, and more") {
    import graft.operators.AnnOps
    val allowed = Tables.documents(spark, Sf001).filter(col("lang") === "en")
      .select(col("doc_id").as("c_id"))
    val pre = AnnOps.annFiltered(spark, Sf001)
    // every e9 result satisfies the predicate
    assert(pre.join(allowed, Seq("c_id"), "left_anti").count() === 0L)
    // post-filtering = rank the UNfiltered e5 top-3 first, then drop
    // non-matching rows — the naive vector-store composition
    val post = AnnOps.annIvf(spark, Sf001).join(allowed, Seq("c_id"), "left_semi")
    val preCnt = pre.groupBy("q_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val postCnt = post.groupBy("q_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per query, post-filter can never return more than pre-filter...
    postCnt.foreach { case (q, n) => assert(n <= preCnt.getOrElse(q, 0L)) }
    // ...and somewhere it returns strictly fewer (the recall loss e9 fixes)
    assert(postCnt.values.sum < preCnt.values.sum,
      "expected post-filtering to lose results at this geometry")
  }

  // --- p21: the sink is idempotent under full re-delivery ----------------

  test("p21 re-delivering the whole stream leaves the sink byte-identical") {
    import graft.streaming.StreamPipeline
    val first = StreamPipeline.idempotentKpiSink(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    // run the ENTIRE pipeline again: a fresh query re-processes every
    // event (at-least-once replay of all batches); the sink replaces
    // each date's file — never appends — so rows must not double
    val second = StreamPipeline.idempotentKpiSink(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(second === first, "re-delivery must not change the sink")
  }

  test("p21 lands one JSON part file per date, the kpiSinkStream layout") {
    import graft.streaming.StreamPipeline
    val n = StreamPipeline.idempotentKpiSink(spark, Sf0001).count()
    val dateDirs = new java.io.File(StreamPipeline.stagingPath("p21sink", Sf0001)).listFiles()
      .filter(_.getName.startsWith("date="))
    assert(n > 0 && dateDirs.length === n)
    // the .crc sidecars are the checksummed filesystem's
    dateDirs.foreach { d =>
      assert(d.list().filterNot(_.endsWith(".crc")).toSeq === Seq("part-00000.json"), d)
    }
  }

  // --- s4: HLL estimate lands inside its error envelope ------------------

  test("s4 HLL estimate is within 4 standard errors of the exact count") {
    val r = SketchOps.hllDistinct(spark, Sf0001).collect().head
    val est = r.getDouble(r.fieldIndex("est_distinct"))
    val exact = r.getLong(r.fieldIndex("n_exact"))
    val se = 1.04 / math.sqrt(SketchOps.HllM.toDouble) // ~6.5% for m=256
    assert(math.abs(est - exact) / exact <= 4 * se,
      s"HLL estimate $est too far from exact $exact")
  }
}
