package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Analytics
import graft.operators.{SketchOps, TextOps}

/** Sketch/sampling/phrase-mining operators added in round 3. */
class SketchSpec extends AnyFunSuite with SparkSpec {

  test("driver contract: every query key has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("query filter: SPARK_GRAFT_ONLY rejects names that are not query keys") {
    assert(SparkEntry.onlyKeys(None).isEmpty)
    assert(SparkEntry.onlyKeys(Some(" p9_dedup_exact_stream ,q1_pricing")).contains(
      Set("p9_dedup_exact_stream", "q1_pricing")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.onlyKeys(Some("p9_dedup_exact_stream,p9_typo,zz")))
    assert(e.getMessage.contains("p9_typo, zz"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.onlyKeys(Some(" , ")))
  }

  test("s1 KMV estimate brackets the exact distinct count") {
    val r = SketchOps.kmvDistinct(spark, Sf0001).collect()(0)
    val est = r.getAs[Double]("est_distinct")
    val exact = r.getAs[Long]("n_exact")
    assert(exact > 0)
    // k=16 on a ~31-token vocabulary: the estimator is coarse but must
    // land the right order of magnitude
    assert(est > exact / 3.0 && est < exact * 3.0, s"est=$est exact=$exact")
    assert(r.getAs[Long]("kth_min") > 0L)
  }

  test("s2 group quantiles equal a driver-side percentile_disc recomputation") {
    val got = SketchOps.groupQuantiles(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val rows = Tables.orders(spark, Sf0001)
      .select("o_orderpriority", "o_totalprice", "o_orderkey").collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(identity).map(_._1)).toMap
    for ((prio, sorted) <- rows; q <- SketchOps.Quantiles) {
      val expected = sorted(math.floor((sorted.length - 1) * q).toInt)
      assert(got((prio, q)) === expected, s"($prio, $q)")
    }
  }

  test("s3 stratified sample is a pure row function: exact, deterministic, rate-correct") {
    val s = SketchOps.sampleStratified(spark, Sf0001)
    val byType = s.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byType.contains("error"), "error stratum must be dropped entirely")
    val totals = Tables.events(spark, Sf0001).filter(col("event_type") === "signup").count()
    assert(byType("signup") === totals, "signup stratum must be kept entirely")
    // deterministic under repartitioning: same sample, any partitioning
    val ids1 = s.select("event_id").collect().map(_.getLong(0)).toSet
    val ids2 = SketchOps.sampleStratified(spark, Sf0001)
      .repartition(13).select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
  }

  test("s6 histogram p50/p95 bins contain the exact order statistics") {
    val got = SketchOps.histQuantiles(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    // recompute off-engine: exact milli-unit values per event_type
    val vals = Tables.events(spark, Sf0001)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(col("event_type"), floor(col("value") * 1000).cast("long").as("mv"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got.keySet === vals.keySet)
    def binOf(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    for ((et, sorted) <- vals) {
      val r = got(et)
      val n = sorted.length
      assert(r.getAs[Long]("n") === n.toLong, s"$et n")
      // the query's rank definitions: first cum crossing n/2 resp. 0.95n
      val p50 = sorted((n + 1) / 2 - 1)              // rank ceil(n/2)
      val p95 = sorted((95 * n + 99) / 100 - 1)      // rank ceil(0.95 n)
      assert(r.getAs[Long]("p50_bin") === binOf(p50), s"$et p50 bin")
      assert(r.getAs[Long]("p95_bin") === binOf(p95), s"$et p95 bin")
      // the reported power-of-two bracket (hi/2, hi] contains the statistic
      val hi50 = r.getAs[Long]("p50_hi_milli")
      val hi95 = r.getAs[Long]("p95_hi_milli")
      assert(p50 <= hi50 && p50 > hi50 / 2, s"$et p50 bracket")
      assert(p95 <= hi95 && p95 > hi95 / 2, s"$et p95 bracket")
    }
  }

  test("s7 bloom predicate admits every matching row and prunes the rest") {
    val urgent = Tables.orders(spark, Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val urgentSet = urgent.collect().map(_.getLong(0)).toSet
    assume(urgentSet.nonEmpty)
    val pred = SketchOps.bloomPredicate(urgent, "o_orderkey", col("l_orderkey"))
    val keys = Tables.lineitem(spark, Sf0001).select("l_orderkey")
    val passed = keys.filter(pred).collect().map(_.getLong(0))
    val all = keys.collect().map(_.getLong(0))
    // no false negatives: every truly-matching row passes the filter
    assert(passed.count(urgentSet) === all.count(urgentSet))
    // effective pruning: false positives ≤ 1% of the non-matching rows
    val fp = passed.count(k => !urgentSet(k))
    val nonMatching = all.count(k => !urgentSet(k))
    assert(nonMatching > 0)
    assert(fp.toDouble / nonMatching <= 0.01, s"fp=$fp of $nonMatching")
  }

  test("s1 k-smallest plans as TakeOrderedAndProject, not a global sort") {
    val df = SketchOps.kmvDistinct(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("t6 redaction is non-vacuous and masks every injected pattern") {
    val r = TextOps.redact(spark, Sf0001)
    assert(r.filter(col("n_emails") < 1 || col("n_phones") < 1).count() === 0L,
      "every doc gets at least the injected email+phone")
    // independently recompute the redacted text and prove no residual match
    val residual = Tables.documents(spark, Sf0001)
      .select(regexp_replace(regexp_replace(
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or call 555-01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" now")),
          TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>").as("rt"))
      .filter(regexp_count(col("rt"), lit(TextOps.EmailRe)) > 0 ||
        regexp_count(col("rt"), lit(TextOps.PhoneRe)) > 0)
    assert(residual.count() === 0L)
  }

  test("t7 bigram PMI returns a full descending top-k above the count floor") {
    val rows = TextOps.bigramPmi(spark, Sf0001).collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getLong(1) >= TextOps.PmiMinCount))
    val lifts = rows.map(_.getDouble(2)).toSeq
    assert(lifts === lifts.sorted.reverse, "must be ordered by lift desc")
    assert(lifts.head > 1.0, "top collocation should be positively associated")
  }

  test("d6 fuzzy pairs satisfy the edit-distance rule, checked off-engine") {
    val rows = graft.operators.DedupOps.fuzzyNames(spark, Sf001).collect()
    assert(rows.nonEmpty, "fuzzy matching must be non-vacuous on the part names")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b && a.take(2) == b.take(2))
      assert(r.getInt(2) === lev(a, b), s"($a, $b)")
      assert(r.getInt(2) <= graft.operators.DedupOps.MaxEditDist)
    }
  }

  test("x1 composite clean is the intersection of its stages") {
    import graft.operators.{CorpusOps, DedupOps, TextOps}
    val kept = CorpusOps.corpusClean(spark, Sf001).collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty)
    val quality = TextOps.quality(spark, Sf001)
      .filter(col("quality_score") >= CorpusOps.MinQuality)
      .collect().map(_.getLong(0)).toSet
    val lang = TextOps.langId(spark, Sf001)
      .filter(col("pred_lang") === col("labeled_lang"))
      .collect().map(_.getLong(0)).toSet
    val reps = DedupOps.dedupExact(spark, Sf001)
      .collect().map(_.getLong(1)).toSet // keep_doc_id is col 1
    val drops = DedupOps.nearDupClusters(spark, Sf001)
      .filter(col("doc_id") =!= col("cluster_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === (quality & lang & reps) -- drops)
    // and the pipeline actually filters at every stage
    assert(quality.size < 500 && lang.size < 500, "stages must be non-trivial")
  }

  test("q13 histogram accounts for every customer exactly once") {
    val hist = Analytics.q13OrderDist(spark, Sf0001).collect()
    val nCust = Tables.customer(spark, Sf0001).count()
    assert(hist.map(_.getLong(1)).sum === nCust)
    // customers without orders appear in the 0 bucket
    val zeroBucket = hist.find(_.getLong(0) === 0L)
    val withOrders = Tables.customer(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(zeroBucket.map(_.getLong(1)).getOrElse(0L) === nCust - withOrders)
  }

  test("s10 KMV set operations: full pair coverage, closure sanity, estimator accuracy") {
    import graft.operators.SketchOps
    val rows = SketchOps.kmvSetOps(spark, Sf0001).collect()
    val nSrc = Tables.documents(spark, Sf0001).select("source").distinct().count()
    assert(rows.length.toLong === nSrc * (nSrc - 1) / 2, "every source pair must get a row")
    val k = SketchOps.SetOpsK
    // 4-sigma bounds: union estimator relative error 1/sqrt(k-1), the
    // Jaccard estimator is Binomial(k, J)/k
    rows.foreach { r =>
      val (okay, estU, estJ) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      val (nInter, nUnion) = (r.getLong(5), r.getLong(6))
      assert(okay >= 0 && okay <= k, s"overlap_k out of [0, k]: $r")
      assert(estJ >= 0.0 && estJ <= 1.0, s"est_jaccard out of [0,1]: $r")
      val relErr = math.abs(estU - nUnion) / nUnion
      assert(relErr <= 4.0 / math.sqrt(k - 1.0),
        s"union estimate off by ${(relErr * 100).round}% (4-sigma is ~25%): $r")
      val exactJ = nInter.toDouble / nUnion
      val sigmaJ = math.sqrt(exactJ * (1 - exactJ) / k)
      assert(math.abs(estJ - exactJ) <= 4 * sigmaJ + 1.0 / k,
        s"jaccard estimate outside 4 sigma of exact $exactJ: $r")
    }
    // the sketch must DISCRIMINATE: the most-overlapping exact pair
    // should estimate higher than the least-overlapping one
    val byExact = rows.sortBy(r => r.getLong(5).toDouble / r.getLong(6))
    assert(byExact.last.getDouble(4) > byExact.head.getDouble(4),
      "estimator failed to separate the extreme pairs")
  }

  test("s10 native kmv_agg sketch equals the window-rank fallback bit-for-bit") {
    import graft.operators.SketchOps
    assume(graft.functions.F.extensionLive(spark))
    def rowsOf(native: Boolean) =
      SketchOps.sourceSketch(spark, Sf0001, native)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(rowsOf(native = true) === rowsOf(native = false),
      "bounded-buffer aggregate drifted from the declarative bottom-k")
  }

  test("s11 day-merged histogram quantiles are bit-equal to the one-shot s6 build") {
    val merged = SparkEntry.queries("s11_hist_merge")(spark, Sf0001).collect()
    val oneShot = SparkEntry.queries("s6_hist_quantiles")(spark, Sf0001).collect()
    assert(merged.map(_.toString).toSeq === oneShot.map(_.toString).toSeq)
    // the merge is real: the corpus spans many days, so per-day
    // sketches genuinely combined (not a degenerate single-day merge)
    val days = Tables.events(spark, Sf0001)
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts"))).distinct().count()
    assert(days > 1)
  }
}
