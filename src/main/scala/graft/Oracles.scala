package graft

/** DuckDB oracle SQL — one entry per SparkEntry.queries key.
  *
  * Every statement mirrors the Spark plan's semantics *exactly*: the same
  * md5-derived hashes, the same decimal-exact aggregation
  * (see graft.functions.F), the same deterministic tie-breaks. The driver
  * runs these on the same parquet tables and hash-compares values, so any
  * divergence (rounding mode, integer division, hash function) is a test
  * failure — which is the point.
  */
object Oracles {

  /** DuckDB equivalent of F.decSum. */
  private def dsum(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(18,6))) AS DOUBLE)"
  /** DuckDB equivalent of F.decAvg. */
  private def davg(x: String) = s"${dsum(x)} / COUNT(*)"
  /** DuckDB equivalent of F.hash60. */
  private def h60(x: String) = s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"
  /** DuckDB equivalent of F.tokens on documents.text. */
  private val TOK = """regexp_split_to_array(lower(trim(text)), '\s+')"""
  /** DuckDB equivalent of F.quantize. */
  private val QV =
    "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000.0 + 0.5))"
  /** The s4 HLL α_m literal — one Scala constant feeds both engines. */
  private val SketchOpsAlpha = graft.operators.SketchOps.HllAlpha

  private val validCond =
    """event_id IS NOT NULL AND ts IS NOT NULL
      |AND user_id IS NOT NULL AND user_id >= 0
      |AND event_type IN ('signup','click','view','purchase','error')
      |AND value IS NOT NULL AND value >= 0.0""".stripMargin

  /** The trip chain over any events-shaped relation — `events` for the
    * batch/file-stream consumers, the wire-truncated variant for p30. */
  private def tripCteOver(src: String) =
    s"""vev AS (SELECT * FROM $src WHERE $validCond),
       |starts AS (
       |  SELECT user_id, min(ts) AS start_ts FROM vev
       |  WHERE event_type = 'signup' GROUP BY user_id),
       |ends AS (
       |  SELECT e.user_id, e.ts, e.event_id, e.value, s.start_ts,
       |         row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
       |  FROM vev e JOIN starts s ON e.user_id = s.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= s.start_ts),
       |trips AS (
       |  SELECT user_id, start_ts, ts AS end_ts, value AS fare,
       |         epoch_us(ts) - epoch_us(start_ts) AS duration_us
       |  FROM ends WHERE rn = 1)""".stripMargin

  private val tripCte = tripCteOver("events")

  /** p30's wire-truncated events: each wire class's string render
    * loses precision (ISO → second, EU day-first → minute; epoch is
    * exact) — mirrors KafkaEvents.toWireMixed's residue split. */
  private val wireEventsCte =
    """events_wire AS (SELECT event_id,
      |  CASE WHEN ((event_id % 3) + 3) % 3 = 0 THEN ts
      |       WHEN ((event_id % 3) + 3) % 3 = 1 THEN date_trunc('second', ts)
      |       ELSE date_trunc('minute', ts) END AS ts,
      |  user_id, event_type, value, props FROM events)""".stripMargin

  private val ngramCte =
    s"""docs AS (SELECT doc_id, $TOK AS t FROM documents),
       |ng AS (SELECT DISTINCT doc_id, ngram FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |    ELSE [] END) AS ngram FROM docs) u)""".stripMargin

  private def annQ =
    s"q AS (SELECT vec_id, $QV AS qv FROM embeddings)"

  /** The adaptive IVF coarse-cell chain (AnnOps.quantized's composite
    * `label` re-derived: b = the smallest b ≥ 1 with
    * BaseLabels·2^b·CellTarget ≥ COUNT(*), 'cp_'-salted hyperplane
    * subcode, cell = class·2^b + sub). Self-contained (reads
    * embeddings directly); ends at `cellid`: (vec_id, label). Shared
    * by every cell-keyed e-family oracle so the geometry derivation
    * cannot fork between statements. */
  private lazy val cellCte: String =
    s"""cqv AS MATERIALIZED (SELECT vec_id, $QV AS qv FROM embeddings),
       |cb AS MATERIALIZED (SELECT CAST(COALESCE(MIN(x), 20) AS INTEGER) AS b FROM range(1, 21) t(x)
       |  WHERE ${graft.operators.AnnOps.BaseLabels} * (CAST(1 AS BIGINT) << x)
       |      * ${graft.operators.AnnOps.CellTarget} >= (SELECT COUNT(*) FROM embeddings)),
       |cpl AS (SELECT CAST(p AS INTEGER) AS p, CAST(d AS INTEGER) AS d,
       |    ${h60("'cp_' || p || '_' || d")} % 2001 - 1000 AS w
       |  FROM range(20) t1(p) CROSS JOIN range(${graft.operators.AnnOps.Dims}) t2(d), cb
       |  WHERE p < cb.b),
       |cunp AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM cqv),
       |cpd AS (SELECT u.vec_id, pl.p, SUM(u.v * pl.w) AS dot
       |  FROM cunp u JOIN cpl pl ON u.d = pl.d GROUP BY 1, 2),
       |csub AS (SELECT vec_id,
       |    CAST(SUM((CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << p) AS BIGINT) AS sub
       |  FROM cpd GROUP BY vec_id),
       |cellid AS MATERIALIZED (SELECT e.vec_id,
       |    CAST(CAST(e.label AS BIGINT) * (CAST(1 AS BIGINT) << cb.b) + s.sub AS INTEGER) AS label
       |  FROM embeddings e JOIN csub s USING (vec_id), cb)""".stripMargin

  /** The (doc_id, v) blob-embedding regeneration — m4's stub feature
    * extractor replayed per-dim in SQL; shared by m4 and m10 so the
    * scored vectors and the indexed vectors cannot drift. */
  private lazy val m4EmbCte: String =
    s"""emb AS MATERIALIZED (SELECT doc_id,
       |    [${(0 until graft.operators.MultimodalOps.EmbDims)
              .map(d => h60(s"md5(text) || '_emb_' || $d") + " % 2001 - 1000")
              .mkString(", ")}] AS v
       |  FROM documents)""".stripMargin

  /** The bounded evaluation panel (AnnOps.panelOf): stride-select, then
    * keep the PanelCap smallest (hash60('panel_'||id), id). One
    * definition parameterized by table/id/stride — the e-family panels
    * ride embeddings.vec_id, m4's rides documents.doc_id. */
  private def panelCte(table: String, idCol: String, stride: Int): String =
    s"""panel AS MATERIALIZED (SELECT $idCol FROM (
       |  SELECT $idCol, row_number() OVER (ORDER BY
       |      ${h60(s"'panel_' || CAST($idCol AS VARCHAR)")}, $idCol) AS prn
       |  FROM $table WHERE $idCol % $stride = 0) t
       |  WHERE prn <= ${graft.operators.AnnOps.PanelCap})""".stripMargin

  /** The streaming daily-KPI statement over a given trip chain —
    * p9 rides the plain events chain; p30 (Kafka-wire) rides the
    * wire-truncated one: same KPI statement, the SOURCE carries the
    * class-wise precision loss. */
  private def kpiDailyStreamSqlOver(chain: String): String =
    s"""WITH $chain
       |SELECT CAST(end_ts AS DATE) AS date,
       |  ${dsum("fare")} AS total_fare,
       |  COUNT(*) AS count_trips,
       |  ${davg("fare")} AS average_fare,
       |  max(fare) AS max_fare,
       |  min(fare) AS min_fare
       |FROM trips GROUP BY CAST(end_ts AS DATE) ORDER BY date""".stripMargin

  private lazy val kpiDailyStreamSql: String = kpiDailyStreamSqlOver(tripCte)

  private lazy val kpiDailyWireSql: String =
    kpiDailyStreamSqlOver(s"$wireEventsCte,\n${tripCteOver("events_wire")}")

  /** The Lloyd rounds as a parameterized CTE chain (q/u/seeds/c0, then
    * d_r/a_r[/c_r] per round, ending at `a<rounds>`: (vec_id, cid,
    * dist)) — ONE round definition replayed by e7 (2 rounds), d12
    * (e7's chain verbatim) and e16 (MaxRounds + the stopping-rule
    * derivation), so the variants cannot drift in SQL any more than
    * they can in Spark (shared assignTo/updateFrom). */
  private def kmeansCte(rounds: Int): String = {
    // every CTE is MATERIALIZED: the chain is recursive (a_r ← c_{r-1}
    // ← a_{r-1} ← …) and each node is referenced 2-4×, so DuckDB's
    // default inlining would expand the base scan exponentially in
    // `rounds` (fd exhaustion at MaxRounds=32); materialization makes
    // the replay linear, which is also what Spark's localCheckpoint
    // per round does
    val head =
      s"""q AS MATERIALIZED (SELECT vec_id, $QV AS qv FROM embeddings),
         |u AS MATERIALIZED (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM q),
         |seeds AS MATERIALIZED (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
         |          FROM embeddings WHERE vec_id % 5 = 0 ORDER BY vec_id LIMIT ${graft.operators.ClusterOps.K}),
         |c0 AS MATERIALIZED (SELECT s.cid, u.d, u.v AS cv FROM seeds s JOIN u USING (vec_id))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val assignCte =
        s"""d$r AS MATERIALIZED (SELECT u.vec_id, c.cid, SUM((u.v - c.cv) * (u.v - c.cv)) AS dist
           |       FROM u JOIN c${r - 1} c ON u.d = c.d GROUP BY 1, 2),
           |a$r AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
           |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |        FROM d$r) t WHERE rn = 1)""".stripMargin
      val updateCte =
        s""",
           |c$r AS MATERIALIZED (SELECT a.cid, u.d,
           |         CAST(floor(CAST(SUM(u.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           |       FROM a$r a JOIN u USING (vec_id) GROUP BY a.cid, u.d)""".stripMargin
      if (r < rounds) assignCte + updateCte else assignCte
    }
    (head +: roundCtes).mkString(",\n")
  }

  /** The e7 chain (ends at `a2`) — the fixed-2-round contract. The
    * converged consumers (d12, x2) replay [[stableCte]] instead. */
  private lazy val e7Cte: String = kmeansCte(graft.operators.ClusterOps.Rounds)

  /** The kept train-split chunk chain (ends at `ch`: doc_id, chunk_id,
    * n_tok) — x1's keep rule minus x3's contamination, x6's split hash,
    * t9's chunk geometry. Shared by x9 (step manifest) and x10
    * (sequence packing) so the packing order IS the manifest order. */
  /** MATERIALIZED throughout: consumers (x9/x10/x11/x15) reference
    * `ch` up to three times, and unmaterialized inlining re-expands the
    * whole x1+x3 subtree under it per reference — the exponential-
    * inlining gotcha that exhausted DuckDB temp at the 10× scale
    * point (x15 spilled 79 GB before this). */
  private lazy val trainChunksCte: String =
    s"""kept0 AS MATERIALIZED (SELECT doc_id FROM ($x1Sql) k),
       |contam AS MATERIALIZED (SELECT doc_id FROM ($x3Sql) c),
       |kept AS MATERIALIZED (SELECT doc_id FROM kept0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
       |    AND ${h60("'split_' || CAST(doc_id AS VARCHAR)")} % 1000000 < ${graft.operators.CorpusOps.ValStartPpm}),
       |d AS MATERIALIZED (SELECT doc_id, $TOK AS t FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM kept)),
       |c AS (SELECT doc_id, t, len(t) AS n,
       |  CASE WHEN len(t) <= 32 THEN 1 ELSE (len(t) - 32 + 23) // 24 + 1 END AS n_chunks
       |  FROM d),
       |ch AS MATERIALIZED (SELECT doc_id, u AS chunk_id,
       |    len(t[u*24+1 : u*24+32]) AS n_tok
       |  FROM c, unnest(range(0, n_chunks)) AS x(u))""".stripMargin

  /** The manifest's total order (x9 rank = x10 concatenation order). */
  private lazy val trainOrderBy: String =
    s"""${h60("'order_' || CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_id AS VARCHAR)")},
       |    doc_id, chunk_id""".stripMargin

  /** The CONVERGED chain: kmeansCte(MaxRounds) + the independent stop
    * derivation — stable_round = min{r : a_r = a_(r-1) [fixpoint] or
    * a_r = a_(r-2) [period-2 cycle]}, else the cap (`st.sr`) — + the
    * assignment AT that round (`fin`: vec_id, cid, dist — the later
    * phase of a cycle, exactly what Spark reports). Shared by e16 and
    * its downstream consumers (d12, x2), so they replay the EXACT
    * converged geometry the e16 rows are checked against. */
  private lazy val stableCte: String = {
    val mr = graft.operators.ClusterOps.MaxRounds
    val probes =
      (2 to mr).map(r =>
        s"""SELECT $r AS r WHERE NOT EXISTS (
           |    SELECT 1 FROM a$r x JOIN a${r - 1} y USING (vec_id) WHERE x.cid <> y.cid)""".stripMargin) ++
      (3 to mr).map(r =>
        s"""SELECT $r AS r WHERE NOT EXISTS (
           |    SELECT 1 FROM a$r x JOIN a${r - 2} y USING (vec_id) WHERE x.cid <> y.cid)""".stripMargin)
    val stability = probes.mkString("\n  UNION ALL\n  ")
    val pick = (2 to mr).map(r =>
      s"SELECT vec_id, cid, dist FROM a$r WHERE (SELECT sr FROM st) = $r")
      .mkString("\n  UNION ALL\n  ")
    s"""${kmeansCte(mr)},
       |st AS MATERIALIZED (SELECT COALESCE(MIN(r), $mr) AS sr FROM (
       |  $stability
       |) s),
       |fin AS MATERIALIZED (
       |  $pick
       |)""".stripMargin
  }

  /** d12's ADAPTIVE sample-trained converged chain: k =
    * GREATEST(K, ⌈n/TargetCellSize⌉) from the corpus count, Lloyd over
    * the TrainSampleCap md5-rank sample only (rounds replayed to
    * MaxRounds, stop-rule derived exactly as [[stableCte]]), then ONE
    * full-corpus assignment against the centroid table that produced
    * the reported sample assignment (c_{sr−1}). Ends at `fin`:
    * (vec_id, cid, dist) over the FULL corpus — the identical contract
    * stableCte's `fin` carries, so the d12 statement body is unchanged.
    * Every CTE MATERIALIZED (the recursive-chain inlining gotcha). */
  private lazy val d12StableCte: String = {
    val mr = graft.operators.ClusterOps.MaxRounds
    val tcs = graft.operators.ClusterOps.TargetCellSize
    val cap = graft.operators.ClusterOps.TrainSampleCap
    val kFloor = graft.operators.ClusterOps.K
    val sqf = graft.operators.ClusterOps.SqrtKFactor
    val ppc = graft.operators.ClusterOps.PointsPerCentroid
    val head =
      s"""q AS MATERIALIZED (SELECT vec_id, $QV AS qv FROM embeddings),
         |u AS MATERIALIZED (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM q),
         |nk AS MATERIALIZED (SELECT GREATEST($kFloor, LEAST(
         |    CAST(ceil(COUNT(*) / ${tcs}.0) AS BIGINT),
         |    CAST(ceil($sqf * sqrt(COUNT(*))) AS BIGINT))) AS k FROM embeddings),
         |samp AS MATERIALIZED (SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY ${h60("'d12s_' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |    FROM embeddings) t WHERE rn <= GREATEST($cap, $ppc * (SELECT k FROM nk))),
         |us AS MATERIALIZED (SELECT * FROM u WHERE vec_id IN (SELECT vec_id FROM samp)),
         |seeds AS MATERIALIZED (SELECT vec_id, rn - 1 AS cid FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY ${h60("'d12seed_' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |    FROM samp) t WHERE rn <= (SELECT k FROM nk)),
         |c0 AS MATERIALIZED (SELECT s.cid, u.d, u.v AS cv FROM seeds s JOIN us u USING (vec_id))""".stripMargin
    val roundCtes = (1 to mr).map { r =>
      val assignCte =
        s"""d$r AS MATERIALIZED (SELECT u.vec_id, c.cid, SUM((u.v - c.cv) * (u.v - c.cv)) AS dist
           |       FROM us u JOIN c${r - 1} c ON u.d = c.d GROUP BY 1, 2),
           |a$r AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
           |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |        FROM d$r) t WHERE rn = 1)""".stripMargin
      val updateCte =
        s""",
           |c$r AS MATERIALIZED (SELECT a.cid, u.d,
           |         CAST(floor(CAST(SUM(u.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           |       FROM a$r a JOIN us u USING (vec_id) GROUP BY a.cid, u.d)""".stripMargin
      if (r < mr) assignCte + updateCte else assignCte
    }
    val probes =
      (2 to mr).map(r =>
        s"""SELECT $r AS r WHERE NOT EXISTS (
           |    SELECT 1 FROM a$r x JOIN a${r - 1} y USING (vec_id) WHERE x.cid <> y.cid)""".stripMargin) ++
      (3 to mr).map(r =>
        s"""SELECT $r AS r WHERE NOT EXISTS (
           |    SELECT 1 FROM a$r x JOIN a${r - 2} y USING (vec_id) WHERE x.cid <> y.cid)""".stripMargin)
    val pick = (2 to mr).map(r =>
      s"SELECT cid, d, cv FROM c${r - 1} WHERE (SELECT sr FROM st) = $r")
      .mkString("\n  UNION ALL\n  ")
    s"""$head,
       |${roundCtes.mkString(",\n")},
       |st AS MATERIALIZED (SELECT COALESCE(MIN(r), $mr) AS sr FROM (
       |  ${probes.mkString("\n  UNION ALL\n  ")}
       |) s),
       |cpick AS MATERIALIZED (
       |  $pick
       |),
       |dfin AS (SELECT u.vec_id, c.cid, SUM((u.v - c.cv) * (u.v - c.cv)) AS dist
       |  FROM u JOIN cpick c ON u.d = c.d GROUP BY 1, 2),
       |fin AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM dfin) t WHERE rn = 1)""".stripMargin
  }

  /** g3: the e16 recipe carried to the graph family — replay
    * RankMaxRounds of g1's exact-integer propagation as a MATERIALIZED
    * CTE chain (c0, s1, then c{r−1}/s{r} per round), independently
    * derive stable_round = min{r : max|s_r − s_{r−1}| ≤ EpsMicro}
    * (else the cap), and ship the supplier state AT that round — the
    * stopping RULE is what's verified, not just the converged ranks.
    * Every CTE is MATERIALIZED for the same reason as [[kmeansCte]]:
    * the chain is recursive and DuckDB's default inlining is
    * exponential in its depth. */
  private lazy val g3Sql: String = {
    val cap = graft.operators.GraphOps.RankMaxRounds
    val eps = graft.operators.GraphOps.EpsMicro
    val head =
      """edges AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cdeg AS MATERIALIZED (SELECT cust, CAST(count(*) AS BIGINT) AS c_deg FROM edges GROUP BY cust),
        |sdeg AS MATERIALIZED (SELECT supp, CAST(count(*) AS BIGINT) AS s_deg FROM edges GROUP BY supp),
        |c0 AS MATERIALIZED (SELECT cust, CAST(1000000 AS BIGINT) AS r, c_deg FROM cdeg),
        |s1 AS MATERIALIZED (SELECT e.supp, 150000 + (850000 * SUM(c0.r // c0.c_deg)) // 1000000 AS r
        |  FROM edges e JOIN c0 ON e.cust = c0.cust GROUP BY e.supp)""".stripMargin
    val rounds = (2 to cap).map { r =>
      s"""c${r - 1} AS MATERIALIZED (SELECT e.cust,
         |    150000 + (850000 * SUM(sd.r // sd.s_deg)) // 1000000 AS r, cd.c_deg
         |  FROM edges e JOIN (SELECT supp, r, s_deg FROM s${r - 1} JOIN sdeg USING (supp)) sd
         |    ON e.supp = sd.supp
         |  JOIN cdeg cd ON e.cust = cd.cust GROUP BY e.cust, cd.c_deg),
         |s$r AS MATERIALIZED (SELECT e.supp, 150000 + (850000 * SUM(c.r // c.c_deg)) // 1000000 AS r
         |  FROM edges e JOIN c${r - 1} c ON e.cust = c.cust GROUP BY e.supp)""".stripMargin
    }
    val probes = (2 to cap).map(r =>
      s"""SELECT $r AS r WHERE NOT EXISTS (
         |    SELECT 1 FROM s$r x JOIN s${r - 1} y USING (supp) WHERE abs(x.r - y.r) > $eps)""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val pick = (2 to cap).map(r =>
      s"SELECT supp, r FROM s$r WHERE (SELECT sr FROM st) = $r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $head,
       |${rounds.mkString(",\n")},
       |st AS MATERIALIZED (SELECT COALESCE(MIN(r), $cap) AS sr FROM (
       |  $probes
       |) p),
       |fin AS MATERIALIZED (
       |  $pick
       |)
       |SELECT supp AS s_suppkey, CAST(r AS DOUBLE) / 1e6 AS rank,
       |  CAST((SELECT sr FROM st) AS BIGINT) AS stable_round
       |FROM fin ORDER BY s_suppkey""".stripMargin
  }

  /** e16: the converged chain's verdict — verifies the stopping rule
    * itself (which round fires and which assignment ships), not just
    * the geometry. */
  private lazy val e16Sql: String =
    s"""WITH $stableCte
       |SELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist_sq,
       |  CAST((SELECT sr FROM st) AS BIGINT) AS stable_round
       |FROM fin ORDER BY vec_id""".stripMargin

  /** e1 / e5 as standalone statements — map entries AND the CTE legs of
    * the e8 recall evaluation, so the evaluation always scores exactly
    * what the e1/e5 rows contain. */
  private lazy val e1Sql: String =
    s"""WITH ${annQ},
       |${panelCte("embeddings", "vec_id", graft.operators.AnnOps.QueryStride)},
       |p AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |    list_dot_product(a.qv, b.qv) AS dot,
       |    list_dot_product(a.qv, a.qv) AS na,
       |    list_dot_product(b.qv, b.qv) AS nb
       |  FROM q a JOIN q b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (SELECT vec_id FROM panel)),
       |r AS (SELECT q_id, c_id, dot / sqrt(na * nb) AS score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot / sqrt(na * nb) DESC, c_id) AS rnk
       |  FROM p)
       |SELECT q_id, rnk, c_id, round(score, 6) AS score
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** The shared IVF STATE chain (cells → per-cell centroid state →
    * stride queries; ends at `cent` + `qq`) — the prefix of both probe
    * disciplines: e5/e9/e17's rank-all-cells `pr` and e24's
    * graph-guided beam, so the centroid state and the query set cannot
    * fork between the two probe families. */
  private lazy val ivfStateCte: String =
    s"""$cellCte,
       |ql AS MATERIALIZED (SELECT c.vec_id, q.qv, c.label
       |  FROM cqv q JOIN cellid c USING (vec_id)),
       |unp AS (SELECT label, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM ql),
       |cd AS (SELECT label, d, SUM(v) AS s, COUNT(*) AS n FROM unp GROUP BY 1, 2),
       |cent AS MATERIALIZED (SELECT label, list(s ORDER BY d) AS s, min(n) AS n,
       |    SUM(s * s) AS ss FROM cd GROUP BY label),
       |qq AS (SELECT vec_id AS q_id, qv, list_dot_product(qv, qv) AS q2
       |  FROM ql WHERE vec_id % 25 = 0)""".stripMargin

  /** The shared IVF coarse-probe chain (ends at `pr`: q_id, qv, label,
    * dist2, crnk) — the statement prefix of e5/e9 and the e17 sweep,
    * so the probe order cannot fork between the per-config branches. */
  private lazy val ivfProbeCte: String =
    s"""$ivfStateCte,
       |qd AS (SELECT q.q_id, q.qv, c.label,
       |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
       |  FROM qq q CROSS JOIN cent c),
       |pr AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, label) AS crnk
       |  FROM qd)""".stripMargin

  /** One IVF rerank leg at a given nProbe (CTE body ending in a
    * (q_id, rnk, c_id, score) relation named `$name`). */
  private def ivfRerankCte(name: String, nProbe: Int, extraCandPred: String): String =
    s"""${name}_cand AS (SELECT p.q_id, p.qv, c.vec_id AS c_id, c.qv AS cq
       |  FROM pr p JOIN ql c ON c.label = p.label
       |  WHERE p.crnk <= $nProbe AND c.vec_id <> p.q_id$extraCandPred),
       |$name AS (SELECT q_id, c_id,
       |    list_dot_product(qv, cq) / sqrt(list_dot_product(qv, qv) * list_dot_product(cq, cq)) AS score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY
       |      list_dot_product(qv, cq) / sqrt(list_dot_product(qv, qv) * list_dot_product(cq, cq)) DESC,
       |      c_id) AS rnk
       |  FROM ${name}_cand)""".stripMargin

  /** The e5 IVF statement with an optional extra candidate predicate —
    * e9 (filtered ANN) is the same probe with the allowed-id semi join
    * applied in the cand CTE (pre-filter: before scoring/ranking). */
  private def ivfSqlWith(extraCandPred: String): String =
    s"""WITH $ivfProbeCte,
       |${ivfRerankCte("r", graft.operators.AnnOps.NProbe, extraCandPred)}
       |SELECT q_id, rnk, c_id, round(score, 6) AS score
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** e17: the sweep — per swept nProbe, aggregate recall@3 of the IVF
    * leg against e1's exact top-3 plus the probe cost (Σ probed cell
    * sizes) from the SAME pr chain, one row per config. */
  private lazy val e17Sql: String = {
    val legs = graft.operators.AnnOps.SweepProbes
      .map(np => ivfRerankCte(s"r$np", np, "")).mkString(",\n")
    val rows = graft.operators.AnnOps.SweepProbes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) FROM exact) AS n_q,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
         |     JOIN r$np a ON e.q_id = a.q_id AND e.c_id = a.c_id WHERE a.rnk <= 3) AS n_hit,
         |  round((SELECT CAST(COUNT(*) AS DOUBLE) FROM exact e
         |     JOIN r$np a ON e.q_id = a.q_id AND e.c_id = a.c_id WHERE a.rnk <= 3)
         |    / ((SELECT COUNT(DISTINCT q_id) FROM exact) * 3.0), 6) AS recall_at_3,
         |  (SELECT CAST(SUM(c.n) AS BIGINT) FROM pr p JOIN cent c USING (label)
         |     WHERE p.crnk <= $np
         |       AND p.q_id IN (SELECT q_id FROM exact)) AS candidates_scanned""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH exact0 AS ($e1Sql),
       |exact AS (SELECT q_id, c_id FROM exact0 WHERE rnk <= 3),
       |$ivfProbeCte,
       |$legs
       |$rows
       |ORDER BY nprobe""".stripMargin
  }

  private lazy val e9Sql: String = ivfSqlWith(
    "\n       AND c.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')")

  private lazy val e5Sql: String = ivfSqlWith("")

  /** e24/e25: the graph-guided beam probe — replays AnnOps.annBeam's
    * three deterministic ranks (entry net by (hash, label); per-round
    * beam by (dist2, label); final probed cells by (dist2, label)) over
    * the shared IVF state, with the cell-adjacency graph re-derived
    * from scratch: 'bp_'-salted band codes over the centroid SUM
    * vectors (sign(mean·w) = sign(s·w)), banded candidate pairs, exact
    * inter-centroid ranking in HUGEINT (the e23 overflow discipline),
    * ranked directed edges to BeamDegreeMax. Expansion rounds unroll
    * per config in [[beamCfgCte]]. */
  /** The beam NAVIGATION-STRUCTURE CTEs (graph build to top-
    * [[graft.operators.AnnOps.BeamDegreeMax]] ranked edges `adjall`,
    * plus the config-independent entry net `ent`) — shared by the e24
    * statement and every e25 swept config so the replayed graph cannot
    * fork between them. Callers must prepend [[ivfStateCte]]. */
  private lazy val beamGraphCte: String = {
    import graft.operators.AnnOps.{BeamDegreeMax, Bands, BandBucketTarget, PlanesPerBand, Dims}
    s"""gcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cent),
       |gpl AS MATERIALIZED (SELECT CAST(COALESCE(MIN(x), 24) AS INTEGER) AS p
       |  FROM range($PlanesPerBand, 25) t(x), gcnt
       |  WHERE (CAST(1 AS BIGINT) << x) * $BandBucketTarget >= gcnt.c),
       |gw AS (SELECT CAST(gp AS INTEGER) AS gp, CAST(d AS INTEGER) AS d,
       |    ${h60("'bp_' || gp || '_' || d")} % 2001 - 1000 AS w
       |  FROM range(${Bands * 24}) t1(gp) CROSS JOIN range($Dims) t2(d), gpl
       |  WHERE gp < $Bands * gpl.p),
       |gsu AS MATERIALIZED (SELECT label, generate_subscripts(s, 1) - 1 AS d, unnest(s) AS v
       |  FROM cent),
       |gd AS (SELECT u.label, w.gp, SUM(CAST(u.v AS HUGEINT) * w.w) AS dot
       |  FROM gsu u JOIN gw w ON u.d = w.d GROUP BY 1, 2),
       |gcode AS MATERIALIZED (SELECT g.label, g.gp // p.p AS band,
       |    SUM(CASE WHEN g.dot > 0 THEN (CAST(1 AS BIGINT) << (g.gp % p.p)) ELSE 0 END) AS code
       |  FROM gd g, gpl p GROUP BY 1, 2),
       |gcand AS (SELECT DISTINCT a.label AS la, b.label AS lb
       |  FROM gcode a JOIN gcode b ON a.band = b.band AND a.code = b.code
       |    AND a.label <> b.label),
       |gpd AS (SELECT c.la, c.lb, SUM(CAST(ua.v AS HUGEINT) * ub.v) AS dab
       |  FROM gcand c JOIN gsu ua ON ua.label = c.la
       |  JOIN gsu ub ON ub.label = c.lb AND ub.d = ua.d
       |  GROUP BY 1, 2),
       |gdist AS (SELECT p.la, p.lb,
       |    CAST(cb.n AS HUGEINT) * cb.n * ca.ss - 2 * CAST(ca.n AS HUGEINT) * cb.n * p.dab
       |      + CAST(ca.n AS HUGEINT) * ca.n * cb.ss AS dist2
       |  FROM gpd p JOIN cent ca ON ca.label = p.la JOIN cent cb ON cb.label = p.lb),
       |adjall AS MATERIALIZED (SELECT la, lb, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY la ORDER BY dist2, lb) AS rn
       |    FROM gdist) t WHERE rn <= $BeamDegreeMax),
       |ecnt AS (SELECT LEAST(c, 2 * CAST(CEIL(SQRT(c)) AS BIGINT)) AS en FROM gcnt),
       |ent AS MATERIALIZED (SELECT label FROM (
       |    SELECT label, row_number() OVER (
       |      ORDER BY ${h60("'entry_' || CAST(label AS VARCHAR)")}, label) AS rn
       |    FROM cent) t, ecnt WHERE rn <= ecnt.en)""".stripMargin
  }

  /** One beam chain's CTEs under a (width, rounds, degree) config:
    * entry scoring → `rounds` unrolled expansion rounds → `probed$tag`
    * → the exact rerank `rb$tag`. `qrel` is the query relation (`qq`
    * for the serving e24 statement; the panel-restricted `qp` for
    * e25's evaluation — output-invariant, since every e25 leg is
    * panel-scoped). Mirrors AnnOps.beamChain round for round. */
  private def beamCfgCte(tag: String, qrel: String, width: Int, rounds: Int,
      degree: Int): String = {
    val np = graft.operators.AnnOps.NProbe
    def score(src: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT v.q_id, v.label,
         |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
         |  FROM $src v JOIN cent c USING (label) JOIN $qrel q ON q.q_id = v.q_id)""".stripMargin
    def topw(src: String, name: String, w: Int) =
      s"""$name AS MATERIALIZED (SELECT q_id, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, label) AS rn
         |    FROM $src) t WHERE rn <= $w)""".stripMargin
    val sb = Seq.newBuilder[String]
    sb += s"v0r$tag AS (SELECT q.q_id, e.label FROM $qrel q CROSS JOIN ent e)"
    sb += score(s"v0r$tag", s"v0s$tag")
    sb += topw(s"v0s$tag", s"f0$tag", width)
    for (r <- 1 to rounds) {
      val prevU = if (r == 1) s"f0$tag" else s"u${r - 1}$tag"
      sb += s"""n$r$tag AS (SELECT DISTINCT f.q_id, a.lb AS label
               |  FROM f${r - 1}$tag f JOIN adjall a ON a.la = f.label AND a.rn <= $degree)""".stripMargin
      sb += s"u$r$tag AS MATERIALIZED (SELECT q_id, label FROM $prevU UNION SELECT q_id, label FROM n$r$tag)"
      sb += score(s"u$r$tag", s"s$r$tag")
      if (r < rounds) sb += topw(s"s$r$tag", s"f$r$tag", width)
    }
    sb += topw(s"s$rounds$tag", s"probed$tag", np)
    sb += s"""bcand$tag AS (SELECT p.q_id, q.qv, c.vec_id AS c_id, c.qv AS cq
             |  FROM probed$tag p JOIN $qrel q ON q.q_id = p.q_id JOIN ql c ON c.label = p.label
             |  WHERE c.vec_id <> p.q_id)""".stripMargin
    sb += s"""rb$tag AS (SELECT q_id, c_id,
             |    list_dot_product(qv, cq) / sqrt(list_dot_product(qv, qv) * list_dot_product(cq, cq)) AS score,
             |    row_number() OVER (PARTITION BY q_id ORDER BY
             |      list_dot_product(qv, cq) / sqrt(list_dot_product(qv, qv) * list_dot_product(cq, cq)) DESC,
             |      c_id) AS rnk
             |  FROM bcand$tag)""".stripMargin
    sb.result().mkString(",\n")
  }

  private lazy val e24Sql: String = {
    import graft.operators.AnnOps.{BeamDegree, BeamRounds, BeamWidth}
    s"""WITH $ivfStateCte,
       |$beamGraphCte,
       |${beamCfgCte("", "qq", BeamWidth, BeamRounds, BeamDegree)}
       |SELECT q_id, rnk, c_id, round(score, 6) AS score
       |FROM rb WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  /** e25: the probe-discipline evaluation and beam-knob sweep — e17's
    * recall/cost rows for the e5-at-NProbe leg (the `pr` chain over the
    * panel-restricted `qp`) and one beam leg per
    * [[graft.operators.AnnOps.BeamSweep]] config (each a [[beamCfgCte]]
    * instance over the shared [[beamGraphCte]] so the graph cannot fork
    * between configs), plus CELLS_RANKED: the coarse-probe cost term
    * the beam cuts — exhaustive = panel × all cells; a beam config =
    * its entry-net scoring plus each round's visited-set scoring,
    * counted from the chain's own relations. Knob columns bw/br/bd
    * (0 = the ivf row). */
  private lazy val e25Sql: String = {
    val np = graft.operators.AnnOps.NProbe
    def hitRow(leg: String) =
      s"""(SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
         |     JOIN $leg a ON e.q_id = a.q_id AND e.c_id = a.c_id WHERE a.rnk <= 3)""".stripMargin
    val nqSq = "(SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) FROM exact)"
    val cfgs = graft.operators.AnnOps.BeamSweep
    def tagOf(w: Int, r: Int, d: Int) = s"_w${w}r${r}d$d"
    val cfgCtes = cfgs.map { case (w, r, d) =>
      beamCfgCte(tagOf(w, r, d), "qp", w, r, d)
    }.mkString(",\n")
    val beamRows = cfgs.map { case (w, r, d) =>
      val tag = tagOf(w, r, d)
      val ranked = (s"(SELECT CAST(COUNT(*) AS BIGINT) FROM v0r$tag)" +:
        (1 to r).map(i => s"(SELECT CAST(COUNT(*) AS BIGINT) FROM u$i$tag)"))
        .mkString("\n   + ")
      s"""SELECT 'beam_w${w}_r${r}_d$d' AS config,
         |  CAST($w AS BIGINT) AS bw, CAST($r AS BIGINT) AS br, CAST($d AS BIGINT) AS bd,
         |  $nqSq AS n_q,
         |  ${hitRow(s"rb$tag")} AS n_hit,
         |  round(${hitRow(s"rb$tag")} / ($nqSq * 3.0), 6) AS recall_at_3,
         |  (SELECT CAST(SUM(c.n) AS BIGINT) FROM probed$tag p JOIN cent c USING (label)) AS candidates_scanned,
         |  $ranked AS cells_ranked""".stripMargin
    }
    s"""WITH exact0 AS ($e1Sql),
       |exact AS MATERIALIZED (SELECT q_id, c_id FROM exact0 WHERE rnk <= 3),
       |$ivfStateCte,
       |qp AS MATERIALIZED (SELECT * FROM qq WHERE q_id IN (SELECT q_id FROM exact)),
       |$beamGraphCte,
       |$cfgCtes,
       |qd AS (SELECT q.q_id, q.qv, c.label,
       |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
       |  FROM qp q CROSS JOIN cent c),
       |pr AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, label) AS crnk
       |  FROM qd),
       |${ivfRerankCte("ri", np, "")}
       |${beamRows.mkString("\nUNION ALL\n")}
       |UNION ALL
       |SELECT 'ivf' AS config,
       |  CAST(0 AS BIGINT) AS bw, CAST(0 AS BIGINT) AS br, CAST(0 AS BIGINT) AS bd,
       |  $nqSq AS n_q,
       |  ${hitRow("ri")} AS n_hit,
       |  round(${hitRow("ri")} / ($nqSq * 3.0), 6) AS recall_at_3,
       |  (SELECT CAST(SUM(c.n) AS BIGINT) FROM pr p JOIN cent c USING (label)
       |     WHERE p.crnk <= $np) AS candidates_scanned,
       |  $nqSq * (SELECT c FROM gcnt) AS cells_ranked
       |ORDER BY config""".stripMargin
  }

  /** e22: the IVF probe chain with BINARY-quantization scoring — sign
    * bit per dimension packed into two sub-2^32 words (a single 64-bit
    * word would need `1 << 63`, whose overflow convention differs
    * between engines), candidates ranked by XOR+popcount hamming,
    * shortlisted, exact-cosine reranked — e6/e19's presentation. */
  private lazy val e22Sql: String =
    s"""WITH $ivfProbeCte,
       |bqc AS MATERIALIZED (SELECT vec_id,
       |    SUM(CASE WHEN v > 0 AND d < 32 THEN (CAST(1 AS BIGINT) << d) ELSE 0 END) AS lo,
       |    SUM(CASE WHEN v > 0 AND d >= 32 THEN (CAST(1 AS BIGINT) << (d - 32)) ELSE 0 END) AS hi
       |  FROM (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM cqv) u
       |  GROUP BY vec_id),
       |cand AS (SELECT p.q_id, c.vec_id AS c_id
       |  FROM pr p JOIN ql c ON c.label = p.label
       |  WHERE p.crnk <= ${graft.operators.AnnOps.NProbe} AND c.vec_id <> p.q_id),
       |hm AS (SELECT cand.q_id, cand.c_id,
       |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
       |  FROM cand JOIN bqc a ON a.vec_id = cand.q_id
       |             JOIN bqc b ON b.vec_id = cand.c_id),
       |short AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY hamming, c_id) AS srn FROM hm) t
       |  WHERE srn <= ${graft.operators.AnnOps.PqShortlist}),
       |r AS (SELECT s.q_id, s.c_id,
       |    list_dot_product(q.qv, c.qv) /
       |      sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.qv, c.qv)) AS score,
       |    row_number() OVER (PARTITION BY s.q_id ORDER BY
       |      list_dot_product(q.qv, c.qv) /
       |        sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.qv, c.qv)) DESC,
       |      s.c_id) AS rnk
       |  FROM short s JOIN cqv q ON q.vec_id = s.q_id
       |               JOIN cqv c ON c.vec_id = s.c_id)
       |SELECT q_id, rnk, c_id, round(score, 6) AS score
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  private lazy val s4Sql: String =
    s"""WITH h AS (SELECT ${h60("CAST(event_id AS VARCHAR)")} AS h FROM events),
         |r AS (SELECT h % 256 AS bucket, h // 256 AS rest FROM h),
         |rho AS (SELECT bucket,
         |          MAX(CASE WHEN rest = 0 THEN 53 ELSE 53 - length(bin(rest)) END) AS rho
         |        FROM r GROUP BY bucket),
         |regs AS (SELECT t.b AS bucket, COALESCE(rho.rho, 0) AS rho
         |         FROM range(256) t(b) LEFT JOIN rho ON t.b = rho.bucket),
         |agg AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - rho AS INTEGER)) AS BIGINT) AS s,
         |               CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
         |        FROM regs)
         |SELECT CAST(256 AS BIGINT) AS m, s, v,
         |  CASE WHEN CAST(${SketchOpsAlpha} AS DOUBLE) * 256 * 256 * 9007199254740992.0 / s <= 640.0
         |            AND v > 0
         |       THEN 256.0 * ln(256.0 / v)
         |       ELSE CAST(${SketchOpsAlpha} AS DOUBLE) * 256 * 256 * 9007199254740992.0 / s END
         |    AS est_distinct,
         |  (SELECT COUNT(DISTINCT event_id) FROM events) AS n_exact
         |FROM agg""".stripMargin


  private lazy val e6Sql: String = e6SqlWhere("")

  /** p6's by-type daily KPI statement — also p32's oracle (the
    * backfilled lake must equal the clean full recompute). */
  private lazy val p6Sql: String =
    s"""SELECT CAST(ts AS DATE) AS date, event_type,
       |  COUNT(*) AS n_events,
       |  ${dsum("value")} AS total_value,
       |  ${davg("value")} AS avg_value,
       |  max(value) AS max_value,
       |  min(value) AS min_value
       |FROM events GROUP BY 1, 2 ORDER BY date, event_type""".stripMargin

  /** The e6 IVF+PQ statement with an optional corpus restriction — e13
    * (delete maintenance) is the SAME statement over the surviving
    * vectors only: restricting ql restricts queries, codes and centroid
    * state uniformly, which is exactly what "answers like a full rebuild
    * on the surviving corpus" means. */
  private def e6SqlWhere(pred: String): String =
    s"""WITH $cellCte,
         |ql AS (SELECT vec_id, q.qv, c.label
         |  FROM cqv q JOIN cellid c USING (vec_id)$pred),
         |pcent AS (
         |  SELECT CAST(m AS INTEGER) AS m, CAST(k AS INTEGER) AS k, CAST(d AS INTEGER) AS d,
         |    ${h60("'pq_' || m || '_' || k || '_' || d")} % 2001 - 1000 AS c
         |  FROM range(8) t1(m) CROSS JOIN range(16) t2(k) CROSS JOIN range(8) t3(d)),
         |dist AS (
         |  SELECT v.vec_id, ce.m, ce.k,
         |    SUM((v.qv[ce.m * 8 + ce.d + 1] - ce.c) * (v.qv[ce.m * 8 + ce.d + 1] - ce.c)) AS dist
         |  FROM ql v CROSS JOIN pcent ce
         |  GROUP BY v.vec_id, ce.m, ce.k),
         |codes AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn FROM dist) x
         |  WHERE rn = 1),
         |codesl AS (SELECT c.vec_id, l.label, c.m, c.code
         |  FROM codes c JOIN ql l ON l.vec_id = c.vec_id),
         |unp AS (SELECT label, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM ql),
         |cd AS (SELECT label, d, SUM(v) AS s, COUNT(*) AS n FROM unp GROUP BY 1, 2),
         |icent AS (SELECT label, list(s ORDER BY d) AS s, min(n) AS n,
         |    SUM(s * s) AS ss FROM cd GROUP BY label),
         |qq AS (SELECT vec_id AS q_id, qv, list_dot_product(qv, qv) AS q2
         |  FROM ql WHERE vec_id % 25 = 0),
         |cdist AS (SELECT q.q_id, c.label,
         |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
         |  FROM qq q CROSS JOIN icent c),
         |probe AS (SELECT q_id, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, label) AS crnk
         |    FROM cdist) x
         |  WHERE crnk <= 2),
         |qdist AS (SELECT vec_id AS q_id, m, k, dist FROM dist WHERE vec_id % 25 = 0),
         |adc AS (
         |  SELECT qd.q_id, co.vec_id AS c_id, SUM(qd.dist) AS adc
         |  FROM probe p
         |  JOIN codesl co ON co.label = p.label
         |  JOIN qdist qd ON qd.q_id = p.q_id AND qd.m = co.m AND qd.k = co.code
         |  WHERE qd.q_id <> co.vec_id
         |  GROUP BY qd.q_id, co.vec_id),
         |short AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srn FROM adc) x
         |  WHERE srn <= 40),
         |rr AS (
         |  SELECT s.q_id, s.c_id,
         |    list_dot_product(a.qv, b.qv) / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS score
         |  FROM short s JOIN ql a ON a.vec_id = s.q_id JOIN ql b ON b.vec_id = s.c_id)
         |SELECT q_id, rnk, c_id, round(score, 6) AS score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk FROM rr) z
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin


  // e2/e4's bucket width derives from the corpus count (AnnOps
  // .bandPlanes replayed — the same sizing as e3's bands)
  private lazy val bucketCte =
    s"""bp2 AS MATERIALIZED (SELECT CAST(COALESCE(MIN(x), 24) AS INTEGER) AS p FROM range(6, 25) t(x)
       |  WHERE (CAST(1 AS BIGINT) << x) * ${graft.operators.AnnOps.BandBucketTarget}
       |    >= (SELECT COUNT(*) FROM embeddings)),
       |planes AS (
       |  SELECT CAST(t1.p AS INTEGER) AS p, CAST(d AS INTEGER) AS d,
       |    ${h60("'hp_' || t1.p || '_' || d")} % 2001 - 1000 AS w
       |  FROM range(24) t1(p) CROSS JOIN range(64) t2(d), bp2
       |  WHERE t1.p < bp2.p),
       |unp AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM q),
       |pd AS (SELECT u.vec_id, pl.p, SUM(u.v * pl.w) AS dot
       |       FROM unp u JOIN planes pl ON u.d = pl.d GROUP BY 1, 2),
       |bk AS (SELECT vec_id,
       |         CAST(SUM((CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << p) AS BIGINT) AS bucket
       |       FROM pd GROUP BY vec_id),
       |wb AS (SELECT q.vec_id, q.qv, bk.bucket FROM q JOIN bk USING (vec_id))""".stripMargin

  private val d3Sql: String =
    s"""WITH $ngramCte,
         |h AS (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ng),
         |perms AS (SELECT CAST(i AS INTEGER) AS i,
         |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
         |  ${h60("'perm_b_' || i")} % 2147483647 AS pb
         |  FROM range(16) t(i)),
         |sig AS (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
         |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, CAST(floor(i / 4) AS INTEGER) AS band,
         |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
         |  FROM sig GROUP BY doc_id, CAST(floor(i / 4) AS INTEGER)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
         |FROM cand c
         |JOIN sig sa ON sa.doc_id = c.doc_a
         |JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
         |GROUP BY c.doc_a, c.doc_b
         |HAVING CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 >= 0.25
         |ORDER BY doc_a, doc_b""".stripMargin

  /** One bounded label-propagation round: label := min(own, neighbors').
    * MATERIALIZED — each round is referenced twice by the next (l and
    * ln), so default inlining doubles the subtree per round and the
    * whole minhash derivation under `edges` re-expands ~2^rounds times
    * (the exponential-inlining gotcha; 78 GB of DuckDB temp at the 10×
    * scale point before materialization). */
  private def lpRound(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (
       |  SELECT l.doc_id, least(l.label, coalesce(min(ln.label), l.label)) AS label
       |  FROM $prev l
       |  LEFT JOIN edges e ON e.doc_a = l.doc_id
       |  LEFT JOIN $prev ln ON ln.doc_id = e.doc_b
       |  GROUP BY l.doc_id, l.label)""".stripMargin

  /** d5: replays the Spark side's exact ClusterIters rounds over the d3
    * pair graph, so results agree even pre-convergence. */
  private val d5Sql: String =
    s"""WITH d3pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d3Sql) z),
       |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM d3pairs
       |          UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM d3pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM edges),
       |${lpRound("l0", "l1")},
       |${lpRound("l1", "l2")},
       |${lpRound("l2", "l3")}
       |SELECT doc_id, label AS cluster_id FROM l3 ORDER BY doc_id""".stripMargin

  /** d11 (and p39, which must reproduce it exactly): the
    * incremental-ingest near-dup check — incoming carve (doc_id % 4)
    * banded against the existing corpus, signature-verified. */
  private lazy val d11Sql: String =
    s"""WITH $ngramCte,
       |h AS (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ng),
       |perms AS (SELECT CAST(i AS INTEGER) AS i,
       |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
       |  ${h60("'perm_b_' || i")} % 2147483647 AS pb
       |  FROM range(16) t(i)),
       |sig AS (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
       |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, CAST(floor(i / 4) AS INTEGER) AS band,
       |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(i / 4) AS INTEGER)),
       |cand AS (SELECT DISTINCT inc.doc_id AS incoming_doc, ex.doc_id AS existing_doc
       |  FROM bands inc JOIN bands ex
       |    ON inc.band = ex.band AND inc.bkey = ex.bkey
       |  WHERE inc.doc_id % 4 = 0 AND ex.doc_id % 4 <> 0)
       |SELECT c.incoming_doc, c.existing_doc,
       |  CAST(SUM(CASE WHEN si.mh = se.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
       |FROM cand c
       |JOIN sig si ON si.doc_id = c.incoming_doc
       |JOIN sig se ON se.doc_id = c.existing_doc AND se.i = si.i
       |GROUP BY 1, 2
       |HAVING CAST(SUM(CASE WHEN si.mh = se.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 >= 0.25
       |ORDER BY incoming_doc, existing_doc""".stripMargin

  /** Shared by d18 / x16 / g6: d5's labels extended to the whole corpus
    * (singletons get cluster_id = doc_id) plus per-cluster sizes. */
  private lazy val corpusClusterCte: String =
    s"""d5c AS MATERIALIZED (SELECT doc_id, cluster_id FROM ($d5Sql) z),
       |allc AS MATERIALIZED (SELECT d.doc_id,
       |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN d5c c USING (doc_id)),
       |csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM allc GROUP BY cluster_id)""".stripMargin

  /** s10: replay the per-source KMV build (distinct shingle hashes →
    * bottom-k per source) and every pairwise merged-sketch estimate,
    * plus the exact error-inspection columns — identical int64 hashes
    * and IEEE arithmetic with power-of-two divisors, so doubles match
    * bit-for-bit. */
  private lazy val s10Sql: String = {
    val k = graft.operators.SketchOps.SetOpsK
    s"""WITH $ngramCte,
       |sh0 AS MATERIALIZED (SELECT DISTINCT d.source, ${h60("ngram")} AS h
       |  FROM ng JOIN documents d USING (doc_id)),
       |sk AS MATERIALIZED (SELECT source, h FROM (
       |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
       |  FROM sh0) z WHERE rnk <= $k),
       |srcs AS (SELECT DISTINCT source FROM sh0),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |ent AS (SELECT p.src_a, p.src_b, s.h,
       |    MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS ib
       |  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
       |  GROUP BY 1, 2, 3),
       |topu AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rnk
       |  FROM ent) z WHERE rnk <= $k),
       |est AS (SELECT src_a, src_b, MAX(h) AS theta,
       |    CAST(count(*) AS BIGINT) AS kk,
       |    CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT) AS overlap_k
       |  FROM topu GROUP BY 1, 2),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh0 GROUP BY 1),
       |xin AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS n_inter
       |  FROM sh0 a JOIN sh0 b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
       |SELECT e.src_a, e.src_b, e.overlap_k,
       |  CASE WHEN e.kk < $k THEN CAST(e.kk AS DOUBLE)
       |       ELSE ${k - 1}.0 * 1152921504606846976.0 / e.theta END AS est_union,
       |  CAST(e.overlap_k AS DOUBLE) / e.kk AS est_jaccard,
       |  COALESCE(x.n_inter, 0) AS n_inter,
       |  sa.n + sb.n - COALESCE(x.n_inter, 0) AS n_union
       |FROM est e
       |LEFT JOIN xin x ON e.src_a = x.src_a AND e.src_b = x.src_b
       |JOIN sizes sa ON sa.source = e.src_a
       |JOIN sizes sb ON sb.source = e.src_b
       |ORDER BY e.src_a, e.src_b""".stripMargin
  }

  /** m6: d4's SimHash chain verbatim over BYTE 8-gram shingles (as
    * 16-char windows of the blob's hex — DuckDB 1.0 has no BLOB
    * substring, and hex is the engine-portable shingle domain for
    * arbitrary bytes), unit votes (DISTINCT shingles). Named so m7's
    * fuzzy-dup exclusion composes the identical pair set. */
  private lazy val m6Sql: String =
    s"""WITH b AS (SELECT doc_id, CAST(text AS BLOB) AS blob FROM documents),
       |bh AS (SELECT doc_id, octet_length(blob) AS n, lower(hex(blob)) AS hx FROM b),
       |shg AS (SELECT DISTINCT doc_id, substr(hx, u * 2 + 1, ${graft.operators.MultimodalOps.FuzzyShingleBytes * 2}) AS s
       |  FROM bh, unnest(range(0, n - ${graft.operators.MultimodalOps.FuzzyShingleBytes - 1})) AS x(u)),
       |th AS (SELECT doc_id, 1 AS c, ${h60("s")} AS h FROM shg),
       |bv AS (SELECT doc_id, b, SUM(c * (((h >> b) & 1) * 2 - 1)) AS s
       |  FROM th CROSS JOIN (SELECT CAST(i AS INTEGER) AS b FROM range(60) t(i)) bits
       |  GROUP BY doc_id, b),
       |sh AS (SELECT doc_id,
       |  CAST(SUM((CASE WHEN s > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << b) AS BIGINT) AS simhash
       |  FROM bv GROUP BY doc_id),
       |ch AS (SELECT doc_id, simhash, j, (simhash >> (j * 15)) & 32767 AS chunk
       |  FROM sh CROSS JOIN (SELECT CAST(i AS INTEGER) AS j FROM range(4) t(i)) js),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS ha, b.simhash AS hb
       |  FROM ch a JOIN ch b ON a.j = b.j AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** m7: the media training manifest — m3's exact-dup reps minus m6's
    * fuzzy-dup losers, floored at MinMediaBytes, metadata attached,
    * ranked under the deterministic media order hash. */
  private lazy val m7Sql: String =
    s"""WITH m6p AS MATERIALIZED (SELECT DISTINCT doc_b FROM ($m6Sql) z),
       |m3k AS MATERIALIZED (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |meta AS (SELECT doc_id,
       |    octet_length(encode(text)) AS byte_len,
       |    lower(hex(encode(substring(text, 1, 4)))) AS magic,
       |    octet_length(encode(text)) % 30 + 1 AS n_frames
       |  FROM documents),
       |kept AS (SELECT m.*,
       |    ${h60("'morder_' || CAST(doc_id AS VARCHAR)")} AS ok
       |  FROM meta m
       |  WHERE byte_len >= ${graft.operators.MultimodalOps.MinMediaBytes}
       |    AND doc_id IN (SELECT doc_id FROM m3k)
       |    AND doc_id NOT IN (SELECT doc_b FROM m6p))
       |SELECT row_number() OVER (ORDER BY ok, doc_id) AS step,
       |  doc_id, byte_len, magic, n_frames
       |FROM kept ORDER BY step""".stripMargin

  /** s6: log-bin histogram quantiles — named so s11 (the day-merged
    * roll-up, exact by integer-sum associativity) shares it verbatim. */
  private val s6Sql: String =
    """WITH v AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS mv
      |  FROM events WHERE value IS NOT NULL AND value > 0),
      |b AS (SELECT event_type, CAST(length(bin(mv)) AS BIGINT) AS bin, count(*) AS c
      |  FROM v GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin, c,
      |  CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum_c,
      |  CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM b),
      |q50 AS (SELECT event_type, min(bin) AS p50_bin FROM cum WHERE cum_c * 2 >= n GROUP BY 1),
      |q95 AS (SELECT event_type, min(bin) AS p95_bin FROM cum WHERE cum_c * 100 >= n * 95 GROUP BY 1)
      |SELECT c.event_type, max(n) AS n,
      |  max(p50_bin) AS p50_bin, (CAST(1 AS BIGINT) << max(p50_bin)) AS p50_hi_milli,
      |  max(p95_bin) AS p95_bin, (CAST(1 AS BIGINT) << max(p95_bin)) AS p95_hi_milli
      |FROM cum c JOIN q50 USING (event_type) JOIN q95 USING (event_type)
      |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin

  /** a14: the identical 7-lag binary-weight fold — lag() is
    * engine-portable and the 2⁷⁻ᵏ/127 arithmetic is one floor div. */
  private val a14Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |lg AS (SELECT event_type, date, n,
      |    lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
      |    lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
      |    lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
      |    lag(n, 7) OVER w AS l7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY date))
      |SELECT event_type, date, n,
      |  (1000000 * (l1*64 + l2*32 + l3*16 + l4*8 + l5*4 + l6*2 + l7)) // 127
      |    AS forecast_micro,
      |  abs(n * 1000000 -
      |    (1000000 * (l1*64 + l2*32 + l3*16 + l4*8 + l5*4 + l6*2 + l7)) // 127)
      |    AS err_micro
      |FROM lg WHERE l7 IS NOT NULL
      |ORDER BY event_type, date""".stripMargin

  /** a13: the TEXTBOOK attribution formulation — per-purchase self-join
    * to preceding in-window touches + argmax (ts, event_id) — against
    * which the Spark side's single-window-pass rewrite is checked. */
  private val a13Sql: String =
    """WITH mk AS MATERIALIZED (
      |  SELECT user_id, ts, event_id, event_type FROM events
      |  WHERE event_type IN ('click', 'view')),
      |pur AS MATERIALIZED (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'purchase'),
      |best AS MATERIALIZED (
      |  SELECT user_id, ts, event_id, mtype FROM (
      |    SELECT p.user_id, p.ts, p.event_id, m.event_type AS mtype,
      |      row_number() OVER (PARTITION BY p.user_id, p.ts, p.event_id
      |        ORDER BY m.ts DESC, m.event_id DESC) AS rn
      |    FROM pur p JOIN mk m ON m.user_id = p.user_id
      |      AND (m.ts < p.ts OR (m.ts = p.ts AND m.event_id < p.event_id))
      |      AND epoch_us(p.ts) - epoch_us(m.ts) <= 604800000000) z
      |  WHERE rn = 1)
      |SELECT COALESCE(b.mtype, 'direct') AS attributed_type,
      |  CAST(count(*) AS BIGINT) AS n_conv,
      |  CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM pur p
      |LEFT JOIN best b ON b.user_id = p.user_id AND b.ts = p.ts
      |  AND b.event_id = p.event_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** t13: gram → min(doc_id) first owner over the d2/d3 gram substrate,
    * folded per doc into (carried, introduced) counts — novelty_ppm =
    * the fraction of a doc's distinct 3-grams it introduces. */
  private val t13Sql: String =
    s"""WITH $ngramCte,
       |fo AS MATERIALIZED (SELECT ngram, min(doc_id) AS first_doc FROM ng GROUP BY ngram)
       |SELECT g.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  (1000000 * CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS novelty_ppm
       |FROM ng g JOIN fo f USING (ngram)
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  /** d13: the d3 pair set re-scored three ways — agreeing permutations
    * (signatures recomputed over the members' grams only; a doc's
    * signature depends on nothing else), exact unpruned n-gram Jaccard,
    * and the absolute estimate error, all int64 ppm. */
  private lazy val d13Sql: String = {
    val k = graft.operators.DedupOps.K
    s"""WITH d3p AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d3Sql) z),
       |$ngramCte,
       |mem AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM d3p UNION ALL SELECT doc_b AS doc_id FROM d3p) u),
       |ngm AS MATERIALIZED (SELECT g.doc_id, g.ngram FROM ng g JOIN mem m USING (doc_id)),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ng FROM ngm GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM d3p p
       |  JOIN ngm a ON a.doc_id = p.doc_a
       |  JOIN ngm b ON b.doc_id = p.doc_b AND b.ngram = a.ngram
       |  GROUP BY 1, 2),
       |h2 AS (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ngm),
       |perms2 AS (SELECT CAST(i AS INTEGER) AS i,
       |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
       |  ${h60("'perm_b_' || i")} % 2147483647 AS pb FROM range($k) t(i)),
       |sig2 AS (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
       |  FROM h2 CROSS JOIN perms2 GROUP BY doc_id, i),
       |mat AS (SELECT p.doc_a, p.doc_b,
       |  CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
       |  FROM d3p p
       |  JOIN sig2 sa ON sa.doc_id = p.doc_a
       |  JOIN sig2 sb ON sb.doc_id = p.doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, m.matches,
       |  (1000000 * m.matches) // $k AS est_ppm,
       |  (1000000 * COALESCE(i.inter, 0))
       |    // (sa.n_ng + sb.n_ng - COALESCE(i.inter, 0)) AS exact_ppm,
       |  abs((1000000 * m.matches) // $k -
       |    (1000000 * COALESCE(i.inter, 0))
       |      // (sa.n_ng + sb.n_ng - COALESCE(i.inter, 0))) AS err_ppm
       |FROM d3p p
       |JOIN mat m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN sizes sa ON sa.doc_id = p.doc_a
       |JOIN sizes sb ON sb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  /** One swept banding config's CTE group (d14): band signatures at
    * `rows` perms per band, their bucket sizes, the candidate pairs the
    * UNDER-CAP buckets admit, and the skipped (over-cap) doc set —
    * mirroring DedupOps.sweepCandidates / sweepSkippedDocs. */
  private def sweepBandCte(bands: Int): String = {
    val rows = graft.operators.DedupOps.K / bands
    val cap = graft.operators.DedupOps.SweepBucketCap
    s"""bands$bands AS MATERIALIZED (
       |  SELECT doc_id, CAST(floor(i / $rows) AS INTEGER) AS band,
       |    md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(i / $rows) AS INTEGER)),
       |bsz$bands AS MATERIALIZED (
       |  SELECT band, bkey, CAST(count(*) AS BIGINT) AS bsz
       |  FROM bands$bands GROUP BY band, bkey),
       |cand$bands AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands$bands a
       |  JOIN bsz$bands s ON s.band = a.band AND s.bkey = a.bkey AND s.bsz <= $cap
       |  JOIN bands$bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |skip$bands AS (
       |  SELECT CAST(count(DISTINCT a.doc_id) AS BIGINT) AS skipped_docs
       |  FROM bands$bands a
       |  JOIN bsz$bands s ON s.band = a.band AND s.bkey = a.bkey AND s.bsz > $cap)""".stripMargin
  }

  /** One row of d14's report: the config's candidate count, its catch
    * of the shipped d3 reference set, and its skipped-bucket mass. */
  private def sweepStatRow(bands: Int): String =
    s"""SELECT CAST($bands AS BIGINT) AS bands,
       |  CAST(${graft.operators.DedupOps.K / bands} AS BIGINT) AS rows_per_band,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand$bands) AS candidates,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand$bands c
       |     JOIN ref r ON c.doc_a = r.doc_a AND c.doc_b = r.doc_b) AS ref_caught,
       |  (SELECT skipped_docs FROM skip$bands) AS skipped_docs""".stripMargin

  /** d14: the sweep replayed from the shared signature CTE — the
    * reference set is d3's verbatim (4×4 banding + est ≥ 0.25). */
  private lazy val d14Sql: String = {
    val k = graft.operators.DedupOps.K
    s"""WITH $ngramCte,
       |h AS MATERIALIZED (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ng),
       |perms AS (SELECT CAST(i AS INTEGER) AS i,
       |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
       |  ${h60("'perm_b_' || i")} % 2147483647 AS pb
       |  FROM range($k) t(i)),
       |sig AS MATERIALIZED (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
       |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
       |${sweepBandCte(2)},
       |${sweepBandCte(4)},
       |${sweepBandCte(8)},
       |cand4u AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands4 a JOIN bands4 b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |ref AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b FROM cand4u c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |  GROUP BY c.doc_a, c.doc_b
       |  HAVING CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / $k >= 0.25),
       |refn AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM ref),
       |stats AS (${sweepStatRow(2)} UNION ALL ${sweepStatRow(4)}
       |  UNION ALL ${sweepStatRow(8)})
       |SELECT s.bands, s.rows_per_band, s.candidates, s.ref_caught,
       |  s.skipped_docs,
       |  (1000000 * s.ref_caught) // refn.n_ref AS recall_ppm
       |FROM stats s CROSS JOIN refn ORDER BY s.bands""".stripMargin
  }

  /** d15: both legs recomputed from first principles — the exact leg
    * from d1's fingerprint definition aggregated per (fp, source), the
    * near-dup leg from d3's verbatim pair statement; pair counts
    * multiply per-source copy counts (never materializing doc pairs),
    * mirroring DedupOps.sourceOverlap. */
  private lazy val d15Sql: String =
    s"""WITH d3p AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d3Sql) z),
       |fps AS MATERIALIZED (
       |  SELECT md5(array_to_string($TOK, ' ')) AS fp, source,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |ex AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_pairs
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT source, source, CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT)
       |  FROM fps WHERE cnt > 1 GROUP BY 1, 2),
       |nd AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    CAST(count(*) AS BIGINT) AS neardup_pairs
       |  FROM d3p p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b
       |  GROUP BY 1, 2)
       |SELECT coalesce(e.source_a, n.source_a) AS source_a,
       |  coalesce(e.source_b, n.source_b) AS source_b,
       |  coalesce(e.exact_pairs, 0) AS exact_pairs,
       |  coalesce(n.neardup_pairs, 0) AS neardup_pairs
       |FROM ex e FULL OUTER JOIN nd n
       |  ON e.source_a = n.source_a AND e.source_b = n.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** e19: IVF+SQ8 replayed from first principles — the probe chain is
    * e6's statement numerically (same n-scaled distance identity, same
    * (dist2, label) tie-break, NProbe 2), with the SQ8 per-dim encode
    * and the ×255-scaled integer ADC in the compressed-scoring role.
    * `//` = Spark's `div` (operands all non-negative here). */
  private lazy val e19Sql: String =
    s"""WITH $cellCte,
       |ql AS (SELECT vec_id, q.qv, c.label
       |  FROM cqv q JOIN cellid c USING (vec_id)),
       |unp AS MATERIALIZED (SELECT vec_id, label,
       |    generate_subscripts(qv, 1) - 1 AS d, CAST(unnest(qv) AS BIGINT) AS v
       |  FROM ql),
       |stats AS MATERIALIZED (SELECT d, min(v) AS mn, max(v) AS mx FROM unp GROUP BY d),
       |codes AS MATERIALIZED (
       |  SELECT u.vec_id, u.label, u.d,
       |    s.mn * 255 + (CASE WHEN s.mx > s.mn
       |      THEN (u.v - s.mn) * 255 // (s.mx - s.mn) ELSE 0 END) * (s.mx - s.mn)
       |      AS recon255
       |  FROM unp u JOIN stats s USING (d)),
       |cd AS (SELECT label, d, SUM(v) AS s, COUNT(*) AS n FROM unp GROUP BY 1, 2),
       |icent AS (SELECT label, list(s ORDER BY d) AS s, min(n) AS n,
       |    SUM(s * s) AS ss FROM cd GROUP BY label),
       |qq AS (SELECT vec_id AS q_id, qv, list_dot_product(qv, qv) AS q2
       |  FROM ql WHERE vec_id % 25 = 0),
       |cdist AS (SELECT q.q_id, c.label,
       |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
       |  FROM qq q CROSS JOIN icent c),
       |probe AS (SELECT q_id, label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, label) AS crnk
       |    FROM cdist) x
       |  WHERE crnk <= 2),
       |qdim AS (SELECT vec_id AS q_id, d, v * 255 AS qv255
       |  FROM unp WHERE vec_id % 25 = 0),
       |adc AS (
       |  SELECT qd.q_id, co.vec_id AS c_id,
       |    SUM((qd.qv255 - co.recon255) * (qd.qv255 - co.recon255)) AS adc
       |  FROM probe p
       |  JOIN codes co ON co.label = p.label
       |  JOIN qdim qd ON qd.q_id = p.q_id AND qd.d = co.d
       |  WHERE qd.q_id <> co.vec_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS srn FROM adc) x
       |  WHERE srn <= 40),
       |rr AS (
       |  SELECT s.q_id, s.c_id,
       |    list_dot_product(a.qv, b.qv) / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS score
       |  FROM short s JOIN ql a ON a.vec_id = s.q_id JOIN ql b ON b.vec_id = s.c_id)
       |SELECT q_id, rnk, c_id, round(score, 6) AS score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk FROM rr) z
       |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** a15: the two-proportion test recomputed from first principles in
    * HUGEINT (int128 ≥ the Spark side's DECIMAL(38,0) domain);
    * `//` = Spark's `div` (both truncate; every division here has a
    * non-negative numerator — lift's sign is factored out first). */
  private lazy val a15Sql: String = {
    val thr = graft.analytics.Analytics.AbConvThreshold
    val sig = graft.analytics.Analytics.AbSigZ2Ppm
    s"""WITH ev AS (SELECT user_id, event_type FROM events WHERE user_id IS NOT NULL),
       |pop AS (SELECT
       |    count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS n_a,
       |    count(DISTINCT CASE WHEN user_id % 2 <> 0 THEN user_id END) AS n_b
       |  FROM ev),
       |cu AS (SELECT event_type, user_id, user_id % 2 = 0 AS va, count(*) AS n_ev
       |  FROM ev GROUP BY 1, 2, 3),
       |conv AS (SELECT event_type,
       |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM cu WHERE n_ev >= $thr GROUP BY 1),
       |s AS (SELECT c.event_type, p.n_a, c.conv_a, p.n_b, c.conv_b,
       |    CAST(c.conv_a AS HUGEINT) * p.n_b - CAST(c.conv_b AS HUGEINT) * p.n_a AS diff,
       |    c.conv_a + c.conv_b AS cc, p.n_a + p.n_b AS nn
       |  FROM conv c CROSS JOIN pop p),
       |z AS (SELECT *,
       |    CASE WHEN cc > 0 AND cc < nn THEN
       |      CAST((1000000 * diff * diff * nn)
       |        // (CAST(n_a AS HUGEINT) * n_b * cc * (nn - cc)) AS BIGINT)
       |    END AS z2_ppm
       |  FROM s)
       |SELECT event_type, n_a, conv_a, n_b, conv_b,
       |  CASE WHEN conv_b > 0 THEN
       |    (CASE WHEN diff >= 0 THEN 1 ELSE -1 END) *
       |    CAST((1000000 * abs(diff)) // (CAST(conv_b AS HUGEINT) * n_a) AS BIGINT)
       |  END AS lift_ppm,
       |  z2_ppm,
       |  CASE WHEN z2_ppm IS NOT NULL THEN z2_ppm >= $sig END AS significant
       |FROM z ORDER BY event_type""".stripMargin
  }

  /** p35: the watermark rule modeled independently — after the even
    * batch the watermark sits at floor(max_us/1000) ms − 1 h (exactly
    * EventTimeWatermarkExec's ms-floored tracking), and an odd row is
    * admitted iff its window end (ms) is strictly past it. */
  private lazy val p35Sql: String =
    s"""WITH ev AS (SELECT * FROM events WHERE $validCond),
       |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
       |wm AS (SELECT (epoch_us(max(ts)) // 1000) - 3600000 AS wm_ms FROM a),
       |kept AS (
       |  SELECT ts, event_type FROM a
       |  UNION ALL
       |  SELECT b.ts, b.event_type FROM ev b, wm
       |  WHERE b.event_id % 2 = 1
       |    AND (epoch_us(date_trunc('hour', b.ts)) // 1000) + 3600000 > wm.wm_ms),
       |str AS (SELECT date_trunc('hour', ts) AS win_start, event_type,
       |    CAST(count(*) AS BIGINT) AS n_stream FROM kept GROUP BY 1, 2),
       |bat AS (SELECT date_trunc('hour', ts) AS win_start, event_type,
       |    CAST(count(*) AS BIGINT) AS n_batch FROM ev GROUP BY 1, 2)
       |SELECT b.win_start, b.event_type, b.n_batch,
       |  coalesce(s.n_stream, 0) AS n_stream,
       |  b.n_batch - coalesce(s.n_stream, 0) AS late_dropped
       |FROM bat b LEFT JOIN str s
       |  ON s.win_start = b.win_start AND s.event_type = b.event_type
       |ORDER BY b.win_start, b.event_type""".stripMargin

  /** m8: the frame decode, DF prune, pair join and containment score
    * replayed from first principles (mirrors MultimodalOps.clipNearDup;
    * the ms window geometry constants come from the one Scala home). */
  private lazy val m8Sql: String = {
    val (win, step) = (graft.operators.MultimodalOps.FrameWin,
      graft.operators.MultimodalOps.FrameStep)
    val maxDf = graft.operators.MultimodalOps.MaxFrameDf
    val minSh = graft.operators.MultimodalOps.MinSharedFrames
    s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= $win),
       |fr AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    ${h60(s"substr(text, CAST(i*$step+1 AS INTEGER), $win)")} AS fp
       |  FROM (SELECT doc_id, text, unnest(range((n-$win)//$step + 1)) AS i
       |        FROM base) u),
       |pruned AS MATERIALIZED (SELECT doc_id, fp FROM fr WHERE fp IN (
       |  SELECT fp FROM fr GROUP BY fp HAVING count(*) <= $maxDf)),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
       |  FROM pruned GROUP BY doc_id),
       |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b, s.shared, sa.nf AS frames_a, sb.nf AS frames_b,
       |  (1000000 * s.shared) // least(sa.nf, sb.nf) AS overlap_ppm
       |FROM sh s
       |JOIN sizes sa ON sa.doc_id = s.doc_a
       |JOIN sizes sb ON sb.doc_id = s.doc_b
       |WHERE s.shared >= $minSh ORDER BY doc_a, doc_b""".stripMargin
  }

  /** a16: cohort/age rollup with the cumulative revenue accumulated in
    * DECIMAL through the window (cast to double only at presentation —
    * decSum's discipline carried through the running total). */
  private lazy val a16Sql: String =
    s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS date, event_type, value
       |  FROM events WHERE $validCond),
       |coh AS (SELECT user_id, min(date) AS cohort_day FROM ev GROUP BY 1),
       |d AS (SELECT c.cohort_day, CAST(e.date - c.cohort_day AS BIGINT) AS age_day,
       |    count(DISTINCT e.user_id) AS n_active,
       |    SUM(CASE WHEN e.event_type = 'purchase'
       |      THEN CAST(e.value AS DECIMAL(18,6))
       |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS rev
       |  FROM ev e JOIN coh c USING (user_id) GROUP BY 1, 2)
       |SELECT cohort_day, age_day, n_active,
       |  CAST(rev AS DOUBLE) AS revenue,
       |  CAST(SUM(rev) OVER (PARTITION BY cohort_day ORDER BY age_day)
       |    AS DOUBLE) AS cum_revenue
       |FROM d ORDER BY cohort_day, age_day""".stripMargin

  /** d16: the serve path replayed from first principles — the d3
    * signature/band chain (verbatim constants), the served id derived
    * as min(doc_a) over the verified pair set, band-probe candidates,
    * exact unpruned n-gram Jaccard, top-5. */
  private lazy val d16Sql: String =
    s"""WITH $ngramCte,
       |h AS (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ng),
       |perms AS (SELECT CAST(i AS INTEGER) AS i,
       |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
       |  ${h60("'perm_b_' || i")} % 2147483647 AS pb
       |  FROM range(16) t(i)),
       |sig AS MATERIALIZED (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
       |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
       |bands AS MATERIALIZED (SELECT doc_id, CAST(floor(i / 4) AS INTEGER) AS band,
       |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(i / 4) AS INTEGER)),
       |cand0 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |d3p AS (SELECT c.doc_a FROM cand0 c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |  GROUP BY c.doc_a, c.doc_b
       |  HAVING CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16
       |    >= 0.25),
       |qid AS (SELECT min(doc_a) AS q FROM d3p),
       |qb AS (SELECT band, bkey FROM bands CROSS JOIN qid WHERE doc_id = q),
       |cand AS (SELECT DISTINCT b.doc_id FROM bands b
       |  JOIN qb ON b.band = qb.band AND b.bkey = qb.bkey
       |  CROSS JOIN qid WHERE b.doc_id <> qid.q),
       |qg AS (SELECT ngram FROM ng CROSS JOIN qid WHERE doc_id = q),
       |qn AS (SELECT CAST(count(*) AS BIGINT) AS na FROM qg),
       |cg AS (SELECT g.doc_id, g.ngram FROM ng g JOIN cand c ON c.doc_id = g.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb FROM cg GROUP BY 1),
       |inter AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM cg JOIN qg ON cg.ngram = qg.ngram GROUP BY 1),
       |sc AS (SELECT s.doc_id, i.inter, s.nb + qn.na - i.inter AS uni,
       |    CAST(i.inter AS DOUBLE) / (s.nb + qn.na - i.inter) AS score
       |  FROM sizes s JOIN inter i ON i.doc_id = s.doc_id CROSS JOIN qn)
       |SELECT rnk, doc_id, inter, uni, round(score, 6) AS jaccard FROM (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM sc) z
       |WHERE rnk <= 5 ORDER BY rnk""".stripMargin

  /** b4: the Morton interleave and both layouts' footer stats replayed
    * from first principles; the bit terms are generated from the same
    * ZBits/ZBucketShift constants the Spark side compiles in. */
  private lazy val b4Sql: String = {
    val zb = graft.operators.BucketOps.ZBits
    val shift = graft.operators.BucketOps.ZBucketShift
    val maxN = (1 << zb) - 1
    val zTerms = (0 until zb).map(i =>
      s"(((na >> $i) & 1) << ${2 * i}) + (((nb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH li AS (SELECT l_orderkey AS a, l_partkey AS b FROM lineitem),
       |mm AS (SELECT min(a) AS mna, max(a) AS mxa, min(b) AS mnb, max(b) AS mxb
       |  FROM li),
       |n AS (SELECT a, b,
       |    CASE WHEN mxa > mna THEN (a - mna) * $maxN // (mxa - mna) ELSE 0 END AS na,
       |    CASE WHEN mxb > mnb THEN (b - mnb) * $maxN // (mxb - mnb) ELSE 0 END AS nb
       |  FROM li CROSS JOIN mm),
       |wz AS (SELECT a, b, na, nb, $zTerms AS z FROM n)
       |SELECT * FROM (
       |  SELECT 'zorder' AS layout, z // ${1L << shift} AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    max(a) - min(a) AS o_span, max(b) - min(b) AS p_span
       |  FROM wz GROUP BY 2
       |  UNION ALL
       |  SELECT 'natural', na // ${1L << (shift - zb)},
       |    CAST(count(*) AS BIGINT), max(a) - min(a), max(b) - min(b)
       |  FROM wz GROUP BY 2)
       |ORDER BY layout, bucket""".stripMargin
  }

  /** p36: both snapshots re-derived from the events table (v1 minus the
    * late slice), partition stats compared with the µ-unit value-mass
    * canonicalization. */
  private lazy val p36Sql: String =
    s"""WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS date, event_type, value
       |  FROM events),
       |mx AS (SELECT max(date) - 3 AS latefrom FROM ev),
       |k2 AS (SELECT date, event_type, count(*) AS n_events, ${dsum("value")} AS total
       |  FROM ev GROUP BY 1, 2),
       |k1 AS (SELECT date, event_type, count(*) AS n_events, ${dsum("value")} AS total
       |  FROM ev CROSS JOIN mx
       |  WHERE NOT (event_id % 8 = 7 AND date >= latefrom) GROUP BY 1, 2),
       |s1 AS (SELECT date, count(*) AS r1, CAST(SUM(n_events) AS BIGINT) AS e1,
       |    CAST(SUM(CAST(floor(total * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS t1
       |  FROM k1 GROUP BY 1),
       |s2 AS (SELECT date, count(*) AS r2, CAST(SUM(n_events) AS BIGINT) AS e2,
       |    CAST(SUM(CAST(floor(total * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS t2
       |  FROM k2 GROUP BY 1)
       |SELECT COALESCE(s1.date, s2.date) AS date,
       |  CASE WHEN s1.date IS NULL THEN 'added'
       |       WHEN s2.date IS NULL THEN 'removed'
       |       WHEN s1.r1 = s2.r2 AND s1.e1 = s2.e2 AND s1.t1 = s2.t2
       |         THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  COALESCE(e1, 0) AS n_events_v1, COALESCE(e2, 0) AS n_events_v2
       |FROM s1 FULL OUTER JOIN s2 ON s1.date = s2.date
       |ORDER BY date""".stripMargin

  /** p37: the render, both parser generations and the triage replayed
    * in DuckDB's strptime dialect (zero-padded %d/%m matches Spark's
    * dd/MM; epoch seconds floor-divided identically). */
  private lazy val p37Sql: String =
    s"""WITH ev AS (SELECT event_id, ts FROM events
       |  WHERE ts IS NOT NULL AND event_id IS NOT NULL),
       |s AS (SELECT event_id % 4 AS fmt_class,
       |  CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
       |       WHEN event_id % 4 = 1 THEN strftime(ts, '%d/%m/%Y %H:%M')
       |       WHEN event_id % 4 = 2 THEN CAST(epoch_us(ts) // 1000000 AS VARCHAR)
       |       ELSE 'corrupt#' || event_id END AS raw_ts FROM ev),
       |p AS (SELECT fmt_class,
       |  try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S') AS v1,
       |  COALESCE(try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S'),
       |           try_strptime(raw_ts, '%d/%m/%Y %H:%M'),
       |           to_timestamp(try_cast(raw_ts AS BIGINT))) AS v2
       | FROM s)
       |SELECT fmt_class, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CASE WHEN v1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quarantined,
       |  CAST(SUM(CASE WHEN v1 IS NULL AND v2 IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_recovered,
       |  CAST(SUM(CASE WHEN v1 IS NULL AND v2 IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dead
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** x13: d5's cluster chain + t2's quality chain composed; the keep
    * rule (rounded score desc, doc_id asc) replayed verbatim. */
  private lazy val x13Sql: String =
    s"""WITH d5c AS MATERIALIZED (SELECT doc_id, cluster_id FROM ($d5Sql) z),
       |td AS (SELECT doc_id, $TOK AS t FROM documents),
       |tx AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_unique,
       |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
       |  FROM td),
       |tq AS (SELECT doc_id,
       |  round(0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)
       |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
       |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS qs
       |  FROM tx),
       |j AS (SELECT c.cluster_id, c.doc_id, tq.qs
       |  FROM d5c c JOIN tq ON tq.doc_id = c.doc_id),
       |k AS (SELECT cluster_id, doc_id AS keep_doc_id, qs AS keep_score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY qs DESC, doc_id) AS rn FROM j) z WHERE rn = 1),
       |st AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |    min(doc_id) AS naive_keep
       |  FROM j GROUP BY 1)
       |SELECT k.cluster_id, st.n_members, k.keep_doc_id, k.keep_score,
       |  st.naive_keep, k.keep_doc_id <> st.naive_keep AS upgraded
       |FROM k JOIN st ON st.cluster_id = k.cluster_id
       |ORDER BY k.cluster_id""".stripMargin

  /** e20: hottest cell, farthest-pair seeds and nearer-seed assignment
    * replayed verbatim (exact integer distances in 53-bit-safe
    * doubles, the e6 magnitude argument). */
  private lazy val e20Sql: String =
    s"""WITH $cellCte,
       |ql AS (SELECT vec_id, q.qv, c.label
       |  FROM cqv q JOIN cellid c USING (vec_id)),
       |hot AS (SELECT label FROM (
       |  SELECT label, row_number() OVER (ORDER BY count(*) DESC, label) AS rn
       |  FROM ql GROUP BY label) z WHERE rn = 1),
       |m AS MATERIALIZED (SELECT vec_id, ql.label, qv FROM ql JOIN hot USING (label)),
       |unp AS (SELECT generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM m),
       |cd AS (SELECT d, SUM(v) AS sv FROM unp GROUP BY d),
       |cs AS (SELECT list(sv ORDER BY d) AS s, SUM(sv * sv) AS ss FROM cd),
       |nn AS (SELECT count(*) AS n FROM m),
       |s1 AS (SELECT vec_id AS a_id, qv AS a_q FROM (
       |  SELECT m.vec_id, m.qv, row_number() OVER (ORDER BY
       |      (nn.n * nn.n * list_dot_product(m.qv, m.qv)
       |       - 2 * nn.n * list_dot_product(m.qv, cs.s) + cs.ss) DESC,
       |      m.vec_id) AS rn
       |  FROM m CROSS JOIN cs CROSS JOIN nn) z WHERE rn = 1),
       |s2 AS (SELECT vec_id AS b_id, qv AS b_q FROM (
       |  SELECT m.vec_id, m.qv, row_number() OVER (ORDER BY
       |      (list_dot_product(m.qv, m.qv)
       |       - 2 * list_dot_product(m.qv, s1.a_q)
       |       + list_dot_product(s1.a_q, s1.a_q)) DESC, m.vec_id) AS rn
       |  FROM m CROSS JOIN s1 WHERE m.vec_id <> s1.a_id) z WHERE rn = 1)
       |SELECT m.vec_id, m.label AS old_label,
       |  CAST(CASE WHEN
       |      (list_dot_product(m.qv, m.qv) - 2 * list_dot_product(m.qv, s1.a_q)
       |        + list_dot_product(s1.a_q, s1.a_q))
       |      <= (list_dot_product(m.qv, m.qv) - 2 * list_dot_product(m.qv, s2.b_q)
       |        + list_dot_product(s2.b_q, s2.b_q))
       |    THEN 0 ELSE 1 END AS BIGINT) AS sub
       |FROM m CROSS JOIN s1 CROSS JOIN s2
       |ORDER BY m.vec_id""".stripMargin

  /** t14: the first-owner relation + the prefix sweep replayed. */
  private lazy val t14Sql: String =
    s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
       |tk AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM d),
       |fo AS MATERIALIZED (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY 1),
       |nn AS (SELECT max(doc_id) + 1 AS n FROM d),
       |cuts AS (SELECT permille, (n + dv - 1) // dv AS cut
       |  FROM (VALUES (125, 8), (250, 4), (500, 2), (1000, 1)) v(permille, dv)
       |  CROSS JOIN nn),
       |mass AS (SELECT doc_id, len(t) AS n_tok FROM d),
       |va AS (SELECT c.permille, CAST(count(*) AS BIGINT) AS vocab
       |  FROM fo f JOIN cuts c ON f.first_doc < c.cut GROUP BY 1),
       |ma AS (SELECT c.permille, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(m.n_tok) AS BIGINT) AS n_tokens
       |  FROM mass m JOIN cuts c ON m.doc_id < c.cut GROUP BY 1)
       |SELECT CAST(ma.permille AS BIGINT) AS permille, ma.n_docs, ma.n_tokens,
       |  va.vocab, (1000000 * va.vocab) // ma.n_tokens AS ttr_ppm
       |FROM ma JOIN va USING (permille) ORDER BY permille""".stripMargin

  /** p38: the lambda contract — the merged speed+repair table must
    * equal the PLAIN batch windowed rollup, so that rollup IS the
    * oracle (the merge is correct iff the late model complements
    * Spark's real drops exactly). */
  private lazy val p38Sql: String =
    s"""SELECT date_trunc('hour', ts) AS win_start, event_type,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM events WHERE $validCond
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** m9: the byte prefix sum over m7's exact manifest order — the
    * distributed packing must equal DuckDB's single running sum. */
  private lazy val m9Sql: String = {
    val b = graft.operators.MultimodalOps.MediaShardBytes
    s"""WITH m7 AS MATERIALIZED (SELECT step, doc_id, byte_len FROM ($m7Sql) z),
       |o AS (SELECT doc_id, byte_len,
       |    COALESCE(SUM(byte_len) OVER (ORDER BY step
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM m7)
       |SELECT CAST(cum // $b AS BIGINT) AS shard_id,
       |  CAST(cum % $b AS BIGINT) AS shard_off,
       |  doc_id, CAST(byte_len AS BIGINT) AS byte_len,
       |  (cum % $b + byte_len > $b) AS cut
       |FROM o ORDER BY shard_id, shard_off""".stripMargin
  }

  /** d17: the d2 candidate substrate rescored under each swept τ with
    * the identical integer cross-multiplication predicate. */
  private lazy val d17Sql: String = {
    val taus = graft.operators.DedupOps.JaccardSweep
    val branch = taus.map(tau =>
      s"""SELECT CAST($tau AS BIGINT) AS tau_ppm,
         |  (SELECT CAST(count(*) AS BIGINT) FROM scored
         |     WHERE inter * 1000000 >= $tau * uni) AS n_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (
         |     SELECT doc_a AS d FROM scored WHERE inter * 1000000 >= $tau * uni
         |     UNION
         |     SELECT doc_b FROM scored WHERE inter * 1000000 >= $tau * uni) u)
         |    AS n_docs""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH $ngramCte,
       |pruned AS MATERIALIZED (SELECT doc_id, ngram FROM ng WHERE ngram IN (
       |  SELECT ngram FROM ng GROUP BY ngram HAVING count(*) <= 100)),
       |sizes AS (SELECT doc_id, count(*) AS n_ng FROM pruned GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM pruned a JOIN pruned b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS MATERIALIZED (
       |  SELECT i.doc_a, i.doc_b, i.inter, sa.n_ng + sb.n_ng - i.inter AS uni
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b)
       |SELECT * FROM ($branch) ORDER BY tau_ppm""".stripMargin
  }

  /** The shared market-basket substrate (a11/a12): distinct order→part
    * incidence, per-item basket counts, unordered-pair co-occurrence
    * counts — mirrors BasketOps.pairCountsOver exactly. */
  private val basketCte: String =
    """items AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |counts AS MATERIALIZED (SELECT pk, count(*) AS cnt FROM items GROUP BY pk),
      |pairs AS MATERIALIZED (
      |  SELECT a.pk AS pk_a, b.pk AS pk_b, count(*) AS pair_cnt
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)""".stripMargin

  /** a11: both orientations of every pair with pair_cnt ≥ MinPairSup
    * scored as ante→cons rules; support/confidence/lift in ppm via
    * int64 floor division (`//` here = `div` in Spark — both floor for
    * the all-positive counts); top-TopRules under the TOTAL
    * (pair_cnt desc, lift desc, ante, cons) order. */
  private lazy val a11Sql: String = {
    val minSup = graft.operators.BasketOps.MinPairSup
    val topK = graft.operators.BasketOps.TopRules
    s"""WITH $basketCte,
       |n AS MATERIALIZED (SELECT count(DISTINCT ok) AS n_orders FROM items),
       |rules AS MATERIALIZED (
       |  SELECT pk_a AS ante, pk_b AS cons, pair_cnt FROM pairs WHERE pair_cnt >= $minSup
       |  UNION ALL
       |  SELECT pk_b AS ante, pk_a AS cons, pair_cnt FROM pairs WHERE pair_cnt >= $minSup)
       |SELECT r.ante, r.cons, r.pair_cnt,
       |  (1000000 * r.pair_cnt) // ca.cnt AS conf_ppm,
       |  (1000000 * r.pair_cnt * n.n_orders) // (ca.cnt * cb.cnt) AS lift_ppm,
       |  (1000000 * r.pair_cnt) // n.n_orders AS supp_ppm
       |FROM rules r
       |JOIN counts ca ON ca.pk = r.ante
       |JOIN counts cb ON cb.pk = r.cons
       |CROSS JOIN n
       |ORDER BY r.pair_cnt DESC, lift_ppm DESC, r.ante ASC, r.cons ASC
       |LIMIT $topK""".stripMargin
  }

  /** a12: top-NeighborsPerItem co-purchase neighbors by basket-set
    * Jaccard (ppm) for each of the top-QueryItems most frequent items —
    * replays BasketOps.similarityOver over the identical substrate. */
  private lazy val a12Sql: String = {
    val qItems = graft.operators.BasketOps.QueryItems
    val topN = graft.operators.BasketOps.NeighborsPerItem
    s"""WITH $basketCte,
       |qitems AS MATERIALIZED (
       |  SELECT pk AS item, cnt AS item_cnt FROM counts
       |  ORDER BY cnt DESC, pk ASC LIMIT $qItems),
       |sym AS MATERIALIZED (
       |  SELECT pk_a AS item, pk_b AS neighbor, pair_cnt FROM pairs
       |  UNION ALL
       |  SELECT pk_b AS item, pk_a AS neighbor, pair_cnt FROM pairs),
       |scored AS MATERIALIZED (
       |  SELECT s.item, s.neighbor, s.pair_cnt,
       |    (1000000 * s.pair_cnt) // (q.item_cnt + c.cnt - s.pair_cnt) AS jaccard_ppm
       |  FROM sym s
       |  JOIN qitems q ON q.item = s.item
       |  JOIN counts c ON c.pk = s.neighbor)
       |SELECT item, neighbor, pair_cnt, jaccard_ppm, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY item
       |    ORDER BY jaccard_ppm DESC, pair_cnt DESC, neighbor ASC) AS rk
       |  FROM scored) z
       |WHERE rk <= $topN
       |ORDER BY item ASC, rk ASC""".stripMargin
  }

  /** One MATERIALIZED label-propagation round — g4's chain is
    * CcMaxRounds deep, where DuckDB's default inlining is exponential
    * (the kmeansCte lesson); d5's 3-deep chain keeps the plain form. */
  private def lpRoundM(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (
       |  SELECT l.doc_id, least(l.label, coalesce(min(ln.label), l.label)) AS label
       |  FROM $prev l
       |  LEFT JOIN edges e ON e.doc_a = l.doc_id
       |  LEFT JOIN $prev ln ON ln.doc_id = e.doc_b
       |  GROUP BY l.doc_id, l.label)""".stripMargin

  /** g4: the e16/g3 recipe on the component partition — replay a FIXED
    * CcMaxRounds of d5's exact label-propagation round over the d3
    * pair graph, independently derive
    * stable_round = min{r : l_r = l_(r−1)} (else the cap), and ship
    * the labels AT that round — the stopping RULE is verified, not
    * just the final partition. */
  private lazy val g4Sql: String = {
    val cap = graft.operators.GraphOps.CcMaxRounds
    val rounds = (1 to cap).map(r => lpRoundM(s"l${r - 1}", s"l$r")).mkString(",\n")
    val probes = (1 to cap).map(r =>
      s"""SELECT $r AS r WHERE NOT EXISTS (
         |    SELECT 1 FROM l$r x JOIN l${r - 1} y USING (doc_id) WHERE x.label <> y.label)""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    val pick = (1 to cap).map(r =>
      s"SELECT doc_id, label FROM l$r WHERE (SELECT sr FROM st) = $r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH d3pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d3Sql) z),
       |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM d3pairs
       |          UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM d3pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM edges),
       |$rounds,
       |st AS MATERIALIZED (SELECT COALESCE(MIN(r), $cap) AS sr FROM (
       |  $probes
       |) p),
       |fin AS MATERIALIZED (
       |  $pick
       |)
       |SELECT doc_id, label AS cluster_id,
       |  CAST((SELECT sr FROM st) AS BIGINT) AS stable_round
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** x3 as a standalone statement — the map entry AND the contaminated-set
    * leg of x7's decon anti-join, so the composite always removes exactly
    * what the x3 row flags. */
  /** d10 as a standalone statement — the map entry AND the lexical
    * tier of d20's audit rollup, nested verbatim so the audit and the
    * tier cannot drift. */
  private lazy val d10Sql: String =
    s"""WITH $ngramCte,
       |h AS (SELECT doc_id, ${h60("ngram")} % 2147483647 AS h FROM ng),
       |perms AS (SELECT CAST(i AS INTEGER) AS i,
       |  ${h60("'perm_a_' || i")} % 2147483646 + 1 AS pa,
       |  ${h60("'perm_b_' || i")} % 2147483647 AS pb
       |  FROM range(16) t(i)),
       |sig AS (SELECT doc_id, i, min((pa * h + pb) % 2147483647) AS mh
       |  FROM h CROSS JOIN perms GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, CAST(floor(i / 4) AS INTEGER) AS band,
       |  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bkey
       |  FROM sig GROUP BY doc_id, CAST(floor(i / 4) AS INTEGER)),
       |cand AS (SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
       |  FROM bands t JOIN bands e
       |    ON t.band = e.band AND t.bkey = e.bkey
       |  WHERE t.doc_id % 20 <> 0 AND e.doc_id % 20 = 0)
       |SELECT c.train_doc, c.eval_doc,
       |  CAST(SUM(CASE WHEN st.mh = se.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
       |FROM cand c
       |JOIN sig st ON st.doc_id = c.train_doc
       |JOIN sig se ON se.doc_id = c.eval_doc AND se.i = st.i
       |GROUP BY 1, 2
       |HAVING CAST(SUM(CASE WHEN st.mh = se.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 >= 0.25
       |ORDER BY train_doc, eval_doc""".stripMargin

  /** d19 as a standalone statement — the map entry AND the semantic
    * tier of d20's audit rollup, nested verbatim so the audit and the
    * tier cannot drift. */
  private lazy val d19Sql: String =
    s"""WITH $cellCte,
       |ql AS MATERIALIZED (SELECT c.vec_id, q.qv, c.label
       |  FROM cqv q JOIN cellid c USING (vec_id)),
       |unp AS (SELECT label, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM ql),
       |cd AS (SELECT label, d, SUM(v) AS s, COUNT(*) AS n FROM unp GROUP BY 1, 2),
       |cent AS MATERIALIZED (SELECT label, list(s ORDER BY d) AS s, min(n) AS n,
       |    SUM(s * s) AS ss FROM cd GROUP BY label),
       |eq AS (SELECT vec_id AS eval_id, qv, list_dot_product(qv, qv) AS q2
       |  FROM ql WHERE vec_id % ${graft.operators.CorpusOps.EvalMod} = 0),
       |qd AS (SELECT e.eval_id, e.qv, c.label,
       |    c.n * c.n * e.q2 - 2 * c.n * list_dot_product(e.qv, c.s) + c.ss AS dist2
       |  FROM eq e CROSS JOIN cent c),
       |pr AS MATERIALIZED (SELECT *,
       |    row_number() OVER (PARTITION BY eval_id ORDER BY dist2, label) AS crnk
       |  FROM qd),
       |cand AS (SELECT t.vec_id, p.eval_id,
       |    list_dot_product(t.qv, p.qv) /
       |      sqrt(list_dot_product(t.qv, t.qv) * list_dot_product(p.qv, p.qv)) AS sim
       |  FROM ql t JOIN pr p ON t.label = p.label
       |  WHERE p.crnk <= ${graft.operators.AnnOps.NProbe}
       |    AND t.vec_id % ${graft.operators.CorpusOps.EvalMod} <> 0),
       |hits AS (SELECT vec_id, eval_id, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
       |  FROM cand WHERE sim >= ${graft.operators.DedupOps.SemDedupTau}),
       |best AS (SELECT vec_id, eval_id, sim FROM hits WHERE rn = 1)
       |SELECT t.vec_id, (b.eval_id IS NULL) AS is_kept,
       |  b.eval_id AS contam_of, round(b.sim, 6) AS sim
       |FROM (SELECT vec_id FROM ql
       |      WHERE vec_id % ${graft.operators.CorpusOps.EvalMod} <> 0) t
       |LEFT JOIN best b USING (vec_id) ORDER BY t.vec_id""".stripMargin

  private lazy val x3Sql: String =
    s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
       |    THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
       |    ELSE [] END) AS gram FROM d) u),
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
       |SELECT doc_id, count(*) AS n_shared FROM g
       |WHERE doc_id % 20 != 0 AND gram IN (SELECT gram FROM ev)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** x1 as a standalone statement — the map entry AND the kept-set leg
    * of x7's shard materialization, so the composite always filters on
    * exactly what the x1 row contains. */
  /** The x1 rule-set CTE chain (quality pass q, lang pass lp, exact
    * reps, near-dup drops) — shared verbatim by x1 (the kept set) and
    * x14 (the per-doc drop ledger) so ledger and keep decision cannot
    * drift. */
  private lazy val x1SetsCte: String =
    s"""d AS (SELECT doc_id, lang, $TOK AS t FROM documents),
         |qx AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_unique,
         |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
         |  FROM d),
         |q AS (SELECT doc_id FROM qx
         |  WHERE round(0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)
         |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
         |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) >= 0.66),
         |sl AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y','los'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','les','des'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2','you3'))) AS BIGINT) AS s_zh
         |  FROM d),
         |lp AS (SELECT doc_id FROM sl WHERE
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END = lang),
         |reps AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(array_to_string(t, ' ')) AS fp FROM d) f GROUP BY fp),
         |drops AS (SELECT doc_id FROM ($d5Sql) c WHERE doc_id <> cluster_id)""".stripMargin

  private lazy val x1Sql: String =
    s"""WITH $x1SetsCte
       |SELECT doc_id FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM q)
       |  AND doc_id IN (SELECT doc_id FROM lp)
       |  AND doc_id IN (SELECT doc_id FROM reps)
       |  AND doc_id NOT IN (SELECT doc_id FROM drops)
       |ORDER BY doc_id""".stripMargin

  /** x14: the same rule sets, first-failing-rule verdict per doc. */
  private lazy val x14Sql: String =
    s"""WITH $x1SetsCte
       |SELECT doc_id,
       |  CASE WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 'low_quality'
       |       WHEN doc_id NOT IN (SELECT doc_id FROM lp) THEN 'lang_mismatch'
       |       WHEN doc_id NOT IN (SELECT doc_id FROM reps) THEN 'exact_dup'
       |       WHEN doc_id IN (SELECT doc_id FROM drops) THEN 'near_dup'
       |       ELSE 'kept' END AS verdict
       |FROM documents ORDER BY doc_id""".stripMargin

  val sql: Map[String, String] = Map(

    // ---------- A. pipeline ----------
    "p1_validate" ->
      s"""SELECT event_id, ts, user_id, event_type, value, props FROM events
         |WHERE $validCond""".stripMargin,

    // p2 checks the DLQ complement on a RENDERED invalid surface (five
    // failure classes injected by event-id residue — the clean testdata
    // would otherwise make this row vacuously 0=0)
    "p2_quarantine" ->
      s"""WITH s AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 73 = 0 THEN NULL ELSE ts END AS ts,
         |    CASE WHEN event_id % 83 = 0 THEN NULL ELSE user_id END AS user_id,
         |    CASE WHEN event_id % 89 = 0 THEN 'teleport' ELSE event_type END AS event_type,
         |    CASE WHEN event_id % 97 = 0 THEN -1.0
         |         WHEN event_id % 79 = 0 THEN NULL ELSE value END AS value,
         |    props
         |  FROM events)
         |SELECT event_id, ts, user_id, event_type, value, props,
         |  CASE WHEN ts IS NULL THEN 'null_ts'
         |       WHEN user_id IS NULL THEN 'null_user'
         |       WHEN user_id < 0 THEN 'neg_user'
         |       WHEN event_type NOT IN ('signup','click','view','purchase','error') THEN 'bad_type'
         |       WHEN value IS NULL THEN 'null_value'
         |       ELSE 'neg_value' END AS reason
         |FROM s
         |WHERE NOT coalesce($validCond, false)
         |ORDER BY event_id""".stripMargin,

    "p3_dedup_first" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1""".stripMargin,

    "p4_trip_match" ->
      s"""WITH $tripCte
         |SELECT user_id, start_ts, end_ts, fare, duration_us FROM trips""".stripMargin,

    "p5_kpi_daily" ->
      s"""WITH $tripCte
         |SELECT CAST(end_ts AS DATE) AS date,
         |  ${dsum("fare")} AS total_fare,
         |  COUNT(*) AS count_trips,
         |  ${davg("fare")} AS average_fare,
         |  max(fare) AS max_fare,
         |  min(fare) AS min_fare
         |FROM trips GROUP BY CAST(end_ts AS DATE) ORDER BY date""".stripMargin,

    // p21: the idempotent-sink round-trip must preserve the daily KPIs
    // bit-for-bit — its oracle IS the p5 SQL (the JSON documents
    // round-trip the doubles exactly, as p10's do; the streaming agg is
    // batch-equivalent like p9).
    "p21_idempotent_sink" ->
      s"""WITH $tripCte
         |SELECT CAST(end_ts AS DATE) AS date,
         |  ${dsum("fare")} AS total_fare,
         |  COUNT(*) AS count_trips,
         |  ${davg("fare")} AS average_fare,
         |  max(fare) AS max_fare,
         |  min(fare) AS min_fare
         |FROM trips GROUP BY CAST(end_ts AS DATE) ORDER BY date""".stripMargin,

    // p9: the streaming pipeline is batch-equivalent on in-order input
    // (StreamingSpec), so its oracle IS the daily-KPI SQL — same CTE,
    // same decimal-exact aggregates as p5.
    "p9_dedup_exact_stream" -> kpiDailyStreamSql,

    // p30: the SAME daily-KPI statement — the wire decode (Kafka record
    // shape, JSON payload with epoch-micros ts, corrupt records
    // skipped) must be invisible to the result
    "p30_kafka_wire" -> kpiDailyWireSql,

    // p31: job-health streaks over the deterministic run ledger —
    // gaps-and-islands (seq − per-outcome seq) replayed verbatim;
    // alert = a failure streak ≥ 2 (the reference's retry-exhausted
    // Catch condition)
    "p31_job_health" ->
      s"""WITH ledger AS (
         |  SELECT event_type AS job, CAST(ts AS DATE) AS run_date, COUNT(*) AS n_events,
         |    (${h60("event_type || '_' || CAST(CAST(ts AS DATE) AS VARCHAR)")} % 5 = 0) AS failed
         |  FROM events GROUP BY 1, 2),
         |runs AS (SELECT *,
         |    row_number() OVER (PARTITION BY job ORDER BY run_date) AS seq,
         |    row_number() OVER (PARTITION BY job, failed ORDER BY run_date) AS oseq
         |  FROM ledger),
         |agg AS (SELECT job, COUNT(*) AS n_runs,
         |    CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
         |    max(CASE WHEN NOT failed THEN run_date END) AS last_success,
         |    CAST(max(seq) - COALESCE(max(CASE WHEN NOT failed THEN seq END), 0) AS BIGINT)
         |      AS current_fail_streak
         |  FROM runs GROUP BY job),
         |isl AS (SELECT job, CAST(MAX(cnt) AS BIGINT) AS max_fail_streak FROM (
         |    SELECT job, seq - oseq AS island, COUNT(*) AS cnt
         |    FROM runs WHERE failed GROUP BY job, seq - oseq) i
         |  GROUP BY job)
         |SELECT agg.job, agg.n_runs, agg.n_failed, agg.last_success,
         |  agg.current_fail_streak,
         |  COALESCE(isl.max_fail_streak, CAST(0 AS BIGINT)) AS max_fail_streak,
         |  (COALESCE(isl.max_fail_streak, CAST(0 AS BIGINT)) >= 2) AS alert
         |FROM agg LEFT JOIN isl USING (job) ORDER BY agg.job""".stripMargin,

    "p12_coerce_fields" ->
      """WITH r AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 103 = 0 THEN NULL
        |         WHEN event_id % 101 = 0 THEN 'N/A'
        |         ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END AS fare_str,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         WHEN event_id % 109 = 0 THEN 'abc'
        |         ELSE CAST(user_id AS VARCHAR) END AS count_str
        |  FROM events),
        |c AS (
        |  SELECT event_id, fare_str, count_str,
        |    TRY_CAST(fare_str AS DOUBLE) AS fare_d,
        |    TRY_CAST(count_str AS BIGINT) AS count_l
        |  FROM r),
        |v AS (
        |  SELECT *, CASE WHEN fare_str IS NULL THEN 'missing_required'
        |       WHEN fare_d IS NULL THEN 'bad_required'
        |       WHEN count_str IS NOT NULL AND count_l IS NULL THEN 'bad_optional'
        |       ELSE 'ok' END AS status
        |  FROM c)
        |SELECT event_id, status,
        |  CASE WHEN status = 'ok' THEN fare_d END AS fare,
        |  CASE WHEN status = 'ok' THEN count_l END AS passenger_count
        |FROM v ORDER BY event_id""".stripMargin,

    "p6_kpi_daily_by_type" -> p6Sql,

    // p32: the backfilled lake must equal the clean full recompute —
    // p6's statement verbatim. The landing poisons the backfill window
    // (total_value = −1), so this row can only stay green if the
    // partition-scoped rewrite actually repaired those days.
    "p32_backfill" -> p6Sql,

    // p22: the merged-schema read NULL-fills avg_value for v1-writer
    // files (event types before 'p') and tags each row's writer version
    "p22_schema_merge" ->
      s"""SELECT CAST(ts AS DATE) AS date, event_type,
         |  COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  CASE WHEN event_type < 'p' THEN NULL ELSE ${davg("value")} END AS avg_value,
         |  max(value) AS max_value,
         |  min(value) AS min_value,
         |  CASE WHEN event_type < 'p' THEN 1 ELSE 2 END AS writer_v
         |FROM events GROUP BY 1, 2 ORDER BY date, event_type""".stripMargin,

    // p14: the partitioned-parquet roundtrip must preserve the by-type
    // KPIs bit-exactly inside the pruned date window
    "p14_partition_pruning" ->
      s"""SELECT * FROM (
         |  SELECT CAST(ts AS DATE) AS date, event_type,
         |    COUNT(*) AS n_events,
         |    ${dsum("value")} AS total_value,
         |    ${davg("value")} AS avg_value,
         |    max(value) AS max_value,
         |    min(value) AS min_value
         |  FROM events GROUP BY 1, 2) t
         |WHERE date >= (SELECT MIN(CAST(ts AS DATE)) FROM events) + 2
         |  AND date <= (SELECT MIN(CAST(ts AS DATE)) FROM events) + 5
         |ORDER BY date, event_type""".stripMargin,

    "p7_sessionize" ->
      s"""WITH x AS (
         |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |y AS (
         |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
         |    THEN 1 ELSE 0 END AS new_sess FROM x),
         |z AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM y)
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  ${dsum("value")} AS session_value
         |FROM z GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    "p8_props_agg" ->
      s"""SELECT k % 10 AS k_bucket, COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value,
         |  ${davg("value")} AS avg_value
         |FROM (SELECT TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, value
         |      FROM events) t
         |WHERE k IS NOT NULL GROUP BY 1 ORDER BY k_bucket""".stripMargin,

    // p10 re-reads the partitioned sink output, which must round-trip the
    // daily KPI exactly — so its oracle IS the daily-KPI aggregation.
    "p10_kpi_sink" ->
      s"""WITH $tripCte
         |SELECT CAST(end_ts AS DATE) AS date,
         |  ${dsum("fare")} AS total_fare,
         |  COUNT(*) AS count_trips,
         |  ${davg("fare")} AS average_fare,
         |  max(fare) AS max_fare,
         |  min(fare) AS min_fare
         |FROM trips GROUP BY CAST(end_ts AS DATE) ORDER BY date""".stripMargin,

    "p11_ts_multiformat" ->
      """SELECT event_id, raw_ts,
        |  coalesce(try_strptime(raw_ts, '%d/%m/%Y %H:%M'),
        |           try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S')) AS parsed_ts
        |FROM (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%d/%m/%Y %H:%M')
        |         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw_ts
        |  FROM events) t
        |ORDER BY event_id""".stripMargin,

    // ---------- B. analytics ----------
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_extendedprice")} AS avg_price,
         |  ${davg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q7_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice, o_orderdate FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,

    "q8_running_sum" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q9_semi_anti" ->
      """WITH w AS (
        |  SELECT c_nationkey, count(*) AS n_with FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY c_nationkey),
        |wo AS (
        |  SELECT c_nationkey, count(*) AS n_without FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY c_nationkey)
        |SELECT n_name,
        |  CAST(coalesce(w.n_with, 0) AS BIGINT) AS n_with,
        |  CAST(coalesce(wo.n_without, 0) AS BIGINT) AS n_without
        |FROM nation
        |LEFT JOIN w ON n_nationkey = w.c_nationkey
        |LEFT JOIN wo ON n_nationkey = wo.c_nationkey
        |ORDER BY n_name""".stripMargin,

    "q10_rollup" ->
      s"""SELECT coalesce(o_orderpriority, '(all)') AS priority,
         |  coalesce(o_orderstatus, '(all)') AS status,
         |  COUNT(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS total_price
         |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         |ORDER BY priority, status""".stripMargin,

    "q11_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q6_revenue" ->
      s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q14_promo" ->
      """WITH j AS (
        |  SELECT CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
        |  round(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(SUM(rev) AS DOUBLE) * 100.0, 6) AS promo_pct
        |FROM j""".stripMargin,

    "q18_large_volume" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${dsum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${dsum("l_quantity")} > 200.0)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q20_topk_heap" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,

    "q22_inactive_rich" ->
      s"""WITH thr AS (
         |  SELECT ${davg("c_acctbal")} AS avg_bal FROM customer WHERE c_acctbal > 0.0),
         |inact AS (
         |  SELECT c.* FROM customer c, thr
         |  WHERE c.c_acctbal > thr.avg_bal
         |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
         |SELECT n_name, COUNT(*) AS n_cust, ${dsum("c_acctbal")} AS total_bal
         |FROM inact JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q19_disjunctive" ->
      s"""SELECT ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
         |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
         |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,

    // a1: the literal as-of semantics via a running IGNORE NULLS window —
    // identical formulation in both engines.
    "a1_asof_join" ->
      """SELECT event_id, user_id, ts AS purchase_ts, asof_signup_ts,
        |  value AS fare, epoch_us(ts) - epoch_us(asof_signup_ts) AS lag_us
        |FROM (
        |  SELECT event_id, user_id, ts, value, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_ts
        |  FROM events) t
        |WHERE event_type = 'purchase' AND asof_signup_ts IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // a2: the oracle runs the LITERAL range join the Spark side rewrote
    // into an equality join — equality of results proves the rewrite.
    "a2_band_join" ->
      s"""WITH bands AS (
         |  SELECT CAST(i AS INTEGER) AS band, i * 25.0 AS lo, (i + 1) * 25.0 AS hi
         |  FROM range(20) t(i))
         |SELECT band,
         |  '[' || CAST(band * 25 AS INTEGER) || ',' || CAST(band * 25 + 25 AS INTEGER) || ')' AS band_label,
         |  COUNT(*) AS n_events,
         |  ${dsum("value")} AS total_value
         |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
         |WHERE e.value IS NOT NULL AND e.value >= 0.0 AND e.value < 500.0
         |GROUP BY 1, 2 ORDER BY band""".stripMargin,

    // ---------- C. text / dedup / ANN / multimodal ----------
    "t1_token_count" ->
      s"""SELECT doc_id,
         |  len($TOK) AS n_tokens,
         |  len(list_distinct($TOK)) AS n_unique_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS n_subtokens,
         |  length(text) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
         |x AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_unique,
         |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop,
         |  list_sum(list_transform(t, x -> length(x))) AS sum_len FROM d)
         |SELECT doc_id, n_tokens,
         |  CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
         |  CAST(n_unique AS DOUBLE) / n_tokens AS distinct_ratio,
         |  round(0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)
         |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
         |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score
         |FROM x ORDER BY doc_id""".stripMargin,

    "t3_langid" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOK AS t FROM documents),
         |s AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y','los'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','les','des'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2','you3'))) AS BIGINT) AS s_zh
         |  FROM d)
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS pred_lang,
         |  lang AS labeled_lang
         |FROM s ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string($TOK, ' ')) AS fingerprint,
         |  ${h60(s"array_to_string($TOK, ' ')")} AS fingerprint60
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_tfidf_top" ->
      s"""WITH tc AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($TOK) AS tok FROM documents) u
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT tc.doc_id, tc.tok, tc.tf, dfreq.df,
         |    round(tc.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 6) AS score,
         |    row_number() OVER (PARTITION BY tc.doc_id
         |      ORDER BY round(tc.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df), 6) DESC, tc.tok) AS rnk
         |  FROM tc JOIN dfreq USING (tok) CROSS JOIN n)
         |SELECT doc_id, rnk, tok AS term, tf, df, score
         |FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "d1_dedup_exact" ->
      s"""SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies FROM (
         |  SELECT doc_id, md5(array_to_string($TOK, ' ')) AS fp FROM documents) t
         |GROUP BY fp ORDER BY keep_doc_id""".stripMargin,

    "d2_ngram_jaccard" ->
      s"""WITH $ngramCte,
         |pruned AS (SELECT doc_id, ngram FROM ng WHERE ngram IN (
         |  SELECT ngram FROM ng GROUP BY ngram HAVING count(*) <= 100)),
         |sizes AS (SELECT doc_id, count(*) AS n_ng FROM pruned GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM pruned a JOIN pruned b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, (sa.n_ng + sb.n_ng - inter) AS uni,
         |  round(CAST(inter AS DOUBLE) / (sa.n_ng + sb.n_ng - inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / (sa.n_ng + sb.n_ng - inter), 6) >= 0.18
         |ORDER BY doc_a, doc_b""".stripMargin,

    // p16: the incremental merge must equal the FULL recompute — its
    // oracle IS the kpi_daily SQL
    "p16_incremental_kpi" ->
      s"""WITH $tripCte
         |SELECT CAST(end_ts AS DATE) AS date,
         |  ${dsum("fare")} AS total_fare,
         |  COUNT(*) AS count_trips,
         |  ${davg("fare")} AS average_fare,
         |  max(fare) AS max_fare,
         |  min(fare) AS min_fare
         |FROM trips GROUP BY CAST(end_ts AS DATE) ORDER BY date""".stripMargin,

    "a3_window_suite" ->
      """WITH base AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |  FROM orders WHERE o_custkey <= 200),
        |w1 AS (
        |  SELECT *,
        |    lag(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
        |    lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        |    ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS quartile,
        |    round(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank
        |  FROM base)
        |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE)) AS gap_days,
        |  next_price, quartile, pct_rank
        |FROM w1 ORDER BY o_custkey, o_orderkey""".stripMargin,

    // b1: bucketing changes the physical layout, never the answer —
    // the oracle is the plain join
    "b1_bucketed_join" ->
      s"""SELECT o_orderpriority,
         |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_lines
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_pivot_daily" ->
      """SELECT CAST(ts AS DATE) AS date,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY date""".stripMargin,

    // p15: streaming sessionization (flush-sentinel materialization) vs
    // the batch gap rule, keyed by (user, session_start) since the
    // streaming output carries no session index
    "p15_sessionize_stream" ->
      s"""WITH v AS (SELECT * FROM events WHERE $validCond),
         |x AS (
         |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM v),
         |y AS (
         |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
         |    THEN 1 ELSE 0 END AS new_sess FROM x),
         |z AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM y)
         |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
         |  COUNT(*) AS n_events, ${dsum("value")} AS session_value
         |FROM z GROUP BY user_id, session_idx ORDER BY user_id, session_start""".stripMargin,

    "d6_fuzzy_names" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS edit_dist
        |FROM names a JOIN names b
        |  ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
        | AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY name_a, name_b""".stripMargin,

    // p13: the stream-stream join's oracle is the equivalent batch join
    "p13_stream_stream_join" ->
      s"""WITH v AS (SELECT * FROM events WHERE $validCond)
         |SELECT s.event_id AS s_event_id, p.event_id AS p_event_id, s.user_id,
         |  s.ts AS s_ts, p.ts AS p_ts, p.value AS fare
         |FROM (SELECT * FROM v WHERE event_type = 'signup') s
         |JOIN (SELECT * FROM v WHERE event_type = 'purchase') p
         |  ON s.user_id = p.user_id AND p.ts >= s.ts
         |  AND p.ts <= s.ts + INTERVAL 7 DAY
         |ORDER BY s_event_id, p_event_id""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev) ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_counts" ->
      """WITH links AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM links JOIN part ON l_partkey = p_partkey
        |WHERE p_size BETWEEN 1 AND 25
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q17_small_qty" ->
      """WITH avgq AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#23'
        |JOIN avgq a ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity < 0.2 * a.avg_qty""".stripMargin,

    "q13_order_dist" ->
      """WITH oc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS n_cust FROM oc GROUP BY c_count
        |ORDER BY n_cust DESC, c_count DESC""".stripMargin,

    "s1_kmv_distinct" ->
      s"""WITH toks AS (SELECT DISTINCT ${h60("tok")} AS h
         |  FROM (SELECT unnest($TOK) AS tok FROM documents) u),
         |k AS (SELECT h FROM toks ORDER BY h LIMIT 16)
         |SELECT 16 AS k, max(h) AS kth_min,
         |  CAST((16 - 1) AS DOUBLE) * 1152921504606846976.0 / max(h) AS est_distinct,
         |  (SELECT count(*) FROM toks) AS n_exact
         |FROM k""".stripMargin,

    "s2_group_quantiles" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM orders)
        |SELECT o_orderpriority, CAST(q AS DOUBLE) AS q,
        |  o_totalprice AS quantile_value
        |FROM r JOIN (VALUES (0.25), (0.5), (0.75)) qs(q)
        |  ON rn = CAST(floor((cnt - 1) * q) AS BIGINT) + 1
        |ORDER BY o_orderpriority, q""".stripMargin,

    "s3_sample_stratified" ->
      s"""SELECT event_id, event_type FROM events
         |WHERE ${h60("'sample_' || event_id")} % 1000 <
         |  CASE event_type WHEN 'signup' THEN 1000 WHEN 'purchase' THEN 500
         |    WHEN 'click' THEN 100 WHEN 'view' THEN 50 ELSE 0 END
         |ORDER BY event_id""".stripMargin,

    "t6_redact" ->
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com or call 555-01' ||
        |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now' AS ptext
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(ptext, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |    len(regexp_extract_all(ptext, '\d{3}-\d{4}')) AS n_phones,
        |    regexp_replace(regexp_replace(ptext,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{3}-\d{4}', '<PHONE>', 'g') AS rtext
        |  FROM pii)
        |SELECT doc_id, n_emails, n_phones, md5(rtext) AS redacted_md5,
        |  len(rtext) AS redacted_len
        |FROM red ORDER BY doc_id""".stripMargin,

    "t8_strip_markup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    '<p id="' || doc_id || '">' || text || '</p> <br/> <a href="https://example.com/' || doc_id || '">link</a>' AS marked
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(marked, '<[^>]*>')) AS n_tags,
        |    trim(regexp_replace(regexp_replace(marked, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM m)
        |SELECT doc_id, n_tags, md5(clean) AS clean_md5, len(clean) AS clean_len
        |FROM c ORDER BY doc_id""".stripMargin,

    "t7_bigram_pmi" ->
      s"""WITH docs AS (SELECT doc_id, $TOK AS t FROM documents),
         |uni AS (SELECT tok, count(*) AS c
         |  FROM (SELECT unnest(t) AS tok FROM docs) u GROUP BY tok),
         |bg AS (SELECT bigram, count(*) AS c_xy FROM (
         |  SELECT unnest(CASE WHEN len(t) >= 2
         |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |    ELSE [] END) AS bigram
         |  FROM docs) u GROUP BY bigram),
         |tot AS (SELECT (SELECT SUM(c) FROM uni) AS n_uni,
         |               (SELECT SUM(c_xy) FROM bg) AS n_bg),
         |sc AS (
         |  SELECT b.bigram, b.c_xy,
         |    CAST(b.c_xy AS DOUBLE) * n_uni * n_uni /
         |      (CAST(u1.c AS DOUBLE) * u2.c * n_bg) AS lift
         |  FROM bg b
         |  JOIN uni u1 ON u1.tok = split_part(b.bigram, ' ', 1)
         |  JOIN uni u2 ON u2.tok = split_part(b.bigram, ' ', 2)
         |  CROSS JOIN tot
         |  WHERE b.c_xy >= 5)
         |SELECT bigram, c_xy, round(lift, 6) AS lift FROM sc
         |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin,

    // g1: replays the integer micro-unit rank rounds exactly (floor
    // division — no float rounding semantics anywhere)
    "g3_bipartite_rank_stable" -> g3Sql,

    "g4_cc_stable" -> g4Sql,

    "g1_bipartite_rank" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cdeg AS (SELECT cust, CAST(count(*) AS BIGINT) AS c_deg FROM edges GROUP BY cust),
        |sdeg AS (SELECT supp, CAST(count(*) AS BIGINT) AS s_deg FROM edges GROUP BY supp),
        |c0 AS (SELECT cust, CAST(1000000 AS BIGINT) AS c_rank_u, c_deg FROM cdeg),
        |s1 AS (SELECT e.supp,
        |    150000 + (850000 * SUM(c0.c_rank_u // c0.c_deg)) // 1000000 AS s_rank_u
        |  FROM edges e JOIN c0 ON e.cust = c0.cust GROUP BY e.supp),
        |s1d AS (SELECT s1.supp, s_rank_u, s_deg FROM s1 JOIN sdeg ON s1.supp = sdeg.supp),
        |c1 AS (SELECT e.cust,
        |    150000 + (850000 * SUM(s1d.s_rank_u // s1d.s_deg)) // 1000000 AS c_rank_u
        |  FROM edges e JOIN s1d ON e.supp = s1d.supp GROUP BY e.cust),
        |c1d AS (SELECT c1.cust, c_rank_u, c_deg FROM c1 JOIN cdeg USING (cust)),
        |s2 AS (SELECT e.supp,
        |    150000 + (850000 * SUM(c1d.c_rank_u // c1d.c_deg)) // 1000000 AS s_rank_u
        |  FROM edges e JOIN c1d ON e.cust = c1d.cust GROUP BY e.supp)
        |SELECT supp AS s_suppkey, CAST(s_rank_u AS DOUBLE) / 1e6 AS rank
        |FROM s2 ORDER BY s_suppkey""".stripMargin,

    // x1: the composite corpus clean replays the t2/t3/d1/d5 CTE chain
    "s5_countmin" ->
      s"""WITH h AS (SELECT l_partkey,
         |  md5('cm_' || CAST(l_partkey AS VARCHAR)) AS mh FROM lineitem),
         |rows_d AS (SELECT l_partkey, d,
         |  CAST(('0x' || substr(mh, 1 + 8 * d, 8)) AS BIGINT) % 4096 AS cell
         |  FROM h, range(4) t(d)),
         |sketch AS (SELECT d, cell, count(*) AS cnt FROM rows_d GROUP BY 1, 2),
         |truth AS (SELECT l_partkey, count(*) AS true_cnt FROM lineitem GROUP BY 1
         |  ORDER BY true_cnt DESC, l_partkey LIMIT 10),
         |th AS (SELECT l_partkey, true_cnt,
         |  md5('cm_' || CAST(l_partkey AS VARCHAR)) AS mh FROM truth),
         |cand AS (SELECT l_partkey, true_cnt, d,
         |  CAST(('0x' || substr(mh, 1 + 8 * d, 8)) AS BIGINT) % 4096 AS cell
         |  FROM th, range(4) t(d))
         |SELECT c.l_partkey, max(c.true_cnt) AS true_cnt, min(s.cnt) AS est_cnt
         |FROM cand c JOIN sketch s ON c.d = s.d AND c.cell = s.cell
         |GROUP BY c.l_partkey ORDER BY true_cnt DESC, l_partkey""".stripMargin,

    "q25_min_cost" ->
      """WITH eusup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eusup) GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS b_partkey, min(cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, cost
        |FROM cost
        |JOIN best ON l_partkey = b_partkey AND cost = min_cost
        |JOIN part ON p_partkey = l_partkey AND p_size <= 5
        |JOIN eusup ON l_suppkey = s_suppkey
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "b2_salted_agg" ->
      s"""SELECT event_type,
         |  ${dsum("value")} AS total_value,
         |  COUNT(*) AS n_events,
         |  max(value) AS max_value
         |FROM events WHERE value IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "s6_hist_quantiles" -> s6Sql,

    // s11: the day-merged histogram is an exact integer sum — its
    // quantiles must be BIT-EQUAL to the one-shot s6 build
    "s11_hist_merge" -> s6Sql,

    "q26_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q30_nation_volume" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_10', 'NATION_12')
        |  AND n2.n_name IN ('NATION_10', 'NATION_12')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "g2_neardup_triangles" ->
      s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($d3Sql) z)
         |SELECT (SELECT count(*) FROM pairs) AS n_edges,
         |  (SELECT count(*) FROM
         |    (SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs)) AS n_nodes,
         |  (SELECT count(*) FROM pairs e1
         |     JOIN pairs e2 ON e1.doc_b = e2.doc_a
         |     JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b) AS n_triangles""".stripMargin,

    "b3_salted_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s7_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    - l_quantity * p_retailprice * CAST(0.01 AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q28_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(val AS DOUBLE) AS value
        |FROM v WHERE val * 200 > (SELECT SUM(val) FROM v)
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q29_part_promotion" ->
      """WITH sq AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CASE WHEN l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |      THEN CAST(l_quantity AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS qty_1997,
        |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty_all
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
        |  GROUP BY 1, 2)
        |SELECT DISTINCT s_suppkey, s_name, n_name
        |FROM sq JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE qty_1997 * 2 > qty_all
        |ORDER BY s_name""".stripMargin,

    "p20_stream_static_join" ->
      s"""WITH v AS (SELECT * FROM events WHERE $validCond)
         |SELECT CAST(ts AS DATE) AS date, n_name,
         |  ${dsum("value")} AS revenue, COUNT(*) AS n_purchases
         |FROM v
         |JOIN customer ON user_id = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE event_type = 'purchase'
         |GROUP BY 1, 2 ORDER BY date, n_name""".stripMargin,

    "x4_weighted_mix" ->
      s"""WITH d AS (SELECT doc_id, lang, len($TOK) AS n_tok FROM documents),
         |lt AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tokens FROM d GROUP BY 1),
         |tgt AS (SELECT min(tokens) AS target FROM lt),
         |rates AS (SELECT lang, tokens,
         |  CAST(least(1000000, target * 1000000 // tokens) AS BIGINT) AS rate_ppm
         |  FROM lt, tgt),
         |kept AS (SELECT d.doc_id, d.lang AS klang, d.n_tok
         |  FROM d JOIN rates ON d.lang = rates.lang
         |  WHERE ${h60("'mix_' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm)
         |SELECT r.lang, r.tokens AS tokens_before, r.rate_ppm,
         |  count(k.doc_id) AS n_docs_kept,
         |  CAST(coalesce(sum(k.n_tok), 0) AS BIGINT) AS tokens_kept
         |FROM rates r LEFT JOIN kept k ON r.lang = k.klang
         |GROUP BY 1, 2, 3 ORDER BY r.lang""".stripMargin,

    "t10_lm_score" ->
      s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
         |bg AS (SELECT doc_id, bigram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
         |    ELSE [] END) AS bigram FROM d) u),
         |cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bg, CAST(sum(c) AS BIGINT) AS sum_c,
         |  CAST(sum(c) AS BIGINT) * 1000000 // count(*) AS score_micro
         |FROM bg JOIN cnt ON bg.bigram = cnt.bigram
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t12: the tokenizer-fitting corpus pass — type frequencies →
    // weighted adjacent char-pair counts → top-K under the total
    // (count desc, pair asc) order
    "t12_bpe_pairs" ->
      s"""WITH w AS (SELECT tok, count(*) AS wf FROM (
         |    SELECT unnest($TOK) AS tok FROM documents) u GROUP BY 1),
         |p AS (SELECT substr(tok, i, 2) AS pair, wf
         |  FROM w, unnest(range(1, len(tok))) AS x(i)
         |  WHERE len(tok) >= 2)
         |SELECT row_number() OVER (ORDER BY sum(wf) DESC, pair) AS rnk, pair,
         |  CAST(sum(wf) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY rnk LIMIT ${graft.operators.TextOps.BpeTopK}""".stripMargin,

    "t11_repetition" ->
      s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
         |g AS (SELECT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
         |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         |    ELSE [] END) AS gram FROM d) u),
         |pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, count(*) AS n_unique,
         |  (CAST(sum(c) AS BIGINT) - count(*)) * 1000000 // CAST(sum(c) AS BIGINT) AS rep_micro,
         |  CAST(max(c) AS BIGINT) * 1000000 // CAST(sum(c) AS BIGINT) AS top_micro
         |FROM pg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t9_chunk" ->
      s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
         |c AS (SELECT doc_id, t, len(t) AS n,
         |  CASE WHEN len(t) <= 32 THEN 1 ELSE (len(t) - 32 + 23) // 24 + 1 END AS n_chunks
         |  FROM d)
         |SELECT doc_id, u AS chunk_id,
         |  len(t[u*24+1 : u*24+32]) AS n_tok,
         |  md5(array_to_string(t[u*24+1 : u*24+32], ' ')) AS fp
         |FROM c, unnest(range(0, n_chunks)) AS x(u)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "d9_passage_dedup" ->
      s"""WITH d AS (SELECT doc_id, $TOK AS t FROM documents),
         |p AS (SELECT doc_id, t[u*8+1 : u*8+8] AS w
         |  FROM (SELECT doc_id, t, len(t) AS n FROM d),
         |       unnest(range(0, (n + 7) // 8)) AS x(u))
         |SELECT md5(array_to_string(w, ' ')) AS fp, count(*) AS n_occ,
         |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc_id
         |FROM p WHERE len(w) = 8
         |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY fp""".stripMargin,

    "x3_decontaminate" -> x3Sql,

    "x1_corpus_clean" -> x1Sql,

    // x7: the capstone composite — x1's kept set MINUS x3's
    // contaminated docs (the decon anti-join every production mix runs),
    // then x6's split hash and t9's chunk geometry; the statement reuses
    // x1Sql/x3Sql verbatim so the stage semantics can never drift from
    // the checked pieces
    "x7_training_shards" ->
      s"""WITH kept0 AS (SELECT doc_id FROM ($x1Sql) k),
         |contam AS (SELECT doc_id FROM ($x3Sql) c),
         |kept AS (SELECT doc_id FROM kept0
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |d AS (SELECT doc_id, $TOK AS t FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM kept)),
         |c AS (SELECT doc_id, t, len(t) AS n,
         |  CASE WHEN len(t) <= 32 THEN 1 ELSE (len(t) - 32 + 23) // 24 + 1 END AS n_chunks
         |  FROM d),
         |ch AS (SELECT doc_id, u AS chunk_id,
         |    len(t[u*24+1 : u*24+32]) AS n_tok
         |  FROM c, unnest(range(0, n_chunks)) AS x(u)),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${h60("'split_' || CAST(doc_id AS VARCHAR)")} % 1000000 < 980000 THEN 'train'
         |         WHEN ${h60("'split_' || CAST(doc_id AS VARCHAR)")} % 1000000 < 990000 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM kept)
         |SELECT sp.split, count(DISTINCT ch.doc_id) AS n_docs,
         |  count(*) AS n_chunks, CAST(sum(ch.n_tok) AS BIGINT) AS n_tokens
         |FROM ch JOIN sp ON ch.doc_id = sp.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // x9: the loader's step order — x7's kept/chunk CTEs restricted to
    // the train split, ranked by the derived-randomness hash; the
    // distributed rank must equal DuckDB's single row_number exactly
    "x9_train_manifest" ->
      s"""WITH $trainChunksCte
         |SELECT row_number() OVER (ORDER BY $trainOrderBy) AS step,
         |  doc_id, chunk_id, CAST(n_tok AS BIGINT) AS n_tok
         |FROM ch ORDER BY step""".stripMargin,

    // x11: the multi-epoch schedule — x9's chain fanned over the epoch
    // range, each epoch ranked under its own salted order hash
    // (epoch 0's key is x9's verbatim); the distributed
    // rank-minus-offset arithmetic must equal DuckDB's per-epoch
    // row_number exactly
    "x11_epoch_schedule" ->
      s"""WITH $trainChunksCte,
         |ep AS MATERIALIZED (
         |  SELECT ch.doc_id, ch.chunk_id, ch.n_tok, CAST(e AS BIGINT) AS epoch
         |  FROM ch, unnest(range(0, ${graft.operators.CorpusOps.Epochs})) AS t(e)),
         |keyed AS MATERIALIZED (SELECT *,
         |  CASE WHEN epoch = 0
         |    THEN ${h60("'order_' || CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_id AS VARCHAR)")}
         |    ELSE ${h60("'order_e' || CAST(epoch AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_id AS VARCHAR)")}
         |  END AS eok FROM ep)
         |SELECT epoch,
         |  row_number() OVER (PARTITION BY epoch ORDER BY eok, doc_id, chunk_id) AS step,
         |  doc_id, chunk_id, CAST(n_tok AS BIGINT) AS n_tok
         |FROM keyed ORDER BY epoch, step""".stripMargin,

    // x10: concat-and-cut packing over x9's exact chain — the
    // distributed prefix sum must equal DuckDB's single running
    // SUM ... ROWS UNBOUNDED PRECEDING TO 1 PRECEDING exactly
    "x10_seq_pack" ->
      s"""WITH $trainChunksCte,
         |o AS (SELECT doc_id, chunk_id, n_tok,
         |    COALESCE(SUM(n_tok) OVER (ORDER BY $trainOrderBy
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM ch)
         |SELECT CAST(cum // ${graft.operators.CorpusOps.SeqLen} AS BIGINT) AS seq_id,
         |  CAST(cum % ${graft.operators.CorpusOps.SeqLen} AS BIGINT) AS seq_off,
         |  doc_id, chunk_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  (cum % ${graft.operators.CorpusOps.SeqLen} + n_tok > ${graft.operators.CorpusOps.SeqLen}) AS cut
         |FROM o ORDER BY seq_id, seq_off""".stripMargin,

    "d3_minhash_lsh" -> d3Sql,

    "d5_neardup_clusters" -> d5Sql,


    // m6: d4's SimHash chain verbatim over BYTE 8-gram shingles (as
    // 16-char windows of the blob's hex — DuckDB 1.0 has no BLOB
    // substring, and hex is the engine-portable shingle domain for
    // arbitrary bytes), unit votes (DISTINCT shingles)
    "m6_blob_fuzzy" -> m6Sql,

    "d4_simhash" ->
      s"""WITH tc AS (SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id, unnest($TOK) AS tok FROM documents) u
         |  GROUP BY doc_id, tok),
         |th AS (SELECT doc_id, c, ${h60("tok")} AS h FROM tc),
         |bv AS (SELECT doc_id, b, SUM(c * (((h >> b) & 1) * 2 - 1)) AS s
         |  FROM th CROSS JOIN (SELECT CAST(i AS INTEGER) AS b FROM range(60) t(i)) bits
         |  GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |  CAST(SUM((CASE WHEN s > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << b) AS BIGINT) AS simhash
         |  FROM bv GROUP BY doc_id),
         |ch AS (SELECT doc_id, simhash, j, (simhash >> (j * 15)) & 32767 AS chunk
         |  FROM sh CROSS JOIN (SELECT CAST(i AS INTEGER) AS j FROM range(4) t(i)) js),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS ha, b.simhash AS hb
         |  FROM ch a JOIN ch b ON a.j = b.j AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "e6_ann_pq" -> e6Sql,

    "e22_ann_bq" -> e22Sql,

    // d18: d5's cluster chain extended to the whole corpus (singletons
    // get cluster_id = doc_id) with the 1/cluster-size ppm weight in
    // exact int64 floor division.
    "d18_dup_weights" ->
      s"""WITH $corpusClusterCte
         |SELECT a.doc_id, a.cluster_id, s.cluster_size,
         |  GREATEST(1, CAST(1000000 // s.cluster_size AS BIGINT)) AS weight_ppm
         |FROM allc a JOIN csz s USING (cluster_id)
         |ORDER BY a.doc_id""".stripMargin,

    // x16: d18's weights folded per source — effective mass is the
    // exact HUGEINT sum of n_tok·weight_ppm, floor-scaled back
    "x16_dedup_mix" ->
      s"""WITH $corpusClusterCte,
         |dw AS (SELECT a.doc_id,
         |    GREATEST(1, CAST(1000000 // s.cluster_size AS BIGINT)) AS weight_ppm
         |  FROM allc a JOIN csz s USING (cluster_id)),
         |dt AS (SELECT doc_id, source, len($TOK) AS n_tok FROM documents),
         |j AS (SELECT dt.source, dt.n_tok,
         |    CAST(dt.n_tok AS HUGEINT) * w.weight_ppm AS eff_ppm
         |  FROM dt JOIN dw w USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
         |  CAST(sum(eff_ppm) // 1000000 AS BIGINT) AS tokens_eff,
         |  CAST(sum(eff_ppm) // sum(n_tok) AS BIGINT) AS eff_ratio_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // x17: d18's weights in x4's hash-sampling rule — realized kept
    // mass per source next to x16's expected effective mass
    "x17_soft_sample" ->
      s"""WITH $corpusClusterCte,
         |dw AS (SELECT a.doc_id,
         |    GREATEST(1, CAST(1000000 // s.cluster_size AS BIGINT)) AS weight_ppm
         |  FROM allc a JOIN csz s USING (cluster_id)),
         |dt AS (SELECT doc_id, source, len($TOK) AS n_tok FROM documents),
         |j AS (SELECT dt.source, dt.n_tok,
         |    ${h60("'soft_' || CAST(dt.doc_id AS VARCHAR)")} % 1000000
         |      < w.weight_ppm AS kept,
         |    CAST(dt.n_tok AS HUGEINT) * w.weight_ppm AS eff_ppm
         |  FROM dt JOIN dw w USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
         |  CAST(COALESCE(SUM(CASE WHEN kept THEN n_tok END), 0) AS BIGINT)
         |    AS tokens_kept,
         |  CAST(sum(eff_ppm) // 1000000 AS BIGINT) AS tokens_eff
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // x18: the per-(source, pred_lang) token-budget table — the marker
    // scores and argmax prediction are t3's rule verbatim (the Spark
    // side shares ONE withPredLang definition with t3); fertility and
    // corpus share are exact integer div in HUGEINT, mirroring the
    // Spark side's decimal(38,0)
    "x18_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source, n_chars, $TOK AS t FROM documents),
         |sl AS (SELECT doc_id, source, n_chars, len(t) AS n_tok,
         |  CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y','los'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','les','des'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2','you3'))) AS BIGINT) AS s_zh
         |  FROM d),
         |pl AS (SELECT source,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS pred_lang,
         |  n_tok, n_chars FROM sl),
         |per AS (SELECT source, pred_lang,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM pl GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(CAST(n_tokens AS HUGEINT)) AS HUGEINT) AS tot_tokens FROM per)
         |SELECT source, pred_lang, n_docs, n_tokens, n_chars,
         |  CASE WHEN n_chars > 0
         |    THEN CAST(CAST(n_tokens AS HUGEINT) * 1000000 // n_chars AS BIGINT)
         |    ELSE 0 END AS fertility_ppm,
         |  CASE WHEN tot_tokens > 0
         |    THEN CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot_tokens AS BIGINT)
         |    ELSE 0 END AS share_ppm
         |FROM per CROSS JOIN tot ORDER BY source, pred_lang""".stripMargin,

    // g6: the component-size spectrum over the same corpus-wide
    // cluster partition
    "g6_component_spectrum" ->
      s"""WITH $corpusClusterCte,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM allc)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((1000000 * cluster_size * count(*)) // n_total AS BIGINT)
         |    AS doc_share_ppm
         |FROM csz, tot GROUP BY cluster_size, n_total
         |ORDER BY cluster_size""".stripMargin,

    // e10: the persisted-index serving path must reproduce the
    // in-memory e6 answer EXACTLY — its oracle is e6's verbatim, which
    // is also the lossless-round-trip proof for the landed artifacts
    "e10_ann_persisted" -> e6Sql,

    // e11: the delta-maintained index must answer exactly like a full
    // rebuild — centroid state is associative, codes are per-vector —
    // so its oracle is also e6's statement verbatim
    "e11_ann_incremental" -> e6Sql,

    // e18: the STREAMED upsert must answer exactly like batch e11 —
    // micro-batch sum/count accumulation is as associative as e11's
    // batch merge — so its oracle is also e6's statement verbatim
    "e18_ann_stream_upsert" -> e6Sql,

    // e13: delete maintenance must answer exactly like a full rebuild
    // on the SURVIVING corpus — e6's statement with the tombstoned
    // slice removed (queries included: deleted vectors stop asking)
    "e13_ann_delete" -> e6SqlWhere(
      s" WHERE vec_id % 10 <> ${graft.operators.AnnOps.DeleteSlice}"),

    // e14: compaction must change NOTHING about the answers — it only
    // retires e13's tombstones physically, so its oracle is e13's
    // statement verbatim (a compaction that dropped a surviving row or
    // resurrected a deleted one could not stay green)
    "e14_ann_compact" -> e6SqlWhere(
      s" WHERE vec_id % 10 <> ${graft.operators.AnnOps.DeleteSlice}"),

    // e15: cell stats + FAISS's imbalance factor in exact ppm; HUGEINT
    // mirrors the Spark side's DECIMAL(38,0) (Σnᵢ² overflows int64 at
    // ~1e12 vectors)
    "e15_index_health" ->
      s"""WITH $cellCte,
        |s AS (SELECT label, count(*) AS n_members FROM cellid GROUP BY 1),
        |t AS (SELECT CAST(sum(n_members) AS HUGEINT) AS n,
        |             CAST(sum(CAST(n_members AS HUGEINT) * n_members) AS HUGEINT) AS ss,
        |             count(*) AS k FROM s)
        |SELECT s.label, s.n_members,
        |  CAST((CAST(s.n_members AS HUGEINT) * 1000000) // t.n AS BIGINT) AS share_ppm,
        |  s.n_members * t.k * 10 > 11 * t.n AS over_110,
        |  CAST((t.k * t.ss * 1000000) // (t.n * t.n) AS BIGINT) AS imbalance_ppm
        |FROM s, t ORDER BY s.label""".stripMargin,

    // e23: per-cell centroid drift — exact int sum-vectors per cell for
    // the e11 base carve (vec_id % 10 <> 0) and the full corpus; the
    // drift cosine runs its dot products in HUGEINT (the operator's
    // decimal(38,0)) and pays one IEEE sqrt+division at the end
    "e23_centroid_drift" ->
      s"""WITH $cellCte,
         |vecs AS MATERIALIZED (SELECT c.vec_id, c.label, q.qv
         |  FROM cellid c JOIN cqv q USING (vec_id)),
         |unp AS (SELECT vec_id, label, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v
         |  FROM vecs),
         |nowd AS (SELECT label, d, CAST(SUM(v) AS BIGINT) AS s2 FROM unp GROUP BY 1, 2),
         |based AS (SELECT label, d, CAST(SUM(v) AS BIGINT) AS s1
         |  FROM unp WHERE vec_id % 10 <> 0 GROUP BY 1, 2),
         |nown AS (SELECT label, CAST(count(*) AS BIGINT) AS n_now FROM vecs GROUP BY 1),
         |basen AS (SELECT label, CAST(count(*) AS BIGINT) AS n_base
         |  FROM vecs WHERE vec_id % 10 <> 0 GROUP BY 1),
         |dots AS (SELECT n.label,
         |    SUM(CAST(b.s1 AS HUGEINT) * n.s2) AS dot12,
         |    SUM(CAST(b.s1 AS HUGEINT) * b.s1) AS ss1,
         |    SUM(CAST(n.s2 AS HUGEINT) * n.s2) AS ss2
         |  FROM nowd n JOIN based b ON n.label = b.label AND n.d = b.d
         |  GROUP BY 1)
         |SELECT nn.label, bn.n_base, nn.n_now,
         |  CASE WHEN bn.n_base IS NOT NULL
         |    THEN CAST((nn.n_now - bn.n_base) * 1000000 // bn.n_base AS BIGINT)
         |    END AS growth_ppm,
         |  CASE WHEN bn.n_base IS NOT NULL AND d.ss1 > 0 AND d.ss2 > 0
         |    THEN round(CAST(d.dot12 AS DOUBLE)
         |      / sqrt(CAST(d.ss1 AS DOUBLE) * CAST(d.ss2 AS DOUBLE)), 6)
         |    END AS drift
         |FROM nown nn LEFT JOIN basen bn USING (label) LEFT JOIN dots d USING (label)
         |ORDER BY COALESCE(drift, 2.0), nn.label""".stripMargin,

    // e12: the single-request serving path is e6 restricted to the one
    // served query — pruning the code lake to the probed cells must
    // change nothing about that query's answer
    "e12_ann_serve" ->
      s"""SELECT * FROM ($e6Sql) t
         |WHERE q_id = ${graft.operators.AnnOps.ServeQueryId}
         |ORDER BY rnk""".stripMargin,

    "e1_ann_topk" -> e1Sql,

    "e2_ann_lsh" ->
      s"""WITH ${annQ},
         |$bucketCte,
         |pr AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    list_dot_product(a.qv, b.qv) AS dot,
         |    list_dot_product(a.qv, a.qv) AS na,
         |    list_dot_product(b.qv, b.qv) AS nb
         |  FROM wb a JOIN wb b ON a.bucket = b.bucket
         |    AND a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
         |r AS (SELECT q_id, c_id, dot / sqrt(na * nb) AS score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot / sqrt(na * nb) DESC, c_id) AS rnk
         |  FROM pr)
         |SELECT q_id, rnk, c_id, round(score, 6) AS score
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    // e3 uses banded multi-probe LSH: 4 band codes of 6 hyperplanes each
    // (planes 0..23 of the same md5-derived family); a pair is a
    // candidate when ANY band code matches.
    // e5 mirrors the n-scaled exact centroid distance:
    // n^2*q.q - 2n*(q.s) + s.s — magnitudes < 2^53, exact in doubles.
    "e5_ann_ivf" -> e5Sql,

    "e24_beam_probe" -> e24Sql,

    "e25_beam_eval" -> e25Sql,

    // e9: the e5 probe with the language predicate applied to the
    // candidates BEFORE scoring (pre-filtered vector search)
    "e9_ann_filtered" -> e9Sql,

    // e8: recall@3 of the IVF scale path against the exact baseline —
    // both sides are the e1/e5 statements verbatim, composed as CTEs
    // e17: per-config aggregate of e8's metric + the probe's cost —
    // both sides derive from the SAME pr probe chain, so the sweep
    // verifies the probe ORDER (which cells each extra nProbe adds)
    // as well as the recall arithmetic
    "e17_ann_sweep" -> e17Sql,

    "e8_ann_recall" ->
      s"""WITH exact AS ($e1Sql),
         |approx AS ($e5Sql),
         |qs AS (SELECT DISTINCT q_id FROM exact),
         |hit AS (SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |        FROM exact e JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
         |        WHERE e.rnk <= 3 AND a.rnk <= 3
         |        GROUP BY e.q_id)
         |SELECT qs.q_id, COALESCE(hit.n_hit, 0) AS n_hit,
         |  round(CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / 3.0, 6) AS recall_at_3
         |FROM qs LEFT JOIN hit USING (q_id) ORDER BY q_id""".stripMargin,

    // e4's probe set (own bucket + every 1-bit flip) hits exactly the
    // hamming<=1 code pairs, which the oracle states directly.
    "e4_ann_multiprobe" ->
      s"""WITH ${annQ},
         |$bucketCte,
         |pr AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    list_dot_product(a.qv, b.qv) AS dot,
         |    list_dot_product(a.qv, a.qv) AS na,
         |    list_dot_product(b.qv, b.qv) AS nb
         |  FROM wb a JOIN wb b ON bit_count(xor(a.bucket, b.bucket)) <= 1
         |    AND a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
         |r AS (SELECT q_id, c_id, dot / sqrt(na * nb) AS score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot / sqrt(na * nb) DESC, c_id) AS rnk
         |  FROM pr)
         |SELECT q_id, rnk, c_id, round(score, 6) AS score
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    // e3's planes-per-band derive from the corpus count (AnnOps
    // .bandPlanes replayed): p = min{x >= 6 : 2^x * BandBucketTarget >= n}
    "e3_embed_neardup" ->
      s"""WITH ${annQ},
         |bpb AS MATERIALIZED (SELECT CAST(COALESCE(MIN(x), 24) AS INTEGER) AS ppb FROM range(6, 25) t(x)
         |  WHERE (CAST(1 AS BIGINT) << x) * ${graft.operators.AnnOps.BandBucketTarget}
         |    >= (SELECT COUNT(*) FROM embeddings)),
         |planes AS (
         |  SELECT CAST(p AS INTEGER) AS p, CAST(d AS INTEGER) AS d,
         |    ${h60("'hp_' || p || '_' || d")} % 2001 - 1000 AS w
         |  FROM range(96) t1(p) CROSS JOIN range(64) t2(d), bpb
         |  WHERE p < ${graft.operators.AnnOps.Bands} * bpb.ppb),
         |unp AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS v FROM q),
         |pd AS (SELECT u.vec_id, pl.p, SUM(u.v * pl.w) AS dot
         |       FROM unp u JOIN planes pl ON u.d = pl.d GROUP BY 1, 2),
         |bands AS (SELECT vec_id, CAST(p // bpb.ppb AS INTEGER) AS band,
         |    CAST(SUM((CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << (p % bpb.ppb)) AS BIGINT) AS code
         |  FROM pd, bpb GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id)
         |SELECT c.id_a, c.id_b,
         |  round(list_dot_product(qa.qv, qb.qv) /
         |    sqrt(list_dot_product(qa.qv, qa.qv) * list_dot_product(qb.qv, qb.qv)), 6) AS cosine
         |FROM cand c
         |JOIN q qa ON c.id_a = qa.vec_id
         |JOIN q qb ON c.id_b = qb.vec_id
         |WHERE list_dot_product(qa.qv, qb.qv) /
         |    sqrt(list_dot_product(qa.qv, qa.qv) * list_dot_product(qb.qv, qb.qv)) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  md5(text) AS content_md5,
        |  lower(hex(encode(substring(text, 1, 4)))) AS magic,
        |  octet_length(encode(text)) % 30 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // m2 mirrors the mapPartitions stub decoder: frame count from the
    // payload byte length, signature = hash60(text || '_frame_' || i).
    "m2_frame_sample" ->
      s"""SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         |  ${h60("text || '_frame_' || i")} AS frame_sig
         |FROM documents CROSS JOIN range(30) t(i)
         |WHERE i < octet_length(encode(text)) % 30 + 1 AND i % 5 = 0
         |ORDER BY doc_id, frame_idx""".stripMargin,

    // m5: the resize stub keeps every 2nd character (chars standing in
    // for decoded pixels/samples), so the derivative's md5 replays
    // exactly — corrupted/reordered/truncated payload plumbing cannot
    // stay green
    "m5_resize" ->
      """WITH r AS (SELECT doc_id, len(text) AS in_len,
        |    coalesce(array_to_string(list_transform(
        |      range(1, len(text) + 1, 2), i -> substr(text, i, 1)), ''), '') AS half
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(in_len AS BIGINT) AS in_len,
        |  CAST(len(half) AS BIGINT) AS out_len, md5(half) AS out_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    // q21: late = shipped > 60 days after order date (the schema has no
    // commit/receipt dates); same EXISTS / NOT-EXISTS topology as TPC-H Q21
    "q21_waiting" ->
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
        |latel AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |          FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
        |          WHERE l.l_shipdate > f.o_orderdate + INTERVAL 60 DAY),
        |alls AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey FROM lineitem l
        |         JOIN f ON l.l_orderkey = f.o_orderkey),
        |blamed AS (
        |  SELECT d.l_orderkey, d.l_suppkey FROM latel d
        |  WHERE EXISTS (SELECT 1 FROM alls a
        |          WHERE a.l_orderkey = d.l_orderkey AND a.l_suppkey <> d.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM latel x
        |          WHERE x.l_orderkey = d.l_orderkey AND x.l_suppkey <> d.l_suppkey))
        |SELECT s_name, n_name, COUNT(*) AS numwait
        |FROM blamed JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_name, n_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,

    "p17_scd2" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         try_cast(json_extract_string(props, '$.k') AS BIGINT) % 10 AS tier
        |  FROM events
        |  WHERE try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
        |w AS (SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier FROM e),
        |ch AS (SELECT * FROM w WHERE prev_tier IS NULL OR tier <> prev_tier),
        |v AS (SELECT user_id, tier, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |      FROM ch)
        |SELECT user_id, version, tier, valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,

    // a4: the oracle runs the LITERAL inequality overlap join the
    // operator re-expresses as a bucketed equality join
    "a4_interval_overlap" ->
      """WITH x AS (
        |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |y AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess FROM x),
        |z AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM y),
        |s AS (SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end
        |      FROM z GROUP BY user_id, session_idx),
        |p AS (SELECT a.user_id, a.session_idx, COUNT(*) AS n_concurrent
        |      FROM s a JOIN s b ON a.user_id <> b.user_id
        |        AND a.session_start <= b.session_end AND b.session_start <= a.session_end
        |      GROUP BY a.user_id, a.session_idx)
        |SELECT s.user_id, s.session_idx, s.session_start, s.session_end,
        |       COALESCE(p.n_concurrent, 0) AS n_concurrent
        |FROM s LEFT JOIN p USING (user_id, session_idx)
        |ORDER BY user_id, session_idx""".stripMargin,

    // e7: replays both Lloyd rounds with the same integer arithmetic
    // (floor of one exact-int IEEE division for centroid updates)
    "e7_kmeans" ->
      s"""WITH $e7Cte
         |SELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist_sq
         |FROM a2 ORDER BY vec_id""".stripMargin,

    "e16_kmeans_stable" -> e16Sql,

    // d12: the ADAPTIVE sample-trained converged chain (d12StableCte —
    // k from the corpus count, Lloyd on the md5-rank sample, one full
    // final assignment), then the
    // within-cluster priority rule: priority = (dist, vec_id), a vector
    // is removed iff a strictly-higher-priority cluster-mate has
    // cosine >= tau, dup_of = the highest-priority witness
    "d12_semantic_dedup" ->
      s"""WITH $d12StableCte,
         |m AS (SELECT a.vec_id, a.cid, a.dist, q.qv FROM fin a JOIN q USING (vec_id)),
         |cand AS (SELECT a.vec_id, b.vec_id AS b_id, b.dist AS b_dist,
         |    list_dot_product(a.qv, b.qv) /
         |      sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS c
         |  FROM m a JOIN m b ON a.cid = b.cid
         |    AND (b.dist < a.dist OR (b.dist = a.dist AND b.vec_id < a.vec_id))),
         |hit AS (SELECT vec_id, b_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY b_dist, b_id) AS rn
         |  FROM cand WHERE c >= ${graft.operators.DedupOps.SemDedupTau}),
         |best AS (SELECT vec_id, b_id AS dup_of, round(c, 6) AS sim
         |  FROM hit WHERE rn = 1)
         |SELECT m.vec_id, m.cid AS cluster, (best.dup_of IS NULL) AS is_kept,
         |  best.dup_of, best.sim
         |FROM m LEFT JOIN best USING (vec_id) ORDER BY m.vec_id""".stripMargin,

    // d19: d10's broadcast-eval-side carve over the e-family IVF
    // substrates — the eval carve (vec_id % EvalMod = 0) probes the
    // shared cell geometry (cellCte + the e5 centroid-state build and
    // (dist2, label) probe rank), training vectors in a probed cell
    // pay the exact-int cosine, witness rank (sim desc, eval_id),
    // anti-join leg carries the keep list
    "d19_semantic_decon" -> d19Sql,

    // d20: the three decon tiers' statements nested VERBATIM (x3Sql /
    // d10Sql / d19Sql — each scoped in its own subquery so CTE names
    // cannot collide), rolled up to the 8-way tier-combination table
    "d20_decon_report" ->
      s"""WITH xh AS MATERIALIZED (SELECT doc_id FROM ($x3Sql) xt),
         |dh AS MATERIALIZED (SELECT DISTINCT train_doc AS doc_id FROM ($d10Sql) dt),
         |sh AS MATERIALIZED (SELECT vec_id AS doc_id FROM ($d19Sql) st WHERE NOT is_kept),
         |spine AS (SELECT doc_id FROM documents
         |  WHERE doc_id % ${graft.operators.CorpusOps.EvalMod} <> 0)
         |SELECT x3_hit, d10_hit, d19_hit, CAST(count(*) AS BIGINT) AS n_docs FROM (
         |  SELECT sp.doc_id,
         |    (xh.doc_id IS NOT NULL) AS x3_hit,
         |    (dh.doc_id IS NOT NULL) AS d10_hit,
         |    (sh.doc_id IS NOT NULL) AS d19_hit
         |  FROM spine sp
         |  LEFT JOIN xh ON sp.doc_id = xh.doc_id
         |  LEFT JOIN dh ON sp.doc_id = dh.doc_id
         |  LEFT JOIN sh ON sp.doc_id = sh.doc_id) f
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q24_market_share" ->
      """WITH flat AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01')
        |SELECT o_year,
        |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev
        |                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share,
        |  CAST(SUM(rev) AS DOUBLE) AS total_rev,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM flat GROUP BY o_year ORDER BY o_year""".stripMargin,

    // d8: asymmetric containment on d2's pruned index; intersections
    // computed once per unordered pair, mirrored into both directions
    "d8_containment" ->
      s"""WITH $ngramCte,
         |keep AS (SELECT ngram FROM ng GROUP BY ngram HAVING COUNT(*) <= 100),
         |pruned AS (SELECT g.doc_id, g.ngram FROM ng g JOIN keep USING (ngram)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ng FROM pruned GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM pruned a JOIN pruned b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |directed AS (
         |  SELECT doc_a AS src, doc_b AS dst, inter FROM inter
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst, inter FROM inter)
         |SELECT d.src AS doc_a, d.dst AS doc_b, d.inter, s.n_ng AS n_src,
         |  round(CAST(d.inter AS DOUBLE) / s.n_ng, 6) AS containment
         |FROM directed d JOIN sizes s ON d.src = s.doc_id
         |WHERE CAST(d.inter AS DOUBLE) / s.n_ng >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // d7: winnowing fingerprints — positional 3-gram hashes, min over a
    // 4-wide sliding window (full windows only), distinct per doc,
    // DF-capped inverted index, pair counts
    "d7_winnow" ->
      s"""WITH docs AS (SELECT doc_id, $TOK AS t FROM documents),
         |nl AS (SELECT doc_id, CASE WHEN len(t) >= 3
         |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         |         ELSE [] END AS ngl FROM docs),
         |pos AS (SELECT doc_id, generate_subscripts(ngl, 1) - 1 AS pos, unnest(ngl) AS ngram FROM nl),
         |h AS (SELECT doc_id, pos, ${h60("ngram")} AS hv FROM pos),
         |wmin AS (SELECT doc_id, pos,
         |           MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
         |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |         FROM h),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos >= 3),
         |keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100),
         |pf AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin,

    // p18: the oracle runs the LITERAL interval join against the p17
    // dimension; the operator uses the as-of window union instead
    "p18_temporal_lookup" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         try_cast(json_extract_string(props, '$.k') AS BIGINT) % 10 AS tier
        |  FROM events
        |  WHERE try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
        |w AS (SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier FROM e),
        |ch AS (SELECT * FROM w WHERE prev_tier IS NULL OR tier <> prev_tier),
        |v AS (SELECT user_id, tier, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |      FROM ch),
        |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value, v.version, v.tier
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND p.ts >= v.valid_from AND (v.valid_to IS NULL OR p.ts < v.valid_to)
        |ORDER BY p.event_id""".stripMargin,

    "q23_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_price
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // x2: replays the e7 rounds, then the per-cluster deterministic
    // md5-ranked top-N (the operator runs TopKPerKey instead of the sort)
    // x2: per-cluster deterministic top-20 over the CONVERGED (e16)
    // assignment — the chain is stableCte verbatim, so the sample is
    // checked against the exact geometry the e16 rows verify
    "x2_cluster_sample" ->
      s"""WITH $stableCte,
         |rk AS (SELECT cid AS cluster, vec_id,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY ${h60("'bal_' || vec_id")}, vec_id) AS rnk
         |       FROM fin)
         |SELECT cluster, CAST(rnk AS BIGINT) AS rnk, vec_id
         |FROM rk WHERE rnk <= 20 ORDER BY cluster, rnk""".stripMargin,

    // p19: the streaming-HLL materialization must equal the per-day
    // batch sketch — same register math as s4, absent registers folded
    // in as (m − present)·2^53 and counted into v
    "p19_stream_distinct" ->
      s"""WITH h AS (SELECT CAST(ts AS DATE) AS date,
         |             ${h60("CAST(event_id AS VARCHAR)")} AS h FROM events),
         |r AS (SELECT date, h % 256 AS bucket, h // 256 AS rest FROM h),
         |rho AS (SELECT date, bucket,
         |          MAX(CASE WHEN rest = 0 THEN 53 ELSE 53 - length(bin(rest)) END) AS rho
         |        FROM r GROUP BY 1, 2),
         |agg AS (SELECT date,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - rho AS INTEGER))
         |       + (256 - COUNT(*)) * 9007199254740992 AS BIGINT) AS s,
         |  CAST(256 - COUNT(*) AS BIGINT) AS v
         |  FROM rho GROUP BY date),
         |ex AS (SELECT CAST(ts AS DATE) AS date,
         |         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_exact
         |       FROM events GROUP BY 1)
         |SELECT a.date, CAST(256 AS BIGINT) AS m, a.s, a.v,
         |  CASE WHEN CAST(${SketchOpsAlpha} AS DOUBLE) * 256 * 256 * 9007199254740992.0 / a.s <= 640.0
         |            AND a.v > 0
         |       THEN 256.0 * ln(256.0 / a.v)
         |       ELSE CAST(${SketchOpsAlpha} AS DOUBLE) * 256 * 256 * 9007199254740992.0 / a.s END
         |    AS est_distinct,
         |  ex.n_exact
         |FROM agg a JOIN ex USING (date) ORDER BY a.date""".stripMargin,

    // s4: α_m and the 2^53 scale are shared literals with the Spark side
    // (operators.SketchOps.HllAlpha) so both engines branch identically
    "s4_hll_distinct" -> s4Sql,

    // s9: per-day registers max-merged must estimate BIT-IDENTICALLY to
    // the one-pass corpus sketch (register merge is associative) — the
    // oracle is s4's statement verbatim
    "s9_hll_merge" -> s4Sql,

    "s10_kmv_setops" -> s10Sql,
    "a11_market_basket" -> a11Sql,
    "a12_item_similarity" -> a12Sql,
    "t13_novelty" -> t13Sql,
    "d13_minhash_eval" -> d13Sql,
    "a13_attribution" -> a13Sql,
    "m7_media_manifest" -> m7Sql,
    "a14_ewma_forecast" -> a14Sql,
    "d14_lsh_sweep" -> d14Sql,
    "d15_source_overlap" -> d15Sql,
    "e19_ann_sq" -> e19Sql,
    "a15_ab_lift" -> a15Sql,
    "p35_late_data" -> p35Sql,
    "m8_clip_neardup" -> m8Sql,
    "a16_cohort_ltv" -> a16Sql,
    "d16_docsim_serve" -> d16Sql,
    "b4_zorder_layout" -> b4Sql,
    "p36_snapshot_diff" -> p36Sql,
    "p37_dlq_replay" -> p37Sql,
    "x13_quality_keep" -> x13Sql,
    "e20_cell_split" -> e20Sql,
    "t14_vocab_growth" -> t14Sql,
    "p38_lambda_reconcile" -> p38Sql,
    "m9_media_shards" -> m9Sql,
    "d17_jaccard_sweep" -> d17Sql,

    // a17: the three shared-sort lags + path rollup replayed (DuckDB's
    // concat_ws skips NULL args exactly like Spark's)
    "x14_drop_ledger" -> x14Sql,

    // x15: the t2 quality chain + x9's chunk chain composed; phase by
    // rank arithmetic, step by one row_number over (phase, hash key)
    "x15_curriculum" -> {
      val p = graft.operators.CorpusOps.CurriculumPhases
      s"""WITH $trainChunksCte,
         |qd AS (SELECT doc_id, $TOK AS qt FROM documents),
         |qx AS (SELECT doc_id, len(qt) AS n_tokens, len(list_distinct(qt)) AS n_unique,
         |  len(list_filter(qt, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
         |  FROM qd),
         |qs AS (SELECT doc_id,
         |  round(0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)
         |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
         |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS qscore
         |  FROM qx),
         |docs AS (SELECT DISTINCT doc_id FROM ch),
         |nn AS (SELECT count(*) AS n_docs FROM docs),
         |rk AS (SELECT d.doc_id,
         |    row_number() OVER (ORDER BY -q.qscore, d.doc_id) AS qrank
         |  FROM docs d JOIN qs q ON q.doc_id = d.doc_id),
         |ph AS (SELECT rk.doc_id,
         |    CAST((qrank - 1) * $p // nn.n_docs AS BIGINT) AS phase
         |  FROM rk CROSS JOIN nn),
         |j AS (SELECT ch.doc_id, ch.chunk_id, ch.n_tok, ph.phase
         |  FROM ch JOIN ph ON ph.doc_id = ch.doc_id)
         |SELECT row_number() OVER (ORDER BY phase, $trainOrderBy) AS step,
         |  phase, doc_id, chunk_id, CAST(n_tok AS BIGINT) AS n_tok
         |FROM j ORDER BY step""".stripMargin
    },

    // e21: e1/e6/e19's statements composed — the bake-off must score
    // the identical answer tables the individual gates check
    "e21_index_eval" ->
      s"""WITH exact AS MATERIALIZED (
         |  SELECT q_id, c_id FROM ($e1Sql) z WHERE rnk <= 3),
         |pq AS MATERIALIZED (SELECT q_id, c_id FROM ($e6Sql) z),
         |sq AS MATERIALIZED (SELECT q_id, c_id FROM ($e19Sql) z),
         |bq AS MATERIALIZED (SELECT q_id, c_id FROM ($e22Sql) z),
         |nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_q FROM exact)
         |SELECT * FROM (
         |  SELECT 'ivf_bq' AS index_kind,
         |    CAST(${graft.operators.AnnOps.Dims / 8} AS BIGINT) AS bytes_per_vec,
         |    nq.n_q,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bq
         |       JOIN exact ON exact.q_id = bq.q_id AND exact.c_id = bq.c_id)
         |      AS n_hit,
         |    round((SELECT count(*) FROM bq
         |       JOIN exact ON exact.q_id = bq.q_id AND exact.c_id = bq.c_id)
         |      / (nq.n_q * 3.0), 6) AS recall_at_3
         |  FROM nq
         |  UNION ALL
         |  SELECT 'ivf_pq',
         |    CAST(${graft.operators.AnnOps.Dims / graft.operators.AnnOps.SubDim}
         |      AS BIGINT) AS bytes_per_vec, nq.n_q,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pq
         |       JOIN exact ON exact.q_id = pq.q_id AND exact.c_id = pq.c_id)
         |      AS n_hit,
         |    round((SELECT count(*) FROM pq
         |       JOIN exact ON exact.q_id = pq.q_id AND exact.c_id = pq.c_id)
         |      / (nq.n_q * 3.0), 6) AS recall_at_3
         |  FROM nq
         |  UNION ALL
         |  SELECT 'ivf_sq8',
         |    CAST(${graft.operators.AnnOps.Dims} AS BIGINT), nq.n_q,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sq
         |       JOIN exact ON exact.q_id = sq.q_id AND exact.c_id = sq.c_id),
         |    round((SELECT count(*) FROM sq
         |       JOIN exact ON exact.q_id = sq.q_id AND exact.c_id = sq.c_id)
         |      / (nq.n_q * 3.0), 6)
         |  FROM nq)
         |ORDER BY index_kind""".stripMargin,

    "a17_conversion_paths" ->
      """WITH p AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type, 1) OVER w AS l1,
        |    lag(event_type, 2) OVER w AS l2,
        |    lag(event_type, 3) OVER w AS l3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pp AS (SELECT CASE WHEN concat_ws('>', l3, l2, l1) = ''
        |    THEN '(direct)' ELSE concat_ws('>', l3, l2, l1) END AS path
        |  FROM p WHERE event_type = 'purchase')
        |SELECT path, CAST(count(*) AS BIGINT) AS n_conv
        |FROM pp GROUP BY path
        |ORDER BY n_conv DESC, path LIMIT 20""".stripMargin,

    // g5: in-degree rollup over e1's exact top-k graph (the statement
    // reused verbatim — the hub table must derive from the same edges)
    "g5_ann_hubness" ->
      s"""WITH e1 AS MATERIALIZED (SELECT c_id FROM ($e1Sql) z),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e1)
         |SELECT c_id, CAST(count(*) AS BIGINT) AS in_degree,
         |  (1000000 * CAST(count(*) AS BIGINT)) // tot.n_edges AS share_ppm
         |FROM e1 CROSS JOIN tot
         |GROUP BY c_id, tot.n_edges
         |HAVING count(*) >= 2
         |ORDER BY in_degree DESC, c_id""".stripMargin,

    // x12: the boundary map from x10's exact prefix-sum chain — each
    // chunk's global interval clipped to every sequence it intersects
    "x12_pack_boundaries" -> {
      val L = graft.operators.CorpusOps.SeqLen
      s"""WITH $trainChunksCte,
         |o AS (SELECT doc_id, chunk_id, n_tok,
         |    COALESCE(SUM(n_tok) OVER (ORDER BY $trainOrderBy
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM ch),
         |seg AS (SELECT doc_id, chunk_id, n_tok, cum,
         |    unnest(range(CAST(cum // $L AS BIGINT),
         |      CAST((cum + n_tok - 1) // $L + 1 AS BIGINT))) AS seq_id
         |  FROM o)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |  row_number() OVER (PARTITION BY seq_id
         |    ORDER BY greatest(cum - seq_id * $L, 0)) AS seg_idx,
         |  doc_id, chunk_id,
         |  CAST(greatest(cum - seq_id * $L, 0) AS BIGINT) AS start_tok,
         |  CAST(least(cum + n_tok - seq_id * $L, $L) AS BIGINT) AS end_tok
         |FROM seg ORDER BY seq_id, seg_idx""".stripMargin
    },
    // p34: the streamed forecast must equal batch a14 exactly — its
    // oracle is a14's statement verbatim (the p26/a7 pattern)
    "p34_stream_forecast" -> a14Sql,

    // ---------- round 5 additions ----------

    "q31_shipmode" ->
      """SELECT l_returnflag AS ship_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A','R')
        |  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // a5: deliberately an INDEPENDENT formulation (per-step self-joins)
    // of the Spark side's chained conditional-min windows
    "a5_funnel" ->
      """WITH f AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM events GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'click' AND e.ts > f.t1
        |    AND e.ts <= f.t1 + INTERVAL 14 DAY
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= f.t1 + INTERVAL 14 DAY
        |  GROUP BY 1)
        |SELECT (SELECT count(t1) FROM f) AS n_signup,
        |  (SELECT count(*) FROM s2) AS n_click_14d,
        |  (SELECT count(*) FROM s3) AS n_purchase_14d""".stripMargin,

    "a6_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, min(ts) AS first_signup,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT c.cohort_week,
        |  CAST(datediff('day', c.cohort_week,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INTEGER) AS week_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN cohort c ON e.user_id = c.user_id
        |WHERE e.ts >= c.first_signup
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p23_cdc_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS val,
        |    TIMESTAMP '1970-01-01 00:00:00' AS ts, CAST(-1 AS BIGINT) AS seq,
        |    'U' AS op, CAST(0 AS BIGINT) AS is_change
        |  FROM customer),
        |chg AS (
        |  SELECT user_id AS key,
        |    CASE WHEN event_type = 'purchase' THEN value END AS val,
        |    ts, event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(1 AS BIGINT) AS is_change
        |  FROM events WHERE event_type IN ('purchase','error')),
        |log AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn,
        |    CAST(SUM(is_change) OVER (PARTITION BY key) AS BIGINT) AS n_changes
        |  FROM log)
        |SELECT key, val AS final_val, n_changes
        |FROM r WHERE rn = 1 AND op = 'U' ORDER BY key""".stripMargin,

    // p24: the compaction round-trip must preserve the event log exactly
    // — its oracle computes the same aggregate from the SOURCE table
    "p24_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "d10_cross_neardup" -> d10Sql,

    // d11: the bloom prefilter admits only false positives and the join
    // re-checks band equality, so the oracle is the PLAIN cross-carve
    // band join — the bloom is invisible to semantics
    "d11_incremental_neardup" -> d11Sql,

    // p39: the STREAMING admission path must reproduce d11's batch
    // answer EXACTLY — its oracle is d11's statement verbatim (e10's
    // serve-equals-build discipline applied to the stream)
    "p39_stream_neardup" -> d11Sql,

    // p40: the STREAMING semantic-decon admission must reproduce d19's
    // batch answer EXACTLY — its oracle is d19's statement verbatim
    // (p39's serve-equals-batch discipline at the semantic tier)
    "p40_stream_decon" -> d19Sql,

    // p41: the stateless ingest gate — t2's score and t3's argmax with
    // x1's first-failing verdict, one row per document; the stream must
    // reproduce this batch statement exactly
    "p41_stream_quality" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOK AS t FROM documents),
         |x AS (SELECT doc_id, lang, len(t) AS n_tokens, len(list_distinct(t)) AS n_unique,
         |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop,
         |  CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y','los'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','les','des'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(t, x -> x IN ('de5','shi4','le5','zai4','he2','you3'))) AS BIGINT) AS s_zh
         |  FROM d),
         |s AS (SELECT doc_id, lang,
         |  round(0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)
         |      + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
         |      + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 6) AS quality_score,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS pred_lang
         |  FROM x)
         |SELECT doc_id, quality_score, pred_lang, lang AS labeled_lang,
         |  CASE WHEN quality_score < 0.66 THEN 'low_quality'
         |       WHEN pred_lang <> lang THEN 'lang_mismatch'
         |       ELSE 'admitted' END AS verdict
         |FROM s ORDER BY doc_id""".stripMargin,

    "x5_source_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len($TOK) AS BIGINT) AS n_tok,
         |    ${h60("'cap_' || CAST(doc_id AS VARCHAR)")} AS rank FROM documents),
         |c AS (SELECT doc_id, source, n_tok,
         |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
         |      ORDER BY rank, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM d)
         |SELECT doc_id, source, n_tok, cum_before FROM c
         |WHERE cum_before < ${graft.operators.CorpusOps.SourceBudget}
         |ORDER BY source, doc_id""".stripMargin,

    "s8_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($TOK) AS BIGINT) AS n_tok FROM documents
         |  WHERE len($TOK) > 0),
         |h AS (SELECT doc_id, n_tok,
         |    ${h60("'ws_' || CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} AS h
         |  FROM (SELECT doc_id, n_tok, unnest(range(n_tok)) AS j FROM d) u)
         |SELECT doc_id, n_tok, min(h) AS min_h
         |FROM h GROUP BY 1, 2
         |ORDER BY min_h, doc_id LIMIT ${graft.operators.SketchOps.WsK}""".stripMargin,

    "p25_dq_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(event_id) AS n_null,
        |  count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type),
        |  count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'props', count(*), count(*) - count(props),
        |  count(DISTINCT props) FROM events
        |UNION ALL SELECT 'ts', count(*), count(*) - count(ts),
        |  count(DISTINCT ts) FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id),
        |  count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value),
        |  count(DISTINCT value) FROM events
        |ORDER BY col_name""".stripMargin,

    // p33: the per-column HLL profile replayed register-for-register —
    // same canonicalization (epoch-µs for ts, ×10⁶ half-up integer for
    // value: engine-portable IEEE arithmetic, unlike double/timestamp
    // string formatting), same md5 hash60, same 2^53-scaled estimator
    // as s4, so est_distinct matches bit-for-bit
    "p33_dq_profile_hll" ->
      s"""WITH st AS MATERIALIZED (
         |  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS v FROM events
         |  UNION ALL SELECT 'ts', CAST(epoch_us(ts) AS VARCHAR) FROM events
         |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
         |  UNION ALL SELECT 'event_type', event_type FROM events
         |  UNION ALL SELECT 'value',
         |    CAST(CAST(floor(LEAST(GREATEST(value, -9.0e12), 9.0e12) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) FROM events
         |  UNION ALL SELECT 'props', props FROM events),
         |hh AS (SELECT col_name,
         |    CASE WHEN v IS NULL THEN -1 ELSE ${h60("v")} % 256 END AS bucket,
         |    CASE WHEN v IS NULL THEN NULL ELSE ${h60("v")} // 256 END AS rest
         |  FROM st),
         |regs0 AS (SELECT col_name, bucket, COUNT(*) AS cnt,
         |    MAX(CASE WHEN rest = 0 THEN 53 ELSE 53 - length(bin(rest)) END) AS rho
         |  FROM hh GROUP BY 1, 2),
         |counts AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN bucket = -1 THEN cnt ELSE 0 END) AS BIGINT) AS n_null
         |  FROM regs0 GROUP BY 1),
         |names AS (SELECT DISTINCT col_name FROM st),
         |dense AS (SELECT n.col_name, t.b AS bucket, COALESCE(r.rho, 0) AS rho
         |  FROM names n CROSS JOIN range(256) t(b)
         |  LEFT JOIN regs0 r ON r.col_name = n.col_name AND r.bucket = t.b),
         |agg AS (SELECT col_name,
         |    CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - rho AS INTEGER)) AS BIGINT) AS s,
         |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
         |  FROM dense GROUP BY 1),
         |ex AS (
         |  SELECT 'event_id' AS col_name, COUNT(DISTINCT event_id) AS n_exact FROM events
         |  UNION ALL SELECT 'ts', COUNT(DISTINCT ts) FROM events
         |  UNION ALL SELECT 'user_id', COUNT(DISTINCT user_id) FROM events
         |  UNION ALL SELECT 'event_type', COUNT(DISTINCT event_type) FROM events
         |  UNION ALL SELECT 'value', COUNT(DISTINCT value) FROM events
         |  UNION ALL SELECT 'props', COUNT(DISTINCT props) FROM events)
         |SELECT a.col_name, c.n_rows, c.n_null,
         |  CASE WHEN CAST($SketchOpsAlpha AS DOUBLE) * 256 * 256 * 9007199254740992.0 / a.s <= 640.0
         |            AND a.v > 0
         |       THEN 256.0 * ln(256.0 / a.v)
         |       ELSE CAST($SketchOpsAlpha AS DOUBLE) * 256 * 256 * 9007199254740992.0 / a.s END
         |    AS est_distinct,
         |  ex.n_exact
         |FROM agg a JOIN counts c USING (col_name) JOIN ex USING (col_name)
         |ORDER BY col_name""".stripMargin,

    // DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes — exactly
    // the bytes Spark's md5(cast(text as binary)) hashes
    // m4: the stub feature extractor regenerates identically in SQL
    // (per-dim md5-derived ints), so the whole extract→score→top-k
    // chain is integer-exact cross-engine
    "m4_blob_embed_sim" ->
      s"""WITH $m4EmbCte,
         |${panelCte("documents", "doc_id", graft.operators.MultimodalOps.EmbQueryStride)},
         |pr AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id,
         |    list_dot_product(q.v, c.v) AS dot,
         |    list_dot_product(q.v, q.v) AS na,
         |    list_dot_product(c.v, c.v) AS nb
         |  FROM emb q JOIN emb c ON q.doc_id <> c.doc_id
         |  WHERE q.doc_id IN (SELECT doc_id FROM panel)),
         |r AS (SELECT q_id, c_id, dot / sqrt(na * nb) AS score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY dot / sqrt(na * nb) DESC, c_id) AS rnk
         |  FROM pr)
         |SELECT q_id, rnk, c_id, round(score, 6) AS score
         |FROM r WHERE rnk <= ${graft.operators.MultimodalOps.EmbTopK}
         |ORDER BY q_id, rnk""".stripMargin,

    // m10: m4's vectors served through the e5 IVF composition — the
    // oracle replays the whole chain: m10-salted hyperplane cells,
    // exact-integer centroid state, the n-scaled probe identity, and
    // the within-cell exact-cosine rerank
    "m10_blob_ann" ->
      s"""WITH $m4EmbCte,
         |${panelCte("documents", "doc_id", graft.operators.MultimodalOps.EmbQueryStride)},
         |m10b AS MATERIALIZED (SELECT CAST(COALESCE(MIN(x), 20) AS INTEGER) AS b FROM range(2, 21) t(x)
         |  WHERE (CAST(1 AS BIGINT) << x) * ${graft.operators.MultimodalOps.M10CellTarget}
         |    >= (SELECT COUNT(*) FROM documents)),
         |planes AS (SELECT CAST(p AS INTEGER) AS p, CAST(d AS INTEGER) AS d,
         |    ${h60("'m10_hp_' || p || '_' || d")} % 2001 - 1000 AS w
         |  FROM range(20) t1(p)
         |  CROSS JOIN range(${graft.operators.MultimodalOps.EmbDims}) t2(d), m10b
         |  WHERE p < m10b.b),
         |unp AS MATERIALIZED (SELECT doc_id, generate_subscripts(v, 1) - 1 AS d,
         |    unnest(v) AS val FROM emb),
         |pd AS (SELECT u.doc_id, pl.p, SUM(u.val * pl.w) AS dot
         |  FROM unp u JOIN planes pl ON u.d = pl.d GROUP BY 1, 2),
         |cells AS MATERIALIZED (SELECT doc_id,
         |    CAST(SUM((CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << p) AS BIGINT) AS label
         |  FROM pd GROUP BY doc_id),
         |ec AS MATERIALIZED (SELECT e.doc_id, e.v, c.label FROM emb e JOIN cells c USING (doc_id)),
         |cda AS (SELECT label, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS val FROM ec),
         |cd AS (SELECT label, d, SUM(val) AS s, COUNT(*) AS n FROM cda GROUP BY 1, 2),
         |cent AS MATERIALIZED (SELECT label, list(s ORDER BY d) AS s, min(n) AS n,
         |    SUM(s * s) AS ss FROM cd GROUP BY label),
         |qq AS (SELECT doc_id AS q_id, v AS qv, list_dot_product(v, v) AS q2
         |  FROM emb WHERE doc_id IN (SELECT doc_id FROM panel)),
         |qd AS (SELECT q.q_id, q.qv, c.label,
         |    c.n * c.n * q.q2 - 2 * c.n * list_dot_product(q.qv, c.s) + c.ss AS dist2
         |  FROM qq q CROSS JOIN cent c),
         |pr AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY dist2, label) AS crnk FROM qd),
         |cand AS (SELECT p.q_id, p.qv, c.doc_id AS c_id, c.v AS cv
         |  FROM pr p JOIN ec c ON c.label = p.label
         |  WHERE p.crnk <= ${graft.operators.MultimodalOps.M10NProbe}
         |    AND c.doc_id <> p.q_id),
         |r AS (SELECT q_id, c_id,
         |    list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) DESC,
         |      c_id) AS rnk
         |  FROM cand)
         |SELECT q_id, rnk, c_id, round(score, 6) AS score
         |FROM r WHERE rnk <= ${graft.operators.MultimodalOps.M10TopK}
         |ORDER BY q_id, rnk""".stripMargin,

    // m3's identity key is sha2-256 (collision-resistant, unlike md5);
    // DuckDB's sha256() hashes the same UTF-8 bytes to the same hex
    "m3_blob_dedup" ->
      """SELECT sha256(text) AS sha,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin,

    // x8: the card replays x6's split hash, t2's quality formula in
    // exact millionths (integer floor div — no float summation), and
    // d9's shared-passage rule as the per-doc boilerplate flag
    "x8_dataset_card" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOK AS t,
         |    ${h60("'split_' || CAST(doc_id AS VARCHAR)")} % 1000000 AS u
         |  FROM documents),
         |x AS (SELECT doc_id, lang,
         |    CASE WHEN u < ${graft.operators.CorpusOps.ValStartPpm} THEN 'train'
         |         WHEN u < ${graft.operators.CorpusOps.TestStartPpm} THEN 'val'
         |         ELSE 'test' END AS split,
         |    CAST(len(t) AS BIGINT) AS n,
         |    CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
         |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT) AS n_stop
         |  FROM d),
         |pa AS (SELECT doc_id, t[u*8+1 : u*8+8] AS w
         |  FROM (SELECT doc_id, t, len(t) AS n FROM d),
         |       unnest(range(0, (n + 7) // 8)) AS xx(u)),
         |pf AS (SELECT doc_id, md5(array_to_string(w, ' ')) AS fp FROM pa WHERE len(w) = 8),
         |shared AS (SELECT fp FROM pf GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
         |boiler AS (SELECT DISTINCT doc_id FROM pf WHERE fp IN (SELECT fp FROM shared)),
         |contam AS (SELECT doc_id FROM ($x3Sql) ct),
         |ndup AS (SELECT doc_id FROM ($d5Sql) nd),
         |f AS (SELECT lang, split, n,
         |    CASE WHEN n > 0 THEN (300000 * n_unique + 400000 * (n - n_stop)) // n + 3000 * least(n, 100)
         |         ELSE 0 END AS q_micro,
         |    CASE WHEN doc_id IN (SELECT doc_id FROM boiler) THEN 1 ELSE 0 END AS is_boiler,
         |    CASE WHEN doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END AS is_contam,
         |    CASE WHEN doc_id IN (SELECT doc_id FROM ndup) THEN 1 ELSE 0 END AS is_ndup
         |  FROM x)
         |SELECT lang, split,
         |  count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(is_boiler) AS BIGINT) AS n_boiler_docs,
         |  (CAST(sum(is_boiler) AS BIGINT) * 1000000) // count(*) AS boiler_ppm,
         |  CAST(sum(is_contam) AS BIGINT) AS n_contam_docs,
         |  (CAST(sum(is_contam) AS BIGINT) * 1000000) // count(*) AS contam_ppm,
         |  CAST(sum(is_ndup) AS BIGINT) AS n_neardup_docs,
         |  (CAST(sum(is_ndup) AS BIGINT) * 1000000) // count(*) AS neardup_ppm,
         |  CAST(sum(q_micro) AS BIGINT) // count(*) AS mean_q_micro,
         |  min(n) AS min_tok, max(n) AS max_tok
         |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x6_split_assign" ->
      s"""WITH d AS (SELECT doc_id, lang, CAST(len($TOK) AS BIGINT) AS n_tok,
         |    ${h60("'split_' || CAST(doc_id AS VARCHAR)")} % 1000000 AS u
         |  FROM documents),
         |s AS (SELECT lang, n_tok,
         |    CASE WHEN u < ${graft.operators.CorpusOps.ValStartPpm} THEN 'train'
         |         WHEN u < ${graft.operators.CorpusOps.TestStartPpm} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM d)
         |SELECT lang, split, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // p27: the streaming materialized view is bit-equal to the batch
    // merge, so its oracle IS p23's statement verbatim
    "p27_stream_cdc" ->
      """WITH base AS (
        |  SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS val,
        |    TIMESTAMP '1970-01-01 00:00:00' AS ts, CAST(-1 AS BIGINT) AS seq,
        |    'U' AS op, CAST(0 AS BIGINT) AS is_change
        |  FROM customer),
        |chg AS (
        |  SELECT user_id AS key,
        |    CASE WHEN event_type = 'purchase' THEN value END AS val,
        |    ts, event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(1 AS BIGINT) AS is_change
        |  FROM events WHERE event_type IN ('purchase','error')),
        |log AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn,
        |    CAST(SUM(is_change) OVER (PARTITION BY key) AS BIGINT) AS n_changes
        |  FROM log)
        |SELECT key, val AS final_val, n_changes
        |FROM r WHERE rn = 1 AND op = 'U' ORDER BY key""".stripMargin,

    // p26: the streaming counts are exactly-once by the watermarked
    // dedup, so the monitor's oracle IS a7's statement verbatim
    "p26_stream_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, date, n,
        |    CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS sum7,
        |    CAST(COUNT(n) OVER w AS BIGINT) AS cnt7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY date
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, date, n, sum7, cnt7,
        |  CASE WHEN cnt7 < 3 THEN 'warmup'
        |       WHEN n * 2 * cnt7 > sum7 * 3 THEN 'high'
        |       WHEN n * 2 * cnt7 < sum7 THEN 'low'
        |       ELSE 'normal' END AS flag
        |FROM t ORDER BY event_type, date""".stripMargin,

    // p29: parsed rows must equal the source table exactly (JSON
    // round-trips doubles via shortest-repr); the DLQ count is the 3
    // payloads the operator itself injects — a constant by construction
    "p29_json_ingest" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(3 AS BIGINT) AS n_dlq
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // p28: the streamed sketch must equal the batch-built one — the
    // oracle recomputes s5's cell math over the events table
    "p28_stream_cms" ->
      s"""WITH h AS (SELECT user_id,
         |  md5('cm_' || CAST(user_id AS VARCHAR)) AS mh FROM events),
         |rows_d AS (SELECT user_id, d,
         |  CAST(('0x' || substr(mh, 1 + 8 * d, 8)) AS BIGINT) % 4096 AS cell
         |  FROM h, range(4) t(d)),
         |sketch AS (SELECT d, cell, count(*) AS cnt FROM rows_d GROUP BY 1, 2),
         |truth AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1
         |  ORDER BY true_cnt DESC, user_id LIMIT 10),
         |th AS (SELECT user_id, true_cnt,
         |  md5('cm_' || CAST(user_id AS VARCHAR)) AS mh FROM truth),
         |cand AS (SELECT user_id, true_cnt, d,
         |  CAST(('0x' || substr(mh, 1 + 8 * d, 8)) AS BIGINT) % 4096 AS cell
         |  FROM th, range(4) t(d))
         |SELECT c.user_id, max(c.true_cnt) AS true_cnt, min(s.cnt) AS est_cnt
         |FROM cand c JOIN sketch s ON c.d = s.d AND c.cell = s.cell
         |GROUP BY c.user_id ORDER BY true_cnt DESC, user_id""".stripMargin,

    "q32_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
         |  count(*) AS n_items,
         |  ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
         |ORDER BY g_flag, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "a10_rfm" ->
      s"""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         |mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM p),
         |u AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         |    count(*) AS freq, ${dsum("value")} AS monetary
         |  FROM p GROUP BY 1),
         |q AS (SELECT u.*, datediff('day', last_day, max_day) AS recency_days
         |  FROM u, mx),
         |s AS (SELECT user_id, freq,
         |    ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r,
         |    ntile(4) OVER (ORDER BY freq DESC, user_id) AS f,
         |    ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m
         |  FROM q)
         |SELECT r * 100 + f * 10 + m AS rfm_segment, count(*) AS n_users,
         |  CAST(sum(freq) AS BIGINT) AS total_purchases
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "a9_gap_fill" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS date,
         |    count(*) AS n, ${dsum("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(CAST(ts AS DATE)) AS dmin,
         |             max(CAST(ts AS DATE)) AS dmax FROM events),
         |spine AS (
         |  SELECT t.event_type, CAST(u.d AS DATE) AS date
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN b,
         |  LATERAL (SELECT unnest(generate_series(b.dmin, b.dmax,
         |    INTERVAL 1 DAY)) AS d) u)
         |SELECT s.event_type, s.date,
         |  COALESCE(d.n, 0) AS n_events,
         |  COALESCE(d.v, 0.0) AS total_value,
         |  d.n IS NULL AS is_gap
         |FROM spine s LEFT JOIN daily d
         |  ON s.event_type = d.event_type AND s.date = d.date
         |ORDER BY s.event_type, s.date""".stripMargin,

    "a8_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_ppm
        |FROM cnt ORDER BY prev_type, next_type""".stripMargin,

    "a7_kpi_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, date, n,
        |    CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS sum7,
        |    CAST(COUNT(n) OVER w AS BIGINT) AS cnt7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY date
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, date, n, sum7, cnt7,
        |  CASE WHEN cnt7 < 3 THEN 'warmup'
        |       WHEN n * 2 * cnt7 > sum7 * 3 THEN 'high'
        |       WHEN n * 2 * cnt7 < sum7 THEN 'low'
        |       ELSE 'normal' END AS flag
        |FROM t ORDER BY event_type, date""".stripMargin
  )
}
