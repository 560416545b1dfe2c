package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Dev-only scale-up generator (NOT driver contract): derives an
  * N×-replicated dataset from a driver testdata dir so the full gate
  * and bench can be exercised at 10× the largest shipped SF
  * (SCALE.md's empirical scale point). Replica 0 is the identity, so
  * the output strictly contains the source data.
  *
  * Replication is key-shifted and referentially consistent: fact keys
  * shift per replica (orders ↔ lineitem, customer ↔ orders,
  * part/supplier ↔ lineitem, events.user_id, documents.doc_id,
  * embeddings.vec_id); the constant dims (region, nation) are copied
  * unchanged. Text/props payloads are copied VERBATIM per replica —
  * deliberate: cross-replica exact/near duplicates are precisely the
  * hot-bucket redundancy a 100 TB crawl corpus exhibits, so the dedup
  * family's prunes and caps face real pressure at the scale point.
  * Embedding dim-0 is nudged by r·0.001 so replicated vectors are not
  * bitwise ties in cosine ranking.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> [factor] [tables] [salt]
  * `tables` (comma list) restricts output — e.g. `embeddings` derives
  * the n ≥ 10⁶ embeddings-only carve that exercises adaptiveK's √n
  * branch and the geometry caps without paying a 64× text corpus.
  *
  * `salt` (literal "salt" as the 5th arg): per-replica position-keyed
  * text salting for LARGE document carves. Verbatim replication makes
  * every near-dup cluster 64× bigger at factor 64, so pair outputs
  * (d2/d3/d4) grow SF² — ~10⁹ rows at a 3.2M-doc carve, which is a
  * testdata artifact, not the target workload: a real crawl corpus at
  * any n has BOUNDED dup-cluster sizes and pair counts ~linear in n.
  * Salting suffixes every 3rd token with the replica id (replica 0
  * stays verbatim, so the output still contains the source), which
  * zeroes cross-replica 3-gram/8-gram shingle overlap — every shingle
  * window contains a salted position — while preserving intra-replica
  * near-dup pairs exactly (the driver's near-dups are HEAD-ALIGNED
  * tail-insertions, measured round 16, so position keying from the
  * head never de-aligns a cluster). Cluster sizes and the per-replica
  * pair structure match the source; n grows 64×.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcDir> <outDir> [factor] [tables] [salt]")
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables: Set[String] = if (args.length > 3)
      args(3).split(",").map(_.trim).toSet
    else Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val saltDocs = args.length > 4 && args(4) == "salt"
    val spark = GraftSession(src)

    val reps = spark.range(factor.toLong).select(col("id").as("r"))

    /** Cross the table with the replica axis and shift the named int64
      * key columns by r·stride (stride chosen past each key's range). */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val crossed = df.crossJoin(broadcast(reps))
      shifts.foldLeft(crossed) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("r") * stride)
      }
    }

    def read(name: String) = Tables.raw(spark, src, name)
    // df is BY-NAME: the source read must not evaluate for unselected
    // tables, or a partial source dir (e.g. a documents+embeddings
    // carve used as the next derivation level) fails on the eager
    // read of a table the run never asked for.
    def write(df: => DataFrame, name: String): Unit = if (tables(name)) {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> ${Tables.raw(spark, out, name).count()} rows")
    }

    /** Key stride = the next power of ten PAST the key's actual max in
      * the SOURCE — so replication composes: a carve derived from an
      * already-replicated dir keeps ids unique. The original fixed 10⁶
      * strides collided on two-level derivation (sf1 vec_ids span
      * 0..9·10⁶+1999, so a ×64 second level re-used each id ~9.5× —
      * found round 16 when e23's oracle id-join squared the
      * multiplicity while the Spark single-pass side did not). The
      * stride stays a power of ten so residue-class carve rules
      * (% 4 / % 10 / % 20 / % 25) are replica-invariant, exactly as
      * before. */
    def strideOf(keys: (String, String)*): Long = {
      val mx = keys.flatMap { case (table, key) =>
        // probe existence by attempting the read (works for any
        // filesystem URI — a java.io.File probe silently drops
        // hdfs://-style paths and reverts to the default stride,
        // reintroducing the id-collision bug this derivation fixes);
        // the max arrives via toString.toLong so an int32 key column
        // still derives, and an empty table (NULL max) contributes
        // nothing rather than NPE-ing
        try Option(read(table).agg(max(col(key))).head().get(0))
          .map(_.toString.toLong)
        catch {
          case _: org.apache.spark.sql.AnalysisException => None
        }
      }
      var s = 1000000L
      while (mx.nonEmpty && s <= mx.max) s *= 10
      s
    }

    // One stride per ID DOMAIN (not per column): every column of a
    // domain shifts by the same amount or referential joins break —
    // and documents/embeddings share a domain (vec_id aligns 1:1 with
    // doc_id for d19/e9/m-family).
    lazy val custS = strideOf("customer" -> "c_custkey", "events" -> "user_id")
    lazy val suppS = strideOf("supplier" -> "s_suppkey")
    lazy val partS = strideOf("part" -> "p_partkey")
    lazy val orderS = strideOf("orders" -> "o_orderkey")
    lazy val eventS = strideOf("events" -> "event_id")
    lazy val docS = strideOf("documents" -> "doc_id", "embeddings" -> "vec_id")

    // constant dims: verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"), "c_custkey" -> custS)
      .drop("r"), "customer")
    write(replicate(read("supplier"), "s_suppkey" -> suppS)
      .drop("r"), "supplier")
    write(replicate(read("part"), "p_partkey" -> partS)
      .drop("r"), "part")
    write(replicate(read("orders"),
      "o_orderkey" -> orderS, "o_custkey" -> custS).drop("r"), "orders")
    write(replicate(read("lineitem"),
      "l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)
      .drop("r"), "lineitem")
    write(replicate(read("events"),
      "event_id" -> eventS, "user_id" -> custS).drop("r"), "events")
    val docsRep = replicate(read("documents"), "doc_id" -> docS)
    val docsOut =
      if (!saltDocs) docsRep.drop("r")
      else docsRep
        .withColumn("text", when(col("r") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              (t, i) => when(i % 3 === 0, concat(t, lit("x"), col("r"))).otherwise(t)),
            " ")))
        .withColumn("n_chars", length(col("text")))
        .drop("r")
    write(docsOut, "documents")
    write(replicate(read("embeddings"), "vec_id" -> docS)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 " +
          "THEN x + r * CAST(0.001 AS FLOAT) ELSE x END AS FLOAT))"))
      .drop("r"), "embeddings")

    spark.stop()
  }
}
