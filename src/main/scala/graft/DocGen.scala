package graft

import scala.jdk.CollectionConverters._

/** Dev-only generator (NOT driver contract) for MEMOGRAPH.md — the
  * auditable reuse topology of the 182-key API surface: which memoized
  * substrates each query rides, and which substrates build on which.
  *
  * Method: install the [[graft.operators.DedupOps.MemoTrace]] recorder,
  * construct every `SparkEntry.queries` entry once at sf0.001 under its
  * key as the trace label, and collect (owner → memo key) access edges.
  * Accesses made INSIDE a substrate's build are attributed to that
  * substrate (a thread-local build stack), so the substrate→substrate
  * layer is recorded independently of which query happened to build it
  * first; per-query substrate closures are then computed transitively —
  * order-independent by construction.
  *
  * Usage: runMain graft.DocGen [outPath]   (default MEMOGRAPH.md)
  */
object DocGen {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "MEMOGRAPH.md"
    val dir = "/root/testdata/sf0.001"
    val spark = GraftSession(dir)
    spark.sparkContext.setLogLevel("ERROR")

    val trace = graft.operators.DedupOps.MemoTrace
    trace.edges = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      trace.label = name
      try fn(spark, dir)
      catch { case e: Throwable => failures += name -> e.toString }
      finally trace.label = null
    }
    require(failures.isEmpty,
      s"query construction failed for: ${failures.mkString("; ")}")

    val edges = trace.edges.asScala.toSet
    trace.edges = null
    val queryKeys = SparkEntry.queries.keySet
    val direct: Map[String, Set[String]] =
      edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def closure(start: Set[String]): Set[String] = {
      var seen = Set.empty[String]
      var frontier = start
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(k => direct.getOrElse(k, Set.empty)) -- seen
      }
      seen
    }

    // key → implementing function, parsed from the SparkEntry source
    // (eta-expanded method refs); "(inline)" for lambda entries
    val entrySrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val fnOf: Map[String, String] =
      """"([\w]+)"\s*->\s*([\w.]+)\s+_""".r.findAllMatchIn(entrySrc)
        .map(m => m.group(1) -> m.group(2)).toMap

    val sb = new StringBuilder
    sb ++= "# MEMOGRAPH — substrate reuse topology\n\n"
    sb ++= "GENERATED by `runMain graft.DocGen` — do not edit by hand.\n"
    sb ++= "One row per `SparkEntry.queries` key: the implementing\n"
    sb ++= "function, the memoized substrates the query touches directly,\n"
    sb ++= "and its full transitive substrate closure. A substrate shared\n"
    sb ++= "by many rows is materialized ONCE per session+dir (the memo\n"
    sb ++= "contract in `DedupOps.memoized`). MemographSpec CI-diffs the\n"
    sb ++= "key column against `SparkEntry.queries`.\n\n"
    sb ++= "## Queries\n\n"
    sb ++= "| key | function | direct substrates | full closure |\n"
    sb ++= "| --- | --- | --- | --- |\n"
    queryKeys.toSeq.sorted.foreach { k =>
      val d = direct.getOrElse(k, Set.empty)
      val c = closure(d)
      def fmt(s: Set[String]) = if (s.isEmpty) "—" else s.toSeq.sorted.mkString(", ")
      sb ++= s"| `$k` | ${fnOf.getOrElse(k, "(inline)")} | ${fmt(d)} | ${fmt(c)} |\n"
    }
    val substrates = edges.collect { case (o, _) if !queryKeys(o) => o } ++
      edges.map(_._2)
    sb ++= "\n## Substrate → substrate\n\n"
    sb ++= "| substrate | builds on |\n| --- | --- |\n"
    substrates.toSeq.sorted.foreach { s =>
      val deps = direct.getOrElse(s, Set.empty)
      if (deps.nonEmpty || !substrates.exists(x => direct.getOrElse(x, Set.empty)(s)))
        sb ++= s"| `$s` | ${if (deps.isEmpty) "—" else deps.toSeq.sorted.mkString(", ")} |\n"
    }
    val shared = edges.map(_._2).toSeq
      .map(k => k -> edges.count(_._2 == k)).toMap.filter(_._2 > 1)
    sb ++= "\n## Most-shared substrates\n\n"
    sb ++= "| substrate | consumers |\n| --- | --- |\n"
    shared.toSeq.sortBy(-_._2).take(15).foreach { case (k, n) =>
      sb ++= s"| `$k` | $n |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[docgen] wrote $out: ${queryKeys.size} keys, " +
      s"${edges.size} edges")
    spark.stop()
  }
}
