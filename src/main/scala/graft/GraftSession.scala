package graft

import org.apache.spark.sql.SparkSession
import graft.functions.F

/** The one way graft builds a `SparkSession`. Bench, Verify, the dev
  * tools ([[Dev]], [[DocGen]], [[ScaleGen]]) and the test session all
  * build through [[GraftSession.apply]], so their configs cannot drift
  * apart.
  *
  * Local file I/O needs no key here: `core-site.xml` on the classpath
  * puts every `file:` path of every Hadoop conf in the JVM on
  * [[graft.io.LocalFs]] and every streaming checkpoint on
  * [[graft.io.LocalCheckpointFileManager]] (why: [[graft.io.LocalFs]]).
  *
  * The session's `SPARK_GRAFT_*` knobs are read through [[intKnob]],
  * [[flagKnob]], [[memoLevel]] and [[stateParts]], which name the
  * variable when its value is not valid, before any session starts. */
object GraftSession {

  /** Bench's session over `dataDir`: `master` (default `local[threads]`)
    * with `threads` shuffle partitions, the UTC session zone, graft's SQL
    * extensions, no UI, the object-agg fallback and codegen cache sizes
    * of [[F]], and the scan split sized to the input ([[splitMb]]).
    * `SPARK_GRAFT_MEMO_LEVEL` sets `graft.memo.level`, the storage
    * level of memoized substrates (e.g. `MEMORY_AND_DISK_SER` at carve
    * scale), and `SPARK_GRAFT_STATE_PARTS` sets `graft.state.parts`, the
    * state store count of the finite stream runs. `conf` adds keys that
    * belong to one caller only. */
  def apply(dataDir: String, threads: Int = cpus(), master: Option[String] = None,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val level = memoLevel()
    val parts = stateParts()
    val mb = splitMb(dataDir)
    val split =
      if (mb > 0) Seq(
        "spark.sql.files.maxPartitionBytes" -> s"${mb.toLong * 1024 * 1024}",
        "spark.sql.files.openCostInBytes" -> s"${1024 * 1024}")
      else Nil
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> threads.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false",
      // see F.ObjectAggFallbackGroups
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        F.ObjectAggFallbackGroups.toString,
      // see F.CodegenCacheEntries
      "spark.sql.codegen.cache.maxEntries" -> F.CodegenCacheEntries.toString) ++ split ++ conf
    val spark = keys.foldLeft(SparkSession.builder().master(master.getOrElse(s"local[$threads]"))) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    level.foreach(l => spark.conf.set("graft.memo.level", l))
    parts.foreach(n => spark.conf.set("graft.state.parts", n.toString))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`: local threads and shuffle partitions (default 4). */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    intKnob("SPARK_GRAFT_CPUS", 1, env).getOrElse(4)

  /** `SPARK_GRAFT_MEMO_LEVEL`: a storage level name
    * (`StorageLevel.fromString`) for memoized substrates, if set. */
  def memoLevel(env: collection.Map[String, String] = sys.env): Option[String] =
    env.get("SPARK_GRAFT_MEMO_LEVEL").map { v =>
      try { org.apache.spark.storage.StorageLevel.fromString(v); v }
      catch {
        case _: IllegalArgumentException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_MEMO_LEVEL must name a storage level (e.g. MEMORY_AND_DISK_SER), got '$v'")
      }
    }

  /** `SPARK_GRAFT_STATE_PARTS`: the dev A/B override of the state store
    * count of the finite stream runs (input-sized by default, see
    * `StreamPipeline.materializeStateParts`), if set. */
  def stateParts(env: collection.Map[String, String] = sys.env): Option[Int] =
    intKnob("SPARK_GRAFT_STATE_PARTS", 1, env)

  /** `SPARK_GRAFT_SPLIT_MB`: the dev A/B override of the input-sized scan
    * split, in MB; 0 keeps Spark's defaults. */
  def splitMbOverride(env: collection.Map[String, String] = sys.env): Option[Int] =
    intKnob("SPARK_GRAFT_SPLIT_MB", 0, env)

  /** The scan split for `dataDir` in MB, 0 for Spark's defaults: the
    * override if set, else sized to the input ([[F.autoSplitMb]]). */
  def splitMb(dataDir: String): Int = splitMbOverride().getOrElse(F.autoSplitMb(dataDir))

  /** The per-query split refinement Bench and Verify share
    * ([[F.SplitTuner]]); off under the split override, which keeps its
    * fixed-config meaning. */
  def splitTuner(spark: SparkSession, dataDir: String): F.SplitTuner = {
    val mb = splitMb(dataDir)
    new F.SplitTuner(spark, dataDir, mb, enabled = mb > 0 && splitMbOverride().isEmpty)
  }

  /** The integer knob `name` of `env`, if set. */
  def intKnob(name: String, min: Int, env: collection.Map[String, String] = sys.env): Option[Int] =
    env.get(name).map(parseKnob(name, min))

  /** The 0/1 knob `name` of `env`, if set, or an error that names it. */
  def flagKnob(name: String, env: collection.Map[String, String]): Option[Boolean] =
    env.get(name).map(_.trim match {
      case "0" => false
      case "1" => true
      case v => throw new IllegalArgumentException(s"$name must be 0 or 1, got '$v'")
    })

  /** `v` as an integer of at least `min`, or an error that names `name`. */
  def parseKnob(name: String, min: Int)(v: String): Int = {
    def bad = new IllegalArgumentException(s"$name must be an integer >= $min, got '$v'")
    val n = try v.trim.toInt catch { case _: NumberFormatException => throw bad }
    if (n < min) throw bad
    n
  }
}
