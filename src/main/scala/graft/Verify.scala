package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only filter for iterating on a subset (same contract as
    // Bench's, checked before the session starts); unset, every key is
    // verified
    val only = SparkEntry.onlyKeys(sys.env.get("SPARK_GRAFT_ONLY"))
    // Bench's session, split override included, so the two mains can
    // never silently run different scan configs
    val spark = GraftSession(sfDir)
    new java.io.File(outDir).mkdirs()
    // same ReadSchema-sized split refinement as Bench
    val tuner = GraftSession.splitTuner(spark, sfDir)
    // every key is written even after one fails; the failures make the
    // exit code non-zero at the end
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          tuner.build(name, fn).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release this dir's memoized substrate persists — memo hygiene for
    // sessions that verify more than one dir
    operators.DedupOps.clearMemo(spark, sfDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} keys failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
