package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run every query against `sfDir`, writing one parquet dir per query
    * under `outDir`, plus `oracle_sql.json` and `_errors.json`.
    *
    * Failures must be LOUD: a throwing query used to print to stderr and
    * write nothing, so the driver's correctness record silently shrank —
    * a broken entry was indistinguishable from a removed one (this hid a
    * 5-query analysis regression for two rounds). Every failure is
    * recorded as `{name: "Class: message"}` in `_errors.json` (written
    * even when empty, so its absence is itself a signal), and the run
    * continues to the next query. Returns the error map; VerifySpec
    * pins the failure path with a deliberately-broken query.
    */
  def runAll(spark: SparkSession, sfDir: String, outDir: String,
             queries: Map[String, (SparkSession, String) => DataFrame],
             oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // each query's terminal action is done — drop its tracked caches
      graft.ops.CacheRegistry.releaseAll()
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
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  /** args: sfDir outDir [queryName...] — names (if given) restrict the
    * run to those entries, for cheap targeted local checks; the driver's
    * 2-arg form runs everything. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session users run: the oracle gate checks every entry
      // under the engine's planner rules
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would otherwise verify nothing and look green")
    val qs = if (only.isEmpty) SparkEntry.queries
             else SparkEntry.queries.view.filterKeys(only).toMap
    val os = if (only.isEmpty) SparkEntry.oracleSql
             else SparkEntry.oracleSql.view.filterKeys(only).toMap
    runAll(spark, sfDir, outDir, qs, os)
    spark.stop()
  }
}
