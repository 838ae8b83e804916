package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Messages of `err` and its causes: an error raised in a Spark task
    * reaches the caller wrapped in a SparkException. */
  def messages(err: Throwable): Seq[String] =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  /** AQE-aware physical-plan traversal shared by the plan-pin specs —
    * adaptive roots, query stages, and reused subqueries all hide their
    * subtrees from `children`, so a naive walk sees an empty tree. One
    * implementation here; a Spark upgrade that changes adaptive nesting
    * gets fixed in one place. */
  def walkPlan(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      walkPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: walkPlan(q.plan)
    case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
      walkPlan(r.child)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(walkPlan)
  }

  /** Execute `df` and walk its final (adaptive) physical plan. */
  def executedPlan(df: org.apache.spark.sql.DataFrame):
      Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    walkPlan(df.queryExecution.executedPlan)
  }
}
