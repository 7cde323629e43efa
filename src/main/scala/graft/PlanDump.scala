package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan capture: `PlanDump [query...]` writes each named query's (every
  * registered query's when none are named)
  * `.explain("formatted")` output, headed by its [[PlanAudit]] metrics, to
  * `$SPARK_GRAFT_PLAN_DIR/<name>_<suffix>.txt` (suffix from
  * SPARK_GRAFT_PLAN_SUFFIX), so plan claims can be checked against files.
  *
  * Each query is first materialized through the noop sink, so at-rest
  * queries dump their warm read-path plan rather than the one-off build
  * plan, and the fresh planning pass afterwards reflects the state the
  * bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val selected = Harness.select(args.toSeq)
    val spark = Harness.session(32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { case (n, fn) =>
      Harness.run(spark, n, fn, sfDir)(Harness.noop)
      Harness.run(spark, n, fn, sfDir) { df =>
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val audit = PlanAudit.metrics(df)
          .map { case (k, v) => s"$k=$v" }.mkString("-- PlanAudit: ", " ", "\n")
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          (audit + txt).getBytes("UTF-8"))
        println(s"PLANDUMP WROTE $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
