package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Correctness dump for the DuckDB oracle compare (`tools/check.py`):
  * `Verify <sfDir> <outDir> [query...]` writes each selected query's
  * result (all of them when none are named) to `<outDir>/<name>` as one
  * parquet file, plus `<outDir>/oracle_sql.json` with every query's
  * oracle SQL. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val selected = Harness.select(args.drop(2).toSeq)
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) => dump(spark, name, fn, sfDir, outDir) }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => "\"" + Harness.esc(k) + "\": \"" + Harness.esc(v) + "\"" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes query `name`'s result to `<outDir>/<name>`; returns false on
    * failure. A failed query leaves no directory behind: in a reused
    * outDir a prior run's dump would otherwise be compared in its place
    * and report a false pass. */
  private[graft] def dump(spark: SparkSession, name: String, fn: Harness.Builder,
      sfDir: String, outDir: String): Boolean = {
    val dir = new java.io.File(outDir, name)
    val ok = Harness.run(spark, name, fn, sfDir)(
      _.coalesce(1).write.mode("overwrite").parquet(dir.getPath)).isDefined
    if (!ok) AtRest.deleteRecursively(dir)
    ok
  }
}
