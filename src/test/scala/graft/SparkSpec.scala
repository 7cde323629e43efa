package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, UTC). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // Hive catalog (north star: Spark SQL + HiveContext) — derby
      // metastore kept out of the repo tree
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=/tmp/graft_metastore;create=true")
      .config("spark.ui.enabled", "false")
      // plan-shape assertions read scan locations from the printed plan;
      // the default 100-char abbreviation keeps more or less of an
      // at-rest path depending on where the repository is checked out
      .config("spark.sql.maxMetadataStringLength", "1000")
      .enableHiveSupport())
      .getOrCreate()
    // ERROR, not WARN (r18): the full suite emitted thousands of
    // WindowExec / function-replaced WARN lines from small test
    // fixtures; they buried the per-suite tally in the driver's bounded
    // output-tail capture and added real I/O to the run. No test
    // asserts on log content.
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
