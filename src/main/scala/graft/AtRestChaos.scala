package graft

import org.apache.spark.sql.SparkSession

/** Second-JVM worker for the cross-process at-rest maintenance proof
  * (CrossProcessAtRestSpec): runs a compact loop or a tombstone-fold
  * loop against an index tree that ANOTHER process (the test JVM) is
  * concurrently compacting, appending tombstone ticks to, and reading.
  * Same-process concurrency is already serialized by the AtRest JVM
  * monitor; this main exists so the spec exercises the cross-process
  * interleavings the monitor cannot see — the FileLock in
  * [[AtRest.withMaintenanceLock]] plus the two-rename healer contract
  * are the code under test.
  *
  * Prints `CHAOS_READY` once its session is up (the spec waits for it,
  * so the two processes' loops genuinely overlap) and `CHAOS_OK` after
  * the loop completes; any exception exits non-zero. Sleeps use fixed
  * small jitter derived from the iteration index (deterministic — no
  * wall-clock seeding) to vary the interleaving phase between reps.
  */
object AtRestChaos {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = Tables.configure(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("CHAOS_READY")
    System.out.flush()
    try {
      mode match {
        case "compact" =>
          val dir = args(1); val iters = args(2).toInt
          (0 until iters).foreach { i =>
            AtRest.compact(spark, dir, Seq("doc_id"), numFiles = 1 + (i % 4))
            Thread.sleep(10 + (i * 7) % 40)
          }
        case "fold" =>
          val indexDir = args(1); val tombDir = args(2); val iters = args(3).toInt
          (0 until iters).foreach { i =>
            AtRest.applyTombstones(spark, indexDir, tombDir, Seq("doc_id"))
            Thread.sleep(20 + (i * 13) % 60)
          }
        case other => sys.error(s"unknown chaos mode: $other")
      }
      println("CHAOS_OK")
    } catch {
      case t: Throwable =>
        System.err.println(s"CHAOS_FAIL: ${t.getClass.getName}: ${t.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
