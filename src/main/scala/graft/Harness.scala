package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query loop shared by the four mains ([[Bench]], [[Verify]],
  * [[PlanDump]], [[Slope]]): session, selection, run-and-release, and the
  * JSON text helpers their output files use.
  *
  * Invariants every main gets from here:
  *  - a selection names only registered queries; a typo fails the run
  *    instead of timing or verifying nothing;
  *  - after every query, success or failure,
  *    [[CacheTracker.releaseQueryScope]] frees builder-persisted
  *    intermediates and unscopes MV rewrite rules, so no query's cache or
  *    rule leaks into the next one in the shared session;
  *  - a timed rep stops its clock before that release, so blocking
  *    unpersist cost is never charged to the query.
  */
object Harness {
  type Builder = (SparkSession, String) => DataFrame

  /** Local session with `SPARK_GRAFT_CPUS` task threads (default
    * `defaultCpus`) and as many shuffle partitions, UI off, WARN logging.
    * UTC, the corpus read confs and [[GraftExtensions]] come from
    * [[Tables.configure]]. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Query names from `SPARK_GRAFT_ONLY` ("q_a,q_b"); empty when unset. */
  def onlyEnv: Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The registered queries named in `names`, or all of them when `names`
    * is empty. Throws, listing them, on names that are not registered. */
  def select(names: Seq[String]): Seq[(String, Builder)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains).distinct
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val wanted = names.toSet
    SparkEntry.queries.toSeq.filter { case (n, _) => wanted.isEmpty || wanted(n) }
  }

  /** Evaluates every result row and discards it. A `.count()` would let
    * Catalyst prune unreferenced columns and time projection-heavy
    * queries as bare scans; the noop sink also keeps disk out of timings. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Builds query `name` at `sfDir` and hands it to `sink`, then releases
    * the query's scope whatever happened. A failure is reported on stderr
    * and yields None. */
  def run[A](spark: SparkSession, name: String, fn: Builder, sfDir: String)(
      sink: DataFrame => A): Option[A] =
    try Some(sink(fn(spark, sfDir)))
    catch {
      case t: Throwable =>
        System.err.println(s"[harness] $name @ $sfDir failed: $t")
        None
    } finally CacheTracker.releaseQueryScope(spark)

  /** One timed rep through the noop sink: (seconds, -1 on failure; the
    * at-rest index families built inside the rep). Build events are
    * drained first so only this rep's builds are returned. */
  def timedRep(spark: SparkSession, name: String, fn: Builder,
      sfDir: String): (Double, Seq[String]) = {
    AtRest.drainBuildEvents()
    val t0 = System.nanoTime()
    val secs = run(spark, name, fn, sfDir) { df => noop(df); (System.nanoTime() - t0) / 1e9 }
    (secs.getOrElse(-1.0), AtRest.drainBuildEvents())
  }

  def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)

  /** Three-decimal JSON number; negative values (failure markers) print
    * as -1. Locale.ROOT: a comma-decimal default locale would emit
    * invalid JSON. */
  def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** JSON string-body escape for text from outside the registry (paths,
    * SQL): a quote, backslash or control character would otherwise
    * invalidate the whole output line. */
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
