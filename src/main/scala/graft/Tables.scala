package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-supplied Parquet corpus (schemas in FIXTURES.md §A).
  *
  * Design for scale: each table is a plain parquet scan — no caching, no
  * collect. Catalyst pushes predicates/projections into the scan, so callers
  * should select/filter on the returned DataFrame directly. The four
  * dimension tables (`region nation supplier part`) stay broadcast-sized at
  * every scale factor (FIXTURES.md §A), so joins against them should use
  * `broadcast(...)` — helpers in the query modules do this.
  */
object Tables {

  /** Session settings every entry point (Verify/Bench/tests) applies:
    * nanos-as-long lets Spark read the events table's TIMESTAMP(NANOS)
    * column (see [[events]]); AQE is on for runtime coalesce/skew handling
    * at scale; the last three entries fix the streaming state store and
    * checkpoint files. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // rollup/cube after a join trips the ambiguous-self-join lint (the
    // Expand operator duplicates child attributes); it's a false positive
    // for our plans — no actual self joins.
    "spark.sql.analyzer.failAmbiguousSelfJoin" -> "false",
    // bucketed-table tests/operators need a writable warehouse location
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    // trust the per-bucket sortBy order of bucketed tables (our bucketed
    // at-rest tables are written one file per bucket — Scale.bucketedTable
    // — which is the layout this optimization is sound for): the bucketed
    // fact⋈fact SMJ then needs neither Exchange NOR Sort
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // (static conf — takes effect because every entry point sets it on
    // the builder BEFORE getOrCreate) the default 100-entry codegen
    // cache cannot hold one heavy query's fragments, let alone a
    // 236-query suite: every Bench rep re-runs Janino on identical
    // sources, and the resulting class churn is what fills the JVM code
    // cache and degrades the late-suite heavy tail (round-7 finding).
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // transformWithState (CorrelatorV2, RateLimitStream and the other
    // processors in graft.streaming) runs only on the RocksDB state store;
    // one provider for every stateful stream. A restarted query keeps the
    // provider recorded in its checkpoint's offset log.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // a RocksDB commit uploads only the batch's changelog; full snapshots
    // are left to the maintenance thread instead of every commit.
    // Checkpoints written without changelogs restore unchanged.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // local checkpoint files are created, renamed and probed without forking
    // a shell process per file (graft.streaming.CheckpointFiles)
    "spark.sql.streaming.checkpointFileManagerClass" -> "graft.streaming.CheckpointFiles")

  /** The one session surface: [[sessionConfs]] plus [[GraftExtensions]]
    * (functions, planner strategy, optimizer rule). Every entry point
    * builds its session through this. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b.withExtensions(new GraftExtensions)) {
      case (bb, (k, v)) => bb.config(k, v) }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Parquet read that infers the schema once per (path, file listing,
    * inference confs) and reads with `.schema(...)` after that. Inference
    * is a Spark job (footer reads plus partition discovery) that a table
    * read would otherwise pay on every call; the supplied-schema read
    * starts none and yields the same relation, partition columns
    * included. The key pins everything the inferred schema depends on:
    * the recursive listing's (name, length, mtime) — a file rewritten at
    * the same path re-infers — and every session conf that changes
    * inference. One entry per path; a changed key replaces it. A path
    * that cannot be listed is read by inference, which raises the usual
    * analysis error for a missing path. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = inferenceKey(spark, path)
    Option(schemas.get(path)).filter(e => key.contains(e._1)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.put(path, (k, df.schema)))
        df
    }
  }
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private def inferenceKey(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val confs = inferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    // a listStatus walk, not listFiles: listFiles builds LocatedFileStatus,
    // whose constructor reads each file's permission — on a local file
    // system without libhadoop that forks `ls -ld` per file
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath)
      else Seq(s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
    }
    try Some(walk(root).sorted.mkString(confs + "|", "|", ""))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical form the corpus generator
    * chose for the round — TIMESTAMP(NANOS) (Spark reads it only as a raw
    * nanos Long under `spark.sql.legacy.parquet.nanosAsLong=true`, set in
    * [[configure]]) or naive TIMESTAMP(MICROS) (Spark reads TIMESTAMP_NTZ).
    * Normalize both to session-TZ TimestampType so every downstream
    * operator sees one type: the session TZ is pinned to UTC in
    * [[sessionConfs]], so the NTZ→LTZ cast is value-preserving and epoch
    * math (`unix_micros` etc.) agrees with DuckDB's naive-timestamp epoch
    * on the same file; the ns→µs division is lossless (corpus carries µs
    * precision). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Exact row count of a parquet table from file-footer metadata only —
    * no Spark job, no data pages read. Operators that size a data
    * structure from the corpus cardinality (e.g. the adaptive LSH bit
    * width) use this instead of `df.count()`: at 100 TB a driver-side
    * count() is a second full pass over the table plus a scheduling
    * barrier, just to compute one integer. Handles both a single parquet
    * file and a directory of part files. */
  def parquetRowCount(s: SparkSession, dir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet")).map(_.getPath)
      else Array(root)
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
