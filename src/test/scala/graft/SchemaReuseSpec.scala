package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

/** [[Tables.readParquet]] infers a parquet schema once per (path, file
  * listing, inference confs) and reads with the stored schema after that:
  * a repeated read of an unchanged table starts no Spark job, and any
  * change to the files or to an inference conf re-infers. */
class SchemaReuseSpec extends SparkSpec {

  /** Spark jobs started by `body` on this thread. Jobs are tagged with a
    * job group; a fence job in another group, run afterwards, marks the
    * point where every job of `body` has reached the listener. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-reuse-${java.util.UUID.randomUUID()}"
    val fence = group + "-fence"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != fence) {
        assert(g != null, "fence job never reached the listener")
        if (g == group) n += 1
        g = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a second Tables.load of an unchanged table starts no Spark job") {
    val d = tempDir("graft_schema_reuse")
    spark.range(200).select(col("id"), (col("id") % 7).as("v"))
      .write.parquet(s"$d/t.parquet")
    val (first, inferJobs) = jobsStartedBy(Tables.load(spark, d, "t"))
    assert(inferJobs >= 1, "the first read infers the schema with a Spark job")
    val (second, jobs) = jobsStartedBy(Tables.load(spark, d, "t"))
    assert(jobs == 0, s"a repeated read of an unchanged table started $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.collect().toSet == first.collect().toSet)
    // the corpus tables behave the same
    Tables.orders(spark, sf)
    assert(jobsStartedBy(Tables.orders(spark, sf))._2 == 0)
  }

  test("a schema-cached Tables.load starts no process") {
    import scala.jdk.CollectionConverters._
    val d = tempDir("graft_schema_noproc")
    spark.range(400).repartition(8).write.parquet(s"$d/t.parquet")
    Tables.load(spark, d, "t")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() =>
      while (running.get) ProcessHandle.current().descendants().iterator().asScala
        .foreach(_.info().commandLine().ifPresent(seen.add(_))))
    poller.start()
    try (1 to 20).foreach(_ => Tables.load(spark, d, "t"))
    finally {
      running.set(false)
      poller.join()
    }
    assert(!seen.asScala.exists(_.contains(d)), seen.asScala.filter(_.contains(d)).take(5))
  }

  test("rewriting the file at the same path with an added or retyped column re-infers") {
    val d = tempDir("graft_schema_rewrite")
    spark.range(50).select(col("id"), col("id").cast("int").as("v"))
      .write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").schema("v").dataType == IntegerType)
    spark.range(50).select(col("id"), col("id").cast("string").as("v"), lit(1L).as("w"))
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val (df, jobs) = jobsStartedBy(Tables.load(spark, d, "t"))
    assert(jobs >= 1, "a changed listing must re-infer")
    assert(df.columns.toSeq == Seq("id", "v", "w"))
    assert(df.schema("v").dataType == StringType, "retyped column must carry its new type")
    assert(df.agg(sum("w")).head().getLong(0) == 50L, "the added column must be read")
    // and the new schema is the one reused from here on
    val (again, jobs2) = jobsStartedBy(Tables.load(spark, d, "t"))
    assert(jobs2 == 0 && again.schema == df.schema)
  }

  test("IVF cells read through readParquet keep cid as int and prune by partition") {
    operators.Similarity.qSimIvfAtRest(spark, sf).count()
    CacheTracker.releaseAll()
    val (cellsDir, _) = operators.Similarity.ivfIndexDirs(spark, sf)
    Tables.readParquet(spark, cellsDir.toString)
    val (cells, jobs) = jobsStartedBy(Tables.readParquet(spark, cellsDir.toString))
    assert(jobs == 0, s"a repeated at-rest read started $jobs jobs")
    assert(cells.schema("cid").dataType == IntegerType,
      "the reused schema must keep the int-inferred partition column")
    val plan = cells.filter(col("cid").isin(0, 1)).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cid[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"cid predicate must stay a PartitionFilter:\n$plan")
  }

  /** A one-row `events.parquet` whose `ts` is a naive parquet timestamp
    * in `unit` (MICROS or NANOS), written with parquet-mr as the corpus
    * generator does: no Spark schema in the footer, so the column type
    * comes from inference alone. */
  private def naiveTsTable(unit: String, value: Long): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tempDir(s"graft_events_${unit.toLowerCase}")
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 ts (TIMESTAMP($unit,false)); required int32 k; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", value).append("k", 1))
    finally w.close()
    d
  }

  private val micros = 1700000000123456L

  test("Tables.events normalizes both ts encodings, on the inferring and on the reusing read") {
    val nanosDir = naiveTsTable("NANOS", micros * 1000L)
    val microsDir = naiveTsTable("MICROS", micros)
    assert(Tables.load(spark, nanosDir, "events").schema("ts").dataType == LongType)
    assert(Tables.load(spark, microsDir, "events").schema("ts").dataType == TimestampNTZType)
    for (d <- Seq(nanosDir, microsDir); round <- 1 to 2) {
      val e = Tables.events(spark, d)
      assert(e.schema("ts").dataType == TimestampType, s"$d round $round")
      assert(e.select(unix_micros(col("ts"))).head().getLong(0) == micros, s"$d round $round")
    }
  }

  test("changing an inference conf re-infers instead of reusing the stored schema") {
    val d = naiveTsTable("MICROS", micros)
    assert(Tables.load(spark, d, "events").schema("ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(Tables.load(spark, d, "events").schema("ts").dataType == TimestampType)
    }
    assert(Tables.load(spark, d, "events").schema("ts").dataType == TimestampNTZType)
  }
}
