package graft

import java.sql.Timestamp

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics driven through MemoryStream and file/socket
  * sources: windowed rate limiting, watermarked dedup, the stream-stream
  * request/response join, routed sinks and the streaming at-rest index
  * maintenance. The sn correlator's cases live in CorrelatorV2Spec. */
class StreamingSpec extends SparkSpec {

  private def ts(sec: Int): Timestamp = new Timestamp(1700000000000L + sec * 1000L)

  test("streaming windowed rate limit flags a burst over the cap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.rateLimitWindowed(events.withWatermark("ts", "10 seconds"), 10, col("user_id"))
      .writeStream.format("memory").queryName("rl").outputMode("append").start()
    try {
      // 15 calls by user 1 inside one second; 2 calls by user 2
      val burst = (0 until 15).map(i => (new Timestamp(1700000000000L + i * 50L), 1L, 1.0))
      in.addData(burst ++ Seq((ts(0), 2L, 1.0), (ts(0), 2L, 1.0)): _*)
      in.addData((ts(100), 3L, 1.0)) // advance watermark to close the window
      q.processAllAvailable()
      val rows = spark.table("rl").collect()
        .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("calls"), r.getAs[Boolean]("denied"))).toMap
      assert(rows(1L) == (15L, true))
      assert(rows(2L) == (2L, false))
    } finally q.stop()
  }

  test("built-in stream-stream join correlates request/response on sn (G13 native form)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val reqIn = MemoryStream[(String, Timestamp)]
    val respIn = MemoryStream[(String, Timestamp)]
    val req = reqIn.toDF().toDF("sn", "req_ts").withWatermark("req_ts", "10 seconds")
    val resp = respIn.toDF().toDF("r_sn", "resp_ts").withWatermark("resp_ts", "10 seconds")
    val joined = req.join(resp,
      col("sn") === col("r_sn") &&
      col("resp_ts") >= col("req_ts") &&
      col("resp_ts") <= col("req_ts") + expr("INTERVAL 30 SECONDS"))
      .select(col("sn"),
        (unix_millis(col("resp_ts")) - unix_millis(col("req_ts"))).as("latency_ms"))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      reqIn.addData(("a", ts(0)), ("b", ts(1)))
      respIn.addData(("a", ts(2)))
      q.processAllAvailable()
      respIn.addData(("b", ts(40))) // outside the 30 s join window → dropped
      q.processAllAvailable()
      val rows = spark.table("ssj").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("a" -> 2000L))
    } finally q.stop()
  }

  test("watermarked dedup delivers first arrival only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "sn")
    val q = StreamOps.dedupWithinWatermark(events, "10 seconds", "sn")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      in.addData((ts(0), "x"), (ts(1), "x"), (ts(2), "y"))
      q.processAllAvailable()
      in.addData((ts(3), "x"), (ts(4), "z"))
      q.processAllAvailable()
      val sns = spark.table("dd").collect().map(_.getAs[String]("sn")).toSeq
      assert(sns.sorted == Seq("x", "y", "z"))
    } finally q.stop()
  }

  test("streaming heavy hitters match the batch twin; sub-support terms stay gated") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text").withWatermark("ts", "10 seconds")
    val q = StreamOps.heavyHittersWindowed(docs, "10 seconds", 3L)
      .writeStream.format("memory").queryName("hh").outputMode("append").start()
    try {
      in.addData((ts(0), "a a b"), (ts(1), "a b c"), (ts(2), "b c"))
      q.processAllAvailable()
      // push the watermark past the first window so append finalizes it
      in.addData((ts(60), "next window"))
      q.processAllAvailable()
      val rows = spark.table("hh").collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("n")).toMap
      assert(rows == Map("a" -> 3L, "b" -> 3L), s"got $rows") // c=2 gated out
      // identical operator over the same rows as a batch table
      val bt = StreamOps.heavyHittersWindowed(
          Seq((ts(0), "a a b"), (ts(1), "a b c"), (ts(2), "b c")).toDF("ts", "text"),
          "10 seconds", 3L)
        .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("n")).toMap
      assert(bt == rows)
    } finally q.stop()
  }

  test("auth dispatch runs unchanged on a streaming source (same operator as the batch query)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long, String, String)]
    val requests = in.toDF().toDF("event_id", "user_id", "domain", "token")
    val wx = Seq(("w" * 28, "wx:1")).toDF("w_token", "w_uid")
    val sess = Seq(("sess-2", "sess:2")).toDF("s_token", "s_uid")
    val q = graft.operators.Gateway.authDispatch(requests, wx, sess)
      .writeStream.format("memory").queryName("authstream").outputMode("append").start()
    try {
      in.addData(
        (1L, 1L, "mobile", "w" * 28),              // wx hit → 200
        (2L, 2L, "mobile", "sess-2"),              // session hit → 200
        (3L, 3L, "mobile", "x" * 28),              // wx miss → 307
        (4L, 4L, "admin", null),                   // anonymous admin → 200, uid ""
        (5L, 5L, "mobile", null))                  // anonymous mobile → 307
      q.processAllAvailable()
      val rows = spark.table("authstream").collect()
        .map(r => r.getAs[Long]("event_id") -> (r.getAs[Int]("status"), r.getAs[String]("uid"))).toMap
      assert(rows(1L) == (200, "wx:1"))
      assert(rows(2L) == (200, "sess:2"))
      assert(rows(3L) == (307, null))
      assert(rows(4L) == (200, ""))
      assert(rows(5L) == (307, null))
    } finally q.stop()
  }

  test("G1 end-to-end: file-source request stream → auth dispatch → routed sink") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_filesrc").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fileout").toString
    // the gateway's HTTP ingest analogue: request envelopes arriving as
    // files in a watched directory (G1), flowing through the SAME
    // authDispatch operator as batch, demuxed by module into per-module
    // sinks (G4/G11)
    val batch1 = Seq(
      (1L, 1L, "mobile", "w" * 28),                 // wx hit → 200
      (2L, 2L, "admin", null.asInstanceOf[String]), // anonymous admin → 200
      (3L, 3L, "mobile", null.asInstanceOf[String])) // anonymous mobile → 307
      .toDF("event_id", "user_id", "domain", "token")
    batch1.write.mode("append").parquet(srcDir)
    val wx = Seq(("w" * 28, "wx:1")).toDF("w_token", "w_uid")
    val sess = Seq(("sess-x", "sess:x")).toDF("s_token", "s_uid")
    val stream = spark.readStream.schema(batch1.schema).parquet(srcDir)
    val enriched = graft.operators.Gateway.authDispatch(stream, wx, sess)
      .withColumn("mod_name", col("domain"))
    val q = StreamOps.routedSink(enriched, outDir, Seq("mobile", "admin"))
    try {
      q.processAllAvailable()
      // a late-arriving file is picked up incrementally by the source
      Seq((4L, 4L, "admin", null.asInstanceOf[String]))
        .toDF("event_id", "user_id", "domain", "token")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val mobile = spark.read.parquet(s"$outDir/mobile")
      val admin = spark.read.parquet(s"$outDir/admin")
      assert(mobile.count() == 2)
      assert(admin.count() == 2)
      assert(admin.filter(col("status") =!= 200).count() == 0)
      assert(mobile.select("event_id").as[Long].collect().toSet == Set(1L, 3L))
      val st = mobile.collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("status")).toMap
      assert(st(1L) == 200 && st(3L) == 307)
    } finally q.stop()
  }

  test("composed streaming gateway flow: auth dispatch + status-routed foreachBatch sinks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gwflow").toString
    val in = MemoryStream[(Long, Long, String, String)]
    val requests = in.toDF().toDF("event_id", "user_id", "domain", "token")
    val wx = Seq(("w" * 28, "wx:1")).toDF("w_token", "w_uid")
    val sess = Seq(("sess-2", "sess:2")).toDF("s_token", "s_uid")
    val enriched = graft.operators.Gateway.authDispatch(requests, wx, sess)
    val q = enriched.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val c = batch.persist()
        try {
          c.filter(col("status") === 200).write.mode("append").parquet(s"$dir/authorized")
          c.filter(col("status") === 307).write.mode("append").parquet(s"$dir/redirected")
        } finally { c.unpersist(); () }
    }.start()
    try {
      in.addData((1L, 1L, "mobile", "w" * 28), (2L, 2L, "admin", null),
        (3L, 3L, "mobile", null), (4L, 4L, "mobile", "y" * 28))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/authorized").count() == 2)  // wx hit + anon admin
      assert(spark.read.parquet(s"$dir/redirected").count() == 2)  // anon mobile + wx miss
    } finally q.stop()
  }

  test("routed foreachBatch sink demultiplexes micro-batches by module (G4/G11)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_routed").toString
    val in = MemoryStream[(String, Long)]
    val events = in.toDF().toDF("mod_name", "payload")
    val q = graft.streaming.StreamOps.routedSink(events, dir, Seq("click", "purchase"))
    try {
      in.addData(("click", 1L), ("click", 2L), ("purchase", 3L), ("unknown", 4L))
      q.processAllAvailable()
      in.addData(("purchase", 5L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/click").count() == 2)
      assert(spark.read.parquet(s"$dir/purchase").count() == 2)
      assert(!new java.io.File(s"$dir/unknown").exists()) // unroutable dropped
      // at-least-once replay: re-running a batch id verbatim must leave
      // every module tree unchanged (per-batch overwrite, not append)
      graft.streaming.StreamOps.routedTick(
        Seq(("purchase", 5L)).toDF("mod_name", "payload"), 1L, dir,
        Seq("click", "purchase"))
      assert(spark.read.parquet(s"$dir/click").count() == 2,
        "replayed batch must not duplicate click rows")
      assert(spark.read.parquet(s"$dir/purchase").count() == 2,
        "replayed batch must not duplicate purchase rows")
    } finally q.stop()
  }

  test("session windows run identically as a stream (same builder as the batch oracle query)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.sessionCounts(events.withWatermark("ts", "10 seconds"), "30 minutes", col("user_id"))
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 7: two events 10 min apart (one session), then one 2 h later
      in.addData((ts(0), 7L, 1.0), (ts(600), 7L, 1.0), (ts(7800), 7L, 1.0))
      in.addData((ts(20000), 9L, 1.0)) // advance watermark far past both sessions
      q.processAllAvailable()
      val rows = spark.table("sess").filter(col("user_id") === 7).collect()
        .map(r => (r.getAs[Timestamp]("session_start"), r.getAs[Long]("n"))).toSet
      assert(rows == Set((ts(0), 2L), (ts(7800), 1L)))
    } finally q.stop()
  }

  test("curation gates stream: the batch gate builder runs unchanged on a document stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val gated = graft.operators.Curation.gateFlags(in.toDF().toDF("doc_id", "text"))
      .select("doc_id", "n_words", "pass_quality", "pass_lang")
    val q = gated.writeStream.format("memory").queryName("gates").outputMode("append").start()
    try {
      val good = ("the quick value with a of stream data " * 3).trim // stopwords present, 24 words
      in.addData((1L, good), (2L, "short doc"), (3L, ("nostopword " * 25).trim))
      q.processAllAvailable()
      val rows = spark.table("gates").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3))).toMap
      assert(rows(1L) == ((true, true)))   // long + english markers
      assert(rows(2L)._1 == false)         // too short
      assert(rows(3L) == ((true, false)))  // long but no english markers
    } finally q.stop()
  }

  test("streaming dedup stage: exact and minhash dedup keep exactly the batch key sets, originals first") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the full dedup corpus (originals + injected exact/near copies),
    // originals fed in micro-batch 1 and copies in micro-batch 2 so
    // "first arrival" is deterministic
    val corpus = operators.Dedup.corpus(spark, sf)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val (orig, dups) = corpus.partition(_._1 < 1000000L)
    def feed(rows: Array[(Long, String)]) =
      rows.toSeq.map { case (id, t) => (ts((id % 900).toInt), id, t) }
    val inEx = MemoryStream[(Timestamp, Long, String)]
    val inMh = MemoryStream[(Timestamp, Long, String)]
    val qEx = StreamOps.exactDedupStream(inEx.toDF().toDF("ts", "doc_id", "text"), "1 hour")
      .writeStream.format("memory").queryName("s_dedup_exact").outputMode("append").start()
    val qMh = StreamOps.minhashDedupStream(inMh.toDF().toDF("ts", "doc_id", "text"), "1 hour")
      .writeStream.format("memory").queryName("s_dedup_minhash").outputMode("append").start()
    try {
      Seq(inEx, inMh).foreach(_.addData(feed(orig)))
      qEx.processAllAvailable(); qMh.processAllAvailable()
      Seq(inEx, inMh).foreach(_.addData(feed(dups)))
      qEx.processAllAvailable(); qMh.processAllAvailable()

      // exact: kept hashes == the batch corpus's distinct hash set
      val gotEx = spark.table("s_dedup_exact").cache()
      val batchHashes = operators.Dedup.corpus(spark, sf)
        .select(md5(col("text")).as("text_hash")).distinct().cache()
      assert(gotEx.count() == batchHashes.count())
      assert(gotEx.select("text_hash").exceptAll(batchHashes).count() == 0)
      // first arrival: every injected EXACT copy (1M..2M) was suppressed
      // by micro-batch 1's state; the near copies (2M+, new text) survive
      assert(gotEx.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L).count() == 0)
      assert(gotEx.filter(col("doc_id") >= 2000000L).count() ==
        orig.count(_._1 % 7 == 0))

      // minhash: kept signatures == the batch signature relation's
      // distinct set (same builder, batch mode), exact copies suppressed
      val gotMh = spark.table("s_dedup_minhash").cache()
      val batchSigs = operators.Dedup.withSignature(operators.Dedup.corpus(spark, sf))
        .select(expr("array_join(transform(sig, x -> cast(x as string)), ',')").as("sig_key"))
        .distinct().cache()
      assert(gotMh.count() == batchSigs.count())
      assert(gotMh.select("sig_key").exceptAll(batchSigs).count() == 0)
      assert(gotMh.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L).count() == 0)
      Seq(gotEx, batchHashes, gotMh, batchSigs).foreach(_.unpersist())
    } finally { qEx.stop(); qMh.stop() }
  }

  test("composed streaming curation: quality/language gates chain into the exact-dedup stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    // the batch gate builder feeds the streaming dedup stage unchanged —
    // the front half of qCurationPipeline as one continuous stream
    val gated = graft.operators.Curation.gateFlags(in.toDF().toDF("ts", "doc_id", "text"))
      .filter(col("pass_quality") && col("pass_lang"))
      .select("ts", "doc_id", "text")
    val q = StreamOps.exactDedupStream(gated, "1 hour")
      .writeStream.format("memory").queryName("s_curation").outputMode("append").start()
    try {
      val good = ("the quick value with a of stream data " * 3).trim // passes both gates
      in.addData((ts(0), 1L, good), (ts(1), 2L, "short doc"),
        (ts(2), 3L, ("nostopword " * 25).trim))
      q.processAllAvailable()
      in.addData((ts(3), 4L, good)) // duplicate content, later micro-batch
      q.processAllAvailable()
      val kept = spark.table("s_curation").collect().map(_.getAs[Long]("doc_id")).toSet
      // 2 fails the quality gate, 3 the language gate, 4 is a dup of 1
      assert(kept == Set(1L))
    } finally q.stop()
  }

  test("socket source e2e: a real TCP network source feeds the gateway parse path") {
    // the one connector class MemoryStream/file-source don't cover: a
    // network socket (Kafka is unavailable in this sandbox; localhost
    // TCP exercises the same readStream-connector surface). This test
    // is the declared STAND-IN for a Kafka source: what a Kafka
    // deployment must configure on top of it — checkpoints, watermark
    // delay vs consumer lag, RocksDB provider, the _v2 state-name
    // resume contract, and why the batch_id-idempotent sinks already
    // absorb Kafka's at-least-once foreachBatch replays — is written
    // up in KAFKA.md at the repo root.
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val total = (1 to 50).map(_.toLong).sum
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 50).foreach(i => out.println(s"evt$i,$i"))
      out.flush()
      Thread.sleep(8000) // keep the connection open while the query drains
      sock.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val lines = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort).load()
    val parsed = lines.select(
      split(col("value"), ",").getItem(0).as("evt"),
      split(col("value"), ",").getItem(1).cast("long").as("n"))
    val q = parsed.groupBy().agg(sum("n").as("s"), count(lit(1)).as("c"))
      .writeStream.format("memory").queryName("sock").outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      def seen(): Long = spark.table("sock").collect()
        .headOption.map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).getOrElse(0L)
      while (seen() != total && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val row = spark.table("sock").collect().head
      assert(row.getLong(0) == total && row.getLong(1) == 50L,
        s"socket stream delivered sum=${row.get(0)} count=${row.get(1)}")
    } finally { q.stop(); server.close() }
  }

  test("streaming ANN serving: ticked queries against the at-rest IVF index equal the batch answers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // build the at-rest index once (centroids + cell assignments)
    operators.Similarity.qSimIvfAtRest(spark, sf).count()
    CacheTracker.releaseAll()
    val (cellsF, centsF) = operators.Similarity.ivfIndexDirs(spark, sf)
    val (cellsDir, centsDir) = (cellsF.toString, centsF.toString)
    val outDir = java.nio.file.Files.createTempDirectory("graft_annserve").toString + "/out"
    // the standard query set, split across two ticks
    val queries = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
      .collect().map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toSeq))
    val (t0, t1) = queries.partition(_._1 % 40 == 0)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.annQuerySink(
      in.toDF().toDF("vec_id", "ce"), cellsDir, centsDir, outDir)
    try {
      in.addData(t0.toSeq); q.processAllAvailable()
      in.addData(t1.toSeq); q.processAllAvailable()
      val cols = Seq("q_id", "rank", "neighbor_id", "cosine")
      val streamed = spark.read.parquet(outDir).select(cols.head, cols.tail: _*)
      val batch = operators.Similarity.qSimIvf(spark, sf).select(cols.head, cols.tail: _*)
      try {
        assert(streamed.exceptAll(batch).isEmpty, "streamed answers not in batch set")
        assert(batch.exceptAll(streamed).isEmpty, "batch answers missing from stream")
        val nBefore = streamed.count()
        // at-least-once REPLAY of the second tick: the overwrite-own-
        // subdir contract must leave the answer tree unchanged
        StreamOps.annQueryTick(
          t1.toSeq.toDF("vec_id", "ce"), 1L, cellsDir, centsDir, outDir)
        val replayed = spark.read.parquet(outDir).select(cols.head, cols.tail: _*)
        assert(replayed.count() == nBefore, "replayed ANN tick changed the answer count")
        assert(replayed.exceptAll(batch).isEmpty && batch.exceptAll(replayed).isEmpty,
          "replayed ANN tick changed the answers")
      } finally CacheTracker.releaseAll()
    } finally q.stop()
  }

  test("streaming IVF delta refresh: ticked arrivals rebuild exactly the batch frozen-centroid assignment") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // frozen centroid table from the at-rest index build
    operators.Similarity.qSimIvfAtRest(spark, sf).count()
    CacheTracker.releaseAll()
    val (cellsF, centsF) = operators.Similarity.ivfIndexDirs(spark, sf)
    val (cellsDir, centsDir) = (cellsF.toString, centsF.toString)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfdelta").toString
    val deltaDir = tmp + "/delta"
    // freshly-embedded NEW vectors (ids outside the standing index —
    // the real ingest shape)
    def arrivalsDf = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("ce"))
    val arrivals = arrivalsDf.collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toSeq))
    val (t0, t1) = arrivals.partition(_._1 % 20 < 10)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.ivfDeltaSink(in.toDF().toDF("vec_id", "ce"), centsDir, deltaDir)
    try {
      in.addData(t0.toSeq); q.processAllAvailable()
      in.addData(t1.toSeq); q.processAllAvailable()
      val streamed = spark.read.parquet(deltaDir).select("c_id", "cid")
      val batchDelta = operators.Similarity.assignCells(
          arrivalsDf, spark.read.parquet(centsDir), 1)
        .select(col("vec_id").as("c_id"), col("cid"))
      assert(streamed.count() == arrivals.length.toLong, "delta tree row count")
      assert(streamed.exceptAll(batchDelta).isEmpty && batchDelta.exceptAll(streamed).isEmpty,
        "delta tree must equal the batch frozen-centroid assignment")
      // the delta tree must keep the cid partition layout (so a search
      // over standing ∪ delta prunes the delta too)
      val tick0 = new java.io.File(deltaDir, "batch_id=0")
      assert(Option(tick0.listFiles()).getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith("cid=")),
        "tick subtree must be cid-partitioned")
      // at-least-once replay of tick 1 — the delta tree must not change
      StreamOps.ivfDeltaTick(t1.toSeq.toDF("vec_id", "ce"), 1L, centsDir, deltaDir)
      val replayed = spark.read.parquet(deltaDir).select("c_id", "cid")
      assert(replayed.count() == arrivals.length.toLong, "replayed tick changed the delta tree")
      // COMPOSE the two streaming faces: a serving tick over standing ∪
      // delta — the ingested vectors are searchable with NO rebuild,
      // and the answers equal the batch search over the same union
      val outDir = tmp + "/serveout"
      val queriesDf = Tables.embeddings(spark, sf).filter(col("vec_id") % 40 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
      val qRows = queriesDf.collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toSeq))
      StreamOps.annQueryTick(qRows.toSeq.toDF("vec_id", "ce"), 0L,
        cellsDir, centsDir, outDir, Some(deltaDir))
      val served = spark.read.parquet(outDir)
        .select("q_id", "rank", "neighbor_id", "cosine")
      val cellsUnion = spark.read.parquet(cellsDir).select("c_id", "cid", "ce")
        .unionByName(spark.read.parquet(deltaDir).select("c_id", "cid", "ce"))
      val batchAns = operators.Similarity.ivfSearch(
          cellsUnion, spark.read.parquet(centsDir), queriesDf)
        .select("q_id", "rank", "neighbor_id", "cosine")
      assert(served.exceptAll(batchAns).isEmpty && batchAns.exceptAll(served).isEmpty,
        "served answers over standing ∪ delta must equal the batch union search")
    } finally q.stop()
  }

  test("streaming drift monitor: a one-source tick scores above a corpus-representative tick") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toFile
    val profileDir = new java.io.File(tmp, "profile").toString
    val outDir = new java.io.File(tmp, "ticks").toString
    // the at-rest corpus profile the batch side maintains
    Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .withColumn("b", expr("CAST(conv(substring(md5(w), 1, 6), 16, 10) AS BIGINT) % 1024"))
      .groupBy("b").agg(count(lit(1)).as("c_q"))
      .write.mode("overwrite").parquet(profileDir)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source")).collect()
    // tick 0: corpus-representative sample (every 3rd doc, all sources);
    // tick 1: a single source only — the drifted ingest
    val tick0 = docs.filter(_.getLong(0) % 3 == 0).map(r => (r.getLong(0), r.getString(1)))
    val tick1 = docs.filter(_.getString(2) == "src0").map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.driftMonitorSink(in.toDF().toDF("doc_id", "text"), profileDir, outDir)
    try {
      in.addData(tick0.toSeq); q.processAllAvailable()
      in.addData(tick1.toSeq); q.processAllAvailable()
      val ticks = spark.read.parquet(outDir).orderBy("batch_id").collect()
      assert(ticks.length == 2)
      val Array(rep, drifted) = ticks.map(r => r.getAs[Double]("js"))
      assert(rep > 0 && drifted > 0 && rep < math.log(2.0) && drifted < math.log(2.0),
        s"JS out of range: $rep / $drifted")
      assert(drifted > rep,
        s"one-source tick ($drifted) must score above the representative tick ($rep)")
    } finally q.stop()
  }

  test("streaming pair-index maintenance: replayed micro-batches rebuild exactly the batch pair set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pairidx").toFile
    val sigsDir = new java.io.File(tmp, "sigs").toString
    val pairsDir = new java.io.File(tmp, "pairs").toString
    val corpus = operators.Dedup.corpus(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // three arrival ticks in a SCRAMBLED order (id mod 3): copies can
    // arrive before their originals, so emission must not depend on
    // arrival order (least/greatest normalization in the sink)
    val batches = Seq(corpus.filter(_._1 % 3 == 1),
      corpus.filter(_._1 % 3 == 2), corpus.filter(_._1 % 3 == 0))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.pairIndexRefreshSink(
      in.toDF().toDF("doc_id", "text"), sigsDir, pairsDir)
    try {
      batches.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
      val cols = Seq("a_id", "b_id", "n_inter", "n_union", "jaccard")
      val streamed = spark.read.parquet(pairsDir).select(cols.head, cols.tail: _*)
      val batch = operators.Dedup.qDedupLshPairs(spark, sf).select(cols.head, cols.tail: _*)
      try {
        // each pair emitted exactly once, and the union of ticks is
        // precisely the from-scratch batch pair set
        assert(streamed.count() ==
          streamed.select("a_id", "b_id").distinct().count(), "duplicate emissions")
        assert(streamed.exceptAll(batch).isEmpty, "streamed pairs not in batch set")
        assert(batch.exceptAll(streamed).isEmpty, "batch pairs missing from streamed index")
        val nBefore = streamed.count()
        // at-least-once REPLAY: re-invoke the last tick verbatim (the
        // retry foreachBatch can deliver after a crash between the two
        // index writes) — rewrite-own-subdir idempotency must leave
        // both index trees semantically unchanged, not double-append
        StreamOps.pairIndexRefreshTick(
          batches(2).toSeq.toDF("doc_id", "text"), 2L, sigsDir, pairsDir)
        val replayed = spark.read.parquet(pairsDir).select(cols.head, cols.tail: _*)
        assert(replayed.count() == nBefore, "replayed tick changed the pair count")
        assert(replayed.exceptAll(batch).isEmpty && batch.exceptAll(replayed).isEmpty,
          "replayed tick changed the pair index content")
        val sigCount = spark.read.parquet(sigsDir).count()
        assert(sigCount == corpus.length.toLong, "replayed tick duplicated signatures")
      } finally CacheTracker.releaseAll()
    } finally q.stop()
  }

  test("streaming takedown: tombstoned serving equals a redacted rebuild; applyTombstones folds them in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // isolated at-rest root: this test physically rewrites the index
    val isoRoot = java.nio.file.Files.createTempDirectory("graft_tomb_root").toString
    val prevRoot = spark.conf.getOption("graft.atrest.dir")
    spark.conf.set("graft.atrest.dir", isoRoot)
    try {
      val tombDir = isoRoot + "/tombstones"
      val cols = Seq("a_id", "b_id", "n_inter", "n_union", "jaccard")
      val ids = operators.Dedup.corpus(spark, sf).select("doc_id")
        .collect().map(_.getLong(0))
      val t0 = ids.filter(_ % 97 == 0).toSeq
      val t1 = ids.filter(_ % 53 == 0).toSeq
      val in = MemoryStream[Long]
      val q = StreamOps.takedownSink(in.toDF().toDF("doc_id"), tombDir)
      try {
        in.addData(t0); q.processAllAvailable()
        in.addData(t1); q.processAllAvailable()
        def served() = operators.Dedup.pairsAtRestServing(spark, sf, tombDir)
          .select(cols.head, cols.tail: _*)
        // independent truth: the from-scratch pair pipeline on the
        // REDACTED corpus (the locality identity, proven end-to-end)
        val tombs = (t0 ++ t1).distinct
        val truth = operators.Dedup.lshPairsFrom(operators.Dedup.sigRelation(
            operators.Dedup.corpus(spark, sf)
              .filter(!col("doc_id").isin(tombs.map(Long.box): _*))))
          .select(cols.head, cols.tail: _*)
        try {
          assert(served().exceptAll(truth).isEmpty && truth.exceptAll(served()).isEmpty,
            "tombstoned serving view must equal the redacted rebuild")
          assert(served().count() < operators.Dedup.pairsAtRest(spark, sf).count(),
            "tombstones must actually remove pairs (seed set hits the dup graph)")
          // at-least-once replay of tick 1 — tombstone tree unchanged
          StreamOps.takedownTick(t1.toDF("doc_id"), 1L, tombDir)
          assert(served().exceptAll(truth).isEmpty && truth.exceptAll(served()).isEmpty,
            "replayed takedown tick changed the serving view")
          // maintenance: fold tombstones into the index physically
          val pairsDir = AtRest.dir(spark, sf, "lsh_pairs", "documents",
            operators.Dedup.LshIndexParams)
          AtRest.applyTombstones(spark, pairsDir.toString, tombDir, Seq("a_id", "b_id"))
          assert(!AtRest.isBuilt(new java.io.File(tombDir)), "tombstones must be spent after the fold")
          val raw = spark.read.parquet(pairsDir.toString).select(cols.head, cols.tail: _*)
          assert(raw.exceptAll(truth).isEmpty && truth.exceptAll(raw).isEmpty,
            "physically-folded index must equal the redacted rebuild")
          // serving view over an empty tombstone tree is the raw index
          assert(served().exceptAll(raw).isEmpty && raw.exceptAll(served()).isEmpty)
          // an UNCOMMITTED tombstone partition (no _SUCCESS) must be
          // invisible to the serving read — the logical reader applies
          // exactly the committed-tick set the physical fold spends, or
          // raw and serving would diverge forever on a tick that never
          // commits
          t0.take(1).toDF("doc_id").write.parquet(s"$tombDir/batch_id=9")
          new java.io.File(s"$tombDir/batch_id=9", "_SUCCESS").delete()
          assert(served().exceptAll(raw).isEmpty && raw.exceptAll(served()).isEmpty,
            "an uncommitted tombstone tick must not be applied logically")
        } finally CacheTracker.releaseAll()
      } finally q.stop()
    } finally {
      prevRoot match {
        case Some(r) => spark.conf.set("graft.atrest.dir", r)
        case None => spark.conf.unset("graft.atrest.dir")
      }
    }
  }

  test("pair-index maintenance survives mid-stream tick compaction (bounded files, equality holds)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pairidx2").toFile
    val sigsDir = new java.io.File(tmp, "sigs").toString
    val pairsDir = new java.io.File(tmp, "pairs").toString
    val corpus = operators.Dedup.corpus(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batches = Seq(corpus.filter(_._1 % 3 == 1),
      corpus.filter(_._1 % 3 == 2), corpus.filter(_._1 % 3 == 0))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.pairIndexRefreshSink(
      in.toDF().toDF("doc_id", "text"), sigsDir, pairsDir)
    try {
      // two ticks, then the maintenance service compacts BOTH trees
      // (between ticks — the documented contract), then the stream
      // resumes with the final tick
      batches.take(2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
      AtRest.compactTicks(spark, sigsDir, Seq("doc_id"), numFiles = 2)
      AtRest.compactTicks(spark, pairsDir, Seq("a_id", "b_id"), numFiles = 2)
      def files(dir: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(dir))
      }
      // the folded history is bounded; the newest tick stays fenced
      // under its own partition (replay safety — see AtRest.compactTicks)
      assert(files(s"$sigsDir/batch_id=-1") <= 2 && files(s"$pairsDir/batch_id=-1") <= 2,
        "compaction must bound the folded-history file count")
      assert(new java.io.File(s"$sigsDir/batch_id=1").isDirectory &&
        new java.io.File(s"$pairsDir/batch_id=1").isDirectory,
        "the newest tick must survive compaction under its own batch_id")
      in.addData(batches(2).toSeq); q.processAllAvailable()
      val cols = Seq("a_id", "b_id", "n_inter", "n_union", "jaccard")
      val streamed = spark.read.parquet(pairsDir).select(cols.head, cols.tail: _*)
      val batch = operators.Dedup.qDedupLshPairs(spark, sf).select(cols.head, cols.tail: _*)
      try {
        assert(streamed.count() ==
          streamed.select("a_id", "b_id").distinct().count(), "duplicate emissions")
        assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
          "post-compaction stream must still rebuild exactly the batch pair set")
      } finally CacheTracker.releaseAll()
    } finally q.stop()
  }

  test("streaming MV maintenance: tick-union equals the batch rollup, replay-safe, fold advances the generation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mvdelta").toFile
    val servingDir = new java.io.File(tmp, "serving").toString
    val deltaDir = new java.io.File(tmp, "delta").toString
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("double"), col("l_extendedprice").cast("double"),
        col("l_discount").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // base corpus → the initial serving generation; three ingest ticks
    def rows(p: Long) = li.filter(_._1 % 4 == p).map(t => (t._2, t._3, t._4, t._5, t._6))
    val base = rows(0)
    operators.Scale.mvPartialsOf(base.toSeq.toDF(cols: _*))
      .write.mode("overwrite").parquet(servingDir)
    // full truth: partials over base ∪ all ticks (= the whole fact)
    val full = operators.Scale.mvPartialsOf(
      li.map(t => (t._2, t._3, t._4, t._5, t._6)).toSeq.toDF(cols: _*))
    def standing() = StreamOps.mvStanding(spark, servingDir, deltaDir)
    val in = MemoryStream[(String, String, Double, Double, Double)]
    val q = StreamOps.mvDeltaSink(in.toDF().toDF(cols: _*), deltaDir)
    try {
      Seq(rows(1), rows(2), rows(3)).foreach { b =>
        in.addData(b.toSeq); q.processAllAvailable() }
      // (a) tick-union ≡ the batch rollup, exactly
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "serving ⊕ ticks must equal the from-scratch batch rollup")
      // (b) at-least-once REPLAY of the newest (unfolded) tick — its
      // overwrite-own-subdir idempotency must leave the view unchanged
      StreamOps.mvDeltaTick(rows(3).toSeq.toDF(cols: _*), 2L, deltaDir)
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "replayed tick changed the standing view")
      // (c) maintenance fold: ticks 0,1 fold into the next serving
      // generation; the newest tick (2) stays fenced; the high-water
      // mark commits atomically with the swap
      StreamOps.mvFoldTicks(spark, servingDir, deltaDir)
      assert(StreamOps.foldedThrough(servingDir) == 1L,
        "fold must record its high-water mark inside the new generation")
      assert(AtRest.committedTicks(deltaDir) == Seq(2L),
        "folded ticks must be GC'd; the fenced newest tick must survive")
      val gen = spark.read.parquet(servingDir)
      val expectGen = operators.Scale.mvPartialsOf(
        (base ++ rows(1) ++ rows(2)).toSeq.toDF(cols: _*))
      assert(gen.exceptAll(expectGen).isEmpty && expectGen.exceptAll(gen).isEmpty,
        "folded generation must equal partials over base ∪ folded ticks")
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "standing view must still equal the batch rollup after the fold")
      // (d) fold idempotence: a re-run sees the advanced mark, folds
      // nothing, and the view is unchanged
      StreamOps.mvFoldTicks(spark, servingDir, deltaDir)
      assert(StreamOps.foldedThrough(servingDir) == 1L)
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "re-run fold changed the standing view")
      // (e) crash between the generation swap and the tick GC: a folded
      // tick's directory reappears on disk — the high-water mark (which
      // committed WITH the swap) must exclude it from both the standing
      // view and the next fold, or its partials would double-count
      operators.Scale.mvPartialsOf(rows(1).toSeq.toDF(cols: _*))
        .write.mode("overwrite").parquet(s"$deltaDir/batch_id=1")
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "a resurrected folded tick must not double-count in the standing view")
      StreamOps.mvFoldTicks(spark, servingDir, deltaDir)
      assert(StreamOps.foldedThrough(servingDir) == 1L,
        "the fold must not re-fold a tick at or below the mark")
      assert(standing().exceptAll(full).isEmpty && full.exceptAll(standing()).isEmpty,
        "a fold run with a resurrected tick present must leave the view exact")
      // (f) a NEVER-BUILT serving dir fails fast with the real path
      // error — the snapshot's mid-swap retry must not spin on (or
      // mask) a generation that simply does not exist
      val missing = new java.io.File(tmp, "never-built").toString
      val e = intercept[Exception] {
        StreamOps.mvStanding(spark, missing, deltaDir)
      }
      assert(!e.isInstanceOf[IllegalStateException],
        s"missing serving dir must surface the read error, got: $e")
    } finally q.stop()
  }

  test("streaming CDC upsert: generation chain equals the sequential fold, replay-safe, time-travelable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val snapDir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    // three ticks of (key, new_bal, seq): inserts, then updates + a
    // delete (negative balance) + a fresh insert, then re-insert of the
    // deleted key and an in-batch overwrite (two changes to key 6 —
    // the higher seq must win)
    val t1 = (1L to 10L).map(k => (k, k * 10.0, k))
    val t2 = Seq((2L, 25.0, 100L), (3L, -1.0, 101L), (11L, 110.0, 102L))
    val t3 = Seq((3L, 33.0, 200L), (6L, 61.0, 201L), (6L, 66.0, 202L))
    val in = MemoryStream[(Long, Double, Long)]
    val q = StreamOps.upsertSink(in.toDF().toDF("key", "new_bal", "seq"), snapDir)
    try {
      Seq(t1, t2, t3).foreach { b => in.addData(b); q.processAllAvailable() }
      // expected = driver-side sequential fold of every change in seq order
      var m = Map.empty[Long, Double]
      (t1 ++ t2 ++ t3).sortBy(_._3).foreach { case (k, v, _) =>
        m = if (v < 0 && m.contains(k)) m - k else m + (k -> v) }
      val got = StreamOps.snapshot(spark, snapDir).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == m, s"snapshot diverged from the sequential fold:\n$got\nvs\n$m")
      assert(got(6L) == 66.0, "in-batch last-writer-wins (by seq) violated")
      assert(!got.contains(3L) == false && got(3L) == 33.0,
        "delete-then-reinsert must resurrect the key with the new value")
      // TIME TRAVEL: the retained previous generation is exactly the
      // fold of the ticks up to it
      val gens = AtRest.committedTicks(snapDir)
      assert(gens.size >= 2 && gens.size <= 3, s"retention out of bounds: $gens")
      var m2 = Map.empty[Long, Double]
      (t1 ++ t2).sortBy(_._3).foreach { case (k, v, _) =>
        m2 = if (v < 0 && m2.contains(k)) m2 - k else m2 + (k -> v) }
      val prev = AtRest.ticksRelation(spark, snapDir, Seq(gens(gens.size - 2))).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(prev == m2, "previous generation is not the as-of snapshot")
      // REPLAY: re-invoke the last tick verbatim (at-least-once retry) —
      // the chain must be byte-equal afterwards
      StreamOps.upsertTick(t3.toDF("key", "new_bal", "seq"), gens.last, snapDir, 3)
      val replayed = StreamOps.snapshot(spark, snapDir).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(replayed == m, "replayed tick changed the snapshot")
      assert(AtRest.committedTicks(snapDir) == gens, "replay altered the generation chain")
    } finally q.stop()
  }
}
