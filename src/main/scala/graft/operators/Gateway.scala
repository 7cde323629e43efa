package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference gateway's dataflow re-expressed as batch operators over
  * the corpus (SURVEY.md §2.1 G1–G16; decision table in FIXTURES.md §B).
  *
  * The corpus has no token/request tables, so request attributes are
  * DERIVED deterministically from `events` (identical expressions on the
  * oracle side), which makes the full decision table oracle-checkable:
  *
  *  - token shape by `user_id % 4`: 28-char WeChat-style (md5 prefix) /
  *    UUID-shaped / opaque session token / none    (gateway.ts:203,226,236)
  *  - domain by event_type: click,view → mobile; else admin (gateway.ts:13)
  *  - dimension tables (wxuser, sessions) materialized from a subset of
  *    user_ids so both hit and miss paths (200 vs 307) occur.
  *
  * Scale: the dims are DISTINCT-aggregated (small) and broadcast; the
  * event stream is never shuffled for the auth joins. The rate limiter is
  * a RANGE window over event-time — at cluster scale this partitions by
  * token, which is exactly the key the reference shards on.
  */
object Gateway {

  private val uid = col("user_id").cast("string")

  /** mobile vs admin domain, the reference's process-level split
    * (`gateway.ts:13`). */
  private def domainCol: Column =
    when(col("event_type").isin("click", "view"), lit("mobile")).otherwise(lit("admin"))

  /** Deterministic token derivation — shape depends on user_id % 4. */
  private def tokenCol: Column = {
    val h = md5(uid)
    when(col("user_id") % 4 === 0, substring(md5(concat(lit("wx"), uid)), 1, 28))
      .when(col("user_id") % 4 === 1, concat_ws("-",
        substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
        substring(h, 17, 4), substring(h, 21, 12)))
      .when(col("user_id") % 4 === 2, concat(lit("sess-"), uid))
      .otherwise(lit(null).cast("string"))
  }

  /** Token-shape classifier: 28 chars → wx hash lookup; 36 chars with
    * dashes at 9/14/19/24 → UUID pass-through; other → session lookup
    * (gateway.ts:203, 226, 236). */
  private def kindCol: Column =
    when(col("token").isNull, lit("none"))
      .when(length(col("token")) === 28, lit("wx"))
      .when(length(col("token")) === 36 &&
        substring(col("token"), 9, 1) === "-" && substring(col("token"), 14, 1) === "-" &&
        substring(col("token"), 19, 1) === "-" && substring(col("token"), 24, 1) === "-",
        lit("uuid"))
      .otherwise(lit("sess"))

  /** G7/G8/G9 as a reusable DataFrame→DataFrame operator: 3-way auth
    * dispatch + context enrichment for any frame carrying
    * (event_id, user_id, domain, token) — static tables and streaming
    * sources take the identical code path (broadcast left joins +
    * when/otherwise cascade are stream-safe, no state). Unresolved rows
    * carry 307; anonymous admin proceeds with uid ''
    * (gateway.ts:264-286). */
  def authDispatch(requests: DataFrame, wx: DataFrame, sess: DataFrame): DataFrame =
    requests
      .withColumn("token_kind", kindCol)
      .join(broadcast(wx), col("token") === col("w_token"), "left")
      .join(broadcast(sess), col("token") === col("s_token"), "left")
      .select(
        col("event_id"), col("token_kind"), col("domain"),
        when(col("token_kind") === "wx",
            when(col("w_uid").isNotNull, 200).otherwise(307))
          .when(col("token_kind") === "uuid", lit(200))
          .when(col("token_kind") === "sess",
            when(col("s_uid").isNotNull, 200).otherwise(307))
          .otherwise(when(col("domain") === "admin", 200).otherwise(307))
          .as("status"),
        when(col("token_kind") === "wx", col("w_uid"))
          .when(col("token_kind") === "uuid", col("token"))
          .when(col("token_kind") === "sess", col("s_uid"))
          .when(col("token_kind") === "none" && col("domain") === "admin", lit(""))
          .otherwise(lit(null).cast("string")).as("uid"),
        concat(lit("ip-"), uid).as("ip"))

  /** wxuser dim shared by [[qAuthDispatch]] and [[qGatewayPipeline]]:
    * only user_id % 8 == 0 resolves (so % 8 == 4 misses → 307). Both
    * consumers are oracle-pinned, so any drift in this ONE definition
    * fails two hashes loudly. */
  private def wxDim(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") % 8 === 0)
      .select(substring(md5(concat(lit("wx"), uid)), 1, 28).as("w_token"),
        concat(lit("wx:"), uid).as("w_uid")).distinct()

  /** session dim shared the same way: only user_id % 8 == 2 resolves
    * (% 8 == 6 misses → 307). */
  private def sessDim(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") % 8 === 2)
      .select(concat(lit("sess-"), uid).as("s_token"),
        concat(lit("sess:"), uid).as("s_uid")).distinct()

  /** The module→address routing dim (the reference's static socket map,
    * gateway.ts:292/324) — shared by [[qRoute]] and [[qGatewayPipeline]]. */
  private def moduleDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("click", "tcp://svc-click:5558"),
      ("purchase", "tcp://svc-purchase:5560"),
      ("signup", "tcp://svc-signup:5562")).toDF("mod_name", "addr")
  }

  /** G5 admin address rewrite — INTENDED semantics (adjacent port =
    * port+1 with numeric carry), not the reference's no-carry string
    * bug (gateway.ts:45-53). Shared by both rewrite consumers. */
  private def adminAdjacent(addr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val pre = "^(.*:)([0-9]+)$"
    concat(regexp_extract(addr, pre, 1),
      (regexp_extract(addr, pre, 2).cast("int") + 1).cast("string"))
  }

  /** The batch query face of [[authDispatch]] over events-derived
    * requests and dims. */
  def qAuthDispatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("domain", domainCol)
      .withColumn("token", tokenCol)
    authDispatch(ev, wxDim(s, d), sessDim(s, d))
  }

  /** G4/G5 — route demultiplex by module + admin address rewrite.
    * Broadcast left join against the module dim; unmatched → 404 side
    * output (gateway.ts:195, 288-298). The admin rewrite implements the
    * INTENDED semantics (adjacent port = port+1 with carry), not the
    * reference's no-carry string bug (gateway.ts:45-53). */
  def qRoute(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("event_type").as("mod_name"), domainCol.as("domain"))
      .join(broadcast(moduleDim(s)), Seq("mod_name"), "left")
      .select(
        col("event_id"), col("mod_name"), col("domain"),
        when(col("addr").isNull, lit(null).cast("string"))
          .when(col("domain") === "admin", adminAdjacent(col("addr")))
          .otherwise(col("addr")).as("resolved_addr"),
        when(col("addr").isNull, 404).otherwise(200).as("status"))

  /** G6 — intended rate-limit semantics: count per token over a rolling
    * 1-second event-time window, deny above 10 (gateway.ts:139-171; the
    * RPUSHX bug is NOT replicated — SURVEY.md §7.3). Also a 1-hour window
    * for a denser signal at corpus event rates. */
  def qRateLimit(s: SparkSession, d: String): DataFrame =
    rateLimitStats(Tables.events(s, d))

  /** The G6 window computation on any (user_id, ts) frame — shared with
    * RateLimitStreamSpec, where it is the batch twin the streaming
    * token-window limiter must reproduce. */
  def rateLimitStats(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("tsm")
    val w1s = byUser.rangeBetween(-1000000L, 0)       // µs
    val w1h = byUser.rangeBetween(-3600000000L, 0)
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"))
      .withColumn("c1s", count(lit(1)).over(w1s))
      .withColumn("c1h", count(lit(1)).over(w1h))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        max(col("c1s")).as("max_calls_1s"),
        sum(when(col("c1s") > 10, 1).otherwise(0)).cast("long").as("n_denied_1s"),
        max(col("c1h")).as("max_calls_1h"))
  }

  /** G14 — compression negotiation decision table (gateway.ts:62-133):
    * zlib-magic pass-through, 1 KiB threshold, `\bdeflate\b`-style
    * accept-encoding regex matching. Decision column only — the actual
    * codec bytes are exercised in [[qCodecRoundtrip]] + property tests. */
  def qCompressDecision(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        // ×4 so payloads straddle the 1 KiB threshold (corpus texts top
        // out ~500 B — without this the >1024 branches would be dead)
        octet_length(repeat(col("text"), 4)).cast("long").as("size"),
        when(col("doc_id") % 3 === 0, "gzip, deflate")
          .when(col("doc_id") % 3 === 1, "gzip").otherwise("").as("accept"),
        (col("doc_id") % 5 === 0).as("pre_deflated"))
      .withColumn("decision",
        when(col("pre_deflated") && col("accept").rlike("\\bdeflate\\b"), "passthrough_deflate")
          .when(col("pre_deflated") && col("accept").rlike("\\bgzip\\b"), "inflate_gzip")
          .when(col("pre_deflated"), "inflate_raw")
          .when(col("size") <= 1024, "raw")
          .when(col("accept").rlike("\\bdeflate\\b"), "deflate")
          .when(col("accept").rlike("\\bgzip\\b"), "gzip")
          .otherwise("raw"))

  /** G12/G13/G16 — request/response correlation on `sn` + latency audit,
    * batch analogue of the stream-stream join (gateway.ts:72-137,
    * 311-325). Responses are derived for 90% of sns; the rest are the
    * unmatched dead-letter path (gateway.ts:134-136). */
  def qCorrelate(s: SparkSession, d: String): DataFrame = {
    val req = Tables.events(s, d).select(
      col("event_id").as("sn"), col("event_type"))
    val resp = Tables.events(s, d)
      .filter(col("event_id") % 10 =!= 0)
      .select(col("event_id").as("r_sn"),
        (col("value").cast(DecimalType(18, 2)) * 1000).cast("long").as("latency_ms"))
    req.join(resp, col("sn") === col("r_sn"), "left")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_requests"),
        sum(when(col("latency_ms").isNotNull, 1).otherwise(0)).cast("long").as("n_matched"),
        sum(when(col("latency_ms").isNull, 1).otherwise(0)).cast("long").as("n_unmatched"),
        sum(col("latency_ms")).cast("long").as("total_latency_ms"),
        max(col("latency_ms")).as("max_latency_ms"),
        expr("percentile(latency_ms, 0.5)").as("median_latency_ms"))
  }

  /** G14 codecs end-to-end over real bytes: deflate/gzip the payload,
    * sniff the zlib magic, inflate back, compare. Rows-only check (the
    * oracle can't run zlib); round-trip properties are in CodecsSpec. */
  def qCodecRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Codecs
    // Oracle-checked via format-determined invariants: raw compressed
    // lengths are zlib-implementation-specific, but (a) round-trips must
    // restore the payload, (b) the zlib magic must be present, (c) the
    // deflate overhead is bounded (≤64 B even for incompressible input),
    // and (d) gzip wraps the SAME deflate stream with exactly 12 more
    // bytes of framing ((10+8) gzip header/trailer − (2+4) zlib) — all
    // engine-independent. CodecsSpec covers real ratios unit-level.
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("deflated", Codecs.deflate(col("payload")))
      .withColumn("gzipped", Codecs.gzip(col("payload")))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("orig_len"),
        Codecs.zlibMagic(col("deflated")).as("has_zlib_magic"),
        (Codecs.inflate(col("deflated")) === col("payload")).as("deflate_roundtrip_ok"),
        (Codecs.gunzip(col("gzipped")) === col("payload")).as("gzip_roundtrip_ok"),
        (octet_length(col("deflated")) <= octet_length(col("payload")) + 64).as("deflate_bounded"),
        (octet_length(col("gzipped")) - octet_length(col("deflated"))).as("gzip_wrap_delta"))
  }


  /** The COMPLETE request lifecycle of SURVEY.md §3 as one dataflow:
    * route (404) → anonymous-mobile redirect (307) → rate limit (429) →
    * 3-way auth (307/200) → context enrich + admin address rewrite.
    * Check order mirrors gateway.ts: route lookup (195), mobile
    * anonymous redirect (282), rate-limit deny (260), auth dispatch
    * (203-256). The limiter keeps the reference's rolling-window
    * semantics but is parameterized to 3 calls / 24 h (reference:
    * 10 / 1 s) so the 429 branch actually fires at corpus event
    * density — window size and cap are the only knobs turned.
    */
  def qGatewayPipeline(s: SparkSession, d: String): DataFrame = {
    val w24h = Window.partitionBy("user_id").orderBy("tsm").rangeBetween(-86400000000L, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsm"))
      .withColumn("domain", domainCol)
      .withColumn("token", tokenCol)
      .withColumn("token_kind", kindCol)
      .withColumn("calls_24h", count(lit(1)).over(w24h))
      .withColumnRenamed("event_type", "mod_name")
      .join(broadcast(moduleDim(s)), Seq("mod_name"), "left")
      .join(broadcast(wxDim(s, d)), col("token") === col("w_token"), "left")
      .join(broadcast(sessDim(s, d)), col("token") === col("s_token"), "left")
      .withColumn("status",
        when(col("addr").isNull, 404)
          .when(col("token").isNull && col("domain") === "mobile", 307)
          .when(col("calls_24h") > 3, 429)
          .when(col("token_kind") === "wx",
            when(col("w_uid").isNotNull, 200).otherwise(307))
          .when(col("token_kind") === "uuid", lit(200))
          .when(col("token_kind") === "sess",
            when(col("s_uid").isNotNull, 200).otherwise(307))
          .otherwise(lit(200)))
      .select(
        col("event_id"), col("mod_name"), col("domain"), col("token_kind"), col("status"),
        when(col("status") === 200,
          when(col("token_kind") === "wx", col("w_uid"))
            .when(col("token_kind") === "uuid", col("token"))
            .when(col("token_kind") === "sess", col("s_uid"))
            .otherwise(lit(""))).as("uid"),
        when(col("status") === 200,
          when(col("domain") === "admin", adminAdjacent(col("addr")))
            .otherwise(col("addr"))).as("resolved_addr"))
  }

  /** G2/G11 — msgpack wire-format round-trip over derived request
    * envelopes: encode {mod, fun, arg, ctx} per event, measure sizes,
    * decode back and compare. Oracle-checked: the packet length is
    * analytically determined by the msgpack spec (fixmap/fixstr headers
    * + int-width breakpoints at 127/32767/2^31), so DuckDB derives the
    * exact byte count per row — any encoder drift breaks the hash.
    * AdvancedSpec covers the codec unit-level. */
  def qMsgpackRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Msgpack
    import org.apache.spark.sql.functions.udf
    val enc = udf((mod: String, fun: String, arg: Long, wxuser: String) =>
      Msgpack.encode(Map("mod" -> mod, "fun" -> fun, "arg" -> arg,
        "ctx" -> Map("wxuser" -> wxuser))))
    // decode side is the typed Catalyst expression (binary -> struct):
    // field comparisons stay columnar/codegen, no Map[Any,Any] boxing
    Tables.events(s, d)
      .select(col("event_id"), col("event_type").as("mod_name"),
        lit("call").as("fun"), col("user_id"),
        substring(md5(uid), 1, 28).as("wxuser"))
      .withColumn("packet", enc(col("mod_name"), col("fun"), col("user_id"), col("wxuser")))
      .withColumn("env", expr("msgpack_envelope(packet)"))
      // arg decodes as VARIANT (the reference's dynamic `any`) — the
      // integer comes back out through the typed variant_get path
      .select(col("event_id"), col("mod_name"),
        octet_length(col("packet")).as("packet_len"),
        (col("env.mod") === col("mod_name") &&
          expr("variant_get(env.arg, '$', 'bigint')") === col("user_id")).as("roundtrip_ok"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gw_msgpack_roundtrip" -> (qMsgpackRoundtrip _),
    "q_gw_pipeline" -> (qGatewayPipeline _),
    "q_gw_auth_dispatch" -> (qAuthDispatch _),
    "q_gw_route" -> (qRoute _),
    "q_gw_rate_limit" -> (qRateLimit _),
    "q_gw_compress_decision" -> (qCompressDecision _),
    "q_gw_correlate" -> (qCorrelate _),
    "q_gw_codec_roundtrip" -> (qCodecRoundtrip _))

  val oracle: Map[String, String] = Map(
    "q_gw_msgpack_roundtrip" ->
      // int width mirrors Msgpack.write exactly, incl. NEGATIVE ids
      // (neg fixint 1 B, int8 2 B): latent-parity hardening should a
      // future corpus emit them
      """SELECT event_id, event_type AS mod_name,
        |  CAST(60 + length(event_type) +
        |    CASE WHEN user_id BETWEEN -32 AND 127 THEN 1
        |         WHEN user_id BETWEEN -128 AND -33 THEN 2
        |         WHEN user_id BETWEEN -32768 AND 32767 THEN 3
        |         WHEN user_id BETWEEN -2147483648 AND 2147483647 THEN 5
        |         ELSE 9 END AS INTEGER) AS packet_len,
        |  TRUE AS roundtrip_ok
        |FROM events""".stripMargin,
    "q_gw_codec_roundtrip" ->
      // NULL-text aware: the codec UDFs null-propagate (flags/delta
      // NULL) while zlibMagic of a NULL payload is FALSE — the oracle
      // mirrors both so a future corpus with NULL text stays hash-equal
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS orig_len,
        |  text IS NOT NULL AS has_zlib_magic,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS deflate_roundtrip_ok,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS gzip_roundtrip_ok,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS deflate_bounded,
        |  CASE WHEN text IS NULL THEN NULL ELSE 12 END AS gzip_wrap_delta
        |FROM documents""".stripMargin,
    "q_gw_pipeline" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type AS mod_name, ts,
        |    CASE WHEN event_type IN ('click','view') THEN 'mobile' ELSE 'admin' END AS domain,
        |    CASE WHEN user_id % 4 = 0 THEN substring(md5('wx' || CAST(user_id AS STRING)), 1, 28)
        |         WHEN user_id % 4 = 1 THEN
        |           substring(md5(CAST(user_id AS STRING)),1,8) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),9,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),13,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),17,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),21,12)
        |         WHEN user_id % 4 = 2 THEN 'sess-' || CAST(user_id AS STRING)
        |         ELSE NULL END AS token,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW) AS calls_24h
        |  FROM events),
        |cls AS (SELECT base.*,
        |    CASE WHEN token IS NULL THEN 'none'
        |         WHEN length(token) = 28 THEN 'wx'
        |         WHEN length(token) = 36 AND substring(token,9,1) = '-' AND substring(token,14,1) = '-'
        |              AND substring(token,19,1) = '-' AND substring(token,24,1) = '-' THEN 'uuid'
        |         ELSE 'sess' END AS token_kind
        |  FROM base),
        |m AS (SELECT * FROM (VALUES
        |    ('click','tcp://svc-click:5558'),
        |    ('purchase','tcp://svc-purchase:5560'),
        |    ('signup','tcp://svc-signup:5562')) t(mod_name, addr)),
        |wx AS (SELECT DISTINCT substring(md5('wx' || CAST(user_id AS STRING)),1,28) AS w_token,
        |         'wx:' || CAST(user_id AS STRING) AS w_uid FROM events WHERE user_id % 8 = 0),
        |sess AS (SELECT DISTINCT 'sess-' || CAST(user_id AS STRING) AS s_token,
        |         'sess:' || CAST(user_id AS STRING) AS s_uid FROM events WHERE user_id % 8 = 2),
        |j AS (SELECT cls.*, m.addr, wx.w_uid, sess.s_uid
        |  FROM cls LEFT JOIN m ON cls.mod_name = m.mod_name
        |  LEFT JOIN wx ON cls.token = wx.w_token
        |  LEFT JOIN sess ON cls.token = sess.s_token),
        |fin AS (SELECT j.*,
        |    CASE WHEN addr IS NULL THEN 404
        |         WHEN token IS NULL AND domain = 'mobile' THEN 307
        |         WHEN calls_24h > 3 THEN 429
        |         WHEN token_kind = 'wx' THEN (CASE WHEN w_uid IS NOT NULL THEN 200 ELSE 307 END)
        |         WHEN token_kind = 'uuid' THEN 200
        |         WHEN token_kind = 'sess' THEN (CASE WHEN s_uid IS NOT NULL THEN 200 ELSE 307 END)
        |         ELSE 200 END AS status
        |  FROM j)
        |SELECT event_id, mod_name, domain, token_kind, status,
        |  CASE WHEN status = 200 THEN
        |    CASE WHEN token_kind = 'wx' THEN w_uid
        |         WHEN token_kind = 'uuid' THEN token
        |         WHEN token_kind = 'sess' THEN s_uid
        |         ELSE '' END END AS uid,
        |  CASE WHEN status = 200 THEN
        |    CASE WHEN domain = 'admin' THEN regexp_extract(addr, '^(.*:)([0-9]+)$', 1) ||
        |           CAST(CAST(regexp_extract(addr, '^(.*:)([0-9]+)$', 2) AS INTEGER) + 1 AS STRING)
        |         ELSE addr END END AS resolved_addr
        |FROM fin""".stripMargin,
    "q_gw_auth_dispatch" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type IN ('click','view') THEN 'mobile' ELSE 'admin' END AS domain,
        |    CASE WHEN user_id % 4 = 0 THEN substring(md5('wx' || CAST(user_id AS STRING)), 1, 28)
        |         WHEN user_id % 4 = 1 THEN
        |           substring(md5(CAST(user_id AS STRING)),1,8) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),9,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),13,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),17,4) || '-' ||
        |           substring(md5(CAST(user_id AS STRING)),21,12)
        |         WHEN user_id % 4 = 2 THEN 'sess-' || CAST(user_id AS STRING)
        |         ELSE NULL END AS token
        |  FROM events),
        |wx AS (SELECT DISTINCT substring(md5('wx' || CAST(user_id AS STRING)),1,28) AS w_token,
        |         'wx:' || CAST(user_id AS STRING) AS w_uid FROM events WHERE user_id % 8 = 0),
        |sess AS (SELECT DISTINCT 'sess-' || CAST(user_id AS STRING) AS s_token,
        |         'sess:' || CAST(user_id AS STRING) AS s_uid FROM events WHERE user_id % 8 = 2),
        |cls AS (SELECT ev.*,
        |    CASE WHEN token IS NULL THEN 'none'
        |         WHEN length(token) = 28 THEN 'wx'
        |         WHEN length(token) = 36 AND substring(token,9,1) = '-' AND substring(token,14,1) = '-'
        |              AND substring(token,19,1) = '-' AND substring(token,24,1) = '-' THEN 'uuid'
        |         ELSE 'sess' END AS token_kind
        |  FROM ev)
        |SELECT event_id, token_kind, domain,
        |  CASE WHEN token_kind = 'wx' THEN (CASE WHEN w_uid IS NOT NULL THEN 200 ELSE 307 END)
        |       WHEN token_kind = 'uuid' THEN 200
        |       WHEN token_kind = 'sess' THEN (CASE WHEN s_uid IS NOT NULL THEN 200 ELSE 307 END)
        |       ELSE (CASE WHEN domain = 'admin' THEN 200 ELSE 307 END) END AS status,
        |  CASE WHEN token_kind = 'wx' THEN w_uid
        |       WHEN token_kind = 'uuid' THEN token
        |       WHEN token_kind = 'sess' THEN s_uid
        |       WHEN token_kind = 'none' AND domain = 'admin' THEN ''
        |       ELSE NULL END AS uid,
        |  'ip-' || CAST(user_id AS STRING) AS ip
        |FROM cls LEFT JOIN wx ON cls.token = wx.w_token
        |         LEFT JOIN sess ON cls.token = sess.s_token""".stripMargin,
    "q_gw_route" ->
      """WITH m AS (SELECT * FROM (VALUES
        |    ('click','tcp://svc-click:5558'),
        |    ('purchase','tcp://svc-purchase:5560'),
        |    ('signup','tcp://svc-signup:5562')) t(mod_name, addr)),
        |ev AS (SELECT event_id, event_type AS mod_name,
        |    CASE WHEN event_type IN ('click','view') THEN 'mobile' ELSE 'admin' END AS domain
        |  FROM events)
        |SELECT event_id, ev.mod_name, domain,
        |  CASE WHEN addr IS NULL THEN NULL
        |       WHEN domain = 'admin' THEN regexp_extract(addr, '^(.*:)([0-9]+)$', 1) ||
        |         CAST(CAST(regexp_extract(addr, '^(.*:)([0-9]+)$', 2) AS INTEGER) + 1 AS STRING)
        |       ELSE addr END AS resolved_addr,
        |  CASE WHEN addr IS NULL THEN 404 ELSE 200 END AS status
        |FROM ev LEFT JOIN m ON ev.mod_name = m.mod_name""".stripMargin,
    "q_gw_rate_limit" ->
      """WITH c AS (
        |  SELECT user_id,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN INTERVAL 1 SECOND PRECEDING AND CURRENT ROW) AS c1s,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS c1h
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events, CAST(MAX(c1s) AS BIGINT) AS max_calls_1s,
        |  CAST(SUM(CASE WHEN c1s > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_denied_1s,
        |  CAST(MAX(c1h) AS BIGINT) AS max_calls_1h
        |FROM c GROUP BY user_id""".stripMargin,
    "q_gw_compress_decision" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(octet_length(encode(repeat(text, 4))) AS BIGINT) AS size,
        |    CASE WHEN doc_id % 3 = 0 THEN 'gzip, deflate'
        |         WHEN doc_id % 3 = 1 THEN 'gzip' ELSE '' END AS accept,
        |    (doc_id % 5 = 0) AS pre_deflated
        |  FROM documents)
        |SELECT doc_id, size, accept, pre_deflated,
        |  CASE WHEN pre_deflated AND regexp_matches(accept, chr(92) || 'bdeflate' || chr(92) || 'b') THEN 'passthrough_deflate'
        |       WHEN pre_deflated AND regexp_matches(accept, chr(92) || 'bgzip' || chr(92) || 'b') THEN 'inflate_gzip'
        |       WHEN pre_deflated THEN 'inflate_raw'
        |       WHEN size <= 1024 THEN 'raw'
        |       WHEN regexp_matches(accept, chr(92) || 'bdeflate' || chr(92) || 'b') THEN 'deflate'
        |       WHEN regexp_matches(accept, chr(92) || 'bgzip' || chr(92) || 'b') THEN 'gzip'
        |       ELSE 'raw' END AS decision
        |FROM base""".stripMargin,
    "q_gw_correlate" ->
      """WITH req AS (SELECT event_id AS sn, event_type FROM events),
        |resp AS (SELECT event_id AS r_sn,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 1000 AS BIGINT) AS latency_ms
        |  FROM events WHERE event_id % 10 <> 0)
        |SELECT event_type, COUNT(*) AS n_requests,
        |  CAST(SUM(CASE WHEN latency_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN latency_ms IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
        |  CAST(SUM(latency_ms) AS BIGINT) AS total_latency_ms,
        |  MAX(latency_ms) AS max_latency_ms,
        |  quantile_cont(latency_ms, 0.5) AS median_latency_ms
        |FROM req LEFT JOIN resp ON req.sn = resp.r_sn
        |GROUP BY event_type""".stripMargin)
}
