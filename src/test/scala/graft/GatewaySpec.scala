package graft

import graft.operators.Gateway
import org.apache.spark.sql.functions._

/** Decision-table invariants for the gateway operators (FIXTURES.md §B). */
class GatewaySpec extends SparkSpec {

  lazy val auth = Gateway.qAuthDispatch(spark, sf).cache()

  test("auth: every token kind appears and statuses are only 200/307") {
    val kinds = auth.select("token_kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("wx", "uuid", "sess", "none"))
    val statuses = auth.select("status").distinct().collect().map(_.getInt(0)).toSet
    assert(statuses == Set(200, 307))
  }

  test("auth: uuid tokens always pass through as their own uid (gateway.ts:226)") {
    assert(auth.filter(col("token_kind") === "uuid" &&
      (col("status") =!= 200 || col("uid").isNull)).count() == 0)
  }

  test("auth: wx and sess kinds have both hit (200 w/ uid) and miss (307, null uid) paths") {
    for (k <- Seq("wx", "sess")) {
      assert(auth.filter(col("token_kind") === k && col("status") === 200 && col("uid").isNotNull).count() > 0)
      assert(auth.filter(col("token_kind") === k && col("status") === 307 && col("uid").isNull).count() > 0)
    }
  }

  test("auth: anonymous admin proceeds with empty uid, anonymous mobile gets 307 (gateway.ts:264-284)") {
    val none = auth.filter(col("token_kind") === "none")
    assert(none.filter(col("domain") === "admin" && (col("status") =!= 200 || col("uid") =!= "")).count() == 0)
    assert(none.filter(col("domain") === "mobile" && col("status") =!= 307).count() == 0)
  }

  test("route: unknown modules 404 with null address; admin rewrites to adjacent port (gateway.ts:45-53,288-298)") {
    val r = Gateway.qRoute(spark, sf).cache()
    assert(r.filter(col("status") === 404 && col("resolved_addr").isNotNull).count() == 0)
    assert(r.filter(col("mod_name").isin("error", "view") && col("status") =!= 404).count() == 0)
    // signup is always admin-domain → always rewritten 5562 → 5563
    val signupAddrs = r.filter(col("mod_name") === "signup")
      .select("resolved_addr").distinct().collect().map(_.getString(0)).toSet
    assert(signupAddrs == Set("tcp://svc-signup:5563"))
    // click is always mobile-domain → never rewritten
    val clickAddrs = r.filter(col("mod_name") === "click")
      .select("resolved_addr").distinct().collect().map(_.getString(0)).toSet
    assert(clickAddrs == Set("tcp://svc-click:5558"))
  }

  test("rate limit: windows are sane (1s ⊆ 1h, counts ≥ 1)") {
    val rl = Gateway.qRateLimit(spark, sf).cache()
    assert(rl.filter(col("max_calls_1s") < 1 || col("max_calls_1h") < col("max_calls_1s")).count() == 0)
    assert(rl.filter(col("n_denied_1s") > 0 && col("max_calls_1s") <= 10).count() == 0)
  }

  test("correlate: matched + unmatched = requests; ~10% dead-letter (gateway.ts:134-136)") {
    val c = Gateway.qCorrelate(spark, sf)
    val rows = c.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, m, u) = (r.getAs[Long]("n_requests"), r.getAs[Long]("n_matched"), r.getAs[Long]("n_unmatched"))
      assert(m + u == n)
      assert(u > 0 && u < n)
    }
  }

  test("compress decision: all six branches of the negotiation table occur") {
    val dec = Gateway.qCompressDecision(spark, sf)
      .select("decision").distinct().collect().map(_.getString(0)).toSet
    assert(dec == Set("passthrough_deflate", "inflate_gzip", "inflate_raw", "raw", "deflate", "gzip"))
  }

  test("msgpack_envelope property: random envelopes decode typed; random bytes never throw") {
    import graft.functions.{Msgpack, MsgpackEnvelope}
    val rnd = new scala.util.Random(20260812L)
    def rndStr(): String = {
      // whole code points only — indexing into a surrogate pair would
      // build an invalid UTF-16 string no UTF-8 wire format can carry
      val alphabets = Seq(
        Seq("a", "b", "c", "d"), Seq("α", "β", "γ"), Seq("模", "块", "名"), Seq("🎈", "o", "k"))
      val a = alphabets(rnd.nextInt(alphabets.length))
      (1 to (1 + rnd.nextInt(40))).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    // arg is the reference's dynamic `any` — draw a mixed-type value and
    // assert the VARIANT decode preserves it (json round-trip per type)
    def rndArg(): (Any, String) = rnd.nextInt(6) match {
      case 0 => val l = rnd.nextLong(); (l, l.toString)
      case 1 => val s = "str" + rnd.nextInt(1000); (s, "\"" + s + "\"")
      case 2 => val b = rnd.nextBoolean(); (b, b.toString)
      case 3 => (null, "null")
      case 4 => val xs = Seq(1L, 2L, rnd.nextInt(9).toLong); (xs, s"[1,2,${xs(2)}]")
      case 5 => val v = rnd.nextInt(99).toLong; (Map("k" -> v), s"""{"k":$v}""")
    }
    val utc = java.time.ZoneId.of("UTC")
    (1 to 200).foreach { i =>
      val mod = rndStr(); val fun = rndStr(); val (arg, argJson) = rndArg()
      val ctx = (1 to rnd.nextInt(4)).map(_ => rndStr() -> rndStr()).toMap
      val row = MsgpackEnvelope.decodeRow(Msgpack.encode(
        Map("mod" -> mod, "fun" -> fun, "arg" -> arg, "ctx" -> ctx)))
      assert(row != null, s"case $i decoded to null")
      assert(row.getUTF8String(0).toString == mod && row.getUTF8String(1).toString == fun)
      val v = row.get(2, org.apache.spark.sql.types.VariantType)
        .asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
      assert(v != null, s"case $i: present arg must decode non-NULL (was $arg)")
      assert(v.toJson(utc) == argJson, s"case $i: variant ${v.toJson(utc)} != $argJson")
      if (ctx.isEmpty) assert(row.getMap(3).numElements() == 0)
      else assert(row.getMap(3).numElements() == ctx.size)
    }
    // fuzz: arbitrary byte junk must yield null or a row, never throw
    (1 to 500).foreach { _ =>
      val junk = Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte)
      MsgpackEnvelope.decodeRow(junk) // no exception is the assertion
    }
  }

  test("msgpack_envelope: typed struct decode; NULL on malformed bytes") {
    import graft.functions.Msgpack
    import spark.implicits._
    val good = Msgpack.encode(Map(
      "mod" -> "wx", "fun" -> "call", "arg" -> 7L, "ctx" -> Map("wxuser" -> "u1")))
    val partial = Msgpack.encode(Map("mod" -> "only"))     // fields absent
    val mistyped = Msgpack.encode(Map("mod" -> 3L, "arg" -> "nope"))
    val nonMap = Msgpack.encode("hello")                   // top-level not a map
    val garbage = Array[Byte](0xc1.toByte, 1, 2)           // 0xc1: reserved tag
    val truncated = good.dropRight(3)
    val rows = Seq("good" -> good, "partial" -> partial, "mistyped" -> mistyped,
        "nonmap" -> nonMap, "garbage" -> garbage, "trunc" -> truncated)
      .toDF("k", "b")
      .selectExpr("k", "msgpack_envelope(b) AS env")
      .collect().map(r => r.getString(0) -> r).toMap
    val utc = java.time.ZoneId.of("UTC")
    def argJson(r: org.apache.spark.sql.Row): String =
      r.getAs[org.apache.spark.unsafe.types.VariantVal]("arg").toJson(utc)
    val g = rows("good").getStruct(1)
    assert(g.getAs[String]("mod") == "wx" && g.getAs[String]("fun") == "call")
    assert(argJson(g) == "7")
    assert(g.getAs[Map[String, String]]("ctx") == Map("wxuser" -> "u1"))
    val p = rows("partial").getStruct(1)
    assert(p.getAs[String]("mod") == "only" && p.isNullAt(p.fieldIndex("fun"))
      && p.isNullAt(p.fieldIndex("arg")) && p.isNullAt(p.fieldIndex("ctx")))
    val m = rows("mistyped").getStruct(1) // map decodes; mistyped mod nulls,
    assert(m.isNullAt(m.fieldIndex("mod")))
    // ...but a non-integer arg is FAITHFUL now: the dynamic `any` decodes
    // as a variant string instead of silently nulling (r4 verdict #4)
    assert(argJson(m) == "\"nope\"")
    Seq("nonmap", "garbage", "trunc").foreach { k =>
      assert(rows(k).isNullAt(1), s"$k should decode to NULL")
    }
    // a negative 32-bit collection length is malformed — it must NULL
    // the envelope, not silently decode as an empty map/array
    val negMap = Array[Byte](0xdf.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
    val negArr = Array[Byte](0xdd.toByte, 0x80.toByte, 0, 0, 0)
    val negRows = Seq("negmap" -> negMap, "negarr" -> negArr).toDF("k", "b")
      .selectExpr("k", "msgpack_envelope(b) AS env")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(negRows("negmap").isNullAt(1), "map32 with negative length must NULL")
    assert(negRows("negarr").isNullAt(1), "array32 with negative length must NULL")
  }

  test("codec UDFs propagate NULL instead of NPEing the task") {
    import graft.functions.Codecs
    import spark.implicits._
    val df = Seq(("a", "payload".getBytes("UTF-8")), ("b", null))
      .toDF("k", "b")
    val out = df.select(col("k"),
        Codecs.deflate(col("b")).as("d"), Codecs.gzip(col("b")).as("g"))
      .withColumn("i", Codecs.inflate(col("d")))
      .withColumn("u", Codecs.gunzip(col("g")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(new String(out("a").getAs[Array[Byte]]("i"), "UTF-8") == "payload")
    assert(new String(out("a").getAs[Array[Byte]]("u"), "UTF-8") == "payload")
    Seq("d", "g", "i", "u").foreach { c =>
      assert(out("b").isNullAt(out("b").fieldIndex(c)),
        s"NULL input must propagate through $c")
    }
  }
}
