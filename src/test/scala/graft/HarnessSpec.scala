package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The shared query loop ([[Harness]]) on the suite session. No test calls
  * a main: each main stops its session. */
class HarnessSpec extends SparkSpec {

  test("select keeps registered names and rejects unknown ones by name") {
    assert(Harness.select(Seq("q1_pricing_summary")).map(_._1) == Seq("q1_pricing_summary"))
    assert(Harness.select(Nil).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("q1_pricing_summary", "q_typo", "q_typo2"))
    }
    assert(e.getMessage.contains("q_typo") && e.getMessage.contains("q_typo2"), e.getMessage)
    assert(!e.getMessage.contains("q1_pricing_summary"), e.getMessage)
  }

  test("a failing builder leaves no stale dump in a reused out dir and nothing cached") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_harness").toString
    val ok: Harness.Builder = (s, _) => s.range(3).toDF("id")
    assert(Verify.dump(spark, "q_x", ok, sf, outDir))
    assert(spark.read.parquet(s"$outDir/q_x").count() == 3)

    var cached: DataFrame = null
    val failing: Harness.Builder = (s, _) => {
      cached = CacheTracker.track(s.range(5).toDF("id").persist())
      cached.count()
      throw new IllegalStateException("builder failed")
    }
    assert(!Verify.dump(spark, "q_x", failing, sf, outDir))
    assert(!new java.io.File(outDir, "q_x").exists(), "stale dump must be deleted")
    assert(cached.storageLevel == StorageLevel.NONE, "tracked cache must be released")
    AtRest.deleteRecursively(new java.io.File(outDir))
  }

  test("esc: escaped text round-trips through a JSON parser") {
    val mapper = new ObjectMapper
    Seq("plain", "a \"quoted\" word", "back\\slash", "tab\there", "cr\rlf\n",
        "ctl\u0001x", "C:\\data\\sf0.1", "").foreach { s =>
      assert(mapper.readValue("\"" + Harness.esc(s) + "\"", classOf[String]) == s, s)
    }
  }
}
