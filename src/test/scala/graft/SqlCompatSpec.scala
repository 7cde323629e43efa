package graft

/** The FULL SQL surface through Spark's frontend (r14 verdict item 4):
  * every one of the ~291 oracle SQL strings — the ANSI text DuckDB
  * executes as the correctness oracle — is swept through `spark.sql`
  * against the Hive-catalog tables WITH the graft DuckDB-dialect alias
  * layer installed ([[functions.DuckDbDialect]], opt-in through its
  * `register`: engine sessions do not carry it), and the outcome is
  * pinned three ways with ZERO silent skips:
  *
  *   - **identical**: strict driver-style canon (columns sorted by
  *     name, rows sorted, 12-significant-digit floats) equals the
  *     DataFrame form's — the query is fully catalog-servable.
  *   - **value-equal, type differs** ([[knownTypeDiff]]): every value
  *     numerically equal but a column is typed differently by the SQL
  *     frontend than by the DataFrame form (e.g. DECIMAL where the
  *     DataFrame casts to DOUBLE). Catalog users get correct values
  *     with a different declared type; each row names the construct.
  *   - **incompatible** ([[knownIncompatible]]): the text uses a
  *     DuckDB-ism Spark's parser/analyzer rejects (or evaluates to
  *     different values). Each row names the exact construct, so the
  *     matrix documents precisely which oracle strings are
  *     DuckDB-dialect rather than portable ANSI.
  *
  * The matrix is SELF-VERIFYING in both directions: an undocumented
  * divergence fails the spec, and a documented one that stops
  * diverging (e.g. a Spark upgrade adds the function) also fails, so
  * the committed lists can never go stale. A machine-readable copy is
  * written to `target/sql_compat.json` for the round record.
  */
class SqlCompatSpec extends SparkSpec {

  /** Oracle strings that are DuckDB dialect, not portable ANSI — the
    * construct each one needs is named. These queries' CORRECTNESS is
    * still driver-verified (Spark DataFrame vs DuckDB); this matrix is
    * only about whether the SAME TEXT runs on Spark's SQL frontend. */
  // GENERATED-MATRIX-BEGIN (regenerated from target/sql_compat.json)
  private val knownIncompatible: Map[String, String] = Map(
    "q_bpe_encode" -> "WITH ... AS MATERIALIZED hint (load-bearing for the DuckDB oracle's recursive-CTE runtime)",
    "q_bpe_merges" -> "WITH ... AS MATERIALIZED hint (load-bearing for the DuckDB oracle's recursive-CTE runtime)",
    "q_dedup_cdc_chunks" -> "HUGEINT data type (the Gear-table literal; the chunker state machine needs 64-bit unsigned wrap)",
    "q_emb_colstats" -> "HUGEINT data type",
    "q_pca_power" -> "HUGEINT data type",
    "q_rolling_fingerprint" -> "HUGEINT data type")

  /** Value-equal but differently typed through the SQL frontend. */
  private val knownTypeDiff: Map[String, String] = Map.empty

  // GENERATED-MATRIX-END

  /** Oracle texts whose SPARK-FRONTEND execution exceeds the sweep's
    * per-query time box — measured r18 (per-text seconds in
    * target/sql_compat.json): this suite ran 62 minutes, of which the
    * eight cluster-label texts (which inline the full LSH
    * signature+banding pipeline — 128 interpreted md5 folds per doc —
    * plus the recursive-CTE closure) burned most of the hour;
    * q_dedup_canonical alone ran 25+ CPU-minutes and is not even
    * job-cancellable (the cost sits in driver-side recursive-CTE
    * expansion). Two consecutive driver runs died inside that silent
    * hour (the r16/r17 `tests_ok:false`).
    *
    * Entries here are SKIPPED in the default sweep — a named,
    * documented, counted skip, never a silent one — and swept to
    * completion under SPARK_GRAFT_SQLCOMPAT_FULL=1, where a listed text
    * finishing in under half the box flags as stale (self-verifying in
    * both directions, like the matrices above). Every entry's
    * correctness is still driver-verified against DuckDB every round;
    * this matrix only documents Spark-frontend runnability. */
  private val knownSlow: Map[String, String] = Map(
    "q_dedup_canonical" -> "inlined LSH pipeline + recursive-CTE closure; driver-side CTE expansion, 25+ CPU-min, not job-cancellable",
    "q_dedup_clusters" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_dedup_cluster_eval" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_dedup_cc_largestar" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_dedup_cc_incremental" -> "inlined LSH pipeline + recursive-CTE closure, twice (history + merged graph)",
    "q_split_repair" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_takedown_closure" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_takedown_purge" -> "inlined LSH pipeline + recursive-CTE closure (ccLabelsSql family)",
    "q_decontaminate_bloom" -> "corpus-wide 5-gram shingle explode through the interpreted HOF path (the DF form reads the Bloom-gated stream)",
    "q_dedup_winnow" -> "per-position md5 winnowing fingerprints, interpreted through the SQL frontend",
    "q_graph_reach" -> "BFS closure recursive CTE over the near-dup graph; measured at the former 45 s box edge",
    "q_quality_dup_contingency" -> "inlines the LSH near-dup leg; measured 11–45 s run-to-run through the SQL frontend",
    "q_bleu_pairs" -> "inlines the LSH pipeline; 10 s solo-suite but 45+ s under full-suite JIT/cache conditions",
    "q_fuzzy_match" -> "inlines the LSH pipeline; 8 s solo-suite but 45+ s under full-suite JIT/cache conditions",
    "q_graph_jaccard" -> "inlines the LSH pipeline; 9 s solo-suite but 45+ s under full-suite JIT/cache conditions",
    "q_graph_triangles" -> "inlines the LSH pipeline + triangle join; measured up to 25 s, too close to the box under load")

  private val fullSweep = sys.env.get("SPARK_GRAFT_SQLCOMPAT_FULL").contains("1")
  // 120 s: every text that survives the knownSlow skip measured <= 20 s
  // even under adverse full-suite conditions (target/sql_compat.json
  // secs) — a 6x inflation margin before a spurious timebox. The box is
  // a tripwire for texts that become pathological UNDOCUMENTED, not a
  // scheduler.
  private val boxSec = 120


  private def firstLine(s: String): String =
    Option(s).flatMap(_.linesIterator.find(_.trim.nonEmpty))
      .getOrElse("<no message>").trim.take(160)

  test("all oracle SQL via spark.sql: identical, value-equal-typed, or documented — zero silent skips") {
    // the DuckDB-dialect aliases are opt-in: the sweep installs them in
    // a session of its own (shared catalog, own function registry, so
    // later suites keep Spark's built-ins) and measures THAT surface
    // (SURVEY round-15 addendum)
    val duck = spark.newSession()
    functions.DuckDbDialect.register(duck)
    CatalogFixture.registerCatalogTables(duck, sf)
    duck.sql(s"USE ${CatalogFixture.db}")
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val outcomes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val names = SparkEntry.oracleSql.keys.toSeq.sorted
      assert(names.nonEmpty && names.size == SparkEntry.queries.size,
        s"oracleSql (${names.size}) and queries (${SparkEntry.queries.size}) drifted")
      names.zipWithIndex.foreach { case (name, qi) =>
        // progress heartbeat (r18, verdict item 1): this single test
        // executes every oracle text twice and ran 15+ minutes silent —
        // exactly the shape an inactivity-killed driver run dies in.
        // One line per 20 queries keeps the stream alive and localizes
        // a kill.
        if (qi % 20 == 0)
          println(s"[${java.time.LocalTime.now().withNano(0)}] sqlcompat $qi/${names.size}: $name")
        val sql = SparkEntry.oracleSql(name)
        // Right(true)=strict identical, Right(false)=loose-equal only,
        // Left(reason)=error or value divergence
        def compare(): Either[String, Boolean] =
          try {
            val viaSql = duck.sql(sql)
            val viaDf = SparkEntry.queries(name)(duck, sf)
            if (CatalogFixture.canon(viaSql) == CatalogFixture.canon(viaDf)) Right(true)
            else if (CatalogFixture.canonLoose(viaSql) == CatalogFixture.canonLoose(viaDf)) Right(false)
            else {
              val a = CatalogFixture.canonLoose(viaSql); val b = CatalogFixture.canonLoose(viaDf)
              Left(s"value divergence: sql ${a.size} rows vs df ${b.size}; first diff " +
                a.zipAll(b, "<missing>", "<missing>").find { case (x, y) => x != y }
                  .map { case (x, y) => s"[$x] vs [$y]" }.getOrElse("<none>"))
            }
          } catch {
            case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${firstLine(t.getMessage)}")
          } finally CacheTracker.releaseQueryScope(duck)

        // Per-query TIME BOX (r18, verdict item 1): unboxed, single
        // pathological texts ran this one-test suite past every driver
        // budget. knownSlow entries are skipped outright in the default
        // sweep (documented + counted below — and several are
        // driver-analysis-bound, which a job-group cancel cannot stop);
        // everything else runs on a worker thread under a Spark job
        // group, and the box exists to CATCH texts that became slow
        // undocumented. On timeout the group is cancelled and we WAIT
        // for the worker to unwind (its finally releases the query
        // scope — proceeding early would race the next query's caches).
        val t0 = System.nanoTime()
        val outcome: Either[String, Boolean] =
          if (!fullSweep && knownSlow.contains(name)) Left("KNOWNSLOW")
          else if (fullSweep) compare()
          else {
            import scala.concurrent.duration._
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            val grp = s"sqlcompat-$name"
            val fut = Future {
              duck.sparkContext.setJobGroup(grp, name, interruptOnCancel = true)
              try compare() finally duck.sparkContext.clearJobGroup()
            }
            try Await.result(fut, boxSec.seconds)
            catch {
              case _: java.util.concurrent.TimeoutException =>
                duck.sparkContext.cancelJobGroup(grp)
                try Await.result(fut, 120.seconds)
                catch { case t: Throwable =>
                  problems += s"$name: job-group cancel did not unwind in 120 s (${t.getClass.getSimpleName})"
                }
                Left("TIMEBOXED")
            }
          }
        val elapsedSec = (System.nanoTime() - t0) / 1e9
        secs(name) = elapsedSec
        if (elapsedSec > 10)
          println(f"[sqlcompat] SLOW $name: $elapsedSec%.1f s")
        // staleness is only checkable when the text actually ran to
        // completion — i.e. in the full sweep
        if (fullSweep && knownSlow.contains(name) && elapsedSec < boxSec / 2.0)
          problems += f"$name: listed in knownSlow (${knownSlow(name)}) but completed in $elapsedSec%.1f s — remove the stale entry"

        outcome match {
          case Left("KNOWNSLOW") =>
            outcomes(name) = s"slow: documented (${knownSlow(name)}); swept under SPARK_GRAFT_SQLCOMPAT_FULL=1"
          case Left("TIMEBOXED") =>
            outcomes(name) = s"slow: timeboxed at $boxSec s (full sweep: SPARK_GRAFT_SQLCOMPAT_FULL=1)"
            if (!knownSlow.contains(name))
              problems += s"$name: UNDOCUMENTED slow text — exceeded the $boxSec s box; document in knownSlow or fix the text's Spark-frontend cost"
          case Right(true) =>
            outcomes(name) = "identical"
            if (knownIncompatible.contains(name))
              problems += s"$name: listed incompatible (${knownIncompatible(name)}) but ran identical — remove the stale entry"
            if (knownTypeDiff.contains(name))
              problems += s"$name: listed type-diff (${knownTypeDiff(name)}) but ran strictly identical — remove the stale entry"
          case Right(false) =>
            outcomes(name) = "type-differs"
            if (!knownTypeDiff.contains(name))
              problems += s"$name: value-equal but typed differently and NOT documented in knownTypeDiff"
            if (knownIncompatible.contains(name))
              problems += s"$name: listed incompatible but is value-equal (type diff only) — move to knownTypeDiff"
          case Left(reason) =>
            outcomes(name) = s"incompatible: $reason"
            if (!knownIncompatible.contains(name))
              problems += s"$name: UNDOCUMENTED incompatibility — $reason"
        }
      }
      val nIdent = outcomes.valuesIterator.count(_ == "identical")
      val nType = outcomes.valuesIterator.count(_ == "type-differs")
      val nSlow = outcomes.valuesIterator.count(_.startsWith("slow:"))
      val nInc = outcomes.size - nIdent - nType - nSlow
      // round record (machine-readable; the committed matrix lives in
      // the maps above) — per-text sweep seconds included so the slow
      // set is chosen from data, not guesses
      val j = outcomes.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      }.mkString("{", ",", "}")
      val js = secs.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get("target/sql_compat.json"),
        (s"""{"identical":$nIdent,"type_differs":$nType,"incompatible":$nInc,"slow":$nSlow,"queries":$j,"secs":$js}""" + "\n")
          .getBytes("UTF-8"))
      info(s"${outcomes.size} oracle SQL texts: $nIdent identical, $nType value-equal/type-differs, $nInc incompatible (documented), $nSlow timeboxed-slow (documented)")
      assert(problems.isEmpty, s"${problems.size} matrix drift(s):\n${problems.mkString("\n")}")
    } finally duck.sql("USE default")
  }
}
