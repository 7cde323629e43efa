package graft

/** Scaling-slope audit: times every registered query (or the
  * `SPARK_GRAFT_ONLY` selection) at two scale factors in one JVM and
  * writes a per-query slope table to `slope.json`. A plan can be
  * shuffle-clean and still hide a super-linear stage (a candidate set
  * that grows quadratically, an iterative algorithm whose rounds grow
  * with data); the time ratio shows it. A ratio near the data ratio is
  * linear scaling, well below it means fixed overheads dominate, and rows
  * above [[FLAG_OVER]] (the 10× default data ratio plus a noise margin)
  * are flagged for adjudication: an intrinsic pair-quadratic eval to
  * document, or a real scale bug.
  *
  * Per (query, sf) the statistic is the MIN of [[REPS]] timed reps
  * ([[Harness.timedRep]]): the slope wants the intrinsic cost floor, not
  * the environment, and the first rep absorbs index builds and codegen.
  * Builds are reported per row so a row whose reps both built is visibly
  * build-priced rather than misread as super-linear. Queries run small-SF
  * first; per-source at-rest GC scoping lets both corpora's generations
  * coexist in one run.
  *
  * Env: SPARK_GRAFT_SF_SMALL / SPARK_GRAFT_SF_BIG (default sf0.01 /
  * sf0.1), SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY, SPARK_GRAFT_SLOPE_OUT
  * (output path; derived-corpus audits such as the 10×-embeddings step
  * of [[EmbCorpus]] write their own file).
  */
object Slope {
  private val REPS = 2
  private val FLAG_OVER = 12.0

  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val selected = Harness.select(Harness.onlyEnv)
    val spark = Harness.session(32)

    // (min secs over reps, -1 on failure; families built in ANY rep)
    def time(name: String, fn: Harness.Builder, dir: String): (Double, Seq[String]) = {
      val reps = (1 to REPS).map(_ => Harness.timedRep(spark, name, fn, dir))
      val secs = reps.map(_._1)
      (if (secs.exists(_ < 0)) -1.0 else secs.min, reps.flatMap(_._2).distinct)
    }

    // warmup: never charge JVM/session init to the first timed row
    SparkEntry.queries.get("q1_pricing_summary").foreach(fn => time("warmup", fn, sfSmall))

    val rows = selected.map { case (name, fn) =>
      val (tS, bS) = time(name, fn, sfSmall)
      val (tB, bB) = time(name, fn, sfBig)
      // floor the denominator at 30 ms: below that the "slope" is
      // pure scheduler noise and would flag spuriously
      val ratio = if (tS < 0 || tB < 0) -1.0 else tB / math.max(tS, 0.03)
      System.err.println(f"SLOPE $name%-28s small=$tS%7.3f big=$tB%7.3f ratio=$ratio%6.2f" +
        (if (bS.nonEmpty || bB.nonEmpty) s" built=${(bS ++ bB).distinct.mkString("+")}" else ""))
      (name, tS, tB, ratio, (bS ++ bB).distinct)
    }

    import Harness.fmt
    val sorted = rows.sortBy(-_._4)
    val flagged = sorted.filter(_._4 > FLAG_OVER)
    val body = sorted.map { case (n, a, b, r, bu) =>
      "\"" + n + "\":[" + fmt(a) + "," + fmt(b) + "," + fmt(r) + ",\"" + bu.mkString("+") + "\"]"
    }.mkString(",")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SLOPE_OUT", "slope.json")
    val line = s"""{"sf_small":"${Harness.esc(sfSmall)}","sf_big":"${Harness.esc(sfBig)}","reps":$REPS,"stat":"min","flag_over":$FLAG_OVER,"n_queries":${rows.size},"flagged":[${flagged.map("\"" + _._1 + "\"").mkString(",")}],"columns":["small_sec","big_sec","ratio","atrest_built"],"queries":{$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    println(s"SLOPE DONE: ${rows.size} queries, ${flagged.size} flagged > ${FLAG_OVER}x -> $outPath")
    spark.stop()
  }
}
