package graft

import graft.operators.{Dedup, Similarity}

/** The at-rest index queries ensure their generation is built, then
  * serve it: a generation is written only when its fingerprint lacks
  * `_SUCCESS` ([[AtRest.buildOnce]]), and the IVF index's two artifacts
  * are rebuilt together whenever either is incomplete. Every case runs
  * against its own at-rest root so it controls exactly what is on disk. */
class BuildOnceSpec extends SparkSpec {

  private def withIsolatedRoot[T](body: => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_build_once").toString
    val prev = spark.conf.getOption("graft.atrest.dir")
    spark.conf.set("graft.atrest.dir", root)
    AtRest.drainBuildEvents()
    try body finally {
      prev.fold(spark.conf.unset("graft.atrest.dir"))(spark.conf.set("graft.atrest.dir", _))
      AtRest.deleteRecursively(new java.io.File(root))
    }
  }

  /** (rows, index families built) of one call. */
  private def run(q: => org.apache.spark.sql.DataFrame): (Seq[String], Set[String]) = {
    val rows = try q.collect().map(_.toString).sorted.toSeq finally CacheTracker.releaseAll()
    (rows, AtRest.drainBuildEvents().toSet)
  }

  test("a second qSimIvfAtRest / qDedupPairsAtRest call builds nothing and returns the same rows") {
    withIsolatedRoot {
      val (ivf1, built1) = run(Similarity.qSimIvfAtRest(spark, sf))
      assert(built1 == Set("ivf_cells_v1", "ivf_cents_v1"))
      val (ivf2, built2) = run(Similarity.qSimIvfAtRest(spark, sf))
      assert(built2.isEmpty, s"a built IVF index was rebuilt: $built2")
      assert(ivf2 == ivf1 && ivf1.nonEmpty)
      val (pairs1, builtP1) = run(Dedup.qDedupPairsAtRest(spark, sf))
      assert(builtP1 == Set("lsh_sigs_v1", "lsh_pairs_v1"))
      val (pairs2, builtP2) = run(Dedup.qDedupPairsAtRest(spark, sf))
      assert(builtP2.isEmpty, s"a built pair index was rebuilt: $builtP2")
      assert(pairs2 == pairs1 && pairs1.nonEmpty)
    }
  }

  test("an incomplete IVF generation rebuilds both artifacts: missing cells _SUCCESS, or only cents built") {
    withIsolatedRoot {
      val (rows, _) = run(Similarity.qSimIvfAtRest(spark, sf))
      val (cellsDir, centsDir) = Similarity.ivfIndexDirs(spark, sf)
      assert(new java.io.File(cellsDir, "_SUCCESS").delete())
      val (afterMarker, built) = run(Similarity.qSimIvfAtRest(spark, sf))
      assert(built == Set("ivf_cells_v1", "ivf_cents_v1"), s"rebuilt: $built")
      assert(afterMarker == rows)
      AtRest.deleteRecursively(cellsDir)
      assert(AtRest.isBuilt(centsDir) && !cellsDir.exists())
      val (afterDelete, built2) = run(Similarity.qSimIvfAtRest(spark, sf))
      assert(built2 == Set("ivf_cells_v1", "ivf_cents_v1"), s"rebuilt: $built2")
      assert(afterDelete == rows)
      assert(AtRest.isBuilt(cellsDir) && AtRest.isBuilt(centsDir))
    }
  }

  test("touching a source part's mtime resolves to a new generation and rebuilds it") {
    withIsolatedRoot {
      val d = java.nio.file.Files.createTempDirectory("graft_build_once_src").toString
      val doc = new java.io.File(d, "documents.parquet")
      java.nio.file.Files.copy(new java.io.File(sf, "documents.parquet").toPath, doc.toPath)
      val (rows, built) = run(Dedup.qDedupPairsAtRest(spark, d))
      assert(built == Set("lsh_sigs_v1", "lsh_pairs_v1"))
      def pairsDir = AtRest.dir(spark, d, "lsh_pairs", "documents", Dedup.LshIndexParams)
      val gen1 = pairsDir
      assert(doc.setLastModified(doc.lastModified() + 10000L))
      val gen2 = pairsDir
      assert(gen2 != gen1, "a touched source must resolve to a new generation")
      val (rows2, built2) = run(Dedup.qDedupPairsAtRest(spark, d))
      assert(built2 == Set("lsh_sigs_v1", "lsh_pairs_v1"), s"rebuilt: $built2")
      assert(rows2 == rows)
      assert(AtRest.isBuilt(gen2) && !gen1.exists(), "the stale generation is collected")
      AtRest.deleteRecursively(new java.io.File(d))
    }
  }
}
