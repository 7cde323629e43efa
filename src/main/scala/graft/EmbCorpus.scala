package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derives the 10×-embeddings slope corpus the r13 slope audit could not
  * get from the driver tiers: the corpus generator grows `embeddings`
  * only 4× between sf0.01 and sf0.1 (500 → 2,000 rows), so the ANN and
  * pair-quadratic families' slopes were under-measured (SLOPE.md's
  * recorded caveat). This tool writes a derived scale-factor directory
  * under `target/` (the read-only `/root/testdata` contract stays
  * intact) in which ONLY the embeddings axis scales:
  *
  *   - `embeddings.parquet`: the sf0.1 table's 2,000 real rows plus
  *     deterministic synthetic rows up to `SPARK_GRAFT_EMB_N` (default
  *     20,000 = a true 10× step over sf0.1). Synthetic vectors are
  *     unit-normalized 64-dim pseudo-Gaussians from a splitmix64 stream
  *     seeded by the row's vec_id — the same statistical character as
  *     the generator's corpus (unit norm, no natural cosine≥0.95 pairs),
  *     so LSH bucket populations and IVF cell balance scale the way a
  *     real 10× corpus would. vec_ids stay CONTIGUOUS 0..n-1 (the
  *     adaptive band-width derivation and the `% 20` query-subset
  *     predicate both assume it) and labels stay uniform over 10 classes.
  *   - every other table: a symlink to the base sf0.1 file, byte-
  *     identical — so a slope measured between sf0.1 and this directory
  *     isolates the embeddings axis exactly (any time growth is
  *     attributable to embeddings cardinality alone).
  *
  * Run: `sbt "runMain graft.EmbCorpus"`, then
  * `SPARK_GRAFT_SF_SMALL=/root/testdata/sf0.1
  *  SPARK_GRAFT_SF_BIG=target/slope_emb
  *  SPARK_GRAFT_SLOPE_OUT=slope_emb.json
  *  SPARK_GRAFT_ONLY=<similarity families> sbt "runMain graft.Slope"`.
  *
  * One-off corpus builder, not an engine operator: the row-at-a-time
  * vector synthesis below runs once per derived corpus and never inside
  * a measured query, so a deterministic UDF is the right tool here.
  */
object EmbCorpus {
  /** splitmix64 — the standard 64-bit mix; deterministic, seedable,
    * no java.util.Random state-sharing hazards across partitions.
    * Shared with [[DocCorpus]]. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def unif(seed: Long, i: Int): Double =
    (mix64(seed * 64 + i) >>> 11).toDouble / (1L << 53).toDouble

  /** Unit-normalized 64-dim pseudo-Gaussian for one synthetic vec_id:
    * Box–Muller over the splitmix64 stream. */
  def synthVec(vecId: Long): Array[Float] = {
    val g = new Array[Double](64)
    var i = 0
    while (i < 64) {
      // two uniforms -> two gaussians; clamp u1 away from 0 for log
      val u1 = math.max(unif(vecId, i), 1e-12)
      val u2 = unif(vecId, i + 1)
      val r = math.sqrt(-2.0 * math.log(u1))
      g(i) = r * math.cos(2.0 * math.Pi * u2)
      g(i + 1) = r * math.sin(2.0 * math.Pi * u2)
      i += 2
    }
    val norm = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / norm).toFloat)
  }

  def build(spark: SparkSession, baseDir: String, outDir: String, targetN: Long): Unit = {
    import java.nio.file.{Files, Paths}
    val out = new java.io.File(outDir)
    if (out.exists()) AtRest.deleteRecursively(out)
    out.mkdirs()

    // symlink every non-embeddings table: byte-identical inputs on the
    // non-scaled axes, zero copy cost
    Tables.names.filterNot(_ == "embeddings").foreach { n =>
      Files.createSymbolicLink(
        Paths.get(outDir, s"$n.parquet"),
        Paths.get(baseDir, s"$n.parquet"))
    }

    val base = Tables.embeddings(spark, baseDir)
    val nBase = Tables.parquetRowCount(spark, baseDir, "embeddings")
    require(targetN > nBase, s"targetN=$targetN must exceed base rows $nBase")
    val synth = udf((id: Long) => synthVec(id))
    val extra = spark.range(nBase, targetN)
      .select(col("id").as("vec_id"),
        synth(col("id")).as("embedding"),
        // uniform 10-class labels from the same stream, matching the
        // generator's label cardinality
        pmod(udf((id: Long) => mix64(id + 7777)).apply(col("id")), lit(10L))
          .cast("int").as("label"))
    base.select("vec_id", "embedding", "label")
      .unionByName(extra)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val n = Tables.parquetRowCount(spark, outDir, "embeddings")
    println(s"EMBCORPUS DONE: $n embeddings rows at $outDir (base $nBase from $baseDir)")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_EMB_BASE", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EMB_OUT", "target/slope_emb")
    val targetN = sys.env.getOrElse("SPARK_GRAFT_EMB_N", "20000").toLong
    val spark = Tables.configure(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, baseDir, outDir, targetN)
    spark.stop()
  }
}
