package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derives the 10×-DOCUMENTS slope corpus (round-16 verdict item 1) —
  * the text/dedup twin of [[EmbCorpus]]. Full-suite sf steps scale all
  * tables together, which hides per-axis constants in the winnowing
  * posting cap, the PPJoin candidate bounds, the BPE merge loop, and
  * the span/substr dedup shuffles; the only two real scale bugs in this
  * project's history were caught by isolating ONE axis 10×
  * (SLOPE.md, r14). This tool writes a derived scale-factor directory
  * under `target/` in which ONLY the documents axis scales:
  *
  *   - `documents.parquet`: the base corpus' real rows plus
  *     deterministic synthetic rows up to `SPARK_GRAFT_DOC_N` (default
  *     50,000 = a true 10× step over sf0.1's 5,000). Each synthetic doc
  *     REMIXES a real base doc: its word sequence with a seeded
  *     fraction of positions replaced by words from a second base doc —
  *     so the vocabulary, Zipf shape, and doc-length distribution are
  *     the corpus' own, and shingle/posting statistics scale the way a
  *     real crawl would. 5% of synthetic docs mutate only 2% of
  *     positions (near-duplicates of their base doc, keeping the
  *     dedup-pair population growing with the corpus — the structure
  *     the candidate bounds exist to survive); the rest mutate 15%
  *     (below near-dup thresholds, i.e. background mass).
  *     doc_ids stay CONTIGUOUS 0..n-1 (the `% k` query-subset
  *     predicates assume it); sources keep the uniform `src0..src19`
  *     layout; lang follows the base doc.
  *   - every other table: a symlink to the base file, byte-identical —
  *     a slope measured between the base dir and this one isolates the
  *     documents axis exactly.
  *
  * Run: `sbt "runMain graft.DocCorpus"`, then
  * `SPARK_GRAFT_SF_SMALL=/root/testdata/sf0.1
  *  SPARK_GRAFT_SF_BIG=target/slope_doc
  *  SPARK_GRAFT_SLOPE_OUT=slope_doc.json
  *  SPARK_GRAFT_ONLY=<documents families> sbt "runMain graft.Slope"`.
  *
  * One-off corpus builder, not an engine operator: collecting the
  * 5,000-row base table to the driver and remixing row-at-a-time in a
  * deterministic UDF is the right tool for a build that runs once and
  * never inside a measured query.
  */
object DocCorpus {
  import EmbCorpus.mix64
  private def unif(seed: Long, i: Int): Double =
    (mix64(seed * 131 + i) >>> 11).toDouble / (1L << 53).toDouble

  /** Remix one synthetic doc from the broadcast base corpus. */
  def synthText(docId: Long, baseWords: Array[Array[String]]): (String, Int) = {
    val n = baseWords.length
    val b1 = ((mix64(docId * 3 + 1) % n + n) % n).toInt
    val b2 = ((mix64(docId * 3 + 2) % n + n) % n).toInt
    val nearDup = (mix64(docId * 3 + 3) % 100 + 100) % 100 < 5
    val rate = if (nearDup) 0.02 else 0.15
    val src = baseWords(b1)
    val don = baseWords(b2)
    val out = new Array[String](src.length)
    var i = 0
    while (i < src.length) {
      out(i) = if (unif(docId, i) < rate && don.nonEmpty) don(i % don.length) else src(i)
      i += 1
    }
    (out.mkString(" "), b1)
  }

  def build(spark: SparkSession, baseDir: String, outDir: String, targetN: Long): Unit = {
    import java.nio.file.{Files, Paths}
    val out = new java.io.File(outDir)
    if (out.exists()) AtRest.deleteRecursively(out)
    out.mkdirs()
    Tables.names.filterNot(_ == "documents").foreach { n =>
      Files.createSymbolicLink(
        Paths.get(outDir, s"$n.parquet"),
        Paths.get(baseDir, s"$n.parquet"))
    }

    val base = Tables.documents(spark, baseDir)
    val nBase = Tables.parquetRowCount(spark, baseDir, "documents")
    require(targetN > nBase, s"targetN=$targetN must exceed base rows $nBase")
    // base corpus to the driver once (5,000 short rows), broadcast for
    // the remix UDF
    val rows = base.select("doc_id", "text", "lang").collect()
      .sortBy(_.getLong(0))
    val words = rows.map(_.getString(1).split(" "))
    val langs = rows.map(_.getString(2))
    val bcW = spark.sparkContext.broadcast(words)
    val bcL = spark.sparkContext.broadcast(langs)
    val synth = udf { (id: Long) =>
      val (text, b1) = synthText(id, bcW.value)
      (text, bcL.value(b1), text.length)
    }
    val extra = spark.range(nBase, targetN)
      .select(col("id").as("doc_id"), synth(col("id")).as("s"))
      .select(col("doc_id"),
        col("s._1").as("text"),
        col("s._2").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
        col("s._3").cast("long").as("n_chars"))
    base.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(extra)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val n = Tables.parquetRowCount(spark, outDir, "documents")
    println(s"DOCCORPUS DONE: $n documents rows at $outDir (base $nBase from $baseDir)")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_DOC_BASE", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_DOC_OUT", "target/slope_doc")
    val targetN = sys.env.getOrElse("SPARK_GRAFT_DOC_N", "50000").toLong
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
