package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines: exact
  * (hash-groupBy), MinHash signatures + banded LSH candidate join with
  * exact shingle-Jaccard verification, and SimHash fingerprinting.
  *
  * The corpus documents are (mostly) unique, so dedup queries run over a
  * DERIVED corpus = documents ∪ exact copies (doc_id%5==0, +1_000_000) ∪
  * near copies with an appended tail (doc_id%7==0, +2_000_000) — built
  * with identical expressions on the oracle side, so hit paths are real.
  *
  * Scale design:
  *  - MinHash signatures are computed entirely map-side with nested
  *    higher-order functions (no explode, NO shuffle): 16 permutations
  *    via min(md5(k || shingle)) — the lexicographic min of a 128-bit
  *    hash is a valid MinHash permutation.
  *  - LSH banding (4 bands × 4 rows) turns the O(n²) all-pairs problem
  *    into an equi-join on (band_idx, band_hash) — the only shuffle, on a
  *    key that spreads uniformly. Exact Jaccard runs only on candidates.
  */
object Dedup {

  /** documents + injected exact/near duplicates (identical on oracle side). */
  private[graft] def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" extra tail token stream appended here")).as("text")))
  }

  private[operators] val corpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' extra tail token stream appended here'
      |    FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Exact dedup: group by content hash, keep min doc_id. One shuffle on
    * the hash — the canonical 100 TB exact-dedup plan. */
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Word 3-gram shingles: the fused codegen [[graft.functions.ShinglesN]]
    * expression (the HOF twin below remains the independent cross-check
    * in PipelineSpec).
    * Guarded for documents under 3 words: short docs yield an empty
    * shingle list — matching DuckDB's range(1, len-1) behavior. Latent
    * in this corpus (docs are ≥10 words) but required for general
    * inputs. */
  private[graft] val shinglesExpr = "shingles3(words)"

  /** The original higher-order-function formulation of [[shinglesExpr]]
    * (interpreted; Spark's sequence(1, 0) is DESCENDING and
    * element_at(…, 0) errors under ANSI, hence the size guard) — kept as
    * the independent parity reference for the codegen expression. */
  private[graft] val shinglesHofExpr =
    """IF(size(words) >= 3,
      |  transform(sequence(1, size(words) - 2),
      |    i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))),
      |  CAST(array() AS ARRAY<STRING>))""".stripMargin

  // One 28-bit base hash per shingle (md5 prefix), then 16 integer LCG
  // permutations — 16x less hashing than md5-per-permutation, identical
  // in the oracle. Products stay under 2^60 (ANSI-safe).
  private[graft] val baseHashExpr =
    "transform(shingles, sh -> cast(conv(substring(md5(sh), 1, 7), 16, 10) as bigint))"

  private[graft] def withSignature(df: DataFrame): DataFrame = {
    // minhash_perms is the codegen form of
    //   transform(sequence(0,15), k -> array_min(transform(hashes,
    //     h -> ((2654435761 + 40503*k)*h + 2654435769*k + 97) % 2147483647)))
    // — same constants as the oracle, fused single pass.
    df.withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))
      .withColumn("hashes", expr(baseHashExpr))
      .withColumn("sig", expr("minhash_perms(hashes)"))
  }

  def qDedupMinhashSig(s: SparkSession, d: String): DataFrame =
    withSignature(corpus(s, d))
      .select(col("doc_id"),
        expr("array_join(transform(sig, x -> cast(x as string)), ',')").as("signature"))

  /** Banded-LSH candidate pairs from a signature relation: 4 bands × 4
    * rows exploded to (band_idx, band_hash) keys, equi-joined, a_id <
    * b_id, distinct. The one shuffle of the LSH pipeline, on a key that
    * spreads uniformly. */
  /** (doc_id, band_idx, band_hash) — each signature exploded to its 4
    * LSH band keys. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> array_join(transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string)), '-'))"))
        .as(Seq("band_idx", "band_hash")))

  private[graft] def bandedCandidates(sigs: DataFrame): DataFrame = {
    val bands = bandsOf(sigs)
    bands.as("x")
      .join(bands.withColumnRenamed("doc_id", "b_id").as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("b_id"))
      .select(col("x.doc_id").as("a_id"), col("b_id")).distinct()
  }

  /** DELTA candidates of an incremental refresh: every pair with at
    * least one member in `arrivals` that shares a band key with any
    * document of `all` (which contains the arrivals), as normalized
    * `(a_id < b_id)` — endpoints are ordered by least/greatest, so
    * arrival order never matters, and one side being an arrival means
    * pairs among the old documents are never re-enumerated. */
  private[graft] def deltaCandidates(all: DataFrame, arrivals: DataFrame): DataFrame =
    bandsOf(all).as("x")
      .join(bandsOf(arrivals).withColumnRenamed("doc_id", "y_id").as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") =!= col("y_id"))
      .select(least(col("x.doc_id"), col("y_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y_id")).as("b_id"))
      .distinct()

  /** Exact distinct-shingle Jaccard verification of a candidate pair
    * set against a signature relation; near-dup threshold 0.5. */
  private[graft] def verifiedPairs(cand: DataFrame, sigs: DataFrame): DataFrame = {
    val sa = sigs.select(col("doc_id").as("a_id"), col("sset").as("sa"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sset").as("sb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("n_union", size(col("sa")) + size(col("sb")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
  }

  /** The verified-pair tail of the LSH pipeline over a (persisted)
    * signature relation: banded candidates, exact distinct-shingle
    * Jaccard, near-dup threshold 0.5. */
  private[graft] def lshPairsFrom(sigs: DataFrame): DataFrame =
    verifiedPairs(bandedCandidates(sigs), sigs)

  /** LSH candidate pairs (4 bands × 4 rows) verified with exact distinct
    * shingle Jaccard; near-dup threshold 0.5. */
  def qDedupLshPairs(s: SparkSession, d: String): DataFrame = {
    // THE definitional from-scratch pipeline — deliberately does NOT
    // read the at-rest indexes, so its oracle-checked result proves the
    // whole minhash→banding→verify computation with no materialization
    // in the loop (and PipelineSpec's at-rest equality check compares
    // against something genuinely independent).
    // Signatures feed three plan branches (bands + both jaccard sides):
    // persist so shingling/hashing runs once. At cluster scale this
    // would be MEMORY_AND_DISK or a checkpoint; the relation stays tiny
    // relative to its input (ids + 16 longs + distinct shingles). The
    // cache outlives this builder (the returned plan reads it), so it is
    // registered with CacheTracker and released by the harness after the
    // result materializes — a shared session must not accumulate blocks.
    val sigs = graft.CacheTracker.track(withSignature(corpus(s, d))
      .select(col("doc_id"), col("sig"), array_distinct(col("shingles")).as("sset"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    lshPairsFrom(sigs)
  }

  // ——— The near-dup pair relation AT REST ————————————————————————
  //
  // A production pipeline materializes the verified pair relation ONCE:
  // it feeds clustering, every graph analytic, canonical selection, and
  // the pair audits — a dozen consumers in this engine alone — and
  // recomputing minhash+banding+verify per consumer is pure waste (at
  // 100 TB it is days of repeated work). pairsAtRest() is that index:
  // the first consumer in a session (or q_dedup_pairs_at_rest, the
  // explicit build job) runs the pipeline once and writes the relation
  // to parquet keyed by (corpus fingerprint, pipeline version); every
  // later consumer is a bare parquet scan. Consumer oracles remain the
  // from-scratch closure over the base tables, so their hash equality
  // PROVES the at-rest path loses nothing — the same contract
  // q_dedup_cc_incremental and q_sim_topk_incremental carry.

  // Index locations + fingerprinting live in [[graft.AtRest]] (shared
  // with the similarity module's ANN index).
  /** Every constant the signature/pair index content depends on —
    * hashed into the AtRest fingerprint so a threshold or band-geometry
    * change auto-invalidates the indexes. */
  private[graft] val LshIndexParams =
    // empty-sig=null-v2: the r13 MinHashPerms change ([Long.MaxValue×16]
    // → [NULL×16] for un-shinglable docs) alters persisted signature
    // rows, so indexes built before it must be invalidated — the
    // fingerprint bump here mirrors the streaming checkpoints' "_v2"
    // state-name bumps.
    "shingle=3,perms=16,bands=4x4,jaccard>=0.5,inject=corpus-v1,empty-sig=null-v2"
  private def pairsAtRestDir(s: SparkSession, d: String): java.io.File =
    graft.AtRest.dir(s, d, "lsh_pairs", "documents", LshIndexParams)
  private def sigsAtRestDir(s: SparkSession, d: String): java.io.File =
    graft.AtRest.dir(s, d, "lsh_sigs", "documents", LshIndexParams)

  /** The at-rest SIGNATURE index (doc_id, sig, sset) — the layer below
    * the pair index: minhash signatures and distinct shingle sets are
    * pure per-document derivations, so a production pipeline
    * materializes them once and every sketch/candidate consumer
    * (containment, estimate, b-bit, threshold sweep, the pair build
    * itself) scans the index instead of re-shingling the corpus.
    * Correctness is transitive: every consumer keeps its from-scratch
    * DuckDB oracle, so their hash equality proves the index read path
    * loses nothing (plus PipelineSpec's direct exceptAll equality). */
  private[graft] def sigsAtRest(s: SparkSession, d: String): DataFrame = {
    val dir = sigsAtRestDir(s, d)
    graft.AtRest.buildOnce(dir) {
      sigRelation(corpus(s, d)).write.mode("overwrite").parquet(dir.toString)
    }
    Tables.readParquet(s, dir.toString)
  }

  /** (doc_id, sig, sset) for any (doc_id, text) relation — the signature
    * index row shape, shared by the batch build and the streaming
    * refresh sink. */
  private[graft] def sigRelation(docs: DataFrame): DataFrame =
    withSignature(docs)
      .select(col("doc_id"), col("sig"), array_distinct(col("shingles")).as("sset"))

  /** The at-rest pair relation, built once per corpus fingerprint by the
    * verified-pair tail over the (at-rest) signature index, then a bare
    * parquet scan for every consumer. The three build branches (bands +
    * both jaccard sides) each scan the signature parquet — columnar
    * scans of an id+sketch relation, cheaper and safer at scale than
    * caching it in executor memory. */
  private[graft] def pairsAtRest(s: SparkSession, d: String): DataFrame = {
    val dir = pairsAtRestDir(s, d)
    graft.AtRest.buildOnce(dir) {
      lshPairsFrom(sigsAtRest(s, d)).write.mode("overwrite").parquet(dir.toString)
    }
    Tables.readParquet(s, dir.toString)
  }

  /** The at-rest pair index restricted to REAL documents (the injected
    * near-dup ids live at +1M/+2M): banding is per-document and
    * verification pairwise, so the corpus-built index restricted to
    * real ids IS the from-scratch pair set over `documents` — a pair of
    * real docs band-collides and verifies identically whether or not
    * injected docs exist beside it. The split-hygiene consumers
    * (q_split_leakage / q_split_repair) read this instead of re-running
    * the signature pipeline; their oracles stay from-scratch over
    * `documents`, so hash equality proves the restriction identity. */
  private[graft] def realPairsAtRest(s: SparkSession, d: String): DataFrame =
    pairsAtRest(s, d)
      .filter(col("a_id") < 1000000L && col("b_id") < 1000000L)
      .select("a_id", "b_id")

  /** SERVING view of the pair index under streaming takedowns: the
    * standing index minus every pair touching a tombstoned document
    * (broadcast anti-joins — the tombstone set is delete-request-sized,
    * never corpus-sized). Correct by the pair-locality identity
    * q_takedown_purge proves: pairs of the redacted corpus ARE the
    * standing pairs with tombstoned endpoints removed, so this view
    * equals a from-scratch rebuild on the redacted corpus without
    * rewriting a byte (StreamingSpec proves exactly that equality);
    * [[graft.AtRest.applyTombstones]] folds the tombstones in
    * physically on the maintenance cadence. */
  private[graft] def pairsAtRestServing(s: SparkSession, d: String, tombDir: String): DataFrame = {
    // read exactly the COMMITTED ticks (the set applyTombstones folds
    // and clears) — a whole-tree read would logically apply a
    // never-committed partition forever while the physical fold can
    // neither apply nor clear it, so raw and serving would never
    // converge (and a torn partition write could fail the read).
    // Listed BEFORE the index relation: under a concurrent fold the
    // tombs-first snapshot is always safe (old ticks are a SUPERSET of
    // whatever the fold spends, and anti-joining a spent tombstone
    // against the already-purged index excludes nothing new), whereas
    // index-first would open a window — pre-purge index files paired
    // with a post-spend empty tick list — that transiently resurrects
    // purged pairs.
    val tombs = graft.AtRest.committedRelation(s, tombDir)
    val pairs = pairsAtRest(s, d)
    tombs.fold(pairs) { ticks =>
      val t = ticks.select("doc_id").distinct()
      pairs
        .join(broadcast(t.withColumnRenamed("doc_id", "a_id")), Seq("a_id"), "left_anti")
        .join(broadcast(t.withColumnRenamed("doc_id", "b_id")), Seq("b_id"), "left_anti")
    }
  }

  /** The pair index job: ensure the generation is built, then serve it
    * from rest — the index is rebuilt only when its fingerprint lacks
    * `_SUCCESS`. Oracle = the from-scratch pipeline, so the served
    * relation is proven byte-identical to computing fresh. */
  def qDedupPairsAtRest(s: SparkSession, d: String): DataFrame = pairsAtRest(s, d)

  /** INCREMENTAL maintenance of the pair index — the refresh job that
    * keeps [[pairsAtRest]] current when NEW documents arrive (here the
    * +2M tail-append arrivals, the corpus' standing stand-in for an
    * ingest batch): the history index — pairs among pre-arrival docs,
    * the at-rest input, recomputed here to simulate it exactly as
    * q_dedup_cc_incremental does for star edges — is UNIONED with the
    * delta pairs, whose candidates come from joining ONLY the arrivals'
    * band keys against the full band relation. New ids sort above all
    * history ids, so history pairs and delta pairs partition the full
    * pair set; the oracle is the complete from-scratch pipeline, and
    * hash equality proves the refresh loses nothing (the standing
    * incremental contract).
    *
    * Scale shape: refresh cost ∝ |delta| — the delta band join probes
    * |new|·4 keys against the band relation instead of re-banding the
    * corpus, and verification touches only candidate pairs with an
    * arrival on one side. At 100 TB this is the difference between a
    * nightly full rebuild and a minutes-long ingest tick. */
  def qDedupPairsIncremental(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d)
    val hist = sigs.filter(col("doc_id") < 2000000L)
    val histPairs = lshPairsFrom(hist) // the at-rest history index
    val deltaCand = deltaCandidates(sigs, sigs.filter(col("doc_id") >= 2000000L))
    histPairs.unionByName(verifiedPairs(deltaCand, sigs))
  }

  /** N-GRAM NOVELTY of arrivals against the history corpus — the
    * memorization/novelty audit run before admitting an ingest batch:
    * for each arriving document (the +2M tail-append docs, the corpus'
    * standing ingest batch), the fraction of its distinct word 3-grams
    * NEVER seen in history. Tail-append near-dups score near zero
    * (everything but the appended tail is old) — exactly the "this
    * batch is mostly recycled" signal the metric exists for; a clean
    * batch scores near one.
    *
    * Scale shape: the history gram universe is one distinct over the
    * exploded gram relation (at 100 TB this is the at-rest gram index
    * decontamination already maintains); arrivals anti-join it on the
    * gram key — one shuffle each side, never quadratic. */
  def qNgramNovelty(s: SparkSession, d: String): DataFrame = {
    val grams = corpus(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("g"))
      .distinct()
    // r18 (guide §2.4): the history-distinct + anti-join + two doc-keyed
    // aggregates + join-back collapse into ONE gram-keyed window ("does
    // any history doc carry this gram") and ONE doc-keyed aggregate that
    // counts total and novel grams together. Same integers: a gram
    // instance is novel iff no doc_id < 2e6 shares the gram, and a doc
    // with zero novel grams now sums to 0 instead of coalescing a
    // missing join row. The gram relation became single-consumer, so
    // its corpus-sized persist is gone too.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    grams
      .withColumn("hist", max(when(col("doc_id") < 2000000L, 1).otherwise(0)).over(w))
      .filter(col("doc_id") >= 2000000L)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hist") === 0, 1L).otherwise(0L)).as("nn"))
      .select(col("doc_id"), col("n_grams"),
        col("nn").as("n_novel"),
        round(col("nn").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** CROSS-SOURCE duplication matrix — the "who copies whom" readout a
    * corpus owner derives FROM THE AT-REST PAIR INDEX (no recompute):
    * every verified near-dup pair maps through its base documents'
    * sources (injected copies keep their original's source: id mod 10⁶)
    * into a symmetric (source_a ≤ source_b) cell, with intra-source
    * pairs on the diagonal. Cross-source mass is the licensing /
    * provenance signal; the diagonal is ordinary within-source
    * duplication.
    *
    * Scale shape: the pair relation is index-at-rest (bounded by LSH
    * banding); two doc-keyed joins against the (doc_id, source)
    * dimension — NOT hinted broadcast: the dimension is corpus-sized
    * (one row per document), so a forced broadcast would ship the
    * whole mapping through the driver at scale; the planner still
    * auto-broadcasts it when stats say it fits; one |sources|²
    * aggregate. */
  def qCrossSourceDup(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id").as("base"), col("source"))
    pairsAtRest(s, d)
      .select((col("a_id") % 1000000L).as("a_base"), (col("b_id") % 1000000L).as("b_base"))
      .join(src.withColumnRenamed("base", "a_base")
        .withColumnRenamed("source", "sa"), "a_base")
      .join(src.withColumnRenamed("base", "b_base")
        .withColumnRenamed("source", "sb"), "b_base")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("intra", col("source_a") === col("source_b"))
  }

  /** Normalization-aware exact dedup — the C4/CCNet preprocessing rule
    * exact hashing misses: lowercase, strip non-alphanumerics, collapse
    * whitespace, THEN hash, so case/punctuation/spacing variants of the
    * same content collapse into one group. A variant corpus with an
    * uppercased+respaced copy of every doc_id%11==0 document gives the
    * normalizer a live hit path (raw md5 finds none of those pairs —
    * the spec proves the separation). Same one-shuffle shape as
    * [[qDedupExact]]: normalization is map-side string work, the group
    * is on the normalized hash. */
  def qDedupNormalized(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val variant = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text"))
    docs.unionByName(variant)
      .withColumn("norm_hash", md5(trim(
        regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))))
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("text")).as("n_variants"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_copies") > 1)
  }

  /** Asymmetric CONTAINMENT C(A,B) = |A∩B|/|A| over the LSH candidates —
    * the measure that catches a short document embedded in a longer one
    * (quotes, boilerplate inclusion, the tail-append injected near-dups
    * here: the original's shingle set is fully contained in its
    * extension), which symmetric Jaccard under-scores as the size ratio
    * grows. Candidates come from the same banded MinHash join and
    * at-rest signature index as the pair build (recall argued
    * there); the verify just swaps the measure, keeping pairs where
    * either direction ≥ 0.9. */
  def qDedupContainment(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d) // at-rest signature index
    val cand = bandedCandidates(sigs)
    val sa = sigs.select(col("doc_id").as("a_id"), col("sset").as("sa"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sset").as("sb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("n_a", size(col("sa")))
      .withColumn("n_b", size(col("sb")))
      .withColumn("cont_a_in_b", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b_in_a", col("n_inter").cast("double") / col("n_b"))
      .filter(col("cont_a_in_b") >= 0.9 || col("cont_b_in_a") >= 0.9)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select("a_id", "b_id", "n_a", "n_b", "n_inter", "cont_a_in_b", "cont_b_in_a", "jaccard")
  }

  /** INCREMENTAL dedup — the shape production dedup actually runs at
    * 100 TB: a new ingest batch ("incoming", here doc_id%3==0 of the
    * derived corpus) is deduplicated AGAINST the existing corpus
    * ("history", the rest), never the world against itself. Exact drops
    * are a broadcast-able anti-join on content hash; near-dup drops come
    * from the banded-LSH join restricted to incoming×history (cost ∝
    * |batch| · bucket overlap, NOT |corpus|²) with exact shingle-Jaccard
    * verification. Each incoming doc gets a disposition:
    * kept / dropped_exact / dropped_near (exact takes precedence — the
    * near check runs only on exact survivors). The injected exact/near
    * copies land on the incoming side whenever their original sits in
    * history, so both drop paths are live. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = graft.CacheTracker.track(withSignature(corpus(s, d))
      .select(col("doc_id"), md5(col("text")).as("h"), col("sig"),
        array_distinct(col("shingles")).as("sset"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val incoming = all.filter(col("doc_id") % 3 === 0)
    val history = all.filter(col("doc_id") % 3 =!= 0)
    // exact: incoming content hash already present in history
    val exactDrop = incoming.join(history.select(col("h")).distinct(),
      Seq("h"), "left_semi").select(col("doc_id"))
    val survivors = incoming.join(exactDrop, Seq("doc_id"), "left_anti")
    // near: banded LSH, incoming side vs history side ONLY — the band
    // keys come from the ONE shared bandsOf definition (the geometry is
    // fingerprinted in LshIndexParams; an inline copy would silently
    // keep the old geometry on a tuning change)
    def bands(df: DataFrame, idCol: String) =
      bandsOf(df).withColumnRenamed("doc_id", idCol)
    val cand = bands(survivors, "i_id")
      .join(bands(history, "h_id"), Seq("band_idx", "band_hash"))
      .select("i_id", "h_id").distinct()
    val si = survivors.select(col("doc_id").as("i_id"), col("sset").as("sa"))
    val sh = history.select(col("doc_id").as("h_id"), col("sset").as("sb"))
    val nearDrop = cand.join(si, "i_id").join(sh, "h_id")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("n_inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("i_id").as("doc_id")).distinct()
    incoming.select(col("doc_id"))
      .join(exactDrop.withColumn("de", lit(true)), Seq("doc_id"), "left")
      .join(nearDrop.withColumn("dn", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("de"), "dropped_exact").when(col("dn"), "dropped_near")
          .otherwise("kept").as("status"))
  }

  /** Exact all-pairs n-gram Jaccard similarity join via prefix filtering
    * (the PPJoin family: Xiao et al., "Efficient Similarity Joins for
    * Near Duplicate Detection", WWW'08) — the EXACT counterpart to the
    * probabilistic MinHash-LSH path: no false negatives at the 0.5
    * threshold, completing the dedup family (exact / MinHash-LSH /
    * SimHash / n-gram Jaccard / CDC / embedding-cosine).
    *
    * Scale shape: a pair with Jaccard ≥ t must share at least one gram
    * in each side's PREFIX — the first |x| − ceil(t·|x|) + 1 grams under
    * a global ordering. Ordering rarest-first (ascending document
    * frequency, gram as tiebreak) puts only the rarest grams in the
    * prefix, so the candidate equi-join runs over short posting lists
    * instead of the full inverted index; ubiquitous grams never generate
    * candidates. Exact Jaccard then verifies candidates only. Two more
    * standard PPJoin bounds tighten the candidate join: (1) a pair with
    * J ≥ t satisfies the LENGTH filter max(|x|,|y|) ≤ |x∩y|·(1+1/t)/2…
    * more simply min/max ≥ t, so at t = 0.5 each side is at most 2× the
    * other — encoded directly in the join condition; (2) document
    * frequency is computed with a window over gram (one shuffle of the
    * exploded relation) instead of a groupBy + join-back (two). The
    * DuckDB oracle generates candidates from the FULL inverted index —
    * if the prefix or length filter ever dropped a qualifying pair, the
    * hash check fails, so losslessness itself is oracle-verified. */
  /** Prefix-filtered candidate pairs for the n-gram Jaccard join.
    * `lengthFilter = false` exists only so the spec can prove the
    * length/positional bounds are pure pruning steps (candidates-with ⊆
    * candidates-without); production always passes `true`.
    *
    * With the filter on, the join condition carries the two remaining
    * PPJoin bounds: the LENGTH filter (J ≥ 0.5 ⇒ each side ≤ 2× the
    * other) and the POSITIONAL filter — a shared gram at ranks (i, j)
    * can witness a qualifying pair only if the remaining suffixes could
    * still reach the required overlap α = ⌈(|x|+|y|)/3⌉, i.e.
    * 1 + min(|x|−i, |y|−j) ≥ α. Lossless: for a true pair the
    * globally-minimal common gram sits in BOTH prefixes and every other
    * common gram ranks after it on both sides, so that occurrence
    * always passes. */
  private[graft] def ngramCandidates(sets: DataFrame, lengthFilter: Boolean): DataFrame = {
    // Measured A/B (sf0.1, local[32]): replacing gram strings with 60-bit
    // md5 prefixes before the two shuffles cut shuffle bytes ~3x but ran
    // ~1.4s SLOWER steady-state — the per-gram digest costs more than
    // memory-speed shuffle saves, so the string key ships. On a
    // network-bound cluster that trade flips; the hash variant is the
    // one-line change documented here (hash inside the explode select,
    // rank by (df, hash); exact verification makes collisions harmless).
    val grams = sets.select(col("doc_id"),
        explode(col("sset")).as("gram"), size(col("sset")).as("sz"))
    // integer-exact prefix length: sz - ceil(t*sz) + 1 with t = 0.5
    val ranked = grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - expr("(sz + 1) div 2") + 1)
      .select(col("doc_id"), col("gram"), col("sz"), col("rn"))
    val base = col("x.gram") === col("y.gram") && col("x.doc_id") < col("b_id")
    val cond =
      if (lengthFilter)
        base && col("bsz") <= col("x.sz") * 2 && col("x.sz") <= col("bsz") * 2 &&
          // 1 + min(...) ≥ ⌈(sz+bsz)/3⌉, in integer-exact multiply form
          col("x.sz") + col("bsz") <=
            (lit(1) + least(col("x.sz") - col("x.rn"), col("bsz") - col("brn"))) * 3
      else base
    prefix.as("x")
      .join(prefix.select(col("doc_id").as("b_id"), col("gram"),
          col("sz").as("bsz"), col("rn").as("brn")).as("y"), cond)
      .select(col("x.doc_id").as("a_id"), col("b_id")).distinct()
  }

  def qDedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    // r18: the distinct-gram sets come off the AT-REST signature index
    // (whose sset column is byte-identical to the from-scratch
    // derivation — the same consumer contract q_dedup_eval's truth leg
    // adopted in r17) instead of re-shingling the corpus; the oracle
    // stays the full from-scratch PPJoin pipeline, so hash equality
    // keeps proving the index read path loses nothing.
    import org.apache.spark.storage.StorageLevel
    val sets = graft.CacheTracker.track(
      sigsAtRest(s, d).select(col("doc_id"), col("sset"))
        .filter(size(col("sset")) > 0)
        .persist(StorageLevel.MEMORY_AND_DISK))
    ngramJaccardFromSets(sets)
  }

  /** The exact PPJoin pipeline over any corpus slice (the eval query
    * runs it on a deterministic sample). */
  private[graft] def ngramJaccardFrom(corpusDf: DataFrame): DataFrame = {
    // distinct-gram sets feed the posting branch and both verify sides
    // — persist, released by the harness
    val sets = graft.CacheTracker.track(corpusDf
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))
      .select(col("doc_id"), array_distinct(col("shingles")).as("sset"))
      .filter(size(col("sset")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ngramJaccardFromSets(sets)
  }

  /** The PPJoin tail over an already-derived (doc_id, sset) relation —
    * shared by the from-scratch form and consumers of the at-rest
    * signature index (whose `sset` column is this exact derivation). */
  private[graft] def ngramJaccardFromSets(sets: DataFrame): DataFrame = {
    val cand = ngramCandidates(sets, lengthFilter = true)
    val sa = sets.select(col("doc_id").as("a_id"), col("sset").as("sa"))
    val sb = sets.select(col("doc_id").as("b_id"), col("sset").as("sb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("n_union", size(col("sa")) + size(col("sb")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
  }

  /** 16-bit SimHash variant: bit j is the majority vote over words of the
    * j-th md5 hex digit's MSB. Same-fingerprint bucket size flags
    * near-dup clusters. Map-side except one window on the fingerprint.
    * md5 is hoisted out of the per-bit loop (one digest per word, not
    * 16 — the digest dominates the row cost; ~2x at sf0.1). */
  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("hashes", expr("transform(words, w -> md5(w))"))
      .withColumn("simhash16", expr(
        """array_join(transform(sequence(1, 16),
          |  j -> if(2 * size(filter(hashes, h -> substring(h, j, 1)
          |                IN ('8','9','a','b','c','d','e','f'))) > size(hashes), '1', '0')), '')""".stripMargin))
      .withColumn("n_bucket", count(lit(1)).over(Window.partitionBy("simhash16")))
      .select("doc_id", "simhash16", "n_bucket")

  /** SQL-shared predicate for bit j (1..64) of the 64-bit word simhash:
    * each md5 hex char contributes two bits (the 8-bit for odd j, the
    * 2-bit for even j), so the comparison text is valid in BOTH engines
    * and the fingerprints are engine-identical by construction. */
  private def simhashBit(hcol: String, j: Int): String = {
    val ch = s"substring($hcol, ${(j + 1) / 2}, 1)"
    if (j % 2 == 1) s"($ch >= '8')"
    else s"($ch IN ('2','3','6','7','a','b','e','f'))"
  }

  /** SimHash near-duplicate PAIRS (Manku et al. 2007, "Detecting
    * near-duplicates for web crawling") — the pair-producing complement
    * of [[qDedupSimhash]]'s signature/bucket view: 64-bit per-word
    * majority fingerprints, banded 4 × 16 bits, band equi-join for
    * candidates, exact Hamming verify ≤ 3. The 4-band split makes
    * recall EXACT by pigeonhole: ≤ 3 differing bits cannot touch all 4
    * bands, so every qualifying pair collides in at least one band —
    * PipelineSpec asserts equality with the brute-force pair set.
    *
    * Scale shape: the md5 hex-char bit tests run once per DISTINCT word
    * (vocabulary-sized by Heaps' law) and pack into two ints; the
    * corpus-sized work is then a broadcast word→bits join plus 64
    * codegen'd integer shift-sums in ONE doc-keyed aggregate — no
    * string ops at corpus volume. Bands are kept as 16-bit INTS end to
    * end: the candidate equi-join keys on them and the Hamming verify
    * is 4 xor+popcounts per pair instead of a 64-element string HOF.
    * The quadratic step is confined to 16-bit band buckets (expected
    * population n/2^16 per band — at larger corpora widen the bands /
    * add Manku's permuted tables, the documented knob); verification
    * joins the candidate ids back to the persisted sig relation. */
  def qDedupSimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsFrom(corpus(s, d))

  /** The banded 64-bit simhash pipeline over any corpus slice (the
    * eval query runs it on a deterministic sample). */
  private[graft] def simhashPairsFrom(corpusDf: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val words = corpusDf
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    // The hex-char bit tests run once per DISTINCT word (Heaps'-law
    // vocabulary, not corpus volume): each word's 64 simhash bits pack
    // into two ints, and the per-instance work downstream is integer
    // shifts — the corpus never touches md5 strings again.
    def pack(js: Range, top: Int) = js.map(j =>
      s"(CASE WHEN ${simhashBit("h", j)} THEN CAST(${1L << (top - j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    // persisted: count() decides the join shape and the encode join reads
    // it again — without the cache the scan+distinct+md5 pipeline runs
    // twice (the qVocabEncode lesson)
    val vocab = graft.CacheTracker.track(
      words.select("w").distinct()
        .withColumn("h", md5(col("w")))
        .select(col("w"), expr(pack(1 to 32, 32)).as("p1"), expr(pack(33 to 64, 64)).as("p2"))
        .persist())
    // vocabulary joins like q_vocab_encode: broadcast while it fits
    val dim = if (vocab.count() <= TextAnalysis.VocabBroadcastMaxTypes) broadcast(vocab) else vocab
    val aggCols =
      (1 to 32).map(j => sum(shiftright(col("p1"), 32 - j).bitwiseAND(lit(1L))).as(s"c$j")) ++
      (33 to 64).map(j => sum(shiftright(col("p2"), 64 - j).bitwiseAND(lit(1L))).as(s"c$j"))
    // majority vote per bit, re-packed straight into the four 16-bit
    // band keys (the sig string never materializes)
    def band(b: Int) = (1 to 16).map { i =>
      val j = 16 * b + i
      when(lit(2) * col(s"c$j") > col("n"), lit((1L << (16 - i)): Long)).otherwise(lit(0L))
    }.reduce(_ + _).as(s"b$b")
    val sigs = graft.CacheTracker.track(
      words.join(dim, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), aggCols: _*)
        .select(col("doc_id") +: (0 to 3).map(band): _*)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sigs.select(col("doc_id"), posexplode(array((0 to 3).map(b => col(s"b$b")): _*))
      .as(Seq("band", "bits")))
    val cand = banded.select(col("doc_id").as("a_id"), col("band"), col("bits"))
      .join(banded.select(col("doc_id").as("b_id"), col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sa = sigs.select(col("doc_id").as("a_id") +: (0 to 3).map(b => col(s"b$b").as(s"a$b")): _*)
    val sb = sigs.select(col("doc_id").as("b_id") +: (0 to 3).map(b => col(s"b$b").as(s"bb$b")): _*)
    cand.join(sa, "a_id").join(sb, "b_id")
      // xor + popcount per band: 4 codegen integer ops per pair, not a
      // 64-element string HOF — the verify is now join-bound
      .withColumn("hamming",
        (0 to 3).map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"bb$b")))).reduce(_ + _).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Content-defined chunking (Gear CDC) + chunk-hash dedup: documents
    * are split at content-determined boundaries and chunk hashes are
    * grouped — shared chunks across near-duplicate docs (the injected
    * tail-append copies) surface as multi-owner hash groups while edits
    * stay localized. Oracle-checked: the DuckDB oracle inlines the ASCII
    * gear slice and runs the identical chunking state machine as a
    * recursive CTE; PipelineSpec asserts reassembly and edit-stability
    * properties. */
  def qDedupCdcChunks(s: SparkSession, d: String): DataFrame = {
    corpus(s, d)
      .withColumn("bounds", expr("cdc_boundaries(text)"))
      .withColumn("chunks", expr(
        """transform(sequence(1, size(bounds)), i ->
          |  substring(text,
          |    IF(i = 1, 1, element_at(bounds, i - 1) + 1),
          |    element_at(bounds, i) - IF(i = 1, 0, element_at(bounds, i - 1))))""".stripMargin))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"), length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("chunk_len")).as("chunk_len"))
  }

  /** MinHash sketch accuracy, the sketch-error-contract pattern (like
    * the HLL query): for every LSH candidate pair, the 16-permutation
    * signature-agreement estimate of Jaccard next to the exact distinct-
    * shingle Jaccard, plus a 3σ-ish bound flag (σ = √(J(1−J)/16) ≤
    * 0.125). Both engines compute agreement over the SAME integer
    * signatures, so even the estimate column is hash-checked — at scale
    * this is the query you run on a sample to validate the sketch
    * before trusting banded dedup on the full corpus. */
  def qMinhashEstimate(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d) // at-rest signature index
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sa_sig"), col("sset").as("sa_set"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sb_sig"), col("sset").as("sb_set"))
    bandedCandidates(sigs).join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_match",
        expr("size(filter(zip_with(sa_sig, sb_sig, (x, y) -> x = y), b -> b))"))
      .withColumn("n_inter", size(array_intersect(col("sa_set"), col("sb_set"))))
      .withColumn("n_union", size(col("sa_set")) + size(col("sb_set")) - col("n_inter"))
      .withColumn("est_jaccard", col("n_match") / lit(16.0))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .select(col("a_id"), col("b_id"), col("n_match"), col("est_jaccard"), col("jaccard"),
        (abs(col("est_jaccard") - col("jaccard")) <= 0.45).as("within_bound"))
  }

  /** b-bit minwise hashing (Li & König, CACM 2011) — the sketch
    * COMPRESSION theorem that makes web-scale MinHash indexes fit in
    * memory: storing only the lowest b bits of each of the 16 permuted
    * mins (here b = 2: 32 bits/doc instead of 512) still yields an
    * unbiased Jaccard estimator after correcting for accidental low-bit
    * collisions, Ĵ = (A_b − C_b)/(1 − C_b) with C_b = 2^(−b) (the
    * sparse-set simplification of the paper's r1/r2 form). The query
    * reports, per LSH candidate pair, the full-signature estimate, the
    * 2-bit estimate, the exact Jaccard, and both absolute errors — the
    * storage/accuracy tradeoff measured on real pairs. The 2-bit
    * estimate may leave [0, 1] on non-duplicate pairs (an unbiased
    * linear correction can — documented estimator property, not a bug).
    *
    * Scale shape: identical to [[qMinhashEstimate]] — one signature
    * pass, banded candidates (never all-pairs), per-pair map-side
    * zip_with folds over the 16-slot signatures. */
  def qMinhashBbit(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d) // at-rest signature index
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sa_sig"), col("sset").as("sa_set"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sb_sig"), col("sset").as("sb_set"))
    bandedCandidates(sigs).join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_match",
        expr("size(filter(zip_with(sa_sig, sb_sig, (x, y) -> x = y), b -> b))"))
      .withColumn("n_match_2bit",
        expr("size(filter(zip_with(sa_sig, sb_sig, (x, y) -> x % 4 = y % 4), b -> b))"))
      .withColumn("n_inter", size(array_intersect(col("sa_set"), col("sb_set"))))
      .withColumn("n_union", size(col("sa_set")) + size(col("sb_set")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .withColumn("est_full", col("n_match") / lit(16.0))
      .withColumn("est_bbit", round((col("n_match_2bit") / lit(16.0) - lit(0.25)) / lit(0.75), 6))
      .select(col("a_id"), col("b_id"), col("n_match"), col("n_match_2bit"),
        col("est_full"), col("est_bbit"), col("jaccard"),
        round(abs(col("est_full") - col("jaccard")), 6).as("err_full"),
        round(abs(col("est_bbit") - col("jaccard")), 6).as("err_bbit"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., SoCC 2014 — "Connected Components in MapReduce
    * and Beyond"): each round, large-star hangs every
    * greater-than-center neighbor off its neighborhood minimum, then
    * small-star does the same for the ≤ side; the edge relation
    * converges to a star forest centered on component minima in
    * O(log² n) rounds REGARDLESS of component diameter — the algorithm
    * of record for high-diameter graphs, where [[qDedupClusters]]'s
    * label propagation needs O(diameter) rounds. On the quasi-clique
    * near-dup graph both converge immediately; the value here is the
    * second, diameter-robust implementation proven EXTENSIONALLY EQUAL
    * to propagation (spec) and to the oracle's recursive closure (hash).
    *
    * Each round is two (node-keyed aggregate + join) shuffles over the
    * shrinking edge relation; rounds cut lineage with localCheckpoint
    * (the qGraphKcore lesson). Convergence = the normalized edge set is
    * EXACTLY unchanged (two exceptAll probes on the tiny converged
    * relation; at 100 TB swap for the checksum heuristic and one final
    * exact confirm). */
  def qDedupCcLargestar(s: SparkSession, d: String): DataFrame =
    largestarFromPairs(pairsAtRest(s, d).select(col("a_id"), col("b_id")))

  /** The alternating-star rounds over any verified-pairs relation —
    * decoupled like [[clustersFromPairs]] so the spec can drive it over
    * a high-diameter path graph. */
  private[graft] def largestarFromPairs(pairsDf: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairsIn = pairsDf.persist(StorageLevel.MEMORY_AND_DISK)
    // normalized undirected edges (lo, hi), self-loops dropped
    var edges = pairsIn
      .select(least(col("a_id"), col("b_id")).as("a"), greatest(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(false)
    var converged = false
    while (!converged) {
      val adj = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      // large-star: m(u) = min(N(u) ∪ {u}); emit {v, m} for v > u
      val lsm = adj.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      val e1 = adj.filter(col("v") > col("u")).join(lsm, "u")
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val adj1 = e1.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e1.select(col("b").as("u"), col("a").as("v")))
      // small-star: over the ≤ neighborhood, m = min(N≤(u) ∪ {u});
      // emit {v, m} for v ∈ N≤(u) plus {u, m}
      val ss = adj1.filter(col("v") < col("u"))
      val ssm = ss.groupBy("u").agg(min("v").as("m"))
      val e2 = ss.join(ssm, "u")
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .unionByName(ssm.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(false)
      // set equality as one-sided exceptAll + count compare (r17): both
      // relations are distinct(), so e2 ∖ edges = ∅ together with equal
      // cardinality implies equality — the second exceptAll join per
      // round was pure overhead. counts run on the checkpointed leaves.
      converged = e2.exceptAll(edges).isEmpty && edges.count() == e2.count()
      // the superseded generation's checkpoint blocks are dead now (e2 is
      // materialized and lineage-truncated by the actions above): release
      // eagerly instead of waiting on the ContextCleaner (r17)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(edges)
      edges = e2
    }
    pairsIn.unpersist()
    // the FINAL generation's checkpoint backs the returned plan, so it
    // must live until materialization — register it for the harness's
    // post-materialization release (r18: Dataset.unpersist can't free
    // checkpoint storage, so track() alone leaked it into the session)
    graft.CacheTracker.trackLocalCheckpoint(edges)
    // converged star forest: every edge is (component min, member)
    val labels = graft.CacheTracker.track(
      edges.select(col("b").as("id"), col("a").as("label"))
        .unionByName(edges.select(col("a").as("id"), col("a").as("label")).distinct())
        .groupBy("id").agg(min("label").as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    labels.join(labels.groupBy("label").agg(count(lit(1)).as("cluster_size")), "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** INCREMENTAL connected components — the index-refresh face of the
    * clustering (completing the incremental family: q_incr_agg for
    * aggregates, q_dedup_incremental for exact dedup,
    * q_sim_topk_incremental for ANN): when NEW documents (the
    * +2000000 tail-append arrivals) bring new near-dup edges, the fresh
    * labels propagate over (the at-rest STAR EDGES of the history
    * clustering ∪ the new edges only) — the star edges preserve the
    * history graph's connectivity with one edge per old vertex, so the
    * merged propagation touches O(affected components + new edges)
    * instead of replaying every historical pair. The oracle is the
    * full-graph recursive closure: hash equality proves the refresh
    * loses nothing (the standing incremental contract).
    *
    * Scale shape: history clustering is the at-rest input (recomputed
    * here to simulate it, as in q_sim_topk_incremental); the merge runs
    * label propagation over a star forest plus the new-edge delta. */
  def qDedupCcIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val all = pairsAtRest(s, d).select(col("a_id"), col("b_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val old = all.filter(col("a_id") < 2000000L && col("b_id") < 2000000L)
    val fresh = all.filter(col("a_id") >= 2000000L || col("b_id") >= 2000000L)
    // the at-rest state: one (center, member) star edge per old vertex
    val starEdges = clustersFromPairs(old)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("a_id"), col("doc_id").as("b_id"))
    val out = clustersFromPairs(starEdges.unionByName(fresh))
    all.unpersist()
    out
  }

  /** Jaccard-threshold sweep over the UNthresholded LSH candidates —
    * the tuning readout that decides a dedup pipeline's similarity
    * cutoff: per candidate threshold, how many pairs survive, how many
    * of the injected exact copies and tail-append near-dups are
    * recovered (recall per family kind), and how many surviving pairs
    * are "natural" (not injected — the precision cost of lowering the
    * bar). Injected exact copies sit at Jaccard 1.0 and tail-appends
    * just above 0.5, so the sweep shows exactly where each population
    * falls off.
    *
    * Scale shape: one signature pass + the banded candidate join
    * (q_minhash_estimate's relation, never all-pairs); the sweep is a
    * constant 4× conditional aggregate over the candidate pairs. */
  def qDedupThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d) // at-rest signature index
    val sa = sigs.select(col("doc_id").as("a_id"), col("sset").as("sa"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sset").as("sb"))
    val cands = bandedCandidates(sigs).join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("n_inter")))
      .withColumn("kind", when(
          col("a_id") < 1000000L && col("b_id") === col("a_id") + 1000000L, "exact")
        .when(col("a_id") < 1000000L && col("b_id") === col("a_id") + 2000000L, "near")
        .otherwise("natural"))
    // injected-family totals from the parquet footer + closed forms over
    // the contiguous doc_id range (no pre-count jobs — the adaptive-LSH
    // pattern); the oracle derives the identical integers from COUNT(*)
    val n = Tables.parquetRowCount(s, d, "documents")
    val nExact = math.max((n + 4) / 5, 1L) // max guards the empty corpus
    val nNear = math.max((n + 6) / 7, 1L)
    // Every candidate threshold MUST emit a row even when the cutoff
    // sheds every pair (a silent missing row would read as "sweep never
    // ran 0.9"): the literal threshold list left-joins the filtered
    // aggregate and zero-fills, identically in the DuckDB oracle.
    val th = s.range(1).select(explode(typedLit(Seq(0.3, 0.5, 0.7, 0.9))).as("threshold"))
    val agg = cands.select(explode(typedLit(Seq(0.3, 0.5, 0.7, 0.9))).as("threshold"),
        col("jaccard"), col("kind"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("p"),
        sum(when(col("kind") === "exact", 1L).otherwise(0L)).as("e"),
        sum(when(col("kind") === "near", 1L).otherwise(0L)).as("nr"),
        sum(when(col("kind") === "natural", 1L).otherwise(0L)).as("nat"))
    th.join(agg, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("e"), lit(0L)).as("n_exact"),
        coalesce(col("nr"), lit(0L)).as("n_near"),
        coalesce(col("nat"), lit(0L)).as("n_natural"))
      .select(col("threshold"), col("n_pairs"), col("n_exact"), col("n_near"), col("n_natural"),
        round(col("n_exact").cast("double") / lit(nExact.toDouble), 6).as("exact_recall"),
        round(col("n_near").cast("double") / lit(nNear.toDouble), 6).as("near_recall"))
  }

  /** LSH BANDING-CONFIGURATION sweep — the (bands × rows) tuning table
    * that decides an LSH deployment before anyone pays for it: for each
    * way of splitting the 16-permutation signature (2×8, 4×4, 8×2), the
    * candidate-pair volume (the COST axis — what the verify stage must
    * score) against the recall of the injected exact and near families
    * (the QUALITY axis; family totals are closed forms of the corpus
    * row count, as in q_dedup_threshold_sweep). More, shorter bands =
    * higher recall and more candidates; the sweep shows the knee.
    * Complements q_dedup_threshold_sweep, which fixes the banding and
    * sweeps the verify cutoff.
    *
    * Scale shape: three banded self-equi-joins over the AT-REST
    * signature index (never all-pairs, no re-shingling); each config's
    * readout is one aggregate row. */
  def qLshBandSweep(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d)
    val n = Tables.parquetRowCount(s, d, "documents")
    val nExact = math.max((n + 4) / 5, 1L) // max guards the empty corpus
    val nNear = math.max((n + 6) / 7, 1L)
    Seq((2, 8), (4, 4), (8, 2)).map { case (bn, r) =>
      val bands = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${bn - 1}), b -> array_join(" +
          s"transform(slice(sig, b * $r + 1, $r), x -> cast(x as string)), '-'))"))
        .as(Seq("band_idx", "band_hash")))
      bands.as("x")
        .join(bands.withColumnRenamed("doc_id", "b_id").as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("b_id"))
        .select(col("x.doc_id").as("a_id"), col("b_id")).distinct()
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("a_id") < 1000000L && col("b_id") === col("a_id") + 1000000L, 1L)
            .otherwise(0L)).as("n_exact_found"),
          sum(when(col("a_id") < 1000000L && col("b_id") === col("a_id") + 2000000L, 1L)
            .otherwise(0L)).as("n_near_found"))
        .select(lit(s"${bn}x$r").as("bands_rows"),
          col("n_candidates"), col("n_exact_found"), col("n_near_found"),
          round(col("n_exact_found").cast("double") / lit(nExact.toDouble), 6)
            .as("exact_recall"),
          round(col("n_near_found").cast("double") / lit(nNear.toDouble), 6)
            .as("near_recall"))
    }.reduce(_ unionByName _)
  }

  /** TAKEDOWN CLOSURE — the right-to-be-forgotten propagation every
    * training-data owner must be able to run: given a delete request
    * list (here doc_id % 97 == 0, the standing stand-in for a takedown
    * batch), compute the FULL blast radius over the near-dup graph —
    * the seeds themselves plus every member of any duplicate cluster
    * containing a seed (a near-copy of deleted content is still that
    * content; it must at least be flagged for review) — and, per
    * affected document, how many rows the at-rest PAIR INDEX holds for
    * it (the index-purge workload the deletion job must also apply —
    * deleting corpus rows while their sketches and pairs survive at
    * rest is the classic GDPR leak).
    *
    * Scale shape: cluster labels come from the at-rest pair relation
    * (never recomputed from text); seeds join against labels and the
    * affected set is two broadcast-sized joins; the per-doc purge count
    * is one degree aggregate over the pair edges. */
  def qTakedownClosure(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val labels = clustersFromPairs(pairs).select(col("doc_id"), col("cluster_id"))
    val seeds = corpus(s, d).select(col("doc_id")).filter(col("doc_id") % 97 === 0)
    val seedClusters = labels.join(seeds, "doc_id").select("cluster_id").distinct()
    val members = labels.join(broadcast(seedClusters), "cluster_id")
      .select(col("doc_id"), col("cluster_id"))
    val singletonSeeds = seeds.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(null).cast("long").as("cluster_id"))
    val deg = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    members.unionByName(singletonSeeds)
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        when(col("doc_id") % 97 === 0, "seed").otherwise("cluster_member").as("reason"),
        coalesce(col("n"), lit(0L)).as("n_pair_rows"))
  }

  /** TAKEDOWN PURGE with verification — the execute-and-prove half of
    * the GDPR contract [[qTakedownClosure]] only *plans*: delete every
    * pair touching the takedown closure from the at-rest pair index
    * (written as a fresh `lsh_pairs_redacted` generation — the real
    * index-purge workload, not a view), then PROVE the purged index
    * equals the index REBUILT FROM SCRATCH on the redacted corpus —
    * exceptAll in both directions plus the three counts. Equality is
    * the non-obvious guarantee a DPO needs: pair derivation is per-pair
    * local (signatures are per-document, candidates per-band), so
    * removing documents removes exactly their pairs and can never
    * create or alter a surviving pair — the purge is a complete erasure
    * with NO rebuild required. The oracle asserts that identity
    * independently (purged = restriction of the pair chain), so hash
    * equality proves Spark's real rebuild converged to it.
    *
    * Scale shape: the closure and purge are joins against the at-rest
    * index (anti-join on the broadcast-sized takedown set); the
    * from-scratch rebuild is the VERIFICATION cost, paid only by this
    * audit — production purges ship just the anti-join rewrite. */
  def qTakedownPurge(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val t = graft.CacheTracker.track(qTakedownClosure(s, d).select("doc_id").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d)
        .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"), col("jaccard"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val purged = pairs
      .join(broadcast(t.withColumnRenamed("doc_id", "a_id")), Seq("a_id"), "left_anti")
      .join(broadcast(t.withColumnRenamed("doc_id", "b_id")), Seq("b_id"), "left_anti")
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
    val dir = graft.AtRest.dir(s, d, "lsh_pairs_redacted", "documents", LshIndexParams)
    purged.write.mode("overwrite").parquet(dir.toString)
    graft.AtRest.gcStale(dir)
    val purgedAtRest = s.read.parquet(dir.toString)
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
    // the rebuild re-runs the PAIR derivation (banding + candidates +
    // exact-Jaccard verify) from scratch over the redacted population;
    // its per-document signatures come off the at-rest signature index
    // (pure per-doc derivations, unchanged by redaction — the standing
    // index-consumer contract, same as q_dedup_pairs_incremental)
    val redSigs = graft.CacheTracker.track(
      sigsAtRest(s, d).join(broadcast(t), Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val rebuilt = lshPairsFrom(redSigs)
      .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
    // r18 (guide §2.4): the compare used to fan out FIVE subtrees over
    // purged/rebuilt — two counts plus two exceptAll legs, each of which
    // Spark rewrites into its own union + full-row hash aggregate — so
    // the purged index was scanned 3x, the rebuilt relation consumed 3x
    // (forcing its persist + a count() materialization). One tagged
    // union and one full-row aggregate now produce all four numbers:
    // per distinct row, np/nr are the two sides' multiplicities, so
    // count(side) = Σ np and |A exceptAll B| = Σ max(np − nr, 0) —
    // multiset-exact, the same grouping RewriteExceptAll performs. The
    // rebuilt leg became single-consumer, so its persist and the extra
    // materialization pass are gone with it.
    val cmp = purgedAtRest.withColumn("tag", lit(1))
      .unionByName(rebuilt.withColumn("tag", lit(0)))
      .groupBy("a_id", "b_id", "n_inter", "n_union", "jaccard")
      .agg(sum(when(col("tag") === 1, 1L).otherwise(0L)).as("np"),
        sum(when(col("tag") === 0, 1L).otherwise(0L)).as("nr"))
      .agg(coalesce(sum("np"), lit(0L)).as("n_pairs_after"),
        coalesce(sum("nr"), lit(0L)).as("n_rebuilt"),
        coalesce(sum(greatest(col("np") - col("nr"), lit(0L))), lit(0L)).as("n_only_purged"),
        coalesce(sum(greatest(col("nr") - col("np"), lit(0L))), lit(0L)).as("n_only_rebuilt"))
    t.agg(count(lit(1)).as("n_docs_purged"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs_before")))
      .crossJoin(cmp)
      .select(col("n_docs_purged"), col("n_pairs_before"),
        (col("n_pairs_before") - col("n_pairs_after")).as("n_pairs_purged"),
        col("n_pairs_after"), col("n_rebuilt"),
        col("n_only_purged"), col("n_only_rebuilt"),
        (col("n_only_purged") === 0 && col("n_only_rebuilt") === 0 &&
          col("n_pairs_after") === col("n_rebuilt")).as("purge_exact"))
  }

  /** PAIR-PROVENANCE EXPLAIN — the per-pair diagnostic a pipeline owner
    * pulls when auditing WHY two documents were declared near-dups:
    * for every verified pair in the at-rest index, (a) how many of the
    * 4 LSH bands collide (the candidate-generation provenance — ≥ 1 by
    * construction, more = sketch-level confidence), (b) how many of
    * the 16 minhash slots agree and the Jaccard ESTIMATE they imply
    * (agree/16 — the unbiased sketch estimator), and (c) the exact
    * verified Jaccard with the estimate's signed error. The
    * estimate-vs-exact column is the per-pair face of
    * q_minhash_estimate's corpus-level ±3σ audit.
    *
    * Scale shape: two at-rest index scans (pairs + signatures) joined
    * on doc ids — band/slot comparisons are per-pair map-side HOFs
    * over 16-element arrays; nothing is re-shingled, re-hashed, or
    * re-banded at any corpus size. */
  def qDedupExplain(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsAtRest(s, d).select(col("doc_id"), col("sig"))
    pairsAtRest(s, d)
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sigb")), "b_id")
      .withColumn("n_band_hits", expr(
        "CAST(size(filter(sequence(0, 3), b -> slice(siga, b * 4 + 1, 4) = slice(sigb, b * 4 + 1, 4))) AS INT)"))
      .withColumn("n_sig_agree", expr(
        "CAST(size(filter(sequence(1, 16), k -> element_at(siga, k) = element_at(sigb, k))) AS INT)"))
      .select(col("a_id"), col("b_id"), col("n_band_hits"), col("n_sig_agree"),
        round(col("n_sig_agree") / 16.0, 6).as("est_jaccard"),
        col("jaccard"),
        // +0.0 normalizes IEEE −0.0 when the rounded error lands on zero
        (round(col("n_sig_agree") / 16.0 - col("jaccard"), 6) + lit(0.0)).as("est_error"))
  }

  /** Pair-counting evaluation of the duplicate CLUSTERING against the
    * injected ground truth — the Rand-family contingency computation
    * (pair precision / recall / F1) that turns "we clustered" into a
    * measured claim: predicted pairs = Σ_c C(size_c, 2) over discovered
    * clusters, true pairs = Σ_f C(size_f, 2) over the injected families
    * (doc_id mod 10⁶ — exact copies and tail-append variants share a
    * family), and true positives come from the (cluster, family)
    * contingency cells — never from materializing pairs. Natural
    * near-dups the corpus happens to contain count against precision by
    * construction (the standard labeled-eval caveat; they are real
    * near-dups but not injected family members).
    *
    * Scale shape: three aggregates over the label relation (cluster-,
    * cell-, and family-keyed) — the pair counts are binomials of group
    * sizes, so nothing quadratic ever materializes at any corpus size. */
  def qDedupClusterEval(s: SparkSession, d: String): DataFrame = {
    val labels = qDedupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val tp = labels.withColumn("fam", col("doc_id") % 1000000L)
      .groupBy("cluster_id", "fam").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).cast("long").as("tp"))
    val pred = labels.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).cast("long").as("pred_pairs"),
        count(lit(1)).as("n_clusters"))
    val truth = corpus(s, d).select((col("doc_id") % 1000000L).as("fam"))
      .groupBy("fam").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).cast("long").as("true_pairs"))
    pred.crossJoin(tp).crossJoin(truth)
      .select(col("n_clusters"), col("pred_pairs"), col("true_pairs"), col("tp"),
        round(col("tp").cast("double") / col("pred_pairs"), 6).as("pair_precision"),
        round(col("tp").cast("double") / col("true_pairs"), 6).as("pair_recall"),
        round(lit(2.0) * col("tp") / (col("pred_pairs") + col("true_pairs")), 6).as("pair_f1"))
  }

  /** MinHash as a MERGEABLE sketch — the union algebra HLL gets in
    * q_hll_sketch_union, for set SIMILARITY: the signature of a union
    * is the elementwise MIN of the member signatures (each slot is a
    * permutation-min, and min distributes over union), so per-SOURCE
    * shingle-universe sketches build from the per-document signatures
    * already at rest — no re-shingling, no rescan — and any pair of
    * sources gets a Jaccard estimate from two 16-slot vectors. The
    * exact per-pair universe Jaccard rides along as the ground truth
    * with the same ±0.45 3σ bound as q_minhash_estimate.
    *
    * Scale shape: the union sketch is one (source, slot) min-aggregate
    * over data already computed (map-side combined, 16·|sources| rows);
    * pairing is |sources|²-bounded. The exact side is the oracle-check
    * cost, not the production path — at 100 TB only the sketches ship. */
  def qMinhashUnion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // r18: signatures and shingle sets come off the AT-REST signature
    // index (the standing index-consumer contract — sig/sset are
    // byte-identical to the from-scratch derivation, the oracle stays
    // the full from-scratch pipeline) instead of re-shingling the
    // corpus; `source` joins back from the pruned 2-column document
    // scan. The old `size(hashes) >= 1` gate is `size(sset) > 0` here:
    // hashes is a 1:1 transform of shingles and array_distinct of a
    // non-empty array is non-empty. Join strategy is left to the
    // planner: at bench scale the (doc_id, source) side auto-broadcasts;
    // at corpus scale both sides are corpus-sized and it degrades to the
    // keyed join it should be.
    val sigd = graft.CacheTracker.track(
      sigsAtRest(s, d).filter(size(col("sset")) > 0)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("sig"), col("sset"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val srcSig = sigd
      .select(col("source"), posexplode(col("sig")).as(Seq("k", "v")))
      .groupBy("source", "k").agg(min("v").as("v"))
      .groupBy("source")
      .agg(expr("transform(sort_array(collect_list(struct(k, v))), x -> x.v)").as("usig"))
    val uni = graft.CacheTracker.track(
      sigd.select(col("source"), explode(col("sset")).as("sh")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = uni.groupBy("source").agg(count(lit(1)).as("nsh"))
    val inter = uni.select(col("source").as("sa"), col("sh"))
      .join(uni.select(col("source").as("sb"), col("sh")), "sh")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
    srcSig.select(col("source").as("sa"), col("usig").as("siga"))
      .crossJoin(srcSig.select(col("source").as("sb"), col("usig").as("sigb")))
      .filter(col("sa") < col("sb"))
      .withColumn("n_match", expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))"))
      .join(broadcast(sizes.select(col("source").as("sa"), col("nsh").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("nsh").as("nb"))), "sb")
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("sa"), col("sb"), col("n_match"),
        (col("n_match") / lit(16.0)).as("est_jaccard"),
        col("n_inter"), (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .withColumn("within_bound", abs(col("n_match") / lit(16.0) - col("jaccard")) <= 0.45)
  }

  /** Connected components over the verified near-dup pairs — the step a
    * curation pipeline needs AFTER pair generation: pairwise matches
    * grouped into duplicate clusters, each with a canonical id (the
    * component's min doc_id) and its size.
    *
    * Min-label propagation to fixpoint (GraphX-style without the GraphX
    * dependency): label(v) initializes to min(v, neighbors) — the first
    * propagation step fused into the vertex-set build, one shuffle —
    * then each round v takes the min of its own and its neighbors'
    * labels (one equi-join + one groupBy shuffle per round), converging
    * in O(component diameter) rounds; near-dup components are tiny
    * quasi-cliques, so the init is usually already the fixpoint. The
    * convergence check is `sum(label)` (labels are per-node
    * non-increasing, so the decimal-exact sum strictly decreases until
    * fixpoint) — no self-join against the previous generation needed.
    * The oracle computes the same fixpoint as a recursive transitive
    * closure + MIN, which is only feasible on small data — the
    * propagation form is the one that scales. */
  def qDedupClusters(s: SparkSession, d: String): DataFrame =
    clustersFromPairs(pairsAtRest(s, d).select(col("a_id"), col("b_id")))

  /** Clustering decoupled from pair generation: takes any verified-pairs
    * relation `(a_id, b_id)` — a pipeline that already materialized
    * `q_dedup_lsh_pairs` (or holds it CacheTracker-persisted) passes it
    * here and pays only for the propagation, not LSH-again; the
    * registry entry composes the two for the standalone oracle check.
    * PipelineSpec proves supplied-pairs ≡ standalone. */
  def clustersFromPairs(pairsIn: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = pairsIn.select(col("a_id"), col("b_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = pairs.union(pairs.select(col("b_id"), col("a_id")).toDF("a_id", "b_id"))
    // init fused with propagation step 1: label(v) = min(v, neighbors)
    // in the same single shuffle that builds the vertex set — for
    // clique-shaped components (the common near-dup case) this is
    // already the fixpoint, so the loop only confirms.
    // Each round's labels are cut to a LAZY localCheckpoint (the
    // convergence-check action right below materializes it): the round
    // references labels TWICE (join + union), so composed lazily the
    // analyzed plan would re-embed the whole LSH subtree per round and
    // per downstream consumer — the same planning-cost trap fixed in
    // [[qGraphKcore]]; a reliable checkpoint() is the cluster variant.
    var labels = edges.groupBy(col("a_id").as("id"))
      .agg(min(least(col("a_id"), col("b_id"))).as("label"))
      .localCheckpoint(false)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO) // empty graph
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val next = edges.join(labels, edges("b_id") === labels("id"))
        .select(edges("a_id").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      // next is materialized + lineage-truncated by the sum action; the
      // superseded generation's checkpoint blocks release eagerly (r17)
      org.apache.spark.sql.graftbridge.Bridge.unpersistLocalCheckpoint(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
    }
    pairs.unpersist()
    // labels is checkpoint-backed: track() would unpersist a cache that
    // doesn't exist while the checkpoint RDD leaked into the session —
    // the checkpoint registry releases the actual storage (r18)
    graft.CacheTracker.trackLocalCheckpoint(labels)
    labels.join(labels.groupBy("label").agg(count(lit(1)).as("cluster_size")), "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** C4-style repeated-span removal (Raffel et al. '20 dedup the corpus
    * at the span level, not just whole documents): documents are cut
    * into non-overlapping 10-word spans, any span whose exact text
    * occurs more than once ANYWHERE in the corpus is dropped from every
    * document, and the survivors are reassembled in order. Runs over the
    * injected-duplicate corpus so the hit path is live (exact copies
    * collide on every span, near copies on all but the tail).
    *
    * Scale shape: one shuffle keyed on the span hash to count
    * occurrences (map-side combine applies — the key is md5, uniform),
    * one doc-keyed shuffle to reassemble. Both are the minimum for
    * corpus-global span dedup; nothing is quadratic and no side is
    * collected. At 100 TB the span-count relation is Zipf-skewed but
    * the aggregation is a sum — AQE's skew split plus partial
    * aggregation absorb it. */
  def qDedupSpan(s: SparkSession, d: String): DataFrame = {
    val spans = corpus(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, (size(words) + 9) div 10 - 1), i -> concat_ws(' ', slice(words, i * 10 + 1, 10)))"))
          .as(Seq("span_idx", "span")))
      .withColumn("h", md5(col("span")))
    // r18 (guide §2.4, the kept q_dedup_substr shape): occurrence count
    // as a window over the hash instead of groupBy + join-back — the
    // join shape shuffled the span relation on h AND re-ran the
    // split/transform/md5 extraction once per plan branch (occ and the
    // probe side each rescanned the corpus). One extraction pass, one
    // shuffle on h. Same n_occ per row. Skew note (the substr caveat):
    // block hashes are near-unique on this corpus profile; a corpus-wide
    // hot boilerplate block would concentrate its postings in one window
    // task where the old groupBy pre-aggregated — acceptable for 10-word
    // blocks, same as the sliding-window form.
    spans
      .withColumn("n_occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1).otherwise(0)).as("n_dup_spans"),
        concat_ws(" ", expr(
          "transform(filter(sort_array(collect_list(struct(span_idx, span, n_occ))), x -> x.n_occ <= 1), x -> x.span)"))
          .as("clean_text"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_fraction"),
        col("clean_text"))
  }

  /** ExactSubstr-style OVERLAPPING duplication coverage (Lee et al. '22,
    * "Deduplicating Training Data Makes Language Models Better" — their
    * suffix-array ExactSubstr pass, re-expressed relationally): every
    * SLIDING 10-word window is hashed, windows whose text occurs more
    * than once anywhere in the corpus mark all 10 covered positions, and
    * overlapping marks merge into MAXIMAL duplicated runs per document
    * (gaps-and-islands on window starts: a break iff the next start
    * exceeds the previous by more than the window width). Reports per
    * doc the duplicated-token count, longest run, and coverage fraction.
    * Catches SHIFTED duplication the block-based [[qDedupSpan]] misses
    * by construction (a copy offset by one word shares zero 10-word
    * blocks but all interior sliding windows).
    *
    * Scale shape: one shuffle on the window hash (uniform md5 keys,
    * map-side combine), one doc-keyed shuffle for the islands pass —
    * every window after that is partitioned by doc_id, never global.
    * Window count = token count, so the sliding form costs ~10× the
    * block form's rows — the price of shift invariance; at 100 TB both
    * shuffles remain linear and AQE absorbs the Zipf skew on hot
    * windows' postings. */
  def qDedupSubstr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 10
    val wins = corpus(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")).cast("long"))
      .filter(col("n_words") >= W)
      .select(col("doc_id"), col("n_words"),
        posexplode(expr(
          s"transform(sequence(0, size(words) - $W), i -> md5(concat_ws(' ', slice(words, i + 1, $W))))"))
          .as(Seq("w_start", "h")))
    // occurrence count as a WINDOW over the hash instead of groupBy +
    // join-back (r17, guide §2.4): the previous shape shuffled the
    // window relation TWICE (the count aggregate, then the equi-join
    // probe) and re-ran the md5-per-sliding-window extraction once per
    // plan branch; one count-over-partition keeps a single shuffle on h
    // and a single extraction pass. Same n_occ per row, same filter.
    val dup = wins
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("n_occ") > 1)
    val byDoc = Window.partitionBy("doc_id").orderBy("w_start")
    val runs = dup
      .withColumn("prev", lag(col("w_start"), 1).over(byDoc))
      .withColumn("new_run",
        when(col("prev").isNull || col("w_start") - col("prev") > W, 1).otherwise(0))
      .withColumn("run_id", sum(col("new_run")).over(byDoc))
    runs.groupBy(col("doc_id"), col("n_words"), col("run_id"))
      .agg((max(col("w_start")) - min(col("w_start")) + W).as("run_tokens"))
      .groupBy(col("doc_id"), col("n_words"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("run_tokens")).cast("long").as("dup_tokens"),
        max(col("run_tokens")).cast("long").as("longest_run"))
      .withColumn("dup_fraction", col("dup_tokens").cast("double") / col("n_words"))
  }

  /** Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): each document keeps only the MIN
    * shingle hash in every sliding window of 4 consecutive shingles
    * (guarantee: any shared run of ≥ 6 words produces at least one
    * shared fingerprint), documents are joined on fingerprints, and
    * pairs sharing ≥ 2 are reported with an overlap score. The winnow
    * subsamples the shingle set ~4× (expected density 2/(w+1)), so the
    * posting-list join touches a quarter of the data LSH banding sees.
    *
    * Scale shape: fingerprint extraction is map-side (HOF over the
    * codegen shingle hashes); fingerprints seen in > 50 documents are
    * dropped before the self-join (MOSS's common-code guard — here the
    * boilerplate guard), which caps every posting list and bounds
    * candidate volume at 50·|posts|. The pair aggregation shuffles on
    * (a_id, b_id) — uniform by construction. */
  /** The interpreted-HOF twin of [[graft.functions.WinnowFps]] — kept as
    * the independent parity reference in PipelineSpec (same pattern as
    * shinglesHofExpr ↔ ShinglesN). */
  private[graft] val winnowHofExpr =
    "array_distinct(IF(size(hashes) >= 4, transform(sequence(0, size(hashes) - 4), i -> array_min(slice(hashes, i + 1, 4))), array(array_min(hashes))))"

  def qDedupWinnow(s: SparkSession, d: String): DataFrame = {
    // the posting relation feeds three plan branches (df counts + both
    // sides of the pair join); the extraction above it — shingling, md5
    // hashing, per-window mins — is the dominant cost, so it runs as the
    // fused codegen winnow_fps expression (the HOF form benched 18 s of
    // a 35 s query) and the tiny (doc_id, n_fps, fp) relation persists
    // so the three branches pay it once (same fix as qDedupLshPairs)
    val posts = graft.CacheTracker.track(corpus(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))
      .withColumn("hashes", expr(baseHashExpr))
      .filter(size(col("hashes")) >= 1)
      .withColumn("fps", expr("winnow_fps(hashes)"))
      .select(col("doc_id"), size(col("fps")).as("n_fps"), explode(col("fps")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rare = posts.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
    val p = posts.join(rare.select("fp"), "fp")
    p.as("x").join(p.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.n_fps").as("a_fps"), col("y.n_fps").as("b_fps"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2)
      .select(col("a_id"), col("b_id"), col("shared_fps"), col("a_fps"), col("b_fps"),
        round(col("shared_fps").cast("double") / least(col("a_fps"), col("b_fps")), 6)
          .as("overlap"))
  }

  /** PageRank over the near-dup graph — centrality-weighted canonical
    * selection, the graph-compute pattern web-scale curation uses
    * (rank/centrality as a quality prior). Three power iterations with
    * damping 0.85 over the symmetric LSH-verified pair graph.
    *
    * All arithmetic is integer fixed-point (units of 10⁻¹²):
    * contribution = pr div deg, update = 0.15·10¹² + (Σcontrib·85) div
    * 100 — exact, order-insensitive, and identical in DuckDB's floor
    * division, so the iterative result HASH-matches the oracle (a float
    * PageRank could not: per-group summation order differs between
    * engines). The graph is symmetric so every vertex has in-degree ≥ 1
    * — no dangling-mass term needed.
    *
    * Scale shape: per iteration one equi-join (contributions) + one
    * groupBy (sum per dst) — the same two-shuffle round as the
    * label-propagation clustering; degrees and ranks stay (id, long)
    * relations. Long sums hold to ~10⁵ average degree at this scale
    * factor; swap the accumulator to DECIMAL(38,0) beyond that. */
  def qGraphPagerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val Scale = 1000000000000L
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val edges = pairs.unionByName(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
    val deg = graft.CacheTracker.track(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    var pr = deg.select(col("id"), lit(Scale).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = edges.join(pr, edges("src") === pr("id"))
        .join(deg.withColumnRenamed("id", "did"), col("src") === col("did"))
        .select(col("dst").as("id"), expr("pr div deg").as("c"))
      pr = contrib.groupBy("id").agg(sum("c").as("sc"))
        .select(col("id"), (lit(15L * Scale / 100) + expr("(sc * 85) div 100")).as("pr"))
    }
    pr.join(deg, "id")
      .select(col("id").as("doc_id"), col("deg"), col("pr").as("pr3_scaled"))
  }

  /** Triangle counting + local clustering coefficient over the near-dup
    * graph (the second graph-compute primitive next to [[qGraphPagerank]]
    * — triangle density distinguishes a tight duplicate CLIQUE from a
    * chain of pairwise matches, which is exactly the signal that decides
    * whether a cluster is one document family or transitive noise).
    *
    * Algorithm: compact-forward with DEGREE ORIENTATION (Latapy 2008) —
    * each undirected edge orients from its lower-(degree, id) endpoint
    * to the higher, wedges enumerate only within OUT-neighborhoods, and
    * a final join checks the closing edge. Every triangle is found
    * exactly once (its vertices totally order under (deg, id)), and the
    * wedge count is bounded by Σ outdeg(v)² where outdeg ≤ √(2m) — the
    * O(m^1.5) bound that makes triangle counting feasible at web scale;
    * without orientation a single hub vertex's deg² wedges dominate.
    * Per-vertex counts come from unpivoting each triangle to its three
    * corners — one more shuffle keyed by vertex.
    *
    * Integer counts and a once-per-vertex double division keep the
    * output hash-stable. */
  def qGraphTriangles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    pairs.count() // materialize BEFORE the fan-out: the three self-join
    // occurrences below become eager broadcast jobs that would otherwise
    // race the cache fill and re-run the whole LSH pipeline 3x
    val edges = pairs.unionByName(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val da = deg.select(col("id").as("a_id"), col("deg").as("da"))
    val db = deg.select(col("id").as("b_id"), col("deg").as("db"))
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a_id") < col("b_id"))
    val o = graft.CacheTracker.track(pairs.join(da, "a_id").join(db, "b_id")
      .select(when(fwd, col("a_id")).otherwise(col("b_id")).as("u"),
        when(fwd, col("b_id")).otherwise(col("a_id")).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    o.count() // same reason: e1/e2/e3 broadcast sides must hit the cache
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") =!= col("e2.v"))
      .join(o.as("e3"), col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val tc = tri.select(col("x").as("id"))
      .unionByName(tri.select(col("y").as("id")))
      .unionByName(tri.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tc, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering", expr(
        "CASE WHEN deg < 2 THEN CAST(0 AS DOUBLE) ELSE round(CAST(2 * n_tri AS DOUBLE) / (deg * (deg - 1)), 6) END"))
  }

  /** Bounded BFS reachability via WITH RECURSIVE (Spark 4's recursive
    * CTE surface — the SQL face of iterative graph expansion, next to
    * the DataFrame-loop PageRank and label-propagation forms): from the
    * seed vertices (doc_id % 20 = 0) walk the symmetric near-dup graph
    * up to 3 hops, reporting each reached document's minimum depth and
    * its bounded path count. This is the "expand the duplicate
    * neighborhood of a flagged set" primitive — contamination and
    * takedown workflows both start from seeds and widen.
    *
    * The recursion is depth-bounded (r.depth < 3), so cyclic edges
    * cannot loop forever and the path-count explosion is capped at
    * deg³; counts and depths are integers — hash-exact. Scale shape:
    * each recursion step is one equi-join against the (persisted) edge
    * relation keyed by src — the same per-iteration cost as a
    * hand-rolled BFS loop, but planned by Catalyst's UnionLoop; the
    * frontier relation stays (id, depth) sized. */
  def qGraphReach(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    pairs.count() // materialize: the recursion references the edge view
    // once per step, and each step must scan the cache, not the pipeline
    pairs.unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst").createOrReplaceTempView("graft_dup_edges")
    s.sql(
      """WITH RECURSIVE reach(doc_id, depth) AS (
        |  SELECT DISTINCT src, 0 FROM graft_dup_edges WHERE src % 20 = 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN graft_dup_edges e ON e.src = r.doc_id
        |  WHERE r.depth < 3)
        |SELECT doc_id, MIN(depth) AS depth, COUNT(*) AS n_paths
        |FROM reach GROUP BY doc_id""".stripMargin)
  }

  /** k-core decomposition (k=2, three peeling rounds) over the near-dup
    * graph — the degeneracy-ordering primitive (Matula–Beck 1983) that
    * separates DENSE duplicate families (which survive peeling) from
    * chains and stars of incidental pairwise matches (which unravel).
    * Curation uses the core as the "this cluster is a real template
    * family" signal the same way triangle density is used, but the core
    * is cheaper: each round is one semi-join + one degree count, no
    * wedge enumeration.
    *
    * Output per vertex: initial degree, the round it was peeled
    * (1-3, 0 = survived into the 2-core), and its degree within the
    * surviving induced subgraph. All integers — hash-exact.
    *
    * Scale shape: per round, the edge relation is semi-joined against
    * the shrinking alive set on BOTH endpoints (broadcast when small,
    * shuffle-keyed otherwise — Catalyst's call), then one map-side-
    * combined degree count. Because each round references the alive set
    * TWICE, naive lazy composition grows the logical plan 3× per round
    * — analysis/canonicalization, not execution, becomes the cost (the
    * classic iterative-algorithm trap GraphFrames solves with periodic
    * checkpointing). Each round's alive set is therefore cut to a flat
    * `localCheckpoint` (an (id)-only relation, executor-resident); on a
    * real cluster a reliable `checkpoint()` to the DFS is the
    * fault-tolerant variant of the same lineage cut. */
  def qGraphKcore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = graft.CacheTracker.track(
      pairsAtRest(s, d).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    pairs.count() // materialize BEFORE the fan-out: edges feeds every
    // round twice (both semi-join sides) plus deg0 — un-materialized,
    // each consumer would replay the whole LSH pipeline
    val edges = pairs.unionByName(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
    val deg0 = graft.CacheTracker.track(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg0"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // peel: alive(r) = vertices whose degree within alive(r-1) is >= 2;
    // localCheckpoint is EAGER — it materializes and flattens lineage in
    // one step, so every downstream plan sees a leaf, not the peel chain
    // every round's checkpoint is referenced by the final join plan, so
    // all of them must live until materialization — register each for
    // the harness's post-materialization release (r18: they previously
    // leaked into the shared session, 4 checkpoint RDDs per invocation)
    var alive = graft.CacheTracker.trackLocalCheckpoint(
      deg0.filter(col("deg0") >= 2).select("id").localCheckpoint())
    var lastDeg = deg0.select(col("id"), col("deg0").as("deg"))
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (_ <- 1 to 3) {
      rounds += alive
      val sub = edges
        .join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
      lastDeg = graft.CacheTracker.trackLocalCheckpoint(
        sub.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .localCheckpoint())
      alive = lastDeg.filter(col("deg") >= 2).select("id")
    }
    val Seq(a1, a2, a3) = rounds.toSeq
    deg0
      .join(a1.withColumn("in1", lit(1)), Seq("id"), "left")
      .join(a2.withColumn("in2", lit(1)), Seq("id"), "left")
      .join(a3.withColumn("in3", lit(1)), Seq("id"), "left")
      .join(lastDeg.withColumnRenamed("deg", "deg3"), Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg0"),
        when(col("in1").isNull, 1).when(col("in2").isNull, 2)
          .when(col("in3").isNull, 3).otherwise(0).cast("int").as("peeled_round"),
        when(col("in3").isNull, 0L)
          .otherwise(coalesce(col("deg3"), lit(0L))).as("core_deg"))
  }

  /** Levenshtein fuzzy-match confirmation over the LSH candidate pairs —
    * the entity-resolution two-phase shape: banding PROPOSES cheap
    * candidates, edit distance CONFIRMS on a bounded 80-char prefix.
    * The bound is the scale decision: Levenshtein is O(len²) per pair,
    * so unbounded text would make the confirm stage the bottleneck;
    * an 80-char prefix caps per-pair cost at a constant while still
    * separating true near-dups (prefix distance ~0) from band
    * collisions. Exact-copy pairs score distance 0 / ratio 1.0; the
    * appended-tail near-dups share the whole prefix — both hit paths
    * live at every sf (spec-asserted). The distance is an integer and
    * the ratio divides once per row — hash-exact. */
  def qFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val pairs = pairsAtRest(s, d).select(col("a_id"), col("b_id"))
    val t = corpus(s, d).select(col("doc_id"), substring(col("text"), 1, 80).as("prefix"))
    pairs.join(t.select(col("doc_id").as("a_id"), col("prefix").as("pa")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("prefix").as("pb")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("pa"), col("pb")).as("lev_dist"),
        expr("round(1 - CAST(levenshtein(pa, pb) AS DOUBLE) / greatest(length(pa), length(pb)), 6)").as("sim_ratio"))
      .withColumn("confirmed", col("sim_ratio") >= 0.4)
  }

  /** Neighbor-set Jaccard over the near-dup graph (the link-prediction /
    * role-similarity primitive: two documents whose DUPLICATE
    * NEIGHBORHOODS overlap are versions of the same underlying source
    * even when they never banded together directly). For node pairs
    * sharing ≥1 neighbor: J = |N(a)∩N(b)| / (deg a + deg b − |∩|),
    * top-50 by similarity.
    *
    * Scale shape: the wedge join (edges ⋈ edges on the shared
    * endpoint) costs Σ_x deg(x)² — bounded here BOTH by the LSH band
    * width and, explicitly, by the [[JaccardHubCap]] degree cap on
    * wedge centers (implemented below, spec-proven to bind on an
    * injected hub). Degree tables broadcast; top-50 is TakeOrdered. */
  /** Wedge centers with degree above this cap are EXCLUDED from the
    * neighbor-Jaccard wedge join: a single hub of degree D contributes
    * D² wedges, so one web-scale hub would dominate the Σ deg² bound.
    * Dropping hub CENTERS (the shared neighbor x in a–x–b) is the
    * standard link-prediction mitigation — a hub shared by everything
    * carries no similarity signal anyway (its contribution to Jaccard
    * is near-uniform noise). Degrees in the output stay FULL degrees;
    * only the shared-neighbor count is capped, so capped n_shared ≤
    * uncapped (spec-proven, with a binding hub case). Never binds on
    * this corpus' tiny near-dup families — oracle parity holds with the
    * identical cap in SQL. */
  private[graft] val JaccardHubCap = 64

  /** Neighbor-Jaccard over any symmetric-izable pair relation — split
    * out so the spec can prove the hub cap's containment and binding
    * properties on a synthetic hub graph. */
  private[graft] def neighborJaccardFrom(pairsIn: DataFrame, hubCap: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = graft.CacheTracker.track(
      pairsIn.select(col("a_id"), col("b_id")).persist(StorageLevel.MEMORY_AND_DISK))
    pairs.count() // materialize before the wedge self-join fan-out
    val edges = pairs
      .unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // the hub cap: wedges enumerate only through low-degree centers, so
    // the join cost is bounded by Σ_{deg(x) ≤ cap} deg(x)² ≤ cap·m
    val lowDegCenters = deg.filter(col("deg") <= hubCap).select(col("src").as("dst"))
    // explicit select: the USING semi-join moves the join column first,
    // and the positional toDF below must see (endpoint, center) order
    val wedgeEdges = edges.join(lowDegCenters, Seq("dst"), "left_semi").select("src", "dst")
    val shared = wedgeEdges.toDF("a", "x")
      .join(wedgeEdges.toDF("b", "x2"), col("x") === col("x2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(deg.toDF("a", "deg_a")), Seq("a"))
      .join(broadcast(deg.toDF("b", "deg_b")), Seq("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"),
        col("n_shared"), col("deg_a"), col("deg_b"),
        round(col("n_shared").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_shared")), 6).as("nbr_jaccard"))
      .orderBy(col("nbr_jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  def qGraphJaccard(s: SparkSession, d: String): DataFrame =
    neighborJaccardFrom(pairsAtRest(s, d), JaccardHubCap)

  /** Canonical-representative selection — the step AFTER clustering
    * that decides WHICH copy of each duplicate cluster survives: keep
    * the longest version (the most complete copy, the standard
    * heuristic), doc_id as the deterministic tie-break. One row per
    * clustered doc with its keep/drop verdict.
    *
    * Scale shape: reuses the connected-components labels, joins doc
    * lengths on the cluster relation (doc-keyed), and ranks within
    * clusters — windows bounded by cluster size. */
  def qDedupCanonical(s: SparkSession, d: String): DataFrame = {
    val clusters = qDedupClusters(s, d)
    val t = corpus(s, d).select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val wc = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters.join(t, Seq("doc_id"))
      .withColumn("keep", row_number().over(wc) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_chars"), col("keep"))
  }

  /** Precision/recall/F1 of SimHash banded near-dup detection against
    * the exact n-gram-Jaccard truth set — the eval a pipeline owner
    * runs before swapping the expensive exact join for the cheap
    * sketch: [[qDedupSimhashPairs]] (hamming ≤ 3) is the prediction,
    * [[qDedupNgramJaccard]] (Jaccard ≥ 0.5, PPJoin-exact) the truth.
    * TP/FP/FN come from one pair-key join; precision, recall, and
    * F1 = 2TP/(|pred|+|truth|) derive from those three exact BIGINTs.
    *
    * Scale shape: the eval runs on a DETERMINISTIC HALF of the corpus
    * (doc_id % 2 — the injected duplicate pairs share parity, so truth
    * pairs stay co-sampled), which is how this metric runs at 100 TB:
    * an eval never needs the full corpus, and the quadratic candidate
    * stages shrink ~4×. Both sub-pipelines keep their own shapes
    * (banded buckets, prefix-filtered candidates); each pair set is
    * persisted before the 2-way fan-out (count + join) so neither
    * pipeline replays.
    *
    * EAGER by design (unlike the other registry entries, which return
    * lazy plans): the distributed work — two count fills + the tp join
    * — runs at CALL time and the returned frame is the literal-backed
    * 1-row result. This is what keeps the peak footprint down (the
    * counts are captured, never re-aggregated); the cost is that plan
    * inspection of the returned frame sees only literals. */
  def qDedupEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sample = corpus(s, d).filter(col("doc_id") % 2 === 0)
    // SER levels throughout: the round-11 bench oscillation's prime
    // suspect was cross-query executor-memory pressure evicting these
    // persists between the count() fill and the three-way fan-out —
    // serialized storage is ~4× smaller for the array-heavy sset rows,
    // so the blocks survive pressure that would evict deserialized ones
    val pred = graft.CacheTracker.track(
      simhashPairsFrom(sample).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER))
    // truth side reads its shingle sets off the AT-REST signature index
    // (sset is byte-identical to the from-scratch derivation — the same
    // consumer contract as the graph/eval family; the oracle stays the
    // full from-scratch pipeline), halving the eval's explode work
    val sets = graft.CacheTracker.track(
      sigsAtRest(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("sset")).filter(size(col("sset")) > 0)
        .persist(StorageLevel.MEMORY_AND_DISK_SER))
    val truth = graft.CacheTracker.track(
      ngramJaccardFromSets(sets).select(col("a_id"), col("b_id"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER))
    // fill both caches AND capture the counts: re-aggregating the
    // persisted relations in a three-way fan-out after these counts
    // already materialized them doubled the peak storage+shuffle
    // footprint for nothing (the r12 bench's one GC-sensitive row) —
    // the only remaining distributed job below is the tp join.
    // r18 (guide §2.6): the two count fills are INDEPENDENT jobs
    // (disjoint lineages, separate caches) that ran back to back, each
    // leaving most cores idle through its straggler tail; submitting
    // them from two driver threads lets the FIFO scheduler back-fill
    // one pipeline's tail with the other's tasks. Counts unchanged.
    val Seq(nPred, nTruth) = graft.awaitAll(Seq(() => pred.count(), () => truth.count()))
    // the join below touches only pred/truth — release the big sset
    // cache NOW so it cannot crowd them out of storage memory
    sets.unpersist(blocking = true)
    val nTp = pred.join(truth, Seq("a_id", "b_id")).count()
    // everything downstream is constant arithmetic — free both pair
    // caches before returning (the query-scope release would get them
    // anyway; doing it here keeps the footprint out of the next query)
    pred.unpersist(blocking = false); truth.unpersist(blocking = false)
    // the ratios stay Spark SQL expressions (not driver math) so the
    // double arithmetic and 6-dp rounding follow the exact same libm
    // path as before — only the inputs became literals
    s.range(1)
      .select(lit(nPred).as("n_pred"), lit(nTruth).as("n_truth"), lit(nTp).as("n_tp"))
      .select(col("n_pred"), col("n_truth"), col("n_tp"),
        expr("round(CAST(n_tp AS DOUBLE) / greatest(n_pred, 1), 6)").as("prec"),
        expr("round(CAST(n_tp AS DOUBLE) / greatest(n_truth, 1), 6)").as("rec"),
        expr("round(CAST(2 * n_tp AS DOUBLE) / greatest(n_pred + n_truth, 1), 6)").as("f1"))
  }

  /** Clipped n-gram overlap count (BLEU's modified precision numerator):
    * for each DISTINCT gram of the candidate list `c`, its count in `c`
    * clipped by its count in the reference `r`, summed — i.e. the
    * multiset-intersection size Σ_t min(count_c(t), count_r(t)).
    *
    * r18 (guide §4, the r17 q_filter_attribution pattern): the old
    * distinct×filter form re-scanned both arrays per distinct type —
    * O(|types|·(|c|+|r|)) interpreted lambda work per pair, with a
    * materialized filter() array per probe. Both arrays now merge into
    * one sorted run-length fold: per token run, accumulate the two
    * source counts and add min(cc, rc) at each run boundary —
    * O((|c|+|r|) log) per pair and no per-type array allocation.
    * Identical integers: min per distinct type, summed; types present
    * in only one side contribute min(k, 0) = 0 exactly as before. The
    * phantom initial run (p = '', counts 0) is safe for real ''
    * tokens too — '' sorts first, so its run starts at the zero
    * counts the fold initializes with. */
  private[graft] def clipExpr(c: String, r: String): String =
    s"""aggregate(
       | sort_array(concat(transform($c, t -> struct(t AS t, 1 AS s)),
       |   transform($r, t -> struct(t AS t, 2 AS s)))),
       | named_struct('p', '', 'cc', CAST(0 AS BIGINT), 'rc', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)),
       | (a, e) -> CASE WHEN e.t = a.p
       |   THEN named_struct('p', a.p, 'cc', a.cc + CAST(2 - e.s AS BIGINT),
       |     'rc', a.rc + CAST(e.s - 1 AS BIGINT), 'm', a.m)
       |   ELSE named_struct('p', e.t, 'cc', CAST(2 - e.s AS BIGINT),
       |     'rc', CAST(e.s - 1 AS BIGINT), 'm', a.m + least(a.cc, a.rc)) END,
       | a -> a.m + least(a.cc, a.rc))""".stripMargin.replace("\n", "")

  /** BLEU-2 overlap scoring between near-duplicate pairs — the
    * generation-eval metric (Papineni et al. 2002) applied as a dedup
    * AUDIT: for each LSH-verified pair, score the higher-id copy as a
    * "candidate" against the lower-id "reference" (modified/clipped 1-
    * and 2-gram precisions, brevity penalty, geometric mean). Exact
    * copies score 1.0; the tail-append near-dups score the asymmetry
    * LSH's symmetric Jaccard hides — the same reason q_dedup_containment
    * exists, but in the cross-comparable unit every eval suite reports.
    *
    * Determinism: both precisions are ratios of exact integer clipped
    * counts; the only floats are the final exp/ln expression, written
    * identically in both engines and rounded at 6 dp (the q_text_bm25
    * libm contract).
    *
    * Scale shape: the pair set is LSH-bounded (never all-pairs), texts
    * join in by doc_id, and the clipped counts are per-pair map-side
    * HOFs — O(|grams|·|types|) per pair with ~100-word documents, no
    * additional shuffle beyond the two id joins. */
  def qBleuPairs(s: SparkSession, d: String): DataFrame = {
    val pairs = pairsAtRest(s, d).select("a_id", "b_id")
    val docs = corpus(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
    pairs
      .join(docs.select(col("doc_id").as("a_id"), col("w").as("aw")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("w").as("bw")), "b_id")
      .withColumn("ag2", expr(
        "CASE WHEN size(aw) < 2 THEN array() ELSE transform(sequence(0, size(aw) - 2), i -> concat(aw[i], ' ', aw[i + 1])) END"))
      .withColumn("bg2", expr(
        "CASE WHEN size(bw) < 2 THEN array() ELSE transform(sequence(0, size(bw) - 2), i -> concat(bw[i], ' ', bw[i + 1])) END"))
      .select(col("a_id"), col("b_id"),
        size(col("aw")).cast("long").as("len_a"),
        size(col("bw")).cast("long").as("len_b"),
        expr(clipExpr("bw", "aw")).as("m1"),
        expr(clipExpr("bg2", "ag2")).as("m2"))
      .withColumn("p1", round(col("m1").cast("double") / col("len_b"), 6))
      .withColumn("p2", when(col("len_b") < 2, 0.0)
        .otherwise(round(col("m2").cast("double") / (col("len_b") - 1), 6)))
      .withColumn("bleu2", when(col("m1") === 0 || col("m2") === 0, 0.0)
        .otherwise(round(
          when(col("len_b") >= col("len_a"), 1.0)
            .otherwise(expr("exp(1.0 - CAST(len_a AS DOUBLE) / len_b)")) *
          expr("exp(0.5 * (ln(CAST(m1 AS DOUBLE) / len_b) + ln(CAST(m2 AS DOUBLE) / (len_b - 1))))"),
          6)))
  }

  /** Exact EDIT-DISTANCE audit over the near-dup pairs — the
    * character-level complement to the token-level BLEU/Jaccard audits:
    * Levenshtein distance plus the normalized similarity
    * 1 − dist/max(len), per at-rest candidate pair. Candidates come from
    * the banded index (never all-pairs — all-pairs edit distance is the
    * textbook quadratic scale-killer), and the distance itself runs
    * Spark's THRESHOLD variant `levenshtein(a, b, k)`: a banded DP that
    * costs O(k·min(n,m)) instead of O(n·m) and returns −1 past k — at
    * 100 TB with document-sized strings the full DP matrix is the
    * difference between an audit and a cluster-week. The oracle computes
    * the unbounded distance and clamps to −1 past k, proving the banded
    * early-exit is exact within its band. */
  def qEditDistance(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val pairs = pairsAtRest(s, d).select("a_id", "b_id")
    val docs = corpus(s, d)
    pairs
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        length(col("ta")).cast("long").as("len_a"),
        length(col("tb")).cast("long").as("len_b"),
        levenshtein(col("ta"), col("tb"), k).cast("long").as("edit_k64"))
      .withColumn("similarity", when(col("edit_k64") === -1L, 0.0)
        .otherwise(round(lit(1.0) - col("edit_k64").cast("double") /
          greatest(col("len_a"), col("len_b")), 6)))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_edit_distance" -> (qEditDistance _),
    "q_bleu_pairs" -> (qBleuPairs _),
    "q_dedup_eval" -> (qDedupEval _),
    "q_dedup_canonical" -> (qDedupCanonical _),
    "q_graph_jaccard" -> (qGraphJaccard _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_graph_reach" -> (qGraphReach _),
    "q_graph_kcore" -> (qGraphKcore _),
    "q_graph_triangles" -> (qGraphTriangles _),
    "q_graph_pagerank" -> (qGraphPagerank _),
    "q_dedup_span" -> (qDedupSpan _),
    "q_dedup_substr" -> (qDedupSubstr _),
    "q_dedup_winnow" -> (qDedupWinnow _),
    "q_dedup_cdc_chunks" -> (qDedupCdcChunks _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash_sig" -> (qDedupMinhashSig _),
    "q_dedup_lsh_pairs" -> (qDedupLshPairs _),
    "q_dedup_pairs_at_rest" -> (qDedupPairsAtRest _),
    "q_dedup_pairs_incremental" -> (qDedupPairsIncremental _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_cross_source_dup" -> (qCrossSourceDup _),
    "q_lsh_band_sweep" -> (qLshBandSweep _),
    "q_takedown_closure" -> (qTakedownClosure _),
    "q_takedown_purge" -> (qTakedownPurge _),
    "q_dedup_explain" -> (qDedupExplain _),
    "q_dedup_normalized" -> (qDedupNormalized _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_minhash_estimate" -> (qMinhashEstimate _),
    "q_minhash_bbit" -> (qMinhashBbit _),
    "q_minhash_union" -> (qMinhashUnion _),
    "q_dedup_cluster_eval" -> (qDedupClusterEval _),
    "q_dedup_threshold_sweep" -> (qDedupThresholdSweep _),
    "q_dedup_cc_largestar" -> (qDedupCcLargestar _),
    "q_dedup_cc_incremental" -> (qDedupCcIncremental _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_simhash_pairs" -> (qDedupSimhashPairs _))

  private[operators] val shinglesSql =
    "list_transform(range(1, len(words) - 1), i -> list_extract(words, i) || ' ' || list_extract(words, i+1) || ' ' || list_extract(words, i+2))"
  private[operators] val hashesSql =
    "list_transform(shingles, sh -> list_sum(list_transform(range(1, 8), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(sh), 1, 7), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - hxi) AS BIGINT))))"
  private[operators] val sigSql =
    "list_transform(range(0, 16), k -> list_min(list_transform(hashes, h -> ((2654435761 + 40503 * k) * h + 2654435769 * k + 97) % 2147483647)))"

  // DuckDB replica of the Gear chunker: the ASCII gear slice is inlined
  // as HUGEINT literals and the per-char state machine ((h<<1)+gear,
  // mask cut with min/max bounds, h reset) runs as a RECURSIVE CTE —
  // one iteration per char position, all rows advancing in lockstep.
  // (A list_reduce formulation hits DuckDB lambda-vectorization bugs;
  // the recursive CTE uses only plain row expressions.)
  private val gearLit: String = graft.functions.CdcBoundaries.gearAsciiUnsigned
    .map(g => s"CAST('$g' AS HUGEINT)").mkString("[", ",", "]")
  private val cdcNewH =
    s"(h * 2 + $gearLit[ascii(substring(text, i + 1, 1)) + 1]) % CAST('18446744073709551616' AS HUGEINT)"
  private val cdcCut =
    s"((i + 1 - lastb >= ${graft.functions.CdcBoundaries.MinChunk} AND ($cdcNewH) % ${graft.functions.CdcBoundaries.Mask + 1} = 0) " +
      s"OR i + 1 - lastb >= ${graft.functions.CdcBoundaries.MaxChunk})"

  // Shared CTE chain: derived corpus -> shingles -> MinHash signatures
  // -> banded candidates -> exact-Jaccard-scored pairs (`j`). Used by
  // both the pair query and the clustering query.
  private[operators] val lshJChain: String =
    s"""$corpusSql,
       |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
       |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
       |hs AS (SELECT doc_id, shingles, $hashesSql AS hashes FROM sh),
       |sg AS (SELECT doc_id, $sigSql AS sig, list_distinct(shingles) AS sset FROM hs),
       |bands AS (
       |  SELECT doc_id, b AS band_idx,
       |    array_to_string(list_slice(sig, b*4+1, b*4+4), '-') AS band_hash
       |  FROM sg, LATERAL unnest(range(0, 4)) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT a_id, b_id,
       |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
       |    len(sa.sset) + len(sb.sset) - len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_union
       |  FROM cand JOIN sg sa ON cand.a_id = sa.doc_id JOIN sg sb ON cand.b_id = sb.doc_id)""".stripMargin

  /** Connected components over `edges(a_id, b_id)` → `labels(id,
    * cluster_id)` — the closure core of every cluster-label oracle
    * (clusters, canonical, both cc variants, cluster_eval, both
    * takedown variants, split_repair).
    *
    * Round 17: rewritten from the UNION-distinct recursive fixpoint
    * into the ANSI subset BOTH engines execute — Spark 4's recursive
    * CTE supports UNION ALL only ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]),
    * which on a cyclic graph never terminates without the distinct-
    * against-history check. This form is equivalent and terminating:
    *
    *   - `reach.r < e.a_id` propagates a label only into nodes it can
    *     still improve. The component minimum is smaller than EVERY
    *     other member, so its propagation is never blocked, and
    *     MIN(r) per node is extensionally identical to the fixpoint
    *     closure (non-minimal labels that get pruned can never win a
    *     MIN anyway). A/B-verified value-identical to the old fixpoint
    *     text in DuckDB at sf0.001 and sf0.01.
    *   - per-step DISTINCT caps an iteration at one row per (node,
    *     label) pair, so cycle walks can't multiply rows.
    *   - `d < 24` bounds the recursion depth outright (cycle bounce
    *     re-derives pairs forever otherwise). Correctness needs depth
    *     ≥ the distance from each component's minimum to its farthest
    *     member; the measured eccentricity on the corpora is 1 (near-
    *     dup clusters are near-cliques), so 24 is a wide margin while
    *     staying under Spark's default cteRecursionLevelLimit of 100.
    */
  private[operators] val ccLabelsSql: String =
    """reach(id, r, d) AS (
      |  SELECT DISTINCT a_id AS id, a_id AS r, 0 AS d FROM edges
      |  UNION ALL
      |  SELECT DISTINCT e.a_id, reach.r, reach.d + 1
      |  FROM edges e JOIN reach ON e.b_id = reach.id
      |  WHERE reach.r < e.a_id AND reach.d < 24),
      |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_edit_distance" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |t AS (SELECT p.a_id, p.b_id, da.text AS ta, db.text AS tb
         |  FROM pairs p JOIN corpus da ON da.doc_id = p.a_id
         |  JOIN corpus db ON db.doc_id = p.b_id),
         |e AS (SELECT a_id, b_id,
         |    CAST(len(ta) AS BIGINT) AS len_a, CAST(len(tb) AS BIGINT) AS len_b,
         |    CAST(levenshtein(ta, tb) AS BIGINT) AS ed FROM t)
         |SELECT a_id, b_id, len_a, len_b,
         |  CASE WHEN ed > 64 THEN CAST(-1 AS BIGINT) ELSE ed END AS edit_k64,
         |  CASE WHEN ed > 64 THEN 0.0
         |    ELSE round(1.0 - CAST(ed AS DOUBLE) / greatest(len_a, len_b), 6)
         |  END AS similarity
         |FROM e""".stripMargin,
    "q_bleu_pairs" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |pw AS (SELECT p.a_id, p.b_id, wa.w AS aw, wb.w AS bw
         |  FROM pairs p JOIN wd wa ON wa.doc_id = p.a_id JOIN wd wb ON wb.doc_id = p.b_id),
         |g AS (SELECT a_id, b_id, aw, bw,
         |    CASE WHEN len(aw) < 2 THEN list_value()
         |      ELSE list_transform(range(1, len(aw)), i -> list_extract(aw, i) || ' ' || list_extract(aw, i + 1)) END AS ag2,
         |    CASE WHEN len(bw) < 2 THEN list_value()
         |      ELSE list_transform(range(1, len(bw)), i -> list_extract(bw, i) || ' ' || list_extract(bw, i + 1)) END AS bg2
         |  FROM pw),
         |m AS (SELECT a_id, b_id,
         |    CAST(len(aw) AS BIGINT) AS len_a, CAST(len(bw) AS BIGINT) AS len_b,
         |    COALESCE(CAST(list_sum(list_transform(list_distinct(bw),
         |      t -> least(len(list_filter(bw, x -> x = t)), len(list_filter(aw, x -> x = t))))) AS BIGINT), 0) AS m1,
         |    COALESCE(CAST(list_sum(list_transform(list_distinct(bg2),
         |      t -> least(len(list_filter(bg2, x -> x = t)), len(list_filter(ag2, x -> x = t))))) AS BIGINT), 0) AS m2
         |  FROM g)
         |SELECT a_id, b_id, len_a, len_b, m1, m2,
         |  round(CAST(m1 AS DOUBLE) / len_b, 6) AS p1,
         |  CASE WHEN len_b < 2 THEN 0.0 ELSE round(CAST(m2 AS DOUBLE) / (len_b - 1), 6) END AS p2,
         |  CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0
         |    ELSE round((CASE WHEN len_b >= len_a THEN 1.0
         |        ELSE exp(1.0 - CAST(len_a AS DOUBLE) / len_b) END)
         |      * exp(0.5 * (ln(CAST(m1 AS DOUBLE) / len_b) + ln(CAST(m2 AS DOUBLE) / (len_b - 1)))), 6)
         |  END AS bleu2
         |FROM m""".stripMargin,
    "q_dedup_eval" -> {
      val sums = (1 to 64).map(j =>
        s"SUM(CASE WHEN ${simhashBit("h", j)} THEN 1 ELSE 0 END) AS c$j").mkString(",\n         |    ")
      val bits = (1 to 64).map(j => s"(CASE WHEN 2 * c$j > n THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH $corpusSql,
         |corpus2 AS (SELECT * FROM corpus WHERE doc_id % 2 = 0),
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus2),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |         WHERE len(shingles) > 0),
         |g AS (SELECT doc_id, unnest(sset) AS gram FROM sets),
         |candt AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id),
         |jt AS (
         |  SELECT a_id, b_id,
         |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
         |    len(sa.sset) + len(sb.sset) - len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_union
         |  FROM candt JOIN sets sa ON candt.a_id = sa.doc_id JOIN sets sb ON candt.b_id = sb.doc_id),
         |truth AS (SELECT a_id, b_id FROM jt WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |wu AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM corpus2),
         |hh AS (SELECT doc_id, md5(wd) AS h FROM wu),
         |cnt AS (SELECT doc_id, COUNT(*) AS n,
         |    $sums
         |  FROM hh GROUP BY 1),
         |sg2 AS (SELECT doc_id, $bits AS sig FROM cnt),
         |banded AS (
         |  SELECT doc_id, b AS band, substring(sig, b * 16 + 1, 16) AS bits
         |  FROM sg2, LATERAL unnest(list_value(0, 1, 2, 3)) AS t(b)),
         |candp AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT a_id, b_id,
         |    CAST(len(list_filter(range(1, 65),
         |      j -> substring(sa.sig, j, 1) <> substring(sb.sig, j, 1))) AS INTEGER) AS hamming
         |  FROM candp JOIN sg2 sa ON candp.a_id = sa.doc_id JOIN sg2 sb ON candp.b_id = sb.doc_id),
         |pred AS (SELECT a_id, b_id FROM v WHERE hamming <= 3),
         |m AS (SELECT
         |    (SELECT COUNT(*) FROM pred) AS n_pred,
         |    (SELECT COUNT(*) FROM truth) AS n_truth,
         |    (SELECT COUNT(*) FROM pred JOIN truth USING (a_id, b_id)) AS n_tp)
         |SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_tp AS BIGINT) AS n_tp,
         |  round(CAST(n_tp AS DOUBLE) / GREATEST(n_pred, 1), 6) AS prec,
         |  round(CAST(n_tp AS DOUBLE) / GREATEST(n_truth, 1), 6) AS rec,
         |  round(CAST(2 * n_tp AS DOUBLE) / GREATEST(n_pred + n_truth, 1), 6) AS f1
         |FROM m""".stripMargin
    },
    "q_fuzzy_match" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |t AS (SELECT doc_id, substring(text, 1, 80) AS prefix FROM corpus)
         |SELECT p.a_id, p.b_id,
         |  CAST(levenshtein(ta.prefix, tb.prefix) AS INTEGER) AS lev_dist,
         |  round(1 - CAST(levenshtein(ta.prefix, tb.prefix) AS DOUBLE) / greatest(length(ta.prefix), length(tb.prefix)), 6) AS sim_ratio,
         |  (round(1 - CAST(levenshtein(ta.prefix, tb.prefix) AS DOUBLE) / greatest(length(ta.prefix), length(tb.prefix)), 6) >= 0.4) AS confirmed
         |FROM pairs p JOIN t ta ON ta.doc_id = p.a_id JOIN t tb ON tb.doc_id = p.b_id""".stripMargin,
    "q_graph_reach" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |reach(doc_id, depth) AS (
         |  SELECT DISTINCT src, 0 FROM edges WHERE src % 20 = 0
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1
         |  FROM reach r JOIN edges e ON e.src = r.doc_id
         |  WHERE r.depth < 3)
         |SELECT doc_id, MIN(depth) AS depth, COUNT(*) AS n_paths
         |FROM reach GROUP BY doc_id""".stripMargin,
    "q_graph_kcore" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |deg0 AS (SELECT src AS id, COUNT(*) AS deg0 FROM edges GROUP BY 1),
         |a1 AS (SELECT id FROM deg0 WHERE deg0 >= 2),
         |d1 AS (SELECT src AS id, COUNT(*) AS deg FROM edges
         |  JOIN a1 x1 ON x1.id = edges.src JOIN a1 y1 ON y1.id = edges.dst GROUP BY 1),
         |a2 AS (SELECT id FROM d1 WHERE deg >= 2),
         |d2 AS (SELECT src AS id, COUNT(*) AS deg FROM edges
         |  JOIN a2 x2 ON x2.id = edges.src JOIN a2 y2 ON y2.id = edges.dst GROUP BY 1),
         |a3 AS (SELECT id FROM d2 WHERE deg >= 2),
         |d3 AS (SELECT src AS id, COUNT(*) AS deg FROM edges
         |  JOIN a3 x3 ON x3.id = edges.src JOIN a3 y3 ON y3.id = edges.dst GROUP BY 1)
         |SELECT deg0.id AS doc_id, CAST(deg0.deg0 AS BIGINT) AS deg0,
         |  CAST(CASE WHEN a1.id IS NULL THEN 1 WHEN a2.id IS NULL THEN 2
         |            WHEN a3.id IS NULL THEN 3 ELSE 0 END AS INTEGER) AS peeled_round,
         |  CAST(CASE WHEN a3.id IS NULL THEN 0 ELSE COALESCE(d3.deg, 0) END AS BIGINT) AS core_deg
         |FROM deg0
         |LEFT JOIN a1 ON a1.id = deg0.id
         |LEFT JOIN a2 ON a2.id = deg0.id
         |LEFT JOIN a3 ON a3.id = deg0.id
         |LEFT JOIN d3 ON d3.id = deg0.id""".stripMargin,
    "q_graph_jaccard" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |we AS (SELECT e.src, e.dst FROM edges e
         |  JOIN deg dc ON dc.src = e.dst AND dc.deg <= ${JaccardHubCap}),
         |wedges AS (
         |  SELECT e1.src AS a, e2.src AS b, COUNT(*) AS n_shared
         |  FROM we e1 JOIN we e2 ON e1.dst = e2.dst AND e1.src < e2.src
         |  GROUP BY 1, 2)
         |SELECT a AS a_id, b AS b_id, n_shared, da.deg AS deg_a, db.deg AS deg_b,
         |  round(CAST(n_shared AS DOUBLE) / (da.deg + db.deg - n_shared), 6) AS nbr_jaccard
         |FROM wedges JOIN deg da ON da.src = a JOIN deg db ON db.src = b
         |ORDER BY nbr_jaccard DESC, a_id, b_id LIMIT 50""".stripMargin,
    "q_graph_triangles" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
         |o AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a_id < p.b_id)
         |              THEN p.a_id ELSE p.b_id END AS u,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.a_id < p.b_id)
         |              THEN p.b_id ELSE p.a_id END AS v
         |  FROM pairs p JOIN deg da ON da.id = p.a_id JOIN deg db ON db.id = p.b_id),
         |tri AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v <> e2.v
         |  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
         |tv AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
         |       UNION ALL SELECT z FROM tri),
         |tc AS (SELECT id, COUNT(*) AS n_tri FROM tv GROUP BY 1)
         |SELECT deg.id AS doc_id, deg.deg, COALESCE(tc.n_tri, 0) AS n_tri,
         |  CASE WHEN deg.deg < 2 THEN CAST(0 AS DOUBLE)
         |       ELSE round(CAST(2 * COALESCE(tc.n_tri, 0) AS DOUBLE) / (deg.deg * (deg.deg - 1)), 6)
         |  END AS clustering
         |FROM deg LEFT JOIN tc ON tc.id = deg.id""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
         |p0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
         |p1 AS (
         |  SELECT x.id, CAST(150000000000 + divide((SUM(x.c) * 85), 100) AS BIGINT) AS pr
         |  FROM (SELECT e.dst AS id, divide(p.pr, g.deg) AS c
         |        FROM edges e JOIN p0 p ON e.src = p.id JOIN deg g ON e.src = g.id) x
         |  GROUP BY 1),
         |p2 AS (
         |  SELECT x.id, CAST(150000000000 + divide((SUM(x.c) * 85), 100) AS BIGINT) AS pr
         |  FROM (SELECT e.dst AS id, divide(p.pr, g.deg) AS c
         |        FROM edges e JOIN p1 p ON e.src = p.id JOIN deg g ON e.src = g.id) x
         |  GROUP BY 1),
         |p3 AS (
         |  SELECT x.id, CAST(150000000000 + divide((SUM(x.c) * 85), 100) AS BIGINT) AS pr
         |  FROM (SELECT e.dst AS id, divide(p.pr, g.deg) AS c
         |        FROM edges e JOIN p2 p ON e.src = p.id JOIN deg g ON e.src = g.id) x
         |  GROUP BY 1)
         |SELECT p3.id AS doc_id, deg.deg, p3.pr AS pr3_scaled
         |FROM p3 JOIN deg USING (id)""".stripMargin,
    "q_dedup_span" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sp AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS span_idx,
         |    array_to_string(list_slice(words, i*10+1, i*10+10), ' ') AS span
         |  FROM w, LATERAL unnest(range(0, divide((len(words) + 9), 10))) AS t(i)),
         |occ AS (SELECT md5(span) AS h, COUNT(*) AS n_occ FROM sp GROUP BY 1),
         |j AS (SELECT doc_id, span_idx, span, n_occ
         |  FROM sp JOIN occ ON md5(sp.span) = occ.h)
         |SELECT doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction,
         |  coalesce(array_to_string(list_transform(list_sort(list(list_value(lpad(CAST(span_idx AS STRING), 10, '0'), span)) FILTER (WHERE n_occ <= 1)), pr -> list_extract(pr, 2)), ' '), '') AS clean_text
         |FROM j GROUP BY doc_id""".stripMargin,
    "q_dedup_substr" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |d AS (SELECT doc_id, len(words) AS n_words, words FROM w
         |  WHERE len(words) >= 10),
         |win AS (
         |  SELECT doc_id, n_words, CAST(i AS INTEGER) AS w_start,
         |    md5(array_to_string(list_slice(words, i+1, i+10), ' ')) AS h
         |  FROM d, LATERAL unnest(range(0, len(words) - 9)) AS t(i)),
         |occ AS (SELECT h, COUNT(*) AS n_occ FROM win GROUP BY 1),
         |dup AS (SELECT doc_id, n_words, w_start
         |  FROM win JOIN occ USING (h) WHERE n_occ > 1),
         |r AS (SELECT doc_id, n_words, w_start,
         |    CASE WHEN LAG(w_start) OVER (PARTITION BY doc_id ORDER BY w_start) IS NULL
         |      OR w_start - LAG(w_start) OVER (PARTITION BY doc_id ORDER BY w_start) > 10
         |      THEN 1 ELSE 0 END AS new_run FROM dup),
         |rr AS (SELECT doc_id, n_words, w_start,
         |    SUM(new_run) OVER (PARTITION BY doc_id ORDER BY w_start) AS run_id FROM r),
         |pr AS (SELECT doc_id, n_words, run_id,
         |    MAX(w_start) - MIN(w_start) + 10 AS run_tokens FROM rr GROUP BY 1, 2, 3)
         |SELECT doc_id, n_words, COUNT(*) AS n_runs,
         |  CAST(SUM(run_tokens) AS BIGINT) AS dup_tokens,
         |  CAST(MAX(run_tokens) AS BIGINT) AS longest_run,
         |  CAST(SUM(run_tokens) AS DOUBLE) / n_words AS dup_fraction
         |FROM pr GROUP BY doc_id, n_words""".stripMargin,
    "q_dedup_winnow" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |hs AS (SELECT doc_id, $hashesSql AS hashes FROM sh),
         |fpl AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(hashes) >= 4
         |      THEN list_transform(range(0, len(hashes) - 3), i -> list_min(list_slice(hashes, i+1, i+4)))
         |      ELSE list_value(list_min(hashes)) END) AS fps
         |  FROM hs WHERE len(hashes) >= 1),
         |posts AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM fpl),
         |rare AS (SELECT fp FROM posts GROUP BY fp HAVING COUNT(*) <= 50),
         |p AS (SELECT doc_id, n_fps, fp FROM posts JOIN rare USING (fp)),
         |pairs AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
         |    x.n_fps AS a_fps, y.n_fps AS b_fps, COUNT(*) AS shared_fps
         |  FROM p x JOIN p y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id, shared_fps, CAST(a_fps AS INTEGER) AS a_fps,
         |  CAST(b_fps AS INTEGER) AS b_fps,
         |  round(CAST(shared_fps AS DOUBLE) / least(a_fps, b_fps), 6) AS overlap
         |FROM pairs WHERE shared_fps >= 2""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM corpus),
         |shx AS (SELECT doc_id, text, $shinglesSql AS shingles FROM w),
         |hsx AS (SELECT doc_id, text, shingles, $hashesSql AS hashes FROM shx),
         |sg AS (SELECT doc_id, md5(text) AS h, $sigSql AS sig,
         |  list_distinct(shingles) AS sset FROM hsx),
         |inc AS (SELECT * FROM sg WHERE doc_id % 3 = 0),
         |hist AS (SELECT * FROM sg WHERE doc_id % 3 <> 0),
         |ed AS (SELECT DISTINCT i.doc_id FROM inc i JOIN hist t ON i.h = t.h),
         |surv AS (SELECT * FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
         |bi AS (SELECT doc_id AS i_id, b AS band_idx,
         |  array_to_string(list_slice(sig, b*4+1, b*4+4), '-') AS band_hash
         |  FROM surv, LATERAL unnest(range(0, 4)) AS t(b)),
         |bh AS (SELECT doc_id AS h_id, b AS band_idx,
         |  array_to_string(list_slice(sig, b*4+1, b*4+4), '-') AS band_hash
         |  FROM hist, LATERAL unnest(range(0, 4)) AS t(b)),
         |cand AS (SELECT DISTINCT i_id, h_id FROM bi JOIN bh USING (band_idx, band_hash)),
         |nd AS (
         |  SELECT DISTINCT i_id AS doc_id FROM (
         |    SELECT c.i_id,
         |      CAST(len(list_distinct(list_intersect(a.sset, b.sset))) AS DOUBLE) /
         |        (len(a.sset) + len(b.sset)
         |         - len(list_distinct(list_intersect(a.sset, b.sset)))) AS jaccard
         |    FROM cand c JOIN surv a ON c.i_id = a.doc_id JOIN hist b ON c.h_id = b.doc_id)
         |  WHERE jaccard >= 0.5)
         |SELECT i.doc_id,
         |  CASE WHEN ed.doc_id IS NOT NULL THEN 'dropped_exact'
         |       WHEN nd.doc_id IS NOT NULL THEN 'dropped_near'
         |       ELSE 'kept' END AS status
         |FROM inc i LEFT JOIN ed ON i.doc_id = ed.doc_id
         |  LEFT JOIN nd ON i.doc_id = nd.doc_id""".stripMargin,
    "q_dedup_cdc_chunks" ->
      s"""WITH RECURSIVE $corpusSql,
         |fold AS (
         |  SELECT doc_id, text, length(text) AS n, 0 AS i,
         |    CAST(0 AS HUGEINT) AS h, 0 AS lastb, '' AS b
         |  FROM corpus
         |  UNION ALL
         |  SELECT doc_id, text, n, i + 1,
         |    CASE WHEN $cdcCut THEN CAST(0 AS HUGEINT) ELSE $cdcNewH END,
         |    CASE WHEN $cdcCut THEN i + 1 ELSE lastb END,
         |    CASE WHEN $cdcCut THEN b || ',' || CAST(i + 1 AS STRING) ELSE b END
         |  FROM fold WHERE i < n),
         |final AS (SELECT doc_id, text, n, b FROM fold WHERE i = n),
         |blist AS (
         |  SELECT doc_id, text, n,
         |    CASE WHEN b = '' THEN list_transform(list_value(), tav -> CAST(tav AS INTEGER))
         |         ELSE list_transform(string_split(substring(b, 2), ','), s -> CAST(s AS INTEGER))
         |    END AS bounds0
         |  FROM final),
         |withb AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(bounds0) = 0 OR list_extract(bounds0, len(bounds0)) <> n
         |         THEN list_append(bounds0, n) ELSE bounds0 END AS fb
         |  FROM blist),
         |chunks AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(fb) + 1),
         |    i -> substring(text,
         |           CASE WHEN i = 1 THEN 1 ELSE list_extract(fb, i - 1) + 1 END,
         |           list_extract(fb, i) - CASE WHEN i = 1 THEN 0 ELSE list_extract(fb, i - 1) END))) AS chunk
         |  FROM withb)
         |SELECT md5(chunk) AS chunk_hash, COUNT(*) AS n_refs,
         |  COUNT(DISTINCT doc_id) AS n_docs, CAST(MIN(length(chunk)) AS INTEGER) AS chunk_len
         |FROM chunks GROUP BY 1""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH $corpusSql
         |SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
         |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "q_dedup_normalized" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 3000000, upper(text) || '  '
        |    FROM documents WHERE doc_id % 11 = 0),
        |n AS (
        |  SELECT doc_id, text,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                            ' +', ' ', 'g'))) AS norm_hash
        |  FROM c)
        |SELECT norm_hash, COUNT(*) AS n_copies, COUNT(DISTINCT text) AS n_variants,
        |  MIN(doc_id) AS keep_id
        |FROM n GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH $lshJChain,
         |jc AS (
         |  SELECT a_id, b_id,
         |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
         |    len(sa.sset) AS n_a, len(sb.sset) AS n_b
         |  FROM cand JOIN sg sa ON cand.a_id = sa.doc_id JOIN sg sb ON cand.b_id = sb.doc_id)
         |SELECT a_id, b_id, CAST(n_a AS INTEGER) AS n_a, CAST(n_b AS INTEGER) AS n_b,
         |  CAST(n_inter AS INTEGER) AS n_inter,
         |  CAST(n_inter AS DOUBLE) / n_a AS cont_a_in_b,
         |  CAST(n_inter AS DOUBLE) / n_b AS cont_b_in_a,
         |  CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
         |FROM jc
         |WHERE CAST(n_inter AS DOUBLE) / n_a >= 0.9
         |   OR CAST(n_inter AS DOUBLE) / n_b >= 0.9""".stripMargin,
    "q_dedup_minhash_sig" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |hs AS (SELECT doc_id, $hashesSql AS hashes FROM sh)
         |SELECT doc_id, array_to_string($sigSql, ',') AS signature FROM hs""".stripMargin,
    "q_dedup_lsh_pairs" ->
      s"""WITH $lshJChain
         |SELECT a_id, b_id, CAST(n_inter AS INTEGER) AS n_inter, CAST(n_union AS INTEGER) AS n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5""".stripMargin,
    // the at-rest build must round-trip byte-identically to computing
    // fresh: same from-scratch oracle as q_dedup_lsh_pairs
    "q_dedup_pairs_at_rest" ->
      s"""WITH $lshJChain
         |SELECT a_id, b_id, CAST(n_inter AS INTEGER) AS n_inter, CAST(n_union AS INTEGER) AS n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5""".stripMargin,
    "q_takedown_closure" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |seeds AS (SELECT doc_id FROM corpus WHERE doc_id % 97 = 0),
         |sc AS (SELECT DISTINCT cluster_id FROM labels l JOIN seeds s ON l.id = s.doc_id),
         |members AS (SELECT l.id AS doc_id, l.cluster_id
         |  FROM labels l JOIN sc USING (cluster_id)),
         |aff AS (SELECT doc_id, cluster_id FROM members
         |  UNION ALL
         |  SELECT s.doc_id, CAST(NULL AS BIGINT) FROM seeds s
         |  LEFT JOIN labels l ON l.id = s.doc_id WHERE l.id IS NULL),
         |deg AS (SELECT x.id, COUNT(*) AS n FROM (
         |  SELECT a_id AS id FROM pairs UNION ALL SELECT b_id FROM pairs) x GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id,
         |  CASE WHEN a.doc_id % 97 = 0 THEN 'seed' ELSE 'cluster_member' END AS reason,
         |  COALESCE(n, 0) AS n_pair_rows
         |FROM aff a LEFT JOIN deg ON deg.id = a.doc_id""".stripMargin,
    "q_dedup_explain" ->
      s"""WITH $lshJChain,
         |pairs AS (SELECT a_id, b_id, n_inter, n_union FROM j
         |  WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |x AS (SELECT p.a_id, p.b_id, p.n_inter, p.n_union,
         |    sa.sig AS siga, sb.sig AS sigb
         |  FROM pairs p JOIN sg sa ON sa.doc_id = p.a_id
         |  JOIN sg sb ON sb.doc_id = p.b_id)
         |SELECT a_id, b_id,
         |  CAST(len(list_filter(range(0, 4),
         |    b -> list_slice(siga, b*4+1, b*4+4) = list_slice(sigb, b*4+1, b*4+4))) AS INTEGER) AS n_band_hits,
         |  CAST(len(list_filter(range(1, 17), k -> list_extract(siga, k) = list_extract(sigb, k))) AS INTEGER) AS n_sig_agree,
         |  round(CAST(len(list_filter(range(1, 17), k -> list_extract(siga, k) = list_extract(sigb, k))) AS DOUBLE) / 16.0, 6) AS est_jaccard,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  round(CAST(len(list_filter(range(1, 17), k -> list_extract(siga, k) = list_extract(sigb, k))) AS DOUBLE) / 16.0
         |    - CAST(n_inter AS DOUBLE) / n_union, 6) + 0.0 AS est_error
         |FROM x""".stripMargin,
    // the oracle asserts the locality IDENTITY (pairs of the redacted
    // corpus = restriction of the full pair set to surviving endpoints);
    // Spark performs the REAL from-scratch rebuild on the redacted
    // corpus, so hash equality proves the purge is a complete erasure
    "q_takedown_purge" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |seeds AS (SELECT doc_id FROM corpus WHERE doc_id % 97 = 0),
         |sc AS (SELECT DISTINCT cluster_id FROM labels l JOIN seeds s ON l.id = s.doc_id),
         |tset AS (SELECT DISTINCT doc_id FROM (
         |  SELECT id AS doc_id FROM labels JOIN sc USING (cluster_id)
         |  UNION ALL SELECT doc_id FROM seeds) u),
         |purged AS (SELECT a_id, b_id FROM pairs
         |  WHERE a_id NOT IN (SELECT doc_id FROM tset)
         |    AND b_id NOT IN (SELECT doc_id FROM tset)),
         |m AS (SELECT
         |    (SELECT COUNT(*) FROM tset) AS n_docs_purged,
         |    (SELECT COUNT(*) FROM pairs) AS n_pairs_before,
         |    (SELECT COUNT(*) FROM purged) AS n_pairs_after)
         |SELECT CAST(n_docs_purged AS BIGINT) AS n_docs_purged,
         |  CAST(n_pairs_before AS BIGINT) AS n_pairs_before,
         |  CAST(n_pairs_before - n_pairs_after AS BIGINT) AS n_pairs_purged,
         |  CAST(n_pairs_after AS BIGINT) AS n_pairs_after,
         |  CAST(n_pairs_after AS BIGINT) AS n_rebuilt,
         |  CAST(0 AS BIGINT) AS n_only_purged,
         |  CAST(0 AS BIGINT) AS n_only_rebuilt,
         |  TRUE AS purge_exact
         |FROM m""".stripMargin,
    "q_lsh_band_sweep" -> {
      def cfg(bn: Int, r: Int, tag: String): String =
        s"""b_$tag AS (
           |  SELECT doc_id, b AS band_idx,
           |    array_to_string(list_slice(sig, b*$r+1, b*$r+$r), '-') AS band_hash
           |  FROM sg, LATERAL unnest(range(0, $bn)) AS t(b)),
           |c_$tag AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM b_$tag x JOIN b_$tag y
           |    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
           |    AND x.doc_id < y.doc_id),
           |a_$tag AS (
           |  SELECT '${bn}x$r' AS bands_rows, COUNT(*) AS n_candidates,
           |    CAST(SUM(CASE WHEN a_id < 1000000 AND b_id = a_id + 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_found,
           |    CAST(SUM(CASE WHEN a_id < 1000000 AND b_id = a_id + 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_found
           |  FROM c_$tag)""".stripMargin
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |hs AS (SELECT doc_id, shingles, $hashesSql AS hashes FROM sh),
         |sg AS (SELECT doc_id, $sigSql AS sig FROM hs),
         |nd AS (SELECT COUNT(*) AS n FROM documents),
         |${cfg(2, 8, "a")},
         |${cfg(4, 4, "b")},
         |${cfg(8, 2, "c")},
         |u AS (SELECT * FROM a_a UNION ALL SELECT * FROM a_b UNION ALL SELECT * FROM a_c)
         |SELECT bands_rows, n_candidates, n_exact_found, n_near_found,
         |  round(CAST(n_exact_found AS DOUBLE) / CAST(divide((n + 4), 5) AS DOUBLE), 6) AS exact_recall,
         |  round(CAST(n_near_found AS DOUBLE) / CAST(divide((n + 6), 7) AS DOUBLE), 6) AS near_recall
         |FROM u CROSS JOIN nd""".stripMargin
    },
    "q_ngram_novelty" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |g AS (SELECT DISTINCT doc_id, u.g FROM sh, LATERAL unnest(shingles) AS u(g)),
         |hist AS (SELECT DISTINCT g FROM g WHERE doc_id < 2000000),
         |arr AS (SELECT doc_id, g FROM g WHERE doc_id >= 2000000),
         |nov AS (SELECT a.doc_id, COUNT(*) AS nn
         |  FROM arr a LEFT JOIN hist h ON a.g = h.g
         |  WHERE h.g IS NULL GROUP BY 1),
         |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM arr GROUP BY 1)
         |SELECT t.doc_id, t.n_grams, COALESCE(nn, 0) AS n_novel,
         |  round(CAST(COALESCE(nn, 0) AS DOUBLE) / t.n_grams, 6) AS novelty
         |FROM tot t LEFT JOIN nov USING (doc_id)""".stripMargin,
    "q_cross_source_dup" ->
      s"""WITH $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |m AS (SELECT da.source AS sa, db.source AS sb FROM pairs
         |  JOIN documents da ON da.doc_id = pairs.a_id % 1000000
         |  JOIN documents db ON db.doc_id = pairs.b_id % 1000000)
         |SELECT source_a, source_b, n_pairs, source_a = source_b AS intra
         |FROM (SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
         |    COUNT(*) AS n_pairs FROM m GROUP BY 1, 2)""".stripMargin,
    // history-index ∪ delta refresh must equal the from-scratch pipeline
    // (the incremental contract — same oracle as q_dedup_lsh_pairs)
    "q_dedup_pairs_incremental" ->
      s"""WITH $lshJChain
         |SELECT a_id, b_id, CAST(n_inter AS INTEGER) AS n_inter, CAST(n_union AS INTEGER) AS n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5""".stripMargin,
    "q_minhash_estimate" ->
      s"""WITH $lshJChain,
         |est AS (
         |  SELECT a_id, b_id,
         |    len(list_filter(range(1, 17), i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) AS n_match,
         |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
         |    len(sa.sset) + len(sb.sset) - len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_union
         |  FROM cand JOIN sg sa ON cand.a_id = sa.doc_id JOIN sg sb ON cand.b_id = sb.doc_id)
         |SELECT a_id, b_id, CAST(n_match AS INTEGER) AS n_match,
         |  CAST(n_match AS DOUBLE) / 16.0 AS est_jaccard,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  (abs(CAST(n_match AS DOUBLE) / 16.0 - CAST(n_inter AS DOUBLE) / n_union) <= 0.45) AS within_bound
         |FROM est""".stripMargin,
    // same closure oracle as q_dedup_clusters: the star-edge + delta
    // merge must land on the identical full-graph clustering
    "q_dedup_cc_incremental" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
         |SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
         |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin,
    // same closure oracle as q_dedup_clusters: the star algorithm must
    // land on the identical (doc, component-min, size) relation
    "q_dedup_cc_largestar" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
         |SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
         |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin,
    "q_dedup_threshold_sweep" ->
      s"""WITH $lshJChain,
         |k AS (SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |    CASE WHEN a_id < 1000000 AND b_id = a_id + 1000000 THEN 'exact'
         |         WHEN a_id < 1000000 AND b_id = a_id + 2000000 THEN 'near'
         |         ELSE 'natural' END AS kind
         |  FROM j),
         |nd AS (SELECT COUNT(*) AS n FROM documents),
         |th AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
         |  FROM unnest(list_value(0.3, 0.5, 0.7, 0.9)) AS t(threshold)),
         |x AS (SELECT th2.threshold, jaccard, kind
         |  FROM k, th AS th2 WHERE jaccard >= th2.threshold),
         |agg AS (SELECT threshold, COUNT(*) AS p,
         |  CAST(SUM(CASE WHEN kind = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS e,
         |  CAST(SUM(CASE WHEN kind = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
         |  CAST(SUM(CASE WHEN kind = 'natural' THEN 1 ELSE 0 END) AS BIGINT) AS nat
         |  FROM x GROUP BY threshold)
         |SELECT th.threshold, COALESCE(p, 0) AS n_pairs,
         |  COALESCE(e, 0) AS n_exact, COALESCE(nr, 0) AS n_near,
         |  COALESCE(nat, 0) AS n_natural,
         |  round(CAST(COALESCE(e, 0) AS DOUBLE) / CAST(divide((n + 4), 5) AS DOUBLE), 6) AS exact_recall,
         |  round(CAST(COALESCE(nr, 0) AS DOUBLE) / CAST(divide((n + 6), 7) AS DOUBLE), 6) AS near_recall
         |FROM th LEFT JOIN agg USING (threshold) CROSS JOIN nd""".stripMargin,
    "q_dedup_cluster_eval" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |tp AS (SELECT CAST(SUM(divide(n * (n - 1), 2)) AS BIGINT) AS tp FROM (
         |  SELECT COUNT(*) AS n FROM (SELECT id, cluster_id, id % 1000000 AS fam FROM labels)
         |  GROUP BY cluster_id, fam)),
         |pr AS (SELECT CAST(SUM(divide(n * (n - 1), 2)) AS BIGINT) AS pred_pairs,
         |    COUNT(*) AS n_clusters
         |  FROM (SELECT COUNT(*) AS n FROM labels GROUP BY cluster_id)),
         |tr AS (SELECT CAST(SUM(divide(n * (n - 1), 2)) AS BIGINT) AS true_pairs FROM (
         |  SELECT COUNT(*) AS n FROM corpus GROUP BY doc_id % 1000000))
         |SELECT n_clusters, pred_pairs, true_pairs, tp,
         |  round(CAST(tp AS DOUBLE) / pred_pairs, 6) AS pair_precision,
         |  round(CAST(tp AS DOUBLE) / true_pairs, 6) AS pair_recall,
         |  round(CAST(2 * tp AS DOUBLE) / (pred_pairs + true_pairs), 6) AS pair_f1
         |FROM pr CROSS JOIN tp CROSS JOIN tr""".stripMargin,
    "q_minhash_union" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, source, $shinglesSql AS shingles FROM w),
         |hs AS (SELECT doc_id, source, shingles, $hashesSql AS hashes FROM sh),
         |sg AS (SELECT doc_id, source, $sigSql AS sig, list_distinct(shingles) AS sset
         |  FROM hs WHERE len(hashes) >= 1),
         |uz AS (SELECT source, u.k AS k, MIN(list_extract(sig, u.k + 1)) AS v
         |  FROM sg, LATERAL unnest(range(0, 16)) AS u(k) GROUP BY 1, 2),
         |us AS (SELECT source, list_transform(list_sort(list(list_value(CAST(k AS BIGINT), v))), pr -> list_extract(pr, 2)) AS usig FROM uz GROUP BY 1),
         |uni AS (SELECT DISTINCT source, unnest(sset) AS sh2 FROM sg),
         |sizes AS (SELECT source, COUNT(*) AS nsh FROM uni GROUP BY 1),
         |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
         |  FROM uni a JOIN uni b ON a.sh2 = b.sh2 AND a.source < b.source GROUP BY 1, 2),
         |p AS (SELECT a.source AS sa, b.source AS sb,
         |    CAST(len(list_filter(range(1, 17), i -> list_extract(a.usig, i) = list_extract(b.usig, i))) AS INTEGER) AS n_match
         |  FROM us a JOIN us b ON a.source < b.source),
         |e AS (SELECT p.sa, p.sb, p.n_match,
         |    CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
         |    CAST(za.nsh + zb.nsh - CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS BIGINT) AS n_union
         |  FROM p JOIN sizes za ON za.source = p.sa JOIN sizes zb ON zb.source = p.sb
         |  LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb)
         |SELECT sa, sb, n_match, CAST(n_match AS DOUBLE) / 16.0 AS est_jaccard, n_inter, n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard,
         |  (abs(CAST(n_match AS DOUBLE) / 16.0 - CAST(n_inter AS DOUBLE) / n_union) <= 0.45) AS within_bound
         |FROM e""".stripMargin,
    "q_minhash_bbit" ->
      s"""WITH $lshJChain,
         |est AS (
         |  SELECT a_id, b_id,
         |    len(list_filter(range(1, 17), i -> list_extract(sa.sig, i) = list_extract(sb.sig, i))) AS n_match,
         |    len(list_filter(range(1, 17), i -> list_extract(sa.sig, i) % 4 = list_extract(sb.sig, i) % 4)) AS n_match_2bit,
         |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
         |    len(sa.sset) + len(sb.sset) - len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_union
         |  FROM cand JOIN sg sa ON cand.a_id = sa.doc_id JOIN sg sb ON cand.b_id = sb.doc_id),
         |e2 AS (
         |  SELECT a_id, b_id, CAST(n_match AS INTEGER) AS n_match,
         |    CAST(n_match_2bit AS INTEGER) AS n_match_2bit,
         |    CAST(n_match AS DOUBLE) / 16.0 AS est_full,
         |    round((CAST(n_match_2bit AS DOUBLE) / 16.0 - 0.25) / 0.75, 6) AS est_bbit,
         |    CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |  FROM est)
         |SELECT a_id, b_id, n_match, n_match_2bit, est_full, est_bbit, jaccard,
         |  round(abs(est_full - jaccard), 6) AS err_full,
         |  round(abs(est_bbit - jaccard), 6) AS err_bbit
         |FROM e2""".stripMargin,
    // same pair pipeline, then connected components: the oracle takes
    // the closure fixpoint (recursive reach + MIN) that matches the
    // engine's label-propagation fixpoint extensionally
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM corpus),
         |ranked AS (
         |  SELECT l.id AS doc_id, l.cluster_id, s.cluster_size, n.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |      ORDER BY n.n_chars DESC, l.id) AS rk
         |  FROM labels l JOIN sizes s USING (cluster_id)
         |  JOIN lens n ON n.doc_id = l.id)
         |SELECT doc_id, cluster_id, cluster_size, n_chars, rk = 1 AS keep
         |FROM ranked""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $lshJChain,
         |pairs AS (
         |  SELECT a_id, b_id FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
         |edges AS (
         |  SELECT a_id, b_id FROM pairs UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         |$ccLabelsSql,
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
         |SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
         |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin,
    // candidates come from the FULL inverted index (no prefix filter) —
    // equality with the engine's prefix-filtered result proves the
    // filter lossless at the 0.5 threshold
    "q_dedup_ngram_jaccard" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM w),
         |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh
         |         WHERE len(shingles) > 0),
         |g AS (SELECT doc_id, unnest(sset) AS gram FROM sets),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id),
         |j AS (
         |  SELECT a_id, b_id,
         |    len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_inter,
         |    len(sa.sset) + len(sb.sset) - len(list_distinct(list_intersect(sa.sset, sb.sset))) AS n_union
         |  FROM cand JOIN sets sa ON cand.a_id = sa.doc_id JOIN sets sb ON cand.b_id = sb.doc_id)
         |SELECT a_id, b_id, CAST(n_inter AS INTEGER) AS n_inter, CAST(n_union AS INTEGER) AS n_union,
         |  CAST(n_inter AS DOUBLE) / n_union AS jaccard
         |FROM j WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
         |f AS (SELECT doc_id,
         |    array_to_string(list_transform(range(1, 17),
         |      j -> CASE WHEN 2 * len(list_filter(words, x -> substring(md5(x), j, 1)
         |                     IN ('8','9','a','b','c','d','e','f'))) > len(words)
         |           THEN '1' ELSE '0' END), '') AS simhash16
         |  FROM w)
         |SELECT doc_id, simhash16, COUNT(*) OVER (PARTITION BY simhash16) AS n_bucket FROM f""".stripMargin,
    "q_dedup_simhash_pairs" -> {
      val sums = (1 to 64).map(j =>
        s"SUM(CASE WHEN ${simhashBit("h", j)} THEN 1 ELSE 0 END) AS c$j").mkString(",\n         |    ")
      val bits = (1 to 64).map(j => s"(CASE WHEN 2 * c$j > n THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH $corpusSql,
         |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM corpus),
         |hh AS (SELECT doc_id, md5(wd) AS h FROM w),
         |cnt AS (SELECT doc_id, COUNT(*) AS n,
         |    $sums
         |  FROM hh GROUP BY 1),
         |sg AS (SELECT doc_id, $bits AS sig FROM cnt),
         |banded AS (
         |  SELECT doc_id, b AS band, substring(sig, b * 16 + 1, 16) AS bits
         |  FROM sg, LATERAL unnest(list_value(0, 1, 2, 3)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT a_id, b_id,
         |    CAST(len(list_filter(range(1, 65),
         |      j -> substring(sa.sig, j, 1) <> substring(sb.sig, j, 1))) AS INTEGER) AS hamming
         |  FROM cand JOIN sg sa ON cand.a_id = sa.doc_id JOIN sg sb ON cand.b_id = sb.doc_id)
         |SELECT a_id, b_id, hamming FROM v WHERE hamming <= 3""".stripMargin
    })
}
