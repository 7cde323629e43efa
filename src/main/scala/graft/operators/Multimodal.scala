package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media treated as opaque `binary` payloads
  * with typed metadata, decoded per-partition in batches.
  *
  * The decode path is REAL for the formats the JDK ships a codec for:
  * `javax.imageio` (PNG + BMP here) parses actual image bytes inside a
  * typed `Dataset.mapPartitions` batch loop (the Scala analogue of a
  * Pandas-UDF batch — one decoder configuration per partition, streaming
  * iterator, no per-row setup), with format sniffed from magic bytes,
  * not trusted metadata. Formats the JDK lacks (webp) fall back to the
  * clearly-marked deterministic [[FakeDecoder]] stub; swapping it for a
  * real libwebp binding keeps every signature and the physical plan
  * unchanged.
  *
  * Oracle-checkability without shipping pixels to DuckDB: payloads are
  * SYNTHESIZED deterministically (width/height/pixel values are closed
  * forms of doc_id and text length), encoded to real PNG/BMP bytes, then
  * decoded back — so the decoded dimensions AND a diagonal pixel
  * checksum are provable in pure SQL while the engine-side work is a
  * genuine lossless codec round-trip.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, src_len: Int, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, src_len: Int, format: String,
      width: Int, height: Int, diag_checksum: Option[Long], decoder: String)

  /** Deterministic synthetic-image parameters — the closed forms the SQL
    * oracle mirrors. Gray value at (x, y) = (doc_id·31 + 7x + 13y) mod
    * 256; canvas ≤ 64×48 keeps per-row encode cost trivial at any sf. */
  object MediaSynth {
    def widthOf(srcLen: Int): Int = 16 + (srcLen * 7) % 48
    def heightOf(srcLen: Int): Int = 16 + (srcLen * 13) % 32
    def gray(docId: Long, x: Int, y: Int): Int =
      ((docId * 31 + x * 7L + y * 13L) % 256L).toInt

    /** Encode one synthetic image to real PNG/BMP bytes (JDK ImageIO),
      * or a RIFF/WEBP-tagged opaque payload for the stubbed format. */
    def payloadFor(docId: Long, srcLen: Int): Array[Byte] = {
      val fmt = (docId % 3) match { case 0 => "png"; case 1 => "bmp"; case _ => "webp" }
      if (fmt == "webp") {
        // no JDK webp codec: a minimal RIFF container header + filler —
        // opaque bytes the stub decoder answers for
        val b = java.nio.ByteBuffer.allocate(20)
        b.put("RIFF".getBytes("US-ASCII")).putInt(12 + srcLen)
          .put("WEBP".getBytes("US-ASCII")).putLong(docId)
        b.array()
      } else {
        val w = widthOf(srcLen); val h = heightOf(srcLen)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = gray(docId, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream(w * h / 2)
        javax.imageio.ImageIO.write(img, fmt, baos)
        baos.toByteArray
      }
    }
  }

  /** STUB decoder — deterministic fake standing in for the formats the
    * JDK has no codec for (webp here). The formulas are mirrored in the
    * SQL oracle; a real libwebp binding would replace only this object. */
  object FakeDecoder {
    def decode(docId: Long, srcLen: Int): MediaMeta =
      MediaMeta(docId, srcLen, "webp",
        width = MediaSynth.widthOf(srcLen),
        height = MediaSynth.heightOf(srcLen),
        diag_checksum = None, decoder = "stub")
  }

  /** REAL decoder: sniff the format from magic bytes (never trusted
    * metadata), parse with `javax.imageio`, and checksum the decoded
    * diagonal pixels — dimensions AND pixel content both come from the
    * codec, proving a genuine lossless round-trip. */
  object ImageIoDecoder {
    def sniff(p: Array[Byte]): String =
      if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
        "png"
      else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
      else if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'E' && p(10) == 'B' && p(11) == 'P') "webp"
      else "unknown"

    def decode(docId: Long, srcLen: Int, payload: Array[Byte]): MediaMeta = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L
      var i = 0
      val n = math.min(w, h)
      while (i < n) { sum += img.getRGB(i, i) & 0xff; i += 1 }
      MediaMeta(docId, srcLen, sniff(payload), w, h, Some(sum), "imageio")
    }
  }

  case class AudioRow(doc_id: Long, src_len: Int, payload: Array[Byte])
  case class AudioMeta(doc_id: Long, src_len: Int, sample_rate: Int,
      n_channels: Int, bits: Int, n_samples: Long, sample_checksum: Long,
      decoder: String)

  /** Deterministic synthetic-audio parameters — the closed forms the SQL
    * oracle mirrors: 16-bit signed PCM mono, sample rate by doc parity
    * (the qMultimodalAudio convention), sample i =
    * ((doc_id·31 + 17i) mod 65536) − 32768. */
  object AudioSynth {
    def rateOf(docId: Long): Int = if (docId % 2 == 0) 16000 else 44100
    def samplesOf(srcLen: Int): Int = 64 + (srcLen * 3) % 192
    def sample(docId: Long, i: Int): Int =
      ((docId * 31 + i * 17L) % 65536L).toInt - 32768

    /** Encode one synthetic clip to a real RIFF/WAVE container via the
      * JDK's `javax.sound.sampled` writer. */
    def payloadFor(docId: Long, srcLen: Int): Array[Byte] = {
      val n = samplesOf(srcLen)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = sample(docId, i)
        pcm(i * 2) = (v & 0xff).toByte // little-endian signed 16-bit
        pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rateOf(docId).toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream(pcm.length + 64)
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
  }

  /** REAL audio metadata extraction — the WAV face of the ImageIO
    * round-trip ([[qMultimodalMeta]]): audio-modality documents
    * (doc_id % 3 == 1, the qMultimodalAudio rows) are synthesized into
    * genuine RIFF/WAVE containers (16-bit PCM mono, closed-form rate /
    * length / samples), then decoded back per-partition with the JDK's
    * `javax.sound.sampled` — format, channel count, bit depth, and
    * frame length come from the CODEC's header parse, and the decoded
    * PCM samples are checksummed, so hash equality against the
    * closed-form oracle proves a genuine lossless container round-trip
    * (not header trust). */
  def qMultimodalAudioMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media: Dataset[AudioRow] = Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), octet_length(col("text")).as("src_len"))
      .as[(Long, Int)]
      .mapPartitions(rows => rows.map { case (id, len) =>
        AudioRow(id, len, AudioSynth.payloadFor(id, len))
      })
    media.mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = ais.getFormat
        val n = ais.getFrameLength
        val pcm = ais.readAllBytes()
        var sum = 0L
        var i = 0
        while (i < n) {
          // little-endian signed 16-bit — as the codec declares it
          sum += ((pcm(i * 2) & 0xff) | (pcm(i * 2 + 1) << 8)).toShort.toLong
          i += 1
        }
        AudioMeta(r.doc_id, r.src_len, fmt.getSampleRate.toInt, fmt.getChannels,
          fmt.getSampleSizeInBits, n, sum, "javax.sound")
      }
    }.toDF()
  }

  /** Batch metadata extraction over real binary media: synthesize
    * deterministic PNG/BMP/webp payloads (stage 1 — the "ingest" that
    * gives the corpus a genuine BinaryType column), then decode them
    * per-partition (stage 2): magic-byte sniff routes PNG/BMP through
    * `javax.imageio` (real dimensions + diagonal pixel checksum from
    * decoded pixels) and webp through the documented stub. ImageIO's
    * file-backed stream cache is disabled once per partition — the
    * per-partition decoder setup a native codec would need too. */
  def qMultimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRow] = Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).as("src_len"))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, len) => MediaRow(id, len, MediaSynth.payloadFor(id, len)) }
      }
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        ImageIoDecoder.sniff(r.payload) match {
          case "png" | "bmp" => ImageIoDecoder.decode(r.doc_id, r.src_len, r.payload)
          case _ => FakeDecoder.decode(r.doc_id, r.src_len)
        }
      }
    }.toDF()
  }

  /** Frame sampling for "video" payloads (doc_id % 4 == 0): one row per
    * sampled frame with its offset and content hash — generator
    * (posexplode) over the frame index sequence, map-side only. */
  def qMultimodalFrames(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 4 === 0)
      .withColumn("byte_len", octet_length(col("text")))
      .withColumn("n_frames", lit(1) + least(floor(col("byte_len") / 100), lit(4)).cast("int"))
      .select(col("doc_id"), col("text"), col("n_frames"),
        posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("pos", "frame_idx")))
      .select(
        col("doc_id"),
        col("frame_idx").cast("int").as("frame_idx"),
        (col("frame_idx") * 100).cast("int").as("frame_offset"),
        expr("md5(substring(text, frame_idx * 100 + 1, 100))").as("frame_hash"))

  /** Audio-style payloads (doc_id % 3 == 1): stub-decoded sample-rate /
    * duration metadata plus fixed-stride chunk sampling — the same
    * generator pattern as video frames, over a second modality. */
  def qMultimodalAudio(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 1)
      .withColumn("byte_len", octet_length(col("text")))
      .withColumn("sample_rate", when(col("doc_id") % 2 === 0, 16000).otherwise(44100))
      .withColumn("duration_ms", (col("byte_len") * 4).cast("int"))
      .withColumn("n_chunks", lit(1) + least(floor(col("duration_ms") / 500), lit(7)).cast("int"))
      .select(col("doc_id"), col("sample_rate"), col("duration_ms"), col("text"), col("n_chunks"),
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("p", "chunk_idx")))
      .select(
        col("doc_id"), col("sample_rate"), col("duration_ms"),
        col("chunk_idx").cast("int").as("chunk_idx"),
        (col("chunk_idx") * 500).cast("int").as("chunk_start_ms"),
        expr("md5(substring(text, chunk_idx * 50 + 1, 50))").as("chunk_hash"))

  /** ViT-style preprocessing plan for "image" payloads (doc_id % 3 == 0,
    * the stub decoder's png branch): aspect-preserving resize into a
    * 224×224 canvas (integer ppm scale factor, centered letterbox
    * padding — the plan a real `torchvision.Resize+CenterCrop` executes)
    * followed by the 16×16 patch-grid explode, one row per patch with a
    * content-derived hash standing in for patch pixels. This is the
    * fan-out stage that feeds a vision-encoder batch; swapping the stub
    * hash for a real pixel slice keeps the schema, partitioning, and
    * ~196× generator fan-out identical.
    *
    * Scale shape: map-side only — metadata arithmetic plus one
    * generator explode per image; no shuffle at any scale (the
    * downstream encoder repartitions by its own batch size). */
  def qMultimodalPatches(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .withColumn("byte_len", octet_length(col("text")))
      .withColumn("width", (lit(16) + (col("byte_len") * 7) % 624).cast("int"))
      .withColumn("height", (lit(16) + (col("byte_len") * 13) % 464).cast("int"))
      .withColumn("scale_ppm", least(
        expr("CAST(224 * 1000000 div width AS BIGINT)"),
        expr("CAST(224 * 1000000 div height AS BIGINT)")))
      .withColumn("rs_w", expr("CAST(width * scale_ppm div 1000000 AS INT)"))
      .withColumn("rs_h", expr("CAST(height * scale_ppm div 1000000 AS INT)"))
      .withColumn("pad_x", expr("CAST((224 - rs_w) div 2 AS INT)"))
      .withColumn("pad_y", expr("CAST((224 - rs_h) div 2 AS INT)"))
      // at least one patch per axis: extreme aspect ratios can letterbox
      // a side below 16px, and a real preprocessor still emits the
      // padded patch (also keeps the generator's sequence() ascending)
      .withColumn("gx", expr("greatest(CAST(rs_w div 16 AS INT), 1)"))
      .withColumn("gy", expr("greatest(CAST(rs_h div 16 AS INT), 1)"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_ppm"),
        col("rs_w"), col("rs_h"), col("pad_x"), col("pad_y"), col("text"),
        explode(expr(
          """flatten(transform(sequence(0, gy - 1), py ->
            |  transform(sequence(0, gx - 1), px ->
            |    struct(px AS px, py AS py, py * gx + px AS pidx))))""".stripMargin)).as("t"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_ppm"),
        col("rs_w"), col("rs_h"), col("pad_x"), col("pad_y"),
        col("t.px"), col("t.py"),
        expr("md5(substring(text, t.pidx * 29 + 1, 29))").as("patch_hash"))

  /** Aspect-ratio bucketing for image-batch packing (the SDXL/NovelAI
    * bucketing scheme from the public diffusion-training literature):
    * each image is assigned to the bucket whose aspect ratio is nearest
    * its own, then resized (aspect-preserving, integer ppm scale) to fit
    * the bucket canvas; batches are formed within a bucket so padding is
    * minimal. Reports per-bucket volume and padding waste — the numbers
    * a batching planner reads to choose bucket boundaries.
    *
    * All-integer arithmetic: ratios in parts-per-million, nearest bucket
    * by |ratio_ppm − bucket_ppm| with the lower bucket index winning
    * ties — no float anywhere until the final rounded waste fraction.
    *
    * Scale shape: the bucket table is a 7-row literal joined as a
    * broadcast cross-join; assignment is map-side arithmetic + a window
    * argmin per image over 7 candidates; the only shuffle is the final
    * per-bucket aggregate (7 groups, map-side combined). */
  def qAspectBuckets(s: SparkSession, d: String): DataFrame = {
    // (bucket_id, bw, bh) — canvas sizes with ~equal pixel budget
    val buckets = Seq((0, 128, 512), (1, 160, 384), (2, 192, 320), (3, 256, 256),
      (4, 320, 192), (5, 384, 160), (6, 512, 128))
    val bdf = s.createDataFrame(buckets).toDF("bucket_id", "bw", "bh")
    val imgs = Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .withColumn("byte_len", octet_length(col("text")))
      .withColumn("width", (lit(16) + (col("byte_len") * 7) % 624).cast("int"))
      .withColumn("height", (lit(16) + (col("byte_len") * 13) % 464).cast("int"))
      .withColumn("ratio_ppm", expr("CAST(width AS BIGINT) * 1000000 div height"))
      .select("doc_id", "width", "height", "ratio_ppm")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(abs(col("ratio_ppm") - col("bucket_ppm")), col("bucket_id"))
    imgs.crossJoin(broadcast(bdf
        .withColumn("bucket_ppm", expr("CAST(bw AS BIGINT) * 1000000 div bh"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("scale_ppm", least(
        expr("CAST(bw AS BIGINT) * 1000000 div width"),
        expr("CAST(bh AS BIGINT) * 1000000 div height")))
      .withColumn("rs_w", expr("CAST(width * scale_ppm div 1000000 AS INT)"))
      .withColumn("rs_h", expr("CAST(height * scale_ppm div 1000000 AS INT)"))
      .groupBy("bucket_id", "bw", "bh")
      .agg(count(lit(1)).as("n_images"),
        sum(expr("CAST(bw AS BIGINT) * bh - CAST(rs_w AS BIGINT) * rs_h")).cast("long")
          .as("pad_px"),
        sum(expr("CAST(bw AS BIGINT) * bh")).cast("long").as("canvas_px"))
      .select(col("bucket_id"), col("bw"), col("bh"), col("n_images"), col("pad_px"),
        round(col("pad_px").cast("double") / col("canvas_px"), 6).as("pad_frac"))
  }

  /** Perceptual-hash near-duplicate detection over media payloads — the
    * image-dedup step (pHash/dHash family) a multimodal curation
    * pipeline runs where text dedup runs MinHash: the payload is
    * "resized" onto a fixed 64-cell grid (cell w = the
    * length-proportional byte window [w·L/64, (w+1)·L/64) — the
    * stand-in for "mean luminance of grid cell w" while the container
    * has no image codec; a real decoded-pixel dHash keeps everything
    * downstream unchanged), each cell contributes one parity bit, and
    * the 64-bit fingerprints go through the exact banded Hamming join
    * of q_dedup_simhash_pairs: 4 × 16-bit bands, pigeonhole-exact
    * recall at hamming ≤ 3. The resize is what keeps every band
    * content-bearing for any payload size — FIXED windows would leave
    * trailing cells empty on short payloads, collapsing one band into
    * a corpus-wide bucket (the quadratic failure this design rejects).
    * The injected near-dup path is an IN-PLACE single-byte perturbation
    * (doc_id % 7, +2000000): same length ⇒ same grid ⇒ only the cell
    * covering the touched byte can flip — the local-pixel-edit case
    * perceptual hashing exists to catch; byte-exact copies (doc_id % 5,
    * +1000000) collide in every band.
    *
    * Scale shape: fingerprinting is one map-side pass (64 windowed
    * hashes per payload); candidates come from the 4-band equi-join
    * (never all-pairs); the verify is 4 xor+popcounts per pair. */
  /** The media-payload relation the phash family runs on.
    *
    * Minimum-payload guard: sub-64-byte media can't fill the 8×8 grid —
    * every cell windows the same degenerate substring, so ALL such
    * payloads collide in every band (a corpus-wide bucket, the quadratic
    * failure the resize design rejects), and the in-place perturbation
    * below would change payload length for texts shorter than 11 chars,
    * voiding the same-grid invariant. Real pipelines drop sub-thumbnail
    * media for the same reason; the oracle applies the identical guard.
    * Injections: byte-exact copies (doc_id%5, +1e6) and single-byte
    * in-place perturbations (doc_id%7, +2e6). `half` keeps the
    * deterministic doc_id%2 sample the EVAL runs on (the injected ids
    * preserve parity — both offsets are even — so injected pairs stay
    * co-sampled, the q_dedup_eval sampling contract). */
  private def mediaRelation(s: SparkSession, d: String, half: Boolean = false): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 64)
    val docs = if (half) base.filter(col("doc_id") % 2 === 0) else base
    docs
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("#"),
            expr("substring(text, 12, 1000000)")).as("text")))
  }

  def qMultimodalPhash(s: SparkSession, d: String): DataFrame = {
    // standalone path: the fused md5(substring(text, …)) parity bits
    // stay whole-stage-codegen'd — cells materialization only pays off
    // when a SECOND pipeline reuses the array (the eval)
    // r18 (guide §4): parity of a hex digit is set membership — the
    // digit's value is odd iff the CHARACTER is one of the odd hex
    // digits — so the per-cell conv() parse (64 per doc) drops out.
    def bandExpr(b: Int): String = (1 to 16).map { i =>
      val j = 16 * b + i
      val pos = s"((${j - 1} * length(text)) div 64) + 1"
      val width = "(length(text) + 63) div 64"
      s"(CASE WHEN substring(md5(substring(text, $pos, $width)), 1, 1) IN ('1','3','5','7','9','b','d','f') THEN CAST(${1L << (16 - i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    pairsFromSigs(mediaRelation(s, d)
      .select(col("doc_id") +: (0 to 3).map(b => expr(bandExpr(b)).as(s"b$b")): _*))
  }

  /** (doc_id, cells) — the 64 grid-cell substrings materialized ONCE
    * per payload, for consumers that read the cells MORE THAN ONCE
    * (the eval: pred parity bits + truth band keys + exact per-pair
    * diff). Without this, the eval's exact filter re-ran 128
    * interpreted substring calls on full payloads per candidate pair
    * (lambda HOFs never codegen), the measured hot loop. The
    * single-pipeline q_multimodal_phash deliberately does NOT use it:
    * with no reuse, the interpreted transform costs more than the
    * fused codegen substrings it replaces (measured 1.8 → 2.9 s). */
  private def cellsRelation(media: DataFrame): DataFrame =
    media.select(col("doc_id"), expr(
      "transform(sequence(1, 64), j -> substring(text, ((j - 1) * length(text)) div 64 + 1, (length(text) + 63) div 64))")
      .as("cells"))

  /** Parity-bit signatures off a (doc_id, cells) relation — the eval's
    * pred side; md5(cells[j]) ≡ md5(substring(text, …)) bit-for-bit. */
  private def sigsFromCells(cellsRel: DataFrame): DataFrame = {
    // same odd-hex-digit membership test as the standalone path (r18)
    def bandExpr(b: Int): String = (1 to 16).map { i =>
      val j = 16 * b + i
      s"(CASE WHEN substring(md5(cells[${j - 1}]), 1, 1) IN ('1','3','5','7','9','b','d','f') THEN CAST(${1L << (16 - i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    cellsRel.select(col("doc_id") +: (0 to 3).map(b => expr(bandExpr(b)).as(s"b$b")): _*)
  }

  /** Banded-Hamming candidate join + exact verify over a 4×16-bit
    * signature relation — shared tail of both phash faces. */
  private def pairsFromSigs(sigsIn: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sigs = graft.CacheTracker.track(sigsIn.persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 to 3).map(b => col(s"b$b")): _*)).as(Seq("band", "bits")))
    val cand = banded.select(col("doc_id").as("a_id"), col("band"), col("bits"))
      .join(banded.select(col("doc_id").as("b_id"), col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sa = sigs.select(col("doc_id").as("a_id") +: (0 to 3).map(b => col(s"b$b").as(s"a$b")): _*)
    val sb = sigs.select(col("doc_id").as("b_id") +: (0 to 3).map(b => col(s"b$b").as(s"bb$b")): _*)
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("hamming",
        (0 to 3).map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"bb$b")))).reduce(_ + _).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Precision/recall/F1 of the banded-Hamming phash pairing against the
    * EXACT per-grid-cell truth — the media face of q_dedup_eval, the
    * audit a pipeline owner runs before trusting the 1-bit-per-cell
    * sketch for image dedup: truth is "payloads differ in ≤ 3 of their
    * 64 grid cells" (exact substring comparison per cell, the decoded-
    * pixel analogue), prediction is [[qMultimodalPhash]]'s parity-bit
    * banding at hamming ≤ 3.
    *
    * Truth candidates are EXACT by pigeonhole: ≤ 3 differing cells
    * across 4 disjoint 16-cell bands leaves ≥ 1 band with every cell
    * equal, so the md5-of-concatenated-cells band key matches and the
    * equi-join finds the pair — never all-pairs, same scale shape as
    * the sketch side. Structural consequence the eval documents: every
    * truth pair is also predicted (equal cells give equal parity bits,
    * so pred-hamming ≤ n_diff_cells ≤ 3, and the all-equal band also
    * collides) ⇒ recall = 1.0 by construction; precision measures
    * exactly the parity-collision false positives (a differing cell
    * flips the bit only with probability ~1/2, so ~(1/2)^k of k-cell
    * diffs sneak under the Hamming bar).
    *
    * Scale shape: runs on the deterministic doc_id%2 half (the eval
    * never needs the full corpus); both pair sets persist before the
    * count/join fan-out; candidates stay band-bounded on both sides.
    * EAGER by design, like [[graft.operators.Dedup.qDedupEval]]: the
    * distributed work runs at call time and the returned frame is the
    * literal-backed 1-row result (captured counts, never
    * re-aggregated). */
  def qMultimodalPhashEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // one cell materialization feeds BOTH pipelines (pred parity bits,
    // truth band keys, exact per-pair diff) — serialized cache, the
    // array-of-strings form is memory-hungry deserialized
    val cellsRel = graft.CacheTracker.track(
      cellsRelation(mediaRelation(s, d, half = true))
        .persist(StorageLevel.MEMORY_AND_DISK_SER))
    val pred = graft.CacheTracker.track(
      pairsFromSigs(sigsFromCells(cellsRel)).select("a_id", "b_id")
        .persist(StorageLevel.MEMORY_AND_DISK))
    // truth band key: the 16 cells of a band, concatenated — a pair
    // differing in ≤ 3 cells leaves ≥ 1 of the 4 disjoint bands fully
    // equal (pigeonhole), so the equi-join's candidates are COMPLETE
    // for the exact filter below; the key encoding itself cannot change
    // the truth set (false collisions only add candidates, which the
    // exact diff filter removes)
    def bandKey(b: Int): String =
      s"md5(concat_ws('', slice(cells, ${16 * b + 1}, 16)))"
    val keyed = cellsRel.select(col("doc_id"),
      posexplode(array((0 to 3).map(b => expr(bandKey(b))): _*)).as(Seq("band", "bkey")))
    val cand = keyed.select(col("doc_id").as("a_id"), col("band"), col("bkey"))
      .join(keyed.select(col("doc_id").as("b_id"), col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id")).select("a_id", "b_id").distinct()
    val nDiff = "size(filter(zip_with(ca, cb, (x, y) -> x != y), b -> b))"
    val truth = graft.CacheTracker.track(cand
      .join(cellsRel.select(col("doc_id").as("a_id"), col("cells").as("ca")), "a_id")
      .join(cellsRel.select(col("doc_id").as("b_id"), col("cells").as("cb")), "b_id")
      .filter(expr(nDiff) <= 3)
      .select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK))
    // fill both caches AND capture the counts (the q_dedup_eval
    // pattern): re-aggregating the persisted relations after the
    // counts already materialized them would double the peak
    // footprint — the only distributed job left below is the tp join.
    // r18 (guide §2.6): the two fills overlap from two driver threads —
    // independent jobs, one pipeline's tail back-fills the other. The
    // shared cellsRel cache is fill-safe under concurrency (the block
    // manager serializes per-partition computation).
    val Seq(nPred, nTruth) = graft.awaitAll(Seq(() => pred.count(), () => truth.count()))
    cellsRel.unpersist(blocking = true) // the join reads only pred/truth
    val nTp = pred.join(truth, Seq("a_id", "b_id")).count()
    pred.unpersist(blocking = false); truth.unpersist(blocking = false)
    s.range(1)
      .select(lit(nPred).as("n_pred"), lit(nTruth).as("n_truth"), lit(nTp).as("n_tp"))
      .select(col("n_pred"), col("n_truth"), col("n_tp"),
        expr("round(CAST(n_tp AS DOUBLE) / greatest(n_pred, 1), 6)").as("prec"),
        expr("round(CAST(n_tp AS DOUBLE) / greatest(n_truth, 1), 6)").as("rec"),
        expr("round(CAST(2 * n_tp AS DOUBLE) / greatest(n_pred + n_truth, 1), 6)").as("f1"))
  }

  /** VIDEO near-duplicate detection from frame fingerprints — the
    * video-modality dedup step a training pipeline runs above the
    * frame-sampling stage (q_multimodal_frames): every sampled frame
    * contributes a content fingerprint (md5 of its byte window — the
    * decoded-keyframe hash in a codec-equipped deployment), a pair of
    * videos becomes a CANDIDATE when any df-capped frame fingerprint is
    * shared (the inverted frame index — never all-pairs; the ≤50 cap is
    * the stop-frame guard: intros/black frames shared corpus-wide would
    * otherwise join quadratically, the q_sparse_cosine rule), and a
    * candidate verifies by ALIGNED-frame agreement: the fraction of
    * same-index frames with equal fingerprints, ≥ 0.6 of the longer
    * video. Alignment makes this order-aware — two videos sharing a
    * shuffled frame set do not match, matching real re-upload/re-encode
    * detection semantics.
    *
    * Injections mirror the phash family: byte-exact re-uploads
    * (doc_id%5, +1e6 — every frame matches, sim 1.0) and single-byte
    * re-encodes (doc_id%7, +2e6 — in-place perturbation inside frame 0,
    * so exactly one aligned frame differs: sim = (n-1)/n, passing the
    * gate whenever the video has ≥ 3 sampled frames — the graded-recall
    * case the threshold exists for).
    *
    * Scale shape: frame explode is map-side (≤ 5 per video); candidates
    * are bounded by the df cap; verification joins on (pair, frame_idx)
    * — one shuffle each side, never quadratic; the sim gate compares in
    * exact integers (5·n_match ≥ 3·max(nf)) before any float. */
  def qVideoDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0)
    val vids = base
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("#"),
            expr("substring(text, 12, 1000000)")).as("text")))
    val frames = graft.CacheTracker.track(vids
      .withColumn("byte_len", octet_length(col("text")))
      .withColumn("n_frames", lit(1) + least(floor(col("byte_len") / 100), lit(4)).cast("int"))
      .select(col("doc_id"), col("text"), col("n_frames"),
        posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("p", "frame_idx")))
      .select(col("doc_id"), col("n_frames"), col("frame_idx").cast("int").as("frame_idx"),
        expr("md5(substring(text, frame_idx * 100 + 1, 100))").as("frame_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val rare = frames.groupBy("frame_hash").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
    val posts = frames.join(rare.select("frame_hash"), "frame_hash")
    val cand = posts.select(col("doc_id").as("a_id"), col("frame_hash"))
      .join(posts.select(col("doc_id").as("b_id"), col("frame_hash")), Seq("frame_hash"))
      .filter(col("a_id") < col("b_id")).select("a_id", "b_id").distinct()
    val fa = frames.select(col("doc_id").as("a_id"), col("frame_idx"),
      col("frame_hash").as("ha"), col("n_frames").as("nfa"))
    val fb = frames.select(col("doc_id").as("b_id"), col("frame_idx"),
      col("frame_hash").as("hb"), col("n_frames").as("nfb"))
    cand.join(fa, "a_id").join(fb, Seq("b_id", "frame_idx"))
      .groupBy("a_id", "b_id", "nfa", "nfb")
      .agg(sum(when(col("ha") === col("hb"), 1).otherwise(0)).cast("long").as("n_match"))
      .filter(col("n_match") * 5 >= greatest(col("nfa"), col("nfb")).cast("long") * 3)
      .select(col("a_id"), col("b_id"),
        col("nfa").cast("int").as("n_frames_a"), col("nfb").cast("int").as("n_frames_b"),
        col("n_match"),
        round(col("n_match").cast("double") /
          greatest(col("nfa"), col("nfb")), 6).as("frame_sim"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_phash" -> (qMultimodalPhash _),
    "q_multimodal_phash_eval" -> (qMultimodalPhashEval _),
    "q_video_dedup" -> (qVideoDedup _),
    "q_aspect_buckets" -> (qAspectBuckets _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_audio_meta" -> (qMultimodalAudioMeta _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_patches" -> (qMultimodalPatches _),
    "q_multimodal_audio" -> (qMultimodalAudio _))

  /** Oracle SQL for band `b` of the 64-bit perceptual hash: the 16
    * bits of cells 16b+1 .. 16b+16, as one BIGINT. */
  private def bandSql(b: Int): String = (1 to 16).map { i =>
    val j = 16 * b + i
    val pos = s"(divide((${j - 1} * length(text)), 64)) + 1"
    val width = "divide((length(text) + 63), 64)"
    s"(CASE WHEN CAST(instr('0123456789abcdef', substring(md5(substring(text, $pos, $width)), 1, 1)) - 1 AS BIGINT) % 2 = 1 THEN ${1L << (16 - i)} ELSE 0 END)"
  }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    "q_multimodal_phash" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
         |media AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL SELECT doc_id + 1000000, text FROM docs WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 2000000,
         |    substring(text, 1, 10) || '#' || substring(text, 12, 1000000)
         |  FROM docs WHERE doc_id % 7 = 0),
         |fp AS (SELECT doc_id, ${bandSql(0)} AS b0, ${bandSql(1)} AS b1,
         |    ${bandSql(2)} AS b2, ${bandSql(3)} AS b3 FROM media),
         |bands AS (SELECT doc_id, b,
         |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bits
         |  FROM fp, LATERAL unnest(range(0, 4)) AS t(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bits = y.bits AND x.doc_id < y.doc_id),
         |h AS (SELECT a_id, b_id,
         |    CAST(bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
         |      + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) AS INTEGER) AS hamming
         |  FROM cand JOIN fp fa ON fa.doc_id = cand.a_id JOIN fp fb ON fb.doc_id = cand.b_id)
         |SELECT a_id, b_id, hamming FROM h WHERE hamming <= 3""".stripMargin,
    "q_video_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |vids AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 2000000,
        |    substring(text, 1, 10) || '#' || substring(text, 12, 1000000)
        |  FROM base WHERE doc_id % 7 = 0),
        |v AS (SELECT doc_id, text,
        |    1 + least(divide(octet_length(encode(text)), 100), 4) AS n_frames FROM vids),
        |fr AS (SELECT doc_id, n_frames, CAST(i AS INTEGER) AS frame_idx,
        |    md5(substring(text, CAST(i * 100 + 1 AS INTEGER), 100)) AS frame_hash
        |  FROM v, LATERAL unnest(range(0, n_frames)) AS t(i)),
        |rare AS (SELECT frame_hash FROM fr GROUP BY 1 HAVING COUNT(*) <= 50),
        |posts AS (SELECT fr.doc_id, fr.frame_hash FROM fr JOIN rare USING (frame_hash)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM posts a JOIN posts b ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id),
        |m AS (SELECT cand.a_id, cand.b_id, fa.n_frames AS nfa, fb.n_frames AS nfb,
        |    CAST(SUM(CASE WHEN fa.frame_hash = fb.frame_hash THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |  FROM cand
        |  JOIN fr fa ON fa.doc_id = cand.a_id
        |  JOIN fr fb ON fb.doc_id = cand.b_id AND fb.frame_idx = fa.frame_idx
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a_id, b_id, CAST(nfa AS INTEGER) AS n_frames_a,
        |  CAST(nfb AS INTEGER) AS n_frames_b, n_match,
        |  round(CAST(n_match AS DOUBLE) / GREATEST(nfa, nfb), 6) AS frame_sim
        |FROM m WHERE n_match * 5 >= GREATEST(nfa, nfb) * 3""".stripMargin,
    "q_multimodal_phash_eval" -> {
      def cellSql(j: String, t: String): String =
        s"substring($t, divide((($j - 1) * length($t)), 64) + 1, divide((length($t) + 63), 64))"
      def keySql(b: Int): String =
        "md5(" + (1 to 16).map(i => cellSql(s"${16 * b + i}", "text")).mkString(" || ") + ")"
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |  WHERE length(text) >= 64 AND doc_id % 2 = 0),
         |media AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL SELECT doc_id + 1000000, text FROM docs WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 2000000,
         |    substring(text, 1, 10) || '#' || substring(text, 12, 1000000)
         |  FROM docs WHERE doc_id % 7 = 0),
         |fp AS (SELECT doc_id, ${bandSql(0)} AS b0, ${bandSql(1)} AS b1,
         |    ${bandSql(2)} AS b2, ${bandSql(3)} AS b3 FROM media),
         |bands AS (SELECT doc_id, b,
         |    CASE b WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bits
         |  FROM fp, LATERAL unnest(range(0, 4)) AS t(b)),
         |candp AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bits = y.bits AND x.doc_id < y.doc_id),
         |pred AS (SELECT a_id, b_id
         |  FROM candp JOIN fp fa ON fa.doc_id = candp.a_id JOIN fp fb ON fb.doc_id = candp.b_id
         |  WHERE bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
         |      + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) <= 3),
         |tk AS (SELECT doc_id, ${keySql(0)} AS k0, ${keySql(1)} AS k1,
         |    ${keySql(2)} AS k2, ${keySql(3)} AS k3 FROM media),
         |tbands AS (SELECT doc_id, b,
         |    CASE b WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS bkey
         |  FROM tk, LATERAL unnest(range(0, 4)) AS t(b)),
         |candt AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM tbands x JOIN tbands y
         |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |truth AS (SELECT a_id, b_id FROM candt
         |  JOIN media ma ON ma.doc_id = candt.a_id
         |  JOIN media mb ON mb.doc_id = candt.b_id
         |  WHERE len(list_filter(range(1, 65), j ->
         |    ${cellSql("j", "ma.text")} <> ${cellSql("j", "mb.text")})) <= 3),
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
    "q_aspect_buckets" ->
      """WITH img AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len FROM documents
        |  WHERE doc_id % 3 = 0),
        |wh AS (
        |  SELECT doc_id,
        |    CAST(16 + (byte_len * 7) % 624 AS INTEGER) AS width,
        |    CAST(16 + (byte_len * 13) % 464 AS INTEGER) AS height
        |  FROM img),
        |r AS (SELECT *, divide(CAST(width AS BIGINT) * 1000000, height) AS ratio_ppm FROM wh),
        |bk AS (SELECT * FROM (VALUES (0, 128, 512), (1, 160, 384), (2, 192, 320),
        |    (3, 256, 256), (4, 320, 192), (5, 384, 160), (6, 512, 128))
        |  AS t(bucket_id, bw, bh)),
        |cand AS (
        |  SELECT r.*, bk.bucket_id, bk.bw, bk.bh,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY abs(ratio_ppm - divide(CAST(bw AS BIGINT) * 1000000, bh)), bucket_id) AS rn
        |  FROM r CROSS JOIN bk),
        |asn AS (
        |  SELECT *, LEAST(divide(CAST(bw AS BIGINT) * 1000000, width),
        |                  divide(CAST(bh AS BIGINT) * 1000000, height)) AS scale_ppm
        |  FROM cand WHERE rn = 1),
        |rs AS (
        |  SELECT *, CAST(divide(width * scale_ppm, 1000000) AS INTEGER) AS rs_w,
        |    CAST(divide(height * scale_ppm, 1000000) AS INTEGER) AS rs_h
        |  FROM asn)
        |SELECT bucket_id, bw, bh, COUNT(*) AS n_images,
        |  CAST(SUM(CAST(bw AS BIGINT) * bh - CAST(rs_w AS BIGINT) * rs_h) AS BIGINT) AS pad_px,
        |  round(CAST(SUM(CAST(bw AS BIGINT) * bh - CAST(rs_w AS BIGINT) * rs_h) AS DOUBLE)
        |    / SUM(CAST(bw AS BIGINT) * bh), 6) AS pad_frac
        |FROM rs GROUP BY 1, 2, 3""".stripMargin,
    // The closed-form twin of the REAL ImageIO round-trip: the engine
    // synthesizes pixels from these exact formulas, encodes real
    // PNG/BMP, decodes with javax.imageio, and reports what the CODEC
    // saw — so hash equality proves the codec reproduced dimensions and
    // diagonal pixels bit-exactly (webp rows carry the stub's NULL
    // checksum on both sides).
    "q_multimodal_meta" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS src_len FROM documents),
        |g AS (SELECT doc_id, src_len,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'webp' END AS format,
        |    CAST(16 + (src_len * 7) % 48 AS INTEGER) AS width,
        |    CAST(16 + (src_len * 13) % 32 AS INTEGER) AS height
        |  FROM m)
        |SELECT doc_id, CAST(src_len AS INTEGER) AS src_len, format, width, height,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |    ELSE CAST(list_sum(list_transform(range(0, least(width, height)),
        |      i -> (doc_id * 31 + i * 20) % 256)) AS BIGINT) END AS diag_checksum,
        |  CASE WHEN doc_id % 3 = 2 THEN 'stub' ELSE 'imageio' END AS decoder
        |FROM g""".stripMargin,
    "q_multimodal_patches" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS byte_len
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        |  SELECT doc_id, text,
        |    CAST(16 + (byte_len * 7) % 624 AS INTEGER) AS width,
        |    CAST(16 + (byte_len * 13) % 464 AS INTEGER) AS height
        |  FROM m),
        |sc AS (
        |  SELECT *, CAST(LEAST(divide(224 * 1000000, width), divide(224 * 1000000, height)) AS BIGINT) AS scale_ppm
        |  FROM g),
        |rs AS (
        |  SELECT *, CAST(divide(width * scale_ppm, 1000000) AS INTEGER) AS rs_w,
        |    CAST(divide(height * scale_ppm, 1000000) AS INTEGER) AS rs_h
        |  FROM sc),
        |grid AS (
        |  SELECT *, CAST(divide((224 - rs_w), 2) AS INTEGER) AS pad_x,
        |    CAST(divide((224 - rs_h), 2) AS INTEGER) AS pad_y,
        |    GREATEST(divide(rs_w, 16), 1) AS gx, GREATEST(divide(rs_h, 16), 1) AS gy
        |  FROM rs)
        |SELECT doc_id, width, height, scale_ppm, rs_w, rs_h, pad_x, pad_y,
        |  CAST(px AS INTEGER) AS px, CAST(py AS INTEGER) AS py,
        |  md5(substring(text, CAST((py * gx + px) * 29 + 1 AS INTEGER), 29)) AS patch_hash
        |FROM grid, LATERAL unnest(range(0, gy)) AS ty(py), LATERAL unnest(range(0, gx)) AS tx(px)""".stripMargin,
    // closed-form twin of the REAL javax.sound WAV round-trip: the
    // engine synthesizes PCM from these formulas, writes a genuine RIFF
    // container, decodes it back, and reports what the codec parsed —
    // hash equality proves format fields AND samples round-tripped
    "q_multimodal_audio_meta" ->
      """WITH a AS (SELECT doc_id, octet_length(encode(text)) AS src_len
        |  FROM documents WHERE doc_id % 3 = 1),
        |g AS (SELECT doc_id, CAST(src_len AS INTEGER) AS src_len,
        |    CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END AS sample_rate,
        |    64 + (src_len * 3) % 192 AS n
        |  FROM a)
        |SELECT doc_id, src_len, CAST(sample_rate AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels, CAST(16 AS INTEGER) AS bits,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> (doc_id * 31 + i * 17) % 65536 - 32768)) AS BIGINT) AS sample_checksum,
        |  'javax.sound' AS decoder
        |FROM g""".stripMargin,
    "q_multimodal_audio" ->
      """WITH a AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END AS sample_rate,
        |    CAST(octet_length(encode(text)) * 4 AS INTEGER) AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 1),
        |c AS (SELECT a.*, 1 + least(divide(duration_ms, 500), 7) AS n_chunks FROM a)
        |SELECT doc_id, sample_rate, duration_ms,
        |  CAST(i AS INTEGER) AS chunk_idx, CAST(i * 500 AS INTEGER) AS chunk_start_ms,
        |  md5(substring(text, CAST(i * 50 + 1 AS INTEGER), 50)) AS chunk_hash
        |FROM c, LATERAL unnest(range(0, n_chunks)) AS t(i)""".stripMargin,
    "q_multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id, text,
        |    1 + least(divide(octet_length(encode(text)), 100), 4) AS n_frames
        |  FROM documents WHERE doc_id % 4 = 0)
        |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 100 AS INTEGER) AS frame_offset,
        |  md5(substring(text, CAST(i * 100 + 1 AS INTEGER), 100)) AS frame_hash
        |FROM v, LATERAL unnest(range(0, n_frames)) AS t(i)""".stripMargin)
}
