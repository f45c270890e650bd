package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video ride through the pipeline
  * as opaque `binary` columns plus typed metadata, exactly like any other
  * column — parquet stores them page-compressed, partition pruning and
  * predicate pushdown on the metadata columns still work, and only the
  * operators that decode pay for the bytes.
  *
  * The decode itself is STUBBED (this container has no image/audio codecs):
  * [[stubDecode]] derives deterministic fake dimensions from the byte
  * content. Everything around it — the binary schema, the typed Dataset
  * boundary, the mapPartitions batch shape that amortizes per-partition
  * decoder initialization, the metadata projection — is the real production
  * plumbing and is tested.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, media: Array[Byte])
  final case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int, format: String)

  /** Manufacture a binary media column from a text corpus (UTF-8 bytes) —
    * stands in for reading real image bytes; schema-identical to the real
    * thing. */
  def attachBinary(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).cast(LongType).as("doc_id"),
      encode(col(textCol), "UTF-8").as("media"))

  /** STUB decoder — deterministic fake in place of libjpeg/ffmpeg: dimensions
    * and format derive from byte length and the first decoded code point
    * (matching the SQL oracle's `ascii(text)` for any UTF-8 input, not just
    * ASCII), so results are reproducible and oracle-checkable. A real
    * implementation swaps only this function. */
  def stubDecode(r: MediaRecord): MediaMeta = {
    val bytes = if (r.media == null) Array.emptyByteArray else r.media
    val n = bytes.length
    val first = if (n > 0) new String(bytes, "UTF-8").codePointAt(0) else 0
    MediaMeta(
      doc_id = r.doc_id,
      n_bytes = n,
      width = 64 + (n % 448),
      height = 64 + ((first * 7) % 448),
      // format cycles on byte length — stable across re-encodings of the fake
      format = (n % 3) match {
        case 0 => "png"
        case 1 => "jpeg"
        case _ => "webp"
      })
  }

  final case class MediaTokens(doc_id: Long, tokens: Array[String])

  /** STUB visual-feature extractor: decodes the fake media bytes back to
    * text and tokenizes with EXACTLY the engine's normalization (the fake
    * of "decode image → visual words"). A real implementation swaps the
    * body for codec + patch/embedding features; the mapPartitions boundary,
    * schema, and downstream hashing stay as-is. Null media (null source
    * row) yields no feature row, matching the SQL oracle's IS NOT NULL. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaTokens] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real pipeline: acquire codec/GPU context once per partition here
      it.flatMap { r =>
        if (r.media == null) Iterator.empty
        else {
          val text = new String(r.media, "UTF-8")
          val norm = text.toLowerCase(java.util.Locale.ROOT)
            .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
          Iterator.single(MediaTokens(r.doc_id, norm.split(" ", -1)))
        }
      }
    }
  }

  /** Perceptual-hash near-duplicate pairs over the binary media column:
    * decode → feature tokens (stubbed) → 64-bit simhash as the pHash →
    * banded hamming-bucket join. This is image/video dedup at 100 TB
    * shape: the quadratic work is confined to 16-bit band buckets (a pair
    * within hamming ≤ 6 of 64 bits shares at least one of 4 bands by
    * pigeonhole), the codec runs once per row at the mapPartitions
    * boundary, and the hash + band join are native codegen expressions.
    * Output: doc_a, doc_b, hamming. */
  def perceptualNearDupPairs(
      docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    import docs.sparkSession.implicits._
    val feats = decodeFeatures(attachBinary(docs).as[MediaRecord]).toDF()
    val sigs = feats.select(col("doc_id"),
      graft.functions.SimHash.simhash64Md5(col("tokens")).as("phash"))
    val bands = sigs.select(col("doc_id"), col("phash"),
      explode(expr("transform(sequence(0,3), b -> " +
        "struct(b as band_id, shiftright(phash, b*16) & 65535 as band_key))")).as("b"))
      .select(col("doc_id"), col("phash"), col("b.band_id"), col("b.band_key"))
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Decode/feature-extract over partitions: the mapPartitions boundary is
    * deliberate — a real codec holds native context (dictionaries, GPU
    * handles) that must be initialized once per partition, not per row.
    * Batch shape: one iterator in, one iterator out, constant memory. */
  def decodeMeta(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real pipeline: val codec = Decoder.acquire() — once per partition
      it.map(stubDecode)
    }
  }

  /** End-to-end: docs → binary media → per-partition decode → metadata
    * DataFrame. */
  def mediaMetadata(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    decodeMeta(attachBinary(docs).as[MediaRecord]).toDF()
  }

  /** Batched model inference — the GPU-feeding boundary for embedding
    * generation at corpus scale: rows group into fixed-size batches INSIDE
    * each partition (a real model wants one matmul per batch, pinned
    * buffers sized to batchSize, never per-row calls), the model function
    * maps a whole batch, and the iterator shape keeps memory constant —
    * only one batch is resident per partition at a time. Row order and
    * count are preserved exactly; the final batch per partition is partial.
    *
    * `model` is injectable; [[md5StubModel]] is the deterministic stand-in
    * (no inference runtime in the sandbox) whose output an external SQL
    * oracle reproduces — so the batching plumbing itself is correctness-
    * gated, not just eyeballed. */
  def batchedEmbed(
      docs: DataFrame,
      model: Seq[String] => Seq[Array[Double]] = md5StubModel,
      batchSize: Int = 32,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(batchSize > 0)
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions { it =>
        // real pipeline: model/session handle acquired once per partition
        it.grouped(batchSize).flatMap { batch =>
          val vecs = model(batch.map(_._2))
          require(vecs.length == batch.length,
            s"model returned ${vecs.length} vectors for a batch of ${batch.length}")
          batch.map(_._1).zip(vecs)
        }
      }
      .toDF(idCol, "embedding")
  }

  /** Deterministic stub "encoder": dimension j of the embedding is byte j of
    * the text's md5, scaled to [0, 1) — reproducible in any engine with an
    * md5 function (8 hex pairs → ints / 256). */
  def md5StubModel(batch: Seq[String]): Seq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    batch.map { text =>
      val h = md.digest(Option(text).getOrElse("").getBytes("UTF-8"))
      Array.tabulate(8)(j => (h(j) & 0xff) / 256.0)
    }
  }

  /** CLIP-SCORE alignment filter (LAION-style multimodal curation): score
    * each 〈media, caption〉 pair by embedding cosine and keep pairs above a
    * threshold — THE gate web-scale image-text corpora are built through
    * (LAION kept cos ≥ 0.28 of ~50B candidates). Here both encoders are the
    * md5 stub ([[md5StubModel]]'s arithmetic as pure column expressions):
    * the "image" embedding hashes the full content bytes, the "caption"
    * embedding hashes the first `captionChars` characters — so even the
    * threshold semantics and the per-item keep/drop decision are
    * oracle-gated; a real deployment swaps the two `emb` definitions for
    * [[batchedEmbed]] calls with a real model (q67's gated plumbing) and
    * nothing else changes.
    *
    * Exactness: embeddings are exact integers/256 (hex-pair parse), the
    * cosine is one fixed left-assoc IEEE chain + two sqrts (correctly
    * rounded), identical bits on any engine; the gate is BIGINT ppm and an
    * integer threshold compare.
    *
    * Scale shape: ONE projection — no shuffle, no UDF, whole-stage codegen
    * end to end; at 100 TB this is a pure map over the corpus.
    * Output: doc_id, source, clip_ppm, kept. */
  def clipScoreFilter(
      docs: DataFrame,
      captionChars: Int = 64,
      thresholdPpm: Long = 750000L,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    def emb(c: Column): Seq[Column] =
      (0 until 8).map(j =>
        conv(substring(md5(c), 2 * j + 1, 2), 16, 10).cast("double") / lit(256.0))
    val img = emb(col(textCol))
    val cap = emb(substring(col(textCol), 1, captionChars))
    val dot = img.zip(cap).map { case (a, b) => a * b }.reduce(_ + _)
    val na = img.map(a => a * a).reduce(_ + _)
    val nb = cap.map(b => b * b).reduce(_ + _)
    val cos = dot / (sqrt(na) * sqrt(nb))
    docs.select(col(idCol), col(sourceCol),
        floor(cos * lit(1e6) + lit(0.5)).cast("long").as("clip_ppm"))
      .withColumn("kept", col("clip_ppm") >= lit(thresholdPpm))
  }

  /** Chunk-overlap media near-dup pairs: sample frames ([[sampleFrames]]),
    * hash each frame's bytes, and score media pairs by Jaccard over their
    * DISTINCT frame-hash sets via an inverted-index join on the hash — the
    * content-defined-chunking dedup shape used for video/audio at scale
    * (same join skeleton as Dedup.ngramJaccardPairs, with frame hashes in
    * place of shingles). Complements [[perceptualNearDupPairs]]: pHash
    * catches small visual edits, chunk overlap catches re-encodes/
    * concatenations that share exact byte runs.
    *
    * Scale shape: frames aggregate to 〈doc, hash〉 distinct rows (bytes
    * never join); `maxChunkDf` is the same quadratic-fan-out guard as the
    * shingle cutoff — a chunk shared by m media contributes m²/2 join rows
    * (think silence/black frames), and dropping high-df chunks only biases
    * the estimate LOW. Output: doc_a, doc_b, n_shared, jaccard. */
  def chunkOverlapPairs(
      docs: DataFrame,
      chunkBytes: Int = 64,
      stride: Int = 4,
      minJaccard: Double = 0.5,
      maxChunkDf: Long = Long.MaxValue): DataFrame = {
    val sets = sampleFrames(attachBinary(docs), chunkBytes, stride)
      .select(col("doc_id"), md5(col("frame")).as("h"))
      .distinct()
      .persist()
    try {
      val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inv =
        if (maxChunkDf == Long.MaxValue) sets
        else sets.join(
          sets.groupBy("h").agg(count(lit(1)).as("df"))
            .filter(col("df") <= maxChunkDf).select("h"), "h")
      val common = inv.as("x")
        .join(inv.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      val result = common
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .withColumn("jaccard",
          col("n_shared").cast(DoubleType) /
            (col("na") + col("nb") - col("n_shared")).cast(DoubleType))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("jaccard"), 4).as("jaccard"))
      result.localCheckpoint(true)
    } finally { sets.unpersist(); () }
  }

  /** Frame sampling: cut the binary into fixed-size chunks and keep every
    * `stride`-th one — the shape of video frame extraction (explode stays a
    * built-in generator; rows grow by n_frames/stride only). */
  def sampleFrames(media: DataFrame, chunkBytes: Int = 64, stride: Int = 4): DataFrame =
    media
      .withColumn("n_chunks", ceil(length(col("media")).cast(DoubleType) / chunkBytes).cast(IntegerType))
      .withColumn("frame_idx",
        // empty media → 0 chunks; sequence(0,-1) would yield [0,-1] (Spark
        // auto-steps backwards), so guard to an empty frame list instead
        explode(when(col("n_chunks") > 0,
            filter(sequence(lit(0), col("n_chunks") - 1), i => i % stride === 0))
          .otherwise(array().cast("array<int>"))))
      .select(col("doc_id"), col("frame_idx"),
        col("media").substr(col("frame_idx") * chunkBytes + 1, lit(chunkBytes)).as("frame"))
}
