package graft.mm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (SURVEY §2E): treat payloads as opaque
  * `binary` columns with typed metadata, push them through a
  * partition-batched decode stage, and emit typed features.
  *
  * The actual media decode is STUBBED (no image/audio libraries in this
  * container): `FakeCodec.decode` below is a deterministic fake standing in
  * for libjpeg/ffmpeg. Everything around it — the binary column, the typed
  * Dataset boundary, the `mapPartitions` batch shape (one codec instance
  * per partition, streamed iterator, no per-row setup), the feature schema
  * — is the real plumbing a production decode would use unchanged.
  */
object Multimodal {

  case class BinaryDoc(doc_id: Long, payload: Array[Byte])
  case class MmFeatures(doc_id: Long, n_bytes: Int, checksum: String,
      width: Int, height: Int, n_frames: Int)

  /** STUB: deterministic fake decoder. A real implementation would hand
    * `payload` to an image/audio codec here; the fake derives stable
    * pseudo-metadata from the byte length and an md5 checksum so the
    * pipeline stays testable end-to-end.
    */
  object FakeCodec {
    def decode(doc_id: Long, payload: Array[Byte]): MmFeatures = {
      val mdt = java.security.MessageDigest.getInstance("MD5")
      val checksum = mdt.digest(payload).take(4).map("%02x".format(_)).mkString
      val n = payload.length
      MmFeatures(doc_id, n, checksum,
        width = 16 + n % 64, height = 16 + n % 48, n_frames = 1 + n / 100)
    }
  }

  /** Binary decode stage: documents.text cast to a binary payload column
    * (standing in for an image/video blob), decoded per partition.
    */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinaryDoc]
    bin.mapPartitions { it =>
      // one codec per partition; rows stream through without materializing
      it.map(d => FakeCodec.decode(d.doc_id, d.payload))
    }.toDF().orderBy(col("doc_id"))
  }

  val decodeFeaturesSql: String =
    // strlen = UTF-8 BYTE length (matches Spark's payload.length on the
    // binary column; length() would count characters and diverge on any
    // non-ASCII document)
    """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes, substr(md5(text), 1, 8) AS checksum,
      |  CAST(16 + strlen(text) % 64 AS INT) AS width,
      |  CAST(16 + strlen(text) % 48 AS INT) AS height,
      |  CAST(1 + strlen(text) // 100 AS INT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  case class DocEmbedding(doc_id: Long, embedding: Array[Float], batch_n: Int)

  /** STUB: deterministic fake batch encoder. A real implementation would
    * run the whole batch through one model/device call (ONNX session,
    * TorchScript module, remote endpoint) — that single-call-per-batch
    * boundary is exactly where this stands in. Dimension k derives from
    * md5(payload ++ "#k"): content-derived (identical payloads embed
    * identically, like a real content encoder), partition-independent,
    * and — deliberately — expressible in plain SQL, so the batched
    * pipeline's numeric output is oracle-checkable end-to-end.
    */
  object FakeEncoder {
    val dim = 64
    def encodeBatch(batch: Seq[BinaryDoc]): Seq[DocEmbedding] = {
      val mdt = java.security.MessageDigest.getInstance("MD5")
      batch.map { d =>
        val v = Array.tabulate(dim) { k =>
          mdt.update(d.payload)
          mdt.update(s"#$k".getBytes("UTF-8"))
          val h = mdt.digest()
          // first 4 hex chars of the digest as an int in [0, 65535],
          // centered and scaled to [-1, 1); exact in Float (<= 16-bit
          // numerator over a power-of-two denominator)
          (((h(0) & 0xff) << 8 | (h(1) & 0xff)) - 32768) / 32768.0f
        }
        DocEmbedding(d.doc_id, v, batch.size)
      }
    }
  }

  /** Batched embedding inference over binary payloads — the GPU-encoder
    * shape on Spark: `mapPartitions` + `grouped(batchSize)` gives the
    * encoder fixed-size batches (amortizing per-call overhead exactly
    * like a device batch), one encoder instance per partition, streaming
    * iterators throughout (no partition materialization beyond one
    * batch). Embedding values are deterministic per doc; `batch_n`
    * records the actual batch each row rode in (the tail batch of every
    * partition is smaller — partition-layout-dependent by nature, so
    * this entry is rows-only checked; the embedding invariants are
    * asserted in MultimodalSpec).
    */
  def embedBatched(spark: SparkSession, dir: String, batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val bin = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinaryDoc]
    bin.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => FakeEncoder.encodeBatch(b))
    }.toDF().orderBy(col("doc_id"))
  }

  /** Oracle-checkable projection of the batched-inference pipeline: the
    * embeddings computed by the real `mapPartitions`+`grouped` batch path,
    * exploded to scalar (doc_id, dim, val) rows. A hash-match against the
    * pure-SQL oracle proves the batched path computes exactly the declared
    * encoder function for every document and dimension — a stronger check
    * than the previous rows-only gate. `batch_n` (the batch each row rode
    * in) is deliberately NOT emitted here: tail batches make it
    * partition-layout-dependent by nature; batch-shape invariants are
    * asserted in MultimodalSpec instead.
    */
  def embedBatchDims(spark: SparkSession, dir: String): DataFrame = {
    embedBatched(spark, dir)
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim"),
        col("val").cast("double").as("val"))
      .orderBy(col("doc_id"), col("dim"))
  }

  val embedBatchSql: String =
    // (md5-hex-prefix as int - 32768) / 32768.0 is exact in both engines:
    // <= 16-bit numerator over 2^15, so Float == Double == this SQL
    """SELECT d.doc_id, CAST(r.k AS INTEGER) AS dim,
      |  (CAST('0x' || substr(md5(d.text || '#' || CAST(r.k AS VARCHAR)), 1, 4) AS BIGINT) - 32768) / 32768.0 AS val
      |FROM documents d CROSS JOIN range(0, 64) r(k)
      |ORDER BY doc_id, dim""".stripMargin

  /** Deterministic frame-sampling stub: derive a frame index sequence from
    * the payload length, keep every 5th frame. posexplode keeps this a
    * pure narrow transform — no shuffle, scales with input size.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("explode(sequence(0, length(text) div 100))").as("frame_idx"))
      .filter(col("frame_idx") % 5 === 0)
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 40).as("frame_ts_ms"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val frameSampleSql: String =
    """SELECT doc_id, frame_idx, frame_idx * 40 AS frame_ts_ms FROM (
      |  SELECT doc_id, unnest(range(0, length(text) // 100 + 1)) AS frame_idx
      |  FROM documents)
      |WHERE frame_idx % 5 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Resize stage stub — the remaining named transform of the
    * multimodal quartet (decode / feature-extract / RESIZE /
    * frame-sample): each payload's decoded dimensions are fit inside a
    * target box preserving aspect ratio (the letterbox contract every
    * real image pipeline implements), emitting the output geometry and
    * integer scale in parts-per-thousand. The pixel work is the
    * stubbed part (no codec in this container); the geometry math —
    * what the Spark plumbing actually schedules and what downstream
    * batch shapes depend on — is real and exact: scale =
    * min(maxW/w, maxH/h) computed in BIGINT per-mille arithmetic
    * (floor), out dims = dim·scale_pm DIV 1000, never a float.
    */
  val resizeMaxW = 32
  val resizeMaxH = 24

  def resizeMeta(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(16 + octet_length(text) % 64 AS INT)").as("width"),
        expr("CAST(16 + octet_length(text) % 48 AS INT)").as("height"))
      .select(col("doc_id"), col("width"), col("height"),
        expr(s"least($resizeMaxW * 1000 DIV width, $resizeMaxH * 1000 DIV height)")
          .cast("long").as("scale_pm"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_pm"),
        expr("CAST(width * scale_pm DIV 1000 AS INT)").as("out_width"),
        expr("CAST(height * scale_pm DIV 1000 AS INT)").as("out_height"),
        (col("scale_pm") < 1000).as("downscaled"))
      .orderBy(col("doc_id"))
  }

  val resizeMetaSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(16 + strlen(text) % 64 AS INT) AS width,
       |    CAST(16 + strlen(text) % 48 AS INT) AS height
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, width, height,
       |    CAST(least(($resizeMaxW * 1000) // width, ($resizeMaxH * 1000) // height) AS BIGINT) AS scale_pm
       |  FROM g)
       |SELECT doc_id, width, height, scale_pm,
       |  CAST((width * scale_pm) // 1000 AS INT) AS out_width,
       |  CAST((height * scale_pm) // 1000 AS INT) AS out_height,
       |  scale_pm < 1000 AS downscaled
       |FROM s ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ aspect buckets
  //
  // ASPECT-RATIO BUCKETING — the batching strategy diffusion/vision
  // training actually uses (SDXL-style bucketed batches: resizing every
  // image to one square wastes pixels and distorts geometry, so the
  // corpus is partitioned into a small fixed set of aspect buckets and
  // each batch is drawn from ONE bucket at that bucket's train
  // resolution). Every doc's fake geometry (the FakeCodec contract) maps
  // to the nearest bucket by INTEGER per-mille aspect distance — least()
  // over the five |ar_pm − bucket_pm| terms, CASE evaluated in ascending
  // bucket_pm order so ties deterministically take the narrower bucket.
  // The report is the per-bucket census a dataloader is configured from.
  //
  // Scale shape: classification is pure in-row integer arithmetic (no
  // join, no window — the bucket table is five literals compiled into
  // the projection); then ONE ≤5-key aggregation + a 1-row total
  // broadcast. Exact integers end to end.

  /** (train_w, train_h) bucket grid, ~a 320²-pixel budget per bucket. */
  val aspectBuckets: Seq[(Int, Int)] =
    Seq((160, 384), (192, 320), (256, 256), (320, 192), (384, 160))

  def aspectBucketsReport(spark: SparkSession, dir: String): DataFrame = {
    // per-mille ratios as Scala-computed literals — engines share exact
    // constants (the hyperplane-literal device)
    val pms = aspectBuckets.map { case (w, h) => (w, h, w * 1000L / h) }
      .sortBy(_._3)
    val minDist = pms.map { case (_, _, pm) => s"abs(ar_pm - $pm)" }
      .mkString("least(", ", ", ")")
    def pick(sel: ((Int, Int, Long)) => String): String =
      pms.init.map { case t @ (_, _, pm) =>
        s"WHEN abs(ar_pm - $pm) = $minDist THEN ${sel(t)}"
      }.mkString("CASE ", " ", s" ELSE ${sel(pms.last)} END")
    val g = Tables.documents(spark, dir)
      .select(expr("CAST(16 + octet_length(text) % 64 AS INT)").as("width"),
        expr("CAST(16 + octet_length(text) % 48 AS INT)").as("height"))
      .select(col("width"), col("height"),
        expr("width * 1000 DIV height").as("ar_pm"))
      .select(col("ar_pm"),
        expr(pick { case (w, h, _) => s"'${w}x$h'" }).as("bucket"),
        expr(pick { case (_, _, pm) => pm.toString }).as("bucket_pm"))
    val byBucket = g.groupBy(col("bucket"), col("bucket_pm"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ar_pm")).as("min_ar_pm"),
        max(col("ar_pm")).as("max_ar_pm"))
    val total = byBucket.agg(sum(col("n_docs")).as("t_docs"))
    byBucket.crossJoin(broadcast(total))
      .select(col("bucket"), col("bucket_pm").cast("long").as("bucket_pm"),
        col("n_docs"),
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV t_docs" +
          " AS BIGINT)").as("doc_share_ppm"),
        col("min_ar_pm"), col("max_ar_pm"))
      .orderBy(col("bucket_pm"), col("bucket"))
  }

  val aspectBucketsSql: String = {
    val pms = aspectBuckets.map { case (w, h) => (w, h, w * 1000L / h) }
      .sortBy(_._3)
    val minDist = pms.map { case (_, _, pm) => s"abs(ar_pm - $pm)" }
      .mkString("least(", ", ", ")")
    def pick(sel: ((Int, Int, Long)) => String): String =
      pms.init.map { case t @ (_, _, pm) =>
        s"WHEN abs(ar_pm - $pm) = $minDist THEN ${sel(t)}"
      }.mkString("CASE ", " ", s" ELSE ${sel(pms.last)} END")
    s"""WITH g AS (
       |  SELECT (16 + strlen(text) % 64) * 1000 // (16 + strlen(text) % 48)
       |    AS ar_pm
       |  FROM documents),
       |picked AS (
       |  SELECT ar_pm,
       |    ${pick { case (w, h, _) => s"'${w}x$h'" }} AS bucket,
       |    ${pick { case (_, _, pm) => pm.toString }} AS bucket_pm
       |  FROM g),
       |bb AS (
       |  SELECT bucket, bucket_pm, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(min(ar_pm) AS BIGINT) AS min_ar_pm,
       |    CAST(max(ar_pm) AS BIGINT) AS max_ar_pm
       |  FROM picked GROUP BY 1, 2),
       |t AS (SELECT sum(n_docs) AS t_docs FROM bb)
       |SELECT bucket, CAST(bucket_pm AS BIGINT) AS bucket_pm, n_docs,
       |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // t_docs AS BIGINT)
       |    AS doc_share_ppm,
       |  min_ar_pm, max_ar_pm
       |FROM bb, t ORDER BY bucket_pm, bucket""".stripMargin
  }

  /** Perceptual-hash near-dup detection over OPAQUE PAYLOADS — the
    * media-dedup gate of a multimodal pipeline: re-uploads, re-encodes
    * with touched metadata, and truncated copies of the same asset
    * should collapse without any codec. The byte-stream analogue of a
    * DCT pHash: a 60-bit SimHash over the payload's distinct sliding
    * 4-grams (content locality — two payloads sharing most local
    * content land within a few bits), then the 4×15-bit chunk-banded
    * candidate equi-join (complete for hamming ≤ 3; never all-pairs).
    * Where a real codec IS available, swap the 4-gram features for
    * decoded-frame features in the same (doc_id, h) contract —
    * everything downstream (signature, banding, verify) is unchanged
    * (Dedup.simhashPairsFromHashes).
    *
    * Distinct from dedup_simhash the way the reference separates
    * text-dedup from asset-dedup: that one tokenizes WORDS (natural
    * language), this slides byte/char windows over a payload with no
    * token structure at all.
    */
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    // plan choice: the signature aggregate reuses this doc_id exchange
    val grams = Tables.documents(spark, dir).filter(length(col("text")) >= 4)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")))
        .as("g"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)").as("h"))
    graft.text.Dedup.simhashPairsFromHashes(grams)
  }

  val phashPairsSql: String =
    """WITH grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, length(text) - 2),
      |    i -> substr(text, CAST(i AS INT), 4)))) AS g
      |  FROM documents WHERE length(text) >= 4),
      |h AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM grams),
      |bits AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, range(60) r(b)
      |  GROUP BY doc_id, b),
      |sigs AS (
      |  SELECT doc_id, sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS sig
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
}
