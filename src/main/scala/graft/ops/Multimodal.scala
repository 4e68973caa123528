package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal columns (SURVEY §2.9): image/audio/video as opaque
  * `binary` payloads with a typed metadata struct, plus the
  * decode / feature-extract / frame-sample plumbing a training-data
  * pipeline needs.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub ([[FakeDecoder]]) — but the
  * Spark-side shape is real and tested: binary columns flow through
  * parquet scans column-pruned like any other column, feature
  * extraction runs as `mapPartitions` over typed rows (one JVM-side
  * batch loop per partition — the Scala analogue of `mapInPandas`
  * batches, no per-row UDF boxing), and frame sampling is a
  * `posexplode` over payload slices. At 100 TB the payload column
  * dominates storage; everything here reads it exactly once and
  * carries only (id, features) forward.
  */
object Multimodal {

  /** One media row: payload + typed metadata (the multimodal schema). */
  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
      n_bytes: Long, mime: String)

  case class FeatureRow(doc_id: Long, kind: String, dim: Int,
      features: Array[Float], n_bytes: Long)

  case class Frame(doc_id: Long, frame_no: Int, frame: Array[Byte])

  /** Deterministic media table synthesized from `documents`: the text
    * bytes stand in for encoded media; kind/mime cycle by doc_id.
    * (In production this is `spark.read.parquet` over real payloads —
    * the engine only sees `binary` + metadata either way.) */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
      element_at(array(lit("image/png"), lit("audio/wav"),
        lit("video/mp4")), (col("doc_id") % 3 + 1).cast(IntegerType))
        .as("mime"))

  /** STUB decoder — deterministic fake standing in for a real codec
    * (??? in spirit: the container ships no image/audio libraries).
    * Emits a 16-bin byte histogram normalized to [0,1]; a real
    * deployment swaps `decode` for e.g. JPEG→pixels with the same
    * signature and the pipeline shape is unchanged. */
  object FakeDecoder {
    val Dim = 16
    def decode(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](Dim)
      if (payload.isEmpty) return hist
      payload.foreach { b => hist((b & 0xFF) / Dim) += 1f }
      val n = payload.length.toFloat
      hist.map(_ / n)
    }
  }

  /** Feature extraction over typed rows: one partition = one batch
    * loop (the mapInPandas shape). Only (id, kind, features) survives
    * — the payload is dropped before any shuffle. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val f = FakeDecoder.decode(r.payload)
        FeatureRow(r.doc_id, r.kind, f.length, f, r.payload.length.toLong)
      }
    }
  }

  /** Frame sampling for "video" payloads: fixed-stride slices of the
    * payload, exploded one row per frame — the scan-side shape of
    * video frame extraction (stride/size in bytes here; a real
    * decoder slices on keyframes with the same plumbing). */
  def frameSample(media: DataFrame, frameBytes: Int = 64,
      stride: Int = 128): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L),
            greatest(expr(s"(length(payload) - 1) div $stride"), lit(0L))),
          i => substring(col("payload"), (i * stride + 1).cast(IntegerType),
            lit(frameBytes)))))
      .select(col("doc_id"), col("pos").cast(IntegerType).as("frame_no"),
        col("col").as("frame"))

  // ---------------------------------------------------------------- //

  /** Gate query: metadata + payload sizing (oracle-checkable — the
    * byte length of UTF-8 text is engine-independent). */
  def meta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), col("kind"), col("mime"), col("n_bytes"))
      .orderBy(col("doc_id"))

  val metaSql: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |  ['image/png','audio/wav','video/mp4'][CAST(doc_id % 3 AS INTEGER) + 1] AS mime,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Gate query: feature vectors summarized per kind — proves the
    * typed mapPartitions path runs distributed and deterministic.
    *
    * Oracle-exact despite float features: bin 0 of the stub histogram
    * is (count of bytes ≤ 0x0F) / n as a float32, so
    * `round(features[0] * n_bytes)` recovers the integer count exactly
    * (relative float32 error < 2^-24 → absolute error < 0.5 for any
    * payload under 8 MB). In UTF-8, bytes 0x00–0x0F arise only from
    * codepoints U+0000–U+000F (multibyte sequences use bytes ≥ 0x80),
    * so DuckDB can reproduce the count as characters stripped by a
    * control-char regex — an engine-independent integer oracle for a
    * float feature pipeline. */
  def featureSummary(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val media = mediaTable(s, dir).as[MediaRow]
    extractFeatures(media).toDF()
      .withColumn("bin0_count",
        round(element_at(col("features"), 1) * col("n_bytes"))
          .cast(LongType))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        max(col("dim")).as("dim"),
        sum(col("bin0_count")).as("bin0_bytes"),
        sum(col("n_bytes")).as("total_bytes"))
      .orderBy(col("kind"))
  }

  val featureSummarySql: String =
    """SELECT
      |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |  count(*) AS n,
      |  CAST(16 AS INTEGER) AS dim,
      |  CAST(sum(length(text) -
      |    length(regexp_replace(text, '[\x00-\x0f]', '', 'g'))) AS BIGINT)
      |    AS bin0_bytes,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
      |FROM documents
      |GROUP BY 1
      |ORDER BY kind""".stripMargin

  /** Gate query: frame sampling, frames decoded back to text for the
    * oracle (the synthetic payloads are UTF-8 ASCII, so byte slices
    * equal DuckDB's character slices; with real codecs this gate
    * stays rows-only like the features). */
  def frames(s: SparkSession, dir: String): DataFrame =
    frameSample(mediaTable(s, dir))
      .select(col("doc_id"), col("frame_no"),
        decode(col("frame"), "UTF-8").as("frame_text"))
      .orderBy(col("doc_id"), col("frame_no"))

  val framesSql: String =
    """SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
      |  substring(text, CAST(i * 128 + 1 AS BIGINT), 64) AS frame_text
      |FROM documents,
      |  LATERAL unnest(generate_series(0,
      |    greatest((length(text) - 1) // 128, 0))) AS t(i)
      |WHERE doc_id % 3 = 2
      |ORDER BY doc_id, frame_no""".stripMargin

  /** Exact binary-content dedup — [[graft.ops.Dedup]]'s front door
    * applied to the MEDIA table: payloads group by their
    * cryptographic digest (`sha2` over the raw bytes — at 100 TB the
    * shuffle carries 32-byte digests, never payloads), keep-lowest-id
    * survivorship, per-kind accounting with a kept-set id checksum so
    * the gate pins membership. The oracle hashes the same bytes from
    * the text the payloads were derived from. */
  def binaryDedup(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .groupBy(col("kind"), md5(col("payload")).as("digest"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keep_id"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("copies")).as("n_payloads"),
        sum(when(col("copies") > 1, 1L).otherwise(0L))
          .as("n_dup_groups"),
        sum(col("keep_id")).as("kept_checksum"))
      .orderBy(col("kind"))

  val binaryDedupSql: String =
    """WITH media AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    md5(text) AS digest
      |  FROM documents),
      |groups AS (
      |  SELECT kind, digest, COUNT(*) AS copies,
      |    MIN(doc_id) AS keep_id
      |  FROM media GROUP BY kind, digest)
      |SELECT kind, COUNT(*) AS n_distinct,
      |  CAST(SUM(copies) AS BIGINT) AS n_payloads,
      |  CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_groups,
      |  CAST(SUM(keep_id) AS BIGINT) AS kept_checksum
      |FROM groups GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** Byte-range chunk plan for parallel decode — the scheduling step
    * before a heavy codec pass: split every payload into fixed
    * 256-byte ranges (doc, chunk_idx, off, len) so decode workers
    * can fan out WITHIN a blob (at 100 TB single multi-GB videos
    * otherwise serialize on one task). The plan is pure arithmetic
    * over `n_bytes` — the payload column itself is never read
    * (column pruning does the work), which is the point: plan
    * cheaply, decode once. Empty payloads yield no chunks by
    * contract. */
  def byteChunks(s: SparkSession, dir: String): DataFrame = {
    mediaTable(s, dir)
      .filter(col("doc_id") < 50 && col("n_bytes") > 0)
      .select(col("doc_id"), col("n_bytes"),
        explode(sequence(lit(0L),
          expr("(n_bytes + 255) div 256 - 1"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * 256).as("off"),
        least(lit(256L), col("n_bytes") - col("chunk_idx") * 256)
          .as("len"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val byteChunksSql: String =
    """SELECT doc_id, chunk_idx, chunk_idx * 256 AS off,
      |  LEAST(256, n_bytes - chunk_idx * 256) AS len
      |FROM (
      |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |    unnest(generate_series(0,
      |      (CAST(strlen(text) AS BIGINT) + 255) // 256 - 1))
      |      AS chunk_idx
      |  FROM documents WHERE doc_id < 50 AND strlen(text) > 0)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Perceptual hash over the decoded media stream (the blockHash /
    * aHash family: average-intensity grid → sign bits): the payload's
    * code stream is folded into a 32-cell "luma grid" (cell = mean
    * code over its contiguous slice — the stub decode, exactly
    * [[FakeDecoder]]'s byte-histogram spirit but position-aware), and
    * bit i is set when cell i's mean clears the per-doc grid mean.
    * Near-identical payloads (crop/append a few bytes) move few cell
    * means, so phash Hamming distance is small — the
    * [[graft.ops.Dedup]] banded-hamming join runs on these codes
    * unchanged (spec-proven). All arithmetic is exact integer
    * (`·10⁶ div` means, strict > threshold), so the 32-bit code is
    * hash-portable; a real deployment swaps the char-code stream for
    * decoded pixels with the same plan.
    *
    * Scale: one explode over payload length (the decode pass a real
    * codec would do anyway), two map-combinable aggregates, zero
    * joins wider than (doc, 32 cells). */
  def phash(s: SparkSession, dir: String): DataFrame = {
    // Per-cell sums in ONE compiled scan pass (CellByteStats kernel):
    // the posexplode(per-char transform) formulation interpreted a
    // CodegenFallback lambda per CHARACTER and shuffled one row per
    // character into the (doc, cell) groupBy — measured as the whole
    // 4 s cost of the gate; the kernel emits the 32 aggregated cells
    // directly, so the only exploded rows are cells.
    val cells = Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(graft.plans.TextExpressions.cellStats(col("text"), 32))
          .as("s"))
      .select(col("doc_id"), col("s.cell").as("cell"),
        expr("(s.sum * 1000000) div s.cnt").as("mean_e6"))
    cells
      .withColumn("thr", expr("sum(mean_e6) over" +
        " (partition by doc_id) div count(1) over (partition by doc_id)"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("mean_e6") > col("thr"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(cell AS INT))"))
          .otherwise(0L)).as("phash"),
        sum(when(col("mean_e6") > col("thr"), 1L).otherwise(0L))
          .as("n_bits"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("doc_id"))
  }

  val phashSql: String =
    """WITH chars AS (
      |  SELECT doc_id, len, i - 1 AS p,
      |    CAST(ascii(substring(text, CAST(i AS INTEGER), 1))
      |      AS BIGINT) AS code
      |  FROM (SELECT doc_id, text, length(text) AS len,
      |          unnest(range(1, length(text) + 1)) AS i
      |        FROM documents WHERE length(text) > 0)),
      |cells AS (
      |  SELECT doc_id, (p * 32) // len AS cell,
      |    (CAST(SUM(code) AS BIGINT) * 1000000) // COUNT(*) AS mean_e6
      |  FROM chars GROUP BY doc_id, (p * 32) // len),
      |thr AS (
      |  SELECT doc_id, cell, mean_e6,
      |    CAST(SUM(mean_e6) OVER (PARTITION BY doc_id) AS BIGINT)
      |      // CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
      |      AS thr
      |  FROM cells)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN mean_e6 > thr
      |    THEN CAST(1 AS BIGINT) << CAST(cell AS INTEGER)
      |    ELSE 0 END) AS BIGINT) AS phash,
      |  CAST(SUM(CASE WHEN mean_e6 > thr THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_bits,
      |  COUNT(*) AS n_cells
      |FROM thr GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Media RESIZE — the box-filter downsample every image/audio
    * pipeline runs before featurization: the decoded stream is
    * partitioned into 16 contiguous cells and each cell emits its
    * EXACT integer mean intensity (·100, `div` on non-negative
    * counts), i.e. anti-aliased nearest-rate resampling on the stub
    * decode. Rows come out long-form (doc, cell, n_in_cell,
    * mean_e2) so the oracle hash-checks every resampled value; a
    * real codec swaps the char-code stream for pixels with the
    * same plan (the [[phash]] plumbing, kept as the value-emitting
    * op rather than the sign-bit sketch).
    *
    * Scale: one explode over payload length + one map-combinable
    * (doc, cell) aggregate — the decode pass a real pipeline pays
    * anyway; output is 16 rows per media item. */
  def resize(s: SparkSession, dir: String, cells: Int = 16)
      : DataFrame = {
    // One compiled scan pass (CellByteStats kernel — see [[phash]]):
    // the per-char explode + (doc, cell) shuffle is gone; output rows
    // and values are bit-identical, the oracle is unchanged.
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(graft.plans.TextExpressions
          .cellStats(col("text"), cells)).as("s"))
      .select(col("doc_id"), col("s.cell").as("cell"),
        col("s.cnt").as("n_in_cell"),
        expr("(s.sum * 100) div s.cnt").as("mean_e2"))
      .orderBy(col("doc_id"), col("cell"))
  }

  def resizeSql(cells: Int = 16): String =
    s"""WITH chars AS (
      |  SELECT doc_id, len, i - 1 AS p,
      |    CAST(ascii(substring(text, CAST(i AS INTEGER), 1))
      |      AS BIGINT) AS code
      |  FROM (SELECT doc_id, text, length(text) AS len,
      |          unnest(range(1, length(text) + 1)) AS i
      |        FROM documents WHERE length(text) > 0))
      |SELECT doc_id, (p * $cells) // len AS cell,
      |  COUNT(*) AS n_in_cell,
      |  (CAST(SUM(code) AS BIGINT) * 100) // COUNT(*) AS mean_e2
      |FROM chars GROUP BY doc_id, (p * $cells) // len
      |ORDER BY doc_id, cell""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_resize" -> ((s: SparkSession, d: String) => resize(s, d)),
    "multimodal_phash" -> (phash _),
    "multimodal_chunks" -> (byteChunks _),
    "multimodal_dedup" -> (binaryDedup _),
    "multimodal_meta"     -> (meta _),
    "multimodal_features" -> (featureSummary _),
    "multimodal_frames"   -> (frames _))

  def oracle: Map[String, String] = Map(
    "multimodal_resize" -> resizeSql(),
    "multimodal_phash" -> phashSql,
    "multimodal_chunks"   -> byteChunksSql,
    "multimodal_dedup"    -> binaryDedupSql,
    "multimodal_meta"     -> metaSql,
    "multimodal_features" -> featureSummarySql,
    "multimodal_frames"   -> framesSql)
}
