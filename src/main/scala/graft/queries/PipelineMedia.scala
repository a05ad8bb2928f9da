package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Core._
import graft.functions.Text
import graft.operators.{Dedup, Retrieval, Similarity, Tokenize}
import PipelineSql._

/** Multimodal family (m1-m4): opaque binary payload columns with REAL
  * javax.imageio codec work — split out of Pipeline.scala in r14.
  */
object PipelineMedia {
  private type Q = (SparkSession, String) => DataFrame

  /** Typed outputs of the multimodal stages. Since r13 the decode is
    * REAL: m2 synthesizes a deterministic image per doc, encodes it to
    * actual PNG/BMP container bytes and decodes them back through
    * `javax.imageio` (the JDK's standard imaging API — no external
    * libs), emitting the DECODED dims + pixel checksum; m4 runs a real
    * bilinear `Graphics2D` resize. The oracle predicts dims/checksums
    * from the same md5-derived parameters and pins `decode_ok` /
    * `resize_ok` — booleans the query computes by comparing the decoded
    * result against the synthesized ground truth, so a codec regression
    * flips a hash-checked column.
    */
  /** The opaque-binary media column between the encode and decode
    * stages — image/audio/video as `binary` with typed metadata, the
    * brief's literal column shape. `expect_b0` carries the synthesis
    * parameter forward so the decode stage can verify the round-trip
    * without re-hashing the source text.
    */
  final case class MediaPayload(doc_id: Long, codec: String,
                                payload: Array[Byte], expect_b0: Int,
                                expect_w: Int, expect_h: Int)
  final case class MediaDecoded(doc_id: Long, codec: String, width: Long,
                                height: Long, pix_sum: Long,
                                decode_ok: Boolean)
  final case class MediaResized(doc_id: Long, w0: Long, h0: Long,
                                w1: Long, h1: Long, resize_ok: Boolean)
  /** m3's multi-frame container stage pair: an actual animated-GIF
    * payload (one gray frame per synthetic "video" frame) and the
    * per-sampled-frame descriptor decoded back out of it.
    */
  final case class VideoPayload(doc_id: Long, payload: Array[Byte],
                                expect_b0: Int, expect_w: Int,
                                expect_h: Int, expect_frames: Int)
  final case class FrameSampled(doc_id: Long, n_frames: Long,
                                frame_idx: Long, ts_ms: Long,
                                width: Long, height: Long, pix: Long,
                                decode_ok: Boolean)
  val defs: Map[String, Q] = Map(

    // M1: multimodal metadata join — documents ⋈ embeddings with an opaque
    // binary payload column (md5 bytes standing in for media bytes) and
    // typed metadata projected out of it.
    "m1_multimodal_meta" -> { (s, d) =>
      val m = md5(col("text"))
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"),
          col("label").cast("long").as("label"),
          length(unhex(m)).cast("long").as("n_bytes"),
          size(col("embedding")).cast("long").as("emb_dim"),
          substring(m, 1, 8).as("header_hex"))
    },

    // M2: REAL media decode in the mapPartitions codec shape (batch
    // iteration, one digest/codec instance per partition, typed output).
    // Per doc: synthesize a deterministic image (dims + gradient pattern
    // from the doc's md5 bytes), encode to actual PNG or BMP container
    // bytes, then DECODE those bytes back via javax.imageio.ImageIO and
    // extract features from the DECODED raster — width/height, the
    // pixel-value sum, and decode_ok = pixel-exact equality with the
    // synthesized ground truth. The oracle recomputes dims + pix_sum
    // from the same md5 arithmetic and expects decode_ok = true, so the
    // whole encode→bytes→decode round-trip is hash-verified. At 100 TB
    // the payload column would arrive from storage instead of being
    // synthesized; the decode stage (this one) is unchanged.
    "m2_media_extract" -> { (s, d) =>
      import s.implicits._
      // Stage 1 — ENCODE: synthesize a deterministic md5-parameterized
      // image per doc and emit it as an opaque `payload BINARY` column
      // (real PNG/BMP container bytes) with typed metadata — the
      // brief's literal media-column shape. At 100 TB this stage is a
      // storage read instead of a synthesis; the column shape and the
      // decode stage below are unchanged.
      // spread BEFORE the codec chain (r16): documents at this SF is a
      // single parquet split, so the whole encode→decode ran as ONE task
      // (profiled: 2 tasks, max_task ≈ wall, 3% core utilization); the
      // per-doc ImageIO work is embarrassingly parallel and at cluster
      // scale the file count exceeds 4× cores and spread no-ops
      val encoded = spreadPartitions(Tables.documents(s, d)
        // a null payload would NPE the codec kernel executor-side; the
        // contract (both engines) is decode-only-present, row-for-row
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          it.map { case (id, text) =>
            val p = digest.digest(text.getBytes("UTF-8"))
            val b0 = p(0) & 0xff; val b1 = p(1) & 0xff; val b2 = p(2) & 0xff
            val w = 8 + b1 % 24; val h = 8 + b2 % 24
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = (b0 + 7 * x + 13 * y) % 256
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            val codec = if (b0 % 2 == 0) "png" else "bmp"
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, codec, baos)
            MediaPayload(id, codec, baos.toByteArray, b0, w, h)
          }
        }
      // Stage 2 — DECODE: consume the binary column through ImageIO and
      // extract features from the DECODED raster. A narrow map over
      // stage 1 (no shuffle between them); decode_ok is pixel-exact
      // equality with the synthesis parameters carried in the metadata.
      encoded.mapPartitions { it =>
          it.map { mp =>
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(mp.payload))
            val raster = dec.getRaster
            var pixSum = 0L
            var ok = dec.getWidth == mp.expect_w &&
              dec.getHeight == mp.expect_h
            var y = 0
            while (y < dec.getHeight) {
              var x = 0
              while (x < dec.getWidth) {
                val v = raster.getSample(x, y, 0)
                pixSum += v
                ok &&= v == (mp.expect_b0 + 7 * x + 13 * y) % 256
                x += 1
              }
              y += 1
            }
            MediaDecoded(mp.doc_id, mp.codec, dec.getWidth.toLong,
              dec.getHeight.toLong, pixSum, ok)
          }
        }
        .toDF()
    },

    // M3: REAL multi-frame container decode + frame sampling (the m2
    // precedent, extended to video shape): every doc synthesizes an
    // ACTUAL animated-GIF payload — (b0 % 48)+2 full frames of
    // md5-derived dims, each a constant gray (b0 + 11·f) % 256 — then
    // the sampling stage opens the container through javax.imageio,
    // reads the REAL frame count back (ImageReader.getNumImages), and
    // decodes ONLY every 8th frame (reader.read(i) — the point of frame
    // sampling: untouched frames stay undecoded), emitting per-frame
    // dims + the decoded pixel value + decode_ok (frame count, dims,
    // and every pixel equal to the synthesis arithmetic). The oracle
    // recomputes the same md5 arithmetic and pins decode_ok = true, so
    // the encode→container→sampled-decode round-trip is hash-verified.
    // At 100 TB the payload column arrives from storage; this decode
    // stage is unchanged (one codec instance per partition, frames
    // sampled not enumerated).
    "m3_frame_sample" -> { (s, d) =>
      import s.implicits._
      // spread before the GIF encode/decode chain — same single-split
      // serialization as m2 (r16; no-op at cluster-scale split counts)
      val encoded = spreadPartitions(Tables.documents(s, d)
        .filter(col("text").isNotNull) // null payload contract, as m2
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("gif").next()
          it.map { case (id, text) =>
            val p = digest.digest(text.getBytes("UTF-8"))
            val b0 = p(0) & 0xff; val b1 = p(1) & 0xff; val b2 = p(2) & 0xff
            val nFrames = (b0 % 48) + 2
            val w = 8 + b1 % 8; val h = 8 + b2 % 8
            val baos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nFrames) {
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val v = (b0 + 11 * f) % 256
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { raster.setSample(x, y, 0, v); x += 1 }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence(); ios.close()
            VideoPayload(id, baos.toByteArray, b0, w, h, nFrames)
          }
        }
      encoded.mapPartitions { it =>
          val reader = javax.imageio.ImageIO
            .getImageReadersByFormatName("gif").next()
          it.flatMap { vp =>
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(vp.payload))
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true) // the DECODED count
            val out = (0 until n by 8).map { f =>
              val dec = reader.read(f)
              val expect = (vp.expect_b0 + 11 * f) % 256
              var ok = n == vp.expect_frames &&
                dec.getWidth == vp.expect_w && dec.getHeight == vp.expect_h
              var pix = -1L
              var y = 0
              while (y < dec.getHeight) {
                var x = 0
                while (x < dec.getWidth) {
                  val v = dec.getRGB(x, y) & 0xff
                  if (pix < 0) pix = v
                  ok &&= v == expect
                  x += 1
                }
                y += 1
              }
              FrameSampled(vp.doc_id, n.toLong, f.toLong, f * 40L,
                dec.getWidth.toLong, dec.getHeight.toLong, pix, ok)
            }
            iis.close()
            out
          }
        }
        .toDF()
    },

    // M4: REAL batched resize — the mapInPandas batch shape in Scala:
    // one codec per partition, frames processed in `grouped(batch)`
    // slices (a real kernel amortizes buffer setup per batch, not per
    // row). Per doc: synthesize the source image at md5-derived dims
    // filled with a constant gray, run an actual bilinear Graphics2D
    // resize fit-to-224 preserving aspect ratio, and read the output
    // dims + a center-pixel probe back from the RESIZED raster
    // (bilinear of a constant is that constant, so the probe verifies
    // the kernel really resampled the source). The oracle recomputes
    // the fit-to-224 arithmetic and pins resize_ok = true.
    "m4_media_resize" -> { (s, d) =>
      import s.implicits._
      // spread before the resize kernel — same single-split serialization
      // as m2/m3 (r16; no-op at cluster-scale split counts)
      spreadPartitions(Tables.documents(s, d)
        .filter(col("text").isNotNull) // same null contract as m2
        .select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          it.grouped(64).flatMap { chunk =>
            chunk.map { case (id, text) =>
              val p = digest.digest(text.getBytes("UTF-8"))
              val fill = p(1) & 0xff
              val w0 = 64 + (p(1) & 0xff) % 192 * 4
              val h0 = 64 + (p(2) & 0xff) % 192 * 4
              val (w1, h1) =
                if (w0 >= h0) (224, math.floor(h0 * 224.0 / w0).toInt)
                else (math.floor(w0 * 224.0 / h0).toInt, 224)
              val src = new java.awt.image.BufferedImage(
                w0, h0, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val buf = src.getRaster.getDataBuffer
                .asInstanceOf[java.awt.image.DataBufferInt].getData
              java.util.Arrays.fill(buf,
                (fill << 16) | (fill << 8) | fill)
              val dst = new java.awt.image.BufferedImage(
                w1, h1, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, w1, h1, null)
              g.dispose()
              val ok = dst.getWidth == w1 && dst.getHeight == h1 &&
                dst.getRaster.getSample(w1 / 2, h1 / 2, 0) == fill
              MediaResized(id, w0.toLong, h0.toLong, dst.getWidth.toLong,
                dst.getHeight.toLong, ok)
            }
          }
        }
        .toDF()
    },
  )

  val oracles: Map[String, String] = Map(
    "m1_multimodal_meta" ->
      """SELECT d.doc_id, d.lang, CAST(e.label AS BIGINT) AS label,
           octet_length(unhex(md5(d.text))) AS n_bytes,
           len(e.embedding) AS emb_dim,
           substr(md5(d.text), 1, 8) AS header_hex
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         ORDER BY d.doc_id""",
    // m2: the oracle recomputes the synthesized image's dims + gradient
    // pixel sum from the md5 bytes (x = i % w, y = i // w over one
    // unnest) and pins decode_ok — the Spark side earns `true` only by
    // round-tripping real PNG/BMP bytes through ImageIO pixel-exactly
    "m2_media_extract" ->
      """WITH h AS (SELECT doc_id, md5(text) AS m FROM documents
           WHERE text IS NOT NULL),
         b AS (SELECT doc_id,
           16*(strpos('0123456789abcdef', substr(m, 1, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 2, 1))-1) AS b0,
           16*(strpos('0123456789abcdef', substr(m, 3, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 4, 1))-1) AS b1,
           16*(strpos('0123456789abcdef', substr(m, 5, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 6, 1))-1) AS b2
         FROM h),
         dims AS (SELECT doc_id, b0,
           8 + (b1 % 24) AS w, 8 + (b2 % 24) AS h FROM b),
         px AS (SELECT doc_id, b0, w, h,
           unnest(generate_series(0, w*h - 1)) AS i FROM dims)
         SELECT doc_id,
           CASE WHEN b0 % 2 = 0 THEN 'png' ELSE 'bmp' END AS codec,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(SUM((b0 + 7*(i % w) + 13*(i // w)) % 256) AS BIGINT)
             AS pix_sum,
           TRUE AS decode_ok
         FROM px GROUP BY doc_id, b0, w, h
         ORDER BY doc_id""",
    // m3: the twin recomputes n_frames/dims/pixel from the same md5
    // arithmetic the Spark side SYNTHESIZES with — but the Spark values
    // come back out of an actual GIF decode (and decode_ok pins the
    // round-trip), so a codec that dropped a frame, mis-sized a raster,
    // or perturbed a pixel hash-mismatches here
    "m3_frame_sample" ->
      """WITH h AS (SELECT doc_id, md5(text) AS m FROM documents
           WHERE text IS NOT NULL),
         b AS (SELECT doc_id,
           16*(strpos('0123456789abcdef', substr(m, 1, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 2, 1))-1) AS b0,
           16*(strpos('0123456789abcdef', substr(m, 3, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 4, 1))-1) AS b1,
           16*(strpos('0123456789abcdef', substr(m, 5, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 6, 1))-1) AS b2
         FROM h),
         f AS (SELECT doc_id, b0,
               CAST((b0 % 48) + 2 AS BIGINT) AS n_frames,
               CAST(8 + (b1 % 8) AS BIGINT) AS width,
               CAST(8 + (b2 % 8) AS BIGINT) AS height
               FROM b),
         fr AS (SELECT doc_id, b0, n_frames, width, height,
                  CAST(unnest(generate_series(0, n_frames - 1, 8))
                    AS BIGINT) AS frame_idx
                FROM f)
         SELECT doc_id, n_frames, frame_idx,
           CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
           width, height,
           CAST((b0 + 11 * frame_idx) % 256 AS BIGINT) AS pix,
           TRUE AS decode_ok
         FROM fr ORDER BY doc_id, frame_idx""",
    "m4_media_resize" ->
      """WITH h AS (SELECT doc_id, md5(text) AS m FROM documents
           WHERE text IS NOT NULL),
         b AS (SELECT doc_id,
           16*(strpos('0123456789abcdef', substr(m, 3, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 4, 1))-1) AS b1,
           16*(strpos('0123456789abcdef', substr(m, 5, 1))-1)
             + (strpos('0123456789abcdef', substr(m, 6, 1))-1) AS b2
         FROM h),
         dims AS (SELECT doc_id,
           64 + (b1 % 192)*4 AS w0, 64 + (b2 % 192)*4 AS h0 FROM b)
         SELECT doc_id, CAST(w0 AS BIGINT) AS w0, CAST(h0 AS BIGINT) AS h0,
           CAST(CASE WHEN w0 >= h0 THEN 224
                ELSE floor(w0*224.0/h0) END AS BIGINT) AS w1,
           CAST(CASE WHEN w0 >= h0 THEN floor(h0*224.0/w0)
                ELSE 224 END AS BIGINT) AS h1,
           TRUE AS resize_ok
         FROM dims ORDER BY doc_id""",
  )
}
