package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north-star extension): media travel as
  * opaque `binary` columns with a typed metadata struct alongside; decode /
  * feature-extraction runs per partition against batches of payload bytes.
  *
  * The decode step itself is STUBBED (no image/audio libraries in this
  * environment — see [[StubDecoder]]): it derives deterministic fake
  * dimensions from the payload bytes. Everything Spark-side is real and
  * load-bearing: the schema, the binary encoding, the mapPartitions batch
  * shape (one decoder instance per partition, never per row — the same
  * lifecycle a JNI/FFmpeg/PIL-backed decoder needs), and the column-
  * pruning-friendly split of cheap metadata vs heavy payload.
  */
object Multimodal {

  /** Typed metadata produced by decode. */
  case class MediaMeta(
      doc_id: Long, n_bytes: Long, width: Int, height: Int, n_frames: Int)

  /** documents → (doc_id, media_type, payload) binary rows: the ingest
    * shape for any media table. Payload = utf-8 bytes of the text stands
    * in for image bytes; the pipeline does not care what's inside. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    graft.ops.Tables.table(s, d, "documents") // schema-cached raw read
      .select(col("doc_id"), lit("image/fake").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))

  /** The decoder seam: one instance per PARTITION (constructed inside the
    * task, after deserialization — the lifecycle a JNI/FFmpeg/ImageIO
    * decoder needs); `decode` is the per-payload hot call. Implementations
    * swap without touching the Spark plumbing around them. */
  trait Decoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte]): MediaMeta
  }

  /** STUB decoder — deterministic fake in place of a real media library
    * (none in this environment): dimensions are arithmetic in the payload
    * size, which keeps the decode output oracle-checkable relationally. */
  final class StubDecoder extends Decoder {
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = if (payload == null) 0L else payload.length.toLong
      MediaMeta(docId, n,
        width = (n % 640L).toInt + 1,
        height = ((n * 7L) % 480L).toInt + 1,
        n_frames = (docId % 30L).toInt + 1)
    }
  }

  /** REAL image decoder over the JDK's own `javax.imageio` — zero
    * external dependencies, so the "swap in a real decoder" claim is
    * provable here: the spec feeds synthesized PNG and JPEG bytes through
    * the same [[decodeMetaOf]] seam and checks the decoded dimensions.
    * Undecodable payloads (null/empty/not-an-image) degrade to zero
    * dimensions rather than killing the task — per-file error isolation,
    * the same stance the extract pipeline takes.
    *
    * Determinism contract: decoded DIMENSIONS and metadata are
    * deterministic for any conforming decoder of either format. PNG
    * raster VALUES are bit-exact everywhere (lossless format, output
    * mandated by the spec); JPEG raster values are only guaranteed stable
    * within one JVM/decoder implementation — the JPEG spec leaves IDCT
    * precision implementation-defined, so a different decoder may differ
    * by ±1 per sample. Pin JPEG rasters (md5s) only against the same
    * decoder that produced them. */
  final class ImageIODecoder extends Decoder {
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = if (payload == null) 0L else payload.length.toLong
      // try/catch, not just the null return: a payload with a valid PNG
      // signature but a truncated body makes ImageIO.read THROW
      // (IIOException) rather than return null — without the catch one
      // corrupt file fails the task and, after retries, the whole job
      val img = if (n == 0L) null
        else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) MediaMeta(docId, n, 0, 0, 0)
      else MediaMeta(docId, n, img.getWidth, img.getHeight, 1)
    }
  }

  /** Decode / feature-extract over any `(doc_id, payload)` binary frame:
    * mapPartitions so the (expensive, in real life) decoder is
    * constructed once per partition and fed a batch iterator — the Scala
    * analogue of a pandas-batched decode UDF. The factory runs inside
    * the task, so non-serializable native decoder state never ships. */
  def decodeMetaOf(s: SparkSession, media: DataFrame,
      decoder: () => Decoder): Dataset[MediaMeta] = {
    import s.implicits._
    media
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val d = decoder()
        rows.map { case (id, bytes) => d.decode(id, bytes) }
      }
  }

  /** The oracle-checked decode path: the stub decoder over the standard
    * media table (no media libraries in this environment). */
  def decodeMeta(s: SparkSession, d: String): Dataset[MediaMeta] =
    decodeMetaOf(s, mediaTable(s, d), () => new StubDecoder)

  /** Oracle-checkable projection of the decode output. */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    decodeMeta(s, d).toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        col("n_frames"))
      .orderBy(col("doc_id"))

  /** Resize — the binary→binary transform shape: payload in, re-encoded
    * payload out with recomputed dimensions, decoder constructed once
    * per partition. The stub "resampling" keeps every `factor`-th byte
    * (a real implementation swaps in an image scaler without touching
    * the plumbing); output metadata is pure arithmetic in the input so
    * the oracle can recompute it relationally. Payload bytes stay inside
    * the task — only (doc_id, dims, sizes) leave the map. */
  def resize(s: SparkSession, d: String, factor: Int = 2): DataFrame = {
    import s.implicits._
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    mediaTable(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val decoder = new StubDecoder
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          val m = decoder.decode(id, bytes)
          val out = if (bytes == null) Array.emptyByteArray
            else Array.tabulate(((bytes.length + factor - 1) / factor).max(0))(
              i => bytes(i * factor))
          digest.reset()
          val outMd5 = digest.digest(out).map("%02x".format(_)).mkString
          (id, m.width, m.height,
            (m.width + factor - 1) / factor, (m.height + factor - 1) / factor,
            m.n_bytes, out.length.toLong, outMd5)
        }
      }
      .toDF("doc_id", "width", "height", "out_width", "out_height",
        "n_bytes", "out_bytes", "out_md5")
      .orderBy(col("doc_id"))
  }

  /** REAL image resize over the same per-partition lifecycle as
    * [[resize]]: decode via `javax.imageio` (JDK-only), nearest-neighbor
    * downsample by `factor` with an explicit pixel loop — deterministic
    * across JVMs, unlike `Graphics2D.drawImage` whose interpolation is
    * implementation-defined — then re-encode as PNG. The binary→binary
    * contract the stub only shapes is real here: payload in, resampled
    * payload out, dims recomputed from the actual raster. `out_md5` is
    * over the resized RASTER's packed RGB bytes (row-major, 3
    * bytes/pixel), not the encoded PNG, so the pin is codec-independent;
    * the spec re-decodes `payload_out` and recomputes it pixel-exact.
    * Undecodable payloads degrade to zero dims + null payload (per-file
    * error isolation, same stance as [[ImageIODecoder]]). The driver's
    * documents table holds text blobs, not images, so the oracle-checked
    * `x_mm_resize` keeps the synthetic [[resize]]; this path is spec'd
    * on real PNG and JPEG fixtures instead.
    *
    * Determinism contract (per [[ImageIODecoder]]): output dims and the
    * resample/re-encode are deterministic for a FIXED decoded raster —
    * the pixel loop is explicit and the PNG re-encode lossless — so with
    * PNG inputs `out_md5` is bit-exact across JVMs (what lets
    * `x_mm_decode_real` pin it in a DuckDB literal table), while with
    * JPEG inputs the decoded raster itself, hence `out_md5`, is only
    * stable per decoder implementation (IDCT precision is
    * implementation-defined); dims remain portable. */
  def resizeImagesOf(s: SparkSession, media: DataFrame,
      factor: Int = 2): DataFrame = {
    import s.implicits._
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    media
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one digest + decoder context per partition, never per row
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          val n = if (bytes == null) 0L else bytes.length.toLong
          val img = if (n == 0L) null
            else try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null)
            (id, 0, 0, 0, 0, n, 0L, null: String, null: Array[Byte])
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val ow = ((w + factor - 1) / factor).max(1)
            val oh = ((h + factor - 1) / factor).max(1)
            val out = new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val raster = new Array[Byte](ow * oh * 3)
            var y = 0
            while (y < oh) {
              var x = 0
              while (x < ow) {
                val rgb = img.getRGB(x * factor, y * factor) & 0xffffff
                out.setRGB(x, y, rgb)
                val base = (y * ow + x) * 3
                raster(base) = ((rgb >> 16) & 0xff).toByte
                raster(base + 1) = ((rgb >> 8) & 0xff).toByte
                raster(base + 2) = (rgb & 0xff).toByte
                x += 1
              }
              y += 1
            }
            digest.reset()
            val md5 = digest.digest(raster).map("%02x".format(_)).mkString
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            val enc = bos.toByteArray
            (id, w, h, ow, oh, n, enc.length.toLong, md5, enc)
          }
        }
      }
      .toDF("doc_id", "width", "height", "out_width", "out_height",
        "n_bytes", "out_bytes", "out_md5", "payload_out")
  }

  /** Deterministic RGB PNG fixture: pixel (x,y) carries a fixed mix of
    * (seed, x, y), encoded by the JDK's own PNG writer. Shared by the
    * resize spec and [[decodeRealFixture]] so the oracle-checked real
    * decode and the spec exercise byte-identical inputs. */
  def fixturePng(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) {
        img.setRGB(x, y, (seed * 2654435761L + x * 31 + y).toInt & 0xffffff)
        y += 1
      }
      x += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The REAL decode path as an oracle-checkable query (`x_mm_decode_real`):
    * a fixed fleet of synthesized PNGs runs through [[resizeImagesOf]] —
    * genuine `javax.imageio` decode, nearest-neighbor resample, PNG
    * re-encode, per-partition lifecycle — and the output is a pure
    * constant of the fixture seeds: dimensions from the actual decoded
    * rasters and a codec-independent md5 of each resized raster's packed
    * RGB bytes (`getRGB` on TYPE_INT_RGB is pixel-exact across JVMs).
    * That constancy is what lets the DuckDB oracle pin the real decoder
    * with a literal VALUES table — hash-checked end to end, unlike the
    * stub family, whose arithmetic the oracle recomputes relationally.
    * The corpus-shaped queries keep the stub because the driver corpus
    * holds text blobs; this query is the real decoder's driver-facing
    * conformance surface. */
  def decodeRealFixture(s: SparkSession, nDocs: Int = 20,
      factor: Int = 2): DataFrame = {
    import s.implicits._
    val rows = (0 until nDocs).map { i =>
      (i.toLong, fixturePng(3 + i % 5, 2 + i % 7, i))
    }
    resizeImagesOf(s, rows.toDF("doc_id", "payload").repartition(4), factor)
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("out_width").cast("long").as("out_width"),
        col("out_height").cast("long").as("out_height"),
        (col("out_bytes") > 0L).as("reencoded"), col("out_md5"))
      .orderBy(col("doc_id"))
  }

  /** Feature extraction to a fixed-width vector — the media→embedding
    * bridge that feeds the [[graft.ops.Similarity]] ANN operators. The
    * stub features are transparent arithmetic in the payload size
    * (`((n_bytes * (i+1)) mod 1000) / 1000`), flat columns so the
    * contract (one deterministic k-dim vector per document, computed
    * per-partition beside the decoder) stays oracle-checkable; a real
    * extractor replaces the arithmetic with a model forward pass. */
  def features(s: SparkSession, d: String, dims: Int = 8): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val decoder = new StubDecoder
        rows.map { case (id, bytes) =>
          val n = decoder.decode(id, bytes).n_bytes
          (id, Array.tabulate(dims)(i => ((n * (i + 1)) % 1000L) / 1000.0))
        }
      }
      .toDF("doc_id", "f")
      .select(col("doc_id") +:
        (0 until dims).map(i => element_at(col("f"), i + 1).as(s"f$i")): _*)
      .orderBy(col("doc_id"))
  }

  /** Frame sampling — the video-pipeline fan-out shape: every `stride`-th
    * frame index per document becomes its own row with a byte offset into
    * the payload, ready for a per-frame decode stage. Pure explode — one
    * row in, n_frames/stride rows out, no shuffle; at 100 TB the frame
    * rows carry (doc_id, offset) pointers, never payload copies. */
  def frameSamples(s: SparkSession, d: String, stride: Int = 5): DataFrame =
    decodeMeta(s, d).toDF()
      // frame size = payload bytes / frame count (integer division) —
      // offsets stay inside the payload for every frame
      .withColumn("frame_size",
        floor(col("n_bytes") / col("n_frames")).cast("long"))
      .select(col("doc_id"), col("frame_size"),
        explode(sequence(lit(1), col("n_frames"), lit(stride))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_size") * (col("frame_idx") - 1)).cast("long").as("frame_offset"))
      .orderBy(col("doc_id"), col("frame_idx"))
}
