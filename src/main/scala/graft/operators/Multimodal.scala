package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.MediaCodec

/** Multimodal column handling: media as opaque binary columns with typed
  * metadata structs, decoded via a per-partition map (the Scala analog of
  * a batched Pandas UDF / mapInPandas).
  *
  * The byte-level decode is REAL: [[MediaCodec.sniff]] parses PNG IHDR
  * (+ APNG acTL), JPEG SOFn, and GIF logical-screen-descriptor headers
  * straight from the bytes, with no codec library. Unrecognized blobs
  * degrade to format "bin" with zero dimensions rather than failing the
  * task. Verification runs through two independent second opinions
  * (the x12g gate): a pure-Catalyst fixed-offset recompute for the
  * fixed-layout containers (PNG/GIF), and a full JDK ImageIO decode.
  */
object Multimodal {

  /** Typed decode output (what the header parse yields per blob). */
  final case class MediaMeta(
      doc_id: Long, byte_len: Int, format: String,
      width: Int, height: Int, n_frames: Int)

  /** Attach an opaque blob column + metadata struct to a document table —
    * the canonical multimodal column shape: (id, content: binary,
    * media_meta: struct<mime, n_bytes>).
    */
  def attachBlobs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      col(textCol).cast("binary").as("content"),
      struct(lit("application/octet-stream").as("mime"),
        // BYTE length of the content, not the character count: they
        // diverge on any non-ASCII text (length(string) counts chars),
        // and n_bytes must agree with the decoder's bytes.length
        length(col(textCol).cast("binary")).as("n_bytes")).as("media_meta"))

  /** Deterministic real-image blob per document — the corpus fixture
    * generator behind x12: doc_id picks the container (png/jpeg/gif
    * round-robin), dimensions 16+(id%21)*3 × 16+(id%13)*5, and GIFs get
    * 1+(id%4) animation frames. The bytes are REAL encoder output (JDK
    * ImageIO for PNG/JPEG, a spec-valid handcrafted stream for GIF), so
    * the decode path is exercised on data any image tool can read. The
    * dimension arithmetic is SQL-expressible on purpose: it is the
    * DuckDB oracle for the decoded metadata.
    */
  def syntheticMediaBlobs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (16 + (id % 21) * 3).toInt
        val h = (16 + (id % 13) * 5).toInt
        val rgb = ((id * 2654435761L) & 0xffffffL).toInt
        val bytes = (id % 3) match {
          case 0 => MediaCodec.encodePng(w, h, rgb)
          case 1 => MediaCodec.encodeJpeg(w, h, rgb)
          case _ => MediaCodec.encodeGif(w, h, (1 + id % 4).toInt)
        }
        val mime = (id % 3) match {
          case 0 => "image/png"
          case 1 => "image/jpeg"
          case _ => "image/gif"
        }
        (id, bytes, mime)
      })
      .toDF("doc_id", "content", "mime")
      .select(col("doc_id"), col("content"),
        struct(col("mime"), length(col("content")).as("n_bytes"))
          .as("media_meta"))
  }

  /** Decode blob metadata with a partition-wise map over the binary
    * column — executors stream batches through the header parser;
    * nothing is collected to the driver.
    */
  def decodeMeta(spark: SparkSession, blobs: DataFrame): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val p = MediaCodec.sniff(bytes)
        MediaMeta(id, bytes.length, p.format, p.width, p.height, p.nFrames)
      })
      .toDF()
  }

  private def byteAt(i: Column): Column =
    conv(hex(col("content").substr(i, lit(1))), 16, 10).cast("long")

  /** Fixed-offset header fields recomputed through a SECOND, independent
    * code path — pure Catalyst expressions instead of the JVM parser.
    * Covers the containers whose dimensions sit at fixed offsets: PNG
    * (IHDR big-endian u32 at 17/21, 1-based) and GIF (LSD little-endian
    * u16 at 7/9). JPEG needs a marker scan (variable offsets), so it is
    * gated by the ImageIO path instead. Emits rows only for blobs the
    * expressions recognize.
    */
  def expectedMeta(blobs: DataFrame): DataFrame = {
    val len = length(col("content"))
    val isPng = len >= 33 &&
      hex(col("content").substr(lit(1), lit(8))) === "89504E470D0A1A0A"
    val isGif = len >= 13 &&
      hex(col("content").substr(lit(1), lit(6)))
        .isin("474946383761", "474946383961")
    blobs.select(col("doc_id"), col("content"), len.as("exp_byte_len"),
        when(isPng, "png").when(isGif, "gif").as("exp_format"))
      .filter(col("exp_format").isNotNull)
      .select(col("doc_id"), col("exp_byte_len"), col("exp_format"),
        when(col("exp_format") === "png",
            conv(hex(col("content").substr(lit(17), lit(4))), 16, 10))
          .otherwise(byteAt(lit(7)) + byteAt(lit(8)) * 256)
          .cast("int").as("exp_width"),
        when(col("exp_format") === "png",
            conv(hex(col("content").substr(lit(21), lit(4))), 16, 10))
          .otherwise(byteAt(lit(9)) + byteAt(lit(10)) * 256)
          .cast("int").as("exp_height"))
  }

  /** Rows where the JVM header parse diverges from the Catalyst
    * fixed-offset recompute — first half of the x12g gate; empty iff
    * the two code paths agree on every PNG/GIF blob.
    */
  def metaMismatches(decoded: DataFrame, expected: DataFrame): DataFrame =
    decoded.join(expected, "doc_id")
      .filter(col("byte_len") =!= col("exp_byte_len") ||
        col("format") =!= col("exp_format") ||
        col("width") =!= col("exp_width") ||
        col("height") =!= col("exp_height"))
      .select(col("doc_id"), lit("header_recompute").as("chk"),
        concat_ws("x", col("format"), col("width"), col("height"),
          col("byte_len")).as("got"),
        concat_ws("x", col("exp_format"), col("exp_width"), col("exp_height"),
          col("exp_byte_len")).as("exp"))

  /** Full JDK ImageIO decode of every blob as a RELATION — (doc_id,
    * iio_format, iio_width, iio_height, iio_frames), format null for
    * bytes ImageIO cannot read. Materializing this once per corpus lets
    * every ImageIO consumer (the x12g gate foremost) join it instead of
    * paying its own decode pass.
    */
  def imageIoMetaTable(spark: SparkSession, blobs: DataFrame): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        MediaCodec.imageIoMeta(bytes) match {
          case Some(m) =>
            (id, Some(m.format), Some(m.width), Some(m.height), Some(m.nFrames))
          case None =>
            (id, None: Option[String], None: Option[Int],
              None: Option[Int], None: Option[Int])
        }
      })
      .toDF("doc_id", "iio_format", "iio_width", "iio_height", "iio_frames")
  }

  /** Rows where the header parse (a decoded-meta relation) diverges
    * from the ImageIO decode (an [[imageIoMetaTable]] relation) —
    * second half of the x12g gate, as a pure join so both decode passes
    * can be computed once and reused. Frame count is compared for GIF
    * only (the JDK PNG reader is not APNG-aware; JPEG is single-frame
    * by definition).
    */
  def imageIoMismatchesFrom(decoded: DataFrame, iio: DataFrame): DataFrame =
    decoded.join(iio, Seq("doc_id"))
      .filter(
        // unreadable by ImageIO is only acceptable for non-images
        (col("iio_format").isNull && col("format") =!= "bin") ||
        (col("iio_format").isNotNull &&
          (col("format") =!= col("iio_format") ||
            col("width") =!= col("iio_width") ||
            col("height") =!= col("iio_height") ||
            (col("format") === "gif" && col("n_frames") =!= col("iio_frames")))))
      .select(col("doc_id"), lit("imageio").as("chk"),
        format_string("%s %dx%d@%d", col("format"), col("width"),
          col("height"), col("n_frames")).as("got"),
        when(col("iio_format").isNull, "unreadable by ImageIO")
          .otherwise(format_string("%s %dx%d@%d", col("iio_format"),
            col("iio_width"), col("iio_height"), col("iio_frames")))
          .as("exp"))

  /** One-pass form of the ImageIO gate leg (spec entry point): decode
    * both ways here, then compare via [[imageIoMismatchesFrom]].
    */
  def imageIoMismatches(spark: SparkSession, blobs: DataFrame): DataFrame =
    imageIoMismatchesFrom(decodeMeta(spark, blobs),
      imageIoMetaTable(spark, blobs))

  /** Resize: a REAL pixel resample for decodable stills — JDK ImageIO
    * decode, bilinear scale, re-encode in the sniffed container
    * ([[MediaCodec.imageIoResize]]) — so the output blob is a genuine
    * image whose headers re-sniff to the target dimensions. Non-image
    * blobs keep the deterministic byte-budget fallback (area-scaled
    * re-slice), so the operator never drops rows. One partition-wise
    * pass, no driver involvement.
    */
  def resize(spark: SparkSession, blobs: DataFrame, width: Int, height: Int): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val m = MediaCodec.sniff(bytes)
        MediaCodec.imageIoResize(bytes, width, height) match {
          case Some(out) => (id, out, m.format, width, height)
          case None =>
            // non-image fallback: scale the byte budget by target/source
            // area — all in Long (an Int width*height overflows at
            // 64k x 64k) and clamped before the narrowing; non-images
            // (0x0 dims) fall back to the raw length
            val budget = math.max(1L, math.min(Int.MaxValue.toLong,
              bytes.length.toLong * (width.toLong * height) /
                math.max(m.width.toLong * m.height, 1L))).toInt
            val out = if (budget <= bytes.length) bytes.take(budget)
              else bytes ++ Array.fill(budget - bytes.length)(0: Byte)
            (id, out, m.format, width, height)
        }
      })
      .toDF("doc_id", "content", "format", "width", "height")
  }

  /** Feature extraction: blob -> dense embedding (array<float>), the
    * step that bridges multimodal data into the similarity operators
    * (Similarity.bruteForceTopK / lshTopK / ivfTopK run on this output
    * unchanged). Decodable images take the REAL pixel path — the
    * grid-pooled color-layout descriptor of [[pixelFeatures]]; every
    * other blob takes the engine's REAL text path — the hashed-TF
    * unit-norm embedding over its UTF-8 reading
    * ([[TextAnalysis.hashedTfEmbedding]]) — at the same dimension, so
    * mixed corpora stay a single total relation.
    */
  def featureExtract(spark: SparkSession, blobs: DataFrame): DataFrame =
    featureExtract(spark, blobs, PoolingGrid(2))

  /** Pooling-grid width as a distinct type: featureExtract's third
    * parameter used to be `dim` (a hash-vector length, default 16)
    * before the pixel routing; making the new meaning a wrapper type
    * turns any stale positional call like `featureExtract(s, b, 16)`
    * into a COMPILE error instead of a silently reinterpreted 768-dim
    * pooling request (the former runtime require only caught values
    * above 8).
    */
  final case class PoolingGrid(width: Int) {
    require(width >= 1 && width <= 8,
      s"pooling grid width must be in [1, 8], got $width " +
        "(embedding dim = 3*width*width)")
  }

  def featureExtract(spark: SparkSession, blobs: DataFrame,
                     grid: PoolingGrid): DataFrame =
    pixelFeatures(spark, blobs, grid.width)
      .select(col("doc_id"), col("embedding"))

  /** REAL pixel feature extraction: full ImageIO decode, average-pool
    * the RGB plane onto a grid×grid patch map (3·grid² dims — the
    * classic color-layout descriptor), unit-normalize. Non-decodable
    * blobs take the hashed-TF text embedding over their UTF-8 reading,
    * flagged is_pixels=false. A projection of [[pixelProfile]] — ONE
    * decode loop serves the embedding, stats, and combined consumers.
    */
  def pixelFeatures(spark: SparkSession, blobs: DataFrame,
                    grid: Int = 2): DataFrame =
    pixelProfile(spark, blobs, grid)
      .select(col("doc_id"), col("embedding"), col("is_pixels"))

  /** One-decode pixel profile: grid-pooled embedding AND whole-image
    * channel means/pixel count from a SINGLE ImageIO pass — the x83
    * pair consumed two decodes of the same corpus before this. Whole-
    * image sums regroup the per-cell sums (double addition error
    * ~1e-13, far inside the 6 dp oracle surface). Non-decodable blobs
    * take the scan-side hashed-TF text embedding over their UTF-8
    * reading, is_pixels=false, null stats.
    */
  def pixelProfile(spark: SparkSession, blobs: DataFrame,
                   grid: Int = 2): DataFrame = {
    require(grid >= 1, s"grid must be >= 1, got $grid")
    import spark.implicits._
    val dims = 3 * grid * grid
    val decoded = blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        MediaCodec.imageIoDecode(bytes) match {
          case Some(img) =>
            val w = img.getWidth; val h = img.getHeight
            val sums = new Array[Double](dims)
            val cnt = new Array[Long](grid * grid)
            var y = 0
            while (y < h) {
              val gy = y * grid / h
              var x = 0
              while (x < w) {
                val cell = gy * grid + x * grid / w
                val rgb = img.getRGB(x, y)
                sums(cell * 3) += ((rgb >> 16) & 0xff) / 255.0
                sums(cell * 3 + 1) += ((rgb >> 8) & 0xff) / 255.0
                sums(cell * 3 + 2) += (rgb & 0xff) / 255.0
                cnt(cell) += 1
                x += 1
              }
              y += 1
            }
            val raw = Array.tabulate(dims)(i =>
              if (cnt(i / 3) == 0) 0.0 else sums(i) / cnt(i / 3))
            val n = math.sqrt(raw.map(v => v * v).sum)
            val nPx = w.toLong * h
            def chan(o: Int) =
              (0 until grid * grid).map(c => sums(c * 3 + o)).sum / nPx
            (id,
              Some(raw.map(v => (if (n == 0) 0.0 else v / n).toFloat).toSeq)
                : Option[Seq[Float]],
              None: Option[String],
              true, Some(chan(0)), Some(chan(1)), Some(chan(2)), Some(nPx))
          case None =>
            // no pixel plane: hand the blob's UTF-8 reading back to the
            // relational layer — the real embedding computes scan-side
            (id, None: Option[Seq[Float]],
              Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
                : Option[String],
              false, None: Option[Double], None: Option[Double],
              None: Option[Double], None: Option[Long])
        }
      })
      .toDF("doc_id", "embedding", "fallback_text", "is_pixels",
        "mean_r", "mean_g", "mean_b", "n_px")
    // non-image blobs get the engine's REAL text encoder — the
    // hashed-TF unit-norm embedding (one implementation, Catalyst
    // HOFs, codegen-friendly) — over the blob's UTF-8 text, at the
    // pixel descriptor's dimension so the relation stays total for
    // every Similarity consumer. A
    // tokenless blob embeds as the zero vector (hashedTfEmbedding's
    // empty-input contract): "nothing to describe" is an honest
    // neighbor of nothing, where the old byte-hash placeholder
    // manufactured similarity structure out of raw bytes.
    decoded
      .withColumn("embedding",
        when(col("is_pixels"), col("embedding"))
          .otherwise(transform(
            TextAnalysis.hashedTfEmbedding(col("fallback_text"), dims),
            // coalesce to a literal: keeps the embedding contract's
            // containsNull=false (hashedTf elements are complete
            // when/otherwise chains Spark can't prove non-null)
            x => coalesce(x.cast("float"), lit(0.0f)))))
      .drop("fallback_text")
  }

  /** The x83eg gate's twin-paired fixture: `n` well-separated solid
    * colors (max cross-color cosine 0.9492 — an order of magnitude
    * below the identity threshold), each encoded through TWO
    * independent JDK writer paths: PNG at id i, GIF at id i+`off`.
    * PNG is lossless and a solid color is its own exact GIF palette
    * entry, so the twins' decoded planes — and grid descriptors — are
    * bit-identical.
    */
  def twinFormatBlobs(spark: SparkSession, off: Long): DataFrame = {
    import spark.implicits._
    val colors = Seq(0xff0000, 0x00cc00, 0x0000ff, 0xcccc00, 0xcc00cc,
      0x00cccc, 0xff8000, 0x80ff00, 0x8000ff, 0xffffff)
    colors.zipWithIndex.flatMap { case (c, i) =>
      Seq((i.toLong, MediaCodec.encodeSolid(24, 24, c, "png")),
        (i.toLong + off, MediaCodec.encodeSolid(24, 24, c, "gif")))
    }.toDF("doc_id", "content")
  }

  /** The x83e companion gate (empty-set contract): over a twin-paired
    * descriptor relation (ids < `off` one encoder path, id+`off` the
    * other path of the SAME pixel content), emit a row per violated
    * clause —
    *   'decoded': every gate blob must yield a real pixel plane
    *     (is_pixels; the text fallback would vacuously pass the rest);
    *   'identity': every query's rank-1 cosine must be 1.0 up to
    *     float32/palette error (its exact pixel duplicate is in the
    *     corpus — bruteForceTopK excludes self, so rank 1 IS the best
    *     OTHER image);
    *   'twin': that rank-1 neighbor must BE the cross-format twin
    *     (mutual by symmetry: every id is queried).
    * Same descriptor algebra as the declared x83e (pixelProfile →
    * bruteForceTopK), so a regression in decode, pooling, or the
    * cosine ranking fires here while the rows-only x83e can't see it.
    */
  def pixelEmbedGateRows(feats: DataFrame, off: Long): DataFrame = {
    val topk = Similarity.bruteForceTopK(feats, feats,
      "doc_id", "embedding", k = 1)
    val undecoded = feats.filter(!col("is_pixels"))
      .select(lit("decoded").as("clause"), col("doc_id").as("qid"),
        lit(null).cast("long").as("nid"), lit(null).cast("double").as("sim"))
    val lowSim = topk.filter(col("sim") < 0.999999)
      .select(lit("identity").as("clause"), col("qid"), col("nid"), col("sim"))
    val twinOf = when(col("qid") < off, col("qid") + off)
      .otherwise(col("qid") - off)
    val wrongTwin = topk.filter(col("nid") =!= twinOf)
      .select(lit("twin").as("clause"), col("qid"), col("nid"), col("sim"))
    undecoded.unionByName(lowSim).unionByName(wrongTwin)
      .orderBy(col("clause"), col("qid"))
  }

  /** Deterministic gray-PATTERN PNG per document for the perceptual-
    * hash queries: brightness(x, y) = ((x·(1+id%29)) XOR (y·(1+id%31)))
    * % 200, 32×32. The XOR gives each (id%29, id%31) class — unique for
    * ids below 29·31 — its own pseudorandom spatial structure, so
    * distinct docs sit ~32 Hamming bits apart (a LINEAR gradient family
    * collapsed the space: a third of all cross pairs landed within
    * distance 3). Range capped at 199 so a +20 brightness shift is
    * clip-free.
    */
  def gradientBlobs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val a = (1 + id % 29).toInt; val b = (1 + id % 31).toInt
        val img = new java.awt.image.BufferedImage(32, 32,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 32) {
          var x = 0
          while (x < 32) {
            val v = ((x * a) ^ (y * b)) % 200
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      })
      .toDF("doc_id", "content")
  }

  /** Uniform brightness shift (clipped at 255), re-encoded PNG — the
    * "same photo, different exposure" transform byte-level dedup can
    * never match and a perceptual hash must.
    */
  def brightnessShift(spark: SparkSession, blobs: DataFrame,
                      delta: Int): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        MediaCodec.imageIoDecode(bytes).map { img =>
          val w = img.getWidth; val h = img.getHeight
          val out = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              def c(v: Int) = math.min(255, math.max(0, v + delta))
              out.setRGB(x, y, (c((rgb >> 16) & 0xff) << 16) |
                (c((rgb >> 8) & 0xff) << 8) | c(rgb & 0xff))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          (id, bos.toByteArray)
        }
      })
      .toDF("doc_id", "content")
  }

  /** dHash (difference hash) from REAL pixels: bilinear-downscale to
    * 9×8 grayscale, bit (row·8 + j) set iff gray(j+1, row) > gray(j,
    * row) — 64 bits of spatial structure invariant under any monotone
    * per-pixel brightness transform (a uniform clip-free shift commutes
    * with the downscale average and preserves every strict comparison).
    * Non-decodable blobs are omitted.
    */
  def dHash(spark: SparkSession, blobs: DataFrame): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        MediaCodec.imageIoDecode(bytes).map { img =>
          val small = new java.awt.image.BufferedImage(9, 8,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = small.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 9, 8, null)
          } finally g.dispose()
          def gray(x: Int, y: Int): Int = {
            val rgb = small.getRGB(x, y)
            (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
          }
          var hash = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (gray(x + 1, y) > gray(x, y)) hash |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          (id, hash)
        }
      })
      .toDF("doc_id", "dhash")
  }

  /** Whole-image mean RGB from DECODED pixels plus the decoded pixel
    * count — on the fixture corpus these are pure doc_id arithmetic
    * (solid-color encodes), giving the pixel decode a FULL SQL oracle.
    * Non-decodable blobs are omitted (they have no pixel plane).
    */
  def pixelChannelStats(spark: SparkSession, blobs: DataFrame): DataFrame =
    pixelProfile(spark, blobs)
      .filter(col("is_pixels"))
      .select(col("doc_id"), col("mean_r"), col("mean_g"), col("mean_b"),
        col("n_px"))

  /** Frame sampling over a video-like blob: emit every `stride`-th
    * frame index with a per-frame byte slice. The frame count is the
    * real one from the container header (animated GIF / APNG); stills
    * and non-images are a single frame.
    */
  def sampleFrames(spark: SparkSession, blobs: DataFrame, stride: Int): DataFrame = {
    // fail at the call site: stride=0 would throw "step cannot be 0"
    // per-row inside executor tasks; negative strides silently emit
    // nothing for every document
    require(stride > 0, s"stride must be > 0, got $stride")
    import spark.implicits._
    blobs.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val meta = MediaCodec.sniff(bytes)
        (0 until meta.nFrames by stride).map { f =>
          val sliceLen = math.max(1, bytes.length / meta.nFrames)
          val start = math.min(f * sliceLen, math.max(bytes.length - 1, 0))
          (id, f, bytes.slice(start, math.min(start + sliceLen, bytes.length)))
        }
      }
      .toDF("doc_id", "frame", "frame_bytes")
  }
}
