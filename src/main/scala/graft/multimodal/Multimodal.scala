package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque binary media payloads with typed
  * metadata, decoded / feature-extracted / frame-sampled in partition-wise
  * batches.
  *
  * The image path is a REAL codec: payloads are genuine PNGs (encoded by
  * the JDK's `javax.imageio` — no external library needed) and
  * [[decodeImage]] / [[decodeFeatures]] run a real bytes→pixels decode in
  * partition-wise batches. Because [[pngMediaFromDocuments]] renders each
  * image from a pure integer function of (doc_id, x, y) and PNG is
  * lossless, the decoded pixels are independently re-derivable in SQL —
  * which is what lets a DuckDB oracle gate the full encode→decode
  * roundtrip (m02/m06). The byte-level operators (frame sampling, strided
  * resize, frame energy) are payload-agnostic byte math and stay as such.
  */
object Multimodal {

  val FeatureDim = 16

  /** Corpora whose twin-id injectivity guard already ran green, keyed by
    * (session, canonical-plan semantic hash, every, the files the plan
    * scans at their fingerprints). The guard is an eager count() job;
    * without the memo every pngMediaWithTwins CALL paid a full doc_id
    * scan at DataFrame-construction time (ADVICE r12) — a surprising
    * side effect for callers that only build the plan. The plan string
    * names the scanned paths but not their contents, so the key also
    * carries their fingerprints: a rewritten corpus is guarded again.
    * Entries are just receipts (Unit).
    */
  private val twinGuards =
    graft.SessionMemo.plain[(String, Int, Seq[graft.SessionMemo.Input]), Unit](
      "multimodal.twin_guard")(_._3)

  /** m08's arriving-batch block rows, pinned per (session, index path)
    * with the corpus fingerprint they were decoded from: the probe plan
    * consumes them through four join legs on DIFFERENT keys ((band,sig),
    * doc_i, (doc_j,band)), so the exchanges never canonicalize to one
    * reusable subtree and an unpinned plan re-decodes every batch PNG
    * once per leg. The batch is O(delta)-small; a regenerated corpus
    * supersedes the pin and it is derived again.
    */
  private val deltaBlocks =
    graft.SessionMemo.persisted[(String, graft.SessionMemo.Input)]("multimodal.delta_blocks")(
      k => Seq(k._2))

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false))), nullable = false)))

  /** Derive a media table from the documents corpus: the text bytes stand
    * in for an opaque payload (at 100 TB these are real image/audio blobs
    * read straight from parquet binary columns; everything downstream is
    * agnostic to what the bytes mean).
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        element_at(array(lit("png"), lit("wav"), lit("mp4")), (col("doc_id") % 3 + 1).cast("int"))
          .as("format"),
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        (length(col("text")) * 10L).as("duration_ms")).as("meta"))

  /** Deterministic pixel function for the PNG fixtures: channel values of
    * pixel (x, y) of document `id` — pure integer arithmetic so a SQL
    * oracle can re-derive every pixel without a codec.
    */
  private[multimodal] def pixel(id: Long, x: Int, y: Int): (Int, Int, Int) = {
    // Per-BAND salt (r11 verdict #4): the base formula is linear in
    // (id, x, y) and cycles mod 256, and ScaleUp's inter-copy stride
    // (1e8) is ≡ 0 mod 256 — so without the salt, band-shifted rehearsal
    // copies re-render near-identical raster families and every
    // hash-banded index measures a degenerate hot-bucket corpus instead
    // of scale behavior. The salt is 0 for band 0 — every production
    // corpus (doc_id < 1e8), so all committed oracles are untouched —
    // and for shifted bands it adds an (x*y)-nonlinear term that breaks
    // the cross-band raster repeat while staying a pure integer function
    // of (id, x, y) any relational oracle can re-derive.
    val salt = (id / graft.tools.ScaleUp.Offset) * 1009L
    val nl = salt * (x.toLong * y + x + 1)
    (((id * 31 + x * 7 + y * 13 + nl) % 256).toInt,
      ((id * 17 + x * 3 + y * 29 + nl * 3) % 256).toInt,
      ((id * 53 + x * 11 + y * 5 + nl * 7) % 256).toInt)
  }

  /** Fixture dims: `base` is the minimum edge — 4 for the m01–m07 corpus,
    * 8 for the m07c/m07d corpus whose 8x8 hash grid needs every cell
    * non-empty (width in [base, base+12], height in [base, base+10]).
    */
  private[multimodal] def dims(id: Long, base: Int = 4): (Int, Int) =
    ((id % 13 + base).toInt, (id % 11 + base).toInt)

  /** A media table of GENUINE PNG payloads, one per document: dimensions
    * and pixels are pure functions of doc_id, encoded with the JDK's
    * ImageIO. The payload bytes are real compressed PNG — downstream
    * decoders exercise an actual codec, and since PNG is lossless the
    * decoded raster equals [[pixel]] exactly, which the oracles re-derive
    * relationally. Encoding happens partition-wise (one encoder context
    * per partition, rows streamed through — the batch shape a 100 TB
    * media pipeline uses).
    */
  def pngMediaFromDocuments(docs: DataFrame, base: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // in-memory, no temp files
        ids.map { id =>
          val (w, h) = dims(id, base)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val (r, g, b) = pixel(id, x, y)
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray, w, h)
        }
      }
      .toDF("doc_id", "media", "width", "height")
      .select(col("doc_id"), col("media"),
        struct(lit("png").as("format"), col("width"), col("height"),
          lit(0L).as("duration_ms")).as("meta"))
  }

  /** Offset separating a near-duplicate twin's doc_id from its source.
    * NOT globally above every corpus doc_id (ScaleUp's band-shifted
    * corpora carry ids ~1e8): injectivity holds because no ORIGINAL id
    * ever equals `src + TwinOffset` — true as long as each contiguous
    * id band holds fewer than TwinOffset documents, which
    * [[pngMediaWithTwins]] verifies with a one-pass guard rather than
    * assuming (ADVICE r11).
    */
  val TwinOffset = 1000000L

  /** m07d fixture: the `base`-dim PNG corpus plus a NEAR-DUPLICATE twin
    * for every `every`-th document — the twin re-renders the SAME raster
    * (same dims, same [[pixel]] values keyed by the source id) with the
    * single pixel (0,0) saturated to white. One changed pixel moves one
    * cell mean (and nudges the global mean), so the twin's aHash lands a
    * few bits from its source's: exactly the neighborhood a banded
    * hamming near-dup join must recover. Pure integer + id-derived, so a
    * SQL oracle re-derives both rasters codec-free.
    */
  def pngMediaWithTwins(docs: DataFrame, base: Int = 8, every: Int = 7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // twin-id injectivity guard (ADVICE r11): a corpus where some
    // ORIGINAL id equals source + TwinOffset would silently alias a twin
    // onto a real document and corrupt every downstream recovery count.
    // One semi-join count over the (small, fixture-tier) id column —
    // loud failure over silent collision. Memoized per (session, corpus
    // plan, every) so repeated construction over the same corpus pays
    // the scan once per session (ADVICE r12), keyed by the canonicalized
    // plan's semantic hash — the same identity Spark's own CacheManager
    // uses to equate plans.
    // keyed by an md5 of the canonicalized plan STRING, not the 32-bit
    // semanticHash alone (ADVICE r13): Spark's CacheManager uses that
    // hash only as a bucket and confirms with semanticEquals — a bucket
    // collision here would silently skip a loud-failure safety check
    val canon = docs.queryExecution.analyzed.canonicalized
    val guardKey = (
      s"${canon.semanticHash()}:" + java.security.MessageDigest.getInstance("MD5")
        .digest(canon.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString,
      every, graft.SessionMemo.Input.scannedBy(docs))
    twinGuards(spark, Some(guardKey)) {
      val clashes = docs.select(col("doc_id"))
        .filter(col("doc_id") % every === 0)
        .select((col("doc_id") + TwinOffset).as("doc_id"))
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .count()
      require(clashes == 0L,
        s"$clashes original doc_ids collide with source+TwinOffset twin ids")
    }
    docs.select(col("doc_id")).as[Long]
      .flatMap(id => if (id % every == 0) Seq((id, id, false), (id + TwinOffset, id, true))
                     else Seq((id, id, false)))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, src, twin) =>
          val (w, h) = dims(src, base)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val (r, g, b) =
                if (twin && x == 0 && y == 0) (255, 255, 255) else pixel(src, x, y)
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray, w, h)
        }
      }
      .toDF("doc_id", "media", "width", "height")
      .select(col("doc_id"), col("media"),
        struct(lit("png").as("format"), col("width"), col("height"),
          lit(0L).as("duration_ms")).as("meta"))
  }

  /** REAL image decode over partition-wise batches: ImageIO bytes→raster,
    * reduced to integer metadata (dims, per-channel sums, a
    * position-weighted checksum over raster order) that a relational
    * oracle recomputes from [[pixel]] exactly. An undecodable payload
    * fails loudly — silent nulls would let a corrupt corpus pass.
    */
  def decodeImage(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          require(img != null, s"undecodable image payload for doc $id")
          val (w, h) = (img.getWidth, img.getHeight)
          var (sumR, sumG, sumB, checksum) = (0L, 0L, 0L, 0L)
          var i = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff
              val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              sumR += r; sumG += g; sumB += b
              checksum += (i + 1).toLong * (r + 256L * g + 65536L * b)
              i += 1
              x += 1
            }
            y += 1
          }
          (id, w.toLong, h.toLong, (w.toLong * h), sumR, sumG, sumB, checksum)
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b", "pixel_checksum")
  }

  /** m07 — perceptual AVERAGE-HASH (aHash) over a REAL decode: ImageIO
    * bytes→raster, integer luminance (r+g+b), a grid×grid block-mean
    * downsample (cell of pixel (x,y) is (x·grid div w, y·grid div h) —
    * every cell non-empty because the fixture dims are ≥ grid), each
    * cell's truncating integer mean thresholded against the truncating
    * mean of the cell means: bit = cell > global, hash = Σ bit<<cell.
    * Integer end to end, so the oracle re-derives every hash bit from
    * the [[pixel]] function without a codec — the image-domain twin of
    * d08's text SimHash, and the index the m07b near-dup join runs on.
    */
  def imageAHash(media: DataFrame, grid: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          require(img != null, s"undecodable image payload for doc $id")
          val (w, h) = (img.getWidth, img.getHeight)
          require(w >= grid && h >= grid,
            s"doc $id: $w x $h below the $grid x $grid hash grid")
          val sums = Array.ofDim[Long](grid * grid)
          val counts = Array.ofDim[Long](grid * grid)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val l = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              val cell = (y * grid / h) * grid + (x * grid / w)
              sums(cell) += l
              counts(cell) += 1
              x += 1
            }
            y += 1
          }
          val means = Array.tabulate(grid * grid)(i => sums(i) / counts(i))
          val gmean = means.sum / (grid * grid)
          var hash = 0L
          var i = 0
          while (i < grid * grid) {
            if (means(i) > gmean) hash |= (1L << i)
            i += 1
          }
          (id, hash)
        }
      }
      .toDF("doc_id", "ahash")
  }

  /** m08 — m07d's banded image near-dup served from the PERSISTED
    * signature index: the base corpus's Manku 4-block aHash rows live in
    * a maintained [[graft.sources.SignatureIndex]] (doc_id, band=block,
    * sig=block value — the index is generic over banded signatures, so
    * the image gate reuses it verbatim, r13 verdict #3), and an arriving
    * image batch (the twin slice stands in for "today's uploads")
    * probes it exactly as d36's text gate probes its MinHash index:
    *
    *   1. `ensure` serves the committed block index (builds once per
    *      corpus fingerprint — the only base-corpus decode+hash pass in
    *      the index's lifetime; [[graft.streaming.ImageDedupStream
    *      .indexAppendBatch]] keeps it current as images stream in);
    *   2. the batch's blocks are hashed in-flight (O(|batch|) decodes);
    *   3. candidates = batchBlocks ⋈ index on (band, sig) plus the
    *      earlier-row in-batch leg — recall 1.0 by the Manku pigeonhole;
    *   4. TRUE hamming verifies from the block rows themselves: the four
    *      16-bit blocks ARE the 64-bit hash, so sum(bit_count(xor)) over
    *      the four aligned bands re-derives bit_count(ha ^ hb) without
    *      touching image bytes — the index carries its own verify
    *      payload, the same trick s12's keyed state uses.
    *
    * Output: m07d's pair rows restricted to pairs whose LATER member is
    * in the arriving batch — gated by m07d's exhaustive oracle with that
    * same restriction.
    */
  def indexedImagePairs(spark: SparkSession, dir: String,
      indexRoot: String = "/tmp/graft_sigindex"): DataFrame = {
    import graft.sources.SignatureIndex
    val docs = graft.Tables.documents(spark, dir)
    val media = pngMediaWithTwins(docs, base = 8, every = 7)
    val isDelta = col("doc_id") >= TwinOffset
    def blocksOf(m: DataFrame): DataFrame =
      imageAHash(m, grid = 8).select(col("doc_id"),
          explode(expr("transform(sequence(0, 3), " +
            "f -> named_struct('band', CAST(f AS INT), 'sig', shiftright(ahash, 16 * f) & 65535))"))
            .as("x"))
        .select(col("doc_id"), col("x.band").as("band"), col("x.sig").as("sig"))
    val path = s"$indexRoot/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_img-ahash64"
    val corpus = graft.SessionMemo.Input.file(s"$dir/documents.parquet")
    val idx = SignatureIndex.ensure(spark, blocksOf(media.filter(!isDelta)), path, corpus.version)
    val deltaB = deltaBlocks(spark, Some((path, corpus)))(blocksOf(media.filter(isDelta)))
    // probe leg: the batch meets the served index; the earlier-partner
    // residual keeps the probe idempotent under maintenance (once the
    // batch's own blocks are appended, re-probing yields the same set)
    val candIdx = deltaB.as("x").join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          (col("y.doc_id") < lit(TwinOffset) || col("y.doc_id") < col("x.doc_id")))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
    // in-flight leg: the batch self-dedups against its own earlier rows
    val candBatch = deltaB.as("x").join(deltaB.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_i"), col("y.doc_id").as("doc_j"))
    val cands = candIdx.unionByName(candBatch).distinct()
    // verify from block rows only (distinct: after maintenance a batch
    // doc's blocks exist both in flight and in the index)
    val allB = idx.unionByName(deltaB).distinct()
    cands
      .join(deltaB.select(col("doc_id").as("doc_i"), col("band"),
        col("sig").as("sig_i")), "doc_i")
      .join(allB.select(col("doc_id").as("doc_j"), col("band"),
        col("sig").as("sig_j")), Seq("doc_j", "band"))
      .groupBy(col("doc_i"), col("doc_j"))
      .agg(sum(expr("bit_count(sig_i ^ sig_j)")).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .select(col("doc_j").as("id_a"), col("doc_i").as("id_b"), col("hamming"))
  }

  /** Feature extraction with a REAL decode: ImageIO bytes→pixels, then a
    * FeatureDim-bin histogram over all channel bytes, normalized. One
    * decoder context per partition, rows streamed through it — the
    * mapPartitions twin of a pandas_udf iterator batch. Emits the channel
    * byte count alongside so consumers (and the m02 gate) can recover the
    * exact integer counts from the float features.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          require(img != null, s"undecodable image payload for doc $id")
          val acc = new Array[Long](FeatureDim)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              acc(((rgb >> 16) & 0xff) & (FeatureDim - 1)) += 1
              acc(((rgb >> 8) & 0xff) & (FeatureDim - 1)) += 1
              acc((rgb & 0xff) & (FeatureDim - 1)) += 1
              x += 1
            }
            y += 1
          }
          val n = 3L * img.getWidth * img.getHeight
          (id, n, acc.map(c => c.toFloat / n))
        }
      }
      .toDF("doc_id", "n_channel_bytes", "features")
  }

  /** Per-frame signal energy over the payload: bytes (unsigned) framed
    * into `frameBytes`-sample windows, each reduced to sample count, sum
    * of squares (the audio-energy / silence-detection primitive) and
    * peak. Unlike [[stubDecode]] this is REAL byte math, not a stub —
    * energy over raw samples needs no codec. Integer arithmetic
    * throughout, so the oracle re-derives it exactly. Same
    * partition-wise batch shape as [[decodeFeatures]]; output is one row
    * per (doc, frame) — the shape a VAD/silence filter consumes.
    */
  def frameEnergy(media: DataFrame, frameBytes: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          payload.grouped(frameBytes).zipWithIndex.map { case (frame, idx) =>
            var energy = 0L
            var peak = 0L
            var i = 0
            while (i < frame.length) {
              val v = (frame(i) & 0xff).toLong
              energy += v * v
              if (v > peak) peak = v
              i += 1
            }
            (id, idx.toLong, frame.length.toLong, energy, peak)
          }
        }
      }
      .toDF("doc_id", "frame", "n_samples", "energy", "peak")
  }

  /** Resize: shrink a payload to a fixed target size by evenly-strided
    * byte sampling — the stub standing in for a real image resampler
    * (swap the body for a codec call; the partition-batched plumbing,
    * metadata recompute and schema are production form). Output metadata
    * carries the clamped target dims; payloads shorter than the target
    * pass through whole.
    */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val target = targetW * targetH
    media.select(col("doc_id"), col("media"), col("meta.width"), col("meta.height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        // per-partition resampler init would go here
        rows.map { case (id, payload, w, h) =>
          val n = math.min(payload.length, target)
          val out = new Array[Byte](n)
          var i = 0
          while (i < n) {
            // evenly-strided pick over the source, same rule as frame
            // offsets: src index = floor(len * i / n)
            out(i) = payload((payload.length.toLong * i / math.max(n, 1)).toInt)
            i += 1
          }
          (id, math.min(w, targetW), math.min(h, targetH), out)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "resized")
  }

  /** Frame sampling: split a payload into n evenly-spaced fixed-size
    * "frames" (byte slices standing in for decoded video frames), emitted
    * as one row per frame with its offset.
    */
  def frameSample(media: DataFrame, frames: Int, frameBytes: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val n = math.min(frames, math.max(payload.length / math.max(frameBytes, 1), 1))
        (0 until n).map { f =>
          val offset = (payload.length.toLong * f / n).toInt
          val end = math.min(offset + frameBytes, payload.length)
          (id, f, offset.toLong, payload.slice(offset, end))
        }
      }
      .toDF("doc_id", "frame", "offset", "frame_bytes")
  }
}
