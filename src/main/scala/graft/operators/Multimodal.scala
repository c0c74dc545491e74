package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media as opaque
  * `binary` columns with typed metadata, processed per-partition in batches.
  * The decode step is a REAL header parse of the public container formats
  * (PNG IHDR / JPEG SOFn / WAV `fmt ` — [[MediaHeaders]]): dimensions,
  * channels and sample frames are read from the actual big-/little-endian
  * header fields, never inferred from byte counts. Because no real media
  * files exist in this container, [[attachMedia]] SYNTHESIZES format-valid
  * blobs (real signatures, chunk layout, CRCs) around deterministic
  * payloads — which is exactly what makes the decode oracle-checkable: the
  * DuckDB side replays the ENCODER's deterministic choices while Spark
  * genuinely round-trips them through binary header parsing, and
  * MultimodalSpec feeds the parser containers produced by the independent
  * JDK encoders (javax.imageio / javax.sound.sampled) to pin the parse
  * against a second implementation.
  *
  * Scale notes: header parse reads a few hundred bytes per blob — a
  * map-only stage whose cost is IO, not codec CPU (a pixel decode would
  * sit in the same `decodeOne` slot, batched per codec context). Batched
  * iteration inside mapPartitions amortizes per-batch setup, `repartition`
  * upstream sizes tasks to decoder throughput, and the output is columnar
  * features, never the raw bytes, so downstream stages shuffle small rows.
  */
object Multimodal {

  /** Typed input record: one media blob + envelope metadata. */
  case class MediaRecord(
      doc_id: Long,
      media_type: String,
      payload: Array[Byte])

  /** Typed output record: header-decoded features. width/height/channels
    * from the image header (0 where the modality has none), channels also
    * the WAV channel count, n_frames = 1 for stills, PCM sample frames
    * for audio, sampled-frame count for raw video blobs.
    */
  case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      size_bytes: Int,
      checksum: Long,
      width: Int,
      height: Int,
      channels: Int,
      n_frames: Int)

  /** Attach a binary media column to the documents table: the text bytes
    * wrapped in a format-valid container (the container has no real media
    * files) — PNG or JPEG alternating for image docs, with dimensions
    * derived deterministically from the payload size (mod-251 keeps them
    * u16-safe), 16-bit PCM WAV for audio docs, raw bytes for video docs.
    * media_type assigned round-robin by doc_id. This is the envelope a
    * real pipeline would read from parquet `binary` columns.
    */
  def attachMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val n = payload.length.toLong
        (id % 3).toInt match {
          case 0 =>
            val w = (n % 251 + 1).toInt
            val h = ((n * 7 + 13) % 251 + 1).toInt
            val blob =
              if (id % 6 == 0) MediaHeaders.buildPng(w, h, payload)
              else MediaHeaders.buildJpeg(w, h, payload)
            MediaRecord(id, "image", blob)
          case 1 =>
            MediaRecord(id, "audio", MediaHeaders.buildWav(
              channels = (1 + id % 2).toInt, sampleRate = 8000, payload))
          case _ =>
            MediaRecord(id, "video", payload)
        }
      }.toDF()
  }

  /** Modality accounting: per (source, media_type) document counts and
    * byte mass — the storage/throughput telemetry a multimodal corpus
    * publishes per snapshot. Map stage + one tiny-domain aggregate.
    */
  def mediaStats(docs: DataFrame): DataFrame =
    attachMedia(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("media_type"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("payload"))).as("total_bytes"),
        max(length(col("payload"))).cast("long").as("max_bytes"))

  /** Real header decode of one blob: format-sniff on the magic bytes
    * (extensions/envelope metadata are untrusted at ingest), parse the
    * public header fields, and checksum the container's PAYLOAD section
    * (PNG IDAT / JPEG entropy segment / WAV data chunk) with a bounded
    * mod-prime rolling hash. Unrecognized blobs (raw video here) fall
    * through with zero dimensions and the byte-stride frame count.
    */
  private def decodeOne(r: MediaRecord): MediaFeatures = {
    val size = r.payload.length
    val data = MediaHeaders.payloadSection(r.payload)
    val checksum = data.foldLeft(0L)((acc, b) =>
      (acc * 31 + (b & 0xff)) % 1000000007L)
    MediaHeaders.sniff(r.payload) match {
      case Some(MediaHeaders.ImageInfo(w, h, ch)) =>
        MediaFeatures(r.doc_id, r.media_type, size, checksum, w, h, ch, 1)
      case Some(MediaHeaders.AudioInfo(ch, _, bits, dataBytes)) =>
        val frameBytes = math.max(ch * (bits / 8), 1)
        MediaFeatures(r.doc_id, r.media_type, size, checksum, 0, 0, ch,
          dataBytes / frameBytes)
      case None =>
        MediaFeatures(r.doc_id, r.media_type, size, checksum, 0, 0, 0,
          size / 100 + 1)
    }
  }

  /** Batched per-partition decode: groups the partition iterator into
    * fixed-size batches (the shape a vectorized/codec-context decode needs)
    * and flattens the decoded features back out. Map-only — no shuffle.
    */
  def decodeFeatures(
      spark: SparkSession,
      media: DataFrame,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup for a real pixel decoder would happen here
        batch.iterator.map(decodeOne)
      }
    }
  }

  /** Resize planning for image payloads: aspect-preserving fit into a
    * `(tw × th)` box — keep dimensions that already fit, else scale the
    * tighter side down with floor arithmetic (exact: all products are
    * small integers, representable in doubles on any engine). Input
    * dimensions come from the REAL header parse; emits the resized
    * dimensions and a proportional byte estimate — the planning half of
    * a resize stage; a real implementation re-encodes the payload where
    * the pixel decode sits in [[decodeFeatures]]. Map-only, no shuffle
    * at any scale.
    */
  def resizeImages(
      spark: SparkSession,
      media: DataFrame,
      tw: Int = 64,
      th: Int = 64): DataFrame = {
    val feats = decodeFeatures(spark, media).toDF()
    val w = greatest(col("width"), lit(1)).cast("double")
    val h = greatest(col("height"), lit(1)).cast("double")
    val fitH = floor(h * tw / w).cast("int") // height if scaled to width tw
    val noScale = col("width") <= tw && col("height") <= th
    feats.where(col("media_type") === "image")
      .select(
        col("doc_id"), col("size_bytes"),
        col("width").as("in_w"), col("height").as("in_h"),
        when(noScale, col("width")).when(fitH <= th, lit(tw))
          .otherwise(floor(w * th / h).cast("int")).as("out_w"),
        when(noScale, col("height")).when(fitH <= th, fitH)
          .otherwise(lit(th)).as("out_h"))
      .withColumn("out_bytes",
        floor(col("size_bytes").cast("double") *
          (col("out_w") * col("out_h")).cast("double") /
          greatest((col("in_w") * col("in_h")).cast("double"), lit(1.0)))
          .cast("long"))
  }

  // ── image near-dup via perceptual hash (pixel-level decode) ────────

  /** dHash grid geometry: 9 block columns × 7 block rows give 8×7 = 56
    * horizontal-gradient bits — 56, not 64, so the packed hash and every
    * aggregate over it stay comfortably inside signed BIGINT on both
    * engines (the same reasoning as the 48-bit oracle SimHash,
    * [[Dedup.simhashSqlSignatures]]).
    */
  val PhashCols = 9
  val PhashRows = 7
  val PhashBits: Int = (PhashCols - 1) * PhashRows // 56

  /** Attach REAL decodable PNGs to the image-modality documents
    * (doc_id % 3 == 0, [[attachMedia]]'s image slot): a 36×28 truecolor
    * PNG of 4×4 constant gray blocks on the 9×7 dHash grid, zlib
    * scanlines and CRC'd chunks ([[MediaHeaders.buildPixelPng]] —
    * javax.imageio decodes them). Pixel values are a deterministic
    * function of doc_id, which is what makes the pixel pipeline
    * oracle-checkable (the attachMedia pattern at pixel level):
    * block (bx, by) has gray `md5("seed_bx_by")[first byte] mod 200` —
    * md5, not an arithmetic mix, because anything linear-ish (a
    * gradient, or a linear congruence double-mod) leaves every seed's
    * dHash within a few bits of every other's and the LSH degenerates
    * toward all-pairs; md5 is the same SQL-replayable randomness the
    * 48-bit oracle SimHash uses — with seed = doc_id mod 40, so docs
    * sharing a seed render the same base image; plus +40 on the single
    * block (p, p), p = (doc_id div 40) mod 5 — a per-doc perturbation
    * INDEPENDENT of the seed (doc_id mod 5 would be determined by the
    * seed, 5 | 40, leaving every same-seed pair identical).
    * Same seed, different p ⇒ ≤ 2 blocks differ ⇒ ≤ 4 dHash bits
    * differ (near-dups); different seeds ⇒ independent random grids
    * (hamming ≈ 28 of 56, far outside the cut).
    */
  def attachPixelImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .as[Long].map { id =>
        (id, renderGrayPng((id % 40).toInt, (id / 40 % 5).toInt))
      }.toDF("doc_id", "payload")
  }

  /** Render the deterministic 36×28 block-gray PNG for one
    * `(seed, perturbation)` pair — the single frame generator behind
    * [[attachPixelImages]], [[syntheticQueryImages]], and the
    * per-frame video container ([[attachVideoFrames]]).
    */
  private def renderGrayPng(seed: Int, p: Int): Array[Byte] = {
    val blk = 4
    val w = PhashCols * blk; val h = PhashRows * blk
    val grid = Array.tabulate(PhashRows, PhashCols)((by, bx) =>
      blockGray(seed, bx, by, p))
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = grid(y / blk)(x / blk)
        val o = (y * w + x) * 3
        rgb(o) = g.toByte; rgb(o + 1) = g.toByte; rgb(o + 2) = g.toByte
        x += 1
      }
      y += 1
    }
    MediaHeaders.buildPixelPng(w, h, rgb)
  }

  /** The same grid as [[renderGrayPng]] rendered as a REAL baseline
    * grayscale JPEG at 8-pixel blocks (72×56): each grid cell IS one
    * JPEG 8×8 block, constant, so it carries only a DC coefficient and
    * the flat-8 quant table round-trips it LOSSLESSLY — the decoded
    * pixels equal the generator grid digit-exactly, the same oracle
    * contract as the PNG render (and the two renders reduce to the
    * SAME luma grid, hence the same dHash).
    */
  private def renderGrayJpeg(seed: Int, p: Int): Array[Byte] = {
    val blk = 8
    val w = PhashCols * blk; val h = PhashRows * blk
    val grid = Array.tabulate(PhashRows, PhashCols)((by, bx) =>
      blockGray(seed, bx, by, p))
    val gray = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        gray(y * w + x) = grid(y / blk)(x / blk).toByte
        x += 1
      }
      y += 1
    }
    MediaHeaders.buildPixelJpeg(w, h, gray)
  }

  /** [[attachPixelImages]] with MIXED container formats: even image
    * slots (by u = doc_id/3) render the PNG, odd ones the baseline
    * grayscale JPEG — both from the identical block grid, so every
    * doc's dHash (and therefore the whole near-dup structure and the
    * md5-formula oracle) is UNCHANGED while half the corpus exercises
    * the real JPEG entropy decode end to end.
    */
  def attachPixelImagesMixed(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .as[Long].map { id =>
        val seed = (id % 40).toInt; val p = (id / 40 % 5).toInt
        (id, if (id / 3 % 2 == 0) renderGrayPng(seed, p)
             else renderGrayJpeg(seed, p))
      }.toDF("doc_id", "payload")
  }

  /** The synthetic generator's block value: first md5 byte of
    * `"seed_bx_by"` mod 200 (+40 on the perturbed block) — exposed so
    * the spec pins [[imagePerceptualHash]]'s decoded-pixel hash against
    * the same formula the DuckDB oracle replays.
    */
  private[operators] def blockGray(
      seed: Int, bx: Int, by: Int, p: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_${bx}_${by}".getBytes("UTF-8"))
    (d(0) & 0xff) % 200 + (if (bx == p && by == p) 40 else 0)
  }

  /** 56-bit difference hash over a REAL pixel decode: inflate + unfilter
    * the PNG ([[MediaHeaders.decodePixelPng]]), integer luma
    * ((299R + 587G + 114B) / 1000 — exact for gray pixels), reduce to
    * the 9×7 grid (exact integer block means when the dimensions divide
    * the grid; deterministic center-point sampling otherwise), and set
    * bit (by·8 + bx) when the right neighbor is strictly brighter — the
    * standard dHash, brightness-shift invariant (a global +k moves no
    * comparison). Map-only mapPartitions (binary codec work, the same
    * justification as [[decodeFeatures]]); output is 8 bytes/blob.
    * Undecodable blobs are dropped.
    */
  def imagePerceptualHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodePixelImage(bytes).map(f => (id, dHash56(f)))
        }
      }.toDF("doc_id", "phash")
  }

  /** Format-sniffed pixel decode: PNG ([[MediaHeaders.decodePixelPng]])
    * or baseline grayscale JPEG ([[MediaHeaders.decodePixelJpeg]],
    * round 12) — the two real codecs behind the phash path; anything
    * else (undecodable or out-of-scope streams) is None.
    */
  private def decodePixelImage(
      bytes: Array[Byte]): Option[MediaHeaders.PixelFrame] =
    if (MediaHeaders.isPng(bytes)) MediaHeaders.decodePixelPng(bytes)
    else MediaHeaders.decodePixelJpeg(bytes)

  /** The 56-bit dHash of one decoded frame — the packing
    * [[imagePerceptualHash]] documents, shared with the per-frame
    * video hashes ([[videoFrameHashes]]).
    */
  private def dHash56(f: MediaHeaders.PixelFrame): Long = {
    val grid = lumaGrid(f, PhashCols, PhashRows)
    var hash = 0L
    var by = 0
    while (by < PhashRows) {
      var bx = 0
      while (bx < PhashCols - 1) {
        if (grid(by * PhashCols + bx + 1) > grid(by * PhashCols + bx))
          hash |= 1L << (by * (PhashCols - 1) + bx)
        bx += 1
      }
      by += 1
    }
    hash
  }

  /** Luma grid reduction: integer luma per pixel, then per-cell exact
    * integer means when (width, height) divide the grid, else the cell
    * center pixel — both deterministic on any input.
    */
  private def lumaGrid(
      f: MediaHeaders.PixelFrame, cols: Int, rows: Int): Array[Int] = {
    def lumaAt(x: Int, y: Int): Int = {
      val o = (y * f.width + x) * f.channels
      f.channels match {
        case 1 | 2 => f.pixels(o) & 0xff // gray (+alpha ignored)
        case _ =>
          (299 * (f.pixels(o) & 0xff) + 587 * (f.pixels(o + 1) & 0xff) +
            114 * (f.pixels(o + 2) & 0xff)) / 1000
      }
    }
    val out = new Array[Int](cols * rows)
    val exact = f.width % cols == 0 && f.height % rows == 0
    var by = 0
    while (by < rows) {
      var bx = 0
      while (bx < cols) {
        out(by * cols + bx) =
          if (exact) {
            val bw = f.width / cols; val bh = f.height / rows
            var s = 0
            var y = by * bh
            while (y < (by + 1) * bh) {
              var x = bx * bw
              while (x < (bx + 1) * bw) { s += lumaAt(x, y); x += 1 }
              y += 1
            }
            s / (bw * bh)
          } else lumaAt(
            ((bx + 0.5) * f.width / cols).toInt,
            ((by + 0.5) * f.height / rows).toInt)
        bx += 1
      }
      by += 1
    }
    out
  }

  /** Image near-dup pairs over [[imagePerceptualHash]]: hamming-LSH
    * band-bucket candidates (seven 8-bit bands of the 56-bit dHash)
    * refined with bit_count(xor) ≤ `maxHamming` — the image analog of
    * [[Dedup.simhashSqlPairs]], bucketed, never all-pairs. For
    * maxHamming ≤ 6 the uncapped banding is COMPLETE by pigeonhole
    * (≤ 6 differing bits dirty at most 6 of the 7 bands), so the banded
    * equi-join provably equals the all-pairs filter the oracle runs.
    * `bucketCap` opts into the shared [[Dedup.saltBanded]] skew cap for
    * flood-prone corpora (identical-template images), at the documented
    * hot-bucket recall cost — same contract as the SimHash pairs.
    */
  def imageNearDupPairs(
      spark: SparkSession, media: DataFrame,
      maxHamming: Int = 6,
      bucketCap: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(
      imagePerceptualHash(spark, media), "phash", maxHamming, bucketCap)

  /** Shared hamming-LSH pair machinery over any `(doc_id, <sigCol>)`
    * 56-bit signature frame: seven 8-bit band buckets (complete for
    * hamming ≤ 6 by pigeonhole — ≤ 6 differing bits dirty at most 6 of
    * the 7 bands, so every qualifying pair agrees exactly on ≥ 1 band),
    * candidate equi-join, bit_count(xor) refine. The one generator
    * behind the image AND audio near-dup operators; `bucketCap` opts
    * into the shared [[Dedup.saltBanded]] skew cap at the documented
    * hot-bucket recall cost.
    */
  private[graft] def bandedHammingPairs(
      signatures: DataFrame, sigCol: String,
      maxHamming: Int, bucketCap: Int): DataFrame = {
    require(maxHamming <= 6, "7x8-bit banding is only complete for hamming <= 6")
    val nBands = PhashBits / 8 // 7
    val sigs = graft.engine.OpCache.materialize(
      signatures.select(col("doc_id"), col(sigCol).as("sig")))
    val bandStructs = array((0 until nBands).map { bnd =>
      struct(
        lit(bnd).as("band"),
        shiftrightunsigned(col("sig"), bnd * 8).bitwiseAND(lit(0xFFL)).as("bh"))
    }: _*)
    val bandedRaw = sigs
      .select(col("doc_id"), col("sig"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bh").as("bh"))
    val banded =
      if (bucketCap == Int.MaxValue) Dedup.saltBanded(bandedRaw, bucketCap)
      else graft.engine.OpCache.materialize(
        Dedup.saltBanded(bandedRaw, bucketCap))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig")))
          .cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Query-by-image serving: rank the stored images for EXTERNAL query
    * blobs — decode each query PNG through the same real pixel path,
    * hash it, and return the top-`k` stored images per query by
    * (hamming asc, doc_id asc). The query set is request-sized, so it
    * BROADCASTS and the scan is one map-only pass over the corpus
    * hashes plus a per-query bounded top-k (window over query_id — as
    * many partitions as queries, never a global sort); the banded index
    * ([[imageNearDupPairs]]'s machinery) remains the pruned path when a
    * hamming cut is acceptable — top-k serving must not miss a best
    * match outside the cut, so the baseline scans.
    */
  def phashSearch(
      spark: SparkSession, media: DataFrame,
      queries: DataFrame, k: Int = 5): DataFrame =
    rankByHamming(
      imagePerceptualHash(spark, media)
        .select(col("doc_id"), col("phash").as("sig")),
      imagePerceptualHash(spark, queries)
        .select(col("doc_id").as("query_id"), col("phash").as("qsig")),
      k)

  /** The shared hamming top-k ranker over `(doc_id, sig)` corpus rows
    * and `(query_id, qsig)` query rows — the serving plan
    * [[phashSearch]], [[audioSearch]], and the streaming stores'
    * serving reads ([[graft.streaming.StreamOps.phashSearchStored]])
    * all run: request-sized query set broadcast, one map-only pass
    * over the corpus signatures, per-query bounded top-k via a window
    * over query_id.
    */
  private[graft] def rankByHamming(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col("doc_id"),
        bit_count(col("qsig").bitwiseXOR(col("sig")))
          .cast("int").as("hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("hamming"))
  }

  /** Synthetic EXTERNAL query images: same deterministic generator as
    * [[attachPixelImages]] but with perturbation blocks p ∈ {5, 6} —
    * valid grid blocks the store never uses (its p ∈ 0..4), so queries
    * are near, not identical, to their seed's stored images. One query
    * per (seed, p) pair passed in.
    */
  def syntheticQueryImages(
      spark: SparkSession, seedPerturbs: Seq[(Int, Int)]): DataFrame = {
    import spark.implicits._
    seedPerturbs.zipWithIndex.map { case ((seed, p), qi) =>
      require(p >= 5 && p <= 6, s"query perturbation must be 5 or 6, got $p")
      (qi.toLong, renderGrayPng(seed, p))
    }.toDF("doc_id", "payload")
  }

  // ── audio content features + fingerprint (PCM-level decode) ────────

  /** Audio fingerprint geometry: 57 energy windows → 56 gradient bits,
    * the same 56-bit/7-band arithmetic as [[PhashBits]].
    */
  val AudioWindows: Int = PhashBits + 1 // 57

  /** 16-bit LE signed PCM samples of a WAV blob's `data` chunk (an odd
    * trailing byte is not a sample and is dropped). Empty for non-WAV
    * blobs — [[MediaHeaders.payloadSection]] guards the chunk walk.
    */
  private def pcmSamples(payload: Array[Byte]): Array[Int] = {
    val data =
      if (MediaHeaders.isWav(payload)) MediaHeaders.payloadSection(payload)
      else Array.emptyByteArray
    val n = data.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val u = (data(2 * i) & 0xff) | ((data(2 * i + 1) & 0xff) << 8)
      out(i) = if (u >= 32768) u - 65536 else u
      i += 1
    }
    out
  }

  /** Content-level audio features from a REAL PCM decode of the WAV
    * data chunk (16-bit LE signed samples): sample count, total and
    * peak absolute amplitude, zero crossings — the loudness/activity
    * telemetry an audio corpus publishes per blob, and all integer-
    * exact (no floats anywhere). Map-only; 4 longs out per blob.
    */
  def audioContentFeatures(
      spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord]
      .filter(_.media_type == "audio")
      .map { r =>
        val s = pcmSamples(r.payload)
        var sum = 0L; var peak = 0L; var zc = 0L
        var i = 0
        while (i < s.length) {
          val a = math.abs(s(i).toLong)
          sum += a
          if (a > peak) peak = a
          if (i > 0 && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
          i += 1
        }
        (r.doc_id, s.length.toLong, sum, peak, zc)
      }
      .toDF("doc_id", "n_samples", "sum_abs", "peak_abs", "zero_crossings")
  }

  /** 56-bit audio energy fingerprint: the PCM stream is cut into
    * [[AudioWindows]] balanced windows (sample i → window i·57 / n —
    * exact integer arithmetic both engines replay), and bit w is set
    * when window w+1 carries strictly higher MEAN absolute amplitude
    * than window w — compared by cross-multiplication
    * (sum·cnt vs sum·cnt), so no division and no floats. The dHash idea
    * on the energy envelope: gain-shift tolerant in the same way, and
    * the image/audio fingerprints share the banded pair machinery.
    * Overflow bound: sum ≤ 32768·n, so the cross product needs
    * n² ≤ 2⁶³ / 32768 — fine beyond 10⁶-sample windows (documented;
    * long-form audio would fold per-window means instead).
    */
  def audioFingerprint(
      spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val w = AudioWindows
    media.as[MediaRecord]
      .filter(_.media_type == "audio")
      .map { r =>
        val s = pcmSamples(r.payload)
        val n = s.length
        val sums = new Array[Long](w); val cnts = new Array[Long](w)
        var i = 0
        while (i < n) {
          val b = (i.toLong * w / n).toInt
          sums(b) += math.abs(s(i).toLong); cnts(b) += 1
          i += 1
        }
        var sig = 0L
        var b = 0
        while (b < w - 1) {
          if (sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1))
            sig |= 1L << b
          b += 1
        }
        (r.doc_id, sig)
      }
      .toDF("doc_id", "afp")
  }

  /** Audio near-dup pairs: the shared [[bandedHammingPairs]] machinery
    * over [[audioFingerprint]] — bucketed hamming-LSH, complete for
    * hamming ≤ 6, never all-pairs. Exact-duplicate audio (same PCM
    * payload) lands at hamming 0; re-gained or lightly edited audio
    * lands within the cut when its energy envelope shape survives.
    */
  def audioNearDupPairs(
      spark: SparkSession, media: DataFrame,
      maxHamming: Int = 6,
      bucketCap: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(
      audioFingerprint(spark, media), "afp", maxHamming, bucketCap)

  /** Synthetic EXTERNAL query audio for [[audioSearch]]: `nSamples`
    * 16-bit PCM samples from a closed-form integer generator
    * (`((seed·7919 + i·104729 + i²·31) mod 4001) − 2000`, amplitudes
    * the oracle replays digit-exact), packed LE into a real WAV
    * container — the query blobs then run the SAME container parse +
    * PCM decode + fingerprint path as the stored corpus. The default
    * 570 samples make every one of the 57 energy windows exactly
    * 10 samples, so the balanced-window math is trivially replayable.
    */
  def syntheticQueryAudio(
      spark: SparkSession, seeds: Seq[Int],
      nSamples: Int = 570): DataFrame = {
    import spark.implicits._
    seeds.zipWithIndex.map { case (seed, qi) =>
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        // Long arithmetic: i*i*31 overflows Int past ~8323 samples and
        // would silently break the documented closed-form/oracle contract
        val x = ((seed * 7919L + i * 104729L + i.toLong * i * 31L) % 4001L
          - 2000L).toInt
        val u = if (x < 0) x + 65536 else x
        pcm(2 * i) = (u & 0xff).toByte
        pcm(2 * i + 1) = ((u >> 8) & 0xff).toByte
        i += 1
      }
      MediaRecord(qi.toLong, "audio",
        MediaHeaders.buildWav(channels = 1, sampleRate = 8000, pcm))
    }.toDF()
  }

  /** Attach SEGMENTED audio to the audio-modality documents: 570-sample
    * WAVs (windows of exactly 10) with planted silence — amplitude 0 in
    * up to two doc-dependent window runs (run A: start u % 20, length
    * u % 5 — absent when 0; run B: start 30 + u % 15, length 2 + u % 4;
    * the ranges can never meet: A ends ≤ 25, B starts ≥ 30) and the
    * [[syntheticQueryAudio]] closed-form integer PCM elsewhere — the
    * speech/silence structure silence segmentation exists to find, and
    * exactly replayable in SQL (the quiet ranges and amplitudes are
    * integer formulas of doc_id and sample index).
    */
  def attachSegmentedAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nSamples = 570
    docs.select(col("doc_id")).where(col("doc_id") % 3 === 1)
      .as[Long].map { id =>
        val u = id / 3
        val qa = u % 20; val la = u % 5
        val qb = 30 + u % 15; val lb = 2 + u % 4
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val w = i / 10
          val quiet = (la > 0 && w >= qa && w < qa + la) ||
            (w >= qb && w < qb + lb)
          val x =
            if (quiet) 0L
            else (u * 7919L + i * 104729L + i.toLong * i * 31L) % 4001L - 2000L
          val v = if (x < 0) (x + 65536L).toInt else x.toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "audio",
          MediaHeaders.buildWav(channels = 1, sampleRate = 8000, pcm))
      }.toDF()
  }

  /** Silence segmentation over the energy-window track: a window is
    * QUIET when its mean |amplitude| falls below 1/`denom` of the
    * whole-stream mean (cross-multiplied — `sm_w·denom·n <
    * sm_tot·c_w` — so the cut is exact integer arithmetic on both
    * engines, the [[audioFingerprint]] discipline); consecutive quiet
    * windows merge into segments. Per doc: quiet-window count, segment
    * count, and the longest quiet run — the trim/segment accounting an
    * audio ingest runs before feature extraction (silence-trimmed
    * duration, VAD-style chunk boundaries), the audio sibling of
    * [[videoSceneBoundaries]]. Map-only typed lambda (binary codec
    * work), 4 longs out per blob. Overflow bound: sm_w ≤ 32768·c_w and
    * the cross products stay under 2⁶³ beyond 10⁶-sample streams
    * (long-form audio would fold per-window means instead).
    */
  def audioSilenceSegments(
      spark: SparkSession, media: DataFrame, denom: Int = 4): DataFrame = {
    import spark.implicits._
    val w = AudioWindows
    media.as[MediaRecord]
      .filter(_.media_type == "audio")
      .map { r =>
        val s = pcmSamples(r.payload)
        val n = s.length
        val sums = new Array[Long](w); val cnts = new Array[Long](w)
        var i = 0
        while (i < n) {
          val b = (i.toLong * w / n).toInt
          sums(b) += math.abs(s(i).toLong); cnts(b) += 1
          i += 1
        }
        var smTot = 0L
        var b = 0
        while (b < w) { smTot += sums(b); b += 1 }
        var nQuiet = 0L; var nSeg = 0L; var longest = 0L; var run = 0L
        b = 0
        while (b < w) {
          val quiet = cnts(b) > 0 &&
            sums(b) * denom * n < smTot * cnts(b)
          if (quiet) {
            nQuiet += 1; run += 1
            if (run == 1) nSeg += 1
            if (run > longest) longest = run
          } else run = 0
          b += 1
        }
        (r.doc_id, nQuiet, nSeg, longest)
      }
      .toDF("doc_id", "quiet_windows", "quiet_segments", "longest_quiet_run")
  }

  /** Query-by-audio serving: rank the stored audio corpus for EXTERNAL
    * query WAVs — decode each query through the same real PCM path,
    * fingerprint it ([[audioFingerprint]]), and return the top-`k`
    * stored docs per query by (hamming asc, doc_id asc). Identical
    * serving shape to [[phashSearch]]: the request-sized query set
    * BROADCASTS, the scan is one map-only pass over the corpus
    * fingerprints, and the per-query top-k is a window over query_id
    * (as many partitions as queries — never a global sort). The banded
    * index remains the pruned path when a hamming cut is acceptable;
    * exact top-k must not miss a best match outside the cut, so the
    * baseline scans.
    */
  def audioSearch(
      spark: SparkSession, media: DataFrame,
      queries: DataFrame, k: Int = 5): DataFrame =
    rankByHamming(
      audioFingerprint(spark, media)
        .select(col("doc_id"), col("afp").as("sig")),
      audioFingerprint(spark, queries)
        .select(col("doc_id").as("query_id"), col("afp").as("qsig")),
      k)

  /** The INCREMENTAL form of [[bandedHammingPairs]]: canonicalized
    * pairs with at least one endpoint in `newSigs`, against `allSigs` —
    * new×store only, old×old never recomputed (the cross-corpus-dedup
    * contract [[graft.streaming.StreamOps.newHammingPairsForBatch]]
    * serves over the `phashSink`/`audioFingerprintSink` signature
    * stores). Uncapped banding, like the minhash incremental read: the
    * salt cap's hot-bucket detection is per-frame and would misalign
    * between the two sides.
    */
  private[graft] def bandedHammingPairsBetween(
      newSigs: DataFrame, allSigs: DataFrame, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 6, "7x8-bit banding is only complete for hamming <= 6")
    val nBands = PhashBits / 8
    def banded(df: DataFrame): DataFrame = {
      val bandStructs = array((0 until nBands).map { bnd =>
        struct(
          lit(bnd).as("band"),
          shiftrightunsigned(col("sig"), bnd * 8).bitwiseAND(lit(0xFFL)).as("bh"))
      }: _*)
      df.select(col("doc_id"), col(sigCol).as("sig"))
        .select(col("doc_id"), col("sig"), explode(bandStructs).as("b"))
        .select(col("doc_id"), col("sig"),
          col("b.band").as("band"), col("b.bh").as("bh"))
    }
    banded(newSigs).as("x").join(banded(allSigs).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig")))
          .cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Frame sampling over RAW (unrecognized) video payloads: every
    * `stride` bytes is a "frame" offset — the explode-to-frames shape
    * whose row count is data-dependent, for blobs with no parseable
    * container. The REAL container path is [[videoFrameHashes]]:
    * actual per-frame pixel decodes over the multi-frame container.
    */
  def sampleFrames(
      spark: SparkSession,
      media: DataFrame,
      stride: Int = 100): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord]
      .filter(_.media_type == "video")
      .flatMap { r =>
        (0 until r.payload.length by stride).map { off =>
          (r.doc_id, off / stride, off,
            math.min(stride, r.payload.length - off))
        }
      }
      .toDF("doc_id", "frame_idx", "byte_offset", "frame_bytes")
  }

  // ── video: real multi-frame container + frame-hash near-dup ────────

  /** Frames per synthetic video container. */
  val VideoFrames = 4

  /** Video generator geometry: base-image seeds and the perturbation
    * ring the per-frame window slides over (7 = the valid diagonal
    * blocks of the 9×7 grid).
    */
  val VideoSeeds = 24
  val VideoOffsets: Int = PhashRows // 7

  /** Attach a REAL multi-frame video container to the video-modality
    * documents (doc_id % 3 == 2): [[VideoFrames]] concatenated
    * pixel-PNG frames (each a full zlib/CRC PNG the round-11 generator
    * renders — [[MediaHeaders.splitConcatenatedPngs]] walks them back
    * out), standing in for a keyframe track. Frame f of video
    * u = doc_id/3 renders `(seed, p)` = (u % 24, (off + f) % 7) with
    * off = (u / 24) % 7 — a perturbation WINDOW sliding on a 7-ring, so
    * same-seed videos whose windows overlap share byte-identical frames
    * (window distance d on the ring shares 4−d frames for d ≤ 3, plus
    * the wraparound overlap) while different seeds share none: exactly
    * the shared-scene structure frame-hash video dedup exists to catch,
    * and deterministic enough for the DuckDB oracle to replay per
    * frame. Off-videos with equal (seed, off) are full duplicates.
    */
  def attachVideoFrames(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).where(col("doc_id") % 3 === 2)
      .as[Long].map { id =>
        val u = id / 3
        val seed = (u % VideoSeeds).toInt
        val off = (u / VideoSeeds % VideoOffsets).toInt
        val out = new ByteArrayOutputStream()
        var f = 0
        while (f < VideoFrames) {
          val png = renderGrayPng(seed, (off + f) % VideoOffsets)
          out.write(png, 0, png.length)
          f += 1
        }
        (id, out.toByteArray)
      }.toDF("doc_id", "payload")
  }

  /** REAL per-frame decode of the video containers: split the
    * concatenated-PNG track ([[MediaHeaders.splitConcatenatedPngs]] —
    * guarded walk, clean-prefix on malformation), run each frame
    * through the same real pixel decode as the still images, and emit
    * the frame's dimensions plus its 56-bit dHash. Map-only
    * mapPartitions (binary codec work); output is a few longs per
    * frame, never pixels — the video analog of [[imagePerceptualHash]].
    */
  def videoFrameHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaHeaders.splitConcatenatedPngs(bytes).iterator.zipWithIndex
            .flatMap { case (frame, idx) =>
              MediaHeaders.decodePixelPng(frame)
                .map(f => (id, idx, f.width, f.height, dHash56(f)))
            }
        }
      }.toDF("doc_id", "frame_idx", "width", "height", "fhash")
  }

  /** Video near-dup pairs by frame-hash overlap: two videos are near
    * dups when they share ≥ `minShared` distinct frame hashes —
    * shared-scene containment, computed as an EQUI-JOIN on the exact
    * frame hash (bucketed by hash value — never all-pairs; candidate
    * cost is Σ bucket², the postings-join shape every text dedup here
    * uses). Rows are distinct `(doc_id, fhash)` before the join, so the
    * per-pair `count` IS the distinct shared-hash count with no
    * count-distinct Expand. `hotCap` drops frame hashes present in more
    * than that many videos (template intro/outro frames — the df cut
    * every containment join here applies), bounding any bucket's join
    * fan-out at the documented recall cost on flood frames.
    */
  def videoNearDupPairs(
      spark: SparkSession, media: DataFrame,
      minShared: Int = 2,
      hotCap: Int = 1024): DataFrame =
    frameOverlapPairs(
      graft.engine.OpCache.materialize(
        videoFrameHashes(spark, media)
          .select(col("doc_id"), col("fhash")).distinct()),
      minShared, hotCap)

  /** Synthetic EXTERNAL query videos for [[videoSearch]]: a 2-keyframe
    * container per `(seed, startOff)` spec — frames render `(seed,
    * (startOff + f) % 7)` for f ∈ {0, 1} through the SAME generator as
    * the stored containers, so a query shares byte-identical frames
    * with exactly the stored videos whose 4-frame window overlaps its
    * 2-frame window on the same seed. Shorter than any stored video,
    * so no query container equals a stored one.
    */
  def syntheticQueryVideos(
      spark: SparkSession, specs: Seq[(Int, Int)]): DataFrame = {
    import spark.implicits._
    specs.zipWithIndex.map { case ((seed, startOff), qi) =>
      val out = new ByteArrayOutputStream()
      var f = 0
      while (f < 2) {
        val png = renderGrayPng(seed, (startOff + f) % VideoOffsets)
        out.write(png, 0, png.length)
        f += 1
      }
      (qi.toLong, out.toByteArray)
    }.toDF("doc_id", "payload")
  }

  /** Query-by-video serving: rank the stored videos for EXTERNAL query
    * containers by DISTINCT shared frame hashes (desc, then doc_id asc),
    * top-`k` per query — the video sibling of [[phashSearch]] /
    * [[audioSearch]], but bucketed instead of scanned: candidates come
    * from an EQUI-JOIN on the exact frame hash (only videos sharing ≥ 1
    * frame with the query are candidates — a video sharing nothing
    * cannot outrank one sharing something, so the equi-join loses no
    * top-k member and the corpus is never cross-joined). Query frames
    * decode through the same container split + pixel path as ingest;
    * the per-query top-k is a window over query_id.
    */
  def videoSearch(
      spark: SparkSession, media: DataFrame,
      queries: DataFrame, k: Int = 5): DataFrame =
    rankBySharedFrames(
      videoFrameHashes(spark, media)
        .select(col("doc_id"), col("fhash")).distinct(),
      videoFrameHashes(spark, queries)
        .select(col("doc_id").as("query_id"), col("fhash")).distinct(),
      k)

  /** The shared shared-frame top-k ranker over DISTINCT `(doc_id,
    * fhash)` corpus rows and `(query_id, fhash)` query rows — the plan
    * [[videoSearch]] and the streaming store's serving read
    * ([[graft.streaming.StreamOps.videoSearchStored]]) both run:
    * candidates from the exact frame-hash equi-join (bucketed — a video
    * sharing zero frames cannot outrank one sharing any, so no top-k
    * member is lost and the corpus is never cross-joined), per-query
    * bounded top-k via a window over query_id.
    */
  private[graft] def rankBySharedFrames(
      corpusFh: DataFrame, queryFh: DataFrame, k: Int): DataFrame = {
    val scored = corpusFh.join(queryFh, "fhash")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared_frames"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("shared_frames").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("shared_frames"))
  }

  /** The shared frame-overlap pair former over DISTINCT `(doc_id,
    * fhash)` rows — the plan both [[videoNearDupPairs]] and the
    * streaming frame-hash store's merged read
    * ([[graft.streaming.StreamOps.readVideoNearDupPairs]]) run, so
    * stored and batch pair sets are identical by construction. `fh`
    * must already be distinct and cheap to rescan (materialized frame
    * hashes or a parquet state table — it is referenced three times).
    */
  // ── dedup-once published modality cluster tables ────────────────────

  /** The [[graft.operators.Dedup.sharedNearDupClusters]] publish contract
    * for the modality cluster tables: computed ONCE per `cacheKey` and
    * published as a parquet table every consumer reads (the per-modality
    * `multimodal_*_clusters` queries AND both release gates previously
    * re-derived the same synthesize→decode→pair→CC chain per query —
    * the round-3 text-cluster lesson applied to the three media
    * modalities). The fingerprint covers exactly the columns the
    * modality's synthetic payload is a function of: `doc_id` alone for
    * image/video (frames render from doc_id-derived seeds), but
    * `(doc_id, text)` for audio — [[attachMedia]] builds the WAV data
    * chunk from the TEXT bytes, so an unchanged id set over changed
    * text MUST fail the stale-key check, not silently serve old
    * clusters (the [[graft.operators.Dedup.sharedNearDupClusters]]
    * discipline; with real media the column set would be a payload
    * digest). Same stale-key detection: every reuse re-fingerprints
    * and compares against the published sidecar.
    */
  private def sharedClusters(
      docs: DataFrame, cacheKey: String, baseDir: String,
      family: String, what: String,
      fpCols: Seq[Column] = Seq(col("doc_id")))(
      compute: () => DataFrame): DataFrame =
    if (cacheKey.isEmpty) compute()
    else {
      val fp = graft.engine.PublishGuard.fingerprint(docs, fpCols)
      graft.engine.PublishGuard.sharedTableWithNotes(
        docs.sparkSession, baseDir, family, cacheKey, Nil, fp, what)(
        compute)._1
    }

  /** Image phash dedup clusters, compute-once published (see
    * [[sharedClusters]]). Live (unpublished) form: `cacheKey = ""`.
    */
  def sharedImageClusters(
      spark: SparkSession, docs: DataFrame,
      cacheKey: String, baseDir: String = ""): DataFrame =
    sharedClusters(docs, cacheKey, baseDir,
      "image_phash_clusters", "image phash cluster table") { () =>
      val img = attachPixelImages(docs)
      Dedup.clustersFromPairs(img.select(col("doc_id")),
        imageNearDupPairs(spark, img).select("doc_a", "doc_b"))
    }

  /** Audio energy-fingerprint dedup clusters, compute-once published.
    * The fingerprint includes `text` — audio payloads are built FROM
    * the text bytes (see [[sharedClusters]]), unlike the doc_id-pure
    * image/video generators.
    */
  def sharedAudioClusters(
      spark: SparkSession, docs: DataFrame,
      cacheKey: String, baseDir: String = ""): DataFrame =
    sharedClusters(docs, cacheKey, baseDir,
      "audio_fp_clusters", "audio fingerprint cluster table",
      fpCols = Seq(col("doc_id"), col("text"))) { () =>
      val media = attachMedia(docs)
      Dedup.clustersFromPairs(
        media.where(col("media_type") === "audio").select(col("doc_id")),
        audioNearDupPairs(spark, media).select("doc_a", "doc_b"))
    }

  /** Video frame-hash dedup clusters, compute-once published. */
  def sharedVideoClusters(
      spark: SparkSession, docs: DataFrame,
      cacheKey: String, baseDir: String = ""): DataFrame =
    sharedClusters(docs, cacheKey, baseDir,
      "video_fh_clusters", "video frame-hash cluster table") { () =>
      val vid = attachVideoFrames(docs)
      Dedup.clustersFromPairs(vid.select(col("doc_id")),
        videoNearDupPairs(spark, vid).select("doc_a", "doc_b"))
    }

  /** Attach 6-frame SCENE containers to the video-modality documents:
    * frames 0–2 render `(seedA, f)` and frames 3–5 render
    * `(seedB, f−3)` with seedA = u % 24 and
    * seedB = (seedA + 1 + u % 23) % 24 (offset ∈ 1..23, so the two
    * scenes NEVER share a seed) — a hard cut at frame 3 with gentle
    * within-scene motion (the perturbation block walks), the structure
    * scene detection exists to find. The separation is exhaustive over
    * the generator domain, not statistical: within-scene consecutive
    * dHash hamming ≤ 3 and cross-seed boundary hamming ≥ 16 across all
    * 24 seeds × 7 perturbations × 24×23 seed pairs, so any threshold in
    * (3, 16) classifies every possible video correctly at any SF.
    */
  def attachSceneVideos(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).where(col("doc_id") % 3 === 2)
      .as[Long].map { id =>
        val u = id / 3
        val seedA = (u % VideoSeeds).toInt
        val seedB = ((seedA + 1 + (u % (VideoSeeds - 1))).toInt) % VideoSeeds
        val out = new ByteArrayOutputStream()
        var f = 0
        while (f < 6) {
          val png =
            if (f < 3) renderGrayPng(seedA, f) else renderGrayPng(seedB, f - 3)
          out.write(png, 0, png.length)
          f += 1
        }
        (id, out.toByteArray)
      }.toDF("doc_id", "payload")
  }

  /** Scene-change detection over the per-frame dHash track: per video,
    * the hamming distance between each frame's 56-bit dHash and its
    * predecessor's; a SCENE BOUNDARY where that distance exceeds `tau`;
    * `scene_id` = running boundary count — the primitive behind
    * scene-balanced frame sampling for video training data (sample per
    * scene_id instead of per raw frame index, so long static shots
    * don't dominate). Shape: one window partitioned by doc_id over the
    * per-video frame track (bounded by container length — frames per
    * video never grows with corpus size), on hashes the ingest decode
    * already produced; videos scale out, nothing global.
    */
  def videoSceneBoundaries(
      spark: SparkSession, media: DataFrame, tau: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    videoFrameHashes(spark, media)
      .withColumn("prev", lag(col("fhash"), 1).over(w))
      .withColumn("hamming_prev",
        bit_count(col("fhash").bitwiseXOR(col("prev"))).cast("int"))
      .withColumn("is_boundary",
        coalesce(col("hamming_prev") > tau, lit(false)))
      .withColumn("scene_id",
        sum(when(col("is_boundary"), 1L).otherwise(0L))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("doc_id"), col("frame_idx"), col("hamming_prev"),
        col("is_boundary"), col("scene_id"))
  }

  /** Scene-balanced keyframe selection: one keyframe (the scene's first
    * frame) per `(video, scene)` — the sampling [[videoSceneBoundaries]]
    * exists to enable: a training pipeline that samples per SCENE
    * instead of per raw frame index stops long static shots from
    * dominating the frame budget. Output carries the scene's frame
    * count so downstream budgeting can weight by shot length. Shape:
    * one partial-agg groupBy over the per-frame scene labels — map-side
    * combinable, no second window.
    */
  def sceneKeyframes(
      spark: SparkSession, media: DataFrame, tau: Int = 8): DataFrame =
    videoSceneBoundaries(spark, media, tau)
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_idx")).as("keyframe_idx"),
        count(lit(1)).as("scene_frames"))

  private[graft] def frameOverlapPairs(
      fh: DataFrame, minShared: Int, hotCap: Int): DataFrame = {
    val keep = fh.groupBy(col("fhash"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= hotCap)
      .select(col("fhash"))
    val kept = fh.join(keep, "fhash")
    kept.as("x").join(kept.as("y"),
        col("x.fhash") === col("y.fhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared)
  }
}
