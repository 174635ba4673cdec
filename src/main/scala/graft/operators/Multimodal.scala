package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.MemoRegistry.{cut, shared}

/** Multimodal columns: media as opaque binary payloads + typed
  * metadata, with batched per-partition decode plumbing.
  *
  * IMAGE decode is REAL (r5): [[ImageIoDecoder]] decodes PNG/JPEG/
  * BMP bytes through javax.imageio (in the JDK, no external libs)
  * and extracts true dimensions + a quadrant-mean feature vector;
  * [[pngTable]] renders deterministic PNGs so the path is exercised
  * end-to-end on genuine image bytes. AUDIO decode is REAL for
  * WAV/PCM (r11): [[WavDecoder]] parses RIFF headers and PCM frames
  * through javax.sound.sampled (also in the JDK) — format metadata
  * + exact integer signal features, certified against a closed-form
  * md5 oracle (`q_audio_meta`, the phash discipline). Compressed
  * audio (mp3/ogg) and VIDEO stay STUBBED (`FakeDecoder`, honest
  * md5-derived pseudo-metadata — no ffmpeg-class libs in this
  * container); undecodable payloads fall back to the stub flagged
  * media_type="undecodable". Everything around the decoders —
  * binary column handling, schema, the mapPartitions-with-batching
  * shape a native decoder wants, partition sizing — is identical
  * for all paths and spec-tested.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, n_bytes: Long, media_type: String,
                              width: Int, height: Int, frames: Int,
                              features: Array[Float])

  val BatchSize = 64

  /** STUB decoder: a real implementation would hand each batch of
    * payloads to a native decoder (libjpeg/ffmpeg/...) — batching
    * amortizes per-call setup; this fake derives everything from
    * md5(payload) so results are deterministic and schema-complete.
    */
  object FakeDecoder {
    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = batch.map { r =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(r.payload)
      val h = java.lang.Long.parseLong(md.take(6).map("%02x".format(_)).mkString, 16)
      val n = r.payload.length.toLong
      DecodedRow(
        doc_id = r.doc_id,
        n_bytes = n,
        media_type = (n % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        },
        width = (h % 640 + 1).toInt,
        height = (h % 480 + 1).toInt,
        frames = (n % 30 + 1).toInt,
        features = Array.tabulate(8)(i => ((h >> (i * 6)) % 997).toFloat / 997f))
    }
  }

  /** documents.text cast to a binary payload column — the stand-in
    * media table (no binary test fixture ships in testdata).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Batched decode: one partition = one iterator, grouped into
    * BatchSize chunks (the shape a vectorized/native decoder wants).
    * Narrow transform — no shuffle; scales with input partitions.
    */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(FakeDecoder.decodeBatch))
  }

  /** REAL image decode via javax.imageio (in the JDK — no external
    * libs): width/height/band-count and a 2x2-quadrant mean-intensity
    * feature vector come from actually decoding the PNG/JPEG/BMP
    * bytes. Same batched mapPartitions shape as the stub path;
    * payloads ImageIO cannot decode (audio/video — still lib-blocked
    * in this container) fall back to [[FakeDecoder]], flagged by
    * media_type so callers can split real from stubbed downstream.
    */
  object ImageIoDecoder {
    def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = batch.map { r =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        // NonFatal, not just IOException: JDK image readers throw
        // RuntimeExceptions (IndexOutOfBounds, NegativeArraySize,
        // CMMException) on corrupt payloads — a crawl must degrade to
        // the fallback row, not kill the task (Mp4Parser posture).
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null)
        FakeDecoder.decodeBatch(Seq(r)).head.copy(media_type = "undecodable")
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        // quadrant mean intensities (gray of the RGB packed pixel),
        // normalized to [0,1] — a tiny real feature extractor
        val feats = for {
          qy <- 0 until 2; qx <- 0 until 2
        } yield {
          var sum = 0.0; var n = 0
          var y = qy * h / 2
          while (y < (qy + 1) * h / 2) {
            var x = qx * w / 2
            while (x < (qx + 1) * w / 2) {
              val rgb = img.getRGB(x, y)
              sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
              n += 1; x += 1
            }
            y += 1
          }
          if (n == 0) 0f else (sum / n / 255.0).toFloat
        }
        DecodedRow(r.doc_id, r.payload.length.toLong, "image",
          w, h, frames = 1, features = feats.toArray)
      }
    }
  }

  /** Batched REAL decode — the javax.imageio twin of [[decode]]. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(ImageIoDecoder.decodeBatch))
  }

  /** Deterministic PNG fixture: renders a doc_id-seeded two-tone
    * image (left/right halves at intensities derived from the id)
    * and encodes it through the real PNG writer — so the decode path
    * is exercised end-to-end on genuine image bytes without any
    * binary test fixture shipping in testdata.
    */
  def syntheticPng(docId: Long, w: Int = 8, h: Int = 6): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val a = ((docId * 37) % 256).toInt; val b = ((docId * 101 + 128) % 256).toInt
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (x < w / 2) a else b
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Media table of REAL PNG payloads, one per document row. */
  def pngTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, syntheticPng(id)))
  }

  final case class ResizedRow(doc_id: Long, width: Int, height: Int,
                              target_w: Int, target_h: Int, scale: Double)

  /** Resize planning: aspect-preserving fit into a target box. The
    * arithmetic is the real operator; only pixel resampling is
    * stubbed out with the decoder. Narrow, codegen-free batch pass.
    */
  def resize(decoded: Dataset[DecodedRow], maxW: Int, maxH: Int): Dataset[ResizedRow] = {
    import decoded.sparkSession.implicits._
    decoded.map { r =>
      val s = math.min(1.0, math.min(maxW.toDouble / r.width, maxH.toDouble / r.height))
      ResizedRow(r.doc_id, r.width, r.height,
        math.max(1, math.floor(r.width * s).toInt),
        math.max(1, math.floor(r.height * s).toInt), s)
    }
  }

  // --- REAL pixel resample (nearest-neighbor, pure JDK) ------------------

  final case class ResampledRow(doc_id: Long, src_w: Int, src_h: Int,
    out_w: Int, out_h: Int, f_tl: Long, f_tr: Long, f_bl: Long, f_br: Long)

  /** Resize box for the certified resample rung. */
  val ResampleMaxW = 5
  val ResampleMaxH = 5

  /** REAL image resize: decode the payload, nearest-neighbor
    * resample into the aspect-fit box (src pixel = (x·sw div tw,
    * y·sh div th) — pure integer index math, the one interpolation
    * an arithmetic oracle can replay exactly), then re-extract the
    * 2×2 quadrant mean-intensity features FROM THE RESIZED PIXELS as
    * exact ppm integers (gray·1e6 div (count·255); the two-tone PNG
    * fixture has r=g=b so gray is exact). This closes the r5 stub:
    * `resize` planned geometry only — this rung moves actual pixels
    * through the same batched-mapPartitions shape and is
    * hash-certified end-to-end (`q_resize_real`) because every
    * output integer has a closed form in the fixture parameters.
    * Undecodable payloads emit the all-zero row.
    */
  def resampleImages(media: Dataset[MediaRow], maxW: Int = ResampleMaxW,
                     maxH: Int = ResampleMaxH): Dataset[ResampledRow] = {
    import media.sparkSession.implicits._
    def one(r: MediaRow): ResampledRow = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        // NonFatal, not just IOException: JDK image readers throw
        // RuntimeExceptions (IndexOutOfBounds, NegativeArraySize,
        // CMMException) on corrupt payloads — a crawl must degrade to
        // the fallback row, not kill the task (Mp4Parser posture).
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) ResampledRow(r.doc_id, 0, 0, 0, 0, 0L, 0L, 0L, 0L)
      else {
        val (sw, sh) = (img.getWidth, img.getHeight)
        val s = math.min(1.0, math.min(maxW.toDouble / sw, maxH.toDouble / sh))
        val tw = math.max(1, math.floor(sw * s).toInt)
        val th = math.max(1, math.floor(sh * s).toInt)
        // nearest resample + quadrant integer gray sums in one pass
        val sums = new Array[Long](4)
        val cnts = new Array[Long](4)
        var y = 0
        while (y < th) {
          val sy = y * sh / th
          var x = 0
          while (x < tw) {
            val sx = x * sw / tw
            val rgb = img.getRGB(sx, sy)
            val gray = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
            val q = (if (y >= th / 2 && th > 1) 2 else 0) +
              (if (x >= tw / 2 && tw > 1) 1 else 0)
            sums(q) += gray; cnts(q) += 1
            x += 1
          }
          y += 1
        }
        def ppm(q: Int): Long =
          if (cnts(q) == 0) 0L else sums(q) * 1000000L / (cnts(q) * 255L)
        ResampledRow(r.doc_id, sw, sh, tw, th, ppm(0), ppm(1), ppm(2), ppm(3))
      }
    }
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.map(one)))
  }

  def qResizeReal(s: SparkSession, dir: String): DataFrame =
    resampleImages(pngTable(s, dir)).toDF()

  /** Deterministic frame sampling: k evenly-spaced frame indices of
    * an n-frame clip (the standard video subsample for captioning /
    * embedding) — index i ↦ ⌊i·n/k⌋, no randomness to coordinate.
    */
  def sampleFrameIndices(nFrames: Int, k: Int): Seq[Int] = {
    require(k >= 1)
    if (nFrames <= 0) Seq.empty
    else (0 until math.min(k, nFrames)).map(i => (i.toLong * nFrames / math.min(k, nFrames)).toInt)
  }

  final case class FrameRow(doc_id: Long, frame_index: Int)

  def frameSample(decoded: Dataset[DecodedRow], k: Int): Dataset[FrameRow] = {
    import decoded.sparkSession.implicits._
    decoded.flatMap(r => sampleFrameIndices(r.frames, k).map(FrameRow(r.doc_id, _)))
  }

  // --- perceptual-hash image near-dup (r6 verdict #6) -----------------

  /** 64-bit dHash over a REAL decode: sample a 9×8 grid of gray
    * values from the decoded pixels (nearest-pixel sampling —
    * deterministic integer mapping px = sx·w/9, py = sy·h/8, no
    * interpolation to coordinate across engines) and set bit
    * (sy·8+sx) when grid(sx) > grid(sx+1) in its row — the classic
    * difference hash, truncated to 63 bits (bit 63 stays clear: the
    * oracle engine raises on shifts into the sign bit, and one
    * comparison changes nothing about the near-dup geometry).
    * Near-identical images (re-encodes, small retouches) land within
    * a few bits; unrelated images are ~31 bits apart.
    */
  val PhashCols = 9
  val PhashRows = 8

  final case class PhashRow(doc_id: Long, phash: Long)

  def imagePhash(media: Dataset[MediaRow]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { r =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        // NonFatal, not just IOException: JDK image readers throw
        // RuntimeExceptions (IndexOutOfBounds, NegativeArraySize,
        // CMMException) on corrupt payloads — a crawl must degrade to
        // the fallback row, not kill the task (Mp4Parser posture).
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        def gray(px: Int, py: Int): Int = {
          val rgb = img.getRGB(px, py)
          (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        }
        val grid = Array.tabulate(PhashRows, PhashCols)((sy, sx) =>
          gray(sx * w / PhashCols, sy * h / PhashRows))
        var bits = 0L
        for (sy <- 0 until PhashRows; sx <- 0 until PhashCols - 1)
          if (sy * 8 + sx < 63 && grid(sy)(sx) > grid(sy)(sx + 1))
            bits |= 1L << (sy * 8 + sx)
        Some(PhashRow(r.doc_id, bits))
      }
    }))
  }

  /** Hamming-≤-`maxHam` near-dup pairs via pigeonhole chunk blocking
    * — the simhash discipline on image hashes: 4 16-bit chunks, any
    * pair within distance 3 shares ≥ 1 chunk, so an equi-join on
    * (chunk_id, chunk_value) finds all of them and hamming is
    * verified exactly on the candidates. Shuffle is keyed on chunk
    * value, never n².
    */
  val PhashMaxHam = 3

  def phashPairs(ph: DataFrame, maxHam: Int = PhashMaxHam): DataFrame = {
    require(maxHam <= 3, "4-chunk pigeonhole blocking is complete only to hamming 3")
    val chunks = ph.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("cv", expr("shiftright(phash, 16 * c) & 65535"))
    val a = chunks.toDF("doc_a", "ph_a", "c_a", "cv_a")
    val b = chunks.toDF("doc_b", "ph_b", "c_b", "cv_b")
    a.join(b, col("c_a") === col("c_b") && col("cv_a") === col("cv_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ph_a ^ ph_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Closed-form gray fixture: pixel (x, y) of doc `id`'s 16×16
    * image is gray g = md5₄₈("ph_id_x_y") mod 201 — the repo's
    * tokenHashLong, so the value is pseudorandom per (id, x, y) yet
    * computable in closed form by BOTH engines. The near-dup TWIN
    * under id+PhashShift brightens exactly ONE sampled pixel (3, 6)
    * by +30, so its dHash differs in at most the two comparisons
    * that touch that grid cell (measured: hamming ∈ {0, 1, 2} over
    * the corpus, zero non-twin pairs within the threshold — a real
    * retouch profile with no fixture-induced noise). The fixture is
    * rendered through the real PNG writer and hashed through the
    * real decoder; the oracle computes the identical bits purely
    * arithmetically — so a hash-green `q_image_phash` certifies the
    * decode+sample+hash path end-to-end against closed-form ground
    * truth.
    */
  val PhashShift = 7000000L
  val PhashImgSize = 16
  val PhashTwinPx = 3
  val PhashTwinPy = 6

  def syntheticGridPng(id: Long, twin: Boolean): Array[Byte] = {
    val n = PhashImgSize
    val img = new java.awt.image.BufferedImage(
      n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until n; x <- 0 until n) {
      val base = (graft.functions.GraftFunctions.tokenHashLong(s"ph_${id}_${x}_$y") % 201L).toInt
      val g = if (twin && x == PhashTwinPx && y == PhashTwinPy) base + 30 else base
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Fixture capped at doc_id < 2000 (the whole corpus at the small
    * SFs): rendering+hashing is ~512 md5 pixels per doc, so an
    * uncapped fixture scales its cost with the SF while proving
    * nothing extra — the operator itself is exercised identically.
    */
  val PhashFixtureCap = 2000L

  def phashFixtureTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // NOTE (r16): a pre-render repartition of the id list was tried
    // (the scan is one task — guide §2.5) and reverted: javax.imageio
    // decode serializes on the shared reader registry/stream cache,
    // so 32-way fan-out ADDED time at the bench scale (q_image_phash
    // 0.16→0.39 s in the closing epoch). The honest parallel form
    // needs a per-task decoder, not more tasks on a locked one.
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .filter(_ < PhashFixtureCap)
      .flatMap(id => Seq(
        MediaRow(id, syntheticGridPng(id, twin = false)),
        MediaRow(id + PhashShift, syntheticGridPng(id, twin = true))))
  }

  /** Memoized decoded phash table per (session, dir) — the
    * louvainBase discipline on the image family (r15 optimization):
    * [[qImagePhash]] and [[qImageDedup]] both consume the SAME
    * deterministic render→PNG-decode→dHash table, the expensive
    * opaque (non-codegen) stage of both rungs, and each was paying
    * it independently. A production pipeline decodes once and feeds
    * every downstream consumer (guide §8: decide on small rows —
    * here 8 bytes of hash per image — and never re-decode payloads).
    * Each process invocation still computes it from the parquet
    * inputs; both oracle outputs are byte-identical.
    */
  private def phashBase(s: SparkSession, dir: String): DataFrame =
    shared("phashBase", s, dir)(cut(imagePhash(phashFixtureTable(s, dir)).toDF()))

  def qImagePhash(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashBase(s, dir))

  /** Image DEDUP RESOLUTION — the text-dedup discipline on images:
    * phash near-dup pairs → connected components, so each duplicate
    * image cluster keeps one canonical id (the minimum). Reuses
    * Dedup.connectedComponents unchanged (min-label propagation,
    * scalar-agg convergence, reliable-checkpoint lineage cuts) —
    * dedup resolution is modality-agnostic once pairs exist.
    */
  def qImageDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      phashPairs(phashBase(s, dir))
        .select(col("doc_a"), col("doc_b")))

  // --- REAL audio decode (WAV/PCM via javax.sound.sampled) -------------

  /** One decoded audio payload: format metadata straight from the
    * RIFF header + exact INTEGER signal features over the PCM
    * samples (sum of squares = energy, peak amplitude, strict
    * sign-flip zero crossings) — integers so the oracle compare is
    * exact, and the standard inputs to loudness/silence/clipping
    * gates in an audio curation pipeline.
    */
  final case class AudioRow(doc_id: Long, sample_rate: Long, channels: Long,
                            n_samples: Long, sumsq: Long, peak_abs: Long,
                            zero_cross: Long)

  /** REAL audio decode via javax.sound.sampled (in the JDK — no
    * external codec libs): WAV/AIFF/AU PCM payloads parse fully
    * (header + frames); compressed codecs (mp3/ogg — genuinely
    * lib-blocked) return None and callers fall back to the stub.
    * First channel only for the signal features (the mono-mixdown
    * convention); 16-bit signed little-endian PCM assumed for the
    * sample walk, which [[syntheticWav]] pins and real pipelines
    * normalize to on ingest.
    */
  object WavDecoder {
    def decode(r: MediaRow): Option[AudioRow] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        val bytes = in.readAllBytes()
        val bps = fmt.getSampleSizeInBits / 8
        if (bps != 2) None
        else {
          val stride = bps * fmt.getChannels
          val n = bytes.length / stride
          var sumsq = 0L; var peak = 0L; var zc = 0L; var prev = 0
          var i = 0
          while (i < n) {
            val off = i * stride
            val s = (((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)).toShort.toInt
            sumsq += s.toLong * s
            if (math.abs(s) > peak) peak = math.abs(s)
            if (i > 0 && s.toLong * prev < 0L) zc += 1
            prev = s; i += 1
          }
          Some(AudioRow(r.doc_id, fmt.getSampleRate.toLong,
            fmt.getChannels.toLong, n, sumsq, peak, zc))
        }
      } catch { case _: Exception => None }

    def decodeBatch(batch: Seq[MediaRow]): Seq[AudioRow] =
      batch.flatMap(decode)

    /** The raw first-channel 16-bit PCM samples of a decodable WAV —
      * the input to signal-level fingerprints ([[audioFingerprint]]).
      */
    def pcmSamples(r: MediaRow): Option[Array[Int]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        val bytes = in.readAllBytes()
        val bps = fmt.getSampleSizeInBits / 8
        if (bps != 2) None
        else {
          val stride = bps * fmt.getChannels
          val n = bytes.length / stride
          Some(Array.tabulate(n) { i =>
            val off = i * stride
            (((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)).toShort.toInt
          })
        }
      } catch { case _: Exception => None }
  }

  /** Batched REAL audio decode — the javax.sound twin of
    * [[decodeImages]]: narrow mapPartitions, no shuffle.
    */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(WavDecoder.decodeBatch))
  }

  /** Closed-form WAV fixture (the [[syntheticGridPng]] discipline):
    * sample t of doc `id` is the md5₄₈("au_id_t") residue mapped to
    * [−10000, 10000] — pseudorandom yet computable by both engines —
    * written through the REAL javax.sound WAV encoder (RIFF header +
    * 16-bit LE mono PCM at 8 kHz). A hash-green `q_audio_meta`
    * therefore certifies encode→RIFF-parse→PCM-walk end-to-end
    * against pure-arithmetic ground truth.
    */
  val AudioSamples = 64
  val AudioRateHz = 8000
  val AudioFixtureCap = 2000L

  def syntheticWav(id: Long, twin: Boolean = false): Array[Byte] = {
    val data = new Array[Byte](AudioSamples * 2)
    for (t <- 0 until AudioSamples) {
      val base = (graft.functions.GraftFunctions.tokenHashLong(s"au_${id}_$t")
        % 20001L - 10000L).toInt
      val v = if (twin && t == AudioTwinT) base + 500 else base
      data(2 * t) = (v & 0xff).toByte
      data(2 * t + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      AudioRateHz.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, AudioSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  def audioFixtureTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .filter(_ < AudioFixtureCap)
      .map(id => MediaRow(id, syntheticWav(id)))
  }

  def qAudioMeta(s: SparkSession, dir: String): DataFrame =
    decodeAudio(audioFixtureTable(s, dir)).toDF()

  // --- audio near-dup (energy-envelope fingerprint) ---------------------

  /** 31-bit energy-envelope fingerprint over a REAL WAV decode — the
    * dHash discipline on audio: split the PCM stream into 2-sample
    * frames, compute exact integer frame energies Σs², set bit f
    * when e(f) > e(f+1). Re-encodes and small edits perturb few
    * frames, so near-identical clips land within a couple of bits;
    * unrelated clips are ~15 bits apart.
    */
  val AudioFpFrames = 32
  final case class AudioFpRow(doc_id: Long, afp: Long)

  def audioFingerprint(media: Dataset[MediaRow]): Dataset[AudioFpRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { r =>
      WavDecoder.pcmSamples(r).map { s =>
        val nf = s.length / 2
        val e = Array.tabulate(nf)(f =>
          s(2 * f).toLong * s(2 * f) + s(2 * f + 1).toLong * s(2 * f + 1))
        var bits = 0L
        var f = 0
        while (f < nf - 1) { if (e(f) > e(f + 1)) bits |= 1L << f; f += 1 }
        AudioFpRow(r.doc_id, bits)
      }
    }))
  }

  /** Hamming-≤-2 near-dup pairs via 3-chunk (11-bit) pigeonhole
    * blocking on the 31-bit fingerprint — any pair within distance 2
    * shares ≥ 1 chunk; exact hamming verifies candidates. Shuffle is
    * keyed on chunk value, never n².
    */
  val AudioMaxHam = 2

  def audioPairs(fp: DataFrame, maxHam: Int = AudioMaxHam): DataFrame = {
    require(maxHam <= 2, "3-chunk pigeonhole blocking is complete only to hamming 2")
    val chunks = fp.select(col("doc_id"), col("afp"),
        explode(sequence(lit(0), lit(2))).as("c"))
      .withColumn("cv", expr("shiftright(afp, 11 * c) & 2047"))
    val a = chunks.toDF("doc_a", "fp_a", "c_a", "cv_a")
    val b = chunks.toDF("doc_b", "fp_b", "c_b", "cv_b")
    a.join(b, col("c_a") === col("c_b") && col("cv_a") === col("cv_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Near-dup TWIN fixture (the [[syntheticGridPng]] twin
    * discipline): doc id+AudioShift carries the SAME closed-form
    * signal with exactly ONE sample ([[AudioTwinT]]) nudged +500 —
    * one frame energy moves, so at most the two adjacent envelope
    * comparisons flip: a real re-encode/retouch profile with
    * closed-form ground truth.
    */
  val AudioShift = 8000000L
  val AudioTwinT = 10

  def audioNeardupTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .filter(_ < AudioFixtureCap)
      .flatMap(id => Seq(
        MediaRow(id, syntheticWav(id)),
        MediaRow(id + AudioShift, syntheticWav(id, twin = true))))
  }

  def qAudioNeardup(s: SparkSession, dir: String): DataFrame =
    audioPairs(audioFingerprint(audioNeardupTable(s, dir)).toDF())

  // --- REAL video container metadata (ISO-BMFF / MP4) --------------------

  /** MP4 (ISO-BMFF) box writer + parser — REAL container parsing
    * with zero codec dependencies: duration, timescale, track count,
    * handler types, and display geometry all live in the `moov` box
    * tree (mvhd / trak / tkhd / mdia / mdhd / hdlr), plain
    * big-endian structs a JVM can walk without ffmpeg. Frame DECODE
    * stays honestly stubbed (no codec libs in this container), but
    * the metadata tier — what a 100 TB crawl triages videos BY
    * (resolution floors, duration caps, track sanity) — is genuine:
    * [[syntheticMp4]] writes a real box tree from closed-form
    * md5-derived parameters, [[Mp4Parser]] re-parses it (recursive
    * box walk, 32/64-bit sizes, mvhd v0/v1), and `q_video_meta`
    * hash-checks the round trip against a pure-arithmetic DuckDB
    * twin (the [[syntheticWav]] discipline; reference has no video
    * surface at all).
    */
  object Mp4 {
    private[graft] def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private[graft] def u16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    private def zeros(n: Int) = new Array[Byte](n)
    private val unityMatrix: Array[Byte] =
      u32(0x10000L) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0x10000L) ++
        u32(0) ++ u32(0) ++ u32(0) ++ u32(0x40000000L)

    private[graft] def box(tpe: String, body: Array[Byte]*): Array[Byte] = {
      val content = body.toArray.flatten
      u32(content.length + 8L) ++ cc(tpe) ++ content
    }
    private def fullBox(tpe: String, version: Int, flags: Int,
                        body: Array[Byte]*): Array[Byte] =
      box(tpe, (u32(((version & 0xffL) << 24) | flags) +: body): _*)

    def ftyp: Array[Byte] = box("ftyp", cc("isom"), u32(512), cc("isom"), cc("mp41"))

    def mvhd(timescale: Long, duration: Long): Array[Byte] =
      fullBox("mvhd", 0, 0, u32(0), u32(0), u32(timescale), u32(duration),
        u32(0x00010000L), u16(0x0100), u16(0), zeros(8), unityMatrix,
        zeros(24), u32(0xffffffffL))

    def tkhd(trackId: Long, duration: Long, w: Long, h: Long,
             audio: Boolean): Array[Byte] =
      fullBox("tkhd", 0, 7, u32(0), u32(0), u32(trackId), u32(0),
        u32(duration), zeros(8), u16(0), u16(0),
        u16(if (audio) 0x0100 else 0), u16(0), unityMatrix,
        u32(w << 16), u32(h << 16))

    def mdhd(timescale: Long, duration: Long): Array[Byte] =
      fullBox("mdhd", 0, 0, u32(0), u32(0), u32(timescale), u32(duration),
        u16(0x55c4), u16(0))

    def hdlr(handler: String): Array[Byte] =
      fullBox("hdlr", 0, 0, u32(0), cc(handler), zeros(12), Array(0.toByte))

    def trak(trackId: Long, duration: Long, timescale: Long,
             w: Long, h: Long, handler: String): Array[Byte] =
      box("trak", tkhd(trackId, duration, w, h, handler == "soun"),
        box("mdia", mdhd(timescale, duration), hdlr(handler)))
  }

  /** Parsed container metadata; `ok=false` rows carry zeros (the
    * undecodable fallback — a real crawl sees plenty).
    */
  final case class VideoMetaRow(doc_id: Long, ok: Boolean, brand: String,
    timescale: Long, duration_ticks: Long, duration_ms: Long,
    n_tracks: Long, n_video: Long, n_audio: Long, width: Long, height: Long)

  object Mp4Parser {
    private val Containers = Set("moov", "trak", "mdia", "minf", "stbl",
      "edts", "moof", "traf", "udta")

    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)
    private def cc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "US-ASCII")

    private final class Acc {
      var brand: String = ""
      var timescale = 0L
      var duration = 0L
      var sawMvhd = false
      var tracks = List.empty[(String, Long, Long)] // (handler, w, h)
      var curHandler = ""
      var curW = 0L
      var curH = 0L
    }

    private def walk(b: Array[Byte], start: Int, end: Int, acc: Acc): Unit = {
      var o = start
      while (o + 8 <= end) {
        val size0 = be32(b, o)
        val tpe = cc(b, o + 4)
        val (bodyOff, size) =
          if (size0 == 1L && o + 16 <= end) (o + 16, be64(b, o + 8))
          else if (size0 == 0L) (o + 8, (end - o).toLong) // box runs to EOF
          else (o + 8, size0)
        if (size < 8 || o + size > end) throw new Exception(s"bad box $tpe")
        val bEnd = o + size.toInt
        tpe match {
          case "ftyp" => acc.brand = cc(b, bodyOff)
          case "mvhd" =>
            val v = b(bodyOff) & 0xff
            if (v == 1) {
              acc.timescale = be32(b, bodyOff + 20)
              acc.duration = be64(b, bodyOff + 24)
            } else {
              acc.timescale = be32(b, bodyOff + 12)
              acc.duration = be32(b, bodyOff + 16)
            }
            acc.sawMvhd = true
          case "tkhd" =>
            val v = b(bodyOff) & 0xff
            val mo = bodyOff + (if (v == 1) 4 + 8 + 8 + 4 + 4 + 8 + 8 + 2 + 2 + 2 + 2 + 36
                                else 4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36)
            acc.curW = be32(b, mo) >> 16
            acc.curH = be32(b, mo + 4) >> 16
          case "hdlr" => acc.curHandler = cc(b, bodyOff + 8)
          case "trak" =>
            acc.curHandler = ""; acc.curW = 0L; acc.curH = 0L
            walk(b, bodyOff, bEnd, acc)
            acc.tracks = (acc.curHandler, acc.curW, acc.curH) :: acc.tracks
          case t if Containers(t) => walk(b, bodyOff, bEnd, acc)
          case _ => ()
        }
        o = bEnd
      }
      if (o != end) throw new Exception("trailing bytes")
    }

    def parse(r: MediaRow): VideoMetaRow =
      try {
        val acc = new Acc
        walk(r.payload, 0, r.payload.length, acc)
        if (!acc.sawMvhd || acc.brand.isEmpty || acc.timescale <= 0)
          throw new Exception("not an mp4")
        val vids = acc.tracks.filter(_._1 == "vide")
        VideoMetaRow(r.doc_id, ok = true, acc.brand, acc.timescale,
          acc.duration, acc.duration * 1000L / acc.timescale,
          acc.tracks.length.toLong, vids.length.toLong,
          acc.tracks.count(_._1 == "soun").toLong,
          vids.map(_._2).maxOption.getOrElse(0L),
          vids.map(_._3).maxOption.getOrElse(0L))
      } catch {
        case _: Exception =>
          VideoMetaRow(r.doc_id, ok = false, "", 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      }
  }

  /** Batched container-metadata extraction — the [[decodeAudio]]
    * shape: narrow mapPartitions, no shuffle, batch-grouped for a
    * future native fast path.
    */
  def videoMeta(media: Dataset[MediaRow]): Dataset[VideoMetaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(BatchSize).flatMap(_.map(Mp4Parser.parse)))
  }

  /** Closed-form MP4 fixture: every parameter is a tokenHash residue
    * of the doc id, so the DuckDB twin recomputes the expected parse
    * output with pure arithmetic — a hash-green `q_video_meta`
    * certifies write→box-walk→extract end-to-end.
    */
  val VideoFixtureCap = 2000L

  def syntheticMp4(id: Long): Array[Byte] = {
    import graft.functions.GraftFunctions.tokenHashLong
    val timescale = 1000L + tokenHashLong(s"vt_$id") % 49001L
    val duration = tokenHashLong(s"vd_$id") % 10000000L
    val nTracks = 1 + (tokenHashLong(s"vn_$id") % 3L).toInt
    val width = 16L * (1L + tokenHashLong(s"vw_$id") % 240L)
    val height = 16L * (1L + tokenHashLong(s"vh_$id") % 135L)
    val traks = (1 to nTracks).map { t =>
      if (t == 1) Mp4.trak(t.toLong, duration, timescale, width, height, "vide")
      else Mp4.trak(t.toLong, duration, timescale, 0L, 0L, "soun")
    }
    Mp4.ftyp ++ Mp4.box("moov", (Mp4.mvhd(timescale, duration) +: traks): _*)
  }

  def videoFixtureTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .filter(_ < VideoFixtureCap)
      .map(id => MediaRow(id, syntheticMp4(id)))
  }

  def qVideoMeta(s: SparkSession, dir: String): DataFrame =
    videoMeta(videoFixtureTable(s, dir)).toDF()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_resize_real" -> qResizeReal _,
    "q_video_meta" -> qVideoMeta _,
    "q_image_phash" -> qImagePhash _,
    "q_image_dedup" -> qImageDedup _,
    "q_audio_meta" -> qAudioMeta _,
    "q_audio_neardup" -> qAudioNeardup _)

  /** Shared oracle CTE chain ending in `h(doc_id, phash)` — the
    * pure-arithmetic twin of render→decode→sample→dHash over the
    * md5-closed-form fixture.
    */
  private val phashCtes: String =
    s"""base AS (SELECT doc_id FROM documents WHERE doc_id < $PhashFixtureCap),
      |ids AS (SELECT doc_id, 0 AS tw FROM base
      |  UNION ALL SELECT doc_id + $PhashShift, 1 FROM base),
      |g AS (SELECT i.doc_id, sy.y AS sy, sx.x AS sx,
      |    ('0x' || substr(md5('ph_' ||
      |        (i.doc_id - CASE WHEN i.tw = 1 THEN $PhashShift ELSE 0 END) ||
      |        '_' || ((sx.x * $PhashImgSize) // $PhashCols) ||
      |        '_' || ((sy.y * $PhashImgSize) // $PhashRows)),
      |      1, 12))::BIGINT % 201
      |    + CASE WHEN i.tw = 1
      |        AND ((sx.x * $PhashImgSize) // $PhashCols) = $PhashTwinPx
      |        AND ((sy.y * $PhashImgSize) // $PhashRows) = $PhashTwinPy
      |      THEN 30 ELSE 0 END AS gv
      |  FROM ids i, range(0, $PhashRows) sy(y), range(0, $PhashCols) sx(x)),
      |b AS (SELECT doc_id, sy, sx,
      |    CASE WHEN gv > lead(gv) OVER (PARTITION BY doc_id, sy ORDER BY sx)
      |      THEN 1 ELSE 0 END AS bit
      |  FROM g),
      |h AS (SELECT doc_id,
      |    bit_or(CASE WHEN sx < ${PhashCols - 1} AND sy * 8 + sx < 63
      |      THEN bit::BIGINT << (sy * 8 + sx) ELSE 0 END) AS phash
      |  FROM b GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_resize_real" -> {
      // replicate the operator's aspect-fit geometry on the fixed
      // 8×6 fixture with the IDENTICAL double math, then emit the
      // nearest-resample + quadrant ppm sums as pure arithmetic
      val (sw, sh) = (8, 6)
      val s = math.min(1.0,
        math.min(ResampleMaxW.toDouble / sw, ResampleMaxH.toDouble / sh))
      val tw = math.max(1, math.floor(sw * s).toInt)
      val th = math.max(1, math.floor(sh * s).toInt)
      s"""WITH px AS (
        |  SELECT d.doc_id, x.range AS x, y.range AS y,
        |    CASE WHEN (x.range * $sw) // $tw < ${sw / 2}
        |      THEN (d.doc_id * 37) % 256
        |      ELSE (d.doc_id * 101 + 128) % 256 END AS gray
        |  FROM documents d, range($tw) x, range($th) y),
        |qq AS (SELECT doc_id,
        |    (CASE WHEN y >= ${th / 2} AND $th > 1 THEN 2 ELSE 0 END)
        |      + (CASE WHEN x >= ${tw / 2} AND $tw > 1 THEN 1 ELSE 0 END) AS q,
        |    gray
        |  FROM px),
        |agg AS (SELECT doc_id, q, sum(gray)::BIGINT AS sg,
        |    count(*)::BIGINT AS c
        |  FROM qq GROUP BY 1, 2)
        |SELECT doc_id, $sw AS src_w, $sh AS src_h, $tw AS out_w, $th AS out_h,
        |  coalesce(max(CASE WHEN q = 0 THEN sg * 1000000 // (c * 255) END), 0)::BIGINT AS f_tl,
        |  coalesce(max(CASE WHEN q = 1 THEN sg * 1000000 // (c * 255) END), 0)::BIGINT AS f_tr,
        |  coalesce(max(CASE WHEN q = 2 THEN sg * 1000000 // (c * 255) END), 0)::BIGINT AS f_bl,
        |  coalesce(max(CASE WHEN q = 3 THEN sg * 1000000 // (c * 255) END), 0)::BIGINT AS f_br
        |FROM agg GROUP BY doc_id""".stripMargin
    },
    "q_video_meta" ->
      s"""WITH base AS (SELECT doc_id FROM documents WHERE doc_id < $VideoFixtureCap),
        |p AS (SELECT doc_id,
        |    1000 + ('0x' || substr(md5('vt_' || doc_id), 1, 12))::BIGINT % 49001
        |      AS timescale,
        |    ('0x' || substr(md5('vd_' || doc_id), 1, 12))::BIGINT % 10000000
        |      AS duration_ticks,
        |    1 + ('0x' || substr(md5('vn_' || doc_id), 1, 12))::BIGINT % 3
        |      AS n_tracks,
        |    16 * (1 + ('0x' || substr(md5('vw_' || doc_id), 1, 12))::BIGINT % 240)
        |      AS width,
        |    16 * (1 + ('0x' || substr(md5('vh_' || doc_id), 1, 12))::BIGINT % 135)
        |      AS height
        |  FROM base)
        |SELECT doc_id, TRUE AS ok, 'isom' AS brand, timescale, duration_ticks,
        |  duration_ticks * 1000 // timescale AS duration_ms,
        |  n_tracks, 1::BIGINT AS n_video, n_tracks - 1 AS n_audio, width, height
        |FROM p""".stripMargin,
    "q_audio_meta" ->
      s"""WITH base AS (SELECT doc_id FROM documents WHERE doc_id < $AudioFixtureCap),
        |s AS (SELECT b.doc_id, t.t AS t,
        |    ('0x' || substr(md5('au_' || b.doc_id || '_' || t.t), 1, 12))::BIGINT
        |      % 20001 - 10000 AS v
        |  FROM base b, range(0, $AudioSamples) t(t)),
        |z AS (SELECT doc_id, t, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM s)
        |SELECT doc_id, $AudioRateHz::BIGINT AS sample_rate, 1::BIGINT AS channels,
        |  $AudioSamples::BIGINT AS n_samples,
        |  sum(v * v)::BIGINT AS sumsq, max(abs(v))::BIGINT AS peak_abs,
        |  sum(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS zero_cross
        |FROM z GROUP BY doc_id""".stripMargin,
    "q_audio_neardup" ->
      s"""WITH base AS (SELECT doc_id FROM documents WHERE doc_id < $AudioFixtureCap),
        |ids AS (SELECT doc_id, 0 AS tw FROM base
        |  UNION ALL SELECT doc_id + $AudioShift, 1 FROM base),
        |s AS (SELECT i.doc_id, t.t AS t,
        |    ('0x' || substr(md5('au_' ||
        |        (i.doc_id - CASE WHEN i.tw = 1 THEN $AudioShift ELSE 0 END) ||
        |        '_' || t.t), 1, 12))::BIGINT % 20001 - 10000
        |    + CASE WHEN i.tw = 1 AND t.t = $AudioTwinT THEN 500 ELSE 0 END AS v
        |  FROM ids i, range(0, $AudioSamples) t(t)),
        |e AS (SELECT doc_id, t // 2 AS f, sum(v * v)::BIGINT AS ev
        |  FROM s GROUP BY 1, 2),
        |b AS (SELECT doc_id, f,
        |    CASE WHEN ev > lead(ev) OVER (PARTITION BY doc_id ORDER BY f)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM e),
        |h AS (SELECT doc_id,
        |    bit_or(CASE WHEN f < ${AudioFpFrames - 1}
        |      THEN bit::BIGINT << f ELSE 0 END) AS afp
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.afp, b.afp))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= $AudioMaxHam""".stripMargin,
    "q_image_phash" ->
      s"""WITH $phashCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHam""".stripMargin,
    "q_image_dedup" ->
      s"""WITH RECURSIVE $phashCtes,
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHam),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, r) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.v),
        |comps AS (SELECT v, min(r) AS component_id FROM reach GROUP BY v)
        |SELECT v AS doc_id, component_id FROM comps""".stripMargin)
}
