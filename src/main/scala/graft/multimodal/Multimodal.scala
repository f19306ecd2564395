package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns + ML-inference surrogates — SURVEY.md §2.8/§2.11 L5.
  *
  * Media (video frames in the reference, raw_to_samples.py:173-196) is
  * carried as opaque `binary` columns with typed metadata structs;
  * decode / feature-extract run in `mapPartitions` with per-partition
  * "model" init — the Spark shape of the reference's per-segment
  * tracker re-init (:170), where init cost amortizes over a partition
  * instead of per row. The real decoders (cv2/moviepy, :183,:62-63)
  * are STUBBED behind [[SurrogateDetector]] / the metadata arithmetic
  * — deterministic stand-ins with the same schema, partitioning, and
  * batch shape, so the plumbing is real and oracle-testable even
  * though this container has no image/audio libs.
  */
object Multimodal {

  /** A "frame" row fed to inference. */
  case class FrameRow(frame_id: Long)

  /** One fake detection — schema mirrors the reference's per-frame
    * tracker output (boxes + track-ids + classes, raw_to_samples.py
    * :187-191). */
  case class Detection(frame_id: Long, det_i: Int, sub_id: Long,
      cls: Long, x1: Long, y1: Long, x2: Long, y2: Long)

  /** The decode/inference boundary (M1). A production deployment binds
    * a codec-backed implementation (cv2 frame decode + tracker,
    * raw_to_samples.py:173-196) by setting
    * `spark.graft.media.detector` to its class name; this container
    * has no media libs, so the default binding is the deterministic
    * [[SurrogateDetector]]. Implementations need a no-arg constructor
    * — they are instantiated ONCE PER PARTITION inside mapPartitions
    * (model load amortizes over a partition, never per row). */
  trait FrameDetector extends Serializable {
    def detect(f: Long): Seq[Detection]
  }

  /** The transcode boundary (M3, preprocess_dataset.py:59-70): bytes
    * in, container-tagged content out. Swap via
    * `spark.graft.media.transcoder`. */
  trait Transcoder extends Serializable {
    def transcode(bytes: Array[Byte]): String
  }

  /** One pluggable boundary: its `spark.graft.media.*` conf key, the
    * class it defaults to, and (as `T`) the trait that class
    * implements. `resolve` runs where the plan is built and ships only
    * the class NAME — the task closure must not capture a session,
    * and a loaded model need not be serializable — and each partition
    * instantiates its own (M1). */
  private[multimodal] final class Binding[T](val key: String,
      default: Class[_ <: T]) {
    def resolve(s: SparkSession): Bound[T] =
      Bound[T](s.conf.get(key, default.getName))
  }

  /** A resolved [[Binding]]: `load` runs once per partition. */
  private[multimodal] final case class Bound[T](className: String) {
    def load(): T = {
      // context classloader first: REPL/notebook-defined impls and
      // runtime-added jars are visible there but not to this class's
      // own loader
      val loader = Option(Thread.currentThread().getContextClassLoader)
        .getOrElse(getClass.getClassLoader)
      Class.forName(className, true, loader).getDeclaredConstructor()
        .newInstance().asInstanceOf[T]
    }
  }

  private val detector = new Binding[FrameDetector](
    "spark.graft.media.detector", classOf[SurrogateDetector])
  private val transcoder = new Binding[Transcoder](
    "spark.graft.media.transcoder", classOf[SurrogateTranscoder])
  private val imageDecoder = new Binding[Codecs.ImageDecoder](
    "spark.graft.media.imageDecoder", classOf[Codecs.BmpDecoder])
  private val audioDecoder = new Binding[Codecs.AudioDecoder](
    "spark.graft.media.audioDecoder", classOf[Codecs.WavDecoder])
  private val videoDecoder = new Binding[Codecs.VideoDecoder](
    "spark.graft.media.videoDecoder", classOf[Codecs.AviDecoder])
  private val avDecoder = new Binding[Codecs.AvDecoder](
    "spark.graft.media.avDecoder", classOf[Codecs.AviAvDecoder])
  private val mp4Probe = new Binding[Codecs.ContainerProbe](
    "spark.graft.media.mp4Probe", classOf[Codecs.Mp4Probe])
  private val mp4Indexer = new Binding[Codecs.ContainerIndexer](
    "spark.graft.media.mp4Indexer", classOf[Codecs.Mp4Indexer])
  private val pngDecoder = new Binding[Codecs.ImageDecoder](
    "spark.graft.media.pngDecoder", classOf[Codecs.PngDecoder])
  private val gifDecoder = new Binding[Codecs.GifDecoder](
    "spark.graft.media.gifDecoder", classOf[Codecs.GifLzwDecoder])
  private val mp4VideoDecoder = new Binding[Codecs.VideoDecoder](
    "spark.graft.media.mp4VideoDecoder", classOf[Codecs.Mp4VideoDecoder])
  private val mp4AvDecoder = new Binding[Codecs.AvDecoder](
    "spark.graft.media.mp4AvDecoder", classOf[Codecs.Mp4AvDecoder])
  private val jpegDecoder = new Binding[Codecs.ImageDecoder](
    "spark.graft.media.jpegDecoder", classOf[Jpeg.JpegDecoder])
  private val mjpegDecoder = new Binding[Codecs.VideoDecoder](
    "spark.graft.media.mjpegDecoder", classOf[Jpeg.MjpegAviDecoder])
  private val tiffDecoder = new Binding[Codecs.ImageDecoder](
    "spark.graft.media.tiffDecoder", classOf[Codecs.TiffDecoder])

  val DetectorConfKey: String = detector.key
  val TranscoderConfKey: String = transcoder.key
  val ImageDecoderConfKey: String = imageDecoder.key
  val AudioDecoderConfKey: String = audioDecoder.key
  val VideoDecoderConfKey: String = videoDecoder.key
  val AvDecoderConfKey: String = avDecoder.key
  val Mp4ProbeConfKey: String = mp4Probe.key
  val Mp4IndexerConfKey: String = mp4Indexer.key
  val PngDecoderConfKey: String = pngDecoder.key
  val GifDecoderConfKey: String = gifDecoder.key
  val Mp4VideoDecoderConfKey: String = mp4VideoDecoder.key
  val Mp4AvDecoderConfKey: String = mp4AvDecoder.key
  val JpegDecoderConfKey: String = jpegDecoder.key
  val MjpegDecoderConfKey: String = mjpegDecoder.key
  val TiffDecoderConfKey: String = tiffDecoder.key

  /** Every document id — the id source of the batch codec operators
    * (their streaming-legal `*On` cores take any id Dataset). */
  private def docIds(s: SparkSession, dir: String): Dataset[Long] =
    Tables.documents(s, dir).select(col("doc_id"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)

  /** One synthetic raster pattern, named once per coefficient set.
    * Channel c of pixel (x, y) in frame f of the raster seeded by
    * `seed` is
    *   ((seed·k(4c) + f·k(4c+1) + (x/cell)·k(4c+2)
    *     + ((y/cell) mod yMod)·k(4c+3)) mod `mod`)·scale + offset,
    * so a pattern has k.length / 4 channels. */
  private final class Pattern(val k: Array[Int],
      val cell: Int = 1, val yMod: Int = Int.MaxValue, val mod: Int = 256,
      val scale: Int = 1, val offset: Int = 0)

  /** The still / clip RGB pattern (a still is its f = 0 raster). */
  private val ClipRgb =
    new Pattern(Array(7, 41, 13, 31, 11, 19, 17, 5, 3, 53, 29, 23))
  /** mm_decode_png's RGB pattern (stills only). */
  private val PngRgb =
    new Pattern(Array(5, 0, 19, 37, 13, 0, 7, 11, 17, 0, 23, 3))
  /** The two-stream AVI clips' video pattern. */
  private val AvRgb =
    new Pattern(Array(5, 37, 11, 19, 13, 23, 7, 3, 17, 29, 31, 41))
  /** The MP4 video clips' pattern. */
  private val Mp4Rgb =
    new Pattern(Array(9, 43, 11, 29, 15, 23, 19, 7, 5, 47, 31, 17))
  /** The two-track MP4 clips' video pattern. */
  private val Mp4AvRgb =
    new Pattern(Array(7, 31, 17, 13, 19, 11, 23, 29, 3, 41, 37, 7))
  /** The GIF index plane (one channel; rows repeat with period 3). */
  private val GifIndex =
    new Pattern(Array(3, 0, 7, 11), yMod = 3)
  /** Gray constant 8x8 blocks, even values in [32, 222] — the class
    * the whole JPEG transform chain inverts exactly (see [[Jpeg]]
    * scaladoc: FDCT of a constant block is DC-only with coefficient
    * 8*(v-128), the K.1 DC quantizer 16 divides it for even v, and
    * the integer IDCT maps dc = 8k back to k+128 exactly — all three
    * steps spec-proven exhaustively). The TIFF corpus uses it too, for
    * its 24-byte runs. */
  private val BlockGray =
    new Pattern(Array(5, 29, 19, 37), cell = 8, mod = 96, scale = 2,
      offset = 32)
  /** mm_phash_real's gray base image (the per-doc brightness offset
    * rides `raster`'s `bias`). */
  private val PhashGray =
    new Pattern(Array(7, 0, 13, 31), mod = 240)

  /** The one pixel loop: frame `f` of pattern `p` seeded by `seed`,
    * `w` x `h` pixels row-major, channels interleaved, plus `bias` on
    * every value. A primitive loop (no per-pixel tuple or closure);
    * the seed, frame and row terms are summed once per row. */
  private def raster(p: Pattern, seed: Long, f: Int, w: Int,
      h: Int, bias: Int = 0): Array[Byte] = {
    val nc = p.k.length / 4
    val out = new Array[Byte](w * h * nc)
    val row = new Array[Long](nc)
    var o = 0
    var y = 0
    while (y < h) {
      var c = 0
      while (c < nc) {
        row(c) = seed * p.k(4 * c) + f * p.k(4 * c + 1) +
          (y / p.cell) % p.yMod * p.k(4 * c + 3)
        c += 1
      }
      var x = 0
      while (x < w) {
        val xt = if (p.cell == 1) x else x / p.cell
        c = 0
        while (c < nc) {
          val v = row(c) + xt * p.k(4 * c + 2)
          // the byte cast keeps v mod 256 already, negative v included
          val r = if (p.mod == 256) v else v % p.mod
          out(o) = (r * p.scale + p.offset + bias).toByte
          o += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Frames 0 until nf of a pattern — a synthetic clip. */
  private def clip(p: Pattern, seed: Long, nf: Int, w: Int, h: Int)
      : IndexedSeq[Array[Byte]] =
    (0 until nf).map(f => raster(p, seed, f, w, h))

  /** A one-channel gray plane as R = G = B interleaved RGB. */
  private def grayToRgb(g: Array[Byte]): Array[Byte] = {
    val rgb = new Array[Byte](g.length * 3)
    var i = 0
    while (i < g.length) {
      rgb(3 * i) = g(i); rgb(3 * i + 1) = g(i); rgb(3 * i + 2) = g(i)
      i += 1
    }
    rgb
  }

  /** The mm_decode_jpeg / mm_decode_mjpeg grayscale raster: `bw` x
    * `bh` [[BlockGray]] blocks; `f` offsets the pattern per frame. */
  private def jpegBlockGray(id: Long, f: Int, bw: Int, bh: Int)
      : Array[Byte] =
    raster(BlockGray, id, f, bw * 8, bh * 8)

  /** One synthetic sequence, named once per coefficient pair: element
    * i of the sequence seeded by `seed` is (seed·a + i²·b), reduced
    * to PCM16 samples (mod 4096, centred) or to bytes (mod `mod`). */
  private final class Wave(a: Int, b: Int) {
    private def at(seed: Long, i: Int): Long = seed * a + i.toLong * i * b
    def pcm(seed: Long, n: Int): Array[Short] = {
      val out = new Array[Short](n)
      var i = 0
      while (i < n) { out(i) = (at(seed, i) % 4096 - 2048).toShort; i += 1 }
      out
    }
    def bytes(seed: Long, n: Int, mod: Int = 256): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) { out(i) = (at(seed, i) % mod).toByte; i += 1 }
      out
    }
  }

  /** The WAV corpus' PCM waveform. */
  private val WavPcm = new Wave(37, 13)
  /** The G.711 corpus' codewords. */
  private val G711Codes = new Wave(29, 7)
  /** The two-stream AVI clips' audio: PCM16, or G.711 codewords. */
  private val AvAudio = new Wave(53, 7)
  /** The two-track MP4 clips' PCM16 audio. */
  private val Mp4AvPcm = new Wave(61, 11)
  /** mm_mp4_probe's opaque mdat payload (bytes mod 251). */
  private val Mp4Payload = new Wave(31, 5)
  /** mm_mp4_extract's indexed sample payload (bytes mod 251). */
  private val Mp4IndexedPayload = new Wave(13, 3)

  /** Sum of a byte array read unsigned. */
  private def byteSum(a: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i) & 0xff; i += 1 }
    s
  }

  /** Per-channel sums of an interleaved RGB raster. */
  private def channelSums(a: Array[Byte]): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < a.length) {
      sr += a(i) & 0xff
      sg += a(i + 1) & 0xff
      sb += a(i + 2) & 0xff
      i += 3
    }
    (sr, sg, sb)
  }

  /** Sum and max of |sample| over a PCM track. */
  private def absStats(a: Array[Short]): (Long, Long) = {
    var sum = 0L; var max = 0L
    var i = 0
    while (i < a.length) {
      val v = math.abs(a(i).toLong)
      sum += v
      if (v > max) max = v
      i += 1
    }
    (sum, max)
  }

  /** Deterministic surrogate for the YOLO tracker (M1, :170,187).
    * Construction is the expensive "model load" — done once per
    * partition inside mapPartitions, never per row. */
  final class SurrogateDetector extends FrameDetector {
    def detect(f: Long): Seq[Detection] =
      (0L to f % 3).map { i =>
        val x1 = (f * 11 + i * 29) % 600
        val y1 = (f * 17 + i * 37) % 440
        Detection(f, i.toInt, (f * 7 + i) % 5, (f * 13 + i) % 20,
          x1, y1, x1 + f % 80 + 20, y1 + f % 60 + 20)
      }
  }

  /** Deterministic moviepy-re-encode stand-in: same byte-level
    * plumbing as a real transcoder (binary in, tagged content out). */
  final class SurrogateTranscoder extends Transcoder {
    def transcode(bytes: Array[Byte]): String =
      if (bytes == null) null
      else "mp4:" + java.util.Base64.getEncoder.encodeToString(bytes)
  }

  /** M1: per-partition-initialized inference over frames (events as
    * the frame stream). This is the one deliberate non-Catalyst hop in
    * the engine — typed mapPartitions — kept oracle-testable because
    * the surrogate is pure integer arithmetic. */
  def udfInference(s: SparkSession, dir: String): DataFrame =
    inferenceDet(s, dir).orderBy("frame_id", "det_i")

  /** Unsorted detection stream — composite pipelines (ref_ep3_full,
    * ref_transpose) aggregate right after, so forcing a sort + range
    * exchange here would be two wasted shuffles inside their plans. */
  private[graft] def inferenceDet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = detector.resolve(s)
    val frames: Dataset[FrameRow] = Tables.events(s, dir)
      .filter(col("event_id") < 1000)
      .select(col("event_id").as("frame_id")).as[FrameRow]
    frames.mapPartitions { it =>
      val m = model.load() // per-partition init (M1 :170)
      it.flatMap(f => m.detect(f.frame_id))
    }.toDF()
  }

  /** L5a: multimodal metadata — text bytes stand in for media bytes:
    * binary column + typed metadata (byte length, content hash, fake
    * decoded dimensions derived from the payload). */
  def mmMetadata(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        substring(sha2(col("payload"), 256), 1, 16).as("content_sha"),
        (lit(64) + length(col("payload")) % 128).as("width"),
        (lit(48) + length(col("payload")) % 96).as("height"))
      .orderBy("doc_id")

  /** L5g: resolution/aspect gating — the LAION-style image admission
    * rule (Schuhmann et al. 2022 keep images with min side ≥ a floor
    * and aspect inside a band; every image-text pipeline runs this
    * BEFORE paying for CLIP): per source, how many images pass
    * min(w,h) ≥ 64 and ½ ≤ w/h ≤ 2, with the rejection reason split
    * out (priority: 'small' then 'aspect' — a doc failing both
    * charges 'small', pinned). The aspect band is the integer
    * cross-multiply w ≤ 2h ∧ h ≤ 2w — no float ratio. Dimensions are
    * [[mmMetadata]]'s surrogate decode (the documented container
    * boundary); the distributed shape — metadata scan, one
    * source-keyed conditional rollup — is the real pipeline's. */
  def mmResolutionFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        (lit(64) + length(encode(col("text"), "UTF-8")) % 128).as("w"),
        (lit(48) + length(encode(col("text"), "UTF-8")) % 96).as("h"))
      .select(col("source"),
        when(least(col("w"), col("h")) < 64, "small")
          .when(col("w") > col("h") * 2 || col("h") > col("w") * 2,
            "aspect")
          .otherwise("kept").as("verdict"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("verdict") === "small", 1L).otherwise(0L))
          .as("n_small"),
        sum(when(col("verdict") === "aspect", 1L).otherwise(0L))
          .as("n_aspect"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 DIV n_total"))
      .orderBy("source")

  /** L5b: frame sampling — every k-th frame index of a fake decoded
    * video (frame count derived from payload size), the batch shape of
    * S8's frame iterator (raw_to_samples.py:241-258). */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        (length(col("text")) % 50 + 10).as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1, lit(5))))
      .withColumnRenamed("col", "frame_idx")
      .select(col("doc_id"), col("n_frames"), col("pos").as("sample_i"),
        col("frame_idx"))
      .orderBy("doc_id", "sample_i")

  /** M3 (preprocess_dataset.py:59-70): transcode through the
    * [[Transcoder]] boundary as a Scala UDF over the binary payload —
    * the moviepy re-encode is the swappable impl; the default
    * surrogate keeps the same byte-level plumbing and is
    * deterministic so the oracle can reproduce it. */
  def udfTranscode(s: SparkSession, dir: String): DataFrame = {
    val bound = transcoder.resolve(s)
    val transcodeUdf = udf { (bytes: Array[Byte]) =>
      // lazy per-executor init via the thread-local-free holder: the
      // closure ships the class name, not a codec instance
      TranscoderCache.get(bound).transcode(bytes)
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        transcodeUdf(col("payload")).as("transcoded"),
        length(col("payload")).as("src_bytes"))
      .orderBy("doc_id")
  }

  /** Executor-side memo so the UDF instantiates one transcoder per
    * (executor, class), not per row. */
  private[multimodal] object TranscoderCache {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[Bound[Transcoder], Transcoder]
    def get(b: Bound[Transcoder]): Transcoder =
      cache.getOrElseUpdate(b, b.load())
  }

  /** L5c: media shard packing — lay the (lang-partitioned) media rows
    * into fixed byte-budget shards for distributed decode, the binary
    * analogue of [[graft.functions.Corpus.textPackSequencesOn]]'s
    * token packing: a media row is assigned to the shard where its
    * payload starts. One window per lang partition (languages pack
    * independently in parallel; shard further by source for more),
    * integer `div` on cumulative bytes so shard ids stay exact past
    * 2^53 cumulative bytes. */
  def mmPackShards(s: SparkSession, dir: String): DataFrame = {
    val budget = 4096L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .withColumn("cum_bytes", sum(col("n_bytes")).over(w))
      .select(col("doc_id"), col("lang"), col("n_bytes"), col("cum_bytes"),
        expr(s"(cum_bytes - n_bytes) div $budget").as("shard_id"),
        expr(s"cum_bytes - n_bytes - ((cum_bytes - n_bytes) div $budget) * $budget")
          .as("offset_in_shard"))
      .orderBy("lang", "doc_id")
  }

  /** L5d: image–caption alignment filter — the CLIP-score gate
    * (DataComp / LAION curation): score every (image, caption) pair
    * by embedding cosine, keep pairs above threshold, and report the
    * score beside a kept flag so the threshold sweep is a filter over
    * this output, not a recompute. The container has no image
    * encoder, so the pairing is the surrogate: even vec_id = the
    * image-tower embedding, odd vec_id = its caption-tower partner
    * (the REAL deployment joins two embedding relations on a shared
    * pair key — identical plan). Shape: the pair join is a self-join
    * on the derived pair key, an equi-join that shuffles on pair_id
    * only; cosine is per-row double math rounded at the boundary
    * (round 4, the sim_topk convention), never summed across rows —
    * map-side after the one join at any scale. */
  def mmCaptionAlignOn(emb: DataFrame, threshold: Double = 0.25)
      : DataFrame = {
    import graft.functions.Similarity.{dot, norm2}
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), norm2(col("v")).as("nrm"))
    val img = e.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") / 2).cast("long").as("pair_id"),
        col("v").as("iv"), col("nrm").as("inrm"))
    val cap = e.filter(col("vec_id") % 2 === 1)
      .select(((col("vec_id") - 1) / 2).cast("long").as("pair_id"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    img.join(cap, "pair_id")
      .select(col("pair_id"),
        round(dot(col("iv"), col("cv")) / (col("inrm") * col("cnrm")), 4)
          .as("cos"))
      // compare the ROUNDED double against the literal threshold:
      // both engines hold the identical rounded value, so the flag
      // cannot flip on an ulp (no double->int truncation anywhere)
      .withColumn("kept", (col("cos") >= lit(threshold)).cast("int"))
      .orderBy("pair_id")
  }

  def mmCaptionAlign(s: SparkSession, dir: String): DataFrame =
    mmCaptionAlignOn(Tables.embeddings(s, dir))

  /** L5f: perceptual-hash near-duplicate detection over the media
    * column — the image-dedup rung of the multimodal family (aHash /
    * pHash family, as in every image-corpus curation stack): decode
    * to a fixed pixel grid, threshold each pixel against the grid
    * mean into a 60-bit signature, band the signature for candidate
    * generation, verify candidates by Hamming distance. The DECODE is
    * the container-stubbed surrogate (per the media-boundary
    * convention above: pixel i = the codepoint of the character at
    * position 1 + i·(n−1) div 59 of the payload text standing in for
    * a sampled grayscale); everything downstream — grid schema, mean
    * threshold, banding, the bounded Hamming verify join — is the
    * real distributed shape an image pipeline runs after a real
    * decoder is plugged in.
    *
    * Scale: pixels are doc-keyed (60 rows/doc, one narrow shuffle to
    * the mean and back); banding is the simhash-banding candidate
    * bound (4 x 15-bit bands — a pair must agree on one full band, so
    * random signatures almost never collide); the verify join touches
    * only candidates x 60 bit rows. All arithmetic is integer
    * div/mod + exact power-of-two doubles — no engine-specific bit
    * ops or rounding anywhere (ORACLES.md portability rules). */
  val PhashPix = 60
  val PhashBandBits = 15
  val PhashHamMax = 8

  def mmPhashDedupOn(docs: DataFrame): DataFrame = {
    // Round 12 made the signature per-doc array math (no pixel
    // explode, no doc-keyed mean shuffle). Round 13 makes it ONE
    // native codegen expression (graft.plans.PhashSig): the r12
    // spelling still ran three interpreted `transform`/`aggregate`
    // lambdas per doc (grid sample, threshold, band packing) and a
    // zip_with fold per verify candidate; at sf0.1 the lambda
    // machinery was ~2/3 of the operator. Identical integer
    // arithmetic (same code-point grid sample, same div-mean, same
    // little-endian 15-bit band packing, same Hamming) — equality
    // against the column spelling is spec-checked in ExpressionsSpec,
    // and the oracle is unchanged.
    val sig = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        graft.plans.GraftFunctions.phash_sig(col("text")).as("ps"))
      .select(col("doc_id"), col("ps.bits").as("bits"),
        col("ps.bands").as("bandv"))
      .localCheckpoint(true) // banding + both sides of the verify join
    val bands = sig.select(col("doc_id"), posexplode(col("bandv")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bv"))
    val cand = bands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bv") === col("r.bv") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("da"), col("bits").as("ba")), "da")
      .join(sig.select(col("doc_id").as("db"), col("bits").as("bb")), "db")
      .select(col("da"), col("db"),
        graft.plans.GraftFunctions.array_hamming(col("ba"), col("bb"))
          .as("hamming"))
      .filter(col("hamming") <= PhashHamMax)
      .orderBy("da", "db")
  }

  def mmPhashDedup(s: SparkSession, dir: String): DataFrame =
    mmPhashDedupOn(Tables.documents(s, dir))

  /** Scene-cut luma threshold: neighbor frames whose surrogate luma
    * differs by more than this start a new segment. */
  val SceneCutThreshold = 25L

  /** L5d: video scene-cut detection — the shot-segmentation pass a
    * video-training pipeline runs before sampling frames per SCENE
    * instead of per fixed stride (PySceneDetect's content-detector
    * shape: per-frame feature, neighbor delta, threshold, segment
    * rollup).
    *
    * The decode is the usual surrogate behind the media boundary
    * (frame count from payload length — mm_frame_sample's rule; luma
    * a seeded integer hash, piecewise-constant over 8-frame runs so
    * segments have realistic variable lengths). Everything downstream
    * of the luma column is the REAL distributed shape: frames
    * generated map-only in the scan projection, ONE doc-keyed window
    * for the lag-delta + running cut count (two window functions,
    * same partitioning, one shuffle), one hash aggregate per segment.
    * At 100 TB the per-video frame relation shards by doc_id and
    * nothing crosses videos. */
  def mmSceneCutsOn(docs: DataFrame): DataFrame = {
    val frames = docs
      .select(col("doc_id"), (length(col("text")) % 50 + 10).as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("f"))
      .withColumn("luma",
        expr("((doc_id * 7919 + (f div 8) * 104729) % 1000000007) % 256"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("f").asc)
    frames
      .withColumn("prev", lag(col("luma"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull ||
          abs(col("luma") - col("prev")) > SceneCutThreshold, 1L)
          .otherwise(0L))
      .withColumn("seg",
        sum(col("cut")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - 1)
      .groupBy("doc_id", "seg")
      .agg(min(col("f")).as("start_frame"), max(col("f")).as("end_frame"),
        count(lit(1)).as("n_frames"), min(col("luma")).as("luma"))
      .orderBy("doc_id", "seg")
  }

  def mmSceneCuts(s: SparkSession, dir: String): DataFrame =
    mmSceneCutsOn(Tables.documents(s, dir))

  /** Energy floor (0–99 surrogate scale) above which a frame counts
    * as speech, the silence-run length (frames) a voiced segment may
    * bridge (the VAD "hangover"), and the minimum speech-frame count
    * for a segment to survive. */
  val VadEnergyThreshold = 40L
  val VadMaxGapFrames = 2L
  val VadMinSpeechFrames = 3L

  /** L5h: audio voice-activity segmentation — the pass a speech-
    * training pipeline runs before transcription to cut raw audio
    * into voiced utterances (WebRTC-VAD / Silero shape: per-frame
    * energy, threshold, hangover merge, min-duration filter). Audio
    * is the fourth modality next to the video (scene cuts), image
    * (phash), and image–text (caption align) ops.
    *
    * The decode is the usual surrogate behind the media boundary
    * (frame count from payload length, energy a seeded integer hash
    * piecewise-constant over 4-frame runs so speech/silence arrive
    * in realistic bursts). Downstream of the energy column the shape
    * is REAL and distributed: the speech-frame filter happens in the
    * scan projection (only voiced frames reach the shuffle), ONE
    * doc-keyed window does the lag-gap + running segment count (the
    * event-sessionization discipline on the decode boundary — a
    * silence run longer than [[VadMaxGapFrames]] breaks the
    * segment), one hash aggregate rolls segments up, and segments
    * shorter than [[VadMinSpeechFrames]] speech frames drop. At
    * 100 TB the frame relation shards by doc_id and nothing crosses
    * clips. */
  def mmAudioVadOn(docs: DataFrame): DataFrame = {
    val speech = docs
      .select(col("doc_id"), (length(col("text")) % 80 + 20).as("n_frames"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames").cast("long") - 1)).as("f"))
      .withColumn("energy",
        expr("((doc_id * 104729 + (f div 4) * 7919) % 1000000007) % 100"))
      .filter(col("energy") >= VadEnergyThreshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("f").asc)
    speech
      .withColumn("prev_f", lag(col("f"), 1).over(w))
      .withColumn("brk",
        when(col("prev_f").isNull ||
          col("f") - col("prev_f") > VadMaxGapFrames + 1, 1L)
          .otherwise(0L))
      .withColumn("seg",
        sum(col("brk")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - 1)
      .groupBy("doc_id", "seg")
      .agg(min(col("f")).as("start_frame"), max(col("f")).as("end_frame"),
        count(lit(1)).as("n_speech"))
      .filter(col("n_speech") >= VadMinSpeechFrames)
      .withColumn("bridged_frames",
        col("end_frame") - col("start_frame") + 1 - col("n_speech"))
      .select("doc_id", "seg", "start_frame", "end_frame",
        "n_speech", "bridged_frames")
      .orderBy("doc_id", "seg")
  }

  def mmAudioVad(s: SparkSession, dir: String): DataFrame =
    mmAudioVadOn(Tables.documents(s, dir))

  /** L5g: interleaved image–text document assembly — the MMC4 / OBELICS
    * construction step that turns (text, candidate images) into ONE
    * token-ordered multimodal sequence per document: text is split
    * into fixed non-overlapping chunks, each image is assigned a slot
    * between chunks, and the result is the per-document interleaved
    * row stream with sequence position and running token offset — the
    * exact frame a multimodal tokenizer consumes. The IMAGE-TO-SLOT
    * scorer is the container's stubbed boundary (MMC4 uses CLIP
    * chunk-image cosine; here the slot is a deterministic
    * multiplicative hash of the image id, and the host page mapping
    * is vec_id mod `hostMod`) — the assembly relation around it
    * (chunking, slotting, interleave numbering, offset accumulation)
    * is the real, tested plumbing, like the detector/transcoder
    * surrogates above. Images are costed at `imageTokens` vision
    * tokens so offsets mean "position in the training sequence".
    *
    * Shape: chunking is map-side (one split per doc); the chunk-count
    * join and the interleave window both key on doc_id, so every
    * shuffle is per-document and documents assemble independently in
    * parallel — embarrassingly partitionable at 100 TB. Images whose
    * host page left the corpus drop out in the equi-join (retention
    * filtering upstream composes for free). */
  def mmInterleaveOn(docs: DataFrame, images: DataFrame,
      hostMod: Long = 500, chunkTokens: Int = 16,
      imageTokens: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = graft.functions.Text
      .textChunkOn(docs, chunkTokens, chunkTokens)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_toks"))
    val nch = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val img = images
      .select(col("vec_id"), (col("vec_id") % hostMod).as("doc_id"))
      .join(nch, "doc_id")
      .select(col("doc_id"),
        expr("pmod(vec_id * 2654435761, n_chunks) * 2").as("pos_key"),
        lit("image").as("kind"), col("vec_id").as("ref_id"),
        lit(imageTokens.toLong).as("n_toks"))
    val txt = chunks.select(col("doc_id"),
      (col("chunk_id") * 2 + 1).as("pos_key"), lit("text").as("kind"),
      col("chunk_id").as("ref_id"), col("n_chunk_toks").as("n_toks"))
    val w = Window.partitionBy("doc_id").orderBy("pos_key", "ref_id")
    txt.unionByName(img)
      .withColumn("seq_i", row_number().over(w))
      .withColumn("tok_offset", coalesce(
        sum(col("n_toks")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "seq_i", "kind", "ref_id", "n_toks", "tok_offset")
      .orderBy("doc_id", "seq_i")
  }

  def mmInterleave(s: SparkSession, dir: String): DataFrame =
    mmInterleaveOn(Tables.documents(s, dir), Tables.embeddings(s, dir))

  /** L5h: REAL image decode behind the pluggable boundary — the
    * round-8 closure of "decode is a surrogate". Per document a
    * deterministic RGB raster (pixel = integer pattern of doc_id,x,y)
    * is encoded into genuine 24-bit BI_RGB BMP bytes
    * ([[Codecs.bmpEncode]]: 54-byte header, bottom-up rows, BGR,
    * 4-byte stride padding), then DECODED in the same pass by the
    * conf-pluggable [[Codecs.ImageDecoder]] (default: the
    * pure-JVM [[Codecs.BmpDecoder]], a real parser of the actual
    * header fields) inside mapPartitions with per-partition decoder
    * init (the M1 model-load contract). Output: real byte size plus
    * per-channel pixel sums OF THE DECODED RASTER. The oracle replays
    * the pattern arithmetic and the closed-form BMP size — any
    * decoder bug (stride, row order, channel order, offsets) is a
    * hash mismatch. Dimensions stay small (w<=31, h<=19) so the
    * oracle's explicit pixel relation stays bounded.
    *
    * Scale: encode+decode are ONE map-only pass over the documents
    * scan — no shuffle before the final orderBy; at 100 TB binary
    * payloads ride their source partitioning and decoders amortize
    * per partition. */
  def mmDecodeImage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = imageDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val (w, h) = stillDims(id)
        val bytes = Codecs.bmpEncode(w, h, raster(ClipRgb, id, 0, w, h))
        val im = dec.decode(bytes)
        val (sr, sg, sb) = channelSums(im.rgb)
        (id, bytes.length.toLong, im.width, im.height, sr, sg, sb)
      }
    }.toDF("doc_id", "n_bytes", "width", "height",
      "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id")
  }

  /** The stills' dims: w in [16, 31], h in [12, 19]. */
  private def stillDims(id: Long): (Int, Int) =
    ((16 + id % 16).toInt, (12 + id % 8).toInt)

  /** L5s: REAL COMPRESSED-format decode — PNG round trip through
    * genuine DEFLATE. Every other real codec in the engine parses an
    * uncompressed byte layout; this op proves the boundary holds for
    * a format with actual entropy coding: per document a
    * deterministic RGB raster is encoded into a genuine PNG
    * ([[Codecs.pngEncode]]: per-row adaptive filters cycling ALL FIVE
    * spec types, real zlib DEFLATE, multi-IDAT chunking, per-chunk
    * CRC-32) and decoded back by the conf-pluggable
    * [[Codecs.ImageDecoder]] (default [[Codecs.PngDecoder]] — chunk
    * walk + CRC verification + Inflater + five-filter reversal)
    * inside mapPartitions with per-partition decoder init. PNG is
    * lossless, so the decoded-raster channel sums hash-match the
    * oracle's pattern replay exactly; a filter, CRC, chunking, or
    * inflate bug is a hash mismatch. The `compressed` checked column
    * (ORACLES.md estimator convention: the unstable quantity never
    * crosses the oracle boundary raw) asserts the DEFLATE stream
    * genuinely beat the stored-block representation — the flag is
    * exhaustively verified in-spec over all 256 distinct raster
    * classes, so TRUE is a theorem, not a hope.
    *
    * Scale: encode+decode are ONE map-only pass over the documents
    * scan; decoders amortize per partition (the M1 contract). */
  def mmDecodePng(s: SparkSession, dir: String): DataFrame =
    mmDecodePngOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodePngOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = pngDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val (w, h) = stillDims(id)
        val png = Codecs.pngEncode(w, h, raster(PngRgb, id, 0, w, h))
        val im = dec.decode(png)
        val (sr, sg, sb) = channelSums(im.rgb)
        (id, im.width, im.height, sr, sg, sb,
          png.length < 57 + Codecs.pngRawLen(w, h))
      }
    }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
      "compressed")
  }

  /** L5x: the SECOND compressed format — GIF87a with a genuinely
    * different entropy coder: variable-width LZW (9->12-bit growth,
    * clear/EOI, KwKwK, LSB-first packing, 255-byte sub-blocks)
    * implemented in BOTH directions from the public spec with no
    * library involvement at all ([[Codecs.gifEncode]] /
    * [[Codecs.GifLzwDecoder]] — unlike PNG, whose DEFLATE rides the
    * JDK's zlib). GIF is palette-indexed, so the raster is an INDEX
    * plane: losslessness means index-exact round trips, and the
    * decoded RGB resolves through the PARSED global color table
    * ([[Codecs.gifPalette]]) — the channel sums are the oracle's
    * nested-mod arithmetic replay, and an LZW width-schedule, bit
    * packing, sub-blocking, or palette bug is a hash mismatch. The
    * `compressed` checked column asserts LZW genuinely beat the
    * stored-equivalent bound — exhaustively spec-verified over all
    * 768 distinct raster classes (the pattern's period:
    * lcm(256, 12, 6)). Cross-implementation conformance is proven
    * both directions against ImageIO's GIF reader/writer.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmDecodeGif(s: SparkSession, dir: String): DataFrame =
    mmDecodeGifOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodeGifOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = gifDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val (w, h) = gifDims(id)
        val gif = Codecs.gifEncode(w, h, raster(GifIndex, id, 0, w, h))
        val im = dec.decode(gif)
        val (sr, sg, sb) = channelSums(im.rgb)
        (id, im.width, im.height, sr, sg, sb,
          gif.length < gifStoredBound(w, h))
      }
    }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
      "compressed")
  }

  /** The GIF corpus' dims: w in [16, 27], h in [10, 15]. */
  private def gifDims(id: Long): (Int, Int) =
    ((16 + id % 12).toInt, (10 + id % 6).toInt)

  /** A GIF's stored-equivalent size: header 13 + palette 768 + image
    * descriptor 10 + code-size byte 1 + raw indices in sub-blocks +
    * terminator 1 + trailer 1 — LZW must beat it. */
  private def gifStoredBound(w: Int, h: Int): Int =
    794 + w * h + (w * h + 254) / 255

  /** L5z: the THIRD compressed format — baseline JPEG (ITU-T T.81)
    * with a from-scratch canonical-Huffman entropy coder AND a
    * from-scratch fixed-point integer DCT pair ([[Jpeg.encodeGray]] /
    * [[Jpeg.JpegDecoder]] — no library involvement at all; PNG's
    * DEFLATE rides the JDK's zlib, GIF brought its own LZW, JPEG
    * brings both machines a lossy transform codec needs). JPEG is
    * LOSSY, so the corpus rasters are drawn from the codec's exactly
    * invertible class (constant even-valued 8x8 blocks,
    * [[jpegBlockGray]]) — decoded luma sums hash-match the oracle's
    * closed-form block arithmetic, and a Huffman, zigzag, quantizer,
    * byte-stuffing, or IDCT bug is a hash mismatch, not a tolerance
    * judgement. The `compressed` checked column asserts the entropy
    * stream beat the raw 8-bpp plane (exhaustively spec-verified over
    * all 96 raster classes, the pattern's period). Conformance vs
    * ImageIO's JPEG reader/writer is proven both directions in
    * MultimodalJpegSpec.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmDecodeJpeg(s: SparkSession, dir: String): DataFrame =
    mmDecodeJpegOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodeJpegOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = jpegDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bw = (2 + id % 3).toInt
        val bh = (1 + id % 2).toInt
        val g = jpegBlockGray(id, 0, bw, bh)
        val jpeg = Jpeg.encodeGray(bw * 8, bh * 8, g)
        val im = dec.decode(jpeg)
        (id, im.width, im.height, lumaSum(im.rgb),
          jpeg.length < Jpeg.GrayHeaderLen + g.length)
      }
    }.toDF("doc_id", "width", "height", "sum_luma", "compressed")
  }

  /** Sum of the R channel of an interleaved raster — the luma of a
    * gray-valued one. */
  private def lumaSum(rgb: Array[Byte]): Long = {
    var sl = 0L
    var i = 0
    while (i < rgb.length) { sl += rgb(i) & 0xff; i += 3 }
    sl
  }

  /** L5z2b: PROGRESSIVE JPEG decode over in-repo bytes — the
    * mm_decode_jpeg corpus re-encoded as a two-scan SOF2 stream
    * ([[Jpeg.encodeGrayProgressive]]: complete DC band scan, then the
    * complete AC band scan) and decoded through the decoder's
    * multi-scan progressive path (T.81 Annex G.2 — the same path the
    * ImageIO-conformance spec proves on foreign spectral-selection +
    * successive-approximation streams). `progressive` is the checked
    * container column: an entropy-aware marker census of the emitted
    * bytes proves they really are SOF2 with exactly two scans (a
    * silent fallback to baseline could not pass it).
    * `matches_baseline` re-encodes the same raster as baseline SOF0
    * and byte-compares the two decodes — the spectral-split
    * equivalence theorem (identical quantized coefficients => byte-
    * identical decodes) as a per-row checked column, so the oracle
    * stays the mm_decode_jpeg closed form unchanged.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmDecodeJpegProg(s: SparkSession, dir: String): DataFrame =
    mmDecodeJpegProgOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass —
    * batch == readStream proven in StreamingSpec alongside the other
    * ingest decode cores). */
  def mmDecodeJpegProgOn(ids: Dataset[Long]): DataFrame =
    jpegProgressiveOn(ids, Jpeg.encodeGrayProgressive(_, _, _), 2)

  /** The progressive-decode body both scan progressions share: the
    * mm_decode_jpeg corpus through `encode`, whose SOF2 stream must
    * carry exactly `nScans` scans and decode byte-identically to the
    * baseline encoding. */
  private def jpegProgressiveOn(ids: Dataset[Long],
      encode: (Int, Int, Array[Byte]) => Array[Byte],
      nScans: Int): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = jpegDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bw = (2 + id % 3).toInt
        val bh = (1 + id % 2).toInt
        val g = jpegBlockGray(id, 0, bw, bh)
        val prog = encode(bw * 8, bh * 8, g)
        val im = dec.decode(prog)
        val base = dec.decode(Jpeg.encodeGray(bw * 8, bh * 8, g))
        val (sof2, nSos) = jpegMarkerCensus(prog)
        (id, im.width, im.height, lumaSum(im.rgb), sof2 && nSos == nScans,
          im.width == base.width && im.height == base.height &&
            java.util.Arrays.equals(im.rgb, base.rgb))
      }
    }.toDF("doc_id", "width", "height", "sum_luma", "progressive",
      "matches_baseline")
  }

  /** L5z2c: SUCCESSIVE-APPROXIMATION progressive decode — the same
    * corpus through [[Jpeg.encodeGrayProgressiveSA]]'s six-scan
    * progression (DC/AC firsts at Al=1, then DC-bit and AC refinement
    * scans with real EOB runs), driving the decoder's G.1.2.3
    * refinement paths (correction bits, +-1 insertions, EOB regions)
    * that [[mmDecodeJpegProg]]'s two-scan split never enters. Same
    * checked-column convention: `progressive` asserts SOF2 + exactly
    * SIX scans, `matches_baseline` the byte-equality of the completed
    * progression with the baseline decode — so the oracle keeps the
    * mm_decode_jpeg closed form.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmDecodeJpegProgSa(s: SparkSession, dir: String): DataFrame =
    mmDecodeJpegProgSaOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodeJpegProgSaOn(ids: Dataset[Long]): DataFrame =
    jpegProgressiveOn(ids, Jpeg.encodeGrayProgressiveSA(_, _, _), 6)

  /** Entropy-aware JPEG marker census: (SOF2 present, number of SOS
    * scans) — the checked-column helper behind mm_decode_jpeg_prog
    * (inside scans it skips to the next true marker, honoring 0xFF00
    * stuffing and RSTn). */
  private def jpegMarkerCensus(b: Array[Byte]): (Boolean, Int) = {
    var sof2 = false; var nSos = 0
    var p = 2
    var inScan = false
    while (p + 1 < b.length) {
      if (!inScan) {
        val m = b(p + 1) & 0xff
        if (m == 0xc2) sof2 = true
        if (m == 0xda) { nSos += 1; inScan = true }
        if (m == 0xd9) p = b.length
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) p += 2
        else p += 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
      } else {
        if ((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0 &&
          !((b(p + 1) & 0xff) >= 0xd0 && (b(p + 1) & 0xff) <= 0xd7))
          inScan = false
        else p += 1
      }
    }
    (sof2, nSos)
  }

  /** L5z3: real format conversion INTO the lossy codec — BMP in,
    * baseline 4:4:4 COLOR JPEG out, both ends parsed (the
    * mm_transcode_png twin, with the re-encode step crossing the
    * lossy boundary): decode 24-bit BMP bytes with the pluggable BMP
    * decoder, re-encode the raster as a real three-component YCbCr
    * JPEG ([[Jpeg.encodeColor444]]), decode THAT with the pluggable
    * JPEG decoder, and prove losslessness by byte-comparing the final
    * raster against the original (`lossless_ok`). The raster is
    * gray-valued constant blocks — the class BOTH boundaries invert
    * exactly: R=G=B survives the integer BT.601 round trip (the
    * conversion coefficients sum per channel), and constant even
    * blocks survive quantization (the ORACLES.md round-10
    * convention). `jpeg_smaller` asserts the entropy-coded container
    * beat the uncompressed BMP; both flags exhaustively spec-verified
    * over all 96 raster classes (alongside [[mmTranscodeJpeg420]]'s).
    * Emitted sums come from the FINAL decode.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmTranscodeJpeg(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, jpegTranscodeRaster, Jpeg.encodeColor444(_, _, _),
      jpegDecoder, smallerThanBmp)
      .withColumnRenamed("flag", "jpeg_smaller").orderBy("doc_id")

  /** The JPEG transcodes' source: gray-valued constant blocks, 4-6 x
    * 2-3 of them. */
  private def jpegTranscodeRaster(id: Long): (Int, Int, Array[Byte]) = {
    val bw = (4 + id % 3).toInt
    val bh = (2 + id % 2).toInt
    (bw * 8, bh * 8, grayToRgb(jpegBlockGray(id, 0, bw, bh)))
  }

  /** The transcodes' size flag: the re-encoded container beat the BMP. */
  private val smallerThanBmp: (Array[Byte], Array[Byte]) => Boolean =
    (bmp, out) => out.length < bmp.length

  /** The body of the six BMP-in transcodes: per doc the `src` raster
    * (w, h, interleaved RGB) is written as real BMP bytes, parsed by
    * the BMP binding, re-encoded by `encode` and parsed again by the
    * `to` binding. Emits the BMP size, the final raster's dims and
    * byte sum, `lossless_ok` (the final raster equals the source,
    * dims included) and `flag`, the operator's checked container
    * column over the (BMP, re-encoded) bytes. One map-only pass, two
    * per-partition decoder inits. */
  private def bmpTranscode(s: SparkSession, dir: String,
      src: Long => (Int, Int, Array[Byte]),
      encode: (Int, Int, Array[Byte]) => Array[Byte],
      to: Binding[Codecs.ImageDecoder],
      flag: (Array[Byte], Array[Byte]) => Boolean): DataFrame = {
    import s.implicits._
    val bmpBound = imageDecoder.resolve(s)
    val toBound = to.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val bd = bmpBound.load()
      val td = toBound.load()
      it.map { id =>
        val (w, h, px) = src(id)
        val bmp = Codecs.bmpEncode(w, h, px)
        val im1 = bd.decode(bmp)
        val out = encode(im1.width, im1.height, im1.rgb)
        val im2 = td.decode(out)
        (id, bmp.length.toLong, im2.width, im2.height, byteSum(im2.rgb),
          im2.width == w && im2.height == h &&
            java.util.Arrays.equals(im2.rgb, px),
          flag(bmp, out))
      }
    }.toDF("doc_id", "bmp_bytes", "width", "height", "sum_rgb",
      "lossless_ok", "flag")
  }

  /** L5z4: [[mmTranscodeJpeg]]'s SUBSAMPLED twin — BMP in, 4:2:0
    * YCbCr JPEG out ([[Jpeg.encodeColor420]], the form real pipelines
    * actually emit), decoded back through the chroma-upsampling path.
    * The raster class extends the invertible analysis to subsampled
    * color: gray-valued pixels keep Cb=Cr=128, which 2x2 box
    * averaging preserves exactly, so `lossless_ok` is the same
    * theorem (spec-verified over all 96 classes alongside the 4:4:4
    * flags). A separate catalog key — not extra columns on the 4:4:4
    * op — so the cross-round bench cost of each transcode form stays
    * individually visible. */
  def mmTranscodeJpeg420(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, jpegTranscodeRaster, Jpeg.encodeColor420(_, _, _),
      jpegDecoder, smallerThanBmp)
      .withColumnRenamed("flag", "jpeg_smaller").orderBy("doc_id")

  /** L5z2: M-JPEG AVI — JPEG scans as the per-frame payload of the
    * engine's one AVI muxer and RIFF chunk walk ([[Jpeg.aviEncodeMjpeg]] /
    * [[Jpeg.MjpegAviDecoder]]): a genuinely COMPRESSED video codec
    * inside a real container, which is what the reference's
    * cv2.VideoCapture loop (raw_to_samples.py:173-196) actually
    * decodes in practice. Every frame is an independent baseline
    * JPEG from the exactly invertible class, so per-clip decoded
    * sums stay hash-exact; frame count and fps come from the parsed
    * strh. Frame byte sizes are entropy-coded and data-dependent —
    * the container size never crosses the oracle boundary raw; the
    * `compressed` checked column bounds it against the stored-DIB
    * equivalent (spec-verified over the pattern's full period).
    *
    * Scale: map-only, per-partition decoder init, one container per
    * row — the same shape that ScaleProbes flat on the DIB path. */
  def mmDecodeMjpeg(s: SparkSession, dir: String): DataFrame =
    mmDecodeMjpegOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodeMjpegOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = mjpegDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bw = (2 + id % 2).toInt
        val bh = (1 + id % 2).toInt
        val nf = (2 + id % 3).toInt
        val fps = (8 + (id % 5) * 2).toInt
        val frames = (0 until nf).map(f =>
          Jpeg.encodeGray(bw * 8, bh * 8, jpegBlockGray(id, f, bw, bh)))
        val avi = Jpeg.aviEncodeMjpeg(bw * 8, bh * 8, fps, frames)
        val vid = dec.decode(avi)
        // stored-DIB bound: the uncompressed AVI of the same clip
        (id, vid.width, vid.height, vid.frames.length.toLong, vid.fps,
          vid.frames.map(lumaSum).sum,
          avi.length < Codecs.aviSize(bw * 8, bh * 8, nf))
      }
    }.toDF("doc_id", "width", "height", "n_frames", "fps", "sum_luma",
      "compressed")
  }

  /** L5y: SNIFF-AND-DISPATCH over a MIXED-format corpus — the
    * ingest rung the reference's extension filter
    * (preprocess_dataset.py:10-31) approximates: files arrive with
    * EIGHT different container formats interleaved (per doc parity:
    * BMP, PNG, GIF, WAV, AVI, MP4, baseline JPEG — the lossy one,
    * since round 10 — and, since round 12, TIFF with both strip
    * layouts), the format is detected from the
    * MAGIC BYTES alone ([[Codecs.sniff]] — no filename, no schema
    * column), and each container routes to its real decoder. The
    * emitted `format` column comes from the sniffer, so the oracle
    * (which derives the format from doc parity) checks that content
    * detection got every file right; `content_sum` is the decoded
    * payload mass (RGB sum for rasters/frames, |PCM| sum for audio)
    * under each format's own deterministic pattern — all eight
    * decode paths exercised in ONE relation, every stat from parsed
    * bytes.
    *
    * Scale: one map-only pass; the dispatch is per-row and the eight
    * decoders amortize per partition like any other binding. */
  def mmSniffDecode(s: SparkSession, dir: String): DataFrame =
    mmSniffDecodeOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; sniff + dispatch is one pure
    * mapPartitions pass — proven batch == readStream in
    * StreamingSpec). */
  def mmSniffDecodeOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    mmSniffCoreOn(ids).mapPartitions { it =>
      val dec = new SniffDecoders() // per-partition init (M1 contract)
      it.map { case (id, bytes) =>
        // content detection ALONE picks the parser
        val format = Codecs.sniff(bytes)
        require(format != "unknown",
          s"sniffer failed on an internally-built container (doc $id)")
        (id, format, dec.sum(format, bytes))
      }
    }.toDF("doc_id", "format", "content_sum")
  }

  /** One real decoder per format, instantiated ONCE PER PARTITION —
    * the dispatch table behind [[mmSniffDecode]] and
    * [[mmDecodeQuarantine]]. `sum` is the unified decoded-payload
    * mass: RGB sum for rasters/frames, |PCM| sum for audio. */
  private final class SniffDecoders extends Serializable {
    private val images = Map[String, Codecs.ImageDecoder](
      "bmp" -> new Codecs.BmpDecoder(), "png" -> new Codecs.PngDecoder(),
      "jpeg" -> new Jpeg.JpegDecoder(), "tiff" -> new Codecs.TiffDecoder())
    private val videos = Map[String, Codecs.VideoDecoder](
      "avi" -> new Codecs.AviDecoder(), "mp4" -> new Codecs.Mp4VideoDecoder())
    private val gif = new Codecs.GifLzwDecoder()
    private val wav = new Codecs.WavDecoder()
    def sum(format: String, bytes: Array[Byte]): Long =
      stats(format, bytes)._1

    /** Decoded (content_sum, width, height, payload_bytes) — the
      * per-container feature row the pipeline capstone funnels on.
      * Audio has no raster: w = h = 0, payload = PCM byte count. */
    def stats(format: String, bytes: Array[Byte]): (Long, Int, Int, Long) =
      format match {
        case "gif" =>
          val im = gif.decode(bytes)
          (byteSum(im.rgb), im.width, im.height, im.rgb.length.toLong)
        case "wav" =>
          val au = wav.decode(bytes)
          (absStats(au.samples)._1, 0, 0, au.samples.length * 2L)
        case f if videos.contains(f) =>
          val v = videos(f).decode(bytes)
          (v.frames.map(byteSum).sum, v.width, v.height,
            v.frames.map(_.length.toLong).sum)
        case f if images.contains(f) =>
          val im = images(f).decode(bytes)
          (byteSum(im.rgb), im.width, im.height, im.rgb.length.toLong)
        case other => throw new IllegalStateException(
          s"no decoder for sniffed format '$other'")
      }
  }

  /** The mixed-format container corpus both sniff ops share: per doc
    * parity one of eight container formats, each built with the SAME
    * deterministic pattern its dedicated mm_decode_* op uses (the
    * shared-literal rule, eight times over). Streaming-legal: one
    * pure mapPartitions over an id source — batch or readStream. */
  private[multimodal] def mmSniffCoreOn(ids: Dataset[Long])
      : Dataset[(Long, Array[Byte])] = {
    val s = ids.sparkSession
    import s.implicits._
    ids.mapPartitions(it => it.map(id => (id, sniffContainer(id))))
  }

  /** One deterministic container per id, format by parity (BMP, PNG,
    * GIF, WAV, AVI, MP4, JPEG, TIFF) — the per-id byte builder behind
    * the sniff / quarantine / pipeline corpora. */
  private[multimodal] def sniffContainer(id: Long): Array[Byte] = {
    // dims and counts derive from the CLASS INDEX q = id/8, not id:
    // within a fixed residue class mod 8, id % k collapses for any
    // k sharing a factor with 8 (every BMP would be 12 px tall,
    // every JPEG one block high), while q cycles ALL residues of
    // every modulus — full dim coverage per format. Pixel patterns
    // stay id-based (each format's dedicated mm_decode_* literal).
    val q = id / 8
    (id % 8) match {
      case 0 =>
        val (w, h) = stillDims(q)
        Codecs.bmpEncode(w, h, raster(ClipRgb, id, 0, w, h))
      case 1 =>
        val (w, h) = stillDims(q)
        val px = raster(PngRgb, id, 0, w, h)
        // half the class ships Adam7 INTERLACED (the progressive
        // form web encoders emit) — deinterlaced pixels are
        // identical, so every stat and oracle is unchanged while
        // the ingest tier exercises the seven-pass path per run
        // ((q/2)%2, decorrelated from the q%2 dim parity)
        if ((q / 2) % 2 == 0) Codecs.pngEncode(w, h, px)
        else Codecs.pngEncodeAdam7(w, h, px)
      case 2 =>
        val (w, h) = gifDims(q)
        Codecs.gifEncode(w, h, raster(GifIndex, id, 0, w, h))
      case 3 =>
        Codecs.wavEncode(8000, WavPcm.pcm(id, (160 + q % 64).toInt))
      case 4 =>
        val (w, h, nf) = aviClipDims(q)
        Codecs.aviEncode(w, h, 10, clip(ClipRgb, id, nf, w, h))
      case 5 =>
        val (w, h, nf) = mp4ClipDims(q)
        Codecs.mp4EncodeVideo(600, (20 + (q % 3) * 20).toInt,
          w, h, clip(Mp4Rgb, id, nf, w, h), moovLast = q % 2 == 0)
      case 6 =>
        // the LOSSY format joins the mixed ingest: baseline
        // JPEG from the invertible class (the mm_decode_jpeg
        // pattern verbatim — the shared-literal rule). Half the
        // class ships as subsampled 4:2:0 COLOR JPEG (the form
        // real pipelines emit), half as grayscale: the decoded
        // raster is IDENTICAL either way (R=G=B gray-valued
        // rasters invert exactly through both paths), so every
        // downstream stat is format-path-independent and the
        // oracles are untouched — but the mixed corpus now
        // exercises the decoder's chroma upsampling on every
        // sniff/quarantine/pipeline/streaming pass
        val bw = (2 + q % 3).toInt; val bh = (1 + q % 2).toInt
        val g = jpegBlockGray(id, 0, bw, bh)
        if ((q / 2) % 2 == 0) {
          // the gray half further splits baseline/PROGRESSIVE:
          // the invertible class decodes byte-identically
          // through every path, so stats and oracles are
          // unchanged while the ingest tier exercises the
          // multi-scan decoder (two-scan spectral split and
          // six-scan successive approximation) on every pass
          if ((q / 2) % 4 == 0) Jpeg.encodeGray(bw * 8, bh * 8, g)
          else if ((q / 2) % 8 == 2)
            Jpeg.encodeGrayProgressive(bw * 8, bh * 8, g)
          else Jpeg.encodeGrayProgressiveSA(bw * 8, bh * 8, g)
        } else Jpeg.encodeColor420(bw * 8, bh * 8, grayToRgb(g))
      case _ =>
        // the FOURTH container architecture joins the mixed
        // ingest: baseline TIFF with the mm_decode_tiff
        // gray-blocky pattern verbatim (the shared-literal
        // rule). The slice cycles all three strip compressions —
        // TIFF is lossless, so the decoded raster (and every
        // downstream stat and oracle) is identical either way
        // while the ingest tier exercises every strip path per run
        val (w, h) = stillDims(q)
        val px = grayToRgb(raster(BlockGray, id, 0, w, h))
        if ((q / 2) % 2 == 0)
          Codecs.tiffEncode(w, h, px, packbits = true)
        else if ((q / 2) % 4 == 1)
          Codecs.tiffEncodeLzw(w, h, px)
        else Codecs.tiffEncode(w, h, px, packbits = false)
    }
  }

  /** L5z: the reference's ERROR CHANNEL on real bytes — its
    * per-file try/except + quarantine catalog (preprocess_dataset
    * .py:52,65-70; raw_to_samples.py:385-396) run against genuinely
    * corrupted containers: a deterministic slice of each format
    * class gets its MAGIC BYTES flipped (sniffing tags it
    * unknown_format — nothing is even attempted), a slice of the
    * PNGs gets one IDAT byte flipped (the format's CRC GUARANTEES
    * detection — decode_error), and everything else decodes to its
    * pattern sum. The catch boundary is exactly the codecs'
    * fail-fast contract: only IllegalArgumentException quarantines;
    * anything else would be an engine bug and propagates. One
    * relation, three channels, every row accounted for — the E1-E3
    * error-channel idiom with real parsers in the loop.
    *
    * Scale: one map-only pass; quarantine is a column, not a
    * second job. */
  def mmDecodeQuarantine(s: SparkSession, dir: String): DataFrame =
    mmDecodeQuarantineOn(docIds(s, dir)).orderBy("doc_id")

  /** The deterministic corruption classes shared by the quarantine op
    * and the pipeline capstone: a slice of every format class gets its
    * magic bytes flipped, a slice of the PNGs one IDAT byte flipped
    * (CRC-32 GUARANTEES detection), and a slice of the TIFFs a
    * strip-offset byte forced high (the decoder's strip/offset
    * validation guarantees detection — TIFF has no CRC, so only
    * VALIDATED STRUCTURE can carry a provable corruption class). */
  private def corruptMaybe(id: Long, bytes0: Array[Byte]): Array[Byte] = {
    val magicCorrupt = (id / 8) % 5 == 2
    val bodyCorrupt = id % 8 == 1 && (id / 8) % 5 == 3
    val stripCorrupt = id % 8 == 7 && (id / 8) % 5 == 3
    if (magicCorrupt) {
      val b = bytes0.clone()
      b(0) = (b(0) ^ 0xff).toByte
      b(5) = (b(5) ^ 0xff).toByte // breaks 'ftyp' too
      b
    } else if (bodyCorrupt) {
      val b = bytes0.clone()
      b(45) = (b(45) ^ 0x5a).toByte // inside the first IDAT data
      b
    } else if (stripCorrupt) {
      val b = bytes0.clone()
      // the encoder writes the 126-byte IFD last; the StripOffsets
      // entry (tag 273, 6th of 10) keeps its value/pointer field at
      // len-56..len-53. Forcing the high byte to >= 0x7f sends the
      // offset (or the offsets-array pointer) past any corpus file
      // (< 2^24 bytes), so the decoder's bounds checks MUST throw —
      // the deterministic-detection theorem for a CRC-less container
      b(b.length - 53) = (b(b.length - 53) | 0x7f).toByte
      b
    } else bytes0
  }

  /** Streaming-legal core: the error channel is a COLUMN of one pure
    * map pass, so it runs unchanged under readStream/foreachBatch —
    * the reference's quarantine catalog in streaming spelling
    * (proven in StreamingSpec). */
  def mmDecodeQuarantineOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    mmSniffCoreOn(ids).mapPartitions { it =>
      val dec = new SniffDecoders() // per-partition init (M1 contract)
      it.map { case (id, bytes0) =>
        val bytes = corruptMaybe(id, bytes0)
        val format = Codecs.sniff(bytes)
        if (format == "unknown")
          (id, "unknown_format", "unknown", None: Option[Long])
        else
          try (id, "ok", format, Some(dec.sum(format, bytes)))
          catch {
            case _: IllegalArgumentException =>
              (id, "decode_error", format, None)
          }
      }
    }.toDF("doc_id", "status", "format", "content_sum")
  }

  /** L5cap: the MULTIMODAL INGESTION CAPSTONE — the mm twin of
    * corpus_pipeline_full: sniff -> quarantine -> decode -> exact
    * near-dedup on decoded content -> resolution filter -> shard
    * packing, composed as ONE lazy plan over real container bytes,
    * reported as a funnel row per format (the shape an ingest design
    * review reads first). The corpus deliberately contains
    * duplicates: every container whose class index has (id/8) % 4
    * == 1 is a byte-identical re-upload of its predecessor in the
    * same format class (seed id-8 — parity preserved), so the dedup
    * stage has real work; the quarantine corruption classes are the
    * mm_decode_quarantine ones (shared corruptMaybe). Stage rules:
    * (1) magic-flipped containers quarantine as unknown_format,
    * CRC-caught PNG corruption as decode_error (the codecs' fail-
    * fast contract is the catch boundary); (2) surviving docs decode
    * ONCE to (content_sum, w, h, payload_bytes); (3) exact dedup
    * groups on the full decoded identity, keeper = min doc_id (group
    * members have identical dims by construction, so dedup and
    * resolution cannot disagree within a group); (4) resolution drops
    * rasters/videos with min(w,h) < 8 (audio exempt — no raster);
    * (5) survivors pack into 8192-byte shards per format in doc
    * order (the mm_pack_shards rule).
    *
    * Scale: decode is ONE map-only pass; dedup is a window over the
    * decoded-identity key (high cardinality — no skew); the pack
    * prefix-sum partitions by format like mm_pack_shards (8
    * partitions here — one per sniff format; the two-phase
    * prefix-sum spelling in Curation.scala is the drop-in at real
    * format counts); the funnel aggregation is 9 rows (8 formats +
    * the unknown channel). */
  def mmPipelineFull(s: SparkSession, dir: String): DataFrame =
    mmPipelineStagesOn(mmPipelineDecodedOn(docIds(s, dir)))

  /** The capstone's decode pass on an arbitrary id source — split out
    * so the planted-skew spec can feed a PATHOLOGICAL id multiset
    * (90% one format class, high corruption-class density) through
    * the real decode path. */
  private[graft] def mmPipelineDecodedOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.mapPartitions { it =>
      val dec = new SniffDecoders() // per-partition init (M1 contract)
      it.map { id =>
        val seed = if ((id / 8) % 4 == 1) id - 8 else id
        val bytes = corruptMaybe(id, sniffContainer(seed))
        val format = Codecs.sniff(bytes)
        if (format == "unknown")
          (id, "unknown_format", "unknown", 0L, 0, 0, 0L)
        else
          try {
            val (sum, w, h, payload) = dec.stats(format, bytes)
            (id, "ok", format, sum, w, h, payload)
          } catch {
            case _: IllegalArgumentException =>
              (id, "decode_error", format, 0L, 0, 0, 0L)
          }
      }
    }.toDF("doc_id", "status", "format", "content_sum", "w", "h",
      "payload")
  }

  /** The dedup window's partition key — exported so the planted-skew
    * spec measures partition sizes of the SAME key the op's window
    * uses: ok rows key on the full decoded identity (high
    * cardinality), quarantined rows salt by doc_id so zero-stat rows
    * can never form one giant partition. */
  private[graft] def mmPipelineDedupKey: Seq[org.apache.spark.sql.Column] =
    Seq(col("format"), col("w"), col("h"), col("content_sum"),
      col("payload"),
      when(col("status") === "ok", lit(0L)).otherwise(col("doc_id")))

  /** The capstone's post-decode stages (dedup window, resolution
    * filter, shard pack, funnel) on an arbitrary decoded relation. */
  private[graft] def mmPipelineStagesOn(decoded: DataFrame): DataFrame = {
    val budget = 8192L
    // quarantined rows carry zero stats — without the status-keyed
    // salt they would all land in ONE window partition per format
    // (the skew no 100 TB plan survives); keyed by doc_id they cost
    // nothing and their rn is never read
    val dedupW = org.apache.spark.sql.expressions.Window
      .partitionBy(mmPipelineDedupKey: _*)
      .orderBy("doc_id")
    val staged = decoded
      .withColumn("rn",
        when(col("status") === "ok", row_number().over(dedupW)))
      .withColumn("stage",
        when(col("status") =!= "ok", lit("quarantined"))
          .when(col("rn") > 1, lit("dup"))
          .when(col("w") > 0 && least(col("w"), col("h")) < 8,
            lit("small"))
          .otherwise(lit("kept")))
    val packW = org.apache.spark.sql.expressions.Window
      .partitionBy("format").orderBy("doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = staged
      .withColumn("cum",
        when(col("stage") === "kept", sum(
          when(col("stage") === "kept", col("payload")).otherwise(0L))
          .over(packW)))
      .withColumn("shard",
        when(col("stage") === "kept",
          expr(s"(cum - payload) div $budget")))
    packed.groupBy("format")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("stage") === "quarantined", 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when(col("stage") === "dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("stage") === "small", 1L).otherwise(0L))
          .as("n_small"),
        sum(when(col("stage") === "kept", 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("stage") === "kept", col("payload")).otherwise(0L))
          .as("bytes_kept"),
        coalesce(max(col("shard")) + 1L, lit(0L)).as("n_shards"))
      .orderBy("format")
  }

  /** L5t: REAL format transcode — BMP in, PNG out, both ends parsed.
    * The reference's re-encode step (preprocess_dataset.py:59-70
    * converts .mov to .mp4) as a genuine FORMAT CONVERSION between
    * two real codecs: decode 24-bit BMP bytes with the pluggable BMP
    * decoder, re-encode the raster as compressed PNG, decode THAT
    * with the PNG decoder, and prove losslessness by comparing the
    * final raster to the original pattern byte-for-byte (the
    * `lossless_ok` checked column — stride-padding, BGR-vs-RGB,
    * bottom-up-vs-top-down, filter, or DEFLATE bugs all flip it).
    * `png_smaller` asserts the compressed container genuinely beat
    * the uncompressed one; both flags are exhaustively spec-verified
    * over all 256 distinct raster classes. Emitted sums come from
    * the FINAL decode. Raster pattern shared with [[mmDecodeImage]]
    * (the shared-literal rule — one pattern, one oracle CTE family).
    *
    * Scale: one map-only pass, two per-partition decoder inits. */
  def mmTranscodePng(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, stillRaster, Codecs.pngEncode(_, _, _), pngDecoder,
      smallerThanBmp)
      .withColumnRenamed("flag", "png_smaller").orderBy("doc_id")

  /** The lossless transcodes' source: the [[mmDecodeImage]] still. */
  private def stillRaster(id: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = stillDims(id)
    (w, h, raster(ClipRgb, id, 0, w, h))
  }

  /** L5t2: [[mmTranscodePng]]'s INTERLACED twin — BMP in, Adam7
    * progressive PNG out ([[Codecs.pngEncodeAdam7]]: seven pass
    * sub-images, per-pass filtering, one zlib stream), decoded back
    * through the deinterlace path and byte-compared (`lossless_ok` —
    * pass split, per-pass filter, or scatter bugs all flip it).
    * `png_smaller` proves even the interlaced layout beats the
    * uncompressed container on every class. A separate catalog key
    * for the same reason as [[mmTranscodeJpeg420]]. */
  def mmTranscodePngAdam7(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, stillRaster, Codecs.pngEncodeAdam7(_, _, _),
      pngDecoder, smallerThanBmp)
      .withColumnRenamed("flag", "png_smaller").orderBy("doc_id")

  /** L5t3: the PALETTE transcode — BMP in, GIF87a out, both ends
    * parsed. GIF is palette-indexed, so this conversion is color
    * QUANTIZATION; the corpus rasters are drawn from the palette's
    * exact image (the invertible-class convention applied to
    * palettization: every pixel IS a palette color, quantization is
    * exact, and `lossless_ok` — byte-compare of BOTH the recovered
    * index plane and the resolved RGB — is a theorem). Index recovery
    * inverts [[Codecs.gifPalette]] through its red channel (37 is odd,
    * hence a unit mod 256: r determines the index) and fail-fasts on
    * any pixel outside the palette. Odd docs emit INTERLACED GIFs
    * ([[Codecs.gifEncode]]'s four-pass row order) — the decoder
    * undoes the layout, so every stat is layout-independent and the
    * oracle is one closed form. `compressed` asserts the LZW stream
    * beat raw index storage (the mm_decode_gif stored-equivalent
    * bound; spec-verified over the pattern's full period in both
    * layouts). Index pattern shared with
    * [[mmDecodeGif]] (the shared-literal rule).
    *
    * Scale: one map-only pass, two per-partition decoder inits. */
  def mmTranscodeGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bmpBound = imageDecoder.resolve(s)
    val gifBound = gifDecoder.resolve(s)
    docIds(s, dir)
      .mapPartitions { it =>
        val bd = bmpBound.load()
        val gd = gifBound.load()
        // the palette's red channel is a bijection (37 odd): r -> index
        val idxOfR = {
          val m = new Array[Byte](256)
          var i = 0
          while (i < 256) {
            m(Codecs.gifPalette(i)._1) = i.toByte
            i += 1
          }
          m
        }
        it.map { id =>
          val (w, h) = gifDims(id)
          val idx = raster(GifIndex, id, 0, w, h)
          val px = new Array[Byte](w * h * 3)
          var i = 0
          while (i < idx.length) {
            val (r, g, b) = Codecs.gifPalette(idx(i) & 0xff)
            px(3 * i) = r.toByte; px(3 * i + 1) = g.toByte
            px(3 * i + 2) = b.toByte
            i += 1
          }
          val bmp = Codecs.bmpEncode(w, h, px)
          val im1 = bd.decode(bmp)
          // palettize: exact inverse on this corpus, fail-fast contract
          val rec = new Array[Byte](w * h)
          i = 0
          while (i < rec.length) {
            val r = im1.rgb(3 * i) & 0xff
            val ix = idxOfR(r) & 0xff
            val (pr, pg, pb) = Codecs.gifPalette(ix)
            require(pr == r && pg == (im1.rgb(3 * i + 1) & 0xff) &&
              pb == (im1.rgb(3 * i + 2) & 0xff),
              s"pixel $i outside the palette")
            rec(i) = ix.toByte
            i += 1
          }
          val gif = Codecs.gifEncode(w, h, rec, interlaced = id % 2 == 1)
          val im2 = gd.decode(gif)
          // the mm_decode_gif stored-equivalent bound: the LZW stream
          // must beat raw index storage (the 768-byte global palette
          // makes a BMP size comparison meaningless at these rasters)
          (id, bmp.length.toLong, im2.width, im2.height, byteSum(im2.rgb),
            java.util.Arrays.equals(im2.indices, idx) &&
              java.util.Arrays.equals(im2.rgb, px),
            gif.length < gifStoredBound(w, h))
        }
      }.toDF("doc_id", "bmp_bytes", "width", "height", "sum_rgb",
        "lossless_ok", "compressed")
      .orderBy("doc_id")
  }

  /** L5y: TIFF decode — the FOURTH container architecture (an
    * offset-linked IFD tag directory; RIFF/PNG walk chunks, MP4
    * walks a box tree, BMP/WAV read fixed headers) with PackBits RLE
    * (TIFF 6.0 §9) as a new entropy coder. Corpus: gray-blocky
    * rasters (the jpegBlockGray value family — runs of 24 bytes, so
    * PackBits genuinely compresses), cycling all three strip
    * compressions mod 3 (stored / PackBits / LZW). TIFF is LOSSLESS,
    * so decoded sums are closed-form with no class restriction;
    * `size_ok` is the checked container-size column: stored docs
    * match the closed form EXACTLY, PackBits and LZW docs beat it
    * (theorem spec over the pattern period). ImageIO's TIFF plugin
    * is the conformance reference (both directions, all three
    * compressions, MultimodalSpec). */
  def mmDecodeTiff(s: SparkSession, dir: String): DataFrame =
    mmDecodeTiffOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; the IFD walk + strip reads are
    * one pure mapPartitions pass — batch == readStream proven in
    * StreamingSpec, same contract as the sniff/JPEG/M-JPEG/G.711
    * cores). */
  def mmDecodeTiffOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = tiffDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val (w, h) = stillDims(id)
        val mode = (id % 3).toInt // 0 stored, 1 PackBits, 2 LZW
        val px = grayToRgb(raster(BlockGray, id, 0, w, h))
        val tiff = mode match {
          case 0 => Codecs.tiffEncode(w, h, px, packbits = false)
          case 1 => Codecs.tiffEncode(w, h, px, packbits = true)
          case _ => Codecs.tiffEncodeLzw(w, h, px)
        }
        val im = dec.decode(tiff)
        val nStrips = (h + Codecs.TiffRowsPerStrip - 1) /
          Codecs.TiffRowsPerStrip
        val plainSize = 140 + 3 * w * h + 8 * nStrips
        (id, im.width, im.height,
          Seq("none", "packbits", "lzw")(mode), byteSum(im.rgb),
          if (mode == 0) tiff.length == plainSize
          else tiff.length < plainSize)
      }
    }.toDF("doc_id", "width", "height", "compression", "sum_rgb",
      "size_ok")
  }

  /** L5t5: the TIFF transcode — BMP in, PackBits TIFF out, both ends
    * parsed. TIFF is lossless, so the corpus is GENERAL content (the
    * mm_decode_image raster pattern — no invertible-class restriction
    * needed) and `lossless_ok` byte-compares the final decode against
    * the original raster; PackBits on non-run content may expand, so
    * there is deliberately no size flag here (the size theorems live
    * in mm_decode_tiff's run-heavy corpus). */
  def mmTranscodeTiff(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, stillRaster,
      Codecs.tiffEncode(_, _, _, packbits = true), tiffDecoder,
      smallerThanBmp).drop("flag").orderBy("doc_id")

  /** L5t6: the LZW TIFF transcode — BMP in, LZW TIFF out (TIFF 6.0
    * §13: MSB-first variable-width codes with the spec's early
    * change; [[Codecs.lzwCompress]]), both ends parsed. Lossless
    * like [[mmTranscodeTiff]], so the SAME closed-form oracle;
    * `lzw_tag` is the checked container column — a direct IFD walk
    * of the emitted bytes proves Compression(259) == 5 (a silent
    * fallback to stored/PackBits could not pass it). */
  def mmTranscodeTiffLzw(s: SparkSession, dir: String): DataFrame =
    bmpTranscode(s, dir, stillRaster, Codecs.tiffEncodeLzw(_, _, _),
      tiffDecoder, (_, tiff) => tiffCompressionTag(tiff) == 5)
      .select(col("doc_id"), col("bmp_bytes"), col("width"), col("height"),
        col("sum_rgb"), col("flag").as("lzw_tag"), col("lossless_ok"))
      .orderBy("doc_id")

  /** Direct little-endian IFD walk for Compression(259) — the
    * checked-column helper behind mm_transcode_tiff_lzw (reads only
    * our own encoder's II-order output; -1 when absent). */
  private def tiffCompressionTag(b: Array[Byte]): Long = {
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (u16(o) & 0xffffL) | ((u16(o + 2) & 0xffffL) << 16)
    val ifd = u32(4).toInt
    val n = u16(ifd)
    var i = 0
    while (i < n) {
      val e = ifd + 2 + i * 12
      if (u16(e) == 259) return u16(e + 8).toLong
      i += 1
    }
    -1L
  }

  /** L5i2: COMPRESSED audio decode — G.711 µ-law/A-law WAVE files
    * (format tags 7/6, the telephony companding real ingest corpora
    * carry) through the real RIFF walk and the exact integer
    * expansion tables ([[Codecs.mulawDecode]]/[[Codecs.alawDecode]],
    * proven bit-identical to the javax.sound reference on all 256
    * codewords of both laws). G.711 is per-sample logarithmic
    * quantization — no inter-sample state — so the oracle replays
    * the expansion closed-form per sample; psychoacoustic codecs
    * (AAC/MP3) remain the documented out-of-scope boundary.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmDecodeG711(s: SparkSession, dir: String): DataFrame =
    mmDecodeG711On(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmDecodeG711On(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = audioDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val mu = id % 2 == 0
        val wav = Codecs.wavEncodeG711(8000,
          G711Codes.bytes(id, (160 + id % 64).toInt), mu)
        val au = dec.decode(wav)
        val (sumAbs, maxAbs) = absStats(au.samples)
        (id, wav.length.toLong, if (mu) "mulaw" else "alaw",
          au.sampleRate, au.samples.length.toLong, sumAbs, maxAbs)
      }
    }.toDF("doc_id", "n_bytes", "law", "sample_rate", "n_samples",
      "sum_abs", "max_abs")
  }

  /** L5t4: the COMPANDING transcode — PCM16 WAVE in, G.711 WAVE out,
    * both ends parsed. The PCM corpus is drawn from the law's
    * codeword image (samples = expand(code)), so compression is
    * exactly invertible at the SAMPLE level — including µ-law's
    * dual zero, which folds 0x7F -> 0xFF on the wire but expands to
    * the same sample — and `lossless_ok` (byte-compare of the final
    * decoded samples against the source) is a theorem over all 256
    * codewords of both laws. `half_size` is the closed-form 2:1
    * ratio: g711_bytes = 44 + n + (n % 2) (RIFF pads odd data chunks
    * to even length) vs pcm_bytes = 44 + 2n.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmTranscodeG711(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = audioDecoder.resolve(s)
    docIds(s, dir)
      .mapPartitions { it =>
        val dec = bound.load()
        it.map { id =>
          val mu = id % 2 == 0
          val samples = G711Codes.bytes(id, (160 + id % 64).toInt).map(c =>
            if (mu) Codecs.mulawDecode(c) else Codecs.alawDecode(c))
          val pcm = Codecs.wavEncode(8000, samples)
          val au1 = dec.decode(pcm)
          val codes = au1.samples.map(v =>
            if (mu) Codecs.mulawEncode(v) else Codecs.alawEncode(v))
          val g711 = Codecs.wavEncodeG711(8000, codes, mu)
          val au2 = dec.decode(g711)
          (id, pcm.length.toLong, g711.length.toLong,
            if (mu) "mulaw" else "alaw", au2.samples.length.toLong,
            absStats(au2.samples)._1,
            java.util.Arrays.equals(au2.samples, samples),
            g711.length < pcm.length)
        }
      }.toDF("doc_id", "pcm_bytes", "g711_bytes", "law", "n_samples",
        "sum_abs", "lossless_ok", "half_size")
      .orderBy("doc_id")
  }

  /** L5i: REAL audio decode — the WAV sibling of [[mmDecodeImage]].
    * Per document a deterministic PCM16 mono waveform is encoded into
    * genuine RIFF/WAVE bytes ([[Codecs.wavEncode]]) and decoded by
    * the conf-pluggable [[Codecs.AudioDecoder]] (default: the
    * pure-JVM chunk-walking [[Codecs.WavDecoder]]); the emitted
    * sample statistics come from the DECODED samples, so endianness /
    * chunk-offset / sign bugs hash-mismatch against the oracle's
    * arithmetic replay. Encode and decode are one map-only pass with
    * per-partition decoder init. */
  def mmDecodeAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = audioDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bytes =
          Codecs.wavEncode(8000, WavPcm.pcm(id, (160 + id % 64).toInt))
        val au = dec.decode(bytes)
        val (sumAbs, maxAbs) = absStats(au.samples)
        (id, bytes.length.toLong, au.sampleRate,
          au.samples.length.toLong, sumAbs, maxAbs)
      }
    }.toDF("doc_id", "n_bytes", "sample_rate", "n_samples",
      "sum_abs", "max_abs")
      .orderBy("doc_id")
  }

  /** The deterministic multi-frame AVI clip of document `id`, shared
    * by [[mmDecodeVideo]], [[mmArgmaxTrack]] and [[mmCropClip]] (one
    * pattern, one oracle CTE chain — the shared-literal rule). Each
    * operator encodes it inside its own decoding pass. */
  private def aviClip(id: Long): Array[Byte] = {
    val (w, h, nf) = aviClipDims(id)
    Codecs.aviEncode(w, h, 10, clip(ClipRgb, id, nf, w, h))
  }

  /** The AVI clips' dims and frame count: w in [8, 15], h in [6, 10],
    * 3-6 frames. */
  private def aviClipDims(id: Long): (Int, Int, Int) =
    ((8 + id % 8).toInt, (6 + id % 5).toInt, (3 + id % 4).toInt)

  /** L5k: REAL video container decode — the modality the reference
    * actually exists to process (raw_to_samples.py:173-196 is a
    * cv2.VideoCapture per-frame iteration; fps/frame-count probing at
    * :302-307). Per document a deterministic multi-frame clip is
    * encoded into a genuine uncompressed RIFF/AVI
    * ([[Codecs.aviEncode]]: LIST hdrl with avih/strh/strf headers +
    * LIST movi of '00db' DIB frames) and decoded by the
    * conf-pluggable [[Codecs.VideoDecoder]] (default: the pure-JVM
    * chunk-walking [[Codecs.AviDecoder]]) inside mapPartitions with
    * per-partition decoder init. Every emitted stat comes from the
    * PARSED container: n_frames is the count of decoded movi chunks,
    * fps is strh dwRate/dwScale, sum_rgb sums the decoded rasters,
    * and n_cuts counts inter-frame mean-luma jumps >= 20000 milli —
    * the scene-cut rule of [[mmSceneCuts]] run over real bytes. A
    * header, stride, row-order, chunk-offset, or timing bug
    * hash-mismatches the oracle's arithmetic replay (which also
    * recomputes the closed-form container size [[Codecs.aviSize]]).
    * The MP4 twin is [[mmMp4DecodeFrames]]; compressed codec
    * payloads (H.264 etc.) stay the documented surrogate boundary.
    *
    * Dimensions stay small (w<=15, h<=10, nf<=6) so the oracle's
    * explicit frame-pixel relation stays bounded.
    *
    * Scale: encode+decode are map-only over the documents scan — no
    * shuffle before the final orderBy; at 100 TB clips ride their
    * source partitioning and decoders amortize per partition. */
  def mmDecodeVideo(s: SparkSession, dir: String): DataFrame =
    mmDecodeVideoOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; encode + decode are one pure
    * mapPartitions pass): works identically on a batch id relation
    * and a readStream of ids — the codec boundary composes with
    * Structured Streaming unchanged. */
  def mmDecodeVideoOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = videoDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bytes = aviClip(id)
        videoRow(id, bytes, dec.decode(bytes))
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "n_frames", "fps",
      "sum_rgb", "n_cuts")
  }

  /** A decoded clip's stats row: (doc_id, n_bytes, width, height,
    * n_frames, fps, sum_rgb, n_cuts), n_cuts counting inter-frame
    * mean-value jumps >= 20000 milli. */
  private def videoRow(id: Long, bytes: Array[Byte], v: Codecs.DecodedVideo)
      : (Long, Long, Int, Int, Long, Int, Long, Long) = {
    val denom = v.width.toLong * v.height * 3
    var sumRgb = 0L
    var nCuts = 0L
    var prevM = -1L
    v.frames.foreach { f =>
      val fs = byteSum(f)
      sumRgb += fs
      val m = fs * 1000 / denom
      if (prevM >= 0 && math.abs(m - prevM) >= 20000) nCuts += 1
      prevM = m
    }
    (id, bytes.length.toLong, v.width, v.height, v.frames.length.toLong,
      v.fps, sumRgb, nCuts)
  }

  /** L5m: per-frame argmax "detector" + track statistics over REAL
    * decoded frames — the shape of the reference's inner loop
    * (raw_to_samples.py:183-196: run a detector on every decoded
    * frame, then string per-frame outputs into per-subject
    * time-series at :200-230), with the neural detector replaced by
    * a deterministic pixel argmax the oracle can replay: per decoded
    * frame, the brightest pixel (max R+G+B, first-in-row-major
    * tie-break) is the "detection", and the consecutive-frame L1
    * displacement is the track step. The DETECTOR INPUT is genuinely
    * parsed container bytes — the neural weights remain the
    * documented surrogate boundary (no ML libs in the container);
    * what this op proves is the full decode -> per-frame analysis ->
    * temporal pairing pipeline shape on real bytes.
    *
    * Scale: decode + argmax + step are ONE map-only pass (frames of
    * a clip are colocated by construction, so the temporal pairing
    * needs no shuffle — the window spelling is only needed when
    * frames arrive as independent rows). */
  def mmArgmaxTrack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = videoDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.flatMap { id =>
        val v = dec.decode(aviClip(id))
        var prevX = 0
        var prevY = 0
        v.frames.iterator.zipWithIndex.map { case (fr, f) =>
          val (best, bi) = brightest(fr, v.width * v.height)
          val x = bi % v.width
          val y = bi / v.width
          val step = if (f == 0) 0L
            else (math.abs(x - prevX) + math.abs(y - prevY)).toLong
          prevX = x; prevY = y
          (id, f.toLong, x.toLong, y.toLong, best.toLong, step)
        }
      }
    }.toDF("doc_id", "f", "x_max", "y_max", "v_max", "step_l1")
      .orderBy("doc_id", "f")
  }

  /** The argmax "detector": (max R+G+B, its pixel index) over the
    * first `n` pixels of a frame, first in row-major order on ties. */
  private def brightest(fr: Array[Byte], n: Int): (Int, Int) = {
    var best = -1
    var bi = 0
    var i = 0
    while (i < n) {
      val lum = (fr(3 * i) & 0xff) + (fr(3 * i + 1) & 0xff) +
        (fr(3 * i + 2) & 0xff)
      if (lum > best) { best = lum; bi = i }
      i += 1
    }
    (best, bi)
  }

  /** The `cw` x `ch` window at (x1, y1) of a `width`-wide frame — the
    * reference's frame[y1:y2, x1:x2] slice. */
  private def crop(fr: Array[Byte], width: Int, x1: Int, y1: Int, cw: Int,
      ch: Int): Array[Byte] = {
    val out = new Array[Byte](cw * ch * 3)
    var y = 0
    while (y < ch) {
      System.arraycopy(fr, ((y + y1) * width + x1) * 3, out, y * cw * 3,
        cw * 3)
      y += 1
    }
    out
  }

  /** L5n: REAL container transcode — the reference's .mov -> .mp4
    * re-encode step (preprocess_dataset.py:59-70, moviepy
    * write_videofile) as a genuine decode -> re-encode -> decode
    * chain with no surrogate anywhere: deterministic raster ->
    * real BMP bytes -> REAL BMP parse -> re-encode the PARSED raster
    * as a single-frame RIFF/AVI -> REAL AVI parse -> emit stats of
    * the twice-decoded raster plus both container sizes. A bug in
    * either encoder or either parser (stride, row order, channel
    * order, chunk offsets) breaks the identity and hash-mismatches
    * the oracle's closed-form replay. The tag-rewriting
    * [[udfTranscode]] surrogate remains the catalog row for formats
    * the JVM cannot parse; this is the real-bytes twin.
    *
    * Scale: the whole chain is ONE map-only pass over the documents
    * scan with per-partition decoder init — no shuffle before the
    * final orderBy. */
  def mmTranscodeReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val imgBound = imageDecoder.resolve(s)
    val vidBound = videoDecoder.resolve(s)
    docIds(s, dir)
      .mapPartitions { it =>
        val bd = imgBound.load()
        val vd = vidBound.load()
        it.map { id =>
          val (w, h, px) = stillRaster(id)
          val src = Codecs.bmpEncode(w, h, px)
          val im = bd.decode(src)
          val dst = Codecs.aviEncode(im.width, im.height, 10, Seq(im.rgb))
          val vv = vd.decode(dst)
          val (sr, sg, sb) = channelSums(vv.frames(0))
          (id, src.length.toLong, dst.length.toLong,
            vv.width, vv.height, sr, sg, sb)
        }
      }.toDF("doc_id", "src_bytes", "dst_bytes", "width", "height",
        "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id")
  }

  /** L5o: ONE multimodal container -> BOTH typed modalities in one
    * parse — the "multimodal column" north star made literal: each
    * document carries a genuine interleaved two-stream RIFF/AVI
    * (vids + auds stream headers; movi alternates '00db' DIB frames
    * with '01wb' PCM16 chunks, the layout real muxers emit), and the
    * conf-pluggable [[Codecs.AvDecoder]] walks the chunk tree ONCE,
    * routing frame chunks to the raster path and audio chunks to the
    * PCM path. Every emitted stat — frame count, sample count, rates
    * from the two stream headers, RGB mass of the decoded rasters,
    * absolute mass of the decoded samples — comes from that single
    * parse; the oracle replays both pattern arithmetics plus the
    * closed-form container size ([[Codecs.aviAvSize]]), so a bug in
    * either stream's routing, layout, or endianness hash-mismatches.
    * The reference's videos are exactly such multiplexed containers
    * (cv2 reads the video stream of the same files).
    *
    * Scale: encode+decode are map-only over the documents scan; a
    * binary multimodal column rides its source partitioning and both
    * modalities decode in the same partition-local pass — no second
    * scan, no shuffle before the final orderBy. */
  def mmDecodeAv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = avDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bytes = avClip(id, g711 = false)
        avRow(id, bytes, dec.decode(bytes))
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "n_frames", "fps",
      "sample_rate", "n_samples", "sum_rgb", "sum_abs")
      .orderBy("doc_id")
  }

  /** A decoded two-modality container's stats row: (doc_id, n_bytes,
    * width, height, n_frames, fps, sample_rate, n_samples, sum_rgb,
    * sum_abs). */
  private def avRow(id: Long, bytes: Array[Byte], av: Codecs.DecodedAv)
      : (Long, Long, Int, Int, Long, Int, Int, Long, Long, Long) =
    (id, bytes.length.toLong, av.video.width, av.video.height,
      av.video.frames.length.toLong, av.video.fps,
      av.audio.sampleRate, av.audio.samples.length.toLong,
      av.video.frames.map(byteSum).sum, absStats(av.audio.samples)._1)

  /** The two-stream AVI clip per doc: [[AvRgb]] frames plus the
    * [[AvAudio]] track, as PCM16 or, with `g711`, as G.711 codewords
    * (µ-law for even docs, A-law for odd). */
  private def avClip(id: Long, g711: Boolean): Array[Byte] = {
    val w = (8 + id % 6).toInt
    val h = (5 + id % 4).toInt
    val nf = (2 + id % 3).toInt
    val spf = (20 + (id % 10) * 2).toInt
    val frames = clip(AvRgb, id, nf, w, h)
    if (g711) Codecs.aviEncodeAvG711(w, h, 10, frames, spf,
      AvAudio.bytes(id, nf * spf), mulaw = id % 2 == 0)
    else Codecs.aviEncodeAv(w, h, 10, frames, spf, AvAudio.pcm(id, nf * spf))
  }

  /** L5p: cross-modal per-frame ALIGNMENT audit over the two-stream
    * container — the AV-sync / modality-agreement relation a
    * multimodal curation pipeline audits before training (silent
    * bright scenes and loud black frames are the classic mux-shift
    * symptoms): one [[Codecs.AviAvDecoder]] parse per document, the
    * audio track sliced into per-frame spans (span length derived
    * from the PARSED stream lengths, not assumed), and per frame the
    * decoded luma mean beside the decoded audio magnitude mean with
    * both binarized agreement flags. All arithmetic is integer
    * division on decoded bytes, so the oracle replays it exactly.
    *
    * Scale: one map-only pass (both modalities live in the same
    * binary column), frames of a clip colocated by construction. */
  def mmAvSyncAudit(s: SparkSession, dir: String): DataFrame =
    avSyncAudit(s, dir, g711 = false, loudAt = 1024L)
      .drop("n_bytes", "law").orderBy("doc_id", "f")

  /** The per-frame audit both AV-sync legs share: one AV-binding
    * parse of each doc's [[avClip]], the audio track sliced into
    * per-frame spans (span length from the PARSED stream lengths),
    * and per frame the decoded RGB mean (milli) beside the decoded
    * |sample| mean, `bright` at 382500 milli, `loud` at `loudAt`. */
  private def avSyncAudit(s: SparkSession, dir: String, g711: Boolean,
      loudAt: Long): DataFrame = {
    import s.implicits._
    val bound = avDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.flatMap { id =>
        val bytes = avClip(id, g711)
        val law = if (!g711) "pcm" else if (id % 2 == 0) "mulaw" else "alaw"
        val av = dec.decode(bytes)
        val nf = av.video.frames.length
        val spf = av.audio.samples.length / nf
        val denom = av.video.width.toLong * av.video.height * 3
        (0 until nf).map { f =>
          var sAbs = 0L
          var j = f * spf
          while (j < (f + 1) * spf) {
            sAbs += math.abs(av.audio.samples(j).toLong); j += 1
          }
          val rgbMeanMilli = byteSum(av.video.frames(f)) * 1000 / denom
          val absMean = sAbs / spf
          val bright = rgbMeanMilli >= 382500L
          val loud = absMean >= loudAt
          (id, f.toLong, bytes.length.toLong, law, rgbMeanMilli, absMean,
            bright, loud, bright != loud)
        }
      }
    }.toDF("doc_id", "f", "n_bytes", "law", "rgb_mean_milli", "abs_mean",
      "bright", "loud", "mismatch")
  }

  /** L5p2: the COMPANDED-audio leg of the AV-sync family — the same
    * per-frame alignment audit as [[mmAvSyncAudit]], but the clips'
    * audio track is G.711 (µ-law for even docs, A-law for odd) muxed
    * as 8-bit '01wb' chunks ([[Codecs.aviEncodeAvG711]]), so
    * COMPRESSED audio flows through the same one-parse AV container
    * walk that the PCM leg proves — not just through its own
    * decode/transcode keys. The audio corpus is the law's codeword
    * image (the invertible-class convention for companding:
    * samples == expand(code) exactly), so every emitted stat is the
    * closed-form expansion arithmetic and `n_bytes` pins the whole
    * 1-byte-per-sample container layout.
    *
    * Scale: one map-only pass; both modalities decode in the same
    * partition-local parse. */
  def mmAvSyncG711(s: SparkSession, dir: String): DataFrame =
    avSyncAudit(s, dir, g711 = true, loudAt = 4096L).orderBy("doc_id", "f")

  /** L5q: crop + re-encode SAMPLE EMISSION over real bytes — the
    * reference's actual output operation (raw_to_samples.py:241-258:
    * per-subject bbox crop of every frame, then a new sub-video
    * written per subject — the files the whole pipeline exists to
    * produce), run as a genuine decode -> crop -> re-encode ->
    * decode chain: the clip's real AVI bytes are parsed, every frame
    * raster is sliced to a deterministic bbox (the `frame[y1:y2,
    * x1:x2]` slice at :253), the cropped frames re-encode into a NEW
    * smaller AVI whose bytes are parsed again, and the emitted stats
    * come from that second parse. Both container sizes are
    * closed-form in the oracle, and the cropped-pixel sum replays the
    * pattern over the crop window — a bug in the slice arithmetic,
    * either encoder, or either parser hash-mismatches.
    *
    * Scale: one map-only pass; crops of a clip never leave their
    * partition (the reference's per-video inner loop shape). */
  def mmCropClip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = videoDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val bytes = aviClip(id)
        val v = dec.decode(bytes)
        val x1 = (id % 2).toInt
        val y1 = ((id / 2) % 2).toInt
        val cw = v.width - x1 - 1
        val ch = v.height - y1 - 1
        val sub = Codecs.aviEncode(cw, ch, v.fps,
          v.frames.map(crop(_, v.width, x1, y1, cw, ch)).toSeq)
        val v2 = dec.decode(sub)
        (id, bytes.length.toLong, sub.length.toLong,
          v2.width, v2.height, v2.frames.length.toLong,
          v2.frames.map(byteSum).sum)
      }
    }.toDF("doc_id", "src_bytes", "crop_bytes", "crop_w", "crop_h",
      "n_frames", "sum_rgb_crop")
      .orderBy("doc_id")
  }

  /** L5r: the reference's ENTIRE step 3 on real container bytes —
    * one op chaining every stage of raw_to_samples.py's inner loop
    * against genuinely parsed AVI frames, end to end:
    *
    *   decode (:173-196, real chunk-walk parse) ->
    *   2-second segmentation with the +1 overlap frame and trailing
    *   drop (:330-341, fps from the PARSED stream header) ->
    *   per-frame detection (:183-191 — the replayable argmax
    *   "detector" of [[mmArgmaxTrack]]; neural weights remain the
    *   documented surrogate boundary) ->
    *   per-segment track bbox with pad + clamp (:63-72 pads the
    *   subject's max box and clamps to the frame; pad scaled to 1 for
    *   these small rasters) ->
    *   crop every segment frame to the bbox (:253's
    *   frame[y1:y2, x1:x2]) ->
    *   re-encode the cropped segment as its own sub-video (:241-258,
    *   the sample files the reference exists to emit) ->
    *   decode THAT and report its stats.
    *
    * Output: one row per emitted sample (doc, segment) with the
    * track bbox, the sub-video's closed-form size, and the cropped
    * pixel mass from the second parse. The relational spelling over
    * surrogate metadata is [[pipeline.Reference]]'s ref_ep3_full;
    * this is the decode-path twin with no surrogate anywhere but the
    * detector weights.
    *
    * Scale: the whole chain is ONE map-only pass per clip — exactly
    * the reference's per-video loop, embarrassingly parallel over a
    * 100 TB corpus of clips. */
  def refEp3Real(s: SparkSession, dir: String): DataFrame =
    ep3Chain(docIds(s, dir), segClip, videoDecoder.resolve(s),
      Codecs.aviEncode(_, _, _, _))

  /** L5v: [[refEp3Real]] on the reference's ACTUAL container — the
    * same step-3 chain (decode -> fps*2 segmentation -> per-frame
    * argmax detection -> pad-1 clamped track bbox -> crop ->
    * re-encode each sample -> parse THAT) with every container a
    * genuine MP4: source clips are [[Codecs.mp4EncodeVideo]] box
    * trees (stsd 'raw ' RGB24, fps 2 from timescale 600 / delta 300,
    * both muxer box orders by parity), frames decode through the
    * real box-walk + stsz/stsc/stco seek path, and each emitted
    * sample re-encodes as ITS OWN MP4 — exactly the files
    * raw_to_samples.py writes (mp4 in, sample mp4s out). The frame
    * pattern is [[segClip]]'s verbatim (the shared-literal rule), so
    * container independence is a THEOREM the spec checks: this op's
    * rows equal ref_ep3_real's on every column except the container
    * size, whose closed form swaps aviSize for mp4SizeVideo. */
  def refEp3Mp4(s: SparkSession, dir: String): DataFrame =
    ep3Chain(docIds(s, dir), segClipMp4, mp4VideoDecoder.resolve(s),
      (w, h, fps, fr) => Codecs.mp4EncodeVideo(600, 600 / fps, w, h, fr))

  /** L5w: [[refEp3Real]] over a genuinely COMPRESSED video codec —
    * the reference's loop as it actually runs in practice: source
    * clips are M-JPEG AVIs (every frame an independent baseline JPEG
    * inside the RIFF walk), the decode step runs the from-scratch
    * Huffman + integer-IDCT path per frame, and each emitted sample
    * re-encodes as an uncompressed DIB AVI — a real compressed-in /
    * raw-out TRANSCODE, the cv2.VideoCapture -> VideoWriter shape of
    * raw_to_samples.py:173-196 + 241-258. Frames are drawn from the
    * JPEG codec's exactly invertible class ([[jpegBlockGray]] — the
    * ORACLES.md round-10 convention), so every downstream stat stays
    * hash-exact: the argmax detector sees block-constant luma (the
    * oracle's pixel-level MIN(y*w+x) replay is unchanged), crops
    * slice exact rasters at ANY alignment (the sub-video is DIB, so
    * no re-quantization touches the cropped pixels), and sub_bytes
    * is aviSize's closed form. */
  def refEp3Mjpeg(s: SparkSession, dir: String): DataFrame =
    ep3Chain(docIds(s, dir), segClipMjpeg, mjpegDecoder.resolve(s),
      Codecs.aviEncode(_, _, _, _), sub = Some(videoDecoder.resolve(s)))

  /** L6a: the END-TO-END reference capstone — ALL THREE entry points
    * chained as ONE lazy plan, the way the reference is actually
    * operated (README.md:6-32 chains them by hand through the
    * filesystem):
    *
    *   EP1 preprocess (preprocess_dataset.py:10-132): a mixed-format
    *   corpus — compressed M-JPEG AVIs (the '.mov' class that NEEDS
    *   converting, :60-69) and raw-DIB AVIs (the '.mp4' class that is
    *   copied, :71-73) — gets a folder-vocabulary action label
    *   (:14-19), already-converted files SKIP the transcode
    *   (:53-55, the docs already in the raw catalog), convert
    *   failures land in the exceptions channel (:62-67), and every
    *   convert is a REAL compressed-in/raw-out transcode through the
    *   from-scratch JPEG decode path;
    *
    *   EP2 id continuation (preprocessed_to_raw.py:26-52): the
    *   existing catalog's dense ids come first, the new batch
    *   continues from max+1 in path order, every file renamed to the
    *   '{:06}.mp4' rule (:40);
    *
    *   EP3 step 3 (raw_to_samples.py:310-396): the [[ep3Samples]]
    *   chain — segment / argmax-detect / pad-1 bbox / crop /
    *   re-encode each sample / parse THAT — over every cataloged
    *   container's post-EP1 bytes.
    *
    * Output: one row per emitted sample (status 'ok') carrying its
    * EP2 identity (file_index / file_name / dataset) and EP3 stats,
    * plus one row per EP1 exception (status 'error', catalog and
    * sample columns null) — the success/error catalog pair the
    * reference's operator reads at the end of a run.
    *
    * Frames are drawn from the JPEG codec's exactly invertible class
    * ([[jpegBlockGray]], the ORACLES.md convention) so every stat
    * stays hash-exact through the lossy codec; both format classes
    * share the pattern, so the oracle has ONE pixel CTE and the
    * transcode's pixel-identity is part of what the hash checks.
    *
    * Scale: decode -> transcode -> EP3 is ONE map-only pass per doc
    * (containers never leave their task; only per-sample stat tuples
    * flow on). EP2's dense enumeration is the reference's sequential
    * catalog append — the ONE deliberate global window (the
    * ref_id_continuation note), fed only slim catalog columns plus
    * each doc's <=3 small sample structs, never bytes. At 100 TB the
    * window input is one row per container (the catalog, ~10^8 rows
    * of ~100 bytes), which a single task holds; the alternative —
    * re-deriving the decode relation for a join — would run the
    * decode pass twice. */
  def refPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mjpegBound = mjpegDecoder.resolve(s)
    val aviBound = videoDecoder.resolve(s)
    val perDoc = docIds(s, dir)
      .mapPartitions { it =>
        val mjpegDec = mjpegBound.load()
        val aviDec = aviBound.load()
        it.map { id =>
          val existing = id % 11 == 3 // already converted in a prior run
          val corrupt = !existing && id % 13 == 5 // EP1 exception class
          val isMov = id % 5 < 2 // the extension that needs converting
          val bw = (2 + id % 2).toInt
          val bh = (1 + id % 2).toInt
          val nf = (6 + id % 6).toInt
          val w = bw * 8; val h = bh * 8
          val grays = (0 until nf).map(f => jpegBlockGray(id, f, bw, bh))
          val src =
            if (isMov) Jpeg.aviEncodeMjpeg(w, h, 2, mjpegFrames(w, h, grays))
            else Codecs.aviEncode(w, h, 2, grays.map(grayToRgb))
          val bytes =
            if (corrupt) java.util.Arrays.copyOf(src, src.length / 2)
            else src
          val fmt = if (isMov) "mjpeg_avi" else "dib_avi"
          val action = (id % 4) match {
            case 0 => "eat"; case 1 => "play"; case 2 => "sleep"
            case _ => "walk"
          }
          val path = s"videos/$id.avi"
          try {
            // EP1: decode with the extension-selected decoder; movs
            // transcode to raw DIB (convert_to_mp4), mp4s are copied
            val v = (if (isMov) mjpegDec else aviDec).decode(bytes)
            val raw =
              if (isMov) Codecs.aviEncode(v.width, v.height, v.fps,
                v.frames.toSeq)
              else bytes
            // EP3: parse the post-EP1 container (step 3 re-reads the
            // raw file EP1/EP2 wrote) and run the shared chain
            val samples = ep3Samples(aviDec.decode(raw),
              Codecs.aviEncode(_, _, _, _), aviDec).toSeq
            (id, "ok", fmt, action, path, existing,
              Option(raw.length.toLong), samples)
          } catch {
            case _: IllegalArgumentException =>
              (id, "error", fmt, action, path, existing,
                Option.empty[Long], Seq
                  .empty[(Long, Long, Long, Long, Long, Long, Long,
                    Long, Long)])
          }
        }
      }.toDF("doc_id", "status", "fmt", "action", "path", "existing",
        "raw_bytes", "samples")
    // EP2: dense catalog ids — existing rows first (their prior-run
    // enumeration), the new batch continuing from max+1 in path
    // order; exceptions never enter the catalog (the running count
    // skips them)
    val wCat = org.apache.spark.sql.expressions.Window
      .orderBy(col("existing").desc, col("path"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ok = col("status") === "ok"
    perDoc
      .withColumn("file_index",
        when(ok, sum(when(ok, 1L).otherwise(0L)).over(wCat) - 1))
      .withColumn("file_name",
        when(ok, concat(lpad(col("file_index").cast("string"), 6, "0"),
          lit(".avi"))))
      .withColumn("dataset",
        when(ok, when(col("existing"), "batch0").otherwise("batch1")))
      .select(col("doc_id"), col("dataset"), col("action"), col("fmt"),
        col("status"), col("file_index"), col("file_name"),
        col("raw_bytes"), explode_outer(col("samples")).as("smp"))
      .select(col("doc_id"), col("dataset"), col("action"), col("fmt"),
        col("status"), col("file_index"), col("file_name"),
        col("raw_bytes"),
        col("smp._1").as("seg"),
        when(ok, concat(lit("samples/"),
          lpad(col("file_index").cast("string"), 6, "0"), lit("/seg"),
          lpad(col("smp._1").cast("string"), 2, "0"), lit(".avi")))
          .as("sample_path"),
        col("smp._2").as("start_frame"), col("smp._3").as("end_frame"),
        col("smp._4").as("x1"), col("smp._5").as("y1"),
        col("smp._6").as("crop_w"), col("smp._7").as("crop_h"),
        col("smp._8").as("sub_bytes"), col("smp._9").as("sum_rgb_sub"))
      .orderBy(col("doc_id"), col("seg").asc_nulls_first)
  }

  /** The step-3 chain body shared by the AVI and MP4 spellings —
    * container-independent by construction: parameterized only by
    * the ids, the clip of an id (encoded in the decoding pass), the
    * resolved decoder binding (`sub`, when given, parses the emitted
    * samples), and the sample re-encoder (capture-free functions,
    * safe to ship to tasks). */
  private def ep3Chain(ids: Dataset[Long], clipOf: Long => Array[Byte],
      decoder: Bound[Codecs.VideoDecoder],
      reencode: (Int, Int, Int, Seq[Array[Byte]]) => Array[Byte],
      sub: Option[Bound[Codecs.VideoDecoder]] = None): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val subBound = sub.getOrElse(decoder)
    ids.mapPartitions { it =>
      val dec = decoder.load()
      val subDec = if (subBound == decoder) dec else subBound.load()
      it.flatMap { id =>
        ep3Samples(dec.decode(clipOf(id)), reencode, subDec).map {
          case (seg, start, end, x1, y1, cw, ch, subBytes, sum) =>
            (id, seg, start, end, x1, y1, cw, ch, subBytes, sum)
        }
      }
    }.toDF("doc_id", "seg", "start_frame", "end_frame", "x1", "y1",
      "crop_w", "crop_h", "sub_bytes", "sum_rgb_sub")
      .orderBy("doc_id", "seg")
  }

  /** The per-clip body of the step-3 chain — segmentation (:330-341)
    * -> per-frame argmax detection (:183-191) -> pad-1 clamped track
    * bbox (:63-72) -> per-frame crop (:253) -> sample re-encode
    * (:241-258) -> parse of the emitted sample — shared verbatim by
    * [[ep3Chain]] (the three ref_ep3_* spellings) and
    * [[refPipelineE2e]] (the EP1->EP2->EP3 capstone), so the capstone
    * cannot drift from the stage ops it composes. Emits one tuple per
    * kept segment: (seg, start, end, x1, y1, crop_w, crop_h,
    * sub_bytes, sum_rgb_sub). */
  private def ep3Samples(v: Codecs.DecodedVideo,
      reencode: (Int, Int, Int, Seq[Array[Byte]]) => Array[Byte],
      subDec: Codecs.VideoDecoder)
      : Iterator[(Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
    val fq = v.fps * SegmentLengthSec
    segmentSpans(v.frames.length, fq).map { case (start, end) =>
      // per-frame argmax detections over the segment's frames
      val track = (start until end).map { f =>
        val bi = brightest(v.frames(f), v.width * v.height)._2
        (bi % v.width, bi / v.width)
      }
      // pad-1 clamped track bbox (the :63-72 rule)
      val x1 = math.max(0, track.map(_._1).min - 1)
      val x2 = math.min(v.width - 1, track.map(_._1).max + 1)
      val y1 = math.max(0, track.map(_._2).min - 1)
      val y2 = math.min(v.height - 1, track.map(_._2).max + 1)
      val cw = x2 - x1 + 1
      val ch = y2 - y1 + 1
      val cropped = (start until end).map(f =>
        crop(v.frames(f), v.width, x1, y1, cw, ch))
      val sub = reencode(cw, ch, v.fps, cropped)
      val v2 = subDec.decode(sub)
      ((start / fq).toLong, start.toLong, end.toLong,
        x1.toLong, y1.toLong, cw.toLong, ch.toLong,
        sub.length.toLong, v2.frames.map(byteSum).sum)
    }
  }

  /** The reference's segment length (raw_to_samples.py:16). */
  val SegmentLengthSec = 2

  /** [[jpegBlockGray]] frames (the JPEG codec's invertible class)
    * muxed as an M-JPEG AVI at fps 2 — the source clip of
    * [[refEp3Mjpeg]]. Gray block rasters: R=G=B per pixel, so the
    * oracle's pixel value is 3x the block gray. */
  private def segClipMjpeg(id: Long): Array[Byte] = {
    val bw = (2 + id % 2).toInt
    val bh = (1 + id % 2).toInt
    val nf = (6 + id % 6).toInt
    val grays = (0 until nf).map(f => jpegBlockGray(id, f, bw, bh))
    Jpeg.aviEncodeMjpeg(bw * 8, bh * 8, 2, mjpegFrames(bw * 8, bh * 8, grays))
  }

  /** Gray planes as M-JPEG frames that alternate grayscale and 4:2:0
    * COLOR JPEG scans (M-JPEG frames are independent, so mixed
    * variants in one stream are legal); gray-valued rasters decode
    * identically through both paths, so every downstream stat — and
    * the oracle — is unchanged while the chain exercises chroma
    * upsampling inside the RIFF walk. */
  private def mjpegFrames(w: Int, h: Int, grays: Seq[Array[Byte]])
      : Seq[Array[Byte]] =
    grays.zipWithIndex.map { case (g, f) =>
      if (f % 2 == 0) Jpeg.encodeGray(w, h, g)
      else Jpeg.encodeColor420(w, h, grayToRgb(g))
    }

  /** The longer low-fps clip of document `id` (fps 2, so
    * frames_per_segment = 4 fits the 6-13 frame range) shared by
    * [[mmVideoSegments]] and [[refEp3Real]] — one pattern, one oracle
    * CTE chain. */
  private def segClip(id: Long): Array[Byte] = {
    val (w, h, frames) = segClipFrames(id)
    Codecs.aviEncode(w, h, 2, frames)
  }

  /** [[segClip]]'s VERBATIM frame pattern muxed into a genuine MP4
    * container (fps 2 = timescale 600 / sample delta 300; both muxer
    * box orders by doc parity) — the source clip of [[refEp3Mp4]].
    * One pattern, one oracle CTE chain. */
  private def segClipMp4(id: Long): Array[Byte] = {
    val (w, h, frames) = segClipFrames(id)
    Codecs.mp4EncodeVideo(600, 300, w, h, frames, moovLast = id % 2 == 0)
  }

  /** The low-fps clips' dims and [[ClipRgb]] frames: w in [8, 11],
    * h in [6, 8], 6-13 frames. */
  private def segClipFrames(id: Long): (Int, Int, Seq[Array[Byte]]) = {
    val w = (8 + id % 4).toInt
    val h = (6 + id % 3).toInt
    (w, h, clip(ClipRgb, id, (6 + id % 8).toInt, w, h))
  }

  /** The reference's segment spans over `nf` frames at `fq` frames per
    * segment: starts every `fq` frames (:330), one overlap frame from
    * the successor (:339), a trailing window shorter than `fq`
    * dropped (:340-341). */
  private def segmentSpans(nf: Int, fq: Int): Iterator[(Int, Int)] =
    Iterator.range(0, nf, fq)
      .map(start => (start, math.min(start + fq + 1, nf)))
      .filter { case (start, end) => end - start >= fq }

  /** L5l: the reference's CORE segmentation loop over REAL container
    * bytes — raw_to_samples.py:330-341 verbatim semantics:
    * frames_per_segment = int(fps * 2) with fps taken from the PARSED
    * stream header (the engine reads strh dwRate/dwScale where the
    * reference probes cv2 metadata, :302-307), segment starts every
    * frames_per_segment frames, each segment takes one OVERLAP frame
    * from its successor (end = min(start + fps*2 + 1, frame_count),
    * :339), and a trailing window shorter than frames_per_segment is
    * dropped (:340-341). Every emitted stat — frame spans, per-segment
    * RGB mass, mean byte value — is computed from frames genuinely
    * decoded out of the movi chunk list, so this is the reference's
    * ep3 inner loop running on real bytes end to end (its MP4
    * spelling is [[refEp3Mp4]]). The relational spelling of the same
    * rule over metadata is [[pipeline.Reference]]'s ref_segments;
    * this is the decode-path twin.
    *
    * Scale: encode+decode+segment are map-only over the documents
    * scan (per-partition decoder init, segments flatMapped in the
    * same pass) — no shuffle before the final orderBy. */
  def mmVideoSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = videoDecoder.resolve(s)
    docIds(s, dir).mapPartitions { it =>
      val dec = bound.load()
      it.flatMap { id =>
        val v = dec.decode(segClip(id))
        val fq = v.fps * SegmentLengthSec // frames_per_segment, :330
        val denom = v.width.toLong * v.height * 3
        segmentSpans(v.frames.length, fq).map { case (start, end) =>
          val sum = (start until end).map(f => byteSum(v.frames(f))).sum
          (id, (start / fq).toLong, start.toLong, end.toLong,
            (end - start).toLong, sum,
            sum * 1000 / ((end - start) * denom))
        }
      }
    }.toDF("doc_id", "seg", "start_frame", "end_frame",
      "n_frames_seg", "sum_rgb", "mean_rgb_milli")
      .orderBy("doc_id", "seg")
  }

  /** L5j: perceptual-hash dedup over REAL decoded bytes — the full
    * image-dedup pipeline with no surrogate left in the hot path:
    * deterministic rasters (pattern keyed by doc_id % 97, so ~5-doc
    * groups share a base image up to a small uniform brightness
    * offset) -> genuine BMP bytes -> REAL decode ([[Codecs.BmpDecoder]]
    * via the pluggable binding) -> 64-bit average-hash (8x8 block
    * means vs the global mean; a uniform brightness shift cancels in
    * the s*n > tot*c cross-multiply, so same-base images hash
    * IDENTICALLY — the aHash robustness property, here provable) ->
    * 4x16-bit LSH banding -> Hamming<=2 verify. Banding is lossless
    * by pigeonhole (2 differing bits touch at most 2 of 4 bands). The
    * hash is split into two 32-bit halves (h0, h1) so no engine ever
    * shifts into a BIGINT sign bit. Oracle: all-pairs arithmetic
    * replay of raster, block bits, and Hamming — a decoder or hash
    * bug is a hash mismatch.
    *
    * Scale: hashing is map-only over the scan (per-partition decoder
    * init); candidates are band-bucket equi-join mates, never
    * all-pairs; verify reads two 8-byte halves per candidate. */
  def mmPhashReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bound = imageDecoder.resolve(s)
    val hashes = docIds(s, dir)
      .mapPartitions { it =>
        val dec = bound.load()
        it.map { id =>
          val g = id % 97
          val o = ((id / 97) % 3).toInt
          val (w, h) = stillDims(g)
          val im = dec.decode(Codecs.bmpEncode(w, h,
            grayToRgb(raster(PhashGray, g, 0, w, h, bias = o))))
          val bs = new Array[Long](64)
          val bn = new Array[Long](64)
          var tot = 0L
          var yy = 0
          while (yy < im.height) {
            var xx = 0
            while (xx < im.width) {
              val gray = im.rgb((yy * im.width + xx) * 3) & 0xff
              val b = (yy * 8 / im.height) * 8 + (xx * 8 / im.width)
              bs(b) += gray; bn(b) += 1; tot += gray
              xx += 1
            }
            yy += 1
          }
          val n = im.width.toLong * im.height
          var h0 = 0L
          var h1 = 0L
          var b = 0
          while (b < 64) {
            if (bs(b) * n > tot * bn(b)) {
              if (b < 32) h0 |= 1L << b else h1 |= 1L << (b - 32)
            }
            b += 1
          }
          (id, h0, h1)
        }
      }.toDF("doc_id", "h0", "h1")
      .localCheckpoint(true) // band explode + both verify probes
    val bands = hashes.select(col("doc_id"), explode(array(
        (0 until 2).map(k => struct(lit(k).as("bi"),
          expr(s"(h0 >> ${k * 16}) & 65535").as("bv"))) ++
        (0 until 2).map(k => struct(lit(k + 2).as("bi"),
          expr(s"(h1 >> ${k * 16}) & 65535").as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    val cand = bands.as("l").join(bands.as("r"), Seq("bi", "bv"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
      .distinct()
    cand
      .join(hashes.select(col("doc_id").as("da"), col("h0").as("a0"),
        col("h1").as("a1")), "da")
      .join(hashes.select(col("doc_id").as("db"), col("h0").as("b0"),
        col("h1").as("b1")), "db")
      .select(col("da"), col("db"),
        (bit_count(expr("a0 ^ b0")) + bit_count(expr("a1 ^ b1")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy("da", "db")
  }

  /** L5q: REAL MP4 container probe — the step the reference runs
    * FIRST on every input: cv2.VideoCapture property reads
    * (raw_to_samples.py:302-307 CAP_PROP_FPS / CAP_PROP_FRAME_COUNT)
    * pull fps, frame count, duration and track dims out of the MP4's
    * moov box tree WITHOUT touching the codec payload. That tree is a
    * fully specified big-endian byte layout (ISO/IEC 14496-12), so
    * the probe runs on genuine bytes: per document a minimal but
    * real single-video-track MP4 is built ([[Codecs.mp4Encode]] —
    * ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/stbl/stts + an
    * opaque mdat payload standing in for coded samples), with the
    * two real muxer BOX ORDERS exercised by parity (even doc_ids get
    * the streaming layout, mdat before moov), and the conf-pluggable
    * [[Codecs.ContainerProbe]] (default [[Codecs.Mp4Probe]]) walks
    * the boxes back out inside mapPartitions. Every emitted field
    * comes from the PARSED tree — a size, offset, endianness or
    * fixed-point (16.16 dims) bug hash-mismatches the oracle's
    * closed-form replay (which recomputes [[Codecs.mp4Size]] and the
    * mdat payload byte sum). The CODEC payload stays the documented
    * surrogate boundary — this op moves the container METADATA rung
    * of the reference's actual format onto real bytes.
    *
    * Scale: encode + probe are one map-only pass over the documents
    * scan (per-partition probe init); no shuffle before the final
    * orderBy. */
  def mmMp4Probe(s: SparkSession, dir: String): DataFrame =
    mmMp4ProbeOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; encode + probe are one pure
    * mapPartitions pass) — works identically on a batch id relation
    * and a readStream of ids. */
  def mmMp4ProbeOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = mp4Probe.resolve(s)
    ids
      .mapPartitions { it =>
        val probe = bound.load()
        it.map { id =>
          val delta = (20 + (id % 4) * 10).toInt
          val nf = (24 + id % 48).toInt
          val w = (32 + (id % 8) * 16).toInt
          val h = (24 + (id % 6) * 16).toInt
          val payload = Mp4Payload.bytes(id, nf * (7 + id % 9).toInt, 251)
          val bytes = Codecs.mp4Encode(600, nf, delta, w, h, payload,
            moovLast = id % 2 == 0)
          val m = probe.probe(bytes)
          (id, bytes.length.toLong, m.brand, m.timescale, m.duration,
            m.duration * 1000L / m.timescale, m.nTracks, m.handler,
            m.width, m.height, m.nSamples,
            (m.timescale / m.sampleDelta).toInt, m.mdatBytes,
            m.payloadSum)
        }
      }.toDF("doc_id", "n_bytes", "brand", "timescale", "duration",
        "duration_ms", "n_tracks", "handler", "width", "height",
        "n_frames", "fps", "mdat_bytes", "payload_sum")
  }

  /** L5r: REAL MP4 sample extraction through the index boxes — the
    * SEEK path of every MP4 reader (and of the reference's
    * cv2.VideoCapture frame positioning): stsz gives per-sample byte
    * sizes, stsc maps samples to chunks, stco anchors the chunk at
    * its ABSOLUTE file offset, and the reader cumulates those into
    * (sample, offset, size) and reads the bytes straight out of mdat
    * — no decoder involved. Per document an indexed single-chunk MP4
    * is built ([[Codecs.mp4EncodeIndexed]], both muxer box orders by
    * parity — the stco offset genuinely differs between them, so an
    * indexer that assumed layout instead of reading stco would
    * hash-mismatch), and the conf-pluggable
    * [[Codecs.ContainerIndexer]] (default [[Codecs.Mp4Indexer]])
    * resolves the table; the emitted slice sum reads the REAL bytes
    * at the resolved offset. The oracle replays sizes, prefix-sum
    * offsets (box-order-aware) and the payload pattern sum.
    *
    * Scale: one map-only pass, per-partition indexer init; at 100 TB
    * this is the shape of clipping N frames out of a shard of videos
    * without decoding them. */
  def mmMp4Extract(s: SparkSession, dir: String): DataFrame =
    mmMp4ExtractOn(docIds(s, dir)).orderBy("doc_id", "k")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmMp4ExtractOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = mp4Indexer.resolve(s)
    ids
      .mapPartitions { it =>
        val idx = bound.load()
        it.flatMap { id =>
          val nf = (6 + id % 6).toInt
          val sizes = Array.tabulate(nf)(k => (10 + ((id + k * 7) % 20)).toInt)
          val payload = Mp4IndexedPayload.bytes(id, sizes.sum, 251)
          val bytes = Codecs.mp4EncodeIndexed(600, 50, 32, 24, sizes,
            payload, moovLast = id % 2 == 0)
          idx.index(bytes).iterator.map { sm =>
            var sum = 0L
            var i = sm.off.toInt
            while (i < sm.off + sm.size) { sum += bytes(i) & 0xff; i += 1 }
            (id, sm.k.toLong, sm.size.toLong, sm.off, sum)
          }
        }
      }.toDF("doc_id", "k", "sample_bytes", "sample_off", "slice_sum")
  }

  /** L5u: REAL MP4 VIDEO DECODE — frames parsed out of the
    * reference's actual container format. [[mmMp4Probe]] proved the
    * metadata rung and [[mmMp4Extract]] the seek rung; this op closes
    * the loop: [[Codecs.mp4EncodeVideo]] builds a genuine ISO-BMFF
    * tree whose `stsd` VisualSampleEntry declares the QuickTime
    * uncompressed 'raw ' RGB24 sample format (in-band, as real muxers
    * do — a reader needs no out-of-band knowledge), and the
    * conf-pluggable [[Codecs.VideoDecoder]] (default
    * [[Codecs.Mp4VideoDecoder]]) walks the boxes for format + timing,
    * resolves each sample's absolute extent through the real
    * stsz/stsc/stco index, and reads the rasters straight out of
    * mdat. Emitted stats all come from PARSED bytes: dims from stsd,
    * fps from mdhd timescale / stts delta (varied per doc), frame
    * count from the index, sum_rgb + the scene-cut census from the
    * decoded rasters. Both muxer box orders by doc parity (stco
    * differs between them — a layout-assuming reader hash-fails).
    * With this, the surrogate boundary covers only COMPRESSED codec
    * payloads (H.264 etc.): container, index, timing, and
    * uncompressed-frame decode of the reference's cv2.VideoCapture
    * loop (raw_to_samples.py:173-196) all run on real MP4 bytes.
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmMp4DecodeFrames(s: SparkSession, dir: String): DataFrame =
    mmMp4DecodeFramesOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmMp4DecodeFramesOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = mp4VideoDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val (w, h, nf) = mp4ClipDims(id)
        val delta = (20 + (id % 3) * 20).toInt // fps 30 / 15 / 10
        val bytes = Codecs.mp4EncodeVideo(600, delta, w, h,
          clip(Mp4Rgb, id, nf, w, h), moovLast = id % 2 == 0)
        videoRow(id, bytes, dec.decode(bytes))
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "n_frames", "fps",
      "sum_rgb", "n_cuts")
  }

  /** The MP4 clips' dims and frame count: w in [8, 13], h in [6, 9],
    * 3-6 frames. */
  private def mp4ClipDims(id: Long): (Int, Int, Int) =
    ((8 + id % 6).toInt, (6 + id % 4).toInt, (3 + id % 4).toInt)

  /** L5w: TWO-TRACK MP4 AV decode through the MULTI-CHUNK index —
    * the MP4 sibling of [[mmDecodeAv]], and the op that forces the
    * index machinery past the single-chunk case: real muxers
    * interleave AV files frame by frame, so each trak's stco carries
    * one chunk offset PER FRAME (video: 1 raster/chunk; audio:
    * samplesPerFrame PCM16 samples/chunk) and a reader must walk the
    * per-trak stsz/stsc/stco tables to find anything at all.
    * [[Codecs.mp4EncodeAv]] emits that genuine layout ('vide' trak
    * with stsd 'raw ', 'soun' trak with stsd 'sowt' little-endian
    * PCM16, mdat alternating raster/audio-block per frame, both
    * muxer box orders by parity) and the conf-pluggable
    * [[Codecs.AvDecoder]] (default [[Codecs.Mp4AvDecoder]]) parses
    * BOTH typed modalities out of one byte stream via per-trak
    * scoped walks + the shared multi-chunk sample cumulation. All
    * stats from parsed bytes; container size closed-form
    * ([[Codecs.mp4SizeAv]]).
    *
    * Scale: one map-only pass, per-partition decoder init. */
  def mmMp4DecodeAv(s: SparkSession, dir: String): DataFrame =
    mmMp4DecodeAvOn(docIds(s, dir)).orderBy("doc_id")

  /** Streaming-legal core (no sort; one pure mapPartitions pass). */
  def mmMp4DecodeAvOn(ids: Dataset[Long]): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val bound = mp4AvDecoder.resolve(s)
    ids.mapPartitions { it =>
      val dec = bound.load()
      it.map { id =>
        val w = (8 + id % 5).toInt
        val h = (5 + id % 3).toInt
        val nf = (2 + id % 3).toInt
        val spf = (16 + (id % 8) * 2).toInt
        val bytes = Codecs.mp4EncodeAv(600, 200, w, h,
          clip(Mp4AvRgb, id, nf, w, h), spf, Mp4AvPcm.pcm(id, nf * spf),
          moovLast = id % 2 == 0)
        avRow(id, bytes, dec.decode(bytes))
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "n_frames", "fps",
      "sample_rate", "n_samples", "sum_rgb", "sum_abs")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_mp4_probe" -> mmMp4Probe,
    "mm_mp4_extract" -> mmMp4Extract,
    "mm_mp4_decode_frames" -> mmMp4DecodeFrames,
    "mm_mp4_decode_av" -> mmMp4DecodeAv,
    "mm_decode_png" -> mmDecodePng,
    "mm_decode_gif" -> mmDecodeGif,
    "mm_decode_jpeg" -> mmDecodeJpeg,
    "mm_decode_jpeg_prog" -> mmDecodeJpegProg,
    "mm_decode_jpeg_prog_sa" -> mmDecodeJpegProgSa,
    "mm_decode_mjpeg" -> mmDecodeMjpeg,
    "mm_pipeline_full" -> mmPipelineFull,
    "ref_ep3_mjpeg" -> refEp3Mjpeg,
    "ref_pipeline_e2e" -> refPipelineE2e,
    "mm_transcode_jpeg" -> mmTranscodeJpeg,
    "mm_transcode_jpeg420" -> mmTranscodeJpeg420,
    "mm_sniff_decode" -> mmSniffDecode,
    "mm_decode_quarantine" -> mmDecodeQuarantine,
    "mm_transcode_png" -> mmTranscodePng,
    "mm_transcode_png_adam7" -> mmTranscodePngAdam7,
    "mm_transcode_gif" -> mmTranscodeGif,
    "mm_phash_real" -> mmPhashReal,
    "mm_decode_image" -> mmDecodeImage,
    "mm_decode_audio" -> mmDecodeAudio,
    "mm_decode_g711" -> mmDecodeG711,
    "mm_decode_tiff" -> mmDecodeTiff,
    "mm_transcode_tiff" -> mmTranscodeTiff,
    "mm_transcode_tiff_lzw" -> mmTranscodeTiffLzw,
    "mm_transcode_g711" -> mmTranscodeG711,
    "mm_decode_video" -> mmDecodeVideo,
    "mm_video_segments" -> mmVideoSegments,
    "mm_argmax_track" -> mmArgmaxTrack,
    "mm_transcode_real" -> mmTranscodeReal,
    "mm_decode_av" -> mmDecodeAv,
    "mm_av_sync_audit" -> mmAvSyncAudit,
    "mm_av_sync_g711" -> mmAvSyncG711,
    "mm_crop_clip" -> mmCropClip,
    "ref_ep3_real" -> refEp3Real,
    "ref_ep3_mp4" -> refEp3Mp4,
    "mm_interleave" -> mmInterleave,
    "mm_scene_cuts" -> mmSceneCuts,
    "mm_audio_vad" -> mmAudioVad,
    "mm_phash_dedup" -> mmPhashDedup,
    "mm_caption_align" -> mmCaptionAlign,
    "mm_pack_shards" -> mmPackShards,
    "udf_inference" -> udfInference,
    "udf_transcode" -> udfTranscode,
    "mm_metadata" -> mmMetadata,
    "mm_resolution_filter" -> mmResolutionFilter,
    "mm_frame_sample" -> mmFrameSample,
  )

  /** The low-fps clip relation (pv with x, y) + the reference's
    * segment spans (sg raw starts, sb surviving spans) replaying
    * [[segClip]] — shared by the mm_video_segments and ref_ep3_real
    * oracles. */
  private val segClipSql: String =
    """d AS (SELECT doc_id, 8 + doc_id % 4 AS w,
      |    6 + doc_id % 3 AS h, 6 + doc_id % 8 AS nf FROM documents),
      |px AS (SELECT doc_id, w, h, nf, fs.f, xs.x, ys.y
      |  FROM d, range(0, 14) fs(f), range(0, 12) xs(x),
      |    range(0, 9) ys(y)
      |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
      |pv AS (SELECT doc_id, w, h, nf, f, x, y,
      |    (doc_id * 7 + f * 41 + x * 13 + y * 31) % 256
      |    + (doc_id * 11 + f * 19 + x * 17 + y * 5) % 256
      |    + (doc_id * 3 + f * 53 + x * 29 + y * 23) % 256 AS v
      |  FROM px),
      |sg AS (SELECT doc_id, w, h, nf, ss.s AS start_frame
      |  FROM d, range(0, 14, 4) ss(s) WHERE ss.s < nf),
      |sb AS (SELECT doc_id, w, h, nf, start_frame,
      |    LEAST(start_frame + 5, nf) AS end_frame FROM sg
      |  WHERE LEAST(start_frame + 5, nf) - start_frame >= 4)""".stripMargin

  /** The deterministic clip relation `pv(doc_id, w, h, nf, f, x, y,
    * v)` replaying [[aviClip]]'s pattern — shared by the
    * mm_decode_video and mm_argmax_track oracles. */
  private val videoClipSql: String =
    """d AS (SELECT doc_id, 8 + doc_id % 8 AS w,
      |    6 + doc_id % 5 AS h, 3 + doc_id % 4 AS nf FROM documents),
      |px AS (SELECT doc_id, w, h, nf, fs.f, xs.x, ys.y
      |  FROM d, range(0, 6) fs(f), range(0, 15) xs(x),
      |    range(0, 10) ys(y)
      |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
      |pv AS (SELECT doc_id, w, h, nf, f, x, y,
      |    (doc_id * 7 + f * 41 + x * 13 + y * 31) % 256
      |    + (doc_id * 11 + f * 19 + x * 17 + y * 5) % 256
      |    + (doc_id * 3 + f * 53 + x * 29 + y * 23) % 256 AS v
      |  FROM px)""".stripMargin

  /** The eight per-parity pattern-sum CTEs (each format's dedicated
    * mm_decode_* arithmetic, the shared-literal rule eight times
    * over) + their union `sums(doc_id, format, s)` — shared by the
    * mm_sniff_decode and mm_decode_quarantine oracles. */
  private val sniffSumsSql: String =
    """bmp AS (SELECT d.doc_id, CAST(SUM(
        |    (d.doc_id * 7 + x * 13 + y * 31) % 256
        |    + (d.doc_id * 11 + x * 17 + y * 5) % 256
        |    + (d.doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT) AS s
        |  FROM (SELECT doc_id, 16 + (doc_id // 8) % 16 AS w,
        |      12 + (doc_id // 8) % 8 AS h FROM documents
        |    WHERE doc_id % 8 = 0) d,
        |    range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h GROUP BY d.doc_id),
        |png AS (SELECT d.doc_id, CAST(SUM(
        |    (d.doc_id * 5 + x * 19 + y * 37) % 256
        |    + (d.doc_id * 13 + x * 7 + y * 11) % 256
        |    + (d.doc_id * 17 + x * 23 + y * 3) % 256) AS BIGINT) AS s
        |  FROM (SELECT doc_id, 16 + (doc_id // 8) % 16 AS w,
        |      12 + (doc_id // 8) % 8 AS h FROM documents
        |    WHERE doc_id % 8 = 1) d,
        |    range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h GROUP BY d.doc_id),
        |gif AS (SELECT d.doc_id, CAST(SUM(
        |    ((d.doc_id * 3 + x * 7 + (y % 3) * 11) % 256 * 37) % 256
        |    + ((d.doc_id * 3 + x * 7 + (y % 3) * 11) % 256 * 113) % 256
        |    + ((d.doc_id * 3 + x * 7 + (y % 3) * 11) % 256 * 211) % 256)
        |    AS BIGINT) AS s
        |  FROM (SELECT doc_id, 16 + (doc_id // 8) % 12 AS w,
        |      10 + (doc_id // 8) % 6 AS h FROM documents
        |    WHERE doc_id % 8 = 2) d,
        |    range(0, 27) xs(x), range(0, 15) ys(y)
        |  WHERE xs.x < w AND ys.y < h GROUP BY d.doc_id),
        |wav AS (SELECT d.doc_id, CAST(SUM(abs(
        |    (d.doc_id * 37 + ss.i * ss.i * 13) % 4096 - 2048))
        |    AS BIGINT) AS s
        |  FROM (SELECT doc_id, 160 + (doc_id // 8) % 64 AS n FROM documents
        |    WHERE doc_id % 8 = 3) d, range(0, 223) ss(i)
        |  WHERE ss.i < n GROUP BY d.doc_id),
        |avi AS (SELECT d.doc_id, CAST(SUM(
        |    (d.doc_id * 7 + f * 41 + x * 13 + y * 31) % 256
        |    + (d.doc_id * 11 + f * 19 + x * 17 + y * 5) % 256
        |    + (d.doc_id * 3 + f * 53 + x * 29 + y * 23) % 256)
        |    AS BIGINT) AS s
        |  FROM (SELECT doc_id, 8 + (doc_id // 8) % 8 AS w,
        |      6 + (doc_id // 8) % 5 AS h,
        |      3 + (doc_id // 8) % 4 AS nf FROM documents
        |    WHERE doc_id % 8 = 4) d,
        |    range(0, 6) fs(f), range(0, 15) xs(x), range(0, 10) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h GROUP BY d.doc_id),
        |mp4 AS (SELECT d.doc_id, CAST(SUM(
        |    (d.doc_id * 9 + f * 43 + x * 11 + y * 29) % 256
        |    + (d.doc_id * 15 + f * 23 + x * 19 + y * 7) % 256
        |    + (d.doc_id * 5 + f * 47 + x * 31 + y * 17) % 256)
        |    AS BIGINT) AS s
        |  FROM (SELECT doc_id, 8 + (doc_id // 8) % 6 AS w,
        |      6 + (doc_id // 8) % 4 AS h,
        |      3 + (doc_id // 8) % 4 AS nf FROM documents
        |    WHERE doc_id % 8 = 5) d,
        |    range(0, 6) fs(f), range(0, 13) xs(x), range(0, 9) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h GROUP BY d.doc_id),
        |jpg AS (SELECT d.doc_id, CAST(SUM(3 * 64 *
        |    (2 * ((d.doc_id * 5 + bis.i * 19 + bjs.j * 37) % 96)
        |     + 32)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, 2 + (doc_id // 8) % 3 AS bw,
        |      1 + (doc_id // 8) % 2 AS bh FROM documents
        |    WHERE doc_id % 8 = 6) d,
        |    range(0, 5) bis(i), range(0, 3) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh GROUP BY d.doc_id),
        |tif AS (SELECT d.doc_id, CAST(SUM(3 *
        |    (2 * ((d.doc_id * 5 + (x // 8) * 19 + (y // 8) * 37) % 96)
        |     + 32)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, 16 + (doc_id // 8) % 16 AS w,
        |      12 + (doc_id // 8) % 8 AS h FROM documents
        |    WHERE doc_id % 8 = 7) d,
        |    range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h GROUP BY d.doc_id),
      |sums AS (SELECT doc_id, 'bmp' AS format, s FROM bmp
      |  UNION ALL SELECT doc_id, 'png', s FROM png
      |  UNION ALL SELECT doc_id, 'gif', s FROM gif
      |  UNION ALL SELECT doc_id, 'wav', s FROM wav
      |  UNION ALL SELECT doc_id, 'avi', s FROM avi
      |  UNION ALL SELECT doc_id, 'mp4', s FROM mp4
      |  UNION ALL SELECT doc_id, 'jpeg', s FROM jpg
      |  UNION ALL SELECT doc_id, 'tiff', s FROM tif)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Closed-form replay of the probe: container size (Codecs
    // .mp4Size), stts-derived timing, 16.16 dims, and the mdat
    // payload byte-sum pattern — independent of box order, which the
    // engine varies by doc parity.
    "mm_mp4_probe" ->
      """WITH d AS (SELECT doc_id,
        |    20 + (doc_id % 4) * 10 AS delta,
        |    24 + doc_id % 48 AS nf,
        |    32 + (doc_id % 8) * 16 AS w,
        |    24 + (doc_id % 6) * 16 AS h,
        |    (24 + doc_id % 48) * (7 + doc_id % 9) AS plen
        |  FROM documents),
        |ps AS (SELECT d.doc_id,
        |    CAST(SUM((d.doc_id * 31 + ss.i * ss.i * 5) % 251)
        |      AS BIGINT) AS payload_sum
        |  FROM d, range(0, 1065) ss(i) WHERE ss.i < plen
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(369 + plen AS BIGINT) AS n_bytes,
        |  'isom' AS brand,
        |  CAST(600 AS INT) AS timescale,
        |  CAST(nf * delta AS BIGINT) AS duration,
        |  CAST(nf * delta * 1000 // 600 AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  'vide' AS handler,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(600 // delta AS INT) AS fps,
        |  CAST(plen AS BIGINT) AS mdat_bytes,
        |  ps.payload_sum
        |FROM d JOIN ps ON d.doc_id = ps.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Sizes, prefix-sum absolute offsets (box-order-aware: even docs
    // use the streaming moov-last layout whose mdat payload starts at
    // 40; odd docs moov-first at 437 + 4n — Codecs.mp4SizeIndexed),
    // and the payload pattern summed over each sample's byte range.
    "mm_mp4_extract" ->
      """WITH d AS (SELECT doc_id, 6 + doc_id % 6 AS nf FROM documents),
        |ks AS (SELECT doc_id, nf, kk.k FROM d, range(0, 11) kk(k)
        |  WHERE kk.k < nf),
        |sz AS (SELECT doc_id, nf, k,
        |    10 + ((doc_id + k * 7) % 20) AS s FROM ks),
        |po AS (SELECT doc_id, nf, k, s,
        |    COALESCE(SUM(s) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS rel
        |  FROM sz),
        |base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 40
        |      ELSE 437 + 4 * nf END AS b
        |  FROM d),
        |sl AS (SELECT po.doc_id, po.k,
        |    CAST(SUM((po.doc_id * 13 + gg.g * gg.g * 3) % 251)
        |      AS BIGINT) AS slice_sum
        |  FROM po, range(0, 320) gg(g)
        |  WHERE gg.g >= po.rel AND gg.g < po.rel + po.s
        |  GROUP BY po.doc_id, po.k)
        |SELECT po.doc_id, CAST(po.k AS BIGINT) AS k,
        |  CAST(po.s AS BIGINT) AS sample_bytes,
        |  CAST(base.b + po.rel AS BIGINT) AS sample_off,
        |  sl.slice_sum
        |FROM po JOIN base ON po.doc_id = base.doc_id
        |  JOIN sl ON po.doc_id = sl.doc_id AND po.k = sl.k
        |ORDER BY po.doc_id, k""".stripMargin,
    // Both modality patterns + the closed-form TWO-TRACK container
    // size (Codecs.mp4SizeAv — each trak's stco grows with nf) —
    // box-order independent, which the engine varies by parity.
    "mm_mp4_decode_av" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w,
        |    5 + doc_id % 3 AS h, 2 + doc_id % 3 AS nf,
        |    16 + (doc_id % 8) * 2 AS spf FROM documents),
        |px AS (SELECT doc_id, w, h, nf, spf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 5) fs(f), range(0, 13) xs(x),
        |    range(0, 8) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id,
        |    (doc_id * 7 + f * 31 + x * 17 + y * 13) % 256
        |    + (doc_id * 19 + f * 11 + x * 23 + y * 29) % 256
        |    + (doc_id * 3 + f * 41 + x * 37 + y * 7) % 256 AS v
        |  FROM px),
        |vr AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sum_rgb
        |  FROM pv GROUP BY doc_id),
        |au AS (SELECT d.doc_id,
        |    CAST(SUM(abs((d.doc_id * 61 + ss.i * ss.i * 11) % 4096
        |      - 2048)) AS BIGINT) AS sum_abs
        |  FROM d, range(0, 120) ss(i) WHERE ss.i < nf * spf
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(864 + 8 * nf + nf * (w * h * 3 + 2 * spf) AS BIGINT)
        |    AS n_bytes,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(3 AS INT) AS fps,
        |  CAST(3 * spf AS INT) AS sample_rate,
        |  CAST(nf * spf AS BIGINT) AS n_samples,
        |  vr.sum_rgb, au.sum_abs
        |FROM d JOIN vr ON d.doc_id = vr.doc_id
        |  JOIN au ON d.doc_id = au.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Frame-pattern replay + the closed-form container size (Codecs
    // .mp4SizeVideo) + stts-derived fps + the scene-cut census —
    // box-order independent, which the engine varies by parity.
    "mm_mp4_decode_frames" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 6 AS w,
        |    6 + doc_id % 4 AS h, 3 + doc_id % 4 AS nf,
        |    20 + (doc_id % 3) * 20 AS delta FROM documents),
        |px AS (SELECT doc_id, w, h, nf, delta, fs.f, xs.x, ys.y
        |  FROM d, range(0, 6) fs(f), range(0, 13) xs(x),
        |    range(0, 9) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id, w, h, nf, delta, f,
        |    (doc_id * 9 + f * 43 + x * 11 + y * 29) % 256
        |    + (doc_id * 15 + f * 23 + x * 19 + y * 7) % 256
        |    + (doc_id * 5 + f * 47 + x * 31 + y * 17) % 256 AS v
        |  FROM px),
        |fm AS (SELECT doc_id, w, h, nf, delta, f,
        |    CAST(SUM(v) AS BIGINT) AS s,
        |    (CAST(SUM(v) AS BIGINT) * 1000) // (w * h * 3) AS m
        |  FROM pv GROUP BY 1, 2, 3, 4, 5, 6),
        |fc AS (SELECT doc_id, w, h, nf, delta, s, m,
        |    LAG(m) OVER (PARTITION BY doc_id ORDER BY f) AS pm FROM fm)
        |SELECT doc_id,
        |  CAST(539 + MAX(nf) * MAX(w) * MAX(h) * 3 AS BIGINT)
        |    AS n_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(MAX(nf) AS BIGINT) AS n_frames,
        |  CAST(600 // MAX(delta) AS INT) AS fps,
        |  CAST(SUM(s) AS BIGINT) AS sum_rgb,
        |  CAST(SUM(CASE WHEN pm IS NOT NULL AND abs(m - pm) >= 20000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
        |FROM fc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Six per-parity selects, each replaying ITS format's dedicated
    // pattern (the shared-literal rule, six times over); the format
    // column derives from doc parity here but from MAGIC-BYTE
    // sniffing in the engine — a misdetected container shows up as a
    // format-column hash mismatch, a misrouted or buggy decode as a
    // content_sum mismatch.
    "mm_sniff_decode" ->
      s"""WITH $sniffSumsSql
        |SELECT doc_id, format, s AS content_sum FROM sums
        |ORDER BY doc_id""".stripMargin,
    // The error-channel twin: corrupt classes derived by the same
    // arithmetic the engine uses — magic-corrupted docs quarantine
    // as unknown_format, body-corrupted PNGs (CRC guarantees
    // detection) and strip-corrupted TIFFs (offset validation
    // guarantees detection) as decode_error, everything else decodes
    // to its pattern sum.
    "mm_decode_quarantine" ->
      s"""WITH $sniffSumsSql,
        |cls AS (SELECT doc_id, format, s,
        |    CASE WHEN (doc_id // 8) % 5 = 2 THEN 'magic'
        |      WHEN (doc_id % 8 = 1 OR doc_id % 8 = 7)
        |          AND (doc_id // 8) % 5 = 3
        |        THEN 'body'
        |      ELSE 'ok' END AS c
        |  FROM sums)
        |SELECT doc_id,
        |  CASE c WHEN 'magic' THEN 'unknown_format'
        |    WHEN 'body' THEN 'decode_error' ELSE 'ok' END AS status,
        |  CASE WHEN c = 'magic' THEN 'unknown' ELSE format END
        |    AS format,
        |  CASE WHEN c = 'ok' THEN s ELSE NULL END AS content_sum
        |FROM cls ORDER BY doc_id""".stripMargin,
    // Index pattern resolved through the shared palette formula —
    // the nested-mod replay of palette[(id*3 + x*7 + (y%3)*11) % 256];
    // `compressed` is the checked column for the LZW-dependent size
    // (spec-verified exhaustively over all 768 raster classes).
    "mm_decode_gif" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 12 AS w,
        |    10 + doc_id % 6 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    (doc_id * 3 + xs.x * 7 + (ys.y % 3) * 11) % 256 AS idx
        |  FROM d, range(0, 27) xs(x), range(0, 15) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((idx * 37) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((idx * 113) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((idx * 211) % 256) AS BIGINT) AS sum_b,
        |  TRUE AS compressed
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The capstone oracle composes the stages' own closed forms: the
    // eight sniffSumsSql pattern-sum CTEs evaluated at the SEED id
    // (the dedup corpus re-uploads every (id/8)%4==1 container from
    // seed id-8), the quarantine corruption classes, format-parity dims
    // and payload byte counts, the dedup window, the resolution rule
    // and the shard prefix-sum — the funnel row per format.
    "mm_pipeline_full" ->
      (s"""WITH $sniffSumsSql,
        |ids AS (SELECT doc_id,
        |    CASE WHEN (doc_id // 8) % 4 = 1 THEN doc_id - 8
        |      ELSE doc_id END AS e,
        |    (doc_id // 8) % 5 = 2 AS magic,
        |    (doc_id % 8 = 1 OR doc_id % 8 = 7)
        |      AND (doc_id // 8) % 5 = 3 AS body
        |  FROM documents),
        |dims AS (SELECT doc_id AS e,
        |    CASE doc_id % 8
        |      WHEN 0 THEN 16 + (doc_id // 8) % 16
        |      WHEN 1 THEN 16 + (doc_id // 8) % 16
        |      WHEN 2 THEN 16 + (doc_id // 8) % 12
        |      WHEN 3 THEN 0
        |      WHEN 4 THEN 8 + (doc_id // 8) % 8
        |      WHEN 5 THEN 8 + (doc_id // 8) % 6
        |      WHEN 6 THEN (2 + (doc_id // 8) % 3) * 8
        |      ELSE 16 + (doc_id // 8) % 16 END AS w,
        |    CASE doc_id % 8
        |      WHEN 0 THEN 12 + (doc_id // 8) % 8
        |      WHEN 1 THEN 12 + (doc_id // 8) % 8
        |      WHEN 2 THEN 10 + (doc_id // 8) % 6
        |      WHEN 3 THEN 0
        |      WHEN 4 THEN 6 + (doc_id // 8) % 5
        |      WHEN 5 THEN 6 + (doc_id // 8) % 4
        |      WHEN 6 THEN (1 + (doc_id // 8) % 2) * 8
        |      ELSE 12 + (doc_id // 8) % 8 END AS h,
        |    CASE doc_id % 8
        |      WHEN 0 THEN (16 + (doc_id // 8) % 16)
        |        * (12 + (doc_id // 8) % 8) * 3
        |      WHEN 1 THEN (16 + (doc_id // 8) % 16)
        |        * (12 + (doc_id // 8) % 8) * 3
        |      WHEN 2 THEN (16 + (doc_id // 8) % 12)
        |        * (10 + (doc_id // 8) % 6) * 3
        |      WHEN 3 THEN (160 + (doc_id // 8) % 64) * 2
        |      WHEN 4 THEN (3 + (doc_id // 8) % 4)
        |        * (8 + (doc_id // 8) % 8) * (6 + (doc_id // 8) % 5) * 3
        |      WHEN 5 THEN (3 + (doc_id // 8) % 4)
        |        * (8 + (doc_id // 8) % 6) * (6 + (doc_id // 8) % 4) * 3
        |      WHEN 6 THEN (2 + (doc_id // 8) % 3) * 8
        |        * (1 + (doc_id // 8) % 2) * 8 * 3
        |      ELSE (16 + (doc_id // 8) % 16)
        |        * (12 + (doc_id // 8) % 8) * 3
        |      END AS payload
        |  FROM documents),
        |rows0 AS (SELECT i.doc_id,
        |    CASE WHEN i.magic THEN 'unknown' ELSE su.format END
        |      AS format,
        |    CASE WHEN i.magic OR i.body THEN 'quarantined'
        |      ELSE 'ok' END AS st,
        |    CASE WHEN i.magic OR i.body THEN 0 ELSE su.s END AS s,
        |    CASE WHEN i.magic OR i.body THEN 0 ELSE d.w END AS w,
        |    CASE WHEN i.magic OR i.body THEN 0 ELSE d.h END AS h,
        |    CASE WHEN i.magic OR i.body THEN 0 ELSE d.payload END
        |      AS payload
        |  FROM ids i
        |  JOIN sums su ON su.doc_id = i.e
        |  JOIN dims d ON d.e = i.e),
        |okr AS (SELECT doc_id, format, s, w, h, payload,
        |    ROW_NUMBER() OVER (PARTITION BY format, w, h, s, payload
        |      ORDER BY doc_id) AS rn
        |  FROM rows0 WHERE st = 'ok'),
        |staged AS (
        |  SELECT doc_id, format, 'quarantined' AS stage, payload
        |    FROM rows0 WHERE st <> 'ok'
        |  UNION ALL
        |  SELECT doc_id, format,
        |    CASE WHEN rn > 1 THEN 'dup'
        |      WHEN w > 0 AND LEAST(w, h) < 8 THEN 'small'
        |      ELSE 'kept' END AS stage, payload
        |  FROM okr),
        |packed AS (SELECT doc_id, format, stage, payload,
        |    CASE WHEN stage = 'kept' THEN
        |      (SUM(CASE WHEN stage = 'kept' THEN payload ELSE 0 END)
        |        OVER (PARTITION BY format ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       - payload) // 8192
        |    END AS shard
        |  FROM staged)
        |SELECT format,
        |  CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN stage = 'quarantined' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_quarantined,
        |  CAST(SUM(CASE WHEN stage = 'dup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN stage = 'small' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_small,
        |  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN stage = 'kept' THEN payload ELSE 0 END)
        |    AS BIGINT) AS bytes_kept,
        |  CAST(COALESCE(MAX(shard) + 1, 0) AS BIGINT) AS n_shards
        |FROM packed GROUP BY format ORDER BY format""").stripMargin,
    // JPEG is lossy, but the corpus rasters are drawn from the
    // codec's exactly invertible class (constant even-valued 8x8
    // blocks — the lossless-class theorem proven exhaustively in
    // MultimodalJpegSpec), so the decoded luma sum is the closed-form
    // 64 * blockValue arithmetic; `compressed` is the checked column
    // for the Huffman-dependent byte size (spec-verified over all 96
    // raster classes).
    "mm_decode_jpeg" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS bw,
        |    1 + doc_id % 2 AS bh FROM documents),
        |bl AS (SELECT doc_id, bw, bh, bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 5) bis(i), range(0, 3) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(64 * (2 * ((doc_id * 5 + bi * 19 + bj * 37) % 96)
        |    + 32)) AS BIGINT) AS sum_luma,
        |  TRUE AS compressed
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The progressive twin: the SAME closed form (the spectral-split
    // equivalence theorem — identical quantized coefficients decode
    // byte-identically through the multi-scan path); both container
    // facts are checked columns (SOF2 two-scan census, baseline
    // byte-equality), theorem-spec'd over all 96 raster classes.
    "mm_decode_jpeg_prog" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS bw,
        |    1 + doc_id % 2 AS bh FROM documents),
        |bl AS (SELECT doc_id, bw, bh, bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 5) bis(i), range(0, 3) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(64 * (2 * ((doc_id * 5 + bi * 19 + bj * 37) % 96)
        |    + 32)) AS BIGINT) AS sum_luma,
        |  TRUE AS progressive,
        |  TRUE AS matches_baseline
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The successive-approximation twin: the SAME closed form again
    // (the completed six-scan progression reconstructs every
    // coefficient exactly — DC shift + correction bit, AC
    // truncate-toward-zero halving + correction bit / +-1 insertion
    // — so the decode is byte-identical to baseline); census asserts
    // SOF2 + exactly six scans, theorem-spec'd over all 96 classes
    // AND general content.
    "mm_decode_jpeg_prog_sa" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS bw,
        |    1 + doc_id % 2 AS bh FROM documents),
        |bl AS (SELECT doc_id, bw, bh, bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 5) bis(i), range(0, 3) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(64 * (2 * ((doc_id * 5 + bi * 19 + bj * 37) % 96)
        |    + 32)) AS BIGINT) AS sum_luma,
        |  TRUE AS progressive,
        |  TRUE AS matches_baseline
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BMP -> color JPEG transcode on the doubly invertible class
    // (gray-valued constant even blocks): closed-form BMP size,
    // final-decode sum = 3 x 64 x block gray, both flags checked
    // columns (spec-verified over all 96 classes).
    "mm_transcode_jpeg" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 3 AS bw,
        |    2 + doc_id % 2 AS bh FROM documents),
        |bl AS (SELECT doc_id, bw, bh, bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 7) bis(i), range(0, 4) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(bw) * 8 * 3 + 3) // 4) * 4 * MAX(bh) * 8
        |    AS BIGINT) AS bmp_bytes,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(3 * 64 * (2 * ((doc_id * 5 + bi * 19 + bj * 37)
        |    % 96) + 32)) AS BIGINT) AS sum_rgb,
        |  TRUE AS lossless_ok,
        |  TRUE AS jpeg_smaller
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The 4:2:0 twin replays the same closed forms (identical raster
    // class and dims; only the codec path differs — and gray-valued
    // pixels invert exactly through the subsampled path too).
    "mm_transcode_jpeg420" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 3 AS bw,
        |    2 + doc_id % 2 AS bh FROM documents),
        |bl AS (SELECT doc_id, bw, bh, bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 7) bis(i), range(0, 4) bjs(j)
        |  WHERE bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(bw) * 8 * 3 + 3) // 4) * 4 * MAX(bh) * 8
        |    AS BIGINT) AS bmp_bytes,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(SUM(3 * 64 * (2 * ((doc_id * 5 + bi * 19 + bj * 37)
        |    % 96) + 32)) AS BIGINT) AS sum_rgb,
        |  TRUE AS lossless_ok,
        |  TRUE AS jpeg_smaller
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // M-JPEG: per-frame JPEGs from the same invertible class inside
    // the RIFF walk; frame count/fps from the parsed strh; the
    // container size is entropy-dependent so `compressed` bounds it
    // against the stored-DIB AVI of the same clip (checked column,
    // full-period spec verification).
    "mm_decode_mjpeg" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 2 AS bw,
        |    1 + doc_id % 2 AS bh, 2 + doc_id % 3 AS nf,
        |    8 + (doc_id % 5) * 2 AS fps FROM documents),
        |bl AS (SELECT doc_id, bw, bh, nf, fps, fs.f AS f,
        |    bis.i AS bi, bjs.j AS bj
        |  FROM d, range(0, 5) fs(f), range(0, 4) bis(i),
        |    range(0, 3) bjs(j)
        |  WHERE fs.f < nf AND bis.i < bw AND bjs.j < bh)
        |SELECT doc_id,
        |  CAST(MAX(bw) * 8 AS INT) AS width,
        |  CAST(MAX(bh) * 8 AS INT) AS height,
        |  CAST(MAX(nf) AS BIGINT) AS n_frames,
        |  CAST(MAX(fps) AS INT) AS fps,
        |  CAST(SUM(64 * (2 * ((doc_id * 5 + f * 29 + bi * 19
        |    + bj * 37) % 96) + 32)) AS BIGINT) AS sum_luma,
        |  TRUE AS compressed
        |FROM bl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Lossless round trip: channel sums replay the pattern exactly;
    // `compressed` is the checked column for the one quantity DEFLATE
    // makes data-dependent (spec-verified exhaustively over all 256
    // raster classes).
    "mm_decode_png" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 5 + x * 19 + y * 37) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(SUM((doc_id * 13 + x * 7 + y * 11) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(SUM((doc_id * 17 + x * 23 + y * 3) % 256) AS BIGINT)
        |    AS sum_b,
        |  TRUE AS compressed
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // BMP -> PNG conversion: the mm_decode_image raster pattern (the
    // shared-literal rule), closed-form BMP size, total channel sum
    // from the FINAL decode, and the two checked flags (losslessness
    // is a byte-compare against the original raster in the engine;
    // both flags spec-verified over all 256 raster classes).
    "mm_transcode_png" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS bmp_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256
        |    + (doc_id * 11 + x * 17 + y * 5) % 256
        |    + (doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_rgb,
        |  TRUE AS lossless_ok,
        |  TRUE AS png_smaller
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The palette transcode: sums are the palette expansion of the
    // mm_decode_gif index pattern (shared-literal rule); interlace is
    // layout-only, so one closed form covers both parities.
    "mm_transcode_gif" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 12 AS w,
        |    10 + doc_id % 6 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 28) xs(x), range(0, 16) ys(y)
        |  WHERE xs.x < w AND ys.y < h),
        |v AS (SELECT doc_id, w, h,
        |    (doc_id * 3 + x * 7 + (y % 3) * 11) % 256 AS i FROM px)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS bmp_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((i * 37) % 256 + (i * 113) % 256 + (i * 211) % 256)
        |    AS BIGINT) AS sum_rgb,
        |  TRUE AS lossless_ok,
        |  TRUE AS compressed
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The Adam7 twin replays the same closed forms (identical raster
    // class and dims; only the stream layout differs — interlaced
    // passes deinterlace back to the same pixels).
    "mm_transcode_png_adam7" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS bmp_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256
        |    + (doc_id * 11 + x * 17 + y * 5) % 256
        |    + (doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_rgb,
        |  TRUE AS lossless_ok,
        |  TRUE AS png_smaller
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Both modality patterns + the closed-form two-stream container
    // size (Codecs.aviAvSize) replayed from the clip parameters.
    "mm_decode_av" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 6 AS w,
        |    5 + doc_id % 4 AS h, 2 + doc_id % 3 AS nf,
        |    20 + (doc_id % 10) * 2 AS spf FROM documents),
        |px AS (SELECT doc_id, w, h, nf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 5) fs(f), range(0, 14) xs(x),
        |    range(0, 9) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id,
        |    (doc_id * 5 + f * 37 + x * 11 + y * 19) % 256
        |    + (doc_id * 13 + f * 23 + x * 7 + y * 3) % 256
        |    + (doc_id * 17 + f * 29 + x * 31 + y * 41) % 256 AS v
        |  FROM px),
        |vr AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS sum_rgb
        |  FROM pv GROUP BY doc_id),
        |au AS (SELECT d.doc_id,
        |    CAST(SUM(abs((d.doc_id * 53 + ss.i * ss.i * 7) % 4096
        |      - 2048)) AS BIGINT) AS sum_abs,
        |    CAST(COUNT(*) AS BIGINT) AS n_samples
        |  FROM d, range(0, 152) ss(i) WHERE ss.i < nf * spf
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(324 + nf * (16 + ((w * 3 + 3) // 4) * 4 * h + 2 * spf)
        |    AS BIGINT) AS n_bytes,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(10 AS INT) AS fps,
        |  CAST(10 * spf AS INT) AS sample_rate, au.n_samples,
        |  vr.sum_rgb, au.sum_abs
        |FROM d JOIN vr ON d.doc_id = vr.doc_id
        |  JOIN au ON d.doc_id = au.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Per-frame replay of both modality patterns with the same
    // integer divisions the engine applies to DECODED bytes.
    "mm_av_sync_audit" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 6 AS w,
        |    5 + doc_id % 4 AS h, 2 + doc_id % 3 AS nf,
        |    20 + (doc_id % 10) * 2 AS spf FROM documents),
        |px AS (SELECT doc_id, w, h, nf, spf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 5) fs(f), range(0, 14) xs(x),
        |    range(0, 9) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id, w, h, spf, f,
        |    (doc_id * 5 + f * 37 + x * 11 + y * 19) % 256
        |    + (doc_id * 13 + f * 23 + x * 7 + y * 3) % 256
        |    + (doc_id * 17 + f * 29 + x * 31 + y * 41) % 256 AS v
        |  FROM px),
        |fr AS (SELECT doc_id, spf, f,
        |    (CAST(SUM(v) AS BIGINT) * 1000) // (w * h * 3)
        |      AS rgb_mean_milli
        |  FROM pv GROUP BY doc_id, w, h, spf, f),
        |sm AS (SELECT d.doc_id, ss.i // spf AS f,
        |    CAST(SUM(abs((d.doc_id * 53 + ss.i * ss.i * 7) % 4096
        |      - 2048)) AS BIGINT) // spf AS abs_mean
        |  FROM d, range(0, 152) ss(i) WHERE ss.i < nf * spf
        |  GROUP BY d.doc_id, ss.i // spf, spf)
        |SELECT fr.doc_id, CAST(fr.f AS BIGINT) AS f,
        |  CAST(rgb_mean_milli AS BIGINT) AS rgb_mean_milli,
        |  CAST(abs_mean AS BIGINT) AS abs_mean,
        |  rgb_mean_milli >= 382500 AS bright,
        |  abs_mean >= 1024 AS loud,
        |  (rgb_mean_milli >= 382500) <> (abs_mean >= 1024) AS mismatch
        |FROM fr JOIN sm ON fr.doc_id = sm.doc_id AND fr.f = sm.f
        |ORDER BY fr.doc_id, f""".stripMargin,
    // The companded leg: same video pattern replay; audio replays the
    // G.711 expansion closed-form per codeword (the mm_decode_g711
    // CASE, mu-law for even docs / A-law for odd) over each frame
    // span; n_bytes is the closed 1-byte-per-sample container form
    // (spf is always even, so no audio pad bytes).
    "mm_av_sync_g711" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 6 AS w,
        |    5 + doc_id % 4 AS h, 2 + doc_id % 3 AS nf,
        |    20 + (doc_id % 10) * 2 AS spf,
        |    doc_id % 2 = 0 AS mu FROM documents),
        |px AS (SELECT doc_id, w, h, nf, spf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 5) fs(f), range(0, 14) xs(x),
        |    range(0, 9) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id, w, h, spf, f,
        |    (doc_id * 5 + f * 37 + x * 11 + y * 19) % 256
        |    + (doc_id * 13 + f * 23 + x * 7 + y * 3) % 256
        |    + (doc_id * 17 + f * 29 + x * 31 + y * 41) % 256 AS v
        |  FROM px),
        |fr AS (SELECT doc_id, spf, f,
        |    (CAST(SUM(v) AS BIGINT) * 1000) // (w * h * 3)
        |      AS rgb_mean_milli
        |  FROM pv GROUP BY doc_id, w, h, spf, f),
        |sc AS (SELECT d.doc_id, d.mu, d.spf, ss.i AS i,
        |    (d.doc_id * 53 + ss.i * ss.i * 7) % 256 AS c
        |  FROM d, range(0, 152) ss(i) WHERE ss.i < nf * spf),
        |sv AS (SELECT doc_id, spf, i // spf AS f,
        |    CASE WHEN mu THEN (CASE WHEN (255 - c) >= 128 THEN -1 ELSE 1 END)
        |      * ((((255 - c) % 16) * 8 + 132)
        |        * (1 << (((255 - c) // 16) % 8)) - 132)
        |    ELSE (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END)
        |      * (CASE WHEN (xor(c, 85) // 16) % 8 = 0
        |           THEN (xor(c, 85) % 16) * 16 + 8
        |         WHEN (xor(c, 85) // 16) % 8 = 1
        |           THEN (xor(c, 85) % 16) * 16 + 264
        |         ELSE ((xor(c, 85) % 16) * 16 + 264)
        |           * (1 << ((xor(c, 85) // 16) % 8 - 1)) END)
        |    END AS val
        |  FROM sc),
        |sm AS (SELECT doc_id, f,
        |    CAST(SUM(ABS(val)) AS BIGINT) // spf AS abs_mean
        |  FROM sv GROUP BY doc_id, f, spf),
        |nb AS (SELECT doc_id,
        |    CAST(324 + nf * (16 + ((w * 3 + 3) // 4) * 4 * h + spf)
        |      AS BIGINT) AS n_bytes,
        |    CASE WHEN mu THEN 'mulaw' ELSE 'alaw' END AS law
        |  FROM d)
        |SELECT fr.doc_id, CAST(fr.f AS BIGINT) AS f,
        |  nb.n_bytes, nb.law,
        |  CAST(rgb_mean_milli AS BIGINT) AS rgb_mean_milli,
        |  CAST(abs_mean AS BIGINT) AS abs_mean,
        |  rgb_mean_milli >= 382500 AS bright,
        |  abs_mean >= 4096 AS loud,
        |  (rgb_mean_milli >= 382500) <> (abs_mean >= 4096) AS mismatch
        |FROM fr JOIN sm ON fr.doc_id = sm.doc_id AND fr.f = sm.f
        |JOIN nb ON fr.doc_id = nb.doc_id
        |ORDER BY fr.doc_id, f""".stripMargin,
    // The whole step-3 replay: per-frame argmax track inside each
    // surviving segment span, pad-1 clamped bbox, crop-window pixel
    // sum, closed-form sub-video size.
    "ref_ep3_real" ->
      s"""WITH $segClipSql,
        |vm AS (SELECT doc_id, f, MAX(v) AS v_max FROM pv GROUP BY 1, 2),
        |am AS (SELECT pv.doc_id, pv.f, MIN(y * pv.w + x) AS bi,
        |    MAX(pv.w) AS w2
        |  FROM pv JOIN vm ON pv.doc_id = vm.doc_id AND pv.f = vm.f
        |    AND pv.v = vm.v_max
        |  GROUP BY 1, 2),
        |tr AS (SELECT doc_id, f, bi % w2 AS ax, bi // w2 AS ay FROM am),
        |bx AS (SELECT sb.doc_id, sb.start_frame // 4 AS seg,
        |    sb.start_frame, sb.end_frame, sb.w, sb.h,
        |    GREATEST(MIN(tr.ax) - 1, 0) AS x1,
        |    LEAST(MAX(tr.ax) + 1, sb.w - 1) AS x2,
        |    GREATEST(MIN(tr.ay) - 1, 0) AS y1,
        |    LEAST(MAX(tr.ay) + 1, sb.h - 1) AS y2
        |  FROM sb JOIN tr ON sb.doc_id = tr.doc_id
        |    AND tr.f >= sb.start_frame AND tr.f < sb.end_frame
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |cx AS (SELECT bx.doc_id, bx.seg,
        |    CAST(SUM(pv.v) AS BIGINT) AS sum_rgb_sub
        |  FROM bx JOIN pv ON bx.doc_id = pv.doc_id
        |    AND pv.f >= bx.start_frame AND pv.f < bx.end_frame
        |    AND pv.x >= bx.x1 AND pv.x <= bx.x2
        |    AND pv.y >= bx.y1 AND pv.y <= bx.y2
        |  GROUP BY 1, 2)
        |SELECT bx.doc_id, CAST(bx.seg AS BIGINT) AS seg,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
        |  CAST(x2 - x1 + 1 AS BIGINT) AS crop_w,
        |  CAST(y2 - y1 + 1 AS BIGINT) AS crop_h,
        |  CAST(224 + (end_frame - start_frame) *
        |    (8 + (((x2 - x1 + 1) * 3 + 3) // 4) * 4 * (y2 - y1 + 1))
        |    AS BIGINT) AS sub_bytes,
        |  cx.sum_rgb_sub
        |FROM bx JOIN cx ON bx.doc_id = cx.doc_id AND bx.seg = cx.seg
        |ORDER BY bx.doc_id, seg""".stripMargin,
    // The ep3 chain over M-JPEG: pixel values are 3x the block gray
    // (R=G=B), the argmax/track/bbox/crop machinery is the shared
    // pixel-level replay, and sub_bytes is the DIB-AVI closed form
    // (the emitted samples are uncompressed — a real transcode).
    "ref_ep3_mjpeg" ->
      """WITH d AS (SELECT doc_id, 16 + (doc_id % 2) * 8 AS w,
        |    8 + (doc_id % 2) * 8 AS h, 6 + doc_id % 6 AS nf
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, nf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 12) fs(f), range(0, 24) xs(x),
        |    range(0, 16) ys(y)
        |  WHERE fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id, w, h, nf, f, x, y,
        |    3 * (2 * ((doc_id * 5 + f * 29 + (x // 8) * 19
        |      + (y // 8) * 37) % 96) + 32) AS v
        |  FROM px),
        |sg AS (SELECT doc_id, w, h, nf, ss.s AS start_frame
        |  FROM d, range(0, 12, 4) ss(s) WHERE ss.s < nf),
        |sb AS (SELECT doc_id, w, h, nf, start_frame,
        |    LEAST(start_frame + 5, nf) AS end_frame FROM sg
        |  WHERE LEAST(start_frame + 5, nf) - start_frame >= 4),
        |vm AS (SELECT doc_id, f, MAX(v) AS v_max FROM pv GROUP BY 1, 2),
        |am AS (SELECT pv.doc_id, pv.f, MIN(y * pv.w + x) AS bi,
        |    MAX(pv.w) AS w2
        |  FROM pv JOIN vm ON pv.doc_id = vm.doc_id AND pv.f = vm.f
        |    AND pv.v = vm.v_max
        |  GROUP BY 1, 2),
        |tr AS (SELECT doc_id, f, bi % w2 AS ax, bi // w2 AS ay FROM am),
        |bx AS (SELECT sb.doc_id, sb.start_frame // 4 AS seg,
        |    sb.start_frame, sb.end_frame, sb.w, sb.h,
        |    GREATEST(MIN(tr.ax) - 1, 0) AS x1,
        |    LEAST(MAX(tr.ax) + 1, sb.w - 1) AS x2,
        |    GREATEST(MIN(tr.ay) - 1, 0) AS y1,
        |    LEAST(MAX(tr.ay) + 1, sb.h - 1) AS y2
        |  FROM sb JOIN tr ON sb.doc_id = tr.doc_id
        |    AND tr.f >= sb.start_frame AND tr.f < sb.end_frame
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |cx AS (SELECT bx.doc_id, bx.seg,
        |    CAST(SUM(pv.v) AS BIGINT) AS sum_rgb_sub
        |  FROM bx JOIN pv ON bx.doc_id = pv.doc_id
        |    AND pv.f >= bx.start_frame AND pv.f < bx.end_frame
        |    AND pv.x >= bx.x1 AND pv.x <= bx.x2
        |    AND pv.y >= bx.y1 AND pv.y <= bx.y2
        |  GROUP BY 1, 2)
        |SELECT bx.doc_id, CAST(bx.seg AS BIGINT) AS seg,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
        |  CAST(x2 - x1 + 1 AS BIGINT) AS crop_w,
        |  CAST(y2 - y1 + 1 AS BIGINT) AS crop_h,
        |  CAST(224 + (end_frame - start_frame) *
        |    (8 + (((x2 - x1 + 1) * 3 + 3) // 4) * 4 * (y2 - y1 + 1))
        |    AS BIGINT) AS sub_bytes,
        |  cx.sum_rgb_sub
        |FROM bx JOIN cx ON bx.doc_id = cx.doc_id AND bx.seg = cx.seg
        |ORDER BY bx.doc_id, seg""".stripMargin,
    // The EP1->EP2->EP3 capstone: the d CTE classifies each doc
    // (format / existing / exception / action vocab), cat replays
    // EP2's dense id continuation as a running count over
    // (existing DESC, path), the pv..cx chain is ref_ep3_mjpeg's
    // pixel replay verbatim (both format classes share the gray
    // block pattern — the transcode's pixel-identity is part of the
    // hash), raw_bytes is the post-EP1 DIB container's closed form,
    // and errors are EP1's exception channel (no catalog identity).
    "ref_pipeline_e2e" ->
      """WITH d AS (SELECT doc_id, 16 + (doc_id % 2) * 8 AS w,
        |    8 + (doc_id % 2) * 8 AS h, 6 + doc_id % 6 AS nf,
        |    doc_id % 11 = 3 AS existing,
        |    doc_id % 11 <> 3 AND doc_id % 13 = 5 AS corrupt,
        |    CASE WHEN doc_id % 5 < 2 THEN 'mjpeg_avi'
        |      ELSE 'dib_avi' END AS fmt,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'eat'
        |      WHEN 1 THEN 'play' WHEN 2 THEN 'sleep'
        |      ELSE 'walk' END AS action,
        |    'videos/' || doc_id || '.avi' AS path
        |  FROM documents),
        |cat AS (SELECT *, CASE WHEN NOT corrupt THEN
        |      SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END)
        |        OVER (ORDER BY existing DESC, path
        |          ROWS UNBOUNDED PRECEDING) - 1
        |    END AS file_index
        |  FROM d),
        |px AS (SELECT doc_id, w, h, nf, fs.f, xs.x, ys.y
        |  FROM d, range(0, 12) fs(f), range(0, 24) xs(x),
        |    range(0, 16) ys(y)
        |  WHERE NOT corrupt AND fs.f < nf AND xs.x < w AND ys.y < h),
        |pv AS (SELECT doc_id, w, h, nf, f, x, y,
        |    3 * (2 * ((doc_id * 5 + f * 29 + (x // 8) * 19
        |      + (y // 8) * 37) % 96) + 32) AS v
        |  FROM px),
        |sg AS (SELECT doc_id, w, h, nf, ss.s AS start_frame
        |  FROM d, range(0, 12, 4) ss(s)
        |  WHERE NOT corrupt AND ss.s < nf),
        |sb AS (SELECT doc_id, w, h, nf, start_frame,
        |    LEAST(start_frame + 5, nf) AS end_frame FROM sg
        |  WHERE LEAST(start_frame + 5, nf) - start_frame >= 4),
        |vm AS (SELECT doc_id, f, MAX(v) AS v_max FROM pv GROUP BY 1, 2),
        |am AS (SELECT pv.doc_id, pv.f, MIN(y * pv.w + x) AS bi,
        |    MAX(pv.w) AS w2
        |  FROM pv JOIN vm ON pv.doc_id = vm.doc_id AND pv.f = vm.f
        |    AND pv.v = vm.v_max
        |  GROUP BY 1, 2),
        |tr AS (SELECT doc_id, f, bi % w2 AS ax, bi // w2 AS ay FROM am),
        |bx AS (SELECT sb.doc_id, sb.start_frame // 4 AS seg,
        |    sb.start_frame, sb.end_frame, sb.w, sb.h,
        |    GREATEST(MIN(tr.ax) - 1, 0) AS x1,
        |    LEAST(MAX(tr.ax) + 1, sb.w - 1) AS x2,
        |    GREATEST(MIN(tr.ay) - 1, 0) AS y1,
        |    LEAST(MAX(tr.ay) + 1, sb.h - 1) AS y2
        |  FROM sb JOIN tr ON sb.doc_id = tr.doc_id
        |    AND tr.f >= sb.start_frame AND tr.f < sb.end_frame
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |cx AS (SELECT bx.doc_id, bx.seg,
        |    CAST(SUM(pv.v) AS BIGINT) AS sum_rgb_sub
        |  FROM bx JOIN pv ON bx.doc_id = pv.doc_id
        |    AND pv.f >= bx.start_frame AND pv.f < bx.end_frame
        |    AND pv.x >= bx.x1 AND pv.x <= bx.x2
        |    AND pv.y >= bx.y1 AND pv.y <= bx.y2
        |  GROUP BY 1, 2),
        |success AS (SELECT c.doc_id,
        |    CASE WHEN c.existing THEN 'batch0'
        |      ELSE 'batch1' END AS dataset,
        |    c.action, c.fmt, 'ok' AS status,
        |    CAST(c.file_index AS BIGINT) AS file_index,
        |    lpad(CAST(c.file_index AS VARCHAR), 6, '0') || '.avi'
        |      AS file_name,
        |    CAST(224 + c.nf * (8 + ((c.w * 3 + 3) // 4) * 4 * c.h)
        |      AS BIGINT) AS raw_bytes,
        |    CAST(bx.seg AS BIGINT) AS seg,
        |    'samples/' || lpad(CAST(c.file_index AS VARCHAR), 6, '0')
        |      || '/seg' || lpad(CAST(bx.seg AS VARCHAR), 2, '0')
        |      || '.avi' AS sample_path,
        |    CAST(bx.start_frame AS BIGINT) AS start_frame,
        |    CAST(bx.end_frame AS BIGINT) AS end_frame,
        |    CAST(bx.x1 AS BIGINT) AS x1, CAST(bx.y1 AS BIGINT) AS y1,
        |    CAST(bx.x2 - bx.x1 + 1 AS BIGINT) AS crop_w,
        |    CAST(bx.y2 - bx.y1 + 1 AS BIGINT) AS crop_h,
        |    CAST(224 + (bx.end_frame - bx.start_frame) *
        |      (8 + (((bx.x2 - bx.x1 + 1) * 3 + 3) // 4) * 4
        |        * (bx.y2 - bx.y1 + 1)) AS BIGINT) AS sub_bytes,
        |    cx.sum_rgb_sub
        |  FROM cat c
        |  JOIN bx ON bx.doc_id = c.doc_id
        |  JOIN cx ON cx.doc_id = bx.doc_id AND cx.seg = bx.seg
        |  WHERE NOT c.corrupt),
        |errors AS (SELECT doc_id, CAST(NULL AS VARCHAR) AS dataset,
        |    action, fmt, 'error' AS status,
        |    CAST(NULL AS BIGINT) AS file_index,
        |    CAST(NULL AS VARCHAR) AS file_name,
        |    CAST(NULL AS BIGINT) AS raw_bytes,
        |    CAST(NULL AS BIGINT) AS seg,
        |    CAST(NULL AS VARCHAR) AS sample_path,
        |    CAST(NULL AS BIGINT) AS start_frame,
        |    CAST(NULL AS BIGINT) AS end_frame,
        |    CAST(NULL AS BIGINT) AS x1, CAST(NULL AS BIGINT) AS y1,
        |    CAST(NULL AS BIGINT) AS crop_w,
        |    CAST(NULL AS BIGINT) AS crop_h,
        |    CAST(NULL AS BIGINT) AS sub_bytes,
        |    CAST(NULL AS BIGINT) AS sum_rgb_sub
        |  FROM cat WHERE corrupt)
        |SELECT * FROM
        |  (SELECT * FROM success UNION ALL SELECT * FROM errors)
        |ORDER BY doc_id, seg NULLS FIRST""".stripMargin,
    // Identical CTE chain to ref_ep3_real (same frame pattern — the
    // container-independence theorem); only the emitted sample's
    // closed-form size changes: mp4SizeVideo's contiguous RGB payload
    // (539 + n*w*h*3) instead of aviSize's per-frame DIB chunks.
    "ref_ep3_mp4" ->
      s"""WITH $segClipSql,
        |vm AS (SELECT doc_id, f, MAX(v) AS v_max FROM pv GROUP BY 1, 2),
        |am AS (SELECT pv.doc_id, pv.f, MIN(y * pv.w + x) AS bi,
        |    MAX(pv.w) AS w2
        |  FROM pv JOIN vm ON pv.doc_id = vm.doc_id AND pv.f = vm.f
        |    AND pv.v = vm.v_max
        |  GROUP BY 1, 2),
        |tr AS (SELECT doc_id, f, bi % w2 AS ax, bi // w2 AS ay FROM am),
        |bx AS (SELECT sb.doc_id, sb.start_frame // 4 AS seg,
        |    sb.start_frame, sb.end_frame, sb.w, sb.h,
        |    GREATEST(MIN(tr.ax) - 1, 0) AS x1,
        |    LEAST(MAX(tr.ax) + 1, sb.w - 1) AS x2,
        |    GREATEST(MIN(tr.ay) - 1, 0) AS y1,
        |    LEAST(MAX(tr.ay) + 1, sb.h - 1) AS y2
        |  FROM sb JOIN tr ON sb.doc_id = tr.doc_id
        |    AND tr.f >= sb.start_frame AND tr.f < sb.end_frame
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |cx AS (SELECT bx.doc_id, bx.seg,
        |    CAST(SUM(pv.v) AS BIGINT) AS sum_rgb_sub
        |  FROM bx JOIN pv ON bx.doc_id = pv.doc_id
        |    AND pv.f >= bx.start_frame AND pv.f < bx.end_frame
        |    AND pv.x >= bx.x1 AND pv.x <= bx.x2
        |    AND pv.y >= bx.y1 AND pv.y <= bx.y2
        |  GROUP BY 1, 2)
        |SELECT bx.doc_id, CAST(bx.seg AS BIGINT) AS seg,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
        |  CAST(x2 - x1 + 1 AS BIGINT) AS crop_w,
        |  CAST(y2 - y1 + 1 AS BIGINT) AS crop_h,
        |  CAST(539 + (end_frame - start_frame) *
        |    (x2 - x1 + 1) * (y2 - y1 + 1) * 3 AS BIGINT) AS sub_bytes,
        |  cx.sum_rgb_sub
        |FROM bx JOIN cx ON bx.doc_id = cx.doc_id AND bx.seg = cx.seg
        |ORDER BY bx.doc_id, seg""".stripMargin,
    // Crop window replay over the shared clip pattern + both
    // closed-form container sizes (Codecs.aviSize for src and crop).
    "mm_crop_clip" ->
      s"""WITH $videoClipSql,
        |cb AS (SELECT doc_id, w, h, nf, doc_id % 2 AS x1,
        |    (doc_id // 2) % 2 AS y1, w - doc_id % 2 - 1 AS cw,
        |    h - (doc_id // 2) % 2 - 1 AS ch FROM d),
        |cs AS (SELECT pv.doc_id, CAST(SUM(pv.v) AS BIGINT)
        |    AS sum_rgb_crop
        |  FROM pv JOIN cb ON pv.doc_id = cb.doc_id
        |  WHERE pv.x >= cb.x1 AND pv.x < cb.x1 + cb.cw
        |    AND pv.y >= cb.y1 AND pv.y < cb.y1 + cb.ch
        |  GROUP BY pv.doc_id)
        |SELECT cb.doc_id,
        |  CAST(224 + nf * (8 + ((w * 3 + 3) // 4) * 4 * h) AS BIGINT)
        |    AS src_bytes,
        |  CAST(224 + nf * (8 + ((cw * 3 + 3) // 4) * 4 * ch) AS BIGINT)
        |    AS crop_bytes,
        |  CAST(cw AS INT) AS crop_w, CAST(ch AS INT) AS crop_h,
        |  CAST(nf AS BIGINT) AS n_frames, cs.sum_rgb_crop
        |FROM cb JOIN cs ON cb.doc_id = cs.doc_id
        |ORDER BY cb.doc_id""".stripMargin,
    "mm_argmax_track" ->
      s"""WITH $videoClipSql,
        |vm AS (SELECT doc_id, f, MAX(v) AS v_max FROM pv GROUP BY 1, 2),
        |am AS (SELECT pv.doc_id, pv.f, MIN(y * pv.w + x) AS bi,
        |    MAX(pv.w) AS w2
        |  FROM pv JOIN vm ON pv.doc_id = vm.doc_id AND pv.f = vm.f
        |    AND pv.v = vm.v_max
        |  GROUP BY 1, 2),
        |tr AS (SELECT am.doc_id, am.f, bi % w2 AS x_max,
        |    bi // w2 AS y_max, vm.v_max
        |  FROM am JOIN vm ON am.doc_id = vm.doc_id AND am.f = vm.f),
        |st AS (SELECT *,
        |    LAG(x_max) OVER (PARTITION BY doc_id ORDER BY f) AS px2,
        |    LAG(y_max) OVER (PARTITION BY doc_id ORDER BY f) AS py2
        |  FROM tr)
        |SELECT doc_id, CAST(f AS BIGINT) AS f,
        |  CAST(x_max AS BIGINT) AS x_max, CAST(y_max AS BIGINT) AS y_max,
        |  CAST(v_max AS BIGINT) AS v_max,
        |  CAST(COALESCE(abs(x_max - px2) + abs(y_max - py2), 0)
        |    AS BIGINT) AS step_l1
        |FROM st ORDER BY doc_id, f""".stripMargin,
    // Arithmetic replays of the deterministic rasters/waveforms the
    // codecs round-trip: the Spark side sums DECODED bytes, so these
    // rows verify the real BMP/WAV parsers, not just the pattern.
    // mm_phash_real's oracle is the ALL-PAIRS spelling (proving the
    // band join lossless at Hamming<=2) over the same block-bit
    // arithmetic the engine computes from decoded pixels.
    "mm_phash_real" ->
      """WITH d AS (SELECT doc_id, doc_id % 97 AS g,
        |    (doc_id // 97) % 3 AS o FROM documents),
        |dm AS (SELECT doc_id, g, o, 16 + g % 16 AS w, 12 + g % 8 AS h
        |  FROM d),
        |px AS (SELECT doc_id, w, h, o, g, xs.x, ys.y
        |  FROM dm, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h),
        |pg AS (SELECT doc_id, (g * 7 + x * 13 + y * 31) % 240 + o AS gray,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS b FROM px),
        |bs AS (SELECT doc_id, b, CAST(SUM(gray) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS c FROM pg GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS tot,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM pg GROUP BY 1),
        |bits AS (SELECT bs.doc_id, b,
        |    CASE WHEN s * n > tot * c THEN 1 ELSE 0 END AS bit
        |  FROM bs JOIN tt USING (doc_id)),
        |hh AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN b < 32
        |      THEN CAST(bit AS BIGINT) << CAST(b AS INT) ELSE 0 END)
        |      AS BIGINT) AS h0,
        |    CAST(SUM(CASE WHEN b >= 32
        |      THEN CAST(bit AS BIGINT) << CAST(b - 32 AS INT) ELSE 0 END)
        |      AS BIGINT) AS h1
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
        |    AS BIGINT) AS hamming
        |FROM hh a JOIN hh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 2
        |ORDER BY da, db""".stripMargin,
    // Same raster pattern as mm_decode_image; dst size is the
    // closed-form single-frame AVI ([[Codecs.aviSize]] replayed).
    "mm_transcode_real" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS src_bytes,
        |  CAST(224 + 8 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS dst_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(SUM((doc_id * 11 + x * 17 + y * 5) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(SUM((doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_decode_image" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS n_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(SUM((doc_id * 11 + x * 17 + y * 5) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(SUM((doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_decode_video" ->
      s"""WITH $videoClipSql,
        |fm AS (SELECT doc_id, w, h, nf, f,
        |    CAST(SUM(v) AS BIGINT) AS s,
        |    (CAST(SUM(v) AS BIGINT) * 1000) // (w * h * 3) AS m
        |  FROM pv GROUP BY 1, 2, 3, 4, 5),
        |fc AS (SELECT doc_id, w, h, nf, s, m,
        |    LAG(m) OVER (PARTITION BY doc_id ORDER BY f) AS pm FROM fm)
        |SELECT doc_id,
        |  CAST(224 + MAX(nf) * (8 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h))
        |    AS BIGINT) AS n_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(MAX(nf) AS BIGINT) AS n_frames, CAST(10 AS INT) AS fps,
        |  CAST(SUM(s) AS BIGINT) AS sum_rgb,
        |  CAST(SUM(CASE WHEN pm IS NOT NULL AND abs(m - pm) >= 20000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
        |FROM fc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_video_segments" ->
      s"""WITH $segClipSql,
        |fm AS (SELECT doc_id, w, h, nf, f, CAST(SUM(v) AS BIGINT) AS s
        |  FROM pv GROUP BY 1, 2, 3, 4, 5),
        |agg AS (SELECT sb.doc_id, start_frame // 4 AS seg,
        |    start_frame, end_frame,
        |    end_frame - start_frame AS n_frames_seg,
        |    CAST(SUM(fm.s) AS BIGINT) AS sum_rgb,
        |    MAX(sb.w * sb.h) AS wh
        |  FROM sb JOIN fm ON sb.doc_id = fm.doc_id
        |    AND fm.f >= sb.start_frame AND fm.f < sb.end_frame
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
        |  CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(n_frames_seg AS BIGINT) AS n_frames_seg, sum_rgb,
        |  CAST(sum_rgb * 1000 // (n_frames_seg * wh * 3) AS BIGINT)
        |    AS mean_rgb_milli
        |FROM agg ORDER BY doc_id, seg""".stripMargin,
    // TIFF: gray-blocky closed-form sums (lossless codec, no class
    // restriction); size_ok is the checked container-size column
    // (stored == closed form; PackBits < it), theorem-spec'd.
    "mm_decode_tiff" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  MAX(CASE doc_id % 3 WHEN 0 THEN 'none'
        |    WHEN 1 THEN 'packbits' ELSE 'lzw' END) AS compression,
        |  CAST(SUM(3 * (2 * ((doc_id * 5 + (x // 8) * 19
        |    + (y // 8) * 37) % 96) + 32)) AS BIGINT) AS sum_rgb,
        |  TRUE AS size_ok
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // TIFF transcode: the mm_decode_image raster pattern through
    // BMP -> PackBits TIFF -> decode; sums from the final decode.
    "mm_transcode_tiff" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS bmp_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256
        |    + (doc_id * 11 + x * 17 + y * 5) % 256
        |    + (doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_rgb,
        |  TRUE AS lossless_ok
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The LZW twin: lossless => the SAME closed form; lzw_tag is the
    // checked Compression(259)==5 IFD fact of the emitted container.
    "mm_transcode_tiff_lzw" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    12 + doc_id % 8 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, xs.x, ys.y
        |  FROM d, range(0, 31) xs(x), range(0, 19) ys(y)
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id,
        |  CAST(54 + ((MAX(w) * 3 + 3) // 4) * 4 * MAX(h) AS BIGINT)
        |    AS bmp_bytes,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256
        |    + (doc_id * 11 + x * 17 + y * 5) % 256
        |    + (doc_id * 3 + x * 29 + y * 23) % 256) AS BIGINT)
        |    AS sum_rgb,
        |  TRUE AS lzw_tag,
        |  TRUE AS lossless_ok
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // G.711 expansion replayed closed-form per sample: mu-law
    // (((m*8+132) << e) - 132 on the complemented byte; A-law the
    // segment table on the 0x55-xored byte. Same per-sample integer
    // steps as Codecs.mulawDecode/alawDecode.
    "mm_decode_g711" ->
      """WITH d AS (SELECT doc_id, 160 + doc_id % 64 AS n,
        |    doc_id % 2 = 0 AS mu FROM documents),
        |sc AS (SELECT doc_id, n, mu, ii.i AS i,
        |    (doc_id * 29 + ii.i * ii.i * 7) % 256 AS c
        |  FROM d, range(0, 224) ii(i) WHERE ii.i < n),
        |v AS (SELECT doc_id, n, mu, i,
        |    CASE WHEN mu THEN (CASE WHEN (255 - c) >= 128 THEN -1 ELSE 1 END)
        |      * ((((255 - c) % 16) * 8 + 132)
        |        * (1 << (((255 - c) // 16) % 8)) - 132)
        |    ELSE (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END)
        |      * (CASE WHEN (xor(c, 85) // 16) % 8 = 0
        |           THEN (xor(c, 85) % 16) * 16 + 8
        |         WHEN (xor(c, 85) // 16) % 8 = 1
        |           THEN (xor(c, 85) % 16) * 16 + 264
        |         ELSE ((xor(c, 85) % 16) * 16 + 264)
        |           * (1 << ((xor(c, 85) // 16) % 8 - 1)) END)
        |    END AS val
        |  FROM sc)
        |SELECT doc_id, CAST(44 + MAX(n) + MAX(n) % 2 AS BIGINT)
        |    AS n_bytes,
        |  MAX(CASE WHEN mu THEN 'mulaw' ELSE 'alaw' END) AS law,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(val)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(ABS(val)) AS BIGINT) AS max_abs
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The companding transcode: the PCM corpus is the codeword image,
    // so the final decode replays the same expansion; sizes are the
    // closed 2:1 forms and both flags are codeword-class theorems.
    "mm_transcode_g711" ->
      """WITH d AS (SELECT doc_id, 160 + doc_id % 64 AS n,
        |    doc_id % 2 = 0 AS mu FROM documents),
        |sc AS (SELECT doc_id, n, mu, ii.i AS i,
        |    (doc_id * 29 + ii.i * ii.i * 7) % 256 AS c
        |  FROM d, range(0, 224) ii(i) WHERE ii.i < n),
        |v AS (SELECT doc_id, n, mu, i,
        |    CASE WHEN mu THEN (CASE WHEN (255 - c) >= 128 THEN -1 ELSE 1 END)
        |      * ((((255 - c) % 16) * 8 + 132)
        |        * (1 << (((255 - c) // 16) % 8)) - 132)
        |    ELSE (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END)
        |      * (CASE WHEN (xor(c, 85) // 16) % 8 = 0
        |           THEN (xor(c, 85) % 16) * 16 + 8
        |         WHEN (xor(c, 85) // 16) % 8 = 1
        |           THEN (xor(c, 85) % 16) * 16 + 264
        |         ELSE ((xor(c, 85) % 16) * 16 + 264)
        |           * (1 << ((xor(c, 85) // 16) % 8 - 1)) END)
        |    END AS val
        |  FROM sc)
        |SELECT doc_id,
        |  CAST(44 + 2 * MAX(n) AS BIGINT) AS pcm_bytes,
        |  CAST(44 + MAX(n) + MAX(n) % 2 AS BIGINT) AS g711_bytes,
        |  MAX(CASE WHEN mu THEN 'mulaw' ELSE 'alaw' END) AS law,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(val)) AS BIGINT) AS sum_abs,
        |  TRUE AS lossless_ok,
        |  TRUE AS half_size
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_decode_audio" ->
      """WITH d AS (SELECT doc_id, 160 + doc_id % 64 AS n FROM documents),
        |sm AS (SELECT doc_id, n,
        |    (doc_id * 37 + ss.i * ss.i * 13) % 4096 - 2048 AS s
        |  FROM d, range(0, 223) ss(i) WHERE ss.i < n)
        |SELECT doc_id,
        |  CAST(44 + 2 * MAX(n) AS BIGINT) AS n_bytes,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(MAX(n) AS BIGINT) AS n_samples,
        |  CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(s)) AS BIGINT) AS max_abs
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_interleave" ->
      """WITH tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |  FROM documents),
        |ch AS (SELECT doc_id, n, unnest(range(0,
        |    GREATEST(CAST(ceil((n - 16) / 16.0) AS BIGINT), 0) + 1))
        |    AS chunk_id
        |  FROM tk),
        |chn AS (SELECT doc_id, chunk_id,
        |    CAST(LEAST(16, n - chunk_id * 16) AS BIGINT) AS n_toks
        |  FROM ch),
        |nch AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
        |  FROM chn GROUP BY doc_id),
        |img AS (SELECT e.vec_id, nch.doc_id,
        |    ((e.vec_id * 2654435761) % n_chunks) * 2 AS pos_key
        |  FROM embeddings e JOIN nch ON nch.doc_id = e.vec_id % 500),
        |rws AS (
        |  SELECT doc_id, chunk_id * 2 + 1 AS pos_key, 'text' AS kind,
        |    chunk_id AS ref_id, n_toks FROM chn
        |  UNION ALL
        |  SELECT doc_id, pos_key, 'image' AS kind, vec_id AS ref_id,
        |    CAST(64 AS BIGINT) AS n_toks FROM img),
        |seq AS (SELECT doc_id, kind, ref_id, n_toks,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY pos_key, ref_id) AS seq_i,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY doc_id
        |      ORDER BY pos_key, ref_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS tok_offset
        |  FROM rws)
        |SELECT doc_id, CAST(seq_i AS INT) AS seq_i, kind, ref_id, n_toks,
        |  CAST(tok_offset AS BIGINT) AS tok_offset
        |FROM seq ORDER BY doc_id, seq_i""".stripMargin,
    "mm_scene_cuts" ->
      s"""WITH fr AS (SELECT doc_id, length(text) % 50 + 10 AS n_frames
         |  FROM documents),
         |f AS (SELECT doc_id, unnest(range(0, n_frames)) AS f FROM fr),
         |l AS (SELECT doc_id, f,
         |    ((doc_id * 7919 + (f // 8) * 104729) % 1000000007) % 256 AS luma
         |  FROM f),
         |c AS (SELECT doc_id, f, luma,
         |    CASE WHEN lag(luma) OVER w IS NULL
         |      OR abs(luma - lag(luma) OVER w) > $SceneCutThreshold
         |      THEN 1 ELSE 0 END AS cut
         |  FROM l WINDOW w AS (PARTITION BY doc_id ORDER BY f ASC)),
         |sg AS (SELECT doc_id, f, luma,
         |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY f ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS seg
         |  FROM c)
         |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
         |  CAST(MIN(f) AS INT) AS start_frame,
         |  CAST(MAX(f) AS INT) AS end_frame,
         |  CAST(COUNT(*) AS BIGINT) AS n_frames,
         |  CAST(MIN(luma) AS BIGINT) AS luma
         |FROM sg GROUP BY doc_id, seg ORDER BY doc_id, seg""".stripMargin,
    "mm_audio_vad" ->
      s"""WITH fr AS (SELECT doc_id, length(text) % 80 + 20 AS n_frames
         |  FROM documents),
         |f AS (SELECT doc_id, unnest(range(0, n_frames)) AS f FROM fr),
         |e AS (SELECT doc_id, f,
         |    ((doc_id * 104729 + (f // 4) * 7919) % 1000000007) % 100
         |      AS energy
         |  FROM f),
         |sp AS (SELECT doc_id, f FROM e
         |  WHERE energy >= $VadEnergyThreshold),
         |m AS (SELECT doc_id, f,
         |    CASE WHEN lag(f) OVER w IS NULL
         |      OR f - lag(f) OVER w > ${VadMaxGapFrames + 1}
         |      THEN 1 ELSE 0 END AS brk
         |  FROM sp WINDOW w AS (PARTITION BY doc_id ORDER BY f ASC)),
         |sg AS (SELECT doc_id, f,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY f ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
         |      AS seg
         |  FROM m),
         |ag AS (SELECT doc_id, CAST(seg AS BIGINT) AS seg,
         |    CAST(MIN(f) AS BIGINT) AS start_frame,
         |    CAST(MAX(f) AS BIGINT) AS end_frame,
         |    CAST(COUNT(*) AS BIGINT) AS n_speech
         |  FROM sg GROUP BY doc_id, seg)
         |SELECT doc_id, seg, start_frame, end_frame, n_speech,
         |  end_frame - start_frame + 1 - n_speech AS bridged_frames
         |FROM ag WHERE n_speech >= $VadMinSpeechFrames
         |ORDER BY doc_id, seg""".stripMargin,
    "mm_phash_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) >= 1),
        |pix AS MATERIALIZED (SELECT doc_id, r.i AS i,
        |    CAST(ascii(substr(text, CAST(1 + (r.i * (n - 1)) // 59 AS INT), 1))
        |      AS BIGINT) AS p
        |  FROM d, UNNEST(range(0, 60)) AS r(i)),
        |m AS (SELECT doc_id, SUM(p) // 60 AS avgp FROM pix GROUP BY doc_id),
        |bits AS MATERIALIZED (SELECT pix.doc_id, i,
        |    CASE WHEN p > avgp THEN 1 ELSE 0 END AS bit
        |  FROM pix JOIN m ON pix.doc_id = m.doc_id),
        |bands AS (SELECT doc_id, i // 15 AS band,
        |    CAST(SUM(bit * CAST(power(2, i % 15) AS BIGINT)) AS BIGINT) AS bv
        |  FROM bits GROUP BY doc_id, i // 15),
        |cand AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db
        |  FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
        |    AND l.doc_id < r.doc_id)
        |SELECT da, db,
        |  CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hamming
        |FROM cand JOIN bits ba ON da = ba.doc_id
        |JOIN bits bb ON db = bb.doc_id AND ba.i = bb.i
        |GROUP BY da, db
        |HAVING SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) <= 8
        |ORDER BY da, db""".stripMargin,
    "mm_caption_align" -> {
      val dot = graft.functions.Similarity.sqlDot("iv", "cv")
      s"""WITH e AS (SELECT vec_id, embedding,
         |    sqrt(${graft.functions.Similarity.sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |img AS (SELECT vec_id // 2 AS pair_id, embedding AS iv,
         |    nrm AS inrm FROM e WHERE vec_id % 2 = 0),
         |cap AS (SELECT (vec_id - 1) // 2 AS pair_id, embedding AS cv,
         |    nrm AS cnrm FROM e WHERE vec_id % 2 = 1)
         |SELECT pair_id, round($dot / (inrm * cnrm), 4) AS cos,
         |  CAST(round($dot / (inrm * cnrm), 4) >= 0.25 AS INT) AS kept
         |FROM img JOIN cap USING (pair_id)
         |ORDER BY pair_id""".stripMargin
    },
    "mm_pack_shards" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_bytes,
        |    CAST(SUM(n_bytes) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_bytes
        |  FROM b)
        |SELECT doc_id, lang, n_bytes, cum_bytes,
        |  (cum_bytes - n_bytes) // 4096 AS shard_id,
        |  cum_bytes - n_bytes - ((cum_bytes - n_bytes) // 4096) * 4096
        |    AS offset_in_shard
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    "udf_transcode" ->
      """SELECT doc_id, 'mp4:' || to_base64(encode(text)) AS transcoded,
        |  CAST(octet_length(encode(text)) AS INT) AS src_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "udf_inference" ->
      """SELECT f AS frame_id, CAST(i AS INT) AS det_i,
        |  (f*7 + i) % 5 AS sub_id, (f*13 + i) % 20 AS cls,
        |  (f*11 + i*29) % 600 AS x1, (f*17 + i*37) % 440 AS y1,
        |  (f*11 + i*29) % 600 + f % 80 + 20 AS x2,
        |  (f*17 + i*37) % 440 + f % 60 + 20 AS y2
        |FROM (SELECT event_id AS f FROM events WHERE event_id < 1000),
        |  UNNEST(range(0, f % 3 + 1)) AS r(i)
        |ORDER BY frame_id, det_i""".stripMargin,
    // Mirrors mmResolutionFilter: surrogate dims, integer
    // cross-multiplied aspect band, small-before-aspect priority.
    "mm_resolution_filter" ->
      """WITH d AS (SELECT source,
        |    64 + octet_length(encode(text)) % 128 AS w,
        |    48 + octet_length(encode(text)) % 96 AS h
        |  FROM documents),
        |v AS (SELECT source,
        |    CASE WHEN LEAST(w, h) < 64 THEN 'small'
        |         WHEN w > h * 2 OR h > w * 2 THEN 'aspect'
        |         ELSE 'kept' END AS verdict
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN verdict = 'small' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_small,
        |  CAST(SUM(CASE WHEN verdict = 'aspect' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_aspect,
        |  CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm
        |FROM v GROUP BY source ORDER BY source""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  substring(sha256(text), 1, 16) AS content_sha,
        |  CAST(64 + octet_length(encode(text)) % 128 AS INT) AS width,
        |  CAST(48 + octet_length(encode(text)) % 96 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH v AS (SELECT doc_id, length(text) % 50 + 10 AS n_frames FROM documents)
        |SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
        |  CAST(r.i AS INT) AS sample_i,
        |  CAST(r.i * 5 AS INT) AS frame_idx
        |FROM v, UNNEST(range(0, (n_frames + 4) // 5)) AS r(i)
        |ORDER BY doc_id, sample_i""".stripMargin,
  )
}
