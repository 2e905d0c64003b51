package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, decoded/feature-extracted in
  * partition-parallel batches.
  *
  * The Spark-side architecture is real and tested — schema, typed
  * Dataset plumbing, `mapPartitions` batch shape, deterministic
  * feature extraction over raw bytes. The still-image codec is
  * pluggable behind [[ImageCodec]]: [[ImageIoCodec]] does real
  * PNG/JPEG decode with the JDK's own `javax.imageio` (no extra
  * dependency), while [[StubCodec]] remains the deterministic-fake
  * default for generic opaque payloads (e.g. [[assetsFromDocuments]]
  * text bytes, which no real codec could decode). VIDEO is real:
  * [[Video.AviMjpegCodec]] writes and walks genuine RIFF/AVI
  * containers with JPEG frames — AVI is the same RIFF format
  * [[WavCodec]] parses, MJPEG frames are plain imageio JPEG.
  * AUDIO is real: [[WavCodec]] parses genuine RIFF/WAVE containers
  * with the JDK's own `javax.sound.sampled` — header decode, PCM
  * frame extraction, integer amplitude statistics — and
  * [[synthWavAssets]] writes real WAV payloads through the same
  * library, so the decode path is exercised against true container
  * bytes, not fakes. Swapping codecs changes no plan shape —
  * `mapPartitions` amortizes per-partition codec init (the expensive
  * part at 100 TB) exactly the same way.
  */
object Multimodal {

  /** An opaque media asset: payload bytes + typed metadata. */
  case class Asset(
      asset_id: Long,
      mime: String,
      payload: Array[Byte])

  /** Deterministic per-asset features extracted from raw bytes. */
  case class AssetFeatures(
      asset_id: Long,
      mime: String,
      n_bytes: Long,
      content_hash: String,
      width: Int,
      height: Int)

  /** The still-image codec surface the pipeline operators are generic
    * over. Implementations must be Serializable — instances ride into
    * `mapPartitions` closures. Two implementations ship:
    * [[StubCodec]] (deterministic fakes, works on any bytes — the
    * CI/oracle path) and [[ImageIoCodec]] (real PNG/JPEG decode via
    * the JDK's own `javax.imageio`, zero extra dependencies).
    */
  trait ImageCodec extends Serializable {
    /** Decode the payload's (width, height). */
    def decodeImage(payload: Array[Byte]): (Int, Int)
    /** Scale the payload to w×h and re-encode. */
    def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte]
  }

  /** Deliberately-stubbed codec. Real deployments replace `decodeImage`
    * with an actual library call; everything around it (batching,
    * schema, determinism of the fake) is production plumbing.
    */
  object StubCodec extends ImageCodec {
    /** STUB: derives a deterministic fake (width, height) from the
      * payload bytes instead of decoding a real image.
      */
    def decodeImage(payload: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(payload)
      (512 + (h & 0x3FF), 512 + ((h >>> 10) & 0x3FF))
    }

    def md5Hex(payload: Array[Byte]): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
      d.map("%02x".format(_)).mkString
    }

    /** STUB: fake clip duration derived from payload size (real codec:
      * container metadata read).
      */
    def durationMs(payload: Array[Byte]): Long = payload.length.toLong * 10L

    /** STUB: deterministic fake frame bytes for a timestamp (real
      * codec: seek + decode). Output depends on (payload, tsMs) only.
      */
    def frameAt(payload: Array[Byte], tsMs: Long): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(payload)
      md.update(java.nio.ByteBuffer.allocate(8).putLong(tsMs).array())
      md.digest()
    }

    /** STUB: deterministic fake resize (real codec: scale + re-encode).
      * Output depends on (payload, w, h) only.
      */
    def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      frameAt(payload, (w.toLong << 32) | h.toLong)
  }

  /** Real still-image codec on the JDK's `javax.imageio` — PNG, JPEG,
    * GIF, BMP with no dependency beyond the JRE. Dimension decode
    * reads only the header (the reader reports width/height without
    * materializing pixel data), which is what a 100 TB metadata pass
    * wants; resize materializes, scales bilinearly, and re-encodes as
    * PNG. Fails loudly on undecodable payloads — at scale, route
    * assets through a `mime` filter first or wrap with a quarantine
    * try/catch in the caller, rather than silently fabricating
    * dimensions (that is StubCodec's documented job).
    */
  object ImageIoCodec extends ImageCodec {
    def decodeImage(payload: Array[Byte]): (Int, Int) = {
      Multimodal.imageIoMemCache()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, "ImageIoCodec: no reader for payload bytes")
        val r = readers.next()
        try { r.setInput(iis); (r.getWidth(0), r.getHeight(0)) }
        finally r.dispose()
      } finally iis.close()
    }

    def resizeImage(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      Multimodal.imageIoMemCache()
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null, "ImageIoCodec: undecodable payload")
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** Decoded audio-clip metadata + integer amplitude statistics. */
  case class AudioMeta(
      sampleRate: Int,
      channels: Int,
      bits: Int,
      nFrames: Long,
      peak: Long,
      sumAbs: Long)

  /** Per-clip audio features, the query-surface row shape: all
    * integral (peak and Σ|s| over 16-bit samples — a 100 TB corpus of
    * hour-long clips sums to ~1e17 per clip worst-case, inside long),
    * so the result is layout-exact and oracle-replayable.
    */
  case class AudioClipFeatures(
      asset_id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      duration_ms: Long,
      peak: Long,
      sum_abs: Long)

  /** Audio codec surface: payload bytes → format metadata + amplitude
    * stats. Implementations ride into `mapPartitions` closures.
    */
  trait AudioCodec extends Serializable {
    def decodeAudio(payload: Array[Byte]): AudioMeta
  }

  /** REAL audio decode on the JDK's `javax.sound.sampled` — parses
    * the RIFF/WAVE container (header → AudioFormat, then streamed PCM
    * frame extraction), no dependency beyond the JRE. Restricted to
    * 16-bit signed little-endian PCM — the overwhelmingly dominant
    * WAV layout — and fails loudly otherwise (at scale, route through
    * a mime/format filter or a caller-side quarantine, never fabricate
    * stats). Amplitude statistics are integral: peak = max |s|,
    * sum_abs = Σ|s| over all samples across channels.
    */
  object WavCodec extends AudioCodec {
    def decodeAudio(payload: Array[Byte]): AudioMeta = {
      // SoundIo, not AudioSystem: the platform (java.desktop) WAV
      // providers, same parse, minus the per-call global provider
      // lock (see SoundIo's doc; app-classpath audio SPIs are
      // deliberately out of scope — the codec surface is WAV-only)
      val ais = SoundIo.audioInputStream(payload)
      try {
        val f = ais.getFormat
        require(
          f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && !f.isBigEndian,
          s"WavCodec: only 16-bit signed LE PCM supported, got $f")
        val bytes = ais.readAllBytes()
        val nSamples = bytes.length / 2
        var peak = 0L
        var sumAbs = 0L
        var i = 0
        while (i < nSamples) {
          val v = (((bytes(2 * i + 1).toInt << 8) |
            (bytes(2 * i) & 0xFF)).toShort).toLong
          val a = math.abs(v)
          if (a > peak) peak = a
          sumAbs += a
          i += 1
        }
        AudioMeta(f.getSampleRate.toInt, f.getChannels, 16,
          ais.getFrameLength, peak, sumAbs)
      } finally ais.close()
    }
  }

  /** Synthesize REAL mono 16-bit PCM WAV payloads, one per document
    * id — written through `javax.sound.sampled.AudioSystem.write`, so
    * [[WavCodec]] round-trips against true container bytes. The
    * waveform is a deterministic integer recurrence of (id, i) alone
    * (no floats, no RNG), which is what lets the DuckDB oracle replay
    * the decoded amplitude statistics exactly: clip i has
    * n = 8000 + id % 8000 samples (1–2 s at `rate`), sample
    * s_i = ((id·40503 + i·2654435761) mod 65536) − 32768.
    * Partition-parallel 1→1 synthesis; no shuffle.
    */
  /** Spread per-clip work across tasks before a heavy 1→1/1→N
    * mapPartitions: the documents fixture is ONE small parquet split,
    * so without an explicit repartition every clip of a per-clip-
    * linear operator lands in a single task and the whole pipeline
    * serializes (measured: q_video_features 12.4 s at sf0.1 on one
    * thread, ~1 s spread). One id-keyed exchange of bare longs buys
    * full core utilization; a real 100 TB binary-asset corpus
    * arrives pre-split across files and skips this, which is why the
    * repartition lives in the SYNTH fixtures, not the decode
    * operators.
    */
  private[multimodal] def spreadIds(docs: DataFrame): DataFrame = {
    // EXPLICIT partition count: `repartition(col)` without a count is
    // a REPARTITION_BY_COL shuffle, which AQE may coalesce BY SIZE —
    // and 500k bare ids are ~4 MB, so the "spread" collapsed back to
    // one task (observed via jstack at the 100× sweep: 2 runnable
    // synth threads on a 32-core box). Pinning the count makes it a
    // REPARTITION_BY_NUM shuffle AQE must honor; the per-ROW work
    // here is heavy codec time, so partition count must track cores,
    // not byte size.
    val n = docs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    docs.select(col("doc_id")).repartition(n, col("doc_id"))
  }

  /** Disable `javax.imageio`'s DISK-backed stream caches for this
    * JVM. By default every `ImageIO.read`/`write`/
    * `createImageInputStream` call routes bytes through a
    * `FileCache*Stream` TEMP FILE — ~6 ms of file create/write/delete
    * per tiny frame, which dwarfs the actual codec work on
    * thumbnail-sized media (measured: the AVI pipeline spent ~85% of
    * its time in temp-file churn). All payloads here are in-memory
    * byte arrays, so the memory cache is strictly better. Idempotent
    * volatile set — call it at the top of every imageio-using
    * partition closure (executors each set it once per JVM).
    */
  private[multimodal] def imageIoMemCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache)
      javax.imageio.ImageIO.setUseCache(false)

  /** `javax.sound.sampled` through the public SPI, with the provider
    * list resolved ONCE per JVM. The static `AudioSystem.write` /
    * `getAudioInputStream` entry points route EVERY call through
    * `com.sun.media.sound.JDK13Services.getProviders`, whose lookup
    * synchronizes on a global class monitor — measured r16 on
    * local[32]: 29 of 32 executor threads sat BLOCKED on
    * `JSSecurityManager.getProviders` during the audio stages, i.e.
    * the whole fingerprint pass ran effectively single-threaded
    * (stage executorRunTime 67 s vs 3.3 s of actual CPU). Resolving
    * the same providers once via `ServiceLoader` (the library's own
    * public extension point — AudioSystem consults the identical
    * instances) removes the per-call lock with byte-identical
    * encode/decode behavior. Provider instances are stateless
    * (each call builds fresh stream objects), exactly why the JDK
    * itself shares one instance across threads.
    */
  private[multimodal] object SoundIo {
    import javax.sound.sampled.{AudioFileFormat, AudioInputStream, UnsupportedAudioFileException}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}

    private lazy val readers: List[AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      // WAVE reader FIRST: the JDK's SoftMidiAudioFileReader probes a
      // payload by calling MidiSystem.getSequence, which re-enters the
      // very JDK13Services global lock this cache exists to avoid
      // (measured: 30/32 threads re-blocked through the MIDI probe
      // when it sat ahead of the WAV reader); readers that reject
      // WAV headers locally sort by class name for determinism
      // pinned to the platform classloader (not the thread-context
      // one): on a cluster with user-jar-first classloading a task
      // TCCL could resolve a different provider set than
      // AudioSystem's JDK13Services lookup would (history/ADVICE.md);
      // the java.desktop module catalog is what this cache must mirror
      java.util.ServiceLoader
        .load(classOf[AudioFileReader], classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .iterator().asScala.toList
        .sortBy(r => (!r.getClass.getName.contains("WaveFileReader"),
          r.getClass.getName.contains("Midi"),
          r.getClass.getName))
    }
    private lazy val writers: List[AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[AudioFileWriter], classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .iterator().asScala.toList
    }

    /** `AudioSystem.getAudioInputStream` minus the global lock: first
      * provider that accepts the payload wins (the JDK's own loop
      * shape); a fresh ByteArrayInputStream per attempt stands in for
      * AudioSystem's mark/reset rewind.
      */
    def audioInputStream(payload: Array[Byte]): AudioInputStream = {
      val it = readers.iterator
      while (it.hasNext) {
        try return it.next().getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch { case _: UnsupportedAudioFileException => () }
      }
      throw new UnsupportedAudioFileException(
        "SoundIo: no installed AudioFileReader accepts the payload")
    }

    /** `AudioSystem.write(ais, WAVE, out)` minus the global lock. */
    def writeWave(ais: AudioInputStream, out: java.io.OutputStream): Unit = {
      val w = writers.find(
        _.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais))
      require(w.isDefined, "SoundIo: no installed WAVE AudioFileWriter")
      w.get.write(ais, AudioFileFormat.Type.WAVE, out)
      ()
    }
  }

  def synthWavAssets(
      spark: SparkSession,
      docs: DataFrame,
      rate: Int = 8000): Dataset[Asset] = {
    import spark.implicits._
    spreadIds(docs).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (8000L + id % 8000L).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v =
            (((id * 40503L + i.toLong * 2654435761L) % 65536L) -
              32768L).toInt
          pcm(2 * i) = (v & 0xFF).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        SoundIo.writeWave(ais, bos)
        Asset(id, "audio/wav", bos.toByteArray)
      }
    }
  }

  /** Partition-parallel audio feature extraction over real WAV
    * containers — the audio analogue of [[extractFeatures]]. 1→1, no
    * shuffle; duration_ms = frames·1000 div rate (exact floor — never
    * a float quotient).
    */
  def extractAudioFeatures(
      spark: SparkSession,
      assets: Dataset[Asset],
      codec: AudioCodec = WavCodec): Dataset[AudioClipFeatures] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val m = codec.decodeAudio(a.payload)
        AudioClipFeatures(a.asset_id, m.sampleRate, m.channels, m.bits,
          m.nFrames, m.nFrames * 1000L / m.sampleRate, m.peak, m.sumAbs)
      }
    }
  }

  /** One analysis window of an audio clip. */
  case class AudioWindow(
      asset_id: Long,
      window_idx: Int,
      start_ms: Long,
      end_ms: Long)

  /** Audio window sampling: each clip expands to one row per
    * `everyMs` of its REAL decoded duration (frames·1000/rate from
    * the container header, never metadata trust) — the 1→N flatMap
    * shape of audio preprocessing (VAD windows, diarization chunks,
    * feature frames). Partition-parallel, no shuffle; the final
    * window is clipped to the clip's true end.
    */
  def sampleAudioWindows(
      spark: SparkSession,
      assets: Dataset[Asset],
      everyMs: Long = 250L,
      codec: AudioCodec = WavCodec): Dataset[AudioWindow] = {
    import spark.implicits._
    require(everyMs >= 1L, s"everyMs must be >= 1, got $everyMs")
    assets.mapPartitions { it =>
      it.flatMap { a =>
        val m = codec.decodeAudio(a.payload)
        val dur = m.nFrames * 1000L / m.sampleRate
        val n = math.max(1L, dur / everyMs).toInt
        (0 until n).iterator.map { i =>
          AudioWindow(a.asset_id, i, i.toLong * everyMs,
            math.min((i.toLong + 1L) * everyMs, dur))
        }
      }
    }
  }

  /** One sampled frame of a clip asset. */
  case class Frame(
      asset_id: Long,
      frame_idx: Int,
      ts_ms: Long,
      frame_bytes: Array[Byte])

  /** Build an asset table from the documents table, treating the UTF-8
    * text bytes as the opaque payload (the environment has no real
    * media files; the column types and plan shape are the point).
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      lit("application/octet-stream").as("mime"),
      col("text").cast("binary").as("payload"))

  /** Frame sampling: each asset expands to one row per `everyMs` of
    * its (codec-reported) duration — the 1→N flatMap shape of video
    * preprocessing. Partition-parallel, no shuffle: output partitioning
    * follows the input, and a downstream `repartition` is only needed
    * if frame fan-out skews partition sizes (clip length ≫ average).
    */
  def sampleFrames(
      spark: SparkSession,
      assets: DataFrame,
      everyMs: Long = 1000L): Dataset[Frame] = {
    import spark.implicits._
    assets.as[Asset].mapPartitions { it =>
      it.flatMap { a =>
        val dur = StubCodec.durationMs(a.payload)
        val n = math.max(1L, dur / everyMs).toInt
        (0 until n).iterator.map { i =>
          val ts = i.toLong * everyMs
          Frame(a.asset_id, i, ts, StubCodec.frameAt(a.payload, ts))
        }
      }
    }
  }

  /** Resize: payload → payload, schema-preserving, partition-parallel
    * (the codec call swaps for a real scaler with no plan change).
    */
  def resizeAssets(
      spark: SparkSession,
      assets: DataFrame,
      width: Int,
      height: Int,
      codec: ImageCodec = StubCodec): Dataset[Asset] = {
    import spark.implicits._
    assets.as[Asset].mapPartitions { it =>
      it.map(a => a.copy(payload = codec.resizeImage(a.payload, width, height)))
    }
  }

  /** Partition-parallel feature extraction: one codec instance per
    * partition, streamed row batches, no driver involvement. This is
    * the `mapInPandas` batch shape expressed natively in Scala.
    */
  def extractFeatures(
      spark: SparkSession,
      assets: DataFrame,
      codec: ImageCodec = StubCodec): Dataset[AssetFeatures] = {
    import spark.implicits._
    assets.as[Asset].mapPartitions { it =>
      // per-partition init goes here (codec contexts, model handles)
      it.map { a =>
        val (w, h) = codec.decodeImage(a.payload)
        AssetFeatures(
          asset_id = a.asset_id,
          mime = a.mime,
          n_bytes = a.payload.length.toLong,
          content_hash = StubCodec.md5Hex(a.payload),
          width = w,
          height = h)
      }
    }
  }
}
