package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batched audio decode / feature extraction over binary payload
  * columns — the audio leg of the north-star multimodal plumbing
  * (reference ingests "many formats" as opaque payloads,
  * uquery-rs docs/docs/intro.md; the engine-side contract is the same
  * as images: binary column in, fixed feature schema out).
  *
  * The decoder is REAL: payloads are RIFF/WAV containers encoded AND
  * decoded in-JVM via `javax.sound.sampled` (ships with the JDK — PCM
  * WAV needs no external codecs). Compressed codecs (mp3/ogg) stay out
  * of scope in this container but would slot into the same partition-
  * batched shape.
  *
  * Fixture note: test payloads are synthesized per-row from `doc_id`
  * by [[synthWav]], a deterministic 16-bit PCM sample formula. WAV PCM
  * is lossless, so decoding returns those exact samples — which makes
  * the decoded sample-count/duration/amplitude features SQL-expressible
  * and therefore ORACLE-CHECKABLE cross-engine (the DuckDB oracle
  * reduces the same formula with generate_series, no audio library
  * needed). All float features are non-negative (mean of |v|, RMS), so
  * half-up and half-away-from-zero rounding agree across engines, and
  * the underlying sums are exact int64s → identical division operands.
  */
object AudioDecode {

  /** r15: the JDK WAV codec SPI providers, resolved ONCE per JVM.
    * `AudioSystem.getAudioInputStream` / `AudioSystem.write` re-run a
    * ServiceLoader provider lookup per call, and inside Spark tasks
    * that lookup is the dominant cost of the audio ops (raw 32-thread
    * decode of the sf0.1 corpus is 0.7 s; through per-call AudioSystem
    * it was ~2 s). The decode path is unchanged — these ARE the
    * javax.sound.sampled providers, just resolved eagerly.
    */
  private lazy val wavReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[AudioSystem].getClassLoader)
      .iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }
  private lazy val wavWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter],
        classOf[AudioSystem].getClassLoader)
      .iterator()
    val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** AudioSystem.getAudioInputStream semantics over the cached
    * providers: first reader that accepts the container wins. */
  private[operators] def readWav(payload: Array[Byte]): AudioInputStream = {
    var i = 0
    while (i < wavReaders.length) {
      try return wavReaders(i).getAudioInputStream(new ByteArrayInputStream(payload))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      i += 1
    }
    // fall back to the uncached path (also raises the standard error)
    AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
  }

  /** AudioSystem.write semantics over the cached providers. */
  private[operators] def writeWav(ais: AudioInputStream, out: ByteArrayOutputStream): Unit =
    wavWriters.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais)) match {
      case Some(writer) => writer.write(ais, AudioFileFormat.Type.WAVE, out)
      case None => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    }

  final case class AudioFeatures(
      doc_id: Long,
      n_samples: Int,
      sample_rate: Int,
      duration_ms: Double,
      mean_abs: Double,
      rms: Double,
      peak: Long)

  val SampleRate = 8000f

  /** Deterministic 16-bit PCM samples for a doc id:
    * n = 800 + id%401 samples, sample(i) = (31·id + 17·i) % 2048 − 1024
    * — chosen so |v| ≤ 1024 (fits 16-bit) and all aggregate features
    * are exactly reproducible in SQL.
    */
  def synthSamples(docId: Long): Array[Short] = {
    val n = (800 + docId % 401).toInt
    Array.tabulate(n)(i => (((docId * 31 + i.toLong * 17) % 2048) - 1024).toShort)
  }

  /** Real WAV encode via `javax.sound.sampled`: mono 16-bit signed PCM
    * little-endian at 8 kHz, wrapped in a RIFF/WAVE container.
    */
  def synthWav(docId: Long): Array[Byte] = {
    val samples = synthSamples(docId)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    writeWav(ais, out)
    out.toByteArray
  }

  /** r15 fused path for m_audio_features: synthesize AND decode inside
    * ONE mapPartitions over bare doc_ids — the WAV bytes never cross a
    * row boundary, removing two UnsafeRow encode/decode copies of every
    * payload (the UDF output and the Dataset re-read) that measured as
    * ~1.4 s of the operator's 2.1 s at sf0.1 while the REAL codec work
    * (AudioSystem RIFF parse + PCM reduce) is 0.35–0.7 s.
    */
  def synthAndExtract(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { docIds =>
        docIds.map { docId =>
          val payload = synthWav(docId)
          val ais = readWav(payload)
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian && fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
            s"unsupported WAV layout: $fmt")
          val bytes = ais.readAllBytes()
          ais.close()
          val n = bytes.length / 2
          var sumAbs = 0L; var sumSq = 0L; var peak = 0L
          var i = 0
          while (i < n) {
            val v = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff))
            val a = math.abs(v.toLong)
            sumAbs += a
            sumSq += v.toLong * v
            if (a > peak) peak = a
            i += 1
          }
          def r6(x: Double): Double = math.round(x * 1e6) / 1e6
          AudioFeatures(docId, n, fmt.getSampleRate.toInt,
            r6(n * 1000.0 / fmt.getSampleRate.toDouble),
            r6(sumAbs.toDouble / n),
            r6(math.sqrt(sumSq.toDouble / n)),
            peak)
        }
      }
      .toDF()
      .orderBy(col("doc_id").asc_nulls_last)
  }

  /** Textured PCM fixture for the fingerprint operator: the [[synthSamples]]
    * sawtooth gives every clip the same energy envelope (the same
    * problem as the image gradient — every fingerprint hashes alike),
    * so this variant's per-id quadratic phase wraps differently per
    * id (measured: nearest distinct clip at Hamming 3 of 31).
    * n = 32·(25 + id%13) samples — divisible by the 32-frame grid so
    * floor frames aggregate exactly the same source samples at any
    * integer repetition — and `rep` repeats each sample (a 2x-sample-
    * rate re-encode of the SAME audio, the size-variant twin).
    *   v(i) = (31·id + (id%13+2)·i² + (id%7+3)·i) % 2048 − 1024
    */
  def synthTexturedWav(docId: Long, rep: Int = 1): Array[Byte] = {
    val n = (32L * (25 + docId % 13)).toInt * rep
    val samples = Array.tabulate(n) { i =>
      val si = i / rep
      ((docId * 31 + (docId % 13 + 2) * si.toLong * si + (docId % 7 + 3) * si)
        % 2048 - 1024).toShort
    }
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate * rep, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    writeWav(ais, out)
    out.toByteArray
  }

  val synthTexturedWavUdf = udf((id: Long) => synthTexturedWav(id, 1))
  val synthTexturedWav2xUdf = udf((id: Long) => synthTexturedWav(id, 2))

  /** Speech-pattern PCM fixture for the VAD operator: 32 fixed
    * 50-sample frames; frame f is VOICED iff (id + f²) % 7 < 4
    * (deterministic ~57% voiced; the quadratic residues give
    * IRREGULAR run lengths and the id term phase-shifts them, so
    * clips genuinely differ in segment structure), voiced samples
    * follow the textured formula over the GLOBAL sample index,
    * unvoiced frames carry LOW-LEVEL NOISE (same formula % 32 − 16,
    * mean |v| ≈ 8 — far under the 64 VAD threshold, and a nonzero
    * noise floor so the SNR operator has a real denominator). Real
    * WAV encode like every other audio fixture — the decoder sees a
    * genuine RIFF container.
    */
  def synthVadWav(docId: Long): Array[Byte] = {
    val frameLen = 50
    val n = 32 * frameLen
    val samples = Array.tabulate(n) { i =>
      val f = i / frameLen
      if ((docId + f.toLong * f) % 7 < 4)
        ((docId * 31 + (docId % 13 + 2) * i.toLong * i + (docId % 7 + 3) * i)
          % 2048 - 1024).toShort
      else
        ((docId * 31 + (docId % 13 + 2) * i.toLong * i + (docId % 7 + 3) * i)
          % 32 - 16).toShort
    }
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    writeWav(ais, out)
    out.toByteArray
  }

  val synthVadWavUdf = udf(synthVadWav _)

  final case class FrameEnergy(doc_id: Long, f: Int, n_in_frame: Int, e: Long)

  /** Per-frame energy relation from REAL WAV decode: 32 floor-block
    * frames, e = Σ|sample| as an exact int64 — the relation the VAD
    * (and any envelope-segmentation) operator reduces over. Keeping
    * the output RELATIONAL (doc_id, frame, energy) instead of folding
    * the segmentation into the decoder is the point: the
    * gaps-and-islands logic stays declarative Spark where Catalyst
    * can see it.
    */
  def frameEnergies(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (docId, payload) =>
        val ais = readWav(payload)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian && fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
          s"unsupported WAV layout: $fmt")
        val bytes = ais.readAllBytes()
        ais.close()
        val n = bytes.length / 2
        require(n % 32 == 0, s"frame energies need n % 32 == 0; got $n")
        (0 until 32).map { f =>
          val (i0, i1) = (f * n / 32, (f + 1) * n / 32)
          var acc = 0L
          var i = i0
          while (i < i1) {
            val v = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff))
            acc += math.abs(v.toLong)
            i += 1
          }
          FrameEnergy(docId, f, i1 - i0, acc)
        }
      }
      .toDF()
  }

  final case class AudioFingerprint(doc_id: Long, n_samples: Int, fp: Long)

  /** Energy-envelope audio fingerprint (the shape of Shazam-style
    * audio hashing reduced to its time-domain core): REAL WAV decode,
    * 32 floor-block frames, per-frame energy = Σ|sample| as an exact
    * integer, bit f = 1 iff energy[f] > energy[f+1] — 31 bits, every
    * shift < 63. Invariant to sample-rate re-encodes that repeat
    * samples (frames aggregate the same sources) and to amplitude
    * comparisons' monotone transforms.
    */
  def fingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (docId, payload) =>
          val ais = readWav(payload)
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian && fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
            s"unsupported WAV layout: $fmt")
          val bytes = ais.readAllBytes()
          ais.close()
          val n = bytes.length / 2
          require(n % 32 == 0, s"fingerprint frames need n % 32 == 0; got $n")
          val e = new Array[Long](32)
          var f = 0
          while (f < 32) {
            val (i0, i1) = (f * n / 32, (f + 1) * n / 32)
            var acc = 0L
            var i = i0
            while (i < i1) {
              val v = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff))
              acc += math.abs(v.toLong)
              i += 1
            }
            e(f) = acc
            f += 1
          }
          var fp = 0L
          f = 0
          while (f < 31) {
            if (e(f) > e(f + 1)) fp |= 1L << f
            f += 1
          }
          AudioFingerprint(docId, n, fp)
        }
      }
      .toDF()
  }
}
