package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Log-mel spectrogram featurization — the Whisper/wav2vec-style audio
  * front end: PCM → Hann-windowed STFT (radix-2 Cooley–Tukey FFT) →
  * triangular mel filterbank (HTK mel scale, mel = 2595·log10(1+f/700))
  * → log energies. All public textbook DSP (Oppenheim & Schafer;
  * Davis & Mermelstein 1980 for the mel filterbank).
  *
  * Everything is per-row double arithmetic inside mapPartitions — the
  * same iterator-in/iterator-out codec seam as the decoders: zero
  * shuffle, rows ∝ clips, scan-bandwidth-bound. Deterministic: fixed
  * evaluation order per row, no RNG, no engine-dependent reductions.
  */
object AudioFeatures {

  /** In-place iterative radix-2 FFT; n must be a power of two. */
  def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n == im.length && (n & (n - 1)) == 0, s"power-of-two FFT: $n")
    // bit-reversal permutation
    var j = 0
    for (i <- 0 until n - 1) {
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      var m = n >> 1
      while (m >= 1 && j >= m) { j -= m; m >>= 1 }
      j += m
    }
    // butterflies
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var i = 0
      while (i < n) {
        var cwr = 1.0; var cwi = 0.0
        var k = 0
        while (k < len / 2) {
          val er = re(i + k); val ei = im(i + k)
          val or_ = re(i + k + len / 2); val oi = im(i + k + len / 2)
          val tr = or_ * cwr - oi * cwi
          val ti = or_ * cwi + oi * cwr
          re(i + k) = er + tr; im(i + k) = ei + ti
          re(i + k + len / 2) = er - tr; im(i + k + len / 2) = ei - ti
          val nwr = cwr * wr - cwi * wi
          cwi = cwr * wi + cwi * wr; cwr = nwr
          k += 1
        }
        i += len
      }
      len <<= 1
    }
  }

  def hann(n: Int): Array[Double] =
    Array.tabulate(n)(i => 0.5 - 0.5 * math.cos(2.0 * math.Pi * i / n))

  /** Power spectrum frames: (1 + (n-frameLen)/hop) rows × (frameLen/2+1)
    * bins; Hann window per frame. Clips shorter than one frame give zero
    * frames. */
  def stftPower(samples: Array[Short], frameLen: Int,
      hop: Int): Array[Array[Double]] = {
    require(frameLen > 0 && (frameLen & (frameLen - 1)) == 0, "pow2 frame")
    require(hop > 0, "hop > 0")
    if (samples.length < frameLen) return Array.empty
    val w = hann(frameLen)
    val nFrames = 1 + (samples.length - frameLen) / hop
    Array.tabulate(nFrames) { f =>
      val re = Array.tabulate(frameLen)(i => samples(f * hop + i) * w(i))
      val im = new Array[Double](frameLen)
      fft(re, im)
      Array.tabulate(frameLen / 2 + 1)(k => re(k) * re(k) + im(k) * im(k))
    }
  }

  def hzToMel(f: Double): Double = 2595.0 * math.log10(1.0 + f / 700.0)
  def melToHz(m: Double): Double = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)

  /** Triangular mel filterbank: nMels × (nFft/2+1) weights over
    * [fMin, fMax]. */
  def melFilterbank(nMels: Int, nFft: Int, sampleRate: Double,
      fMin: Double = 0.0, fMax: Double = -1.0): Array[Array[Double]] = {
    val top = if (fMax > 0) fMax else sampleRate / 2.0
    val (mLo, mHi) = (hzToMel(fMin), hzToMel(top))
    // nMels+2 edge points, filter k spans edges [k, k+2] peaking at k+1
    val edges = Array.tabulate(nMels + 2)(i =>
      melToHz(mLo + i * (mHi - mLo) / (nMels + 1)))
    val binHz = sampleRate / nFft
    Array.tabulate(nMels) { k =>
      Array.tabulate(nFft / 2 + 1) { b =>
        val f = b * binHz
        val (lo, c, hi) = (edges(k), edges(k + 1), edges(k + 2))
        if (f <= lo || f >= hi) 0.0
        else if (f <= c) (f - lo) / (c - lo)
        else (hi - f) / (hi - c)
      }
    }
  }

  /** Filter-bank centre frequency of mel bin k (the peak of triangle k) —
    * fixture generators place test tones exactly here. */
  def melCenterHz(k: Int, nMels: Int, sampleRate: Double,
      fMin: Double = 0.0, fMax: Double = -1.0): Double = {
    val top = if (fMax > 0) fMax else sampleRate / 2.0
    val (mLo, mHi) = (hzToMel(fMin), hzToMel(top))
    melToHz(mLo + (k + 1) * (mHi - mLo) / (nMels + 1))
  }

  /** Log-mel spectrogram: frames × nMels, log10 floored at 1e-10. */
  def logMel(samples: Array[Short], sampleRate: Double, frameLen: Int,
      hop: Int, nMels: Int): Array[Array[Double]] = {
    val power = stftPower(samples, frameLen, hop)
    if (power.isEmpty) return Array.empty
    val fb = melFilterbank(nMels, frameLen, sampleRate)
    power.map { frame =>
      Array.tabulate(nMels) { k =>
        var acc = 0.0
        val w = fb(k)
        var b = 0
        while (b < frame.length) { acc += w(b) * frame(b); b += 1 }
        math.log10(math.max(acc, 1e-10))
      }
    }
  }

  /** Orthonormal DCT-II of `x`, truncated to the first `nCoeffs`
    * cepstral coefficients — the step that turns log-mel into MFCCs
    * (Davis & Mermelstein 1980; the HTK/librosa `dct(..., norm='ortho')`
    * convention: c_u = s(u) · Σ_j x_j · cos(π(2j+1)u / 2N), with
    * s(0)=√(1/N), s(u>0)=√(2/N)). */
  // cos basis cache for [[dct2]] (r18): the transform re-evaluated
  // math.cos per (coefficient, sample) term — 10k cos calls per pHash,
  // 50M per image-corpus pass — for a basis that depends only on
  // (n, nCoeffs). The cached values are the exact doubles the inline
  // expression produced (same argument arithmetic), so the fold is
  // bitwise unchanged. ThreadLocal: no synchronization on the hot path.
  private val dctBasis =
    ThreadLocal.withInitial[java.util.HashMap[Long, Array[Array[Double]]]](
      () => new java.util.HashMap[Long, Array[Array[Double]]]())

  def dct2(x: Array[Double], nCoeffs: Int): Array[Double] = {
    val n = x.length
    val m = math.min(nCoeffs, n)
    val key = n.toLong << 32 | m.toLong
    var basis = dctBasis.get().get(key)
    if (basis == null) {
      basis = Array.tabulate(m)(u => Array.tabulate(n)(j =>
        math.cos(math.Pi * (2 * j + 1) * u / (2.0 * n))))
      dctBasis.get().put(key, basis)
    }
    Array.tabulate(m) { u =>
      val row = basis(u)
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += x(j) * row(j)
        j += 1
      }
      acc * (if (u == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n))
    }
  }

  /** MFCC matrix: frames × nCoeffs, DCT-II over each log-mel frame. */
  def mfcc(samples: Array[Short], sampleRate: Double, frameLen: Int,
      hop: Int, nMels: Int, nCoeffs: Int): Array[Array[Double]] =
    logMel(samples, sampleRate, frameLen, hop, nMels).map(dct2(_, nCoeffs))

  final case class MfccFeatures(media_id: Long, sample_rate: Long,
    n_frames: Long, n_coeffs: Long, dominant_bin: Long,
    mfcc: Seq[Seq[Double]])

  /** Partition-parallel MFCC featurization of WAV blobs — the classical
    * speech front end stacked on [[logMel]]. `dominant_bin` (argmax of the
    * summed PRE-DCT mel energy) rides along as the integer summary an
    * oracle can state closed-form; the cepstral values themselves are
    * pinned by AudioFeatures specs (DCT orthogonality + concentration). */
  def mfccWav(media: Dataset[Multimodal.MediaRow], frameLen: Int, hop: Int,
      nMels: Int, nCoeffs: Int)
      (implicit spark: SparkSession): Dataset[MfccFeatures] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val (rate, _, samples) = Multimodal.decodeWav(r.payload)
      val mel = logMel(samples, rate.toDouble, frameLen, hop, nMels)
      val sums = Array.tabulate(nMels)(k => mel.map(_(k)).sum)
      val dom = if (mel.isEmpty) -1L
        else sums.zipWithIndex.maxBy(t => (t._1, -t._2))._2.toLong
      MfccFeatures(r.media_id, rate.toLong, mel.length.toLong,
        nCoeffs.toLong, dom, mel.map(f => dct2(f, nCoeffs).toSeq).toSeq)
    })
  }

  /** Per-frame dominant mel bin (argmax, ties to the LOWEST bin — the
    * deterministic contract oracles rely on). */
  def peakBins(samples: Array[Short], sampleRate: Double, frameLen: Int,
      hop: Int, nMels: Int): Array[Int] =
    logMel(samples, sampleRate, frameLen, hop, nMels).map { frame =>
      var best = 0
      var i = 1
      while (i < frame.length) { if (frame(i) > frame(best)) best = i; i += 1 }
      best
    }

  final case class Landmark(media_id: Long, t: Long, h: Long)

  /** Shazam-style constellation landmarks (Wang 2003, "An Industrial-
    * Strength Audio Search Algorithm"): anchor each frame's spectral peak
    * and pair it with the peaks `dts` frames ahead; the (peak sequence)
    * tuple packs into one integer fingerprint per anchor —
    * h = Σ_k peak[t + dt_k] · nMels^k (dt_0 = 0). Robust to amplitude /
    * encoding changes because only PEAK POSITIONS survive into the hash.
    * Per-row decode+hash behind the mapPartitions seam, zero shuffle. */
  def landmarkHashes(media: Dataset[Multimodal.MediaRow], frameLen: Int,
      hop: Int, nMels: Int, dts: Seq[Int])
      (implicit spark: SparkSession): Dataset[Landmark] = {
    import spark.implicits._
    val offsets = 0 +: dts
    media.mapPartitions(rows => rows.flatMap { r =>
      val (rate, _, samples) = Multimodal.decodeWav(r.payload)
      val peaks = peakBins(samples, rate.toDouble, frameLen, hop, nMels)
      val maxDt = offsets.max
      (0 until peaks.length - maxDt).map { t =>
        val h = offsets.zipWithIndex.foldLeft(0L) { case (acc, (dt, k)) =>
          acc + peaks(t + dt) * math.pow(nMels.toDouble, k.toDouble).toLong
        }
        Landmark(r.media_id, t.toLong, h)
      }
    })
  }

  /** Audio near-dup pairs: clips sharing >= `minShared` DISTINCT landmark
    * fingerprints. Candidate generation is an equi-join on the fingerprint
    * value — never all-pairs — with the same bucket cap the text/image
    * dedup paths use (a ubiquitous fingerprint, e.g. silence, would
    * otherwise square the join). */
  def audioNearDup(landmarks: DataFrame, minShared: Int = 5,
      maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val distinctLm = landmarks.select(col("media_id"), col("h")).distinct()
    val buckets = distinctLm
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("sz").between(2, maxBucket))
      .drop("sz")
    buckets.as("a").join(buckets.as("b"),
        col("a.h") === col("b.h") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  final case class VadResult(media_id: Long, n_frames: Long, n_active: Long,
    n_segments: Long, first_active: Long)

  /** Energy-threshold voice-activity detection — the segment-before-ASR
    * step of a speech pipeline: a frame is ACTIVE iff its RMS exceeds
    * `threshold`; `n_segments` counts maximal runs of active frames,
    * `first_active` is the first active frame index (-1 if silent).
    * Frames are non-overlapping windows of `frameLen` samples (the plain
    * energy gate real VADs start from before adding model-based
    * refinement). Per-row decode + scan behind the mapPartitions seam,
    * zero shuffle. */
  def vad(media: Dataset[Multimodal.MediaRow], frameLen: Int,
      threshold: Double)(implicit spark: SparkSession): Dataset[VadResult] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val (_, _, samples) = Multimodal.decodeWav(r.payload)
      val nFrames = samples.length / frameLen
      var active = 0L; var segments = 0L; var first = -1L
      var prev = false
      var f = 0
      while (f < nFrames) {
        var sum = 0.0
        var i = f * frameLen
        val end = i + frameLen
        while (i < end) { sum += samples(i).toDouble * samples(i); i += 1 }
        val isActive = math.sqrt(sum / frameLen) > threshold
        if (isActive) {
          active += 1
          if (first < 0) first = f
          if (!prev) segments += 1
        }
        prev = isActive
        f += 1
      }
      VadResult(r.media_id, nFrames.toLong, active, segments, first)
    })
  }

  /** Windowed-sinc sample-rate conversion (Smith's "Digital Audio
    * Resampling" / Oppenheim & Schafer bandlimited interpolation): each
    * output sample is the source convolved with a Hann-windowed sinc
    * centered at its fractional source position. When downsampling, the
    * sinc is widened by the rate ratio so its cutoff sits at the OUTPUT
    * Nyquist — the anti-alias filter and the interpolator are the same
    * kernel. `zeroCrossings` trades quality for cost (16 ≈ -44 dB+
    * stopband with the Hann window — fine for speech-pipeline rate
    * normalization to 16 kHz). Output length is exactly
    * floor(nIn·dst/src). */
  def resample(samples: Array[Short], srcRate: Int, dstRate: Int,
      zeroCrossings: Int = 16): Array[Short] = {
    require(srcRate > 0 && dstRate > 0, s"rates: $srcRate -> $dstRate")
    if (srcRate == dstRate) return samples.clone()
    val nIn = samples.length
    val nOut = ((nIn.toLong * dstRate) / srcRate).toInt
    val out = new Array[Short](nOut)
    val scale = math.min(1.0, dstRate.toDouble / srcRate)
    val halfWidth = zeroCrossings / scale // in input samples
    val step = srcRate.toDouble / dstRate
    // sinc/window memo keyed on the EXACT bits of d (r18): for any
    // rational rate pair the fractional phase of `center` cycles, so the
    // distinct d values number ~taps×phases, while the loop evaluates
    // sin/cos per (output, tap) — ~1M transcendentals per 8k-sample clip
    // (p79 measured 170 s of CPU at sf0.1). Keying on the double's raw
    // bits reproduces the original arithmetic bitwise at ANY rate — a
    // memo hit returns exactly the values the expressions would have
    // produced for that d. Bounded: degenerate irrational phases stop
    // memoizing at 8192 entries and compute directly.
    val memo = new java.util.HashMap[java.lang.Long, Array[Double]]()
    var j = 0
    while (j < nOut) {
      val center = j * step
      var i = math.max(0, math.ceil(center - halfWidth).toInt)
      val iEnd = math.min(nIn - 1, math.floor(center + halfWidth).toInt)
      var acc = 0.0
      while (i <= iEnd) {
        val d = i - center
        val bits = java.lang.Double.doubleToRawLongBits(d)
        var sw = memo.get(bits)
        if (sw == null) {
          val x = math.Pi * scale * d
          val sinc = if (math.abs(x) < 1e-12) 1.0 else math.sin(x) / x
          val win = 0.5 * (1.0 + math.cos(math.Pi * d / halfWidth))
          sw = Array(sinc, win)
          if (memo.size < 8192) memo.put(bits, sw)
        }
        acc += samples(i) * scale * sw(0) * sw(1)
        i += 1
      }
      val v = math.round(acc)
      out(j) = math.max(Short.MinValue.toLong,
        math.min(Short.MaxValue.toLong, v)).toShort
      j += 1
    }
    out
  }

  /** Dominant FFT bin over non-overlapping `frameLen` frames: argmax of
    * the power summed across frames (ties to the lowest bin) — the
    * integer summary an oracle can state in closed form for a pure tone
    * (round(f·frameLen/rate)). -1 if the clip is shorter than a frame. */
  def dominantFftBin(samples: Array[Short], frameLen: Int): Int = {
    val frames = stftPower(samples, frameLen, frameLen)
    if (frames.isEmpty) return -1
    dominantBinOfPower(Array.tabulate(frames.head.length)(k =>
      frames.map(_(k)).sum))
  }

  /** The argmax half of [[dominantFftBin]] (ties to the lowest bin),
    * callable on an already-summed power spectrum — so a caller that
    * needs BOTH the dominant bin and the power array (p79's verify leg)
    * computes the STFT once instead of twice. Bit-identical to
    * [[dominantFftBin]] by construction: same sums expression, same
    * comparison fold. */
  def dominantBinOfPower(sums: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < sums.length) { if (sums(i) > sums(best)) best = i; i += 1 }
    best
  }

  final case class ResampleResult(media_id: Long, src_rate: Long,
    dst_rate: Long, n_in: Long, n_out: Long, payload: Array[Byte])

  /** Rate-normalize WAV clips to `dstRate` (decode → windowed-sinc →
    * re-encode PCM16). Per-row mapPartitions, zero shuffle — the standard
    * "everything to 16 kHz mono" step before featurization. */
  def resampleWav(media: Dataset[Multimodal.MediaRow], dstRate: Int,
      zeroCrossings: Int = 16)
      (implicit spark: SparkSession): Dataset[ResampleResult] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val (rate, _, samples) = Multimodal.decodeWav(r.payload)
      val res = resample(samples, rate, dstRate, zeroCrossings)
      ResampleResult(r.media_id, rate.toLong, dstRate.toLong,
        samples.length.toLong, res.length.toLong,
        Multimodal.encodeWavPcm16(dstRate, res))
    })
  }

  final case class MelFeatures(media_id: Long, sample_rate: Long,
    n_frames: Long, n_mels: Long, dominant_bin: Long,
    mel: Seq[Seq[Double]])

  /** Partition-parallel featurization of WAV blobs (via the JDK RIFF
    * reader): the full log-mel matrix plus the dominant mel bin (argmax
    * of summed energy, ties to the lowest bin — the integer summary an
    * oracle can state in closed form). */
  def melFeaturesWav(media: Dataset[Multimodal.MediaRow], frameLen: Int,
      hop: Int, nMels: Int)(implicit spark: SparkSession): Dataset[MelFeatures] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val (rate, _, samples) = Multimodal.decodeWav(r.payload)
      val mel = logMel(samples, rate.toDouble, frameLen, hop, nMels)
      val sums = Array.tabulate(nMels)(k => mel.map(_(k)).sum)
      val dom = if (mel.isEmpty) -1L
        else sums.zipWithIndex.maxBy(t => (t._1, -t._2))._2.toLong
      MelFeatures(r.media_id, rate.toLong, mel.length.toLong, nMels.toLong,
        dom, mel.map(_.toSeq).toSeq)
    })
  }
}
