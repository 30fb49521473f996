package graft.ext

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.MediaCodec

/** WAV (RIFF/WAVE, canonical 44-byte header, 16-bit mono PCM). Layout
  * (1-based): 1-4 "RIFF", 5-8 36 + data bytes, 9-16 "WAVEfmt ", 17-20
  * 16, 21-22 PCM 1, 23-24 channels 1, 25-28 sample rate, 29-32 byte
  * rate, 33-34 block align 2, 35-36 bits 16, 37-40 "data", 41-44 data
  * size 2·n, 45.. n LE16 two's-complement samples.
  */
object WavCodec {
  private def f(out: String, args: Column*) =
    MediaCodec("wav", out, 0, args: _*)

  /** Encode an `array<int>` of 16-bit samples at `sampleRate` Hz into a
    * mono WAV; samples outside the 16-bit range wrap (two's
    * complement). */
  def encodeWav(samples: Column, sampleRate: Column): Column =
    f("encode", samples.cast("array<int>"), sampleRate.cast("long"))

  /** TRUE iff the payload carries the canonical mono 16-bit PCM layout
    * AND its whole data chunk (trailing bytes are ignored). */
  def isWav(payload: Column): Column = f("is", payload)

  /** Decoded sample rate (Hz). */
  def sampleRate(payload: Column): Column = f("rate", payload)

  /** Decoded sample count (data bytes / 2). */
  def numSamples(payload: Column): Column = f("numSamples", payload)

  /** Decoded samples as `array<int>` — the inverse of [[encodeWav]]. */
  def samples(payload: Column): Column = f("samples", payload)

  /** 4 waveform features: mean |amplitude| / 32768 of 4 equal sample
    * blocks, 6 dp; an empty block (n < 4) is 0.0. */
  def waveFeatures(payload: Column): Column = f("features", payload)

  /** NAIVE DECIMATION (no anti-alias low-pass): keep every `factor`-th
    * sample and re-encode at rate/factor, so
    * decode(downsample(x, f))[i] ≡ decode(x)[f·i]. */
  def downsample(payload: Column, factor: Int): Column = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    MediaCodec("wav", "downsample", factor, payload)
  }

  /** Voice-activity segments of decoded WAV payloads
    * ([[Multimodal.vadSegments]]). */
  def vadSegments(df: DataFrame, idCol: String, wavCol: String,
      frameLen: Int = 16, threshold: Double = 1000.0): DataFrame =
    Multimodal.vadSegments(df, idCol, wavCol, frameLen, threshold)
}
