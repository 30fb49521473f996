package graft.ext

import org.apache.spark.sql.Column

import graft.functions.MediaCodec

/** The Column API every image container shares, each function one
  * [[MediaCodec]] native expression over `container`. Pixels are
  * row-major TOP-DOWN packed 0xRRGGBB ints whatever the container, so
  * every pixel consumer is container-agnostic; a payload the
  * container's validator rejects decodes to NULL. */
abstract class ImageCodec(container: String) {
  protected def f(out: String, args: Column*): Column =
    MediaCodec(container, out, 0, args: _*)
  protected def encode(out: String, px: Column, w: Column, h: Column) =
    f(out, px.cast("array<int>"), w.cast("long"), h.cast("long"))

  /** Decoded pixel width. */
  def width(payload: Column): Column = f("width", payload)

  /** Decoded pixel height. */
  def height(payload: Column): Column = f("height", payload)

  /** Decoded pixel count (w·h). */
  def numPixels(payload: Column): Column = f("numPixels", payload)

  /** Decoded pixels as row-major TOP-DOWN packed 0xRRGGBB ints — the
    * byte-exact inverse of the container's encoder. */
  def pixels(payload: Column): Column = f("pixels", payload)

  /** Block-mean pooling of the decoded luminance grid down to `k`
    * cells: [[Multimodal.resizePooled]]'s partition rule (cell j covers
    * pixels [⌊j·n/k⌋, ⌊(j+1)·n/k⌋)), NULL-for-empty-cell convention and
    * 6-dp rounding, over (R+G+B)/3 instead of raw bytes. */
  def resizePooledPixels(payload: Column, k: Int): Column =
    MediaCodec(container, "pooled", k, payload)
}

/** 24-bit BMP (Windows V3: 14-byte file header + 40-byte info header,
  * uncompressed BGR, bottom-up rows padded to 4-byte multiples).
  *
  * Layout (1-based offsets, scalars little-endian): 1-2 "BM", 3-6 file
  * size (54 + image bytes), 11-14 pixel offset 54; 15-18 info size 40,
  * 19-22 width, 23-26 height (positive = bottom-up), 27-28 planes 1,
  * 29-30 bpp 24, 31-34 compression 0, 35-38 image size ((3·w + pad)·h),
  * 39-46 2835 dpi pair; 55.. rows bottom-up, each w BGR triples plus
  * `pad = (4 − 3·w mod 4) mod 4` zero bytes. `ext_bmp_roundtrip`
  * hash-gates the roundtrip.
  */
object BmpCodec extends ImageCodec("bmp") {

  /** Encode `w`×`h` row-major top-down packed-RGB pixels (`array<int>`,
    * each 0xRRGGBB, length w·h) into a complete 24-bit BMP binary. */
  def encodeBmp(pixels: Column, w: Column, h: Column): Column =
    encode("encode", pixels, w, h)

  /** TRUE iff the payload carries exactly the layout [[encodeBmp]]
    * writes — magic, 54-byte pixel offset, 40-byte info header,
    * planes/bpp/compression, AND length exactly 54 + stride·h — so
    * text, a WAV, a truncated image or a concatenation of BMPs (a
    * [[Multimodal.sampleChunks]]-style video) never tag as BMP. */
  def isBmp(payload: Column): Column = f("is", payload)

  /** 4 real image features: mean luminance ((R+G+B)/765) of 4 equal
    * row-major pixel blocks, 6 dp; an empty block (n < 4) is 0.0. Block
    * sums are exact integers, so the round is engine-identical. */
  def bmpFeatures(payload: Column): Column = f("features", payload)
}
