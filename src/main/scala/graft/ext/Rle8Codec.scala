package graft.ext

import org.apache.spark.sql.Column

/** RLE8 BMP (Windows V3, BI_RLE8 run-length compression, 8-bit
  * palette-indexed). Layout (1-based, little-endian): [[BmpCodec]]'s
  * header with pixel offset 1078 (= 14 + 40 + 256·4), bpp 8,
  * compression 1, imageSize = command bytes, colors used 256; 55-1078
  * the BGRX palette (the encoders write the grayscale ramp; decode
  * honors any palette); 1079.. the command stream.
  *
  * The full BI_RLE8 command set: encoded runs `(count 1..255, index)`,
  * end-of-line `00 00`, one end-of-bitmap `00 01` as the final command,
  * absolute runs `00 n b1..bn [pad]` (n ≥ 3, word-padded) and deltas
  * `00 02 dx dy`. Pixels no command writes (early-EOL tails, delta
  * skips, everything after EOB) decode as palette index 0 (grayscale
  * g → g·65536+g·256+g, the [[PgmCodec]] contract). One command walk
  * validates and decodes.
  */
object Rle8Codec extends ImageCodec("rle8") {

  /** Encode `w`×`h` row-major top-down grays (`array<int>`, each
    * 0..255, length w·h): grayscale palette, bottom-up stored rows,
    * maximal runs capped at 255, one EOL per row, one EOB. */
  def encodeRle8(grays: Column, w: Column, h: Column): Column =
    encode("encode", grays, w, h)

  /** Deterministic MODE-2 encoder fixture (requires w ≥ 7, h ≥ 2): a
    * vertical delta `00 02 00 01` skips stored row 0 (the logical
    * BOTTOM row); every other stored row is an absolute block of cols
    * 0-2 (odd count → pad), a delta skipping cols 3-4, encoded runs of
    * cols 5..w-2, and an early EOL (col w-1 unwritten); then one EOB.
    * `ext_rle8_mode2_roundtrip` hash-gates its decode. */
  def encodeRle8Mode2(grays: Column, w: Column, h: Column): Column =
    encode("encodeMode2", grays, w, h)

  /** TRUE iff the payload is a structurally sound BI_RLE8 file: the
    * header block, the length equation (1078 + even imageSize), runs
    * and absolute blocks inside their row, deltas inside the bitmap,
    * arguments inside the stream, and one final EOB. Anything
    * malformed takes the opaque byte-grid path. */
  def isRle8(payload: Column): Column = f("is", payload)

  /** [[BmpCodec.bmpFeatures]]' 4 block luminances, for RLE8. */
  def rle8Features(payload: Column): Column = f("features", payload)
}
