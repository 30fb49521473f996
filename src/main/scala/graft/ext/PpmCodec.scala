package graft.ext

import org.apache.spark.sql.Column

/** Binary PPM (netpbm P6, 8-bit RGB), sharing one netpbm implementation
  * with [[PgmCodec]]. Layout: the canonical fixed-width 19-byte header
  * `"P6\n" <wwwww> " " <hhhhh> "\n255\n"` (dims zero-padded to 5 ASCII
  * digits), then w·h RGB triples, row-major TOP-DOWN, no padding.
  * [[isPpm]] recognizes exactly this layout: a free-whitespace variant
  * takes the opaque byte-grid path rather than half-decoding.
  */
object PpmCodec extends ImageCodec("ppm") {

  /** Encode `w`×`h` row-major top-down packed-RGB pixels (`array<int>`,
    * length w·h) into a binary P6 PPM; dimensions outside 0..99999
    * (the 5-digit header) raise an error. */
  def encodePpm(pixels: Column, w: Column, h: Column): Column =
    encode("encode", pixels, w, h)

  /** TRUE iff the payload carries the exact canonical layout: magic,
    * separators, 5-digit ASCII dims, maxval line, and length exactly
    * 19 + 3·w·h. */
  def isPpm(payload: Column): Column = f("is", payload)

  /** [[BmpCodec.bmpFeatures]]' 4 block luminances, for PPM. */
  def ppmFeatures(payload: Column): Column = f("features", payload)
}
