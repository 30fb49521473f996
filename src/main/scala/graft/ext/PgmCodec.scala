package graft.ext

import org.apache.spark.sql.Column

/** Binary PGM (netpbm P5, 8-bit grayscale): [[PpmCodec]]'s fixed
  * 19-byte header with "P5\n", then w·h gray bytes, row-major top-down.
  * Pixels REPLICATE the gray into all three channels, so luminance is
  * exactly 3·g and a gray image pools and bands identically as PGM or
  * as an equal-channel BMP/PPM (PpmSpec pins this invariance).
  */
object PgmCodec extends ImageCodec("pgm") {

  /** Encode `w`×`h` row-major top-down grays (`array<int>`, each
    * 0..255, length w·h) into a binary P5 PGM; dimensions outside
    * 0..99999 raise an error. */
  def encodePgm(grays: Column, w: Column, h: Column): Column =
    encode("encode", grays, w, h)

  /** TRUE iff the payload carries the exact canonical layout (length
    * exactly 19 + w·h). */
  def isPgm(payload: Column): Column = f("is", payload)

  /** [[BmpCodec.bmpFeatures]]' 4 block luminances, for PGM. */
  def pgmFeatures(payload: Column): Column = f("features", payload)
}
