package graft.ops

import org.apache.spark.sql.DataFrame

/** The scratch-tree lifecycle of the on-disk registry adapters: build an
  * index or a wave feed in a temp tree, run the stream or round-trip
  * there, copy the (bounded) result to the driver, free the caches the
  * work registered, delete the tree. One definition, so every adapter
  * releases and deletes in the same order and none leaks its tree when
  * the work throws. */
private[graft] object Scratch {

  /** Run `body` on a fresh temp dir named `prefix…` and return its result
    * as a self-contained local frame. In order: make the dir and take a
    * [[CacheScope.mark]]; run `body`; copy its result with [[localize]];
    * [[CacheScope.releaseSince]] the mark, so the frames `body`
    * registered stop holding file indexes of the tree and frames the
    * caller registered keep their lifetime; delete the tree with
    * [[rmRf]]. Release and delete run also when `body` throws, and the
    * exception reaches the caller. */
  def apply(prefix: String)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val mark = CacheScope.mark()
      try localize(body(dir.toString))
      finally CacheScope.releaseSince(mark)
    } finally rmRf(dir.toFile)
  }

  /** Copy a (bounded) result into a self-contained local frame, so the
    * files its plan reads can go. Adapter plumbing, bounded by the
    * batch-sized result; no operator collects through it. */
  def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Delete `f` and everything under it; a missing file is a no-op. */
  def rmRf(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
    f.delete(); ()
  }
}
