package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VecDot.float_dot

/** Distributed Lloyd k-means over the embeddings table — the clustering
  * stage itself, as a first-class oracle-checkable operator (the IVF
  * index trains with seeded ml.KMeans for QUALITY, or seed-vector
  * Voronoi for hash-checkability — neither gives a verifiable Lloyd
  * refinement; this does).
  *
  * Execution model is the standard scalable Lloyd (what MLlib itself
  * does): centroids are k·d floats, collected to the driver once per
  * round and re-broadcast as LITERALS into a pure codegen projection —
  * assignment is ONE scan with an `array_min` over k (dist, cid)
  * structs (no join, no shuffle); the update is one posexplode +
  * hash agg onto k·d keys with map-side partials. Per round: one scan,
  * one k·d-key agg, one k·d-row driver collect (the bounded-collect
  * exception class, like the IVF/PQ seed vectors). Nothing row-grained
  * ever reaches the driver or a window.
  *
  * Determinism (both engines replay bit-exactly):
  *  - init = the k vectors ranked first by md5(seed:vec_id) (ties by
  *    id), taken via sort-limit (TakeOrderedAndProject, k rows);
  *  - distance = round(⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩, 6) where every inner
  *    product is the SEQUENTIAL double fold over float elements
  *    ([[graft.functions.VecDot]] ≡ DuckDB list_dot_product over
  *    double-cast lists — the proven ANN-oracle machinery); argmin
  *    tie-breaks by cid;
  *  - centroid components = DECIMAL(38,12)-summed member coordinates
  *    (order-free exact addition) / count, narrowed to FLOAT (IEEE
  *    round-to-nearest on both engines) so the next round's literals
  *    are identical;
  *  - an EMPTY cluster keeps its previous centroid (the standard
  *    carry-forward; the oracle replay assumes none empties, which the
  *    registered configuration satisfies — if one ever did, the hash
  *    gate fails loudly rather than silently diverging).
  */
object Lloyd {

  private def dccOf(cv: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < cv.length) { s += cv(j).toDouble * cv(j).toDouble; j += 1 }
    s
  }

  /** (vec_id, embedding, cid, dist) — nearest-centroid assignment as a
    * pure codegen projection over literal centroids (no join, no
    * shuffle; usable on a batch frame or a streaming micro-batch). */
  def assignTo(emb: DataFrame, cent: Array[Array[Float]]): DataFrame = {
    val opts = cent.zipWithIndex.map { case (cv, i) =>
      struct(
        round(float_dot(col("embedding"), col("embedding"))
          - lit(2.0) * float_dot(col("embedding"), typedLit(cv))
          + lit(dccOf(cv)), 6).as("dist"),
        lit(i).as("cid"))
    }
    emb.select(col("vec_id"), col("embedding"),
        array_min(array(opts.toIndexedSeq: _*)).as("b"))
      .select(col("vec_id"), col("embedding"),
        col("b.cid").as("cid"), col("b.dist").as("dist"))
  }

  /** Per-(cid, dim) mean coordinate — exact decimal sums, 1-based dim. */
  private def meansFrame(assign: DataFrame): DataFrame = assign
    .select(col("cid"), posexplode(col("embedding")).as(Seq("dim0", "x")))
    .groupBy(col("cid"), (col("dim0") + 1).as("dim"))
    .agg((sum(col("x").cast("double").cast(DecimalType(38, 12)))
      .cast("double") / count(lit(1))).as("comp"))

  /** Driver-side model fit: `updates` full assign+update cycles past
    * the md5-ranked seed init; 0 updates returns the init itself.
    * Returns the k×d float centroid array (the deployable model). */
  def fitCentroids(emb: DataFrame, k: Int, updates: Int,
      seed: String = "km"): Array[Array[Float]] = {
    val seedOrder = md5(concat(lit(s"$seed:"), col("vec_id").cast("string")))
    var cent: Array[Array[Float]] = emb
      .orderBy(seedOrder, col("vec_id"))
      .limit(k)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    for (r <- 1 to updates) {
      val m = meansFrame(assignTo(emb, cent)).collect()
      // fail fast on an emptied cluster: the DuckDB replay's c_r CTE
      // simply LOSES the cluster, so Spark and oracle would silently
      // solve different problems from this round on — surface it here
      // with a clear message, not via a downstream hash mismatch
      val occupied = m.iterator.map(_.getAs[Int]("cid")).toSet
      require(occupied.size == cent.length,
        s"k-means round $r emptied cluster(s) " +
          s"${(cent.indices.toSet -- occupied).toList.sorted.mkString(",")}" +
          s" — the oracle replay cannot represent carry-forward; pick a" +
          s" different seed or smaller k")
      val next = cent.map(_.clone())
      m.groupBy(_.getAs[Int]("cid")).foreach { case (cid, rows) =>
        next(cid) = rows.sortBy(_.getAs[Int]("dim"))
          .map(_.getAs[Double]("comp").toFloat)
      }
      cent = next
    }
    cent
  }

  /** The fit readout: one row per non-empty cluster after `rounds`
    * assign+update cycles — (cid, n_members, inertia, c1..c4) where
    * n_members/inertia describe the FINAL assignment (made with the
    * round-(rounds−1) centroids) and c1..c4 are the first four
    * components of the final updated centroid. */
  def fit(emb: DataFrame, k: Int, rounds: Int, seed: String = "km")
      : DataFrame = {
    val cent = fitCentroids(emb, k, updates = rounds - 1, seed)
    val fin = graft.ops.CacheScope.persist(assignTo(emb, cent))
    val stats = fin.groupBy(col("cid")).agg(
      count(lit(1)).as("n_members"),
      round(graft.Det.dsumWide(col("dist")), 6).as("inertia"))
    val compCols = (1 to 4).map(j =>
      round(min(when(col("dim") === j, col("comp")))
        .cast("float").cast("double"), 6).as(s"c$j"))
    val comps = meansFrame(fin)
      .filter(col("dim") <= 4)
      .groupBy(col("cid"))
      .agg(compCols.head, compCols.tail: _*)
    stats.join(comps, Seq("cid"))
      .select(col("cid").cast("long").as("cid"), col("n_members"),
        col("inertia"), col("c1"), col("c2"), col("c3"), col("c4"))
  }

  // ---- DuckDB replay -----------------------------------------------------
  // The relational CTE chain here is the spec of record for the
  // driver-collected loop above: e (doubles view + ⟨v,v⟩), c0 (seed
  // ranking), then per cycle a_r (assignment), m_r (exact-decimal
  // means), c_r (FLOAT-narrowed centroid lists).

  private def assignCte(r: Int, centCte: String): String =
    s"""a$r AS MATERIALIZED (
        SELECT vec_id, cid, dist FROM (
          SELECT e.vec_id, c.cid,
            round(e.daa - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6) AS dist,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              round(e.daa - 2 * list_dot_product(e.v, c.cv)
                + list_dot_product(c.cv, c.cv), 6), c.cid) AS rn
          FROM e CROSS JOIN $centCte c)
        WHERE rn = 1)"""

  private def meansCte(r: Int): String =
    s"""m$r AS MATERIALIZED (
        SELECT cid, dim,
          CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
            / count(*) AS comp
        FROM (
          SELECT a$r.cid, unnest(emb.embedding) AS x,
            unnest(generate_series(1, len(emb.embedding))) AS dim
          FROM a$r JOIN embeddings emb USING (vec_id))
        GROUP BY 1, 2)"""

  private def centCte(r: Int): String =
    s"""c$r AS MATERIALIZED (
        SELECT cid,
          list_transform(list(CAST(comp AS FLOAT) ORDER BY dim),
            x -> CAST(x AS DOUBLE)) AS cv
        FROM m$r GROUP BY cid)"""

  /** WITH-chain through `cycles` full assign+means+cent cycles (plus
    * the e and c0 heads) — c`cycles` is the final centroid CTE. */
  private def chain(k: Int, cycles: Int, seed: String): String = {
    val body = (1 to cycles).map { r =>
      s"${assignCte(r, s"c${r - 1}")},\n      ${meansCte(r)}," +
        s"\n      ${centCte(r)}"
    }.mkString(",\n      ")
    val sep = if (cycles > 0) "," else ""
    s"""e AS MATERIALIZED (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          list_dot_product(
            list_transform(embedding, x -> CAST(x AS DOUBLE)),
            list_transform(embedding, x -> CAST(x AS DOUBLE))) AS daa
        FROM embeddings),
      c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY
            md5('$seed:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
            AS INT) AS cid, v AS cv
        FROM e
        ORDER BY md5('$seed:' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT $k),
      $body$sep"""
  }

  /** SIMPLIFIED (centroid-based) SILHOUETTE per cluster — the fit-
    * quality readout a platform team checks before trusting k: per
    * vector, a = EUCLIDEAN distance to its assigned (nearest)
    * centroid, b = distance to the second-nearest,
    * s = (b − a) / max(a, b) ∈ [0, 1] (1 = deep inside its cell, 0 =
    * on a boundary); reported per cluster as (n_members, mean/min/max
    * silhouette). The full silhouette's O(n²) pairwise term is
    * replaced by the standard centroid surrogate — the only form that
    * scales, and the form whose determinism the Lloyd distance
    * contract already covers. The Lloyd contract ranks by ROUNDED
    * SQUARED distance (assignment is sqrt-invariant), so the
    * assignment reuses that order verbatim; the RATIO then takes
    * sqrt of the two rounded squared distances first, so s is the
    * conventional Euclidean simplified silhouette and standard
    * thresholds apply directly (r11 ADVICE: the squared-distance
    * ratio inflates s vs the textbook metric).
    *
    * Scale: ONE codegen projection over literal centroids (an
    * array_sort of k (dist, cid) structs per row — no join, no
    * shuffle) + a k-key hash agg. Degenerate duplicate centroids
    * (a = b = 0) score 0 by explicit branch, not 0/0. */
  def silhouette(emb: DataFrame, cent: Array[Array[Float]]): DataFrame = {
    val opts = cent.zipWithIndex.map { case (cv, i) =>
      struct(
        round(float_dot(col("embedding"), col("embedding"))
          - lit(2.0) * float_dot(col("embedding"), typedLit(cv))
          + lit(dccOf(cv)), 6).as("dist"),
        lit(i).as("cid"))
    }
    // lexicographic struct sort ≡ ORDER BY dist, cid — the assignment
    // tie-break, so rank 1 IS the assigned centroid; the rounded
    // squared distance can dip epsilon-negative (float dot rounding),
    // so clamp at 0 before the sqrt on both engine and oracle
    val sorted = array_sort(array(opts.toIndexedSeq: _*))
    val a = sqrt(greatest(
      element_at(sorted, 1).getField("dist"), lit(0.0)))
    val b = sqrt(greatest(
      element_at(sorted, 2).getField("dist"), lit(0.0)))
    emb.select(
        element_at(sorted, 1).getField("cid").cast("long").as("cid"),
        when(greatest(a, b) > 0,
          round((b - a) / greatest(a, b), 6)).otherwise(lit(0.0))
          .as("s_val"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(graft.Det.dsumWide(col("s_val")) / count(lit(1)), 6)
          .as("mean_sil"),
        min(col("s_val")).as("min_sil"),
        max(col("s_val")).as("max_sil"))
  }

  /** DuckDB replay of [[silhouette]] over the [[fitCentroids]] model
    * (`updates` cycles): ranks 1 and 2 of the same rounded distance /
    * cid order. */
  def silhouetteOracleSql(k: Int, updates: Int,
      seed: String = "km"): String =
    s"""WITH ${chain(k, updates, seed)}
      d AS MATERIALIZED (
        SELECT e.vec_id, c.cid,
          round(e.daa - 2 * list_dot_product(e.v, c.cv)
            + list_dot_product(c.cv, c.cv), 6) AS dist,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(e.daa - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6), c.cid) AS rn
        FROM e CROSS JOIN c$updates c),
      ab AS (
        SELECT a.vec_id, a.cid,
          sqrt(greatest(a.dist, 0)) AS av,
          sqrt(greatest(b.dist, 0)) AS bv
        FROM (SELECT * FROM d WHERE rn = 1) a
        JOIN (SELECT * FROM d WHERE rn = 2) b USING (vec_id)),
      sil AS (
        SELECT cid,
          CASE WHEN greatest(av, bv) > 0
            THEN round((bv - av) / greatest(av, bv), 6)
            ELSE 0.0 END AS s_val
        FROM ab)
      SELECT CAST(cid AS BIGINT) AS cid,
        count(*) AS n_members,
        round(${graft.Det.dsumWideSql("s_val")} / count(*), 6)
          AS mean_sil,
        min(s_val) AS min_sil, max(s_val) AS max_sil
      FROM sil GROUP BY 1"""

  /** DuckDB replay of [[fit]] (runs at oracle SF). */
  def oracleSql(k: Int, rounds: Int, seed: String = "km"): String =
    s"""WITH ${chain(k, rounds - 1, seed)}
      ${assignCte(rounds, s"c${rounds - 1}")},
      ${meansCte(rounds)},
      stats AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
          round(${graft.Det.dsumWideSql("dist")}, 6) AS inertia
        FROM a$rounds GROUP BY 1),
      comps AS (
        SELECT cid,
          round(CAST(CAST(min(CASE WHEN dim = 1 THEN comp END) AS FLOAT)
            AS DOUBLE), 6) AS c1,
          round(CAST(CAST(min(CASE WHEN dim = 2 THEN comp END) AS FLOAT)
            AS DOUBLE), 6) AS c2,
          round(CAST(CAST(min(CASE WHEN dim = 3 THEN comp END) AS FLOAT)
            AS DOUBLE), 6) AS c3,
          round(CAST(CAST(min(CASE WHEN dim = 4 THEN comp END) AS FLOAT)
            AS DOUBLE), 6) AS c4
        FROM m$rounds WHERE dim <= 4 GROUP BY 1)
      SELECT CAST(cid AS BIGINT) AS cid, n_members, inertia,
        c1, c2, c3, c4
      FROM stats JOIN comps USING (cid)"""

  /** DuckDB replay of [[assignTo]] against the model of
    * [[fitCentroids]] (`updates` cycles): assigns the subset selected
    * by `wherePred` (a predicate over e's vec_id) to the c`updates`
    * centroids. */
  def assignOracleSql(k: Int, updates: Int, wherePred: String,
      seed: String = "km"): String =
    s"""WITH ${chain(k, updates, seed)}
      fin AS (
        SELECT e.vec_id, c.cid,
          round(e.daa - 2 * list_dot_product(e.v, c.cv)
            + list_dot_product(c.cv, c.cv), 6) AS dist,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(e.daa - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv), 6), c.cid) AS rn
        FROM e CROSS JOIN c$updates c
        WHERE $wherePred)
      SELECT vec_id, cid, dist FROM fin WHERE rn = 1"""
}
