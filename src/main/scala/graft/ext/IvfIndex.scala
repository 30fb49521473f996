package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VecDot.float_dot

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * cluster-pruned scale path next to [[Similarity.lshTopK]]'s sign-bucket
  * family (SURVEY.md §2.10).
  *
  * Train: k-means over (a sample of) the corpus → `nlist` centroids.
  * Index: one pass assigning every vector to its nearest centroid — the
  * cluster id becomes the partition/shuffle key. Search: a query probes
  * only its `nprobe` nearest centroids' clusters, cutting candidates by
  * ~nlist/nprobe; at cluster scale the corpus is co-partitioned by
  * `cluster`, so a probe touches only those partitions.
  *
  * Centroids are tiny (nlist × dim floats) and broadcast as literals into
  * a codegen'd argmin-of-[[float_dot]] expression — assignment is one
  * narrow projection, no shuffle, no UDF.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Float]]) {
    def nlist: Int = centroids.length
  }

  /** Train centroids with ml.KMeans (seeded → reproducible for a fixed
    * input partitioning). Corpora above `maxTrainVectors` are seeded-sampled
    * down first: k-means needs only a representative sample to place
    * `nlist` centroids, and fitting the FULL corpus would make the trainer
    * itself the dominant job at 100 TB. The index/search contract already
    * tolerates approximate centroids (any centroid set partitions the
    * corpus; quality degrades gracefully), so sampling changes recall by
    * ~nothing and cost by |corpus|/maxTrainVectors. */
  def train(emb: DataFrame, nlist: Int, seed: Long = 42L,
      maxIter: Int = 20, maxTrainVectors: Long = 100000L): Model = {
    val n = emb.count()
    val sampled =
      if (n > maxTrainVectors)
        emb.sample(withReplacement = false, maxTrainVectors.toDouble / n, seed)
      else emb
    val feats = sampled.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
    val model = km.fit(feats)
    Model(model.clusterCenters.map(_.toArray.map(_.toFloat)))
  }

  /** Deterministic seed "training": centroids are the `nlist` corpus
    * vectors with the smallest `md5(vec_id)` (a deterministic,
    * engine-replayable sample — the repo's standard md5 coin), ordered by
    * vec_id. No arithmetic happens at train time, so a DuckDB oracle can
    * rebuild the IDENTICAL centroid set and the whole IVF pipeline
    * becomes hash-checkable ([[train]]'s ml.KMeans stays the quality
    * path; its iteration internals are engine-specific). Seed-vector
    * Voronoi partitions are the zero-iteration limit of k-means — recall
    * degrades gracefully, the index/search contract is unchanged.
    *
    * The driver-side collect is `nlist` rows — bounded, never the
    * corpus. */
  def seedModel(emb: DataFrame, nlist: Int): Model = {
    val seeds = emb
      .select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nlist)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    Model(seeds)
  }

  /** Literal column for one centroid — one ARRAY<FLOAT> Literal (a single
    * referenced object in generated code), never `array(lit, lit, ...)`
    * whose inline CreateArray stores grow codegen linearly in nlist·dim
    * (see [[PqIndex]]: the IVFPQ composition crossed janino's 64 KB
    * method limit and silently fell back to interpreted execution). */
  private def centroidLit(c: Array[Float]): Column = typedLit(c)

  /** Index of the centroid with max cosine (≡ min angular distance) —
    * argmax over nlist codegen'd dot products. */
  private def centroidSim(emb: Column, c: Array[Float]): Column =
    float_dot(emb, centroidLit(c)) / (sqrt(float_dot(emb, emb)) *
      lit(math.sqrt(c.map(v => v.toDouble * v).sum)))

  def nearestCentroid(emb: Column, m: Model): Column = {
    val sims = m.centroids.map(c => centroidSim(emb, c))
    val simArr = array(sims: _*)
    (array_position(simArr, array_max(simArr)) - 1).cast("int")
  }

  /** `nprobe` nearest centroid ids for a query vector, as an array. */
  def probeCentroids(emb: Column, m: Model, nprobe: Int): Column = {
    val sims = m.centroids.zipWithIndex.map { case (c, i) =>
      struct(centroidSim(emb, c).as("sim"), lit(i).as("idx"))
    }
    slice(
      transform(reverse(array_sort(array(sims: _*))), s => s.getField("idx")),
      1, nprobe)
  }

  /** Assign every corpus vector its cluster id (the indexing pass). */
  def index(emb: DataFrame, m: Model): DataFrame =
    emb.withColumn("cluster", nearestCentroid(col("embedding"), m))

  /** Centroid ids ranked by (cosine 6-dp DESC, idx ASC) as one sorted
    * struct array — the deterministic core shared by the oracle-checked
    * assignment and probe paths. Rounding BEFORE the comparison makes the
    * ranking a pure function of 6-dp cosines, which are the quantities the
    * DuckDB oracle reproduces hash-exactly (same dot/norm evaluation
    * order); ties then break on the centroid index in both engines.
    * `array_sort` on struct(negSim, idx) is ascending-lexicographic =
    * (sim desc, idx asc).
    *
    * Two sort-key guards keep the ranking engine-portable where Spark's
    * Double TOTAL order diverges from SQL ORDER BY: a NaN cosine (a
    * zero-norm embedding) is pinned to −1 — ranked like a worst match on
    * every engine, instead of Spark-last vs DuckDB-first — and the
    * negation runs as `0.0 - x`, which collapses −0.0/+0.0 to one key
    * (Spark's struct comparator orders −0.0 < 0.0; SQL engines compare
    * them equal). */
  private def rankedCentroidIdx(emb: Column, m: Model): Column = {
    val entries = m.centroids.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(0.0) - nanvl(round(centroidSim(emb, c), 6), lit(-1.0)))
          .as("neg"),
        lit(i).as("idx"))
    }
    transform(array_sort(array(entries: _*)), s => s.getField("idx"))
  }

  /** Deterministic nearest-centroid id (6-dp round + idx tie-break). */
  def nearestCentroidDet(emb: Column, m: Model): Column =
    element_at(rankedCentroidIdx(emb, m), 1)

  /** Deterministic `nprobe` probe list (6-dp round + idx tie-break). */
  def probeCentroidsDet(emb: Column, m: Model, nprobe: Int): Column =
    slice(rankedCentroidIdx(emb, m), 1, nprobe)

  /** IVF top-k search with the DETERMINISTIC assignment/probe ranking —
    * same plan shape as [[search]] (broadcast probes, cluster-key join,
    * bounded-heap top-k), but every engine-sensitive comparison goes
    * through 6-dp rounded cosines so a DuckDB oracle can replay the whole
    * pipeline hash-exactly. Pair with [[seedModel]]. */
  def searchDeterministic(emb: DataFrame, m: Model, queryPred: Column,
      k: Int, nprobe: Int = 2): DataFrame = {
    val indexed =
      emb.withColumn("cluster", nearestCentroidDet(col("embedding"), m))
    val corpus = indexed.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), col("cluster"))
    val queries = indexed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probeCentroidsDet(col("embedding"), m, nprobe)).as("cluster"))
    val scored = corpus.join(broadcast(queries), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(scored, k)
  }

  /** Cluster-balanced subsample — diversity-preserving downsampling for
    * curation (the SemDeDup-adjacent "don't let one dense region dominate
    * the corpus" pass): assign every vector its deterministic Voronoi
    * cell ([[nearestCentroidDet]]), then keep at most `cap` vectors per
    * cell, chosen by an md5 coin so the draw is uniform, reproducible,
    * and engine-replayable.
    *
    * The coin is the first 13 hex digits of md5(vec_id) as an integer —
    * 52 bits, exactly representable in the double score
    * [[graft.functions.TopKAgg]] ranks on, so Spark's bounded-heap
    * ordering and an oracle's ORDER BY over the same prefix agree
    * bit-for-bit (ties, if 52-bit prefixes ever collide, break on
    * vec_id in both engines). Per-cell selection is the map-side
    * partial top-k aggregate — never a row-grained window; at corpus
    * scale `nlist` grows with the data so cells stay executor-sized. */
  def clusterBalancedSample(emb: DataFrame, m: Model, cap: Int): DataFrame = {
    val coin = conv(substring(md5(col("vec_id").cast("string")), 1, 13),
      16, 10).cast("long")
    emb.withColumn("cluster", nearestCentroidDet(col("embedding"), m))
      .groupBy(col("cluster"))
      .agg(graft.functions.TopKAgg.top_k(
        -coin.cast("double"), col("vec_id"), cap).as("tk"))
      .select(col("cluster"), explode(col("tk")).as("t"))
      .select(col("cluster"), col("t.id").as("vec_id"),
        col("t.rank").as("rank"))
  }

  // ---- persisted index (r13 VERDICT stretch) -------------------------------
  // The retrieval analog of the dedup archive's day-N grow: centroids +
  // assignments live as bucket-partitioned tables under the ONE
  // manifest-committed [[ArchiveIndex]] lifecycle the engine already
  // trusts — snapshot manifests, CAS multi-writer commits, compaction
  // to the packed floor, supersession-graced GC. The vec table buckets
  // on `cluster`, so a probe's read volume is its probed clusters'
  // buckets (partition pruning at planning time), never the corpus.

  /** Centroid table subdir (nlist rows — tiny, read-collected). */
  def cenDir(dir: String): String = s"$dir/cen"

  /** Assignment table subdir (vec_id, embedding, cluster; bucketed on
    * cluster — the probe key). */
  def vecDir(dir: String): String = s"$dir/vec"

  /** Write the full persisted index: centroid table, deterministic
    * assignments, and the self-describing layout root. */
  def writeIndex(emb: DataFrame, m: Model, dir: String,
      nBuckets: Int): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cen = m.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
    ArchiveIndex.writeBucketedTable(cen, "centroid_id", cenDir(dir),
      math.min(nBuckets, 4))
    ArchiveIndex.writeBucketedTable(
      emb.withColumn("cluster", nearestCentroidDet(col("embedding"), m))
        .select(col("vec_id"), col("embedding"), col("cluster")),
      "cluster", vecDir(dir), nBuckets)
    ArchiveIndex.writeLayout(spark, dir, nBuckets)
  }

  /** Recover the centroid model from the on-disk table — bounded at
    * nlist rows (the k·d driver budget every ANN variant shares). */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Model = {
    val rows = ArchiveIndex.readBucketedTable(spark, cenDir(dir))
      .select(col("centroid_id"), col("centroid"))
      .orderBy(col("centroid_id")).collect()
    Model(rows.map(_.getAs[scala.collection.Seq[Float]](1).toArray))
  }

  /** Incremental GROW: assign a new batch against the COMMITTED
    * centroids and append into the bucket layout — tomorrow's vectors
    * become probe-visible without re-reading or re-assigning the
    * archive, the day-N semantics of the dedup commit loop. */
  def appendVectors(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    val nB = ArchiveIndex.nBuckets(spark, dir)
    val m = readModel(spark, dir)
    ArchiveIndex.appendBucketedTable(
      emb.withColumn("cluster", nearestCentroidDet(col("embedding"), m))
        .select(col("vec_id"), col("embedding"), col("cluster")),
      "cluster", vecDir(dir), nB)
  }

  /** Maintenance pass over both tables (file-count-bounded). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      gcGraceMs: Long = 0L): Unit = {
    ArchiveIndex.compactBucketedDir(spark, cenDir(dir), gcGraceMs)
    ArchiveIndex.compactBucketedDir(spark, vecDir(dir), gcGraceMs)
  }

  /** [[searchDeterministic]] against the ON-DISK index: queries resolve
    * their probe clusters from the committed centroids, the probed
    * clusters' BUCKETS are the only assignment partitions read
    * (bkt-pruned through the manifest snapshot — the
    * constant-read-volume property the dedup probes measured), and
    * scoring/top-k are the shared deterministic kernels, so the result
    * is row-identical to the session-frame search and
    * `ext_sim_ivf_disk_topk` shares `ext_sim_ivf_topk`'s oracle
    * VERBATIM. */
  def searchOnDisk(spark: org.apache.spark.sql.SparkSession, dir: String,
      queryPred: Column, k: Int, nprobe: Int = 2): DataFrame = {
    val nB = ArchiveIndex.nBuckets(spark, dir)
    val m = readModel(spark, dir)
    val all = ArchiveIndex.readBucketedTable(spark, vecDir(dir))
    val queries = graft.ops.CacheScope.persist(
      all.filter(queryPred)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"),
          explode(probeCentroidsDet(col("embedding"), m, nprobe))
            .as("cluster")))
    // touched buckets: bounded by queries·nprobe — the pruning list,
    // never data (the prunedProbeBatch convention)
    val bkts = queries
      .select(pmod(xxhash64(col("cluster")), lit(nB)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val corpus = all.filter(col("bkt").isin(bkts: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("cluster"))
    val scored = corpus.join(broadcast(queries), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(scored, k)
  }

  /** IVF top-k search: queries probe `nprobe` clusters, cosine-rank within
    * the probed candidates (6-dp rounding + vec_id tie-break, like the
    * exact path). */
  def search(emb: DataFrame, m: Model, queryPred: Column, k: Int,
      nprobe: Int = 2): DataFrame = {
    val indexed = index(emb, m)
    val corpus = indexed.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), col("cluster"))
    val queries = indexed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probeCentroids(col("embedding"), m, nprobe)).as("cluster"))
    val scored = corpus.join(broadcast(queries), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(scored, k)
  }
}
