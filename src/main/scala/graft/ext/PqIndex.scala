package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VecDot.float_dot
import graft.functions.PqOps

/** Product-quantization (PQ) approximate-nearest-neighbor index — the
  * memory-side scale path next to [[IvfIndex]]'s cluster pruning
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011 — the FAISS design).
  *
  * Train: split the `dim`-dimensional space into `m` subspaces and fit
  * `k` k-means centroids per subspace (on a seeded sample) → codebooks.
  * Encode: each vector becomes `m` small ints (nearest sub-centroid per
  * subspace) plus one precomputed reconstruction norm — at m=4, k=16 a
  * 64-dim float vector (256 bytes) compresses to ~20 bytes, the
  * difference between an in-memory candidate scan and a disk-bound one
  * at 100 TB.
  * Search (ADC — asymmetric distance computation): a query scores a
  * candidate by summing `m` codebook dot-product LOOKUPS instead of a
  * `dim`-wide multiply — all as codegen'd literal-array expressions, no
  * UDF, no shuffle on the corpus beyond the final bounded top-k — then
  * exactly re-ranks the `oversample`-widened shortlist with true
  * cosines (the standard PQ + re-rank recipe).
  *
  * Scale shape: candidate scoring reads only the codes column; the true
  * embeddings are touched just for the ≤ oversample·topK shortlist per
  * query (a semi-join against the corpus). Both top-k stages are the
  * bounded-heap [[graft.functions.TopKAgg]] — map-side partials, no
  * per-query reducer funnel.
  */
object PqIndex {

  /** codebooks(i)(j) = centroid j of subspace i; subDim = dim / m. */
  final case class Model(codebooks: Array[Array[Array[Float]]], dim: Int) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = dim / m
  }

  /** Fit per-subspace codebooks on a seeded sample (k-means needs only a
    * representative sample to place centroids — same argument as
    * [[IvfIndex.train]]). */
  def train(emb: DataFrame, dim: Int, m: Int = 4, k: Int = 16,
      seed: Long = 42L, maxIter: Int = 20,
      maxTrainVectors: Long = 100000L): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val n = emb.count()
    val sampled =
      if (n > maxTrainVectors)
        emb.sample(withReplacement = false, maxTrainVectors.toDouble / n, seed)
      else emb
    // one cached pass feeds all m sub-trainings; managed directly (not
    // via CacheScope) because train() completes its own actions here —
    // a CacheScope.releaseAll() would also drain caches the CALLER
    // registered on this thread and still expects alive
    val subs = sampled.select(
      (0 until m).map(i =>
        slice(col("embedding"), i * subDim + 1, subDim).as(s"sub_$i")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = (0 until m).map { i =>
        val feats = subs.select(
          array_to_vector(col(s"sub_$i").cast("array<double>")).as("features"))
        new KMeans().setK(k).setSeed(seed + i).setMaxIter(maxIter)
          .fit(feats).clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      Model(books, dim)
    } finally { subs.unpersist(); () }
  }

  /** Deterministic seed codebooks — the PQ twin of
    * [[IvfIndex.seedModel]]: codebook entry j of subspace i is the i-th
    * subvector of the j-th seed vector, where seeds are the `k` corpus
    * vectors with smallest md5(vec_id) ordered by vec_id. Zero train-time
    * arithmetic, so a DuckDB oracle rebuilds the identical codebooks and
    * the WHOLE PQ pipeline — native [[graft.functions.PqOps.PqCodes]]
    * argmin encode, ADC LUT scoring, oversample + exact re-rank —
    * becomes hash-checkable ([[train]]'s per-subspace k-means stays the
    * quality path; its iterations are engine-specific). */
  def seedModel(emb: DataFrame, dim: Int, m: Int, k: Int): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val seeds = emb.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    require(seeds.length == k, s"corpus smaller than k=$k seeds")
    val books = Array.tabulate(m)(i =>
      seeds.map(s => s.slice(i * subDim, (i + 1) * subDim)))
    Model(books, dim)
  }

  /** Encode: add `codes` (array<int>, one per subspace) and the
    * reconstruction norm `recon_norm` (computable from the codes alone —
    * stored so search never touches the raw vector). The per-subspace
    * argmin runs inside [[graft.functions.PqOps.PqCodes]] — one native
    * codegen'd kernel with CONSTANT generated-code size. The previous
    * compositional form (m·k inlined `float_dot(slice, literal)` loops)
    * pushed the whole-stage `processNext()` past janino's 64 KB method
    * limit at m=8, k=32 and the entire stage silently fell back to
    * interpreted execution. */
  def encode(emb: DataFrame, model: Model): DataFrame = {
    val fb = PqOps.flatten(model.codebooks)
    val coded = emb.withColumn("codes",
      PqOps.pqCodes(col("embedding"), fb))
    // |ĉ|² = Σ_i |c_i,code_i|² from the flattened norms table; m
    // element_at lookups, tiny codegen.
    val normSq = (0 until model.m).map { i =>
      element_at(typedLit(fb.norms), lit(i * model.k)
        + element_at(col("codes"), i + 1) + 1)
    }.reduce(_ + _)
    coded.withColumn("recon_norm", sqrt(normSq))
  }

  /** Per-QUERY ADC lookup table + query norm, computed once on the tiny
    * broadcast side (the table-precompute half of the PQ paper's ADC):
    * `__lut`[i·k + j] = dot(q_sub_i, c_ij), `__qn` = |q|. Scoring a
    * candidate is then m array lookups — nothing per (query, candidate)
    * pair recomputes a dot product. */
  private def withQueryLut(queries: DataFrame, qEmb: Column,
      model: Model): DataFrame = {
    val fb = PqOps.flatten(model.codebooks)
    queries
      .withColumn("__lut", PqOps.pqLut(qEmb, fb))
      .withColumn("__qn", sqrt(float_dot(qEmb, qEmb)))
  }

  /** ADC approximate cosine from the precomputed query LUT:
    * Σ_i lut[i·k + code_i] / (|q| · recon_norm). Summation order matches
    * the previous per-pair compositional form (ascending i, left-assoc),
    * so scores are bit-identical. */
  private def adcCosine(lut: Column, qn: Column, codes: Column,
      reconNorm: Column, model: Model): Column = {
    val dotApprox = (0 until model.m).map { i =>
      element_at(lut, lit(i * model.k) + element_at(codes, i + 1) + 1)
    }.reduce(_ + _)
    round(dotApprox / (qn * reconNorm), 6)
  }

  /** IVF+PQ combined search — the full FAISS IVFPQ shape: coarse cluster
    * pruning cuts the candidate set by ~nlist/nprobe, then ADC code
    * scoring avoids touching any pruned-in candidate's raw vector, and
    * only the oversampled shortlist is exactly re-ranked. At 100 TB the
    * corpus is co-partitioned by `cluster` and each probe reads a few
    * partitions' code columns — the two prunings compose multiplicatively. */
  def searchWithIvf(emb: DataFrame, ivf: IvfIndex.Model, pq: Model,
      queryPred: Column, k: Int, nprobe: Int = 2,
      oversample: Int = 4): DataFrame = {
    val coded = encode(IvfIndex.index(emb, ivf), pq)
      .select(col("vec_id").as("neighbor_id"), col("cluster"),
        col("codes"), col("recon_norm"))
    val queries = withQueryLut(
      emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(IvfIndex.probeCentroids(col("embedding"), ivf, nprobe))
            .as("cluster")),
      col("q_emb"), pq)
    val approx = coded.join(broadcast(queries), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", adcCosine(col("__lut"), col("__qn"),
        col("codes"), col("recon_norm"), pq))
    val shortlist = Similarity.topKPerQuery(approx, k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val exact = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(emb.filter(queryPred)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))), Seq("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(exact, k)
  }

  /** IVFPQ with the DETERMINISTIC assignment/probe ranking
    * ([[IvfIndex.nearestCentroidDet]]/[[IvfIndex.probeCentroidsDet]]) —
    * same plan shape as [[searchWithIvf]], but cluster decisions rank on
    * 6-dp rounded cosines with index tie-breaks, so paired with
    * [[IvfIndex.seedModel]] + [[seedModel]] codebooks the full composed
    * pipeline (coarse pruning → ADC codes → oversample → exact re-rank)
    * replays hash-exactly in a DuckDB oracle. */
  def searchWithIvfDeterministic(emb: DataFrame, ivf: IvfIndex.Model,
      pq: Model, queryPred: Column, k: Int, nprobe: Int = 2,
      oversample: Int = 4): DataFrame = {
    val coded = encode(
      emb.withColumn("cluster",
        IvfIndex.nearestCentroidDet(col("embedding"), ivf)), pq)
      .select(col("vec_id").as("neighbor_id"), col("cluster"),
        col("codes"), col("recon_norm"))
    val queries = withQueryLut(
      emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          explode(IvfIndex.probeCentroidsDet(col("embedding"), ivf, nprobe))
            .as("cluster")),
      col("q_emb"), pq)
    val approx = coded.join(broadcast(queries), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", adcCosine(col("__lut"), col("__qn"),
        col("codes"), col("recon_norm"), pq))
    val shortlist = Similarity.topKPerQuery(approx, k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val exact = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(emb.filter(queryPred)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))), Seq("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(exact, k)
  }

  /** PQ top-k search with exact re-rank: ADC-score every candidate's
    * CODES (cheap), keep the top `oversample·k` per query map-side, then
    * re-rank only that shortlist with true cosines. Output matches the
    * exact path's schema and determinism (6-dp rounding, vec_id
    * tie-break). */
  def search(emb: DataFrame, model: Model, queryPred: Column, k: Int,
      oversample: Int = 4): DataFrame = {
    val coded = encode(emb, model)
      .select(col("vec_id").as("neighbor_id"), col("codes"),
        col("recon_norm"))
    val queries = withQueryLut(
      emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      col("q_emb"), model)
    val approx = coded.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", adcCosine(col("__lut"), col("__qn"),
        col("codes"), col("recon_norm"), model))
    val shortlist = Similarity.topKPerQuery(approx, k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val exact = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
    Similarity.topKPerQuery(exact, k)
  }
}
