package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the memory side of the
  * ANN scale path. [[Ivf]] bounds the CANDIDATE count (nprobe·√n per
  * query); PQ bounds the BYTES: each corpus vector is stored as `m`
  * small codes (one byte-scale int per subspace) instead of `dim`
  * floats, and candidates are scored by asymmetric distance (ADC) —
  * query-to-codeword distances, never decompressed vectors. At
  * dim = 64 floats (256 B/vector) and m = 8 subspaces the index is
  * 8 B/vector + bucket id: a ~100-TB raw corpus carries a ~3-TB
  * searchable index, which is the difference between an index that
  * fits executor memory and one that doesn't.
  *
  * Training mirrors the [[Ivf.trainCentroids]] contract: one bounded
  * hash-ordered sample, per-subspace deterministic Lloyd — codebooks
  * are model metadata (m·ksub·dsub doubles), the corpus never leaves
  * executors. Everything downstream of training is pure expression
  * logic (argmin encode, LUT build, ADC fold), so given the codebook
  * and centroid fixtures as parquet the whole pipeline replays
  * bit-for-bit in ANSI SQL: all ADC arithmetic is +/−/× on doubles
  * cast from the same floats, folded in subspace order — no ln/exp,
  * so not even rounding is needed.
  *
  * `ksub` is a RESOLUTION knob, not a corpus knob — quantization
  * error depends on codeword density per subspace, not on n, so a
  * fixed ksub does not saturate the way fixed SRP bits / fixed nlist
  * did (the r13 census class): candidate counts are [[Ivf]]'s
  * geometry; PQ only changes what a candidate costs to score/store.
  */
object Pq {

  /** Per-subspace codebooks `[m][ksub][dsub]`, trained with the same
    * deterministic device as [[Ivf.trainCentroids]]: ONE hash-ordered
    * bounded sample of whole vectors, then an independent strided-init
    * Lloyd run per subspace over its slice. dim must divide evenly
    * into m subspaces.
    */
  def trainCodebooks(
      df: DataFrame, vecCol: String, m: Int, ksub: Int,
      iters: Int = 0, sampleSize: Int = 0): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1, "pq: need m >= 1, ksub >= 1")
    val nIters = if (iters > 0) iters else 10
    val nSample = if (sampleSize > 0) sampleSize else math.max(2000, 8 * ksub)
    // Ivf.sampleVectors: hash-ordered with the vector as total-order
    // tiebreaker (ADVICE r14 — deterministic sample multiset under
    // duplicates), and the shared k-means++/Lloyd kernel per subspace
    // (the r15 trainer quality fix rides along for free)
    val sample = Ivf.sampleVectors(df, vecCol, nSample)
    require(sample.nonEmpty, "pq: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pq: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      Ivf.lloyd(sub, Ivf.kppInit(sub, ksub), nIters)
    }
  }

  /** All codebooks as ONE nested literal (the [[Ivf]] centroidsLit
    * lesson: a per-component `lit` forest makes analysis dominate).
    */
  private def codebooksLit(cb: Array[Array[Array[Double]]]): Column =
    typedlit(cb.map(_.map(_.toSeq: Seq[Double]).toSeq: Seq[Seq[Double]])
      .toSeq: Seq[Seq[Seq[Double]]])

  private def subvec(vec: Column, j: Column, dsub: Int): Column =
    slice(vec, j * lit(dsub) + lit(1), lit(dsub))

  /** Per-query ADC lookup table `[m][ksub]`: squared L2 from each
    * query subvector to every codeword — built ONCE per query row
    * (m·ksub folds), after which each candidate costs m array lookups
    * + m additions regardless of dim.
    */
  def adcLut(vec: Column, cb: Array[Array[Array[Double]]]): Column = {
    val dsub = cb(0)(0).length
    val cbl = codebooksLit(cb)
    transform(sequence(lit(0), lit(cb.length - 1)), j =>
      transform(element_at(cbl, j + lit(1)),
        c => Vec.l2sq(subvec(vec, j, dsub), c)))
  }

  /** PQ code array (`array<int>`, length m): per subspace, the argmin
    * codeword of the vector's own [[adcLut]] row, first-min tie-break
    * — the [[Ivf.bucketId]] device per slice.
    */
  def encode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    transform(adcLut(vec, cb), Ivf.argmin(_))

  /** ADC distance of one candidate: Σ_j lut[j][code_j], folded in
    * subspace order from an exact 0.0 seed — the oracle's
    * `list_reduce(list(d ORDER BY sub))` lands on the same bits.
    */
  def adc(lut: Column, code: Column): Column =
    aggregate(
      zip_with(lut, code, (l, c) => element_at(l, c + lit(1))),
      lit(0.0), _ + _)

  /** The corpus half of the IVF-PQ index: (`neighbor_id`, `bucket`,
    * `code`) — the compressed form of [[Ivf.assignCorpus]]'s output.
    * No raw vector, no norm: at 100 TB THIS is what gets materialized
    * and scanned per query cycle; m ints + a bucket id per vector.
    */
  def assignCorpusPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame =
    Knn.spread(corpus, idCol, vecCol)
      .select(
        col(idCol).as("neighbor_id"),
        Ivf.bucketId(col(vecCol), centroids).as("bucket"),
        encode(col(vecCol), cb).as("code"))

  /** IVF-PQ ANN top-k: queries probe their `nprobe` nearest coarse
    * buckets of the COMPRESSED index and rank candidates by ADC
    * (ascending — it is a distance), ties by neighbor id. Output:
    * (query_id, rank, neighbor_id, adc). Same candidate geometry as
    * [[Ivf.annTopKAssigned]]; only the scoring payload changes —
    * which is the point: candidates ≈ nprobe·√n per query, bytes
    * ≈ m per candidate.
    */
  def annTopKPq(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], nprobe: Int): DataFrame =
    // the compressed index is MATERIALIZED (constraint-truncated)
    // before querying, for the reason Ivf.annTopKWith gives; it is ~m
    // ints + a bucket per row, the smallest frame in the pipeline
    annTopKPqAssigned(
      graft.CacheScope.localCheckpointTruncated(
        assignCorpusPq(corpus, idCol, vecCol, centroids, cb)),
      queries, idCol, vecCol, k, centroids, cb, nprobe)

  /** IVF-PQ with exact refinement (the FAISS refine pattern): the
    * compressed index produces an ADC SHORTLIST of `shortlist` ids per
    * query, then ONLY those rows' raw vectors are fetched back from
    * the corpus for exact squared-L2 re-ranking to top-k. This is the
    * production read path: the full scan touches m-byte codes, the
    * exact math touches `shortlist` rows per query — quantization
    * noise decides membership of a generous shortlist, never the
    * final order. Output: (query_id, rank, neighbor_id, l2).
    */
  def annTopKPqRefined(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], nprobe: Int,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, "pq: shortlist must be >= k")
    val short = annTopKPq(corpus, queries, idCol, vecCol, shortlist,
      centroids, cb, nprobe).select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    Knn.rankTopK(
      short.join(qv, "query_id").join(nv, "neighbor_id")
        .withColumn("l2", Vec.l2sq(col("qv"), col("nv"))),
      k, "l2", descending = false)
  }

  /** [[annTopKPq]] from a PRECOMPUTED compressed index (the stored
    * half) — the query-only path a production cycle pays.
    */
  def annTopKPqAssigned(
      assigned: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], nprobe: Int): DataFrame =
    Knn.rankTopK(
      Ivf.probeJoin(assigned, queries, idCol, vecCol, centroids, nprobe,
          "cand_ivfpq", adcLut(col(vecCol), cb).as("lut"))
        .withColumn("adc", adc(col("lut"), col("code"))),
      k, "adc", descending = false)
}
