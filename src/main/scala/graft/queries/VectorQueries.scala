package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Knn

/** Similarity search over the `embeddings` table (BASELINE.json north
  * star). The oracle computes cosine with the same sequential double
  * fold (`list_reduce` ≡ Spark `aggregate`), so similarity values are
  * bit-identical and thresholds/ranks agree exactly.
  */
object VectorQueries {

  def all: Seq[Q] = Seq(cosinePairs, srpPairs, embedIncremental, knnBrute,
    knnAnn, knnIvf, knnIvfPq, clusterSample, semDedup, hybridRrf,
    embedDecontaminate)

  /** SRP bits/table the queries RAN with, per dataset dir — recorded
    * at run time, read back by the oracle thunks for [[Q.renderDir]]
    * so the replay regenerates the exact plane family the adaptive
    * geometry chose for that corpus (fallback: derive from nothing =
    * the fixture-scale floor of 6).
    */
  private val srpBitsByDir =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Trained models cached per dataset dir (ADVICE r14: q_knn_ivf /
    * q_knn_ivfpq / q_cluster_sample retrained centroids, re-ran the
    * corpus count, and rewrote their parquet fixtures on EVERY
    * invocation — inflating bench timings with training cost that a
    * production deployment pays once per corpus version). Training is
    * deterministic, so the first invocation per (JVM, dir) trains and
    * writes the fixture; later invocations are pure query cycles —
    * exactly the stored-index split the x_ivf_query_only rehearsal
    * prices.
    */
  private val ivfCentByDir = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Double]]]
  private val pqCbByDir = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Array[Double]]]]

  private[graft] def trainedCentroids(
      s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] =
    ivfCentByDir.getOrElseUpdate(dir, {
      import graft.operators.Ivf
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      // through the driver/executor split (VERDICT r15 watch 2): a
      // past-the-cap corpus takes the distributed trainer on the
      // catalog path too, not only in the rehearsal's forced entry.
      // The cap is conf-overridable so deployments (and IvfSpec) can
      // move the split without a rebuild.
      val cap = s.conf.getOption("spark.graft.ivf.driverTrainCap")
        .map(_.toLong).getOrElse(Ivf.DriverTrainCap)
      Ivf.trainCentroidsAuto(emb, "embedding",
        k = Ivf.adaptiveNlist(n), n = n, capVectors = cap)
    })

  /** Drop the cached models for `dir` (test hook: IvfSpec retrains
    * the catalog path under an overridden cap, then restores).
    */
  private[graft] def invalidateModels(dir: String): Unit = {
    ivfCentByDir.remove(dir)
    pqCbByDir.remove(dir)
  }

  private def trainedCodebooks(
      s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    pqCbByDir.getOrElseUpdate(dir,
      graft.operators.Pq.trainCodebooks(
        Tables.embeddings(s, dir), "embedding", m = 8, ksub = 64))

  /** Write a trained-model fixture once per (JVM, path). Its path is
    * `Fixtures.path(name, dir)`, which the oracle thunks render for
    * [[Q.renderDir]], so interleaved runs against two dirs each read
    * their own fixture (ADVICE r13).
    */
  private def writeFixtureOnce(path: String)(rows: => DataFrame): Unit =
    Fixtures.once(path)(rows.coalesce(1).write.mode("overwrite").parquet(path))

  /** The dataset's trained centroids, written once per (JVM, dir) to
    * the ONE centroid fixture (`ivf_centroids_<tag>`) that every
    * centroid oracle reads through [[centroidCtes]].
    */
  private def centroidFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] = {
    val cents = trainedCentroids(s, dir)
    writeFixtureOnce(Fixtures.path("ivf_centroids", dir)) {
      import s.implicits._
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("cid", "c")
    }
    cents
  }

  /** The centroid-assignment replay as DuckDB CTEs over the centroid
    * fixture: `cent` (the fixture), `dist` (sequential-fold squared L2
    * per (row, centroid)), `cbucket` (each row's argmin centroid, in
    * the column named `bucket`, first-min tie-break); `also` is spliced
    * in after `cent`.
    */
  private def centroidCtes(bucket: String, also: String = ""): String =
    s"""cent AS (
       |  SELECT cid, c FROM read_parquet('${Fixtures.path("ivf_centroids", Q.renderDir)}/*.parquet')
       |)$also, dist AS (
       |  SELECT e.vec_id AS id, ct.cid,
       |    list_reduce(list_transform(range(1, len(e.embedding)+1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - ct.c[i])
       |         * (CAST(e.embedding[i] AS DOUBLE) - ct.c[i])),
       |      (x, y) -> x + y) AS d
       |  FROM embeddings e CROSS JOIN cent ct
       |), cbucket AS (
       |  SELECT id, cid AS $bucket FROM dist
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) = 1
       |)""".stripMargin

  /** The nprobe = 4 probe buckets of the query rows (id < 10) in
    * (distance, cid) order, over [[centroidCtes]]' `dist`.
    */
  private def qprobeCte: String =
    """qprobe AS (
      |  SELECT id, cid AS bucket FROM dist WHERE id < 10
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) <= 4
      |)""".stripMargin

  private def recordSrpBits(dir: String, n: Long): Int = {
    val bits = Knn.adaptiveBits(n)
    srpBitsByDir.put(dir, bits)
    bits
  }

  private def srpBitsForRender: Int =
    srpBitsByDir.getOrElse(Q.renderDir, 6)

  /** IVF (centroid-bucketed) ANN top-5 — the second scale path. A FULL
    * oracle gate since VERDICT r11 item 2: training is deterministic
    * (hash-ordered bounded sample, strided init, fixed Lloyd
    * iterations — spec-gated), and everything downstream of training
    * is pure expression logic, so the query writes the trained
    * centroids to a parquet fixture and DuckDB replays assignment
    * (sequential-fold L2 argmin, first-min tie-break), nprobe probing
    * ((distance, cid) sort order), the bucket candidate join, and the
    * exact-cosine top-5 bit-for-bit.
    */
  val knnIvf: Q = Q(
    "q_knn_ivf",
    s"""WITH ${centroidCtes("bucket")}, $qprobeCte, cand AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id
       |  FROM qprobe q JOIN cbucket c ON q.bucket = c.bucket
       |    AND q.id <> c.id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.query_id
       |  JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    import graft.operators.Ivf
    val emb = Tables.embeddings(s, dir)
    // nlist ≈ √n (adaptive — a fixed k is the saturation class the
    // r13 census measured; the oracle reads whatever centroid count
    // the fixture carries, so no SQL change rides along); trained and
    // fixture-written once per (JVM, dir) — ADVICE r14
    val centroids = centroidFixture(s, dir)
    Ivf.annTopKWith(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, centroids, nprobe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Semantic-diversity sampling: k-means cluster the embedding corpus
    * (the q_knn_ivf training device — deterministic Lloyd, adaptive
    * √n clusters, fixture-replayed) and take a deterministic
    * hash-rank quota per CLUSTER — cluster-balanced selection, the
    * embedding-space analogue of q_stratified_sample's per-language
    * quota: head clusters stop drowning out the tail, which is what a
    * diversity-curated training mix wants. One shuffle on the cluster
    * id; rank ≤ quota prunes map-side via WindowGroupLimit. The
    * oracle replays assignment (argmin with first-min tie-break), the
    * per-cluster size, and the md5 rank walk from the centroid
    * fixture.
    */
  val clusterSample: Q = Q(
    "q_cluster_sample",
    s"""WITH ${centroidCtes("cluster")}
       |SELECT cluster, n_cluster, vec_id FROM (
       |  SELECT cluster, id AS vec_id,
       |    CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_cluster,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
       |  FROM cbucket) t
       |WHERE rn <= 10
       |ORDER BY cluster, vec_id""".stripMargin) { (s, dir) =>
    import graft.operators.Ivf
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val centroids = centroidFixture(s, dir)
    val assigned = emb.select(col("vec_id"),
      Ivf.bucketId(col("embedding"), centroids).as("cluster"))
    assigned
      .withColumn("n_cluster",
        count(lit(1)).over(Window.partitionBy(col("cluster"))).cast("long"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select(col("cluster"), col("n_cluster"), col("vec_id"))
      .orderBy(col("cluster"), col("vec_id"))
  }

  /** SEMANTIC deduplication, SemDeDup-style (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means cluster the embedding corpus (the
    * shared adaptive-√n trained model), then compare pairs ONLY
    * within a cluster — the paper's device for making semantic dedup
    * tractable at web scale: the quadratic is bounded per cluster
    * (Σ C(n_b,2) ≈ n^1.5 at k = √n), never corpus-wide. A vector is
    * DROPPED when a smaller-id vector in the same cluster has cosine
    * ≥ τ (deterministic keep-lowest-id representative — the same rule
    * as the text dedup family; the paper keeps a centroid-distance
    * representative, an arbitrary-but-fixed choice we replace with a
    * replayable one). One shuffle on the cluster id for the pair
    * join; exact cosine only on within-cluster candidates. FULL
    * oracle: assignment argmin, within-cluster pair set, and the
    * sequential cosine fold all replay bit-for-bit from the centroid
    * fixture.
    */
  val semDedup: Q = Q(
    "q_semdedup",
    s"""WITH ${centroidCtes("cluster")}, pairs AS (
       |  SELECT a.id AS a_id, b.id AS b_id
       |  FROM cbucket a JOIN cbucket b
       |    ON a.cluster = b.cluster AND a.id < b.id
       |), dup AS (
       |  SELECT DISTINCT p.b_id
       |  FROM pairs p
       |  JOIN embeddings ea ON ea.vec_id = p.a_id
       |  JOIN embeddings eb ON eb.vec_id = p.b_id
       |  WHERE ${cosineSql("ea.embedding", "eb.embedding")} >= 0.4
       |)
       |SELECT c.id AS vec_id, c.cluster, (d.b_id IS NULL) AS is_kept
       |FROM cbucket c LEFT JOIN dup d ON c.id = d.b_id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.operators.Ivf
    import graft.functions.Vec
    val emb = Tables.embeddings(s, dir)
    val centroids = centroidFixture(s, dir)
    // constraint-truncated like annTopKWith: the cluster = argmin
    // alias constraint must not cross the self-join
    val assigned = graft.CacheScope.localCheckpointTruncated(
      emb.select(col("vec_id"), col("embedding"),
        Ivf.bucketId(col("embedding"), centroids).as("cluster")))
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_v"), Vec.norm(col("embedding")).as("a_n"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_v"), Vec.norm(col("embedding")).as("b_n"))
    val dup = graft.tools.RunMetrics.observedCount("cand_semdedup",
        a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id")))
      .withColumn("cosine",
        Vec.dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
      .filter(col("cosine") >= 0.4)
      .select(col("b_id").as("vec_id")).distinct()
    assigned
      .join(dup.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("__dup").isNull.as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** The PQ codebook fixture as the `cb` CTE. */
  private def pqCodebookCte: String =
    s""", cb AS (
       |  SELECT sub, cid, c FROM read_parquet('${Fixtures.path("pq_codebooks", Q.renderDir)}/*.parquet')
       |)""".stripMargin

  /** IVF-PQ ANN top-5 with exact refinement ([[graft.operators.Pq]])
    * — the MEMORY side of the ANN scale path: the index stores m = 8
    * codebook ids + a coarse bucket per vector (vs 64 floats), the
    * scan ranks candidates by asymmetric distance (query-to-codeword
    * LUT lookups, never decompressed vectors) into a 50-id shortlist,
    * and only the shortlist's raw vectors are fetched for exact
    * squared-L2 top-5 (the FAISS refine pattern — quantization noise
    * decides shortlist membership, never the final order). A FULL
    * oracle gate like q_knn_ivf: both trained models land as parquet
    * fixtures and DuckDB replays coarse assignment, nprobe probing,
    * per-subspace argmin encoding, the query LUT, the
    * subspace-ordered ADC fold, the shortlist cut, and the exact-L2
    * re-rank bit-for-bit — all pure +/−/× on doubles, so no rounding
    * is even needed.
    */
  val knnIvfPq: Q = Q(
    "q_knn_ivfpq",
    s"""WITH ${centroidCtes("bucket", also = pqCodebookCte)}, $qprobeCte, subdist AS (
       |  -- subspace width derives from the CODEBOOK fixture (len(cb.c)),
       |  -- not a hardcoded 8: if the trained shape ever changes, the
       |  -- oracle tracks it instead of silently mis-slicing (ADVICE r14)
       |  SELECT e.vec_id AS id, cb.sub, cb.cid,
       |    list_reduce(list_transform(range(1, len(cb.c)+1),
       |      i -> (CAST(e.embedding[cb.sub*len(cb.c) + i] AS DOUBLE) - cb.c[i])
       |         * (CAST(e.embedding[cb.sub*len(cb.c) + i] AS DOUBLE) - cb.c[i])),
       |      (x, y) -> x + y) AS d
       |  FROM embeddings e CROSS JOIN cb
       |), code AS (
       |  SELECT id, sub, cid AS code FROM subdist
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d, cid) = 1
       |), cand AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id
       |  FROM qprobe q JOIN cbucket c ON q.bucket = c.bucket AND q.id <> c.id
       |), terms AS (
       |  SELECT cand.query_id, cand.neighbor_id, k.sub, s.d
       |  FROM cand
       |  JOIN code k ON k.id = cand.neighbor_id
       |  JOIN subdist s ON s.id = cand.query_id AND s.sub = k.sub
       |    AND s.cid = k.code
       |), short AS (
       |  SELECT query_id, neighbor_id
       |  FROM (SELECT query_id, neighbor_id,
       |          list_reduce(list(d ORDER BY sub), (x, y) -> x + y) AS adc
       |        FROM terms GROUP BY query_id, neighbor_id) a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id) <= 50
       |), rer AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    list_reduce(list_transform(range(1, len(ea.embedding)+1),
       |      i -> (CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE))
       |         * (CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE))),
       |      (x, y) -> x + y) AS l2
       |  FROM short sh
       |  JOIN embeddings ea ON ea.vec_id = sh.query_id
       |  JOIN embeddings eb ON eb.vec_id = sh.neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, l2
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY l2, neighbor_id) AS rank FROM rer) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    import graft.operators.Pq
    val emb = Tables.embeddings(s, dir)
    val centroids = centroidFixture(s, dir)
    val cb = trainedCodebooks(s, dir)
    writeFixtureOnce(Fixtures.path("pq_codebooks", dir)) {
      import s.implicits._
      cb.zipWithIndex.flatMap { case (cents, j) =>
          cents.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) } }.toSeq
        .toDF("sub", "cid", "c")
    }
    Pq.annTopKPqRefined(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, centroids, cb, nprobe = 4, shortlist = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The sequential-fold cosine of two embedding expressions — the
    * oracle twin of [[graft.functions.Vec.cosine]].
    */
  private def cosineSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)), (x,y) -> x+y)
      | / (sqrt(list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, len($b)+1), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)), (x,y) -> x+y)))"""
      .stripMargin.replace("\n", "")

  /** Embedding near-dup pairs: cosine ≥ 0.4 over all id-ordered pairs
    * (brute-force baseline; SRP-bucketed variant is the scale path).
    */
  val cosinePairs: Q = Q(
    "q_embed_cosine_pairs",
    s"""SELECT a.vec_id AS d1, b.vec_id AS d2,
       |  ${cosineSql("a.embedding", "b.embedding")} AS cosine
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Knn.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
      .orderBy(col("d1"), col("d2"))
  }

  /** The portable-plane sign-bucket pipeline as DuckDB CTEs (`p` =
    * planes, `dots` = per-(row, table, bit) margins, `bk` = per-(row,
    * table) sign buckets) — shared by the whole-corpus and incremental
    * SRP oracle gates; mirrors `Knn.portablePlanes` + the Spark
    * bucketing bit-for-bit.
    */
  private def srpBucketCtes(bits: Int): String = {
    // x0 = polyhash component seed; x1 = squared-affine mix — must
    // repeat x0 textually (SQL has no local binding inside a lambda)
    val x0 = "((p.hb*1000003 + i - 1) % 2147483647)"
    val x1 = s"(($x0 * $x0 % 2147483647) * 1000003 + $x0) % 2147483647"
    s"""p AS (
       |  SELECT t.range AS t, b.range AS b,
       |    ((CAST(7 AS BIGINT)*1000003 + t.range) % 2147483647 * 1000003 + b.range) % 2147483647 AS hb
       |  FROM range(0, 8) t, range(0, $bits) b
       |), dots AS (
       |  SELECT e.vec_id AS id, p.t, p.b,
       |    list_reduce(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) *
       |        (CASE WHEN ($x1) * 2 < 2147483647
       |              THEN 1.0 ELSE -1.0 END)),
       |      (x, y) -> x + y) AS d
       |  FROM embeddings e CROSS JOIN p
       |), bk AS (
       |  SELECT id, t, SUM(CASE WHEN d > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY id, t
       |)""".stripMargin
  }

  /** SRP-bucketed near-dup pairs — the catalog's SCALE default for
    * whole-corpus embedding dedup (`q_embed_cosine_pairs` stays the
    * brute-force baseline; the DedupSpec proves subset-of-exact +
    * recall). A FULL oracle gate since the planes moved to the
    * portable ±1 family ([[Knn.portablePlanes]]): the oracle rebuilds
    * every plane from the same PolyHash integer recurrence
    * (`hb = polyhash(t, bit)`; per component `x = (hb·A + i) mod M`,
    * sign = `x² mod M < M/2`), multiplication by ±1.0 is IEEE-exact,
    * and both engines fold the products sequentially — so buckets,
    * candidate pairs, and cosines replay bit-for-bit.
    */
  val srpPairs: Q = Q(
    "q_embed_srp_pairs",
    s"""WITH ${srpBucketCtes(srpBitsForRender)}, cand AS (
       |  SELECT DISTINCT a.id AS d1, b2.id AS d2
       |  FROM bk a JOIN bk b2 ON a.t = b2.t AND a.bucket = b2.bucket AND a.id < b2.id
       |)
       |SELECT c.d1, c.d2,
       |  ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |FROM cand c
       |JOIN embeddings ea ON ea.vec_id = c.d1
       |JOIN embeddings eb ON eb.vec_id = c.d2
       |WHERE ${cosineSql("ea.embedding", "eb.embedding")} >= 0.4
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Knn.cosinePairsBucketed(emb, "vec_id", "embedding", 0.4,
        bitsPerTable = recordSrpBits(dir, emb.count()))
      .orderBy(col("d1"), col("d2"))
  }

  /** INCREMENTAL embedding near-dup ([[Knn.srpPairsAgainstBase]]):
    * one ingest cycle's batch (vec_id ≡ 0 mod 5) banded against the
    * standing corpus (vec_id ≢ 0 mod 5) — bucket-join incoming×base,
    * exact-cosine verify, never a base×base self-join. Same portable
    * plane family as q_embed_srp_pairs, so the oracle replays the full
    * pipeline (planes → signs → buckets → candidates → cosines)
    * bit-for-bit and this is a rows+schema+hash gate.
    */
  val embedIncremental: Q = Q(
    "q_embed_incremental",
    s"""WITH ${srpBucketCtes(srpBitsForRender)}, cand AS (
       |  SELECT DISTINCT a.id AS d_new, b2.id AS d_base
       |  FROM bk a JOIN bk b2 ON a.t = b2.t AND a.bucket = b2.bucket
       |  WHERE a.id % 5 = 0 AND b2.id % 5 <> 0
       |)
       |SELECT c.d_new, c.d_base,
       |  ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |FROM cand c
       |JOIN embeddings ea ON ea.vec_id = c.d_new
       |JOIN embeddings eb ON eb.vec_id = c.d_base
       |WHERE ${cosineSql("ea.embedding", "eb.embedding")} >= 0.4
       |ORDER BY d_new, d_base""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    // the oracle's CTEs band the WHOLE table with one bit count, so
    // the split sides band with bits derived from the full corpus —
    // the same record q_embed_srp_pairs/q_knn_ann write for this dir
    val bits = recordSrpBits(dir, emb.count())
    Knn.srpPairsAgainstBase(
      emb.filter(col("vec_id") % 5 =!= 0),
      emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", 0.4, bitsPerTable = bits)
      .orderBy(col("d_new"), col("d_base"))
  }

  /** Brute-force cosine top-5 for query vectors (vec_id < 10):
    * the ANN correctness baseline.
    */
  val knnBrute: Q = Q(
    "q_knn_brute",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
       |scored AS (SELECT query_id, neighbor_id,
       |    ${cosineSql("qv", "nv")} AS cosine
       |  FROM q JOIN c ON query_id <> neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Knn.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** SRP-LSH bucketed ANN top-5 (scale path; recall measured in the
    * spec against the brute-force baseline). A FULL oracle gate since
    * annTopK moved to the portable ±1 plane family: the oracle replays
    * planes → margins → base sign buckets → the 2 weakest-|margin|
    * probe flips (ties by bit value, matching the struct sort) →
    * bucket-join candidates → exact cosine → per-query top-5, all
    * bit-for-bit in DuckDB SQL.
    */
  val knnAnn: Q = Q(
    "q_knn_ann",
    s"""WITH ${srpBucketCtes(srpBitsForRender)}, probes AS (
       |  SELECT d.id, d.t, CAST(power(2, d.b) AS BIGINT) AS bitval,
       |    ROW_NUMBER() OVER (PARTITION BY d.id, d.t
       |      ORDER BY abs(d.d), power(2, d.b)) AS rn
       |  FROM dots d WHERE d.id < 10
       |), qb AS (
       |  SELECT id, t, CAST(bucket AS BIGINT) AS bucket FROM bk WHERE id < 10
       |  UNION
       |  SELECT p.id, p.t, xor(CAST(b.bucket AS BIGINT), p.bitval)
       |  FROM probes p JOIN bk b ON b.id = p.id AND b.t = p.t
       |  WHERE p.rn <= 2
       |), cand AS (
       |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
       |  FROM qb q JOIN bk c ON q.t = c.t AND q.bucket = CAST(c.bucket AS BIGINT)
       |    AND q.id <> c.id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.query_id
       |  JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    Knn.annTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, dim = 64,
      bitsPerTable = recordSrpBits(dir, emb.count()))
      .orderBy(col("query_id"), col("rank"))
  }

  /** HYBRID retrieval via reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse the BM25 probe-term ranking over
    * `documents` with an embedding-cosine ranking over `embeddings`
    * (query vector = vec_id 0's own embedding, collected driver-side
    * as model metadata — one vector, no join), each cut to its top-50,
    * RRF score = Σ 1/(60 + rank) over the lists a doc appears in,
    * top-20 by fused score. The modern retrieval-stack default for
    * "find the subcorpus most like this" targeted data selection —
    * lexical recall where embeddings miss exact terms, semantic
    * recall where wording differs.
    *
    * Scale shape: each leg's global top-50 is a rank-window with a
    * map-side WindowGroupLimit prune (each task pre-cuts to 50, the
    * reduce side sees tasks×50 rows — the q_limit_by device applied
    * globally); the fusion join holds ≤ 100 rows. FULL oracle: BM25
    * replays via the shared [[TextQueries.bm25CoreSql]] CTEs, cosine
    * via the sequential fold, ranks and 1/(60+r) arithmetic are
    * integer-fed double ops — bit-identical.
    */
  val hybridRrf: Q = Q(
    "q_hybrid_rrf",
    s"""WITH ${TextQueries.bm25CoreSql},
       |trank AS (
       |  SELECT doc_id AS id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS tr
       |  FROM bscore QUALIFY tr <= 50),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |vscore AS (
       |  SELECT e.vec_id AS id,
       |    ${cosineSql("e.embedding", "qv.q")} AS cosine
       |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
       |vrank AS (
       |  SELECT id, ROW_NUMBER() OVER (ORDER BY cosine DESC, id) AS vr
       |  FROM vscore QUALIFY vr <= 50),
       |fused AS (
       |  SELECT COALESCE(t.id, v.id) AS id, t.tr, v.vr,
       |    COALESCE(1.0 / (60 + t.tr), 0) + COALESCE(1.0 / (60 + v.vr), 0) AS rrf
       |  FROM trank t FULL OUTER JOIN vrank v ON t.id = v.id)
       |SELECT id, tr, vr, rrf FROM fused
       |ORDER BY rrf DESC, id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    import graft.operators.Relevance
    import graft.functions.Vec
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val textRank = Relevance.bm25(docs, "doc_id", "text",
        TextQueries.Bm25ProbeTerms)
      .withColumn("tr", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("tr") <= 50)
      .select(col("doc_id").as("id"), col("tr"))
    // the query vector is MODEL METADATA (one row) — shipped as a
    // literal, not a join side (a 1-row broadcast cross join would be
    // a BroadcastNestedLoopJoin, the plan class PLANCHECK forbids)
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    val qLit = typedlit(qvec)
    val vecRank = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("id"),
        (Vec.dot(col("embedding"), qLit) /
          (Vec.norm(col("embedding")) * Vec.norm(qLit))).as("cosine"))
      .withColumn("vr", row_number().over(
        Window.orderBy(col("cosine").desc, col("id"))).cast("long"))
      .filter(col("vr") <= 50)
      .select(col("id"), col("vr"))
    textRank.join(vecRank, Seq("id"), "full_outer")
      .select(col("id"), col("tr"), col("vr"),
        (coalesce(lit(1.0) / (lit(60) + col("tr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(20)
  }

  /** Embedding-space decontamination: corpus vectors (vec_id % 20 ≠ 0)
    * scanned against the benchmark slice (vec_id % 20 = 0) — one row
    * per contaminated corpus id with hit count and max cosine. The
    * oracle recomputes the same broadcast-join-then-aggregate from the
    * brute-force pair set with the identical sequential cosine fold.
    */
  val embedDecontaminate: Q = Q(
    "q_embed_decontaminate",
    s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS bv
       |    FROM embeddings WHERE vec_id % 20 = 0),
       |c AS (SELECT vec_id, embedding AS cv
       |    FROM embeddings WHERE vec_id % 20 <> 0),
       |scored AS (SELECT c.vec_id,
       |    ${cosineSql("cv", "bv")} AS cosine
       |  FROM c JOIN b ON c.vec_id <> b.bench_id)
       |SELECT vec_id, COUNT(*) AS n_hits, MAX(cosine) AS max_cosine
       |FROM scored WHERE cosine >= 0.4
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    graft.operators.Knn.decontaminate(
      emb.filter(col("vec_id") % 20 =!= 0),
      emb.filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", tau = 0.4)
      .orderBy(col("vec_id"))
  }
}
