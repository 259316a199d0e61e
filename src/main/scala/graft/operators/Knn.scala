package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.TrackedDataFrame
import graft.functions.Vec

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — brute-force cosine top-k as the correctness
  * baseline, random-hyperplane LSH bucketing as the 100 TB path.
  */
object Knn {

  /** Brute-force cosine top-k: every query row scores against every
    * corpus row. Correct, O(|Q|·|C|) — the baseline the ANN variant is
    * measured against, and the right choice when |Q| is small (the
    * query side is broadcast; the corpus streams through one codegen
    * stage, then a top-k window per query).
    *
    * Norms are precomputed per row BEFORE the pairing join — the fold
    * runs once per vector, not once per pair, and because it is the
    * same sequential fold the oracle runs per pair, `dot/(n1*n2)`
    * stays bit-identical. The corpus side is repartitioned: a single
    * parquet row group would otherwise serialize the whole score loop.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qvec"),
      Vec.norm(col(vecCol)).as("qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
      Vec.norm(col(vecCol)).as("nn"))
      .repartition(col(s"neighbor_id"))
    rankTopK(
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine",
          Vec.dot(col("qvec"), col("nvec")) / (col("qn") * col("nn"))),
      k, "cosine", descending = true)
  }

  /** The per-query top-k ranker every kNN kernel ends in: rank each
    * query's candidates by `score` (`descending` for a similarity,
    * ascending for a distance), ties by neighbor id, keep rank ≤ k.
    * Output: (query_id, rank: long, neighbor_id, `score`).
    */
  private[operators] def rankTopK(
      scored: DataFrame, k: Int, score: String, descending: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (descending) col(score).desc else col(score), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col(score))
  }

  /** The (`idCol`, `vecCol`) columns of `df` spread over
    * `defaultParallelism` partitions by id: a single parquet row group
    * would otherwise serialize every per-row vector kernel downstream.
    */
  private[operators] def spread(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))

  /** Target mean rows-per-bucket for the adaptive SRP geometry: small
    * enough that a bucket's within-bucket pair count (≈ occ²/2) stays
    * cheap, large enough that true neighbors keep colliding.
    */
  val SrpTargetOccupancy = 32L

  /** CORPUS-ADAPTIVE bits per SRP table: the smallest `bits` with
    * `n / 2^bits ≤ targetOccupancy` (floored/capped). A FIXED bit
    * count is a scale-killer the r13 census measured directly: at 8
    * tables × 6 bits the candidate set reaches the uniform floor
    * n²/2^bits by ~20k vectors — candidates quadratic in corpus from
    * there up (SCALE_r13 srp census: sf0.1→sf1 candidates grew 100×
    * for 10× data). Deriving bits from a cheap corpus count keeps
    * expected occupancy — and so candidates-per-row ≈
    * tables × occupancy/2 — CONSTANT across tiers: the candidate
    * join stays linear in n at any corpus size. The floor keeps the
    * fixture-scale geometry (and every recorded oracle) identical to
    * the pre-adaptive 6-bit family below ~2k rows; the cap bounds the
    * plane literal (numTables × bits × dim doubles). Recall at fixed
    * table count decays as bits grow — the standard LSH trade; raise
    * `numTables`/`probes` to buy it back, never bits down (the census
    * gate in KernelSpec pins the occupancy envelope, and the
    * rehearsal's cross-tier slope gate pins candidates-per-row flat).
    */
  def adaptiveBits(
      n: Long, targetOccupancy: Long = SrpTargetOccupancy,
      floor: Int = 6, cap: Int = 24): Int = {
    require(targetOccupancy >= 1, "adaptiveBits: occupancy must be >= 1")
    require(floor >= 1 && cap >= floor, "adaptiveBits: need 1 <= floor <= cap")
    var bits = floor
    while (bits < cap && (n >> bits) > targetOccupancy) bits += 1
    bits
  }

  /** Sentinel for `bitsPerTable` parameters: derive via
    * [[adaptiveBits]] from a count of the corpus side.
    */
  val AutoBits = 0

  private def resolveBits(bitsPerTable: Int, corpus: => Long): Int =
    if (bitsPerTable == AutoBits) adaptiveBits(corpus) else bitsPerTable

  /** PORTABLE Rademacher (±1) hyperplanes — sign-random-projection
    * needs only a symmetric component distribution, so ±1 entries
    * estimate angles exactly as Gaussian ones do (Charikar STOC'02
    * §3; Achlioptas JCSS'03 for the ±1 projection family), and they
    * buy two things Gaussians can't:
    *
    *  1. the component stream derives from the integer
    *     [[graft.plans.PolyHash]] family (`hb = polyhash(t, bit)`,
    *     then per component a squared-LCG mix — all mod 2^31−1, every
    *     intermediate under 2^62), so the EXACT same plane replays in
    *     ANSI SQL and the SRP bucket query is a full DuckDB oracle
    *     gate instead of a recall-only spec;
    *  2. multiplying by ±1.0 is IEEE-exact, so each product is just a
    *     possibly-negated double-cast of the input component — the
    *     sequential-fold determinism contract of [[Vec.dot]] holds
    *     with zero rounding introduced by the plane itself.
    *
    * The squared-affine mix (`x ← (x² mod M)·A + x mod M`) breaks the
    * adjacency of consecutive component indices (`x` steps by 1 per
    * component but `x²` steps by `2x+1`) AND the cross-plane
    * correlation a bare squaring leaves behind: two planes' `x`
    * streams differ by a constant offset, and `(x+c)²` shares the
    * `x²` term, so sign streams stay correlated and sign BUCKETS pile
    * up — measured on the 10× embeddings tier, one bare squaring put
    * 164M candidate pairs in the bucket join (max bucket 5,823 of
    * 20k rows) where Gaussian planes produce 26.7M; the affine
    * recombination restores 26.5M / max bucket 576, at or better than
    * the Gaussian balance. Every intermediate stays under 2^62, so
    * the exact stream replays in ANSI SQL BIGINTs.
    */
  def portablePlanes(numTables: Int, bits: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    import graft.plans.PolyHash.{Mod, MultA}
    (0 until numTables).map { t =>
      (0 until bits).map { b =>
        val hb = ((7L * MultA + t) % Mod * MultA + b) % Mod
        (0 until dim).map { i =>
          val x0 = (hb * MultA + i) % Mod
          val x1 = (x0 * x0 % Mod * MultA + x0) % Mod
          if (x1 * 2 < Mod) 1.0 else -1.0
        }
      }
    }
  }

  /** All hyperplane tables as ONE nested-array literal
    * (`array<array<array<double>>>`): a single Literal node instead of
    * numTables×bits×dim `lit` nodes. The flattened form measured a 7×
    * wall-clock regression on the ANN path — not from arithmetic but
    * from Catalyst itself (analysis/canonicalization over ~3k-node
    * trees) and from every margin being computed twice. One literal
    * keeps the tree tiny and ships to executors once.
    */
  private def planesLit(tables: Seq[Seq[Seq[Double]]]): Column =
    typedlit(tables.map(_.map(_.toSeq: Seq[Double]).toSeq: Seq[Seq[Double]]).toSeq)

  private def bitValuesLit(bits: Int): Column =
    typedlit((0 until bits).map(i => 1 << i).toSeq: Seq[Int])

  /** Per-table hyperplane dots: `transform` over the plane literal,
    * one codegen'd DotProduct per plane — each margin evaluated
    * exactly once.
    */
  private def tableDots(vec: Column, planes: Column): Column =
    transform(planes, tbl => transform(tbl, p => Vec.dot(vec, p)))

  /** Sign-bucket from a table's dot array — vectors in the same
    * bucket are likely cosine-close (SRP-LSH).
    */
  private def bucketFromDots(dots: Column, bits: Int): Column =
    aggregate(
      zip_with(dots, bitValuesLit(bits),
        (d, b) => when(d > 0, b).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)

  /** Query-side probe buckets for one SRP table, derived purely from
    * the (already materialized) dot array: the base sign-bucket plus
    * `probes` MULTI-PROBE buckets, each flipping one of the weakest
    * bits (smallest |margin| to its hyperplane — the bits most likely
    * to disagree for a true near neighbor). Raises recall at a fixed
    * table count without touching candidate verification.
    */
  private def probeFromDots(dots: Column, bits: Int, probes: Int): Column = {
    val base = bucketFromDots(dots, bits)
    if (probes <= 0) array(base)
    else {
      // rank bits by |margin| ascending; struct sort is (margin, bit)
      val ranked = array_sort(zip_with(dots, bitValuesLit(bits),
        (d, b) => struct(abs(d).as("m"), b.as("bit"))))
      val flipped = (1 to math.min(probes, bits)).map(j =>
        base.bitwiseXOR(element_at(ranked, j).getField("bit")))
      array(base +: flipped: _*)
    }
  }

  /** LSH-bucketed ANN top-k with MULTIPLE hash tables: `numTables`
    * independent SRP families of `bitsPerTable` hyperplanes each. A
    * candidate is any corpus row sharing a bucket with one of the
    * query's probe buckets (base + `probes` weakest-bit flips) in at
    * least one table — recall 1-(1-p^b)^L for per-plane agreement p,
    * raised further by multi-probe, tunable without touching candidate
    * verification. Both sides explode ×numTables and join on (table,
    * bucket); candidates travel as NARROW id pairs through the dedup
    * shuffle (at dim 768 a vector is ~3 KB: carrying it ×numTables
    * through the exchange would dominate the job) and vectors
    * re-attach via two id-equi joins only for the deduped candidates.
    * The spec measures recall against `bruteForceTopK`.
    *
    * Planes are the PORTABLE ±1 family ([[portablePlanes]]), so the
    * whole pipeline — signs, base buckets, weakest-bit probe flips,
    * candidate join, cosine verify, top-k ranking — replays
    * bit-for-bit in ANSI SQL and q_knn_ann is a full
    * rows+schema+hash oracle gate.
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int,
      numTables: Int = 8, bitsPerTable: Int = AutoBits,
      probes: Int = 2): DataFrame = {
    val bits = resolveBits(bitsPerTable, corpus.count())
    val tables = portablePlanes(numTables, bits, dim)
    // dot ARRAYS persist before the explode: project collapse would
    // inline the hyperplane-dot expressions as the Generate child and
    // re-evaluate all numTables×bits dot products per output row
    // (see Dedup.jaccardPairs). The probe buckets then derive from the
    // CACHED dots, so base bucket + margin ranking share one
    // evaluation of every dot.
    val qD = spread(queries, idCol, vecCol)
      .select(col(idCol).as("id"),
        tableDots(col(vecCol), planesLit(tables)).as("dts")).persistTracked()
    val q = qD.select(col("id"), posexplode(col("dts")))
      .select(col("id"), col("pos").as("tbl"),
        probeFromDots(col("col"), bits, probes).as("buckets"))
      .select(col("id"), col("tbl"), explode(col("buckets")).as("bucket"))
    val cands = bandJoin(srpBuckets(corpus, idCol, vecCol, tables, bits),
      "neighbor_id", q, "query_id", (nb, qr) => qr =!= nb, "cand_ann_probe")
    rankTopK(withCosine(cands, "query_id", queries, "neighbor_id", corpus,
      idCol, vecCol), k, "cosine", descending = true)
  }

  /** SRP-bucketed near-dup pairs over the WHOLE corpus — the 100 TB
    * default for embedding near-dup detection (no broadcast, no O(n²)
    * pair loop): both occurrences of the corpus explode into
    * (table, sign-bucket) keys, candidates are any id-ordered pair
    * sharing a bucket in ≥1 table, travel as narrow id pairs through
    * the dedup shuffle, and verify with exact cosine ≥ tau — zero
    * false positives, recall bounded by the (numTables, bitsPerTable)
    * LSH family exactly as in `annTopK`. `cosinePairs` below stays
    * the exact oracle baseline at small scale. The within leg of
    * [[srpBandVerify]]; its candidate count is observed as `cand_srp`
    * (the rows the banding join materializes — the number the bucket
    * census predicts, Σ C(n_b,2) over buckets).
    *
    * Planes are the PORTABLE ±1 family ([[portablePlanes]]): signs,
    * buckets, candidate pairs, and the cosine verify all replay
    * bit-for-bit in ANSI SQL, so q_embed_srp_pairs is a full
    * rows+schema+hash oracle gate, not a recall-only spec.
    */
  def cosinePairsBucketed(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      numTables: Int = 8, bitsPerTable: Int = AutoBits): DataFrame =
    srpBandVerify(df, df, within = true, idCol, vecCol, tau,
      numTables, bitsPerTable, "d1", "d2", "cand_srp")

  /** (`id`, `tbl`, `bucket`) sign-bucket keys, one row per (row ×
    * table) — the shared SRP banding step. The pre-explode bucket
    * arrays persist so project collapse can't re-evaluate every
    * hyperplane dot per exploded row (see `annTopK`).
    */
  private[graft] def srpBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Seq[Seq[Seq[Double]]], bits: Int): DataFrame =
    spread(df, idCol, vecCol)
      .select(col(idCol).as("id"),
        transform(tableDots(col(vecCol), planesLit(tables)),
          dots => bucketFromDots(dots, bits)).as("bks"))
      .persistTracked() // bucket arrays materialize before the explode
      .select(col("id"), posexplode(col("bks")))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))

  /** (`l`, `r`) id pairs of a `left` and a `right` (`id`, `tbl`,
    * `bucket`) key frame that share a table's bucket and whose ids
    * pass `pairCond`; one row per shared bucket, so a pair can repeat.
    * Its row count is observed as `metric`. The sides join under
    * aliases, not renamed columns, so no renaming projection sits on
    * either side of the join.
    */
  private def bandJoin(
      left: DataFrame, l: String, right: DataFrame, r: String,
      pairCond: (Column, Column) => Column, metric: String): DataFrame =
    graft.tools.RunMetrics.observedCount(metric,
      left.as("l").join(right.as("r"),
          col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
            pairCond(col("l.id"), col("r.id")))
        .select(col("l.id").as(l), col("r.id").as(r)))

  /** Deduplicated (`l`, `r`) candidates with exact `cosine`: the
    * vectors re-attach from `left` and `right` by two id-equi joins,
    * only for the deduped candidates — at dim 768 a vector is ~3 KB,
    * so carrying it ×numTables through the banding exchange would
    * dominate the job.
    */
  private def withCosine(
      cands: DataFrame, l: String, left: DataFrame, r: String,
      right: DataFrame, idCol: String, vecCol: String): DataFrame =
    cands.dropDuplicates(l, r)
      .join(left.select(col(idCol).as(l), col(vecCol).as("v1")), l)
      .join(right.select(col(idCol).as(r), col(vecCol).as("v2")), r)
      .withColumn("cosine", Vec.cosine(col("v1"), col("v2")))

  /** The shared SRP band-and-verify of [[cosinePairsBucketed]] (the
    * within leg: `left` and `right` are one frame, banded once, pairs
    * `l` < `r`) and [[srpPairsAgainstBase]] (the cross leg): band both
    * sides with ONE portable plane family, bucket-join (`l`, `r`) id
    * pairs, keep exact cosine ≥ tau. Bits derive from the STANDING
    * corpus (`right`): an incoming batch is small by nature and must
    * band with the base's geometry. An empty `left` gives no pairs,
    * not a crash.
    */
  private def srpBandVerify(
      left: DataFrame, right: DataFrame, within: Boolean,
      idCol: String, vecCol: String, tau: Double, numTables: Int,
      bitsPerTable: Int, l: String, r: String, metric: String): DataFrame = {
    val dimOpt = left.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0))
    if (dimOpt.isEmpty)
      return left.select(col(idCol).as(l), col(idCol).as(r),
        lit(0.0).as("cosine")).limit(0)
    val bits = resolveBits(bitsPerTable, right.count())
    val tables = portablePlanes(numTables, bits, dimOpt.get)
    val bl = srpBuckets(left, idCol, vecCol, tables, bits)
    val br = if (within) bl else srpBuckets(right, idCol, vecCol, tables, bits)
    val cands = bandJoin(bl, l, br, r,
      if (within) _ < _ else (_, _) => lit(true), metric)
    withCosine(cands, l, left, r, right, idCol, vecCol)
      .filter(col("cosine") >= tau)
      .select(col(l), col(r), col("cosine"))
  }

  /** INCREMENTAL embedding near-dup: all verified incoming×base pairs
    * with cosine ≥ tau — the embedding-space twin of
    * [[Dedup.lshPairsAgainstBase]], and the per-ingest-cycle pass of
    * a growing corpus: band the (small) incoming batch and the base
    * with the SAME portable plane family, bucket-join incoming×base
    * (never base×base — the corpus-sized self-join belongs to the
    * one-time [[cosinePairsBucketed]] backfill), verify candidates
    * with exact cosine. Together with [[cosinePairsBucketed]] over the
    * batch alone it supplies the delta edge set
    * [[Components.connectedIncremental]] folds into standing cluster
    * assignments. The cross leg of [[srpBandVerify]], observed as
    * `cand_srp_cross`.
    *
    * 100 TB shape: base-side sign buckets depend only on the base and
    * the fixed plane family, so a production deployment computes them
    * once per corpus and reuses them every cycle (recompute here keeps
    * the operator self-contained); candidates travel as narrow id
    * pairs; vectors re-attach by id-equi join only for verification.
    * Fully oracle-gated (q_embed_incremental): the ±1 planes replay in
    * ANSI SQL, so buckets, candidates, and cosines match bit-for-bit.
    */
  def srpPairsAgainstBase(
      base: DataFrame, incoming: DataFrame, idCol: String, vecCol: String,
      tau: Double, numTables: Int = 8, bitsPerTable: Int = AutoBits): DataFrame =
    srpBandVerify(incoming, base, within = false, idCol, vecCol, tau,
      numTables, bitsPerTable, "d_new", "d_base", "cand_srp_cross")

  /** Cross-corpus embedding decontamination: flag corpus rows whose
    * cosine against ANY benchmark vector clears `tau` — the
    * embedding-space twin of the n-gram `Dedup.jaccardAgainstPairs`
    * (train-set leakage scan before a training run). Emits one row
    * per contaminated corpus id: hit count and max cosine.
    *
    * Scale shape: the benchmark side is tiny by nature (eval suites,
    * not corpora) and BROADCASTS; the corpus streams through one
    * codegen stage and the per-row reduction happens in the partial
    * aggregate (map-side combine), so the only shuffle carries at
    * most one row per FLAGGED corpus id — linear in |corpus|, no
    * pair set materializes past the map side. Norms precompute per
    * row; the per-pair arithmetic is the same sequential fold as the
    * oracle's, so cosines (and the max over them) are bit-identical.
    */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame, idCol: String,
      vecCol: String, tau: Double): DataFrame = {
    val c = corpus.select(
      col(idCol), col(vecCol).as("__cv"), Vec.norm(col(vecCol)).as("__cn"))
      .repartition(col(idCol)) // parallelize from 1-row-group scans
    val b = benchmark.select(
      col(idCol).as("__bench_id"), col(vecCol).as("__bv"),
      Vec.norm(col(vecCol)).as("__bn"))
    c.join(broadcast(b), col(idCol) =!= col("__bench_id"))
      .withColumn("cosine",
        Vec.dot(col("__cv"), col("__bv")) / (col("__cn") * col("__bn")))
      .filter(col("cosine") >= tau)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** All pairs with cosine ≥ tau (embedding near-dup detection),
    * id-ordered. Brute-force self-join baseline for the bucketed
    * variant above; the oracle gate at small scale.
    * Norms precompute per row (fold once per vector, not per pair —
    * same fold order, bit-identical result); the streamed side is
    * repartitioned so the O(n²) score loop parallelizes across cores
    * even from a single-row-group parquet.
    */
  def cosinePairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    val withNorm = df.select(
      col(idCol), col(vecCol), Vec.norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(
      col(idCol).as("d1"), col(vecCol).as("v1"), col("nrm").as("n1"))
      .repartition(col("d1"))
    val b = withNorm.select(
      col(idCol).as("d2"), col(vecCol).as("v2"), col("nrm").as("n2"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("cosine",
        Vec.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= tau)
      .select(col("d1"), col("d2"), col("cosine"))
  }
}
