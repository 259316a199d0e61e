package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheScope.TrackedDataFrame
import graft.functions.Text

/** Document deduplication for the training-data pipeline: exact
  * (fingerprint hash), exact-Jaccard with shingle blocking, MinHash
  * LSH (the 100 TB path), and SimHash. Every operator is a pure
  * DataFrame transform: blocking keys make the candidate set linear
  * in data size (no O(n²) cross join anywhere), shuffles happen only
  * on blocking keys, and per-key group sizes are bounded by shingle
  * selectivity — the properties that survive a 1000-executor scale-up.
  */
object Dedup {

  /** Exact dedup by normalized-text fingerprint: first (lowest id)
    * document per fingerprint is canonical, the rest are flagged with
    * their canonical's id. One shuffle on the fingerprint.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .withColumn("canonical_id", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  /** Distinct word-n-gram shingle set per document. The input is
    * repartitioned first: testdata-style parquet with one row group
    * scans as ONE partition, which would run the tokenize+shingle
    * string work single-threaded regardless of executor count.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), col(textCol))
      // HASH by the unique id, not round-robin: a keyless
      // repartition(n) pays a local sort of the full text rows first
      // (spark.sql.execution.sortBeforeRepartition, on by default for
      // retry determinism — SPARK-23207); hashing a unique key spreads
      // just as evenly, skips that sort, and is retry-deterministic by
      // construction (guide §2.5)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(
        col(idCol),
        array_distinct(Text.wordShingles(Text.tokens(col(textCol)), n)).as("sh"))

  /** Exact n-gram-Jaccard near-dup pairs via COUNT-BASED intersection:
    * explode each document's distinct shingles once, self-join on the
    * gram, and COUNT matched grams per (d1,d2) — that count IS |A∩B|,
    * so no shingle array is ever re-attached or shuffled and the
    * verification collapses into the blocking join's own partial-
    * aggregated groupBy over narrow (id,id,int,int) rows. The PPJoin
    * length filter (J ≥ τ ⇒ τ·|B| ≤ |A| ≤ |B|/τ) prunes
    * size-incompatible pairs inside the join, before the aggregation
    * shuffle. The oracle-checkable reference for the LSH variants
    * below; for corpora with degenerate shingle frequencies see the
    * DF-pruned variant [[jaccardPairsPruned]].
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    // Persist the shingle SETS before exploding: project collapse
    // would otherwise inline the whole tokenize+shingle expression as
    // the Generate child, re-evaluating it per OUTPUT row (~|sh|× the
    // work — measured ~10× on this path). From the cache, the explode
    // is a column read, and both self-join sides share it.
    val sh = shingles(df, idCol, textCol, n).persistTracked()
    val ex = sh.select(col(idCol).as("id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("g"))
    gramJoinPairs(
      ex.select(col("id").as("d1"), col("nsh").as("n1"), col("g"))
        .hint("shuffle_hash"),
      ex.select(col("id").as("d2"), col("nsh").as("n2"), col("g").as("g2"))
        .hint("shuffle_hash"),
      col("d1") < col("d2"), tau)
  }

  /** Corpus-scale DUPLICATE-CLUSTER assignment: connected components
    * over the exact blocked Jaccard pairs — the canonical "keep one
    * per duplicate cluster" pass of a training-data pipeline (pairwise
    * near-dup output alone under-deletes: a chain A~B~C with only
    * pairwise handling can keep two of three). One row per document:
    * `cluster_id` (the cluster's minimum doc id) and `is_canonical`
    * (true for the representative to KEEP; filtering on it yields the
    * deduplicated corpus). The fixpoint runs in
    * [[Components.connected]] — O(log diameter) rounds of narrow
    * id/label shuffles over the pair set, so the cost beyond
    * [[jaccardPairs]] itself is a few metadata-sized joins.
    */
  def duplicateClusters(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame =
    duplicateClustersFromPairs(df, idCol, jaccardPairs(df, idCol, textCol, n, tau))

  /** [[duplicateClusters]] over a PRECOMPUTED pair set — the seam that
    * lets the cluster pass ride any candidate generator: exact blocked
    * Jaccard (the oracle-gated default above), MinHash-LSH
    * ([[minhashLshPairs]] — the 100 TB path, where exact pair
    * generation over every shingle is the bottleneck), or SimHash
    * banding. Because every LSH variant here VERIFIES candidates with
    * the exact similarity, its pair set is a subset of the exact one,
    * and the resulting clustering is a refinement of the exact
    * clustering (spec-checked) — the standard recall-for-cost trade,
    * made explicit at the clustering level.
    */
  def duplicateClustersFromPairs(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    Components.connected(docs.select(col(idCol)), idCol, pairs, "d1", "d2")
      .select(
        col(idCol),
        col("component").as("cluster_id"),
        (col(idCol) === col("component")).as("is_canonical"))

  /** Jaccard over DOCUMENT-FREQUENCY-PRUNED shingle sets (stop-shingle
    * pruning): grams appearing in more than `maxDf` documents are
    * dropped from every set before similarity is computed. This bounds
    * the per-gram join fan-out to maxDf² rows — the property that keeps
    * the blocking join linear when a corpus's shingle distribution
    * degenerates (boilerplate, tiny vocabularies), which is the 100 TB
    * failure mode of any gram-blocked join. Semantics change (Jaccard
    * is over pruned sets), so the oracle mirrors the pruning.
    *
    * Built around the SMALL side: the stop list (df > maxDf) is small
    * by definition — each entry needs > maxDf distinct documents — so
    * it broadcasts and the pruning is a map-side ANTI-join over the
    * cached gram table (the keep list, by contrast, is nearly every
    * distinct gram in a natural corpus). Post-pruning set sizes come
    * from a partial-aggregated `groupBy(id)` (no Window sort) and are
    * attached AFTER the pair aggregation, when only the few surviving
    * (d1,d2) pairs remain — the big gram table never shuffles on id.
    */
  def jaccardPairsPruned(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxDf: Int,
      broadcastStopLimit: Long = 1000000L): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).persistTracked() // see jaccardPairs
    val ex0 = sh.select(col(idCol).as("id"), explode(col("sh")).as("g"))
    // grams are distinct per doc, so COUNT(*) per gram = document freq
    val stop = ex0.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("g"))
      .persistTracked() // counted below, then probed by the anti-join
    // GUARDED broadcast: the stop list is small for natural corpora
    // (each entry needs > maxDf distinct documents), but a degenerate
    // corpus or a tiny maxDf makes it approach the full gram
    // dictionary — and an unconditional broadcast() hint bypasses
    // autoBroadcastJoinThreshold, turning a parameter mistake into a
    // driver OOM. Counting it costs one aggregation over rows the
    // anti-join needs materialized anyway (the persist makes the
    // count's work reusable); oversized lists fall back to a shuffled
    // left-anti join.
    val stopSide =
      if (stop.count() <= broadcastStopLimit) broadcast(stop) else stop
    // narrow (id, gram) rows; three consumers (sizes + both self-join
    // sides) read this cache instead of re-probing the anti-join
    val pruned = ex0.join(stopSide, Seq("g"), "left_anti").persistTracked()
    val sizes = pruned.groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("nsh"))
    // per-gram doc lists are bounded at maxDf rows by the pruning
    // itself — the invariant this operator exists to enforce — so the
    // pairs come from ONE aggregation on the gram, not a gram
    // self-join (one Exchange of the (id, gram) table, no join build):
    // collect each surviving gram's sorted doc ids (≤ maxDf,
    // partial-aggregated map-side), explode the C(k,2) ordered pairs
    // and count per pair. The sort gives d1 ≤ d2; the filter drops the
    // d1 = d2 pairs a duplicated id would emit.
    val inter = pruned.groupBy(col("g"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(x AS d1, y AS d2))))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    jaccardAtLeast(
      inter
        .join(sizes.select(col("id").as("d1"), col("nsh").as("n1")), "d1")
        .join(sizes.select(col("id").as("d2"), col("nsh").as("n2")), "d2"),
      tau)
  }

  /** Cross-corpus Jaccard — the DECONTAMINATION operator: flag
    * training documents whose n-gram overlap with ANY benchmark/eval
    * document reaches τ. Same count-based kernel as [[jaccardPairs]]
    * but across two corpora (no id ordering): candidates are narrow
    * (train_id, bench_id) pairs from the gram equi-join, intersection
    * = the join's own match count. At 100 TB the benchmark side is
    * tiny and the gram join shuffles it against the corpus exactly
    * once — linear in corpus gram volume.
    */
  def jaccardAgainstPairs(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    val shC = shingles(corpus, idCol, textCol, n).persistTracked()
    val shB = shingles(bench, idCol, textCol, n).persistTracked()
    gramJoinPairs(
      shC.select(col(idCol).as("d1"), size(col("sh")).as("n1"),
        explode(col("sh")).as("g")),
      shB.select(col(idCol).as("d2"), size(col("sh")).as("n2"),
        explode(col("sh")).as("g2")),
      lit(true), tau)
  }

  /** The count-based Jaccard kernel: equi-join exploded (`d1`, `n1`,
    * `g`) rows with (`d2`, `n2`, `g2`) rows on the gram, keep the pairs
    * `pairCond` admits that pass the PPJoin length filter, count
    * matches per pair (= |A∩B|) and keep J ≥ τ. Join hints stay with
    * the callers' sides.
    */
  private def gramJoinPairs(
      a: DataFrame, b: DataFrame, pairCond: Column, tau: Double): DataFrame =
    jaccardAtLeast(
      a.join(b,
          col("g") === col("g2") && pairCond &&
            col("n1") * lit(tau) <= col("n2") &&
            col("n2") * lit(tau) <= col("n1"))
        .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("inter")),
      tau)

  /** (`d1`, `d2`, `jaccard`) for the rows of (`d1`, `d2`, `n1`, `n2`,
    * `inter`) — set sizes and intersection size — whose Jaccard
    * inter / (n1 + n2 − inter) reaches τ. Every pair kernel in this
    * object ends here, so they all compute the same double.
    */
  private def jaccardAtLeast(pairs: DataFrame, tau: Double): DataFrame =
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))

  /** MinHash signature. Each shingle is hashed ONCE (the portable
    * 31-bit [[graft.plans.PolyHash]]); the `numPerms` permutations are
    * affine maps `a_p*h + b_p` over that value (universal hashing,
    * 62-bit overflow-free) — 1 string hash + numPerms multiply-adds
    * per shingle instead of numPerms string hashes. Pure expressions,
    * computed in the scan stage, and bit-replayable by the DuckDB
    * oracle.
    */
  def minhashSignature(sh: Column, numPerms: Int): Column =
    graft.plans.MinHashSig(sh, numPerms)

  /** MinHash-LSH near-dup pairs (the scale path): band the signature
    * (`bands` × `rowsPerBand`), bucket-join on (band index, band
    * hash), then verify candidates with TRUE Jaccard ≥ tau so the
    * output has no false positives — LSH only bounds recall.
    * At 100 TB: the only shuffles are on band buckets and pair keys;
    * signature width is a constant (bands*rowsPerBand longs/doc).
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, bands: Int, rowsPerBand: Int): DataFrame =
    minhashLshPairs(lshSide(df, idCol, textCol, n, bands, rowsPerBand), tau)

  /** One relation's precomputed MinHash-LSH state: persisted shingle
    * sets (`idCol`, `sh`) and band rows (`id`, `band`, `bandkey`).
    * Building it is the expensive half of every LSH pair query
    * (tokenize → shingle → permute → band); the pairs themselves are
    * a cheap bucket join + verify. Compute it ONCE per relation and
    * reuse it across every same-parameter query — within-batch pairs,
    * batch-vs-corpus pairs, dedup, clustering. At 100 TB this is the
    * ingest-cycle contract made explicit: the corpus side only
    * changes when the corpus does, so a production deployment keeps
    * its side materialized and pays only the (small) batch side per
    * cycle.
    */
  final case class LshSide private[operators] (
      idCol: String, sh: DataFrame, banded: DataFrame,
      n: Int, bands: Int, rowsPerBand: Int)

  /** Build an [[LshSide]].
    *
    * Two persists, both deliberately NARROW: the shingle sets (one
    * copy per doc — the verification join probes them for the few
    * candidates) and the banded keys (id+band+hash, three scalars per
    * band row). Carrying the shingle arrays through the ×bands
    * explosion would multiply the cached footprint by the band count
    * and evict under memory pressure, silently recomputing from text.
    * Persist UNfiltered, filter over the cached attribute: a filter
    * below the cache would re-evaluate the shingle expression for the
    * predicate on top of the projection (measured ~5× materialization
    * cost).
    */
  def lshSide(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): LshSide = {
    val sh = shingles(df, idCol, textCol, n).persistTracked()
      .filter(size(col("sh")) > 0)
    LshSide(idCol, sh, bandRows(sh, idCol, bands, rowsPerBand),
      n, bands, rowsPerBand)
  }

  /** Rehydrate an [[LshSide]] from MATERIALIZED state — the 100 TB
    * reuse contract made loadable: a production deployment stores the
    * corpus side's shingle sets (`idCol`, `sh`) and band rows (`id`,
    * `band`, `bandkey`) next to the corpus and pays only the batch
    * side per ingest cycle ([[graft.streaming.Streams]]' continuous
    * clustering persists exactly these two frames per micro-batch).
    * The caller declares the (n, bands, rowsPerBand) the state was
    * built with; the cross-side join then REQUIREs both sides agree.
    */
  def lshSideFromStored(
      sh: DataFrame, banded: DataFrame, idCol: String,
      n: Int, bands: Int, rowsPerBand: Int): LshSide =
    LshSide(idCol, sh.persistTracked(), banded.persistTracked(),
      n, bands, rowsPerBand)

  /** Within-relation LSH near-dup pairs from a precomputed side. */
  def minhashLshPairs(side: LshSide, tau: Double): DataFrame =
    verifyLsh(withinCands(side), side, shingleSets(side, "d2", "sh2"),
      Seq("d2"), tau)

  /** (id, band, bandkey) LSH band rows over a shingle-set relation.
    * The signature is materialized (persisted) BEFORE banding: project
    * collapse would inline the minhash expression into the
    * band-transform lambda, re-evaluating it per band (×bands the
    * hash work). The band key is the band's minima vector ITSELF
    * (array<long>, rowsPerBand elements), not a second hash of it:
    * equality joins on small fixed-width arrays shuffle a few extra
    * bytes per row but remove band-hash collisions AND keep the whole
    * candidate derivation replayable by the SQL oracle (Spark's
    * murmur of an array<long> is not).
    */
  private def bandRows(
      sh: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = sh
      .select(col(idCol).as("id"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig"))
      .persistTracked()
    sig
      .select(
        col("id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          i => slice(col("sig"), i * rowsPerBand + 1, lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandkey")
  }

  /** (`d1`, `d2`) pairs of a `left` and a `right` document that share
    * a band bucket (band index and minima vector) and pass `pairCond`;
    * one row per shared bucket, so a pair can repeat.
    */
  private def bucketPairs(
      left: LshSide, right: LshSide, pairCond: Column): DataFrame =
    left.banded.select(col("id").as("d1"), col("band"), col("bandkey"))
      .join(right.banded.select(col("id").as("d2"), col("band").as("band2"),
          col("bandkey").as("bandkey2")),
        col("band") === col("band2") && col("bandkey") === col("bandkey2") &&
          pairCond)
      .select("d1", "d2")

  /** The within-side candidate leg (`d1` < `d2`). Its row count is
    * observed as `cand_minhash`: the rows the banding join
    * materializes, the number the bucket census predicts.
    */
  private def withinCands(side: LshSide): DataFrame =
    graft.tools.RunMetrics.observedCount("cand_minhash",
      bucketPairs(side, side, col("d1") < col("d2")))

  /** The incoming×base candidate leg (`d1` = incoming id, `d2` = base
    * id), observed as `cand_minhash_cross`. `op` names the public
    * operator in the parameter-mismatch error.
    */
  private def crossCands(
      base: LshSide, incoming: LshSide, op: String): DataFrame = {
    // sides built with different parameters would not FAIL — they
    // would silently return empty or wrong pairs (mismatched
    // rowsPerBand band keys never join; mismatched n changes shingles
    // and hence every Jaccard) — so the mismatch is a loud error
    require(
      (base.n, base.bands, base.rowsPerBand) ==
        (incoming.n, incoming.bands, incoming.rowsPerBand),
      s"$op: parameter mismatch — base " +
        s"(n=${base.n}, bands=${base.bands}, rows=${base.rowsPerBand}) " +
        s"vs incoming (n=${incoming.n}, bands=${incoming.bands}, " +
        s"rows=${incoming.rowsPerBand})")
    graft.tools.RunMetrics.observedCount("cand_minhash_cross",
      bucketPairs(incoming, base, lit(true)))
  }

  /** A side's shingle sets as (`id`, `sh`) under the given names. */
  private def shingleSets(side: LshSide, id: String, sh: String): DataFrame =
    side.sh.select(col(side.idCol).as(id), col("sh").as(sh))

  /** Verify LSH candidates with TRUE Jaccard: dedup `cands` on `d1`
    * plus `keys2`, attach `d1`'s shingle set from `side1` and the
    * second set from `sh2` (columns `keys2` and `sh2`), keep J ≥ τ.
    * Output: (`d1`, `d2`, `jaccard`).
    */
  private def verifyLsh(
      cands: DataFrame, side1: LshSide, sh2: DataFrame,
      keys2: Seq[String], tau: Double): DataFrame =
    jaccardAtLeast(
      cands.dropDuplicates("d1" +: keys2)
        .join(shingleSets(side1, "d1", "sh1"), "d1")
        .join(sh2, keys2)
        .select(col("d1"), col("d2"),
          size(col("sh1")).as("n1"), size(col("sh2")).as("n2"),
          size(array_intersect(col("sh1"), col("sh2"))).as("inter")),
      tau)

  /** Incremental ingest dedup — the CONTINUOUS-corpus path: classify
    * an incoming batch against an existing base corpus with
    * MinHash-LSH banding, returning one row per incoming document
    * that near-duplicates some base document: (incoming id, `dup_of`
    * = its best base match, `jaccard`). "Best" is highest TRUE
    * Jaccard, ties broken by lowest base id — fully deterministic, so
    * the whole derivation (portable hash family, banding, bucket
    * join, verification, argmax) replays in the SQL oracle.
    *
    * This is [[minhashLshPairs]] restructured for the A-vs-B shape a
    * training pipeline actually runs every ingest cycle: band BOTH
    * sides, bucket-join incoming×base on (band, minima vector), then
    * verify only the candidates. At 100 TB the base side's shingling
    * and signatures are the dominant cost and are REUSABLE — they
    * depend only on the base corpus, so production stores them next
    * to the corpus and this pass prices at O(incoming batch + its
    * bucket probes); the incoming side is typically orders of
    * magnitude smaller, and every shuffle here is keyed on band
    * buckets or the incoming id (the argmax window partitions on the
    * incoming id over the already-tiny verified candidate set).
    * Filtering the batch to ids NOT returned here (anti-join) yields
    * the documents that survive ingest.
    */
  def lshDedupAgainstBase(
      base: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      n: Int, tau: Double, bands: Int, rowsPerBand: Int): DataFrame =
    lshPairsAgainstBase(
      lshSide(base, idCol, textCol, n, bands, rowsPerBand),
      lshSide(incoming, idCol, textCol, n, bands, rowsPerBand), tau)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("d_new"))
          .orderBy(col("jaccard").desc, col("d_base"))))
      .filter(col("rn") === 1)
      .select(col("d_new").as(idCol), col("d_base").as("dup_of"),
        col("jaccard"))

  /** ALL verified incoming×base near-dup pairs from precomputed sides
    * — the pair-set form of [[lshDedupAgainstBase]] (which keeps only
    * each incoming doc's best match); the base side is the
    * reusable-across-cycles half. Together with [[minhashLshPairs]]
    * over the incoming batch alone it supplies exactly the delta edges
    * an append-only corpus adds per ingest cycle ([[lshDeltaPairs]]
    * verifies both in one pass). Returns (`d_new`, `d_base`,
    * `jaccard`).
    */
  def lshPairsAgainstBase(
      base: LshSide, incoming: LshSide, tau: Double): DataFrame =
    verifyLsh(crossCands(base, incoming, "lshPairsAgainstBase"), incoming,
        shingleSets(base, "d2", "sh2"), Seq("d2"), tau)
      .select(col("d1").as("d_new"), col("d2").as("d_base"), col("jaccard"))

  /** The full DELTA edge set of one ingest cycle — incoming×base
    * cross pairs PLUS within-incoming pairs — verified in ONE pass
    * (guide §2.4: remove shuffles outright). Semantically identical to
    * `lshPairsAgainstBase(base, incoming, tau).select(d_new as d1,
    * d_base as d2, jaccard) unionByName minhashLshPairs(incoming,
    * tau)`, but the two candidate legs are tagged and unioned BEFORE
    * verification, so the whole delta pays one dedup and one pair of
    * shingle joins. The `__w` leg tag rides into the dedup keys and
    * the d2 shingle attach (within pairs resolve d2 from the incoming
    * side, cross pairs from the base side), so the output is
    * bit-identical to the two-pipeline form even if an id appears on
    * both sides. Candidate observations (`cand_minhash`,
    * `cand_minhash_cross`) wrap the same per-leg candidate frames.
    *
    * Output: (`d1`, `d2`, `jaccard`) — within pairs ordered d1 < d2,
    * cross pairs d1 = incoming id, d2 = base id.
    */
  def lshDeltaPairs(
      base: LshSide, incoming: LshSide, tau: Double): DataFrame = {
    val cands = withinCands(incoming).withColumn("__w", lit(true))
      .unionByName(crossCands(base, incoming, "lshDeltaPairs")
        .withColumn("__w", lit(false)))
    val sh2 = shingleSets(incoming, "d2", "sh2").withColumn("__w", lit(true))
      .unionByName(shingleSets(base, "d2", "sh2").withColumn("__w", lit(false)))
    verifyLsh(cands, incoming, sh2, Seq("d2", "__w"), tau)
  }

  /** 62-bit SimHash over whitespace tokens. Two portable 31-bit
    * polynomial hashes (see [[graft.plans.PolyHash]]) provide the
    * per-token bits; the signature is the sign vector of per-bit vote
    * counts — computed by the [[graft.plans.SimHashSig]] expression,
    * so the row never leaves the DataFrame pipeline (no encoder
    * round-trip), and bit-replayable by the DuckDB oracle. Narrow, no
    * shuffle beyond the 1-row-group repartition.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as(idCol), col(textCol).cast("string"))
      // hash by the unique id — see shingles() for why not round-robin
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol), graft.plans.SimHashSig(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Delegates
    * to the generic 64-bit [[hammingPairs]] banding join.
    */
  def simhashPairs(sigs: DataFrame, idCol: String, maxDist: Int): DataFrame =
    hammingPairs(sigs, idCol, "simhash", maxDist)

  /** An r-of-m combination-banding geometry: the signature splits into
    * `widths.length` = m blocks; a candidate key is a combination of
    * `r` block values. Pigeonhole recall: distance d touches ≤ d
    * blocks, so with d ≤ m − r some r-combination survives intact —
    * zero false negatives up to [[maxDist]]. Key width = the r widest
    * blocks' sum; combination count = C(m, r) banding rows per doc —
    * the usual LSH trade (wider radius ⇒ more rows and narrower keys,
    * the census gates the saturation).
    */
  private[graft] final case class HamGeometry(widths: Seq[Int], r: Int) {
    val offsets: Seq[Int] = widths.scanLeft(0)(_ + _).init
    val combos: Seq[Seq[Int]] =
      widths.indices.combinations(r).map(_.toSeq).toSeq
    def maxDist: Int = widths.length - r
  }

  /** The Hamming-banding block geometry (Manku et al., "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 §3): the 62-bit
    * signature splits into SIX blocks (widths 11,11,10,10,10,10), and
    * a candidate key is a COMBINATION of three block values — C(6,3) =
    * 20 combinations, each a ~31-bit key. Pigeonhole: Hamming ≤ 3
    * touches at most 3 blocks, so at least 3 blocks survive intact and
    * some 3-combination matches exactly — zero false negatives.
    *
    * Why combinations instead of the single-block 4×16-bit banding:
    * the key SPACE. A 16-bit block saturates — the r12 bucket census
    * measured single-block candidates growing ~27× at 10× docs
    * (643k → 17.2M pairs, uniform floor 763 → 76k) because data-driven
    * collisions trend quadratic once the corpus approaches the 65k
    * block space. A 31-bit combination key pushes the saturation point
    * out by ~2^15: the uniform floor at 10⁶ docs is ~5k pairs, so
    * candidates stay dup-driven at corpus sizes where single blocks
    * have long since gone quadratic — at the cost of 20 banding rows
    * per doc instead of 4 (constant factor, the LSH trade). The
    * q_simhash_pairs oracle renders its banding from this value.
    */
  private[graft] val HamGeo3 = HamGeometry(Seq(11, 11, 10, 10, 10, 10), 3)

  /** d = 4: 4-of-8 (C(8,4) = 70 combinations, ~31-bit keys). */
  private[graft] val HamGeo4 = HamGeometry(Seq(8, 8, 8, 8, 8, 8, 7, 7), 4)

  /** d = 5..6: 4-of-10 (C(10,4) = 210 combinations, ~25-bit keys) —
    * image-dHash radii (VERDICT r12 item 6). Past d = 6 the key space
    * thins below usefulness at corpus scale; fail loudly instead.
    */
  private[graft] val HamGeo6 =
    HamGeometry(Seq(7, 7, 6, 6, 6, 6, 6, 6, 6, 6), 4)

  private[graft] def hamGeometryFor(maxDist: Int): HamGeometry = {
    require(maxDist >= 0 && maxDist <= 6,
      s"combination banding supports Hamming radius <= 6 (got $maxDist); " +
        "wider radii need a custom HamGeometry with m - r >= radius " +
        "and a census check of its key-space saturation")
    if (maxDist <= 3) HamGeo3 else if (maxDist == 4) HamGeo4 else HamGeo6
  }

  /** (id, simhash, blk, blkval) combination-banding rows over a 64-bit
    * signature column — the relation [[hammingPairs]] joins on; `blk`
    * is the combination index, `blkval` the combination's block values
    * as an equality-joinable array<long> (also the census surface:
    * `Census.of(blocks, Seq("blk", "blkval"))`).
    *
    * Each of the m block values is computed once per row into
    * `__blocks`; the combination keys then index it through a literal
    * index array. Spelling every combination out as its own array of
    * shift-and-mask expressions (210 × 4 for [[HamGeo6]]) generates
    * Java past the 64 KB method limit, and Spark then runs the stage
    * without whole-stage codegen.
    */
  private[graft] def hammingBlocks(
      sigs: DataFrame, idCol: String, sigCol: String,
      geo: HamGeometry = HamGeo3): DataFrame = {
    val blocks = geo.widths.indices.map(i =>
      shiftright(col(sigCol), geo.offsets(i))
        .bitwiseAND(lit((1L << geo.widths(i)) - 1)))
    sigs.select(
        col(idCol).as("id"), col(sigCol).as("simhash"),
        array(blocks: _*).as("__blocks"))
      .select(col("id"), col("simhash"),
        posexplode(transform(typedLit(geo.combos),
          c => transform(c, i => col("__blocks").getItem(i)))))
      .withColumnRenamed("pos", "blk")
      .withColumnRenamed("col", "blkval")
  }

  /** Near-dup pairs over ANY 64-bit signature column (SimHash, image
    * dHash, …) with Hamming distance ≤ maxDist (≤ 6). Banding by
    * pigeonhole over r-of-m block COMBINATIONS ([[hamGeometryFor]]:
    * 3-of-6 for d ≤ 3, 4-of-8 for d = 4, 4-of-10 for d ≤ 6): distance
    * ≤ m − r ⇒ some combination of r blocks is identical, so
    * candidates join on (combination index, block-value tuple) —
    * never all-pairs, and the key space is wide enough that
    * candidates stay dup-driven at 10⁸-doc corpora.
    *
    * Block coverage is bits 0..61 — the 62-bit SimHash layout all
    * three geometries share (ADVICE r13). RECALL for true 64-bit
    * signatures (image dHash) is still exact: a flip in bits 62-63
    * never breaks a block-combination equality (those bits are in no
    * block), and the final `bit_count` filter measures all 64 bits —
    * so uncovered flips only consume distance budget, never hide a
    * pair. The cost is selectivity, not correctness: bits 62-63
    * contribute nothing to the banding key, so two signatures equal
    * on 0..61 but apart on 62-63 still become a candidate and are
    * dropped by the exact filter. A signature family with real
    * entropy in the top 2 bits that measures candidate inflation in
    * the census should band with a custom 64-bit-covering
    * [[HamGeometry]] instead.
    */
  def hammingPairs(
      sigs: DataFrame, idCol: String, sigCol: String, maxDist: Int): DataFrame = {
    val geo = hamGeometryFor(maxDist)
    val blocks = hammingBlocks(sigs, idCol, sigCol, geo)
      .persistTracked() // both join sides scan this; avoid recomputing simhash
    val a = blocks.select(col("id").as("d1"), col("simhash").as("s1"),
      col("blk"), col("blkval"))
    val b = blocks.select(col("id").as("d2"), col("simhash").as("s2"),
      col("blk").as("blk2"), col("blkval").as("blkval2"))
    graft.tools.RunMetrics.observedCount("cand_hamming",
        a.join(b,
          col("blk") === col("blk2") && col("blkval") === col("blkval2") &&
            col("d1") < col("d2"))
        .select("d1", "d2", "s1", "s2"))
      .dropDuplicates("d1", "d2")
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxDist)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** EXACT SUBSTRING-SPAN dedup — the "remove duplicated training
    * text" operator (Lee et al. 2022, *Deduplicating Training Data
    * Makes Language Models Better*), as its standard word-n-gram
    * approximation: every word n-gram occurrence that repeats
    * anywhere in the corpus, EXCEPT the globally first occurrence
    * (minimal (doc id, position)), has its n covering word positions
    * deleted; each document is reassembled from its surviving words
    * in original order. Unlike document-level dedup this removes the
    * boilerplate *inside* otherwise-distinct documents (headers,
    * license blocks, templated paragraphs) — the duplication that
    * document fingerprints cannot see.
    *
    * Output: one row per input document — `doc_id`, `text_clean`
    * (possibly empty), `n_kept`, `n_removed`.
    *
    * Scale plan (the suffix-array of the paper is replaced by joins
    * that all hash-partition on bounded keys): gram construction is
    * a NARROW per-row array transform; the first-occurrence pass is
    * one map-side-combined groupBy on the gram value; duplicate
    * occurrences come back from an equi-join on the gram; covered
    * positions explode each duplicate span into ≤ n (doc, pos) rows
    * (an equi-join-able set — deliberately NOT a range join) and
    * anti-join the exploded words; reassembly is one groupBy on the
    * doc id. Nothing is quadratic, no window spans more than one
    * document, and every shuffle key (gram value, (doc, pos), doc)
    * stays bounded under corpus growth.
    */
  def spanDedup(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, "spanDedup: n-gram order must be >= 2")
    val (base, words, grams) = wordGrams(df, idCol, textCol, n)
    // globally-first occurrence per gram value: min-struct groupBy
    // (map-side combine), NOT a window — then every occurrence that
    // is not its gram's first is a duplicate span start
    val firsts = grams.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dups = grams.join(firsts, "g")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos"))
    scrubSpans(base, words, dups, n)
  }

  /** SPAN-LEVEL cross-corpus decontamination — the n-gram SCRUB of
    * LLM data pipelines (Brown et al. 2020, appendix C: remove the
    * overlapping spans, keep the rest of the document): every corpus
    * word-n-gram occurrence that appears ANYWHERE in `benchmark` has
    * its n covering word positions deleted, and each corpus document
    * is reassembled from its surviving words (possibly empty). The
    * doc-LEVEL screens ([[jaccardAgainstPairs]] / q_decontaminate,
    * `Knn.decontaminate`) answer "which documents are contaminated";
    * this is the surgical remedy that keeps the document.
    *
    * Output: one row per corpus document — `doc_id`, `text_clean`,
    * `n_kept`, `n_removed`.
    *
    * Scale shape: the benchmark side is tiny by nature (eval suites,
    * not corpora) and reduces to its DISTINCT gram set — the
    * semi-join's build side (AQE broadcasts it while small); corpus
    * grams stream as narrow (doc, pos, gram) rows; covered positions
    * explode ≤ n rows per HIT and anti-join the words; reassembly is
    * one groupBy per doc. Same bounded shuffle keys as [[spanDedup]]
    * (gram value, (doc, pos), doc) — nothing quadratic.
    */
  def spanScrub(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, "spanScrub: n-gram order must be >= 2")
    val (base, words, grams) = wordGrams(corpus, idCol, textCol, n)
    val (_, _, bGrams) = wordGrams(benchmark, idCol, textCol, n)
    val contaminated = grams
      .join(bGrams.select(col("g")).distinct(), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    scrubSpans(base, words, contaminated, n)
  }

  /** Shared gram derivation of the span operators: `base` (doc_id,
    * arr, nw — persisted: words, grams, and the rebuild all scan it),
    * positional `words` (doc_id, pos, w; pos 1-based) and word-n-gram
    * starts `grams` (doc_id, pos, g).
    *
    * NULL-text documents are EXCLUDED here (so from both operators'
    * outputs): a null text has no words, no spans, and nothing to
    * scrub — emitting it would carry null `nw`/`n_removed` through the
    * rebuild join (ADVICE r12: the oracles' inner join on the word
    * counts drops such docs; the two sides must agree, and exclusion
    * is the semantics both can state plainly).
    */
  private def wordGrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame, DataFrame) = {
    val base = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("arr"))
      // 1-row-group parquet scans as ONE partition; spread the string
      // work across cores, hashed by the unique id (see shingles())
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("nw", size(col("arr")))
      .persistTracked()
    val words = base.select(col("doc_id"),
      posexplode(col("arr")).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("w"))
    val grams = base.filter(col("nw") >= n).select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(1, size(arr) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(arr, i, $n)))")).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("g"))
    (base, words, grams)
  }

  /** Shared span-deletion tail: delete the n covering word positions
    * of every span start in `spanStarts` (doc_id, pos), reassemble
    * each document from the survivors — bounded n-fold explode →
    * equi-anti-join → one groupBy per doc.
    */
  private def scrubSpans(
      base: DataFrame, words: DataFrame, spanStarts: DataFrame,
      n: Int): DataFrame = {
    val rm = spanStarts.select(col("doc_id"),
      explode(expr(s"sequence(pos, pos + ${n - 1})")).as("pos")).distinct()
    val kept = words.join(rm, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      graft.functions.OrderedAgg.stringAgg(
        col("w"), col("pos"), " ").as("text_clean"),
      count(lit(1)).as("n_kept"))
    // left join keeps fully-deleted documents (empty text, 0 kept)
    base.select(col("doc_id"), col("nw"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("nw") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
