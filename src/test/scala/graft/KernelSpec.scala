package graft

import org.apache.spark.sql.functions._
import graft.functions.Vec

/** Null posture of the custom codegen kernels: identical to the
  * composable aggregate(zip_with(...)) fold — NULL on length mismatch
  * or null elements, never a silent prefix result.
  */
class KernelSpec extends SparkSpec {

  test("dot and l2sq return NULL on malformed vectors") {
    val df = spark.range(1).selectExpr(
      "array(1.0F, 2.0F) AS a",
      "array(3.0F, 4.0F) AS b",
      "array(1.0F) AS short",
      "array(1.0F, CAST(NULL AS FLOAT)) AS holed")
    val r = df.select(
      Vec.dot(col("a"), col("b")).as("ok_dot"),
      Vec.l2sq(col("a"), col("b")).as("ok_l2"),
      Vec.dot(col("a"), col("short")).as("mismatch_dot"),
      Vec.l2sq(col("a"), col("short")).as("mismatch_l2"),
      Vec.dot(col("a"), col("holed")).as("holed_dot"),
      Vec.l2sq(col("a"), col("holed")).as("holed_l2")).head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 8.0)
    assert(r.isNullAt(2) && r.isNullAt(3), "length mismatch must be NULL")
    assert(r.isNullAt(4) && r.isNullAt(5), "null element must be NULL")
  }

  test("bucketed cosine pairs on an empty corpus is empty, not a crash") {
    val empty = Tables.embeddings(spark, sf).filter(col("vec_id") < 0)
    assert(graft.operators.Knn
      .cosinePairsBucketed(empty, "vec_id", "embedding", 0.4).count() == 0)
  }

  // ------------------------------------------------------------------
  // Bucket-occupancy census gates (VERDICT r11 item 3). The sign-skew
  // bug (39b105b) passed every ORACLE and RECALL spec — LSH gates
  // verify candidates exactly, so a skewed family still answers right,
  // it just turns the candidate join quadratic (164M pairs vs 26.7M at
  // the 10x tier). These gates make bucket balance itself assertable:
  // candidate-pair count vs the uniform-hashing expectation for
  // fixed-space families (SRP, SimHash blocks, IVF), vs corpus size
  // for MinHash (whose band-key space is unbounded — candidates should
  // be dup-driven, ~linear in docs). Run at sf0.01 — large enough that
  // skew separates cleanly from noise, still sub-second.
  // ------------------------------------------------------------------

  private val censusSf = "/root/testdata/sf0.01"

  /** The pre-39b105b plane family (bare squared mix, no affine
    * recombination) — kept ONLY to prove the census gate catches the
    * bug class: two planes' component streams differ by a constant and
    * (x+c)² shares the x² term, so sign streams correlate across
    * planes and buckets pile up.
    */
  private def skewedPlanes(numTables: Int, bits: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    import graft.plans.PolyHash.{Mod, MultA}
    (0 until numTables).map { t =>
      (0 until bits).map { b =>
        val hb = ((7L * MultA + t) % Mod * MultA + b) % Mod
        (0 until dim).map { i =>
          val x = (hb * MultA + i) % Mod
          if (x * x % Mod * 2 < Mod) 1.0 else -1.0
        }
      }
    }
  }

  test("census: SRP buckets near uniform; the pre-39b105b family trips the gate") {
    import graft.tools.Census
    import graft.operators.Knn
    val emb = Tables.embeddings(spark, censusSf)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val n = emb.count()
    // the ADAPTIVE geometry the operators derive for this corpus
    // (= the floor 6 at fixture scale — the gate follows the derived
    // bits if the fixture ever grows)
    val bits = Knn.adaptiveBits(n)
    val uniform = Census.uniformPairs(n, space = 1L << bits, groups = 8)
    val cur = Census.of(
      Knn.srpBuckets(emb, "vec_id", "embedding",
        Knn.portablePlanes(8, bits, dim), bits), Seq("tbl", "bucket"))
    // embeddings carry real cluster structure, so some excess over the
    // uniform i.i.d. model is legitimate; the skew bug was ~6x over
    // Gaussian balance, so 4x separates cleanly
    assert(cur.candidatePairs <= 4 * uniform,
      s"SRP census: ${cur.candidatePairs} candidate pairs vs uniform " +
        s"$uniform — the plane family has gone skewed (cf. 39b105b)")
    val bad = Census.of(
      Knn.srpBuckets(emb, "vec_id", "embedding",
        skewedPlanes(8, bits, dim), bits), Seq("tbl", "bucket"))
    assert(bad.candidatePairs > 4 * uniform,
      s"census gate must catch the pre-39b105b family " +
        s"(got ${bad.candidatePairs} vs uniform $uniform)")
    graft.CacheScope.release()
  }

  test("census: MinHash band candidates are dup-driven, not quadratic") {
    import graft.tools.Census
    import graft.operators.Dedup
    val docs = Tables.documents(spark, censusSf)
    val nDocs = docs.count()
    val c = Census.of(
      Dedup.lshSide(docs, "doc_id", "text", 3, 8, 4).banded,
      Seq("band", "bandkey"))
    // band keys are minima vectors (unbounded space): non-dup docs
    // should essentially never collide, so candidates stay a small
    // multiple of corpus size (every candidate is a near-dup pair
    // seen by up to 8 bands) — quadratic drift here means the
    // signature family degenerated
    assert(c.candidatePairs <= 8 * nDocs,
      s"MinHash census: ${c.candidatePairs} candidate pairs for " +
        s"$nDocs docs — band keys are colliding beyond the dup set")
    graft.CacheScope.release()
  }

  test("census: SimHash combination-band candidates are dup-driven") {
    import graft.tools.Census
    import graft.operators.Dedup
    val docs = Tables.documents(spark, censusSf)
    val nDocs = docs.count()
    val c = Census.of(
      Dedup.hammingBlocks(
        Dedup.simhash(docs, "doc_id", "text"), "doc_id", "simhash"),
      Seq("blk", "blkval"))
    // the 3-of-6-block combination keys are ~31 bits wide, so the
    // uniform collision floor is ~0 and surviving candidates are
    // signature-driven: near-dups colliding in up to 20 combinations
    // plus the low-entropy tail of short docs. The r12 predecessor
    // (single 16-bit blocks) measured 6,748 candidate pairs here —
    // 5.4% of all-pairs and trending quadratic with corpus size; the
    // combination scheme must stay a small multiple of corpus size
    assert(c.candidatePairs <= 30 * nDocs,
      s"SimHash census: ${c.candidatePairs} candidate pairs for " +
        s"$nDocs docs — combination keys are colliding beyond the dup set")
    graft.CacheScope.release()
  }

  test("census: radius-6 4-of-10 combination bands stay dup-driven") {
    import graft.tools.Census
    import graft.operators.Dedup
    val docs = Tables.documents(spark, censusSf)
    val nDocs = docs.count()
    // no codegen fallback: a banding stage whose generated Java passes
    // the 64 KB method limit fails here instead of running interpreted
    val c = Session.withConf(spark, "spark.sql.codegen.fallback" -> "false")(
      Census.of(
        Dedup.hammingBlocks(
          Dedup.simhash(docs, "doc_id", "text"), "doc_id", "simhash",
          Dedup.HamGeo6),
        Seq("blk", "blkval")))
    // ~25-bit keys over 210 combinations: the uniform floor is still
    // ~0 at fixture scale, so candidates must stay a small multiple of
    // corpus size — the saturation gate for the wide-radius geometry
    // (r12's single 16-bit blocks measured 5.4% of all-pairs here)
    assert(c.candidatePairs <= 300 * nDocs,
      s"HamGeo6 census: ${c.candidatePairs} candidate pairs for " +
        s"$nDocs docs — 4-of-10 keys are colliding beyond the dup set")
    graft.CacheScope.release()
  }

  test("hammingBlocks rows equal plain-Scala blocks for every geometry") {
    import graft.operators.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val sigs: Seq[(Long, Option[Long])] =
      (1L to 6L).map(i => (i, Some(rnd.nextLong()))) :+ ((7L, None))
    val df = sigs.toDF("doc_id", "simhash")
    for (geo <- Seq(Dedup.HamGeo3, Dedup.HamGeo4, Dedup.HamGeo6)) {
      val got = Dedup.hammingBlocks(df, "doc_id", "simhash", geo)
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          r.getInt(2), r.getSeq[Any](3).map(Option(_).map(_.asInstanceOf[Long]))))
        .toSeq.sortBy(r => (r._1, r._3))
      val want = for {
        (id, sig) <- sigs
        (c, blk) <- geo.combos.zipWithIndex
      } yield (id, sig, blk, c.map(b =>
        sig.map(v => (v >> geo.offsets(b)) & ((1L << geo.widths(b)) - 1))))
      assert(got == want, s"geometry ${geo.widths} r=${geo.r}")
      assert(got.size == sigs.size * geo.combos.size)
    }
  }

  test("census: IVF buckets balanced enough that probing stays sublinear") {
    import graft.tools.Census
    import graft.operators.Ivf
    val emb = Tables.embeddings(spark, censusSf)
    val n = emb.count()
    val k = Ivf.adaptiveNlist(n) // the count q_knn_ivf derives here
    val cents = Ivf.trainCentroids(emb, "embedding", k)
    val c = Census.of(
      emb.select(Ivf.bucketId(col("embedding"), cents).as("bucket")),
      Seq("bucket"))
    // k-means buckets track data clusters, not a uniform die — but a
    // collapsed training (all vectors in a handful of buckets) is the
    // failure mode that turns candidate generation quadratic
    assert(c.maxOccupancy <= n / 2,
      s"IVF census: max bucket ${c.maxOccupancy} of $n vectors — " +
        "centroid training collapsed")
    assert(c.candidatePairs <= 4 * Census.uniformPairs(n, space = k, groups = 1),
      s"IVF census: ${c.candidatePairs} candidate pairs — bucket " +
        "skew past 4x the uniform expectation")
    graft.CacheScope.release()
  }

  // ------------------------------------------------------------------
  // ADAPTIVE-GEOMETRY envelope gates (VERDICT r13 item 1): the r13
  // census proved the FIXED 8×6-bit SRP family saturates by ~20k
  // vectors (candidates at the uniform floor n²/2^bits — quadratic in
  // corpus from there). The within-tier balance gates above cannot see
  // saturation (a saturated-but-uniform family passes); these gates
  // pin the GROWTH LAW of the derived geometry itself: expected
  // occupancy, and so candidates-per-row, must stay ~constant as the
  // corpus grows. The rehearsal's cross-tier census records the
  // measured slope at sf0.1/sf1/sf10.
  // ------------------------------------------------------------------

  test("adaptiveBits: expected occupancy (and so candidates/row) flat in corpus size") {
    import graft.operators.Knn
    import graft.tools.Census
    val tiers = Seq(500L, 2000L, 20000L, 200000L, 2000000L, 16000000L)
    for (n <- tiers) {
      val bits = Knn.adaptiveBits(n)
      val occ = n.toDouble / (1L << bits)
      assert(occ <= 2 * Knn.SrpTargetOccupancy,
        s"adaptiveBits($n) = $bits leaves occupancy $occ — " +
          "the derived family is saturating (quadratic candidates)")
      // candidates-per-row at the uniform expectation: 8 tables,
      // space 2^bits — must stay bounded by the occupancy target,
      // i.e. FLAT across tiers, not n/2^fixedBits
      val candPerRow = Census.uniformPairs(n, 1L << bits, 8L) / n
      assert(candPerRow <= 8 * Knn.SrpTargetOccupancy,
        s"adaptiveBits($n): uniform candidates/row $candPerRow grows " +
          "with corpus — geometry not tracking n")
    }
    // fixture-scale floor: the recorded sf0.01/sf0.1 oracles band at
    // exactly the pre-adaptive 6-bit family
    assert(Knn.adaptiveBits(500) == 6 && Knn.adaptiveBits(2000) == 6)
    // monotone: a bigger corpus never derives a smaller key space
    assert(tiers.map(Knn.adaptiveBits(_)) == tiers.map(Knn.adaptiveBits(_)).sorted)
  }

  test("adaptiveNlist: nlist tracks sqrt(n) so probe candidates stay sublinear") {
    import graft.operators.Ivf
    assert(Ivf.adaptiveNlist(500) == 23)     // ceil(sqrt(500))
    assert(Ivf.adaptiveNlist(100) == 16)     // floor
    assert(Ivf.adaptiveNlist(2000000) == 1415)
    assert(Ivf.adaptiveNlist(1L << 60) == 4096) // cap: past it training
                                                // moves off the driver
    // per-query candidate work ≈ nprobe · n / nlist ≈ nprobe·√n:
    // sublinear in corpus at every tier
    for (n <- Seq(2000L, 200000L, 2000000L)) {
      val k = Ivf.adaptiveNlist(n)
      assert(n.toDouble / k <= 2 * math.sqrt(n.toDouble),
        s"adaptiveNlist($n) = $k — bucket occupancy n/k not ~sqrt(n)")
    }
  }

  // ------------------------------------------------------------------
  // Candidate-count OBSERVATION gates (VERDICT r12 item 5): the census
  // above predicts the banding join's output from bucket occupancy;
  // the operators now observe() the count the join ACTUALLY
  // materializes (RunMetrics.observedCount), and Bench records it per
  // family query in the artifact. These gates pin the two derivations
  // to each other: harvested count == Σ C(n_b,2) over buckets, exactly.
  // ------------------------------------------------------------------

  /** The full observation names carried by `df`'s plan — lets the
    * assertion target ITS OWN query even when concurrently-running
    * suites emit the same family key.
    */
  private def obsNames(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
          if c.name.startsWith("graft_m_") =>
        c.name.stripPrefix("graft_m_")
    }

  test("observed MinHash banding candidates equal the census prediction") {
    import graft.tools.{Census, RunMetrics}
    import graft.operators.Dedup
    RunMetrics.install(spark)
    val docs = Tables.documents(spark, censusSf)
    val side = Dedup.lshSide(docs, "doc_id", "text", 3, 8, 4)
    val predicted = Census.of(side.banded, Seq("band", "bandkey"))
      .candidatePairs
    val pairs = Dedup.minhashLshPairs(side, tau = 0.8)
    val names = obsNames(pairs).filter(_.startsWith("cand_minhash__"))
    assert(names.size == 1, s"expected one cand_minhash observation: $names")
    pairs.count()
    val got = { RunMetrics.harvested(spark); RunMetrics.rawSnapshot }
    assert(got.get(names.head).map(_.toLong).contains(predicted),
      s"harvested ${got.get(names.head)} != census-predicted $predicted")
    graft.CacheScope.release()
  }

  test("observed SimHash combination-banding candidates equal the census prediction") {
    import graft.tools.{Census, RunMetrics}
    import graft.operators.Dedup
    RunMetrics.install(spark)
    val sigs = Dedup.simhash(
      Tables.documents(spark, censusSf), "doc_id", "text")
    val predicted = Census.of(
      Dedup.hammingBlocks(sigs, "doc_id", "simhash"),
      Seq("blk", "blkval")).candidatePairs
    val pairs = Dedup.simhashPairs(sigs, "doc_id", 3)
    val names = obsNames(pairs).filter(_.startsWith("cand_hamming__"))
    assert(names.size == 1, s"expected one cand_hamming observation: $names")
    pairs.count()
    val got = { RunMetrics.harvested(spark); RunMetrics.rawSnapshot }
    assert(got.get(names.head).map(_.toLong).contains(predicted),
      s"harvested ${got.get(names.head)} != census-predicted $predicted")
    graft.CacheScope.release()
  }
}
