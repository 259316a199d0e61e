package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Knn}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  private def jaccardSet(df: org.apache.spark.sql.DataFrame) =
    df.select("d1", "d2", "jaccard").as[(Long, Long, Double)].collect().toSet

  test("exact dedup: identical normalized texts cluster, others don't") {
    val df = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "completely different text")
    ).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .select("doc_id", "canonical_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }

  test("jaccardPairs finds the planted near-duplicates symmetrically") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val got = pairs.select("d1", "d2").as[(Long, Long)].collect()
    assert(got.nonEmpty, "testdata plants near-dup documents")
    assert(got.forall { case (a, b) => a < b }, "pairs are id-ordered")
  }

  test("Components: 200-node path graph converges within the iteration cap") {
    // a pure chain is the worst case for plain min-propagation
    // (O(diameter) rounds); pointer jumping must close it in
    // O(log n) — well inside the default maxIters=30
    val nodes = spark.range(0, 200).toDF("id")
    val edges = spark.range(0, 199)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.size
    val trackedBefore = graft.CacheScope.trackedCount
    val got = graft.operators.Components.connected(nodes, "id", edges, "src", "dst")
      .select("id", "component").as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L), "one chain, min id 0")
    // each round frees the previous round's checkpoint: only the
    // tracked edge cache and the returned labels' checkpoint remain
    val resident = sc.getPersistentRDDs.size - rddsBefore
    val allowed = graft.CacheScope.trackedCount - trackedBefore + 1
    assert(resident <= allowed,
      s"$resident RDDs resident after the fixpoint, at most $allowed allowed")
    // two isolated nodes + disjoint triangle keep separate labels
    val n2 = Seq(10L, 20L, 30L, 31L, 32L).toDF("id")
    val e2 = Seq((30L, 31L), (31L, 32L), (32L, 30L)).toDF("src", "dst")
    val got2 = graft.operators.Components.connected(n2, "id", e2, "src", "dst")
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got2 == Map(10L -> 10L, 20L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("duplicateClusters: edges stay intra-cluster, one canonical each, total") {
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.duplicateClusters(docs, "doc_id", "text", 3, 0.8)
      .select("doc_id", "cluster_id", "is_canonical")
      .as[(Long, Long, Boolean)].collect()
    // total: every document is assigned exactly once
    assert(clusters.length == docs.count())
    val byId = clusters.map(c => c._1 -> c._2).toMap
    // every near-dup edge has both endpoints in the same cluster
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byId(a) == byId(b), s"edge ($a,$b) split across clusters") }
    // cluster id is the member minimum; exactly its owner is canonical
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
      assert(members.count(_._3) == 1 && members.find(_._3).get._1 == cid)
    }
    // duplicates exist in the fixture, so some cluster has >1 member
    assert(clusters.exists(c => c._2 != c._1))
  }

  test("LSH-pair clustering refines the exact clustering (scale path)") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.duplicateClusters(docs, "doc_id", "text", 3, 0.8)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val lshPairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
    val lsh = Dedup.duplicateClustersFromPairs(docs, "doc_id", lshPairs)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(lsh.keySet == exact.keySet, "both assign every document")
    // refinement: LSH pairs verify with exact Jaccard, so its edge set
    // is a subset — two docs in one LSH cluster are in one exact
    // cluster (the converse may fail only by LSH recall)
    lsh.groupBy(_._2).values.foreach { members =>
      val exactIds = members.keys.map(exact).toSet
      assert(exactIds.size == 1,
        s"LSH cluster spans exact clusters $exactIds")
    }
  }

  test("minhash LSH: no false positives, high recall vs exact") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "verification step must kill false positives")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall too low (8 bands x 4 rows at tau=0.8)")
    }
  }

  test("count-based Jaccard kernels agree bit-exactly on the fixture") {
    val self = jaccardSet(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8))
    val cross = jaccardSet(
      Dedup.jaccardAgainstPairs(docs, docs, "doc_id", "text", 3, 0.8)
        .filter(col("d1") < col("d2")))
    // no gram occurs in more documents than there are rows: nothing pruned
    val pruned = jaccardSet(Dedup.jaccardPairsPruned(docs, "doc_id", "text", 3,
      0.8, maxDf = docs.count().toInt))
    assert(self.nonEmpty, "testdata plants near-dup documents")
    assert(cross == self, s"cross-join kernel: ${cross.diff(self)} / ${self.diff(cross)}")
    assert(pruned == self, s"gram aggregation: ${pruned.diff(self)} / ${self.diff(pruned)}")
    graft.CacheScope.release()
  }

  test("lshDeltaPairs ≡ cross pairs unioned with within-batch pairs") {
    // doc 7 is on both sides with different texts, so the within pair
    // (3,7) and the cross pair (3,7) have different Jaccards and must
    // both survive the one fused dedup + verification
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val base = Seq((7L, text),
        (1L, "completely unrelated text about spark shuffle partitions today"))
      .toDF("doc_id", "text")
    val inc = Seq((3L, text), (7L, text + " today")).toDF("doc_id", "text")
    val baseSide = Dedup.lshSide(base, "doc_id", "text", 3, 8, 4)
    val incSide = Dedup.lshSide(inc, "doc_id", "text", 3, 8, 4)
    val fused = jaccardSet(Dedup.lshDeltaPairs(baseSide, incSide, 0.8))
    val twoPipelines = jaccardSet(
      Dedup.lshPairsAgainstBase(baseSide, incSide, 0.8)
        .select(col("d_new").as("d1"), col("d_base").as("d2"), col("jaccard"))
        .unionByName(Dedup.minhashLshPairs(incSide, 0.8)))
    assert(fused == twoPipelines)
    assert(fused == Set((3L, 7L, 1.0), (3L, 7L, 10.0 / 11), (7L, 7L, 10.0 / 11)),
      s"within (3,7), cross (3,7) and cross (7,7) expected: $fused")
    graft.CacheScope.release()
  }

  test("incremental LSH dedup: best-match subset of exact cross matches, recall") {
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val exact = Dedup.jaccardAgainstPairs(inc, base, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val got = Dedup.lshDedupAgainstBase(base, inc, "doc_id", "text",
        3, 0.8, 8, 4)
      .select("doc_id", "dup_of").as[(Long, Long)].collect()
    assert(got.map(_._1).distinct.length == got.length,
      "one best match per incoming doc")
    assert(got.toSet.subsetOf(exact),
      "verification must kill LSH false positives")
    if (exact.nonEmpty) {
      // recall at the DOC level (the decision that matters at ingest:
      // is this incoming doc a dup of anything in the base corpus)
      val recall = got.map(_._1).toSet.size.toDouble /
        exact.map(_._1).size
      assert(recall >= 0.8, s"incremental dedup doc-recall $recall too low")
    }
  }

  test("incremental LSH dedup: planted near-dup found, argmax deterministic") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated text about spark shuffle partitions"),
      (5L, "the quick brown fox jumps over the lazy dog again and again!")
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (20L, "nothing like anything in the base corpus at all whatsoever")
    ).toDF("doc_id", "text")
    val got = Dedup.lshDedupAgainstBase(base, inc, "doc_id", "text",
        3, 0.8, 8, 4)
      .select("doc_id", "dup_of", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (d, b, j) => d -> (b, j) }.toMap
    assert(got.keySet == Set(10L), s"expected only doc 10 flagged: $got")
    // doc 10 ties doc 1 at J=1.0 vs doc 5's J<1: argmax picks 1
    assert(got(10L)._1 == 1L && got(10L)._2 == 1.0, s"best match: $got")
  }

  test("simhash: near-identical token multisets collide, disjoint ones don't") {
    val df = Seq(
      (1L, "spark query engine shuffle partition codegen broadcast join filter"),
      (2L, "spark query engine shuffle partition codegen broadcast join filters"),
      (3L, "entirely unrelated vocabulary about cooking pasta tomato basil olive")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("simhashPairs self-consistency: identical docs at distance 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sigs, "doc_id", 3)
      .select("d1", "d2", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("spanScrub removes exactly the benchmark spans, keeps the rest") {
    val bench = Seq((100L, "q w e r t y u i")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark 8-gram mid-document → those 8 words go
      (1L, "a b q w e r t y u i c d"),
      // clean document → untouched
      (2L, "alpha beta gamma delta"),
      // IS the benchmark text → fully deleted
      (3L, "q w e r t y u i"),
      // shares a 7-word prefix only (no full 8-gram) → untouched
      (4L, "q w e r t y u X")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .spanScrub(corpus, bench, "doc_id", "text", 8)
      .select("doc_id", "text_clean", "n_kept", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("a b c d", 4L, 8L)))
    assert(got(2L) == (("alpha beta gamma delta", 4L, 0L)))
    assert(got(3L) == (("", 0L, 8L)))
    assert(got(4L) == (("q w e r t y u X", 8L, 0L)))
    graft.CacheScope.release()
  }

  test("span operators EXCLUDE null-text documents (oracle agreement)") {
    // ADVICE r12: a null text has no words and nothing to scrub; the
    // oracles' inner join on word counts drops such docs, so the Spark
    // side must exclude them too — not emit a null-nw row
    val bench = Seq((100L, Some("q w e r t y u i"))).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, Some("a b q w e r t y u i c d")),
      (2L, None: Option[String]),
      (3L, Some("alpha beta gamma delta"))
    ).toDF("doc_id", "text")
    val scrubIds = graft.operators.Dedup
      .spanScrub(corpus, bench, "doc_id", "text", 8)
      .select("doc_id").as[Long].collect().toSet
    assert(scrubIds == Set(1L, 3L), s"null-text doc must be excluded: $scrubIds")
    val dedupIds = Dedup.spanDedup(corpus, "doc_id", "text", 8)
      .select("doc_id").as[Long].collect().toSet
    assert(dedupIds == Set(1L, 3L), s"null-text doc must be excluded: $dedupIds")
    // a null-text BENCHMARK side is likewise inert, not an error
    val nullBench = Seq((100L, None: Option[String])).toDF("doc_id", "text")
    val untouched = graft.operators.Dedup
      .spanScrub(corpus, nullBench, "doc_id", "text", 8)
      .filter(col("n_removed") > 0).count()
    assert(untouched == 0L)
    graft.CacheScope.release()
  }

  test("hammingPairs: 3-of-6 combination banding is LOSSLESS vs brute force") {
    // Manku pigeonhole: Hamming ≤ 3 touches ≤ 3 of the 6 blocks, so
    // some 3-combination survives intact — banded candidates must
    // contain EVERY true pair (and the verify filter makes the sets
    // equal, not just ⊇)
    val sigs = Dedup.simhash(
      Tables.documents(spark, "/root/testdata/sf0.01"), "doc_id", "text")
    val banded = Dedup.simhashPairs(sigs, "doc_id", 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val a = sigs.select(col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = sigs.select(col("doc_id").as("d2"), col("simhash").as("s2"))
    val brute = a.join(b, col("d1") < col("d2"))
      .filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(banded == brute,
      s"banding lost ${(brute -- banded).size} true pairs / " +
        s"invented ${(banded -- brute).size}")
    graft.CacheScope.release()
  }

  test("hammingPairs: radius-5 4-of-10 banding is LOSSLESS vs brute force") {
    // VERDICT r12 item 6: image-dHash use cases want radius 4-6; the
    // r-of-m pigeonhole (d <= m - r, here 10 - 4 = 6) must keep exact
    // recall at radius 5 exactly as 3-of-6 does at radius 3
    val sigs = Dedup.simhash(
      Tables.documents(spark, "/root/testdata/sf0.01"), "doc_id", "text")
      .persist()
    val banded = Dedup.hammingPairs(sigs, "doc_id", "simhash", 5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val a = sigs.select(col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = sigs.select(col("doc_id").as("d2"), col("simhash").as("s2"))
    val brute = a.join(b, col("d1") < col("d2"))
      .filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(banded == brute,
      s"radius-5 banding lost ${(brute -- banded).size} true pairs / " +
        s"invented ${(banded -- brute).size}")
    // synthetic exactness at the radius boundary: flips of 5 bits are
    // found, flips of 6 are not (maxDist=5 cut), flips of 7 would
    // exceed the 4-of-10 geometry's recall anyway
    val baseSig = 0x2D5A96C3E1B47A5L
    def flip(n: Int): Long =
      (0 until n).foldLeft(baseSig)((s, i) => s ^ (1L << (i * 9)))
    val fixture = Seq((1L, baseSig), (2L, flip(5)), (3L, flip(6)))
      .toDF("doc_id", "simhash")
    val got = Dedup.hammingPairs(fixture, "doc_id", "simhash", 5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && !got.contains((1L, 3L)))
    sigs.unpersist()
    graft.CacheScope.release()
  }

  test("hammingPairs refuses radii past the geometry table") {
    val fixture = Seq((1L, 0L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(fixture, "doc_id", "simhash", 7)
    }
    assert(e.getMessage.contains("radius <= 6"))
    graft.CacheScope.release()
  }

  test("ANN recall vs brute force on the embeddings fixture") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Knn.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Knn.annTopK(emb, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    // 8 tables x 6 bits over weakly-similar random vectors: theory
    // predicts ~0.4; must at minimum be far above random (~1%).
    assert(recall >= 0.15, s"ANN recall $recall too close to random")
  }

  test("SRP-bucketed cosine pairs: subset of exact, measurable recall") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Knn.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val bucketed = Knn.cosinePairsBucketed(emb, "vec_id", "embedding", 0.4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact)) // exact verification ⇒ no false positives
    assert(exact.nonEmpty)
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.3, s"SRP pair recall $recall too low")
  }

  test("srpPairsAgainstBase ≡ whole-corpus SRP pairs restricted to cross pairs") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val incoming = emb.filter(col("vec_id") % 5 === 0)
    val inc = Knn.srpPairsAgainstBase(
        base, incoming, "vec_id", "embedding", 0.4)
      .select("d_new", "d_base", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (n, b, c) => ((math.min(n, b), math.max(n, b)), c) }.toMap
    // sign buckets depend only on (vector, plane family), so the
    // incremental bucket-join finds EXACTLY the whole-corpus pairs
    // with one endpoint in the batch — same candidates, same cosines
    val whole = Knn.cosinePairsBucketed(emb, "vec_id", "embedding", 0.4)
      .select("d1", "d2", "cosine").as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, c) => ((a, b), c) }.toMap
    assert(inc == whole)
    assert(inc.nonEmpty, "fixture must contain cross near-dup pairs")
    graft.CacheScope.release()
  }

  test("decontaminate equals the brute-force pair aggregate") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") % 20 =!= 0)
    val bench = emb.filter(col("vec_id") % 20 === 0)
    val got = Knn.decontaminate(corpus, bench, "vec_id", "embedding", 0.4)
      .select("vec_id", "n_hits", "max_cosine")
      .as[(Long, Long, Double)].collect().toSet
    // reference: exact pairs from the oracle-gated cosinePairs kernel,
    // restricted to corpus×bench, aggregated driver-side
    val pairs = Knn.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select("d1", "d2", "cosine").as[(Long, Long, Double)].collect()
    val crossed = pairs.flatMap { case (a, b, c) =>
      Seq((a, b, c), (b, a, c)) }.filter { case (cid, bid, _) =>
        cid % 20 != 0 && bid % 20 == 0 }
    val expected = crossed.groupBy(_._1).map { case (cid, hits) =>
      (cid, hits.length.toLong, hits.map(_._3).max) }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must contain contaminated rows")
  }

  test("multi-probe raises ANN recall at a fixed table budget") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Knn.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(probes: Int) = {
      val ann = Knn.annTopK(emb, queries, "vec_id", "embedding", 5, 64,
        probes = probes)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      ann.intersect(brute).size.toDouble / brute.size
    }
    val (r0, r2) = (recallAt(0), recallAt(2))
    assert(r2 >= r0, s"multi-probe recall $r2 below base $r0")
    assert(r2 > 0.15)
  }

  test("IVF ANN recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val brute = graft.operators.Knn
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = graft.operators.Ivf
      .annTopK(emb, queries, "vec_id", "embedding", 5, numCentroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // probing 4/16 buckets scans ~25% of the corpus; on weakly-similar
    // random vectors expect recall well above that floor
    assert(recall >= 0.2, s"IVF recall $recall too close to random")
  }

  test("IVF centroids are deterministic across runs") {
    val emb = Tables.embeddings(spark, sf)
    val a = graft.operators.Ivf.trainCentroids(emb, "embedding", 8)
    val b = graft.operators.Ivf.trainCentroids(emb, "embedding", 8)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("wordShingles guards short documents") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.shingles(df, "doc_id", "text", 3)
      .select("doc_id", "sh").as[(Long, Seq[String])].collect().toMap
    assert(got(1L).isEmpty)
    assert(got(2L) == Seq("a b c", "b c d"))
  }

  test("jaccardPairsPruned: oversized stop list falls back to shuffled anti-join") {
    // degenerate corpus: tiny maxDf over shared boilerplate makes the
    // stop list most of the gram dictionary. With broadcastStopLimit=1
    // the guard must take the non-broadcast path and still produce the
    // same pairs as the broadcast path.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "entirely different padding text with no overlap at all here")
    ).toDF("doc_id", "text")
    def run(limit: Long) =
      Dedup.jaccardPairsPruned(docs, "doc_id", "text", 3, 0.5, 2, limit)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
    val shuffled = run(1L)       // forces the fallback
    val broadcasted = run(1000000L)
    assert(shuffled == broadcasted, "guarded fallback must not change results")
    assert(shuffled.contains((1L, 3L)), "identical docs survive pruning")
  }

  test("jaccardPairsPruned: a duplicated doc_id never pairs with itself") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    // a self-pair would score 1/3 (each gram once in the intersection,
    // twice in each "set"), so tau sits below that
    val got = Dedup.jaccardPairsPruned(docs, "doc_id", "text", 3, 0.2, 20)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(got.nonEmpty, "the distinct ids still pair")
    assert(got.forall { case (a, b) => a < b }, s"self-pair in ${got.toSeq}")
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dhash: the 25 render seeds are pairwise distinct (q_image_neardup oracle precondition)") {
    // q_image_neardup at maxDist=0 claims pairs ⇔ same doc_id%25 group.
    // That needs: same seed ⇒ identical PNG ⇒ distance 0 (trivial), AND
    // different seeds ⇒ dHash distance > 0 — asserted here pairwise.
    val hashes = (0L until 25L).map(s =>
      s -> graft.operators.Multimodal.dhash64(
        graft.operators.Multimodal.renderImage(s)))
    for (Seq((s1, h1), (s2, h2)) <- hashes.combinations(2))
      assert(java.lang.Long.bitCount(h1 ^ h2) > 0,
        s"render seeds $s1 and $s2 collide on dhash")
  }

  test("image near-dup: perturbed re-encode recovered by Hamming banding") {
    import graft.operators.Multimodal
    // plant pairs: original + a 1-pixel blue-channel perturbation (a
    // 1-px change touches one pool cell = at most 2 dhash bits)
    val rows = (0 until 8).flatMap { i =>
      val img = Multimodal.renderImage(i * 97L + 3)
      val pert = Multimodal.renderImage(i * 97L + 3)
      val rgb = pert.getRGB(2, 2)
      pert.setRGB(2, 2, (rgb & 0xffff00) | math.min((rgb & 0xff) + 64, 255))
      Seq((i * 2L, encodePng(img)), (i * 2L + 1, encodePng(pert)))
    }
    val media = rows.toDF("media_id", "bytes")
    val pairs = Multimodal.imageNearDupPairs(media, maxDist = 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    (0 until 8).foreach { i =>
      assert(pairs.contains((i * 2L, i * 2L + 1)),
        s"planted perturbed pair ${i * 2L} missing")
    }
  }

  test("spanDedup removes repeated spans, keeps the global first occurrence") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // exactly one 8-gram
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma delta"),     // first occurrence — kept
      (2L, s"x1 x2 x3 $boiler y1 y2"),             // later occurrence — span cut
      (3L, boiler),                                 // doc IS the span — fully deleted
      (4L, "short doc under n words"),              // < n words: untouched
      (5L, s"alpha beta $boiler gamma delta")       // exact dup of doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 8)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // doc 1 holds the minimal (id, pos) occurrence of every repeated
    // gram it contains... except grams also present at a smaller pos
    // in itself only; here it is untouched
    assert(out(0)._2 == s"alpha beta $boiler gamma delta" && out(0)._4 == 0)
    // doc 2 loses exactly the 8 boilerplate words
    assert(out(1)._2 == "x1 x2 x3 y1 y2" && out(1)._4 == 8)
    // doc 3 is deleted entirely
    assert(out(2)._2 == "" && out(2)._3 == 0 && out(2)._4 == 8)
    // doc 4 is below the gram order — untouched by construction
    assert(out(3)._2 == "short doc under n words" && out(3)._4 == 0)
    // doc 5 repeats doc 1 wholesale: every one of its 12 words is
    // covered by some duplicated 8-gram occurrence
    assert(out(4)._2 == "" && out(4)._4 == 12)
  }

  test("CacheScope.release drops every operator-persisted block") {
    val docs = Tables.documents(spark, sf)
    // two operators that persist intermediates, materialized fully
    Dedup.jaccardPairsPruned(docs, "doc_id", "text", 3, 0.8, 20).count()
    Knn.annTopK(Tables.embeddings(spark, sf),
      Tables.embeddings(spark, sf).filter(col("vec_id") < 5),
      "vec_id", "embedding", 3, 64).count()
    assert(graft.CacheScope.trackedCount > 0, "operators registered blocks")
    // Assert per-frame, on a snapshot taken before release: suites run
    // in parallel in one JVM, so global checks (trackedCount == 0,
    // getRDDStorageInfo.isEmpty) race with other suites' caches.
    val snap = graft.CacheScope.trackedSnapshot
    graft.CacheScope.release(blocking = true)
    snap.foreach { df =>
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "every frame tracked at release() time is unpersisted")
    }
  }

  test("connectedIncremental: two ingest cycles ≡ from-scratch, merges included") {
    import graft.operators.Components
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "component").as[(Long, Long)].collect().toMap
    val baseNodes = spark.range(0, 10).toDF("id")
    val baseEdges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("src", "dst")
    val base = Components.connected(baseNodes, "id", baseEdges, "src", "dst")

    // cycle 1: node 100 MERGES the {0,1,2} and {4,5} base components;
    // 101 arrives isolated
    val new1 = Seq(100L, 101L).toDF("id")
    val delta1 = Seq((100L, 2L), (100L, 5L)).toDF("src", "dst")
    val inc1 = Components.connectedIncremental(
      base, "id", "component", new1, delta1, "src", "dst")
    val scratch1 = Components.connected(
      baseNodes.unionByName(new1), "id",
      baseEdges.unionByName(delta1), "src", "dst")
    assert(labels(inc1) == labels(scratch1))
    assert(labels(inc1)(4L) == 0L, "batch-induced merge of two base components")
    assert(labels(inc1)(101L) == 101L, "isolated new node keeps its id")

    // cycle 2 folds onto cycle 1's OUTPUT: 200 links base-isolated 7
    // with cycle-1's 101
    val new2 = Seq(200L).toDF("id")
    val delta2 = Seq((200L, 7L), (200L, 101L)).toDF("src", "dst")
    val inc2 = Components.connectedIncremental(
      inc1, "id", "component", new2, delta2, "src", "dst")
    val scratch2 = Components.connected(
      baseNodes.unionByName(new1).unionByName(new2), "id",
      baseEdges.unionByName(delta1).unionByName(delta2), "src", "dst")
    assert(labels(inc2) == labels(scratch2))
    assert(labels(inc2)(200L) == 7L && labels(inc2)(101L) == 7L)

    // the remap broadcast guard: forcing the shuffled fallback must
    // not change any label
    val incShuffled = Components.connectedIncremental(
      base, "id", "component", new1, delta1, "src", "dst",
      maxBroadcastRemap = 0)
    assert(labels(incShuffled) == labels(scratch1))
    graft.CacheScope.release()
  }

  test("connectedIncremental over LSH delta feeds ≡ from-scratch clustering") {
    import graft.operators.Components
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val baseLabels = Components.connected(
      base.select(col("doc_id")), "doc_id",
      Dedup.minhashLshPairs(base, "doc_id", "text", 3, 0.8, 8, 4),
      "d1", "d2")
    val delta = Dedup.lshPairsAgainstBase(
        Dedup.lshSide(base, "doc_id", "text", 3, 8, 4),
        Dedup.lshSide(incoming, "doc_id", "text", 3, 8, 4), 0.8)
      .select(col("d_new").as("d1"), col("d_base").as("d2"))
      .unionByName(
        Dedup.minhashLshPairs(incoming, "doc_id", "text", 3, 0.8, 8, 4)
          .select(col("d1"), col("d2")))
    val inc = Components.connectedIncremental(
        baseLabels, "doc_id", "component",
        incoming.select(col("doc_id")), delta, "d1", "d2")
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    // from-scratch: the full-corpus LSH pair set (pair membership is
    // pairwise, so base-base ∪ new-base ∪ new-new = full corpus)
    val scratch = Components.connected(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(inc == scratch)
    assert(inc.exists { case (id, c) => id != c },
      "fixture must contain at least one non-trivial cluster")
    graft.CacheScope.release()
  }

  test("connectedIncrementalDelta: applying the delta to base labels ≡ full fold") {
    // the MERGE-persistence form (clusterStream labelsAsTable):
    // base ← delta-upserted must equal connectedIncremental's output,
    // and the delta must be STRICTLY smaller than the corpus (rows ∝
    // batch + touched components)
    import graft.operators.Components
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val baseLabels = Components.connected(
        base.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(base, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .persist()
    val delta = Dedup.lshPairsAgainstBase(
        Dedup.lshSide(base, "doc_id", "text", 3, 8, 4),
        Dedup.lshSide(incoming, "doc_id", "text", 3, 8, 4), 0.8)
      .select(col("d_new").as("d1"), col("d_base").as("d2"))
      .unionByName(
        Dedup.minhashLshPairs(incoming, "doc_id", "text", 3, 0.8, 8, 4)
          .select(col("d1"), col("d2")))
      .persist()
    val full = Components.connectedIncremental(
        baseLabels, "doc_id", "component",
        incoming.select(col("doc_id")), delta, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    val changed = Components.connectedIncrementalDelta(
        baseLabels, "doc_id", "component",
        incoming.select(col("doc_id")), delta, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    val baseMap = baseLabels.as[(Long, Long)].collect().toMap
    assert((baseMap ++ changed) == full,
      "delta upserted over base labels must equal the full fold")
    assert(changed.size < full.size,
      s"delta (${changed.size}) must be smaller than the corpus (${full.size})")
    // every delta row is a real change: a new doc or a moved label
    changed.foreach { case (id, c) =>
      assert(!baseMap.contains(id) || baseMap(id) != c,
        s"delta carries an unchanged base row: $id -> $c")
    }
    baseLabels.unpersist(); delta.unpersist()
    graft.CacheScope.release()
  }

  Seq("q_minhash_dedup", "q_dedup_clusters").foreach { name =>
    test(s"$name: a second call compiles no generated class") {
      import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      def call(): Unit =
        graft.tools.Exec.timed(spark)(graft.SparkEntry.queries(name)(spark, sf))
      call()
      val before = METRIC_COMPILATION_TIME.getCount
      call()
      val added = METRIC_COMPILATION_TIME.getCount - before
      // a stage id in a class name, or a persist planned in a cloned
      // session (its own executor class loader), shows up here as
      // recompiles of the same stages
      assert(added == 0, s"second call compiled $added generated classes")
    }
  }
}
