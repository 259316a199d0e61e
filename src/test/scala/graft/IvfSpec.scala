package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** r15 trainer gates (VERDICT r14 item 2 + 7): deterministic
  * k-means++ seeding, split-the-largest empty-centroid repair,
  * bucket-occupancy balance, and the executor-side training seam for
  * corpora past the driver cap.
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf).persist()

  test("k-means++ trainer is deterministic and partitioning-invariant") {
    val a = Ivf.trainCentroids(emb, "embedding", 32)
    val b = Ivf.trainCentroids(emb.repartition(7), "embedding", 32)
    assert(a.length == 32)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "hash-ordered tiebroken sample must make training invariant to " +
        "input partitioning")
  }

  test("duplicate-heavy corpus: sample boundary is still deterministic") {
    // every vector duplicated 3x — identical xxhash64 per copy, the
    // ADVICE r14 tie case; the vector-lexicographic tiebreaker makes
    // the sample MULTISET (hence the centroids) partitioning-invariant
    val dup = emb.select(col("embedding"))
      .crossJoin(spark.range(3))
      .select(col("embedding"))
    val a = Ivf.trainCentroids(dup, "embedding", 16, sampleSize = 100)
    val b = Ivf.trainCentroids(dup.repartition(11), "embedding", 16,
      sampleSize = 100)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("empty-centroid repair: k past the distinct-point count still yields usable buckets") {
    // 4 distinct vectors, k = 8: at least 4 centroids MUST be empty
    // every round; the repair must neither crash nor collapse the
    // assignment (all points still land in some bucket)
    val tiny = Seq(
      Array(0f, 0f), Array(10f, 0f), Array(0f, 10f), Array(10f, 10f))
      .map(v => Tuple1(v.toSeq)).toDF("embedding")
    val cents = Ivf.trainCentroids(tiny, "embedding", 8, sampleSize = 16)
    assert(cents.length == 8)
    val buckets = tiny
      .select(Ivf.bucketId(col("embedding"), cents).as("b"))
      .as[Int].collect()
    assert(buckets.forall(b => b >= 0 && b < 8))
    // the 4 distinct points should occupy 4 DISTINCT buckets — a dead
    // trainer leaves them piled on fewer
    assert(buckets.distinct.length == 4,
      s"4 well-separated points must train 4 distinct buckets: " +
        buckets.mkString(","))
  }

  test("occupancy balance: max bucket stays near uniform at the adaptive geometry") {
    val n = emb.count()
    val k = Ivf.adaptiveNlist(n)
    val cents = Ivf.trainCentroids(emb, "embedding", k)
    val occ = emb.select(Ivf.bucketId(col("embedding"), cents).as("b"))
      .groupBy("b").count().as[(Int, Long)].collect().toMap
    val uniform = n.toDouble / k
    val ratio = occ.values.max / uniform
    // the r14 census measured 4.6x under the old strided/4-round
    // trainer at sf10; the k-means++/repair trainer must hold the
    // skew near uniform even on this tiny fixture (gate mirrors the
    // rehearsal's census gate)
    assert(ratio <= 3.0,
      s"max occupancy ${occ.values.max} vs uniform $uniform ($ratio x)")
  }

  test("distributed trainer: deterministic, and the auto split takes it past the cap") {
    val dist = Ivf.trainCentroidsDistributed(emb, "embedding", 16)
    val dist2 = Ivf.trainCentroidsDistributed(
      emb.repartition(9), "embedding", 16)
    assert(dist.length == 16 && dist.head.length == 64)
    assert(dist.map(_.toSeq).toSeq == dist2.map(_.toSeq).toSeq,
      "executor-side Lloyd must be deterministic: argmin assignment + " +
        "exact per-(cluster,dim) sums are partitioning-invariant")
    // auto split: a tiny capVectors forces the distributed branch
    val auto = Ivf.trainCentroidsAuto(
      emb, "embedding", 16, n = emb.count(), capVectors = 1L)
    assert(auto.map(_.toSeq).toSeq == dist.map(_.toSeq).toSeq)
    // and the driver branch at the default cap
    val drv = Ivf.trainCentroidsAuto(emb, "embedding", 16, n = emb.count())
    assert(drv.map(_.toSeq).toSeq ==
      Ivf.trainCentroids(emb, "embedding", 16).map(_.toSeq).toSeq)
  }

  test("catalog path takes the distributed branch past the cap (VERDICT r15 watch 2)") {
    // the catalog's shared per-dir trainer must route through the
    // driver/executor split — a past-the-cap corpus (cap forced to 1
    // via conf) trains distributed THROUGH the catalog entry point
    graft.queries.VectorQueries.invalidateModels(sf)
    spark.conf.set("spark.graft.ivf.driverTrainCap", "1")
    try {
      val viaCatalog = graft.queries.VectorQueries.trainedCentroids(spark, sf)
      val n = emb.count()
      val direct = Ivf.trainCentroidsDistributed(
        emb, "embedding", Ivf.adaptiveNlist(n))
      assert(viaCatalog.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
        "catalog trainer must take the distributed branch past the cap")
    } finally {
      spark.conf.unset("spark.graft.ivf.driverTrainCap")
      // drop the distributed-trained model so other suites see the
      // default-path cache
      graft.queries.VectorQueries.invalidateModels(sf)
    }
  }

  test("distributed trainer ships k rows per round, not k*dim (VERDICT r16)") {
    // the per-round driver transient must be model-size: the stats
    // collect returns one dim-array row per NON-EMPTY cluster (<= k),
    // never the k*dim per-(cluster,dim) row set
    graft.tools.RunMetrics.reset()
    Ivf.trainCentroidsDistributed(emb, "embedding", 16)
    val rows = graft.tools.RunMetrics.snapshot.get("ivf_dist_stats_rows")
    assert(rows.exists(r => r > 0 && r <= 16),
      s"per-round stats collect must be <= k=16 rows, got $rows")
  }

  test("distributed trainer repairs empty centroids (ADVICE r15)") {
    // 4 distinct vectors, k = 8 — at least 4 centroids are empty every
    // round; without repair they keep stale positions for all rounds
    val tiny = Seq(
      Array(0f, 0f), Array(10f, 0f), Array(0f, 10f), Array(10f, 10f))
      .map(v => Tuple1(v.toSeq)).toDF("embedding")
    val cents = Ivf.trainCentroidsDistributed(tiny, "embedding", 8)
    assert(cents.length == 8)
    val buckets = tiny
      .select(Ivf.bucketId(col("embedding"), cents).as("b"))
      .as[Int].collect()
    assert(buckets.distinct.length == 4,
      s"4 well-separated points must occupy 4 distinct buckets after " +
        s"repair: ${buckets.mkString(",")}")
  }

  test("distributed trainer occupancy stays near uniform (ADVICE r15)") {
    // the distributed path had no occupancy evidence — gate it like
    // the driver path's census gate
    val n = emb.count()
    val k = Ivf.adaptiveNlist(n)
    val cents = Ivf.trainCentroidsDistributed(emb, "embedding", k)
    val occ = emb.select(Ivf.bucketId(col("embedding"), cents).as("b"))
      .groupBy("b").count().as[(Int, Long)].collect().toMap
    val ratio = occ.values.max / (n.toDouble / k)
    assert(ratio <= 3.0,
      s"distributed-trained max occupancy ${occ.values.max} is $ratio x uniform")
  }

  test("distributed trainer pre-empts an out-of-envelope corpus before any Lloyd pass (VERDICT r17)") {
    // coordinates past |x| <= 10 would overflow the decimal(38,18)
    // accumulator mid-pass; the seed-sample probe must abort FIRST,
    // with the rescale instruction, before a distributed pass runs
    val hot = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(
        col("embedding"), x => (x * 100.0).cast("float")).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Ivf.trainCentroidsDistributed(hot, "embedding", 4)
    }
    assert(ex.getMessage.contains("rescale the vectors") &&
      ex.getMessage.contains("sample coordinate magnitude"),
      s"pre-check must fire from the sample probe: ${ex.getMessage}")
  }

  test("distributed-trained centroids hold IVF recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = graft.operators.Knn
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Ivf.trainCentroidsDistributed(emb, "embedding", 16)
    val ivf = Ivf.annTopKWith(
        emb, queries, "vec_id", "embedding", 5, cents, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"distributed-trained IVF recall $recall")
  }

  test("annTopK's checkpoints are freed by CacheScope.release") {
    emb.count()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val ann = Ivf.annTopK(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", 5, 16, nprobe = 4)
    assert(ann.count() > 0L)
    CacheScope.release()
    // `ann` stays reachable, so an unregistered checkpoint would stay
    // resident here even though getPersistentRDDs holds RDDs weakly
    val after = sc.getPersistentRDDs.size
    assert(after <= before,
      s"${after - before} RDDs resident after release (frame: ${ann.columns.mkString(",")})")
  }

  test("nprobe = every centroid: annTopKWith equals bruteForceTopK row for row") {
    // probing all buckets makes every other row a candidate, so the IVF
    // kernel must rank exactly what the brute-force baseline ranks —
    // same ids, same ranks, bit-equal cosines
    val queries = emb.filter(col("vec_id") < 10)
    val cents = Ivf.trainCentroids(emb, "embedding", 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    val brute = rows(graft.operators.Knn
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf = rows(Ivf.annTopKWith(
      emb, queries, "vec_id", "embedding", 5, cents, nprobe = cents.length))
    assert(brute.size == 50)
    assert(ivf == brute)
  }

  test("the vector queries leave no RDD resident") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Seq("q_knn_ann", "q_knn_ivf", "q_knn_ivfpq", "q_semdedup",
        "q_cluster_sample", "q_embed_srp_pairs", "q_embed_incremental").foreach { q =>
      // the frame stays reachable while the count is taken:
      // getPersistentRDDs holds RDDs weakly, so an unreachable frame's
      // leaked blocks could drop out of it and pass unseen
      val df = CacheScope.scoped(spark) {
        val d = SparkEntry.queries(q)(spark, sf)
        assert(d.collect().nonEmpty, q)
        d
      }
      assert(sc.getPersistentRDDs.size <= before,
        s"$q left ${sc.getPersistentRDDs.size - before} RDDs resident " +
          s"(frame: ${df.columns.mkString(",")})")
    }
  }
}
