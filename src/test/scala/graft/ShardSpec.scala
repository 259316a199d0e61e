package graft

import org.apache.spark.sql.functions._
import graft.operators.Shard

/** Shard export: reproducibility (membership AND intra-shard order),
  * losslessness, and statistical balance.
  */
class ShardSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/shard_${tag}_${System.nanoTime()}"

  test("assignment is deterministic and layout-independent") {
    val base = spark.range(10000).select(col("id"))
    def asg(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), Shard.assign(col("id"), 16).as("s"))
        .as[(Long, Long)].collect().toMap
    val a = asg(base)
    val b = asg(base.repartition(23))
    assert(a == b)
    assert(a.values.forall(s => s >= 0 && s < 16))
  }

  test("export is lossless and the manifest matches the files") {
    val root = freshRoot("lossless")
    val docs = Tables.documents(spark, sf)
    val manifest = Shard.export(docs, root, col("doc_id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val back = spark.read.parquet(root)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq ==
      docs.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(manifest.values.sum == docs.count())
    assert(manifest.keySet == (0L until 4L).toSet)
  }

  test("two exports of the same corpus are byte-order identical per shard") {
    val docs = Tables.documents(spark, sf)
    val r1 = freshRoot("rep1"); val r2 = freshRoot("rep2")
    Shard.export(docs, r1, col("doc_id"), 4)
    Shard.export(docs.repartition(13), r2, col("doc_id"), 4)
    for (s <- 0 until 4) {
      def seq(root: String) = spark.read.parquet(s"$root/__shard=$s")
        .select("doc_id").as[Long].collect().toSeq
      assert(seq(r1) == seq(r2), s"shard $s order diverged")
    }
  }

  test("shards balance within the binomial band") {
    val n = 100000L
    val shards = 32
    val counts = spark.range(n)
      .select(Shard.assign(col("id"), shards).as("s"))
      .groupBy("s").count().as[(Long, Long)].collect().map(_._2)
    assert(counts.length == shards)
    val mean = n.toDouble / shards
    // 5σ of Binomial(n, 1/32): no shard may stray past it
    val tol = 5 * math.sqrt(mean * (1 - 1.0 / shards))
    assert(counts.forall(c => math.abs(c - mean) < tol),
      s"imbalanced: min=${counts.min} max=${counts.max} mean=$mean tol=$tol")
  }

  test("adjacent source rows scatter (the export IS a shuffle)") {
    // 1000 consecutive ids: if the hash order preserved source order,
    // shard-0's id sequence would be sorted; it must not be
    val root = freshRoot("scatter")
    Shard.export(spark.range(1000).select(col("id")), root, col("id"), 2)
    val s0 = spark.read.parquet(s"$root/__shard=0")
      .select("id").as[Long].collect().toSeq
    assert(s0.size > 100)
    assert(s0 != s0.sorted, "intra-shard order tracks source order — not shuffled")
  }
}
