package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.queries.Fixtures

/** The catalog queries' fixture protocol: one scratch-path rule, one
  * build-once memo, one warehouse landing.
  */
class FixtureSpec extends SparkSpec {

  private def key(name: String) = Fixtures.fresh(s"fixturespec_$name")

  test("path keeps dots: sf0.01 and sf0_01 get two paths") {
    assert(Fixtures.path("k", "/root/testdata/sf0.01") !=
      Fixtures.path("k", "/root/testdata/sf0_01"))
  }

  test("path keeps the whole dir: one basename under two parents gets two paths") {
    assert(Fixtures.path("k", "/data/a/sf0.01") !=
      Fixtures.path("k", "/data/b/sf0.01"))
  }

  test("path is absolute and under target/tmp") {
    val p = Fixtures.path("k", "/root/testdata/sf0.01")
    assert(new java.io.File(p).isAbsolute)
    assert(p.startsWith(new java.io.File("target/tmp").getAbsolutePath + "/"))
  }

  test("once runs its build once across repeated calls") {
    val k = key("once")
    val runs = new AtomicInteger
    (1 to 3).foreach(_ => Fixtures.once(k)(runs.incrementAndGet()))
    assert(runs.get == 1)
  }

  test("once runs the build again after a build that threw") {
    val k = key("retry")
    val runs = new AtomicInteger
    intercept[IllegalStateException] {
      Fixtures.once(k) { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Fixtures.once(k)(runs.incrementAndGet()) == 2)
    assert(runs.get == 2)
  }

  test("once returns the memoized value") {
    val k = key("value")
    assert(Fixtures.once(k)("first") == "first")
    assert(Fixtures.once(k)("second") == "first")
  }

  test("one catalog name re-points per dir: q_mor_update on sf0.001, sf0.01, sf0.001") {
    val small = sf
    val large = "/root/testdata/sf0.01"
    def expected(dir: String) = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(when(col("o_custkey") % 11 === 4, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")) * 100).cast("bigint"))
          .cast("bigint").as("price_cents"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    val want = Map(small -> expected(small), large -> expected(large))
    assert(want(small) != want(large))
    for (dir <- Seq(small, large, small)) {
      val got = CacheScope.scoped(spark) {
        SparkEntry.queries("q_mor_update")(spark, dir).collect().toSeq
      }
      assert(got == want(dir), s"q_mor_update read-back for $dir")
    }
  }
}
