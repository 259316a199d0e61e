package graft

/** The shared test session is the factory's session, and the
  * per-query release scope frees tracked frames on every exit path.
  */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the factory's planner confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("CacheScope.scoped releases tracked frames when the body throws") {
    val df = CacheScope.track(spark.range(10).toDF("id"))
    df.count()
    val thrown = intercept[IllegalStateException] {
      CacheScope.scoped(spark) { throw new IllegalStateException("boom") }
    }
    assert(thrown.getMessage == "boom")
    assert(!CacheScope.trackedSnapshot.exists(_ eq df))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("withConf restores a preset value and unsets an unset key on throw") {
    val (preset, unset) = ("spark.graft.test.preset", "spark.graft.test.unset")
    spark.conf.set(preset, "before")
    try {
      intercept[IllegalStateException] {
        Session.withConf(spark, preset -> "inside", unset -> "inside") {
          assert(spark.conf.get(preset) == "inside")
          assert(spark.conf.get(unset) == "inside")
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(preset) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(preset)
  }
}
