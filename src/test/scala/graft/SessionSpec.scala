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

  private val defaultKeys = GraftExtensions.Defaults.map(_._1)

  private def defaultsOf(s: org.apache.spark.sql.SparkSession): Seq[String] =
    defaultKeys.map(s.conf.get)

  test("the extension's conf defaults reach the shared, a new and a micro-batch session") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val expected = GraftExtensions.Defaults.map(_._2)
    assert(expected == Seq("false", "false"))
    // a session's analyzer, which sets the defaults, is built with its
    // first plan
    spark.range(1)
    assert(defaultsOf(spark) == expected)
    val fresh = spark.newSession()
    fresh.range(1)
    assert(defaultsOf(fresh) == expected)
    // a stream runs its batches on a clone of the session that started it
    val root = s"target/tmp/session_defaults_${System.nanoTime()}"
    spark.range(3).write.parquet(root)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Seq[String])]
    fresh.readStream.schema(spark.read.parquet(root).schema).parquet(root)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        seen.add((batch.sparkSession ne fresh) -> defaultsOf(batch.sparkSession))
        ()
      }
      .start().awaitTermination()
    assert(seen.size == 1)
    assert(seen.peek() == (true -> expected))
  }

  test("a session built with its own value for a default key keeps it") {
    import org.apache.spark.sql.SparkSession
    val Seq(idKey, bucketKey) = defaultKeys
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    try {
      val built = SparkSession.builder().config(idKey, "true").create()
      built.range(1)
      assert(defaultsOf(built) == Seq("true", "false"))
      val fresh = spark.newSession()
      fresh.conf.set(bucketKey, "true")
      fresh.range(1)
      assert(defaultsOf(fresh) == Seq("false", "true"))
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
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
