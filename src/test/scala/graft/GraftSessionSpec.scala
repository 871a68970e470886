package graft

/** The session factory's contract: the Spark defaults it relies on without
  * setting them, the confs it does set, and `tune` bringing a session built
  * elsewhere to the same runtime values.
  */
class GraftSessionSpec extends SparkSpec {

  private val runtimeConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  test("the Spark defaults the factory relies on are on") {
    // AQE re-plans skewed shuffles at runtime (skew-join splitting and
    // partition coalescing); the runtime Bloom filter prunes the probe-side
    // scan of a selective join. A Spark upgrade that turns one off fails here.
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", s"$k is no longer on by default")
    }
  }

  test("the factory sets UTC, nanos-as-long, cached AQE and one partition per core") {
    runtimeConfs.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
  }

  test("tune gives a session built outside the factory the same runtime values") {
    val other = spark.newSession()
    // start from Spark's own defaults, which a plain builder session has
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    other.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    GraftSession.tune(other)
    runtimeConfs.foreach { case (k, _) =>
      assert(other.conf.get(k) == spark.conf.get(k), k)
    }
  }
}
