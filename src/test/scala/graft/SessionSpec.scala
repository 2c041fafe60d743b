package graft

class SessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Session.cpus(32, None) == 32)
    assert(Session.cpus(4, None) == 4)
    assert(Session.cpus(32, Some("8")) == 8)
    assert(Session.cpus(32, Some(" 4 ")) == 4)
    for (bad <- Seq("*", "0", "-2", "4.5", "4x", "")) {
      val e = intercept[IllegalArgumentException](Session.cpus(32, Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("specs share the factory's session: local[cpus], one shuffle partition per core, UTC, nanosAsLong, no UI, AQE") {
    assert(spark eq Session.local(4))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
