package graft

class GraftSessionSpec extends SparkSpec {

  test("cpus: the default when unset, a positive integer when set, else a clear failure") {
    assert(GraftSession.cpus(32, Map.empty) == 32)
    assert(GraftSession.cpus(32, Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    Seq("abc", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(32, Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"))
    }
  }

  test("the shared test session is the factory's session") {
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheMaxEntries.toString)
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
      GraftSession.AqeMinPartitionSize)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
