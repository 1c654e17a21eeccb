package graft.omm

import graft.SparkSpec

/** The service session's shuffle-partition default. */
class ServiceMainSpec extends SparkSpec {
  private val key = "spark.sql.shuffle.partitions"

  test("unset shuffle partitions default to one per core") {
    val s = spark.newSession()
    s.conf.unset(key)
    assert(s.conf.get(key) === "200", "Spark's own default")
    assert(ServiceMain.defaultShufflePartitions(s).conf.get(key) ===
      spark.sparkContext.defaultParallelism.toString)
  }

  test("a user's shuffle-partition setting is kept") {
    val s = spark.newSession()
    s.conf.set(key, "7")
    assert(ServiceMain.defaultShufflePartitions(s).conf.get(key) === "7")
  }
}
