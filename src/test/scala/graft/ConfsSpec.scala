package graft

/** `Confs.scoped` puts every key back as it found it: a set value is
  * restored, an unset key is unset again, also when the body throws —
  * and a gate that scopes a planner switch leaves the caller's value.
  */
class ConfsSpec extends SparkTestBase {

  test("a set key is restored and an unset key is unset again") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.confs_spec.unset"
    val prev = spark.conf.get(set)
    intercept[IllegalStateException] {
      Confs.scoped(spark, set -> "3", unset -> "x") {
        assert(spark.conf.get(set) == "3")
        assert(spark.conf.get(unset) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(set) == prev)
    assert(spark.conf.getOption(unset).isEmpty)
  }

  test("catalog_sorted_write keeps the caller's AQE coalescing setting") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "true")
    try {
      SparkEntry.queries("catalog_sorted_write")(spark, sfDir).collect()
      // getAll holds only explicitly set keys: an unset key would read
      // its default (also "true") through get.
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
