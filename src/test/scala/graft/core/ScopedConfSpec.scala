package graft.core

import graft.SparkTestBase

class ScopedConfSpec extends SparkTestBase {

  test("withConfs restores a previously set and a previously unset key " +
      "when the body throws") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.graft.test.scopedConfProbe"
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(unsetKey).isEmpty)
    val err = intercept[IllegalStateException] {
      ScopedConf.withConfs(spark, setKey -> "1", unsetKey -> "on") {
        assert(spark.conf.get(setKey) == "1")
        assert(spark.conf.get(unsetKey) == "on")
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert(spark.conf.get(setKey) == before)
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }
}
