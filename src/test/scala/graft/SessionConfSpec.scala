package graft

/** Pins the shared session recipe ([[SessionConf.local]]) on the fixture
  * session every spec runs against.
  */
class SessionConfSpec extends SparkSpec {

  test("the shared session carries the SessionConf.local recipe") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "16")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
  }
}
