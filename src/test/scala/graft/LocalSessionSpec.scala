package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory and the one strict integer env reader. */
class LocalSessionSpec extends AnyFunSuite {

  test("parsePositiveInt: unset takes the default, a positive int parses, anything else names the variable") {
    import LocalSession.parsePositiveInt
    assert(parsePositiveInt("SPARK_GRAFT_CPUS", None, default = 4) == 4)
    assert(parsePositiveInt("SPARK_GRAFT_CPUS", Some("8"), default = 4) == 8)
    assert(parsePositiveInt("SPARK_GRAFT_CPUS", Some(" 32 "), default = 4) == 32)
    for (bad <- Seq("abc", "0", "-4", "", "*", "2.5")) {
      val ex = intercept[IllegalArgumentException](
        parsePositiveInt("SPARK_GRAFT_CPUS", Some(bad), default = 4))
      assert(ex.getMessage.contains("SPARK_GRAFT_CPUS"), ex.getMessage)
    }
  }

  test("the factory's session: local[cpus], cpus shuffle partitions, UTC, nanos as long, no UI") {
    // the conf the session was BUILT with: specs may change runtime SQL
    // confs on the shared session, never its SparkContext conf
    val conf = TestSpark.spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }
}
