package graft

import org.apache.spark.sql.functions.col

import graft.tools.Profile

class ProfileSpec extends SparkSuite {

  test("Profile.measure counts the jobs a builder runs apart from the action's") {
    val checkpointed = Profile.measure(spark)(spark.range(100).toDF().localCheckpoint())
    assert(checkpointed("build_jobs") == 1, checkpointed)
    val plain = Profile.measure(spark)(spark.range(100).toDF())
    assert(plain("build_jobs") == 0, plain)
    assert(plain("jobs") >= 1, plain)
  }

  test("Profile.measure reads one exchange off a single-shuffle plan") {
    val m = Profile.measure(spark)(spark.range(1000).groupBy((col("id") % 10).as("k")).count())
    assert(m("exchanges") == 1, m)
    assert(m("jobs") >= 1 && m("build_jobs") == 0, m)
    assert(m("smj") == 0 && m("bnlj") == 0 && m("scans") == 0, m)
    assert(Profile.fields.forall(m.contains), m)
  }

  test("Profile.measure counts a reused exchange apart from the exchanges that run") {
    val g = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
    val m = Profile.measure(spark)(g.as("a").join(g.as("b"), "k"))
    assert(m("exchanges") == 1 && m("reused_exchanges") == 1, m)
  }
}
