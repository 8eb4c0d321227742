package graft

/** `Probe plan` must print the plan AQE finalised, which needs the action
  * to run on the Dataset's own QueryExecution.
  */
class ProbeSpec extends SparkTestBase {
  test("plan mode prints the finalised adaptive plan of a shuffle query") {
    val txt = Probe.plan(spark, "q_join_inner", sfDir)
    assert(txt.contains("AdaptiveSparkPlan"), txt)
    assert(txt.contains("isFinalPlan=true"), txt)
  }
}
