package graft

/** PlanDump's `final:` mode must print the adaptive plan of the execution
  * that actually ran.
  */
class PlanDumpSpec extends SparkSpec {

  test("final: dump of a def with a join prints the executed adaptive plan") {
    val df = SparkEntry.defs.find(_.name == "q11_top_parts").get
      .run(spark, "/root/testdata/sf0.001")
    val plan = PlanDump.finalPlan(df)
    assert(plan.contains("Join"), plan)
    assert(plan.contains("isFinalPlan=true"), plan)
  }
}
