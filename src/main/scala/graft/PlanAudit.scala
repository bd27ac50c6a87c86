package graft

/** Ad-hoc plan auditor: prints the formatted physical plan of the named
  * queries (all of them if no names given) at the given sf dir. Not a
  * driver surface — a builder tool for the scale review loop
  * (`.explain` every operator and iterate until it's the plan you'd
  * want, per SURVEY §4.2).
  *
  * It audits the session Bench and Verify run ([[LocalSession]] at 4
  * cores: the engine's extensions, so `DotProductRewrite` shows in the
  * plans; ANSI off; AQE on; 4 shuffle partitions), the session shape
  * `PlanQualitySpec` plans in too. With `PLAN_SIMPLE=1` it prints
  * `executedPlan.toString`, the string the spec pins, and
  * `tools/plan_diff.py` compares two such outputs query by query.
  *
  * Usage: sbt 'runMain graft.PlanAudit /root/testdata/sf0.01 q34 q37'
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted = args.drop(1).toSet
    val spark = LocalSession("4")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted.isEmpty || wanted.exists(name.startsWith)) {
        println(s"\n========== $name ==========")
        // PLAN_SIMPLE=1 prints executedPlan.toString instead of
        // formatted mode
        if (sys.env.get("PLAN_SIMPLE").contains("1"))
          println(fn(spark, sfDir).queryExecution.executedPlan.toString)
        else fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
