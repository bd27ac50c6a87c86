package graft

import org.apache.spark.sql.SparkSession

/** The one session shape the CLI mains (`Bench`, `Verify`, `Smoke`,
  * `PlanAudit`, `ScaleGen`) run: `local[cores]` with the engine's
  * extensions installed (`DotProductRewrite` and the function
  * registry), UTC session time, `spark.sql.ansi.enabled=false`, AQE on,
  * shuffle partitions equal to the core count, UI off. Each main picks
  * its own core count; the test specs run it on 4 cores.
  */
object LocalSession {

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** The session, logging at WARN. */
  def apply(cores: String): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
