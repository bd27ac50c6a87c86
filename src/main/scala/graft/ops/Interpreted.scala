package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftSessionAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A session whose plans generate no code: a clone of the caller's
  * session with whole-stage codegen off (`spark.sql.codegen.wholeStage`)
  * and expression codegen off (`spark.sql.codegen.factoryMode` =
  * `NO_CODEGEN`, an internal Spark conf), so every operator and
  * expression runs interpreted. A plan over a few thousand rows then
  * costs almost no Janino compile and no JIT warm-up of generated
  * classes, which on such a plan outweigh its row work (Spark still
  * generates a text-format scan's row projection and the row joiner of
  * a partial aggregate, whatever the conf; Kohn, Leis and Neumann,
  * "Adaptive Execution of Compiled Queries", ICDE 2018: compile only
  * what the expected work pays for). Results are the same: both modes
  * evaluate the same expressions.
  *
  * The caller's session is not changed. The clone shares its
  * `SparkContext` (so jobs, local properties and `SparkListener`s are
  * the caller's), and copies its conf, catalog and extensions at the
  * time of the call. Its query execution listeners are not copied:
  * one forwarder hands each of the clone's executions to the caller's
  * listeners as registered when the execution ends, so a listener the
  * caller registers later still sees every plan the clone runs.
  */
object Interpreted {

  val WholeStageKey = "spark.sql.codegen.wholeStage"
  val FactoryModeKey = "spark.sql.codegen.factoryMode"

  def session(spark: SparkSession): SparkSession = {
    val clone = GraftSessionAccess.cloneOf(spark)
    clone.conf.set(WholeStageKey, "false")
    clone.conf.set(FactoryModeKey, "NO_CODEGEN")
    clone.listenerManager.clear()
    clone.listenerManager.register(new Forward(spark))
    clone
  }

  /** Calls every listener of `to` registered at the time of the event.
    * One listener's failure does not keep the event from the others;
    * the first is rethrown after all were called, so the listener bus
    * logs it as it would for the caller's own execution. */
  private final class Forward(to: SparkSession) extends QueryExecutionListener {
    private def each(f: QueryExecutionListener => Unit): Unit = {
      val failures = GraftSessionAccess.listenersOf(to).flatMap { l =>
        try { f(l); None } catch { case NonFatal(e) => Some(e) }
      }
      failures.headOption.foreach(throw _)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      each(_.onSuccess(funcName, qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      each(_.onFailure(funcName, qe, exception))
  }
}
