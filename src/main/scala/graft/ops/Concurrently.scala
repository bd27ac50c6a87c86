package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Run independent thunks — each one submitting a few small Spark
  * jobs, like one table's load or one mart's write — side by side, so
  * their jobs share the executor slots instead of queueing behind one
  * another's fixed cost.
  *
  * Contract:
  *  - at most `defaultParallelism` thunks run at once;
  *  - the worker threads are started by the calling thread, so they
  *    inherit its Spark local properties (job group, scheduler pool,
  *    any tag a caller sets) and its active session;
  *  - results come back in submission order;
  *  - a failure never cancels the others: every thunk runs to the end
  *    (no write is left half-done), then the first failure in
  *    submission order is rethrown, with the later ones attached as
  *    suppressed exceptions.
  */
object Concurrently {

  def run[T](spark: SparkSession)(tasks: Seq[() => T]): Seq[T] = {
    val todo = tasks.toIndexedSeq
    val done = new Array[Either[Throwable, T]](todo.size)
    val next = new AtomicInteger()
    val width = math.min(todo.size, spark.sparkContext.defaultParallelism)
    val workers = Seq.tabulate(width) { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < todo.size) {
          done(i) = try Right(todo(i)()) catch { case e: Throwable => Left(e) }
          i = next.getAndIncrement()
        }
      }, s"graft-concurrently-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join()) // join orders every `done` write before the reads below
    done.collect { case Left(e) => e }.toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => done.toSeq.collect { case Right(v) => v }
    }
  }
}
