package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.DataFrame

/** The events-side workload over the vendored sf0.01 tables: an
  * analyst's pass over a query board, run in one shared session, then
  * the streaming folds over the same data's `events`.
  *
  * The board mixes the iterative family, whose driver-side eager jobs
  * dominate, with the Catalyst-kernel queries, where execution
  * dominates and the shared IVF cache is used for real (q231 and q241
  * share one entry). The seed permutes the order, so whichever of the
  * two comes first pays for the cache.
  */
object Board {
  val Queries: Seq[String] = Seq(
    "q138_kcore", "q203_bfs_hops", "q231_two_stage", "q241_probe_sweep", "q244_poisson_bootstrap")

  /** Query digests pinned from the seed commit over the vendored data. */
  def pinned(env: Env): Map[String, Long] =
    Files.readAllLines(env.dataDir.resolveSibling("digests.tsv"), StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap

  def order(seed: Long): Seq[String] =
    new scala.util.Random(new java.util.Random(seed)).shuffle(Queries)

  def setup(env: Env): Unit = StreamFold.setup(env)

  /** One pass over the board in seeded order. Returns (name, timing,
    * digest) per query; a failed query has no digest. */
  def pass(env: Env, afterQuery: () => Unit): Seq[(String, Timing, Option[Long])] = {
    import env.spark
    graft.ops.SharedCache.releaseAll()
    graft.ops.Checkpoints.releaseAll(spark)
    spark.catalog.clearCache()
    order(env.seed).map { name =>
      val (d, took) = Timing.of(try {
        Some(env.span(s"query.$name") {
          val df: DataFrame = env.span("query.eager")(SparkEntry.queries(name)(spark, env.dataDir.toString))
          env.span("query.final")(Util.digest(df))
        })
      } catch {
        case e: Exception => env.log(s"$name failed: $e"); None
      })
      afterQuery()
      (name, took, d)
    }
  }

  def run(env: Env, out: Outcome): Unit = {
    val pins = pinned(env)
    var cachePeak = 0L
    def sampleCache(): Unit = cachePeak = math.max(cachePeak,
      env.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    val t0 = Util.now()
    var round = 0
    while (round == 0 || Util.secs(t0) < env.seconds) {
      val qs = pass(env, () => sampleCache())
      qs.foreach { case (name, _, d) =>
        out.op(d.isDefined && d == pins.get(name), s"$name digest $d, pinned ${pins.get(name)}")
      }
      val deliveries = StreamFold.run(env, out)
      val q = qs.map(_._2)
      if (round == 0) {
        out.notes += qs.map { case (n, t, _) => f"${n.takeWhile(_ != '_')} ${t.wall}%.3f" }
          .mkString("query seconds: ", ", ", "")
        val (qw, dw) = (q.map(_.wall), deliveries.map(_.wall))
        out.metric("queries_s", qw.sum, "s")
        out.metric("query_p50_s", Util.median(qw), "s")
        out.metric("fold_s", dw.sum, "s")
        out.metric("batch_p50_s", Util.median(dw), "s")
        out.gate(q ++ deliveries, deliveries)
        out.notes += Util.tailNote("operation", qw ++ dw)
        out.notes += Util.tailNote("delivery", dw)
      }
      round += 1
    }
    out.notes += s"rounds=$round (figures are the first round's)"
    env.tracer.foreach(t => layers(env, t, out, cachePeak))
  }

  private def layers(env: Env, t: Tracer, out: Outcome, cachePeak: Long): Unit = {
    t.finish()
    val spans = t.all
    val queries = spans.filter(s => s.name.startsWith("query.q"))
    val passes = math.max(1, queries.size / Queries.size).toDouble
    def kids(s: Span, name: String) = spans.filter(k => k.parent == s.id && k.name == name)
    val eager = queries.flatMap(kids(_, "query.eager"))
    val fin = queries.flatMap(kids(_, "query.final"))
    val all = new SpanWork
    queries.foreach(s => all.add(t.totalWork(s.id)))
    val finWork = new SpanWork
    fin.foreach(s => finWork.add(t.totalWork(s.id)))
    val wall = queries.map(_.seconds).sum
    out.perLayer("query.eager_s", eager.map(_.seconds).sum / passes, "s")
    out.perLayer("query.eager_jobs", eager.map(s => t.totalWork(s.id).jobs).sum / passes, "count")
    out.perLayer("query.jobs", all.jobs / passes, "count")
    out.perLayer("query.plan_s", finWork.planNs / 1e9 / passes, "s")
    out.perLayer("query.exec_s", (fin.map(_.seconds).sum - finWork.planNs / 1e9) / passes, "s")
    out.perLayer("query.task_cpu_s", all.taskCpuNs / 1e9 / passes, "s")
    out.perLayer("query.slot_util", all.taskRunNs / 1e9 / (wall * env.cores), "count")
    out.perLayer("query.shuffle_write_mb", Util.mb(all.shuffleWriteBytes) / passes, "MB")
    out.perLayer("query.spill_mb", Util.mb(all.spillBytes) / passes, "MB")
    out.perLayer("cache.peak_mb", Util.mb(cachePeak), "MB")
    def q(name: String) = queries.filter(_.name.startsWith(s"query.$name"))
    def qWork(name: String) = { val w = new SpanWork; q(name).foreach(s => w.add(t.totalWork(s.id))); w }
    def qExec(name: String) = {
      val f = q(name).flatMap(kids(_, "query.final"))
      val w = new SpanWork
      f.foreach(s => w.add(t.totalWork(s.id)))
      (f.map(_.seconds).sum - w.planNs / 1e9) / passes
    }
    out.perLayer("q138.jobs", qWork("q138_").jobs / passes, "count")
    out.perLayer("q203.jobs", qWork("q203_").jobs / passes, "count")
    out.perLayer("q244.task_cpu_s", qWork("q244_").taskCpuNs / 1e9 / passes, "s")
    out.perLayer("q231.exec_s", qExec("q231_"), "s")
    out.perLayer("q241.exec_s", qExec("q241_"), "s")
    StreamFold.layers(t, out)
  }
}
