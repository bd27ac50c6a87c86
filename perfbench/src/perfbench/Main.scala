package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --dir WORK --data SF_DIR`. Prints the metrics by name and unit, then,
  * as the last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics when
  * untraced, the per-layer metrics when traced). A traced run also
  * writes its spans to `WORK/trace.jsonl`.
  */
object Main {

  /** Set-up is repeated this many times per run and its median reported. */
  val SetupReps = 3

  val Workloads: Seq[String] = Seq("medallion", "board")

  /** Every per-layer metric, in report order. A traced run reports all
    * of them; a layer the workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.busy_s" -> "s", "ingest.jobs" -> "count", "ingest.rows_landed" -> "count",
    "ingest.output_mb" -> "MB", "ingest.failed_tables" -> "count",
    "bronze.busy_s" -> "s", "bronze.output_mb" -> "MB",
    "silver.busy_s" -> "s", "silver.jobs" -> "count", "silver.shuffle_write_mb" -> "MB",
    "silver.spill_mb" -> "MB", "silver.rows_changed" -> "count",
    "silver.rows_written_per_changed" -> "count",
    "gold.busy_s" -> "s", "gold.task_cpu_s" -> "s", "gold.join_rows" -> "count",
    "gold.rows_out" -> "count", "gold.join_yield" -> "count", "gold.spill_mb" -> "MB",
    "query.eager_s" -> "s", "query.eager_jobs" -> "count", "query.jobs" -> "count",
    "query.plan_s" -> "s", "query.exec_s" -> "s", "query.task_cpu_s" -> "s",
    "query.slot_util" -> "count", "query.shuffle_write_mb" -> "MB", "query.spill_mb" -> "MB",
    "cache.peak_mb" -> "MB",
    "q138.jobs" -> "count", "q203.jobs" -> "count", "q244.task_cpu_s" -> "s",
    "q231.exec_s" -> "s", "q241.exec_s" -> "s",
    "stream.hll.busy_s" -> "s", "stream.uplift.busy_s" -> "s",
    "stream.jobs_per_delivery" -> "count", "stream.output_mb_per_delivery" -> "MB",
    "stream.state_mb" -> "MB", "stream.marker_rows" -> "count", "stream.dup_skip_rate" -> "count",
    "host.sentinel_s" -> "s", "trace.overhead" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dir = Paths.get(need("dir")).toAbsolutePath
    val data = Paths.get(need("data")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(dir)

    val (spark, sessionT) = Timing.of(session(cores, dir))
    val tracer = if (trace) Some(new Tracer(spark, s"$workload-$seed")) else None
    val env = new Env(spark, seed, seconds, tracer, dir, data, cores)
    val out = new Outcome

    val setups = (1 to SetupReps).map { _ =>
      Timing.of(workload match {
        case "medallion" => Medallion.setup(env)
        case "board" => Board.setup(env)
      })._2
    }
    val r0 = Util.now()
    env.span(s"workload.$workload") {
      workload match {
        case "medallion" => Medallion.run(env, out)
        case "board" => Board.run(env, out)
      }
    }
    val runS = Util.secs(r0)
    val probeS = probe(spark, dir)

    out.metric("fail_rate", out.failed.toDouble / math.max(1, out.attempted), "count")
    out.perLayer("host.sentinel_s", probeS, "s")
    tracer.foreach { t =>
      t.finish()
      val top = t.all.filter(_.parent == 0)
      val selfSum = t.all.map(t.selfSeconds).sum
      out.perLayer("trace.overhead", t.overheadSeconds / runS, "count")
      out.notes += f"trace: ${t.all.size} spans; top-level span ${top.map(_.seconds).sum}%.3f s, " +
        f"summed self time $selfSum%.3f s, run $runS%.3f s, tracer's own time ${t.overheadSeconds}%.3f s"
      out.notes += t.all.groupBy(s => if (s.name.startsWith("query.q")) "query.<name>" else s.name)
        .map { case (n, ss) => n -> ss.map(t.selfSeconds).sum }.toSeq.sortBy(-_._2)
        .map { case (n, v) => f"$n $v%.3f" }.mkString("self seconds by span: ", ", ", "")
      Files.write(dir.resolve("trace.jsonl"),
        t.toJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      t.stop()
    }

    val setupS = sessionT.adjusted + Util.median(setups.map(_.adjusted))
    out.notes += f"cores=$cores session_s=${sessionT.wall}%.3f " +
      f"setup_reps_s=${setups.map(x => f"${x.wall}%.3f").mkString("/")} " +
      f"host_probe_s=$probeS%.4f run_s=$runS%.3f"
    val gated = Seq("setup_s", "total_s", "op_p50_s").zip(Seq(setupS, out.totalS, out.opP50S))
      .map { case (k, v) => k -> (v, "s") }
    val unknown = out.layer.keys.filterNot(PerLayer.map(_._1).contains)
    require(unknown.isEmpty, s"per-layer metrics missing from PerLayer: $unknown")
    val layers = PerLayer.map { case (k, u) => k -> (out.layer.get(k).map(_._1).getOrElse(0.0), u) }
    out.notes.foreach(n => println(s"# $n"))
    (out.metrics.toSeq ++ gated ++ (if (trace) layers else Nil)).foreach { case (k, (v, u)) =>
      println(f"$k%-32s $v%14.4f $u")
    }
    val shown = if (trace) layers else gated
    val metrics = shown.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    spark.stop()
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{${metrics.mkString(",")}}}""")
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed Spark probe of the host: a 97-group aggregation over 200k
    * generated rows, a parquet write of a tenth of them and a grouped
    * read back, through Spark APIs only, so no change to the program
    * moves it. Run after the workload: one discarded repetition, then
    * the median of 3. */
  def probe(spark: SparkSession, dir: Path): Double = {
    import org.apache.spark.sql.functions._
    val out = dir.resolve("probe").toString
    def once(): Double = Util.timed {
      val df = spark.range(0, 200000L, 1, 4)
        .select(col("id"), (col("id") % 97).as("k"), xxhash64(col("id")).as("h"))
      df.groupBy("k").agg(sum("h"), count(lit(1))).collect()
      df.filter(col("k") < 10).write.mode("overwrite").parquet(out)
      spark.read.parquet(out).groupBy((col("k") % 3).as("g")).count().collect()
    }._2
    once()
    Util.median((1 to 3).map(_ => once()))
  }
}
