package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.health.HealthPipeline

/** Determinism self-check of the benchmark's own inputs and outputs:
  * the same seed gives byte-identical medallion fixtures, identical
  * batch cuts, delivery and query order, and identical silver and gold
  * checksums after a full load; a different seed gives different
  * fixtures and cuts. Exits non-zero on the first difference.
  *
  * Usage: perfbench.SelfCheck --seed N --dir WORK --data SF_DIR
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val seed = opts("seed").toLong
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), dir)
    def env(s: Long, sub: String) =
      new Env(spark, s, 0, None, dir.resolve(sub), Paths.get(opts("data")).toAbsolutePath, 1)
    var ok = true
    def expect(cond: Boolean, what: String): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }

    val (a, b, c) = (env(seed, "a"), env(seed, "b"), env(seed + 1, "c"))
    Seq(a, b, c).foreach(Medallion.setup)
    expect(fileHashes(a.dir) == fileHashes(b.dir), s"seed $seed: fixtures byte-identical")
    expect(fileHashes(a.dir) != fileHashes(c.dir), s"seed ${seed + 1}: fixtures differ")

    Seq(a, b, c).foreach(StreamFold.setup)
    def cuts(e: Env) = (0L until StreamFold.Batches).map(i => Util.digest(StreamFold.batch(e, i)))
    expect(cuts(a) == cuts(b), s"seed $seed: batch cuts identical")
    expect(cuts(a) != cuts(c), s"seed ${seed + 1}: batch cuts differ")
    expect(StreamFold.deliveries(seed) == StreamFold.deliveries(seed), s"seed $seed: delivery order identical")
    expect(Board.order(seed) == Board.order(seed), s"seed $seed: query order identical")
    expect(Board.order(seed) != Board.order(seed + 1), s"seed ${seed + 1}: query order differs")

    def fullLoad(e: Env): Seq[Long] = {
      val src = e.dir.resolve("fixtures/day-0").toString
      val pipe = new HealthPipeline(spark, src, s"$src/load_config.csv",
        e.dir.resolve("work").toString, () => MedallionGen.clock(0))
      pipe.run(MedallionGen.runDate(0), retryDelayMs = 0)
      Seq("patients", "encounters", "transactions", "claims", "cpt_codes").map(t =>
        Util.digest(pipe.silver(t))) ++
        Seq("provider_charge_summary", "patient_history", "provider_performance",
          "department_performance").map(t => Util.digest(pipe.gold(t)))
    }
    expect(fullLoad(a) == fullLoad(b), s"seed $seed: silver and gold checksums identical")
    spark.stop()
    Util.deleteTree(dir)
    if (!ok) sys.exit(1)
  }

  /** SHA-256 of every file under `root/fixtures`, by relative path. */
  private def fileHashes(root: Path): Map[String, String] = {
    val base = root.resolve("fixtures")
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      base.relativize(p).toString ->
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
  }
}
