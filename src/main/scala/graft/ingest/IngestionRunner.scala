package graft.ingest

import java.sql.Timestamp
import java.time.LocalDate
import scala.util.{Success, Try}

/** Outcome of one table-load attempt (per-table failure isolation:
  * reference hospitalA_mysqlToLanding.py:249-251 catches, logs, and
  * `continue`s to the next table).
  */
final case class TableLoadResult(
    table: String,
    status: String, // "SUCCESS" | "FAILED"
    records: Long,
    error: Option[String])

/** Config-driven incremental loader (SURVEY §2.7 C3; reference
  * hospitalA_mysqlToLanding.py:141-196 extract, :236-257 main loop).
  *
  * Per table: archive prior landing files → extract (full, or
  * incremental rows past the audit watermark) → write JSON-lines to the
  * landing zone → one audit row. A failing table is audited FAILED and
  * does not stop the run.
  *
  * A full-load table whose source fingerprint
  * ([[SourceConnector.fingerprint]], under the current
  * [[LandingZone.Derivation]]) equals the one recorded in its landing
  * dir ([[LandingZone.landedSource]]) is skipped before the archive:
  * the snapshot it would land is already there. A skip is a
  * SUCCESS audit row with `record_count` 0 plus a `skip` event in
  * `pipeline_logs`. Incremental tables never consult a fingerprint
  * (their watermark already names what is new), and a source whose
  * fingerprint is None never skips.
  *
  * `run` loads a datasource's tables concurrently
  * ([[graft.ops.Concurrently]]: each load is a few small jobs, so side
  * by side they share the slots instead of queueing) and then appends
  * every table's audit row in ONE write — concurrent appends into the
  * audit directory would share its `_temporary` commit dir. Crash
  * window: a table whose landing files were published before a crash
  * that precedes the audit append has no audit row, so its watermark
  * has not moved and the next run re-extracts the same rows (the
  * landing archive keeps the earlier copy). `loadTable` called on its
  * own appends its single row the same way.
  *
  * Scale notes: the extract-to-landing path is a single distributed
  * read→write with the incremental predicate pushed into the scan
  * (SourceConnector.readIncremental); the reference's
  * `toPandas()`→local-file→upload driver bottleneck
  * (hospitalA_mysqlToLanding.py:177-185) is designed out. The audit
  * record_count and the reference's zero-row short-circuit (:171-175)
  * ride the write's own observe/CollectMetrics (ops/Observed) — ONE
  * scan of the source per load, not a count pass plus a write pass; a
  * zero-row extract rolls its empty output back so the landing
  * contract ("no file for an empty extract") is unchanged.
  */
final class IngestionRunner(
    spark: org.apache.spark.sql.SparkSession,
    source: SourceConnector,
    landing: LandingZone,
    audit: AuditLog,
    logger: PipelineLogger,
    clock: () => Timestamp) {

  private def incremental(entry: LoadConfigEntry): Boolean =
    entry.loadtype.equalsIgnoreCase("incremental")

  /** Load one table and append its audit row. */
  def loadTable(entry: LoadConfigEntry, runDate: LocalDate): TableLoadResult = {
    val (result, rec) =
      extract(entry, runDate, audit.latestWatermark(entry.datasource, entry.tablename))
    audit.append(rec)
    result
  }

  /** Archive, extract and land one table (an incremental one past
    * `since`, evaluated only then, inside the table's failure
    * isolation), unless it is a full load whose source is unchanged
    * since it was landed; returns its outcome and the audit row to
    * append. */
  private def extract(entry: LoadConfigEntry, runDate: LocalDate, since: => Timestamp)
      : (TableLoadResult, AuditRecord) = {
    val table = entry.tablename
    def outcome(status: String, n: Long, error: Option[String]) =
      (TableLoadResult(table, status, n, error),
        AuditRecord(entry.datasource, table, entry.loadtype, n, clock(), status))
    try {
      val fingerprint =
        if (incremental(entry)) None
        else source.fingerprint(spark, table)
          .map(f => graft.ops.Fingerprint.of(Seq(LandingZone.Derivation, f)))
      if (fingerprint.isDefined && fingerprint == landing.landedSource(entry.datasource, table)) {
        logger.info("Source unchanged since it was landed; landing kept", "skip", table)
        outcome("SUCCESS", 0L, None)
      } else {
        val archived = landing.archive(entry.datasource, table, runDate)
        if (archived == 0) logger.info("No existing files to archive", "archive", table)
        else logger.info(s"Archived $archived existing file(s)", "archive", table)

        logger.info("Starting extraction", "extract", table)
        val df =
          if (incremental(entry)) source.readIncremental(spark, table, entry.watermark, since)
          else source.read(spark, table)

        // ONE source scan: the row count rides the write itself
        // (observe/CollectMetrics — ops/Observed) instead of a separate
        // df.count() pass. The write is STAGED and only promoted when
        // non-empty, so the "no file for an empty extract" contract
        // holds in every crash interleaving (a crash before publish
        // leaves the table dir untouched).
        val (observed, obs) =
          graft.ops.Observed.rowStats(df, s"ingest_${entry.datasource}_$table")
        landing.writeStaged(observed, entry.datasource, table, fingerprint)
        val n = graft.ops.Observed.stageMetrics(obs)("n_rows")
        if (n == 0) {
          landing.discardStaged(entry.datasource, table)
          logger.log("WARNING", "No new records found", "extract", table)
        } else {
          landing.publishStaged(entry.datasource, table)
          logger.info(s"Data written to landing zone ($n rows)", "write", table)
        }
        outcome("SUCCESS", n, None)
      }
    } catch {
      case e: Exception =>
        logger.error("Extraction failed", "extract", table, e.toString)
        outcome("FAILED", 0L, Some(e.toString))
    }
  }

  /** The per-table loads over active config rows (:236-257), run
    * concurrently; results in config order, audit rows in one append.
    * The watermarks are read once, before the loads: the run appends
    * its audit rows only after every load has finished. A failed read
    * fails each incremental table, as a failed per-table read would. */
  def run(config: Seq[LoadConfigEntry], datasource: String, runDate: LocalDate)
      : Seq[TableLoadResult] = {
    logger.info("Pipeline started", "start")
    val entries = LoadConfig.active(config, datasource)
    val marks =
      if (entries.exists(incremental)) Try(audit.latestWatermarks(datasource))
      else Success(Map.empty[String, Timestamp])
    val loads = graft.ops.Concurrently.run(spark)(entries.map { e =>
      () => extract(e, runDate, marks.get.getOrElse(e.tablename, audit.DefaultWatermark))
    })
    audit.append(loads.map(_._2): _*)
    val results = loads.map(_._1)
    if (results.forall(_.status == "SUCCESS"))
      logger.success("Pipeline completed successfully", "end")
    else
      logger.log("WARNING", s"${results.count(_.status == "FAILED")} table(s) failed", "end")
    logger.flush()
    results
  }
}
