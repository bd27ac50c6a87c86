package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe write-temp-then-swap for parquet table directories —
  * shared by the streaming state layer (`graft.streaming.ParquetState`:
  * every whole-state streaming twin's fold, the SCD2 streaming target
  * of StreamingIngest and StreamingRollingMau's counts), the health
  * medallion's silver/gold publishes (HealthPipeline) and the landing
  * zone's staged-extract promotion (LandingZone, `publish` only).
  *
  * The swap itself (delete dst → rename tmp over it) has an
  * unavoidable window on filesystems without atomic directory
  * replace: a crash AFTER the delete but BEFORE the rename leaves the
  * table missing while the fully-committed temp survives. Without
  * recovery, the next run would treat the table as absent — an SCD2
  * merge would silently bootstrap EMPTY and discard all accumulated
  * history. `recover` closes the window: the temp dir is only ever
  * renamed over dst after its write job committed (parquet's
  * `_SUCCESS` marker), so "dst missing + committed tmp present" is
  * unambiguous evidence of an interrupted swap, and finishing the
  * rename restores exactly the table the interrupted run had already
  * merged. Callers run `recover` before every read-or-swap of the
  * table (cheap: two metadata probes).
  *
  * Every caller passes a handle from [[LocalFs.fsOf]] and writes the
  * temp dir through [[LocalFs.write]], so on the local filesystem a
  * recovery or publish that falls back to a copy forks no `chmod`.
  */
object TableSwap {

  /** Temp path convention for `dst`. */
  def tmpPath(dst: String): Path = new Path(dst + "__swap_tmp")

  /** Finish an interrupted swap if (and only if) the evidence is
    * unambiguous: `dst` missing, `tmp` present with a committed
    * `_SUCCESS` marker. Returns true if a recovery rename happened. */
  def recover(fs: FileSystem, dst: Path, tmp: Path): Boolean =
    if (!fs.exists(dst) && fs.exists(new Path(tmp, "_SUCCESS"))) {
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"swap recover: rename $tmp -> $dst failed")
      true
    } else false

  /** Publish a fully-written `tmp` over `dst` (delete → rename). The
    * caller must have finished writing `tmp` (the write job committed)
    * before calling. */
  def publish(fs: FileSystem, dst: Path, tmp: Path): Unit = {
    if (fs.exists(dst) && !fs.delete(dst, true))
      throw new java.io.IOException(s"swap: delete $dst failed")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"swap: rename $tmp -> $dst failed")
  }
}
