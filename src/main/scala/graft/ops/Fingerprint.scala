package graft.ops

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}

/** Content fingerprints, and the marker files that record them beside
  * the data they describe.
  *
  * A fingerprint is a SHA-256 hex digest, computed on the driver, of
  * what a step reads: the bytes of its source files, or strings that
  * name its inputs. A step writes the fingerprint of its inputs into a
  * marker file in its output directory, so that the marker commits
  * with that output; the next run compares a fresh fingerprint with
  * the marker and skips the step when they match. Marker names start
  * with `_`, so Spark's file index and [[LocalFs.parquet]] skip them.
  */
object Fingerprint {

  /** A landing or bronze dir's marker: the fingerprint of the source
    * files it was loaded from. */
  val SourceMarker = "_source"

  /** A silver table's marker: the fingerprint of the inputs it was
    * derived from. */
  val InputsMarker = "_inputs"

  private def sha256 = MessageDigest.getInstance("SHA-256")

  // each part is length-prefixed, so two different part lists never
  // hash the same byte stream
  private def length(md: MessageDigest, n: Long): Unit =
    md.update(ByteBuffer.allocate(8).putLong(n).array())

  private def hex(md: MessageDigest): String = md.digest().map(b => f"$b%02x").mkString

  /** The fingerprint of a list of strings. */
  def of(parts: Seq[String]): String = {
    val md = sha256
    parts.foreach { p =>
      val b = p.getBytes(StandardCharsets.UTF_8)
      length(md, b.length)
      md.update(b)
    }
    hex(md)
  }

  /** The fingerprint of `files`' bytes, each under a label that says
    * what the file means to its reader (its name, say). None when a
    * path is not a file. */
  def files(fs: FileSystem, files: Seq[(String, Path)]): Option[String] = {
    val statuses = files.map { case (_, p) => Try(fs.getFileStatus(p)).toOption.filter(_.isFile) }
    if (files.isEmpty || statuses.exists(_.isEmpty)) None
    else {
      val md = sha256
      val buf = new Array[Byte](1 << 16)
      files.zip(statuses.flatten).foreach { case ((label, _), status) =>
        val l = label.getBytes(StandardCharsets.UTF_8)
        length(md, l.length)
        md.update(l)
        length(md, status.getLen)
        val in = fs.open(status.getPath)
        try Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(md.update(buf, 0, _))
        finally in.close()
      }
      Some(hex(md))
    }
  }

  /** The fingerprint (or other UTF-8 text) recorded in `dir`'s marker
    * `name`, if any. */
  def read(fs: FileSystem, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    }
  }

  /** Record `fingerprint` (or other UTF-8 text) in `dir`'s marker
    * `name`. */
  def write(fs: FileSystem, dir: String, name: String, fingerprint: String): Unit = {
    val out = fs.create(new Path(dir, name), true)
    try out.write(fingerprint.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
