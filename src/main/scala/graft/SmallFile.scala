package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Whole-file UTF-8 reads and atomic publishes for the tables' small
  * control files (`_SCD_BUCKETS`, `_MANIFEST`, transaction pin files).
  * Parsing stays with each caller: the formats and their fallback rules
  * differ.
  */
private[graft] object SmallFile {

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      Iterator.continually(in.read(chunk)).takeWhile(_ >= 0)
        .foreach(n => buf.write(chunk, 0, n))
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** The file's text, or None when it is missing or unreadable. */
  def readIfPresent(fs: FileSystem, p: Path): Option[String] =
    try if (fs.exists(p)) Some(read(fs, p)) else None
    catch { case _: java.io.IOException => None }

  /** Publish `text` as `<dir>/<name>` atomically: write a unique temp file,
    * then rename it into place, so readers see the old complete file or
    * the new complete one. On stores whose rename refuses an existing
    * destination the old file is deleted and the rename retried; callers
    * must treat a missing file as "fall back", never as data.
    */
  def publish(fs: FileSystem, dir: String, name: String, text: String): Unit = {
    val dst = new Path(s"$dir/$name")
    val tmp = new Path(
      s"$dir/.${name}_tmp_${java.util.UUID.randomUUID().toString}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
    }
  }
}
