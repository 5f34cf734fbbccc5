package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** A JSON-lines record file for the mains (Bench's `bench_rows.jsonl`,
  * Verify's `verify_rows.jsonl`). Each row is flushed the moment it is
  * written, so a JVM that dies mid-suite (heartbeat self-kill, OOM-kill,
  * SIGKILL) still leaves a parseable record of every row that finished.
  * A file that cannot be opened or written costs the record, never the
  * run: the failure is logged once and rows are dropped.
  */
final class JsonLines(path: Path) {
  private val out: Option[java.io.Writer] =
    try {
      if (path.getParent != null) Files.createDirectories(path.getParent)
      Some(Files.newBufferedWriter(path, UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"WARN cannot open $path: $e"); None
    }

  def emit(line: String): Unit = out.foreach { w =>
    try { w.write(line); w.write("\n"); w.flush() }
    catch { case _: Throwable => () }
  }

  def close(): Unit = out.foreach(w => try w.close() catch { case _: Throwable => () })
}

object JsonLines {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL, a path
    * or an exception message would otherwise make the reader's
    * `json.load` fail and silently zero the record.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
