package layerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** Append-only JSON-lines sink for the raw measurements; `run.py`
  * turns them into metrics. Writes come from the main thread and from
  * Spark's listener threads, hence the lock.
  */
final class Records(path: Path) {
  private val json = new ObjectMapper
  private val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)

  /** Writes one record, its fields in the order given. */
  def write(fields: (String, Any)*): Unit = {
    val record = new java.util.LinkedHashMap[String, Any]
    fields.foreach { case (k, v) => record.put(k, v) }
    val line = json.writeValueAsString(record)
    synchronized {
      w.write(line)
      w.write('\n')
    }
  }

  def close(): Unit = synchronized(w.close())
}
