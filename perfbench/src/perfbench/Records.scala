package perfbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Append-only JSON-lines file; each record is flushed as soon as it is
  * written, so a killed run keeps every record it finished. */
final class Records(path: String) {
  private val w = new PrintWriter(new OutputStreamWriter(
    new FileOutputStream(path, true), UTF_8), true)
  def append(rec: collection.Map[String, Any]): Unit = synchronized {
    w.println(Records.json.writeValueAsString(rec))
    w.flush()
  }
  def close(): Unit = w.close()
}

object Records {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit =
    json.writeValue(new java.io.File(path), v)

  /** One span tree per flow: `[{"pass":…,"flow":…,"spans":[…]}, …]`. */
  def writeSpans(path: String, flows: Seq[(Int, String, Seq[Span])]): Unit =
    writeJson(path, flows.map { case (pass, flow, spans) =>
      Map("pass" -> pass, "flow" -> flow, "spans" -> spans.map(s => Map(
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent)))
    })
}
