package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON writer for the harness records, plus config reading. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def str(s: String): String = mapper.writeValueAsString(s)

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${encode(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Append-only JSONL writer. */
  final class Lines(path: String) {
    private val w = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(new java.io.FileOutputStream(path, true), "UTF-8"))
    def write(fields: (String, Any)*): Unit = synchronized {
      w.println(encode(scala.collection.immutable.ListMap(fields: _*)))
      w.flush()
    }
    def close(): Unit = w.close()
  }
}
