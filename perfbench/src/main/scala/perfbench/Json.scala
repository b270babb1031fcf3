package perfbench

import graft.util.Jsonl

/** JSON output for results and spans: objects are ordered key/value
  * sequences, values are strings, booleans, numbers or nested objects. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + Jsonl.esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in JSON output")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] => obj(kv.asInstanceOf[Seq[(String, Any)]])
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
