package graftbench

import java.nio.file.{Files, Paths}

/** Writes every `SparkEntry.oracleSql` entry, fixture placeholders intact,
  * to one JSON file. run.py calls it once per build: assembling the map
  * takes seconds, which a run should not pay.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(args(0)), json)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
