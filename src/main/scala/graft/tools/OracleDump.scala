package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps SparkEntry.oracleSql as JSON to the path in args(0) (default
  * /tmp/oracle_sql.json) WITHOUT starting a Spark session — for quick
  * DuckDB-side syntax/plan checks of oracle edits while a benchmark owns
  * the box. Verify writes its `oracle_sql.json` through the same
  * [[write]]. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    write(out)
    println(s"wrote ${graft.SparkEntry.oracleSql.size} oracle entries to $out")
  }

  def write(out: String): Unit = {
    val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",\n", "}")
    Files.write(Paths.get(out), json.getBytes("UTF-8"))
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * tools/check.py's json.loads fail and silently zero the round's
    * correctness. The one escaper for every JSON the harness writes. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
