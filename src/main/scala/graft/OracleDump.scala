package graft
import java.nio.file.{Files, Paths}
/** Dump SparkEntry.oracleSql as JSON without starting Spark — lets the
  * builder (and the OracleBudgetSpec harness) time each oracle in DuckDB
  * directly instead of paying a full Verify run first. Verify writes its
  * oracle_sql.json through the same [[json]]. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    Files.writeString(Paths.get(out), json(SparkEntry.oracleSql))
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to $out")
  }

  /** `name -> sql` as one JSON object. Strings escape backslash, quote
    * and ALL control chars (<0x20) — a tab or CR in an oracle's SQL would
    * otherwise make the checker's json.load fail and silently zero the
    * correctness gate. */
  def json(oracles: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
