package graft.tools

import java.nio.file.{Files, Paths}

/** The one oracle-JSON writer: `oracle_sql.json` for Verify, failure
  * manifests, and this main, which writes SparkEntry.oracleSql without
  * running any query — lets a multi-pass scale sweep (sf100 runs Verify
  * in chunks to bound heap/disk) assemble ONE oracle file covering every
  * dumped result, instead of whichever subset the last Verify pass
  * filtered.
  * Usage: runMain graft.tools.DumpOracles <outFile> [namesCsv]
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    write(out, args.lift(1).map(_.split(",").map(_.trim).toSet))
    println(s"wrote $out")
  }

  /** Oracle SQL of the queries in `only` (every query when None). */
  def write(out: String, only: Option[Set[String]]): Unit =
    Files.writeString(Paths.get(out), jsonObject(graft.SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }))

  /** A flat JSON object of string keys to string values. */
  def jsonObject(entries: Iterable[(String, String)]): String =
    entries.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ",", "}")

  /** JSON string literal: quote, backslash and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
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
