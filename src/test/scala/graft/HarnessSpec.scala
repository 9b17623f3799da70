package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.DumpOracles

/** Structural guards for the harness: one oracle-JSON writer whose
  * output any JSON parser reads back verbatim, and one session factory
  * ([[Graft]]) behind every entry point.
  */
class HarnessSpec extends AnyFunSuite {

  private def parse(json: String): Seq[(String, String)] =
    new ObjectMapper()
      .readValue(json, classOf[java.util.LinkedHashMap[String, String]])
      .asScala.toSeq

  test("oracle JSON writer round-trips quotes, controls and non-ASCII") {
    val entries = Seq(
      "q_\"quoted\"" -> "SELECT 'a\\b' AS \"x\"",
      "tab\tkey" -> "line1\r\nline2\ttabbed",
      "ctl\u0001" -> "\u0000\u0001\u001f",
      "sep\u2028" -> "para\u2029 ünïcødé 日本語 🚀")
    val json = DumpOracles.jsonObject(entries)
    assert(!json.exists(_ < ' '), "raw control character in the output")
    assert(parse(json) == entries)
  }

  test("oracle_sql.json parses back to exactly SparkEntry.oracleSql") {
    val out = Files.createTempFile("oracle_sql", ".json")
    try {
      DumpOracles.write(out.toString, None)
      assert(parse(Files.readString(out)).toMap == SparkEntry.oracleSql)
    } finally Files.delete(out)
  }

  test("sessions are built only in Graft.scala") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val hits = scala.util.Using.resource(Files.walk(Paths.get("src"))) {
      _.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter((p: Path) => Files.readString(p).contains(needle))
        .map(_.toString).toSeq.sorted
    }
    assert(hits == Seq("src/main/scala/graft/Graft.scala"))
  }
}
