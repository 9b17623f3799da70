package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait TestSparkSession extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSparkSession.session
  val sfDir = "/root/testdata/sf0.001"
}

object TestSparkSession {
  lazy val session: SparkSession = {
    val s = Graft.harness(4)
    s.sparkContext.setLogLevel("ERROR")
    // SQL-name registration must not depend on which suite runs first
    Graft.attach(s)
    s
  }
}
