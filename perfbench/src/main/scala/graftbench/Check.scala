package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks against the generator's oracle. */
object Check {
  type Windows = Map[(Long, String, String), (Long, Long)]

  def windowsOf(rows: Seq[Row]): Windows = rows.map { r =>
    (r.getAs[Long]("ws"), r.getAs[String]("protocol"),
      r.getAs[String]("event_type")) ->
      (r.getAs[Long]("n"), r.getAs[Long]("amount_sum"))
  }.toMap

  def windowsOf(df: DataFrame): Windows = windowsOf(df.collect().toSeq)

  /** Every difference between produced and expected metric rows, as
    * readable lines (empty when they agree). */
  def windows(actual: Windows, expected: Windows): Seq[String] =
    (actual.keySet ++ expected.keySet).toSeq.sorted.flatMap { k =>
      (actual.get(k), expected.get(k)) match {
        case (a, e) if a == e => None
        case (a, e) => Some(s"window $k: got ${a.getOrElse("-")}, " +
          s"expected ${e.getOrElse("-")}")
      }
    }

  def count(what: String, actual: Long, expected: Long): Seq[String] =
    if (actual == expected) Nil
    else Seq(s"$what: got $actual, expected $expected")

  /** A deliberately wrong expectation: one window's count off by one. */
  def perturbed(w: Windows): Windows = {
    val (k, (n, s)) = w.head
    w.updated(k, (n + 1, s))
  }

  /** The check must reject a wrong expectation: confirm [[windows]]
    * reports the [[perturbed]] one. Returns false when the gate would have
    * passed a wrong answer. */
  def selfTest(actual: Windows, expected: Windows): Boolean =
    expected.nonEmpty && windows(actual, perturbed(expected)).nonEmpty
}
