package reportbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Correctness checks on what a cycle delivered, run outside the timer
  * and independent of Spark: the report is read back as plain text.
  */
object Check {

  /** None when the CSV report at `path` holds exactly `want` — the row
    * count and the DECIMAL sum of `o_totalprice` — with every row a
    * `1-URGENT` order; otherwise the reason it does not.
    */
  def report(path: Path, want: Expect): Option[String] =
    try {
      val lines = Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      if (lines.isEmpty) return Some(s"$path is empty")
      val header = lines.head.split(",", -1)
      val price = header.indexOf("o_totalprice")
      val priority = header.indexOf("o_orderpriority")
      if (price < 0 || priority < 0) return Some(s"$path lacks o_totalprice/o_orderpriority")
      var cents = 0L
      var rows = 0L
      for (line <- lines.iterator.drop(1) if line.nonEmpty) {
        val f = line.split(",", -1)
        if (f.length != header.length) return Some(s"row ${rows + 1} has ${f.length} fields")
        if (f(priority) != Gen.Urgent) return Some(s"row ${rows + 1} has priority ${f(priority)}")
        cents += new JBigDecimal(f(price)).setScale(2, RoundingMode.HALF_UP).unscaledValue.longValueExact
        rows += 1
      }
      val got = Expect(rows, cents)
      if (got == want) None else Some(s"report holds $got, expected $want")
    } catch {
      case NonFatal(e) => Some(s"unreadable report $path: $e")
    }

  /** None when a table snapshot matches the generator's own model. */
  def snapshot(got: Expect, want: Expect): Option[String] =
    if (got == want) None else Some(s"snapshot holds $got, expected $want")
}
