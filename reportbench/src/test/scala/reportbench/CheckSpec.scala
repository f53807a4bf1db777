package reportbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

class CheckSpec extends AnyFunSuite {

  private val dir = Files.createDirectories(Paths.get("target", "checkspec"))
  private val rows = Gen.appendBatch(1, 1).filter(_.priority == Gen.Urgent)
  private val want = Gen.reportOf(rows)

  /** The report as Spark's CSV writer lays it out: header, then rows. */
  private def write(name: String, lines: Seq[String]): Path = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  private val header =
    "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority,ts,customer_name"

  private def line(o: OrderRow, price: String = null): String =
    Seq(o.key, o.custKey, o.status, Option(price).getOrElse((o.priceCents / 100.0).toString),
      "1995-01-01T00:00:00.000Z", o.priority, o.ts, f"Customer#${o.custKey}%09d").mkString(",")

  test("a faithful report passes") {
    assert(want.rows > 0)
    assert(Check.report(write("ok.csv", header +: rows.map(line(_))), want).isEmpty)
  }

  test("a corrupted price is caught") {
    val bad = rows.head.copy(priceCents = rows.head.priceCents + 1)
    val lines = header +: (line(bad) +: rows.tail.map(line(_)))
    assert(Check.report(write("price.csv", lines), want).exists(_.contains("expected")))
  }

  test("a dropped or duplicated row is caught") {
    assert(Check.report(write("drop.csv", header +: rows.tail.map(line(_))), want).nonEmpty)
    assert(Check.report(write("dup.csv", header +: (rows :+ rows.head).map(line(_))), want).nonEmpty)
  }

  test("a row outside the report's filter is caught") {
    val other = rows.head.copy(priority = "2-HIGH")
    val lines = header +: (line(other) +: rows.tail.map(line(_)))
    assert(Check.report(write("priority.csv", lines), want).exists(_.contains("priority")))
  }

  test("a truncated or missing report is caught") {
    assert(Check.report(write("cut.csv", Seq(header, line(rows.head).take(20))), want).nonEmpty)
    assert(Check.report(dir.resolve("absent.csv"), want).nonEmpty)
  }

  test("a snapshot that differs from the model is caught") {
    assert(Check.snapshot(Expect(10, 500), Expect(10, 500)).isEmpty)
    assert(Check.snapshot(Expect(10, 501), Expect(10, 500)).nonEmpty)
  }
}
