package reportbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def upserts(seed: Long, n: Int): Seq[IndexedSeq[OrderRow]] = {
    val m = new UpsertModel(seed)
    m.load(Gen.baseOrders(seed))
    (1 to n).map(m.batch)
  }

  test("the same seed gives the same tables and batches") {
    assert(Gen.baseOrders(7) == Gen.baseOrders(7))
    assert((0L until 100L).map(Gen.customer(7, _)) == (0L until 100L).map(Gen.customer(7, _)))
    assert((1 to 3).map(Gen.appendBatch(7, _)) == (1 to 3).map(Gen.appendBatch(7, _)))
    assert(upserts(7, 3) == upserts(7, 3))
  }

  test("another seed gives other inputs") {
    assert(Gen.baseOrders(7) != Gen.baseOrders(8))
    assert(Gen.appendBatch(7, 1) != Gen.appendBatch(8, 1))
    assert(upserts(7, 1) != upserts(8, 1))
  }

  test("append batches bring new keys and a later commit time each cycle") {
    val b1 = Gen.appendBatch(3, 1)
    val b2 = Gen.appendBatch(3, 2)
    assert(b1.size == Gen.BatchRows)
    assert(b1.map(_.key).min == Gen.Orders)
    assert(b2.map(_.key).min == b1.map(_.key).max + 1)
    assert(b1.forall(_.ts > Gen.BaseTs) && b2.head.ts > b1.head.ts)
  }

  test("upsert batches are half updates of existing keys, half inserts, keys distinct") {
    val m = new UpsertModel(5)
    m.load(Gen.baseOrders(5))
    val before = m.snapshot
    val b = m.batch(1)
    assert(b.map(_.key).distinct.size == b.size)
    assert(b.count(_.key < Gen.Orders) == Gen.BatchRows / 2)
    // skewed toward recent keys: most updates land in the newest quarter
    assert(b.count(o => o.key < Gen.Orders && o.key >= Gen.Orders * 3 / 4) > Gen.BatchRows / 4)
    assert(m.snapshot.rows == before.rows + Gen.BatchRows / 2)
  }

  test("the model's snapshot is the last price per key") {
    val m = new UpsertModel(9)
    val base = Gen.baseOrders(9)
    m.load(base)
    val b = m.batch(1)
    val latest = (base ++ b).groupBy(_.key).map(_._2.last.priceCents)
    assert(m.snapshot == Expect(latest.size.toLong, latest.sum))
  }
}
