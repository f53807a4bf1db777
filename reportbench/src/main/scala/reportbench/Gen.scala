package reportbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One orders row as the generator makes it. Prices are whole cents
  * so that every expectation sums exactly; `ts` is the monotone commit
  * column in epoch nanos (micro-aligned, the pipeline's convention).
  */
final case class OrderRow(key: Long, custKey: Long, status: String, priceCents: Long,
    orderDay: Int, priority: String, ts: Long)

final case class CustomerRow(key: Long, nation: Int, acctbalCents: Long, segment: String)

/** What a delivered report (or a table snapshot) must hold: its row
  * count and the exact sum of `o_totalprice`, in cents.
  */
final case class Expect(rows: Long, priceCents: Long)

/** Seeded generator of the benchmark's inputs: the base `orders` and
  * `customer` tables (TPC-H shaped, sf0.1 sized) and the per-cycle
  * batches. Every batch is a pure function of (seed, cycle) plus, for
  * upserts, the key set the earlier batches left behind, so the same
  * seed always yields the same inputs.
  */
object Gen {
  val Orders = 150000
  val Customers = 15000
  val BatchRows = Orders / 100
  val Urgent = "1-URGENT"
  val Priorities = Vector(Urgent, "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Vector("O", "F", "P")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** Commit column of the base table: 2023-11-14T22:13:20Z in nanos. */
  val BaseTs = 1700000000L * 1000000000L
  /** 1992-01-01 .. 1998-08-02, the TPC-H order-date range, in epoch days. */
  private val FirstDay = 8035
  private val Days = 2405

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent stream per (seed, purpose, cycle). */
  def rng(seed: Long, stream: Long, cycle: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ cycle))

  def customer(seed: Long, key: Long): CustomerRow = {
    val r = rng(seed, 1, key)
    CustomerRow(key, r.nextInt(25), r.nextLong(-99999L, 999999L), Segments(r.nextInt(Segments.size)))
  }

  private[reportbench] def order(r: SplittableRandom, key: Long, ts: Long): OrderRow =
    OrderRow(key, r.nextInt(Customers).toLong, Statuses(r.nextInt(Statuses.size)),
      r.nextLong(85000L, 55000000L), FirstDay + r.nextInt(Days),
      Priorities(r.nextInt(Priorities.size)), ts)

  /** Rows are generated one key at a time, so any task can make any row. */
  def baseOrder(seed: Long, key: Long): OrderRow = order(rng(seed, 2, key), key, BaseTs)

  def baseOrders(seed: Long): IndexedSeq[OrderRow] = (0 until Orders).map(k => baseOrder(seed, k))

  /** Commit column of cycle `k`'s batch: one second per cycle. */
  def batchTs(k: Int): Long = BaseTs + k * 1000000000L

  /** Cycle `k`'s (k >= 1) batch for the append-only table: new keys only. */
  def appendBatch(seed: Long, k: Int): IndexedSeq[OrderRow] = {
    val r = rng(seed, 3, k)
    val first = Orders.toLong + (k - 1).toLong * BatchRows
    (0 until BatchRows).map(i => order(r, first + i, batchTs(k)))
  }

  /** Rows of `rows` the flagship report keeps (every customer key exists). */
  def reportOf(rows: Iterable[OrderRow]): Expect =
    rows.foldLeft(Expect(0, 0)) { (e, o) =>
      if (o.priority == Urgent) Expect(e.rows + 1, e.priceCents + o.priceCents) else e
    }
}

/** The upsert workload's table as the generator believes it to be:
  * key -> price. Each batch updates half its rows on existing keys
  * (skewed toward the most recent keys) and inserts the other half on
  * new keys; the model applies the batch to itself.
  */
final class UpsertModel(seed: Long) {
  import Gen._

  private val prices = mutable.LongMap.empty[Long]
  private var nextKey = 0L

  def load(rows: Iterable[OrderRow]): Unit = rows.foreach { o =>
    prices(o.key) = o.priceCents
    nextKey = math.max(nextKey, o.key + 1)
  }

  def batch(k: Int): IndexedSeq[OrderRow] = {
    val r = rng(seed, 4, k)
    val updates = BatchRows / 2
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < updates) {
      // u^4 puts the median update ~6% back from the newest key
      val u = r.nextDouble()
      val key = nextKey - 1 - (nextKey * u * u * u * u).toLong
      if (prices.contains(key)) keys += key
    }
    val updated = keys.toIndexedSeq.map(key => order(r, key, batchTs(k)))
    val inserted = (0 until BatchRows - updates).map(i => order(r, nextKey + i, batchTs(k)))
    val rows = updated ++ inserted
    load(rows)
    rows
  }

  def snapshot: Expect = Expect(prices.size.toLong, prices.valuesIterator.sum)
}
