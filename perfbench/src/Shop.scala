package perfbench

import scala.collection.mutable

/** Deterministic order history of one shop for the incremental workload.
  *
  * The base history holds `baseOrders` orders whose `updated_at` spreads so
  * that about `replayShare` of a round's size falls in the last hour (the
  * late-data buffer). Round r changes `roundOrders` orders over the
  * following `RoundHours`: ~70% updates of existing orders, ~30% new ids,
  * and ~2% of the round's records followed a page or more later by a
  * conflicting copy. A sync sees every order whose latest version is at or
  * after its `updated_at_min`, ordered by (updated_at, id). */
final class Shop(seed: Long, baseOrders: Int, roundOrders: Int,
                 replayShare: Double = 0.05) {
  import Orders._

  val RoundHours = 20
  private val customers = math.max(10, baseOrders / 3)
  private val rnd = new scala.util.Random(seed)
  private val baseSpan: Long =
    math.max(3600L, (3600.0 * baseOrders / math.max(1.0, replayShare * roundOrders)).toLong)
  private val current = mutable.LongMap.empty[Order]

  (1 to baseOrders).foreach { i =>
    current(i.toLong) = newOrder(rnd, i.toLong, Epoch0 + (baseSpan * i) / baseOrders, customers)
  }
  private var nextId = baseOrders.toLong + 1
  private var clock = Epoch0 + baseSpan
  private var round = 0

  /** Base history as an arrival sequence (by id), with ~5% conflicting
    * copies a page or more later. */
  val base: Vector[Order] =
    withShadows(rnd, (1 to baseOrders).map(i => current(i.toLong)), 0.05, 2000)

  /** Advance one round; returns the sequence the endpoint serves. */
  def nextRound(): Vector[Order] = {
    round += 1
    val start = clock + 1
    clock = start + RoundHours * 3600L - 1
    val ids = current.keys.toArray
    val touched = mutable.LinkedHashSet.empty[Long]
    while (touched.size < roundOrders * 7 / 10) touched += ids(rnd.nextInt(ids.length))
    touched.foreach { id =>
      current(id) = update(rnd, current(id), start + rnd.nextInt(RoundHours * 3600))
    }
    (0 until roundOrders - touched.size).foreach { _ =>
      val id = nextId; nextId += 1
      current(id) = newOrder(rnd, id, start + rnd.nextInt(RoundHours * 3600), customers)
    }
    val latest = current.valuesIterator.toVector
      .sortBy(o => (o.updated, o.id))
    val firstNew = latest.indexWhere(_.updated >= start)
    val (old, fresh) = latest.splitAt(if (firstNew < 0) latest.size else firstNew)
    old ++ withShadows(rnd, fresh, 0.02, 300)
  }
}
