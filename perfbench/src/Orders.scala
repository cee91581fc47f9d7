package perfbench

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import scala.collection.mutable

/** Seeded Shopify-style order documents (the raw shape of FIXTURES §A.1)
  * and an independent plain-Scala model of the warehouse state the
  * pipeline must reach after a sequence of syncs. */
object Orders {

  final case class Item(product: Option[Long], variant: Option[Long],
                        name: String, priceCents: Long, qty: Int, vendor: String)

  final case class Order(id: Long, created: Long, updated: Long,
                         customer: Option[Long], financial: Option[String],
                         fulfillment: Option[String], source: Option[String],
                         items: Vector[Item], ship: Boolean,
                         discounts: Option[Vector[(String, Long)]],
                         adjustCents: Long) {
    def subtotalCents: Long = items.map(i => i.priceCents * i.qty).sum
    def discountCents: Long = discounts.map(_.map(_._2).sum).getOrElse(0L)
    def taxCents: Long = subtotalCents * 8 / 100
    def totalCents: Long = subtotalCents - discountCents + taxCents + adjustCents

    lazy val json: String = render(this)
  }

  private val Products = Vector("Widget", "Gadget", "Sprocket", "Flange",
    "Bracket", "Valve", "Gear", "Spring", "Lever", "Pulley", "Bearing", "Nozzle")
  private val Vendors = Vector("Acme", "Globex", "Initech", "Umbrella", "Hooli")
  private val Financial = Vector("paid", "pending", "refunded", "authorized")
  private val Fulfillment = Vector("fulfilled", "partial", "unfulfilled")
  private val Sources = Vector("web", "pos", "mobile", "api")
  private val Cities = Vector("Springfield", "Rivertown", "Lakeside", "Hillview")

  /** Base time of every generated timeline: 2024-03-01T00:00:00Z. */
  val Epoch0: Long = 1709251200L

  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'")
    .withZone(ZoneOffset.UTC)
  def iso(epochSec: Long): String = IsoFmt.format(Instant.ofEpochSecond(epochSec))

  private def money(cents: Long): String = {
    val sign = if (cents < 0) "-" else ""
    val a = math.abs(cents)
    f"$sign${a / 100}.${a % 100}%02d"
  }

  def newItem(rnd: scala.util.Random): Item = {
    val p = 1L + rnd.nextInt(5000)
    // ~2% of line items miss their product/variant ids (FIXTURES §A.1)
    val missing = rnd.nextInt(50) == 0
    Item(if (missing) None else Some(p),
      if (missing) None else Some(p * 10 + rnd.nextInt(4)),
      Products(rnd.nextInt(Products.size)), 100L + rnd.nextInt(20000),
      1 + rnd.nextInt(4), Vendors(rnd.nextInt(Vendors.size)))
  }

  /** One order with the edge cases FIXTURES §A.1 asks for: missing
    * customer, shipping address, discount codes, status fields, line-item
    * ids, and duplicate composite line-item keys inside one order. */
  def newOrder(rnd: scala.util.Random, id: Long, updated: Long,
               customers: Int): Order = {
    val n = 1 + rnd.nextInt(5)
    val base = Vector.fill(n)(newItem(rnd))
    // ~3% repeat a line-item key inside the order (composite-key dedup)
    val items = if (rnd.nextInt(33) == 0) base :+ base.head.copy(qty = 9) else base
    def opt[T](pMissing: Int, v: => T): Option[T] =
      if (rnd.nextInt(pMissing) == 0) None else Some(v)
    Order(id, created = updated - rnd.nextInt(86400 * 3), updated = updated,
      customer = opt(30, 1L + rnd.nextInt(customers)),
      financial = opt(30, Financial(rnd.nextInt(Financial.size))),
      fulfillment = opt(30, Fulfillment(rnd.nextInt(Fulfillment.size))),
      source = opt(30, Sources(rnd.nextInt(Sources.size))),
      items = items, ship = rnd.nextInt(20) != 0,
      discounts = if (rnd.nextInt(3) == 0)
        Some(Vector(s"SAVE${1 + rnd.nextInt(30)}" -> (100L + rnd.nextInt(900))))
      else None,
      adjustCents = 0L)
  }

  /** An update of `o` at time `updated`: new totals, usually an added line
    * item, sometimes a new discount code. */
  def update(rnd: scala.util.Random, o: Order, updated: Long): Order = {
    val items = if (rnd.nextInt(4) != 0) o.items :+ newItem(rnd) else o.items
    val disc = if (rnd.nextInt(3) == 0)
      Some(o.discounts.getOrElse(Vector.empty) :+
        (s"UPD${updated % 997}" -> (50L + rnd.nextInt(500))))
    else o.discounts
    o.copy(updated = updated, items = items, discounts = disc,
      adjustCents = rnd.nextInt(2000) - 1000,
      financial = o.financial.map(_ => Financial(rnd.nextInt(Financial.size))))
  }

  /** A conflicting copy of `o` that a paginated API can return on a later
    * page; first-wins dedup must keep the earlier copy. */
  def shadow(o: Order): Order = o.copy(adjustCents = o.adjustCents + 777)

  private def q(sb: java.lang.StringBuilder, k: String, v: String): Unit =
    sb.append('"').append(k).append("\":\"").append(v).append('"')

  private def render(o: Order): String = {
    val sb = new java.lang.StringBuilder(600)
    sb.append("{\"id\":").append(o.id).append(',')
    q(sb, "created_at", iso(o.created)); sb.append(',')
    q(sb, "updated_at", iso(o.updated)); sb.append(',')
    q(sb, "processed_at", iso(o.created + 5)); sb.append(',')
    q(sb, "subtotal_price", money(o.subtotalCents)); sb.append(',')
    q(sb, "total_price", money(o.totalCents)); sb.append(',')
    q(sb, "total_tax", money(o.taxCents))
    o.financial.foreach { v => sb.append(','); q(sb, "financial_status", v) }
    o.fulfillment.foreach { v => sb.append(','); q(sb, "fulfillment_status", v) }
    sb.append(','); q(sb, "currency", "USD")
    o.source.foreach { v => sb.append(','); q(sb, "source_name", v) }
    o.customer.foreach { c =>
      sb.append(",\"customer\":{\"id\":").append(c).append(',')
      q(sb, "email", s"c$c@example.com"); sb.append(',')
      q(sb, "created_at", iso(Epoch0 - 86400L * (c % 700))); sb.append(',')
      q(sb, "first_name", s"F$c"); sb.append(','); q(sb, "last_name", s"L${c % 97}")
      sb.append(','); q(sb, "phone", s"+1555${c % 10000}")
      sb.append(",\"verified_email\":").append(c % 3 != 0)
      sb.append(",\"accepts_marketing\":").append(c % 2 == 0).append('}')
    }
    sb.append(",\"line_items\":[")
    var first = true
    o.items.foreach { i =>
      if (!first) sb.append(','); first = false
      sb.append('{')
      i.product.foreach(p => sb.append("\"product_id\":").append(p).append(','))
      i.variant.foreach(v => sb.append("\"variant_id\":").append(v).append(','))
      q(sb, "name", i.name); sb.append(','); q(sb, "price", money(i.priceCents))
      sb.append(",\"quantity\":").append(i.qty).append(',')
      q(sb, "vendor", i.vendor); sb.append('}')
    }
    sb.append(']')
    if (o.ship) {
      sb.append(",\"shipping_address\":{")
      q(sb, "first_name", "Ada"); sb.append(','); q(sb, "last_name", s"L${o.id % 89}")
      sb.append(','); q(sb, "address1", s"${o.id % 900} Main St"); sb.append(',')
      q(sb, "city", Cities((o.id % Cities.size).toInt)); sb.append(',')
      q(sb, "province", "IL"); sb.append(','); q(sb, "country", "US")
      sb.append(','); q(sb, "zip", f"${o.id % 100000}%05d"); sb.append('}')
    }
    o.discounts.foreach { ds =>
      sb.append(",\"discount_codes\":[")
      sb.append(ds.map { case (c, a) => s"""{"code":"$c","amount":"${money(a)}"}""" }
        .mkString(","))
      sb.append(']')
    }
    sb.append('}').toString
  }

  /** Arrival sequence of `orders` with ~`dupShare` of them followed, about
    * `gap` positions later, by a conflicting [[shadow]] copy. */
  def withShadows(rnd: scala.util.Random, orders: IndexedSeq[Order],
                  dupShare: Double, gap: Int): Vector[Order] = {
    val out = mutable.ArrayBuffer.from(orders)
    val picks = orders.indices.filter(_ => rnd.nextDouble() < dupShare)
    picks.reverseIterator.foreach { i =>
      out.insert(math.min(out.size, i + gap + 1), shadow(orders(i)))
    }
    out.toVector
  }

  val Tables: Seq[String] = Seq("orders", "line_items", "customers",
    "shipping_addresses", "discount_codes", "marketing_consent")

  /** The warehouse the pipeline must reach, derived without Spark: within
    * a sync the first arrival of an id wins; across syncs the later sync
    * wins; MERGE never deletes; a sync reads only records with
    * `updated >= checkpoint - 1 h`, and the checkpoint is the batch's
    * max `updated`. Keys are null-safe, as in the store's MERGE. */
  final class Model {
    private val totals = mutable.LongMap.empty[Long]
    private val lineKeys = mutable.HashSet.empty[(Long, Option[Long], Option[Long])]
    private val customers = mutable.HashSet.empty[Long]
    private val ship = mutable.HashSet.empty[Long]
    private val discounts = mutable.HashSet.empty[(Long, String)]
    private var hwm: Option[Long] = None

    /** Lower bound of the next incremental read (checkpoint minus 1 h). */
    def nextMin: Option[Long] = hwm.map(_ - 3600L)

    /** Apply one sync that saw `arrivals` in arrival order; `full` skips
      * the incremental predicate. Returns the batch size after dedup and
      * the table rows the batch upserts (distinct keys summed over the six
      * tables). */
    def sync(arrivals: Iterable[Order], full: Boolean): (Int, Long) = {
      val min = if (full) None else nextMin
      val seen = mutable.HashSet.empty[Long]
      val batch = arrivals.iterator
        .filter(o => min.forall(o.updated >= _))
        .filter(o => seen.add(o.id)).toVector
      val batchCustomers = batch.flatMap(_.customer).distinct.size.toLong
      val rows = batch.size + 2 * batchCustomers + batch.count(_.ship) +
        batch.map(o => o.items.map(i => (i.product, i.variant)).distinct.size +
          o.discounts.map(_.map(_._1).distinct.size).getOrElse(0)).sum
      batch.foreach { o =>
        totals(o.id) = o.totalCents
        o.items.foreach(i => lineKeys += ((o.id, i.product, i.variant)))
        o.customer.foreach(customers += _)
        if (o.ship) ship += o.id
        o.discounts.foreach(_.foreach { case (c, _) => discounts += ((o.id, c)) })
      }
      if (batch.nonEmpty) hwm = Some(batch.map(_.updated).max)
      (batch.size, rows)
    }

    def counts: Map[String, Long] = Map(
      "orders" -> totals.size.toLong, "line_items" -> lineKeys.size.toLong,
      "customers" -> customers.size.toLong,
      "shipping_addresses" -> ship.size.toLong,
      "discount_codes" -> discounts.size.toLong,
      "marketing_consent" -> customers.size.toLong)

    /** Sum of order totals in cents over the final orders table. */
    def totalCents: Long = totals.valuesIterator.sum
  }
}
