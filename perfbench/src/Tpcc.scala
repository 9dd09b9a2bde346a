package perfbench

import graft.sources.PgOutput
import graft.sources.PgOutput._

/** One change event of a generated transaction: `op` is I, U or D. */
final case class Ev(table: Int, op: Char, key: Long, value: String,
    note: String)

/** Seeded TPC-C-shaped change generator over eight tables, each
  * (key int8 primary key, val float8, note text). Transactions follow the
  * standard mix in exact proportions per round: NewOrder 45%, Payment
  * 43%, Delivery 4%, read-only (OrderStatus/StockLevel) 8%, the last
  * producing no change events, as pgoutput skips empty transactions.
  * Inserts take fresh keys, updates and deletes hit live keys, so every
  * operation applies cleanly. */
final class Tpcc(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)

  val tables: IndexedSeq[(Int, String)] = IndexedSeq(1 -> "warehouse",
    2 -> "district", 3 -> "customer", 4 -> "history", 5 -> "orders",
    6 -> "new_order", 7 -> "order_line", 8 -> "stock")
  val warehouses = 4
  val districts = 40
  val customers = 1000
  val stockItems = 3000
  val orders0 = 2000
  val history0 = 2000
  val undelivered0 = 600
  val linesPerOrder = 5

  private var nextOrder = orders0.toLong
  private var nextHistory = history0.toLong
  private val undelivered = scala.collection.mutable.Queue.empty[Long]
  undelivered ++= (orders0 - undelivered0).toLong until orders0.toLong

  private def money(): String = {
    val c = rnd.nextLong(1000000L)
    s"${c / 100}.${"%02d".format(c % 100)}"
  }
  private def note(t: String, k: Long): String =
    s"$t-$k-${java.lang.Long.toString(rnd.nextLong(1L << 40), 36)}"

  /** The snapshot rows of one table (fixed by the seed at construction
    * order: call once per table, in table order). */
  def snapshot(table: Int): IndexedSeq[(Long, String, String)] = {
    val keys: IndexedSeq[Long] = table match {
      case 1 => (1L to warehouses.toLong)
      case 2 => (1L to districts.toLong)
      case 3 => (1L to customers.toLong)
      case 4 => (0L until history0.toLong)
      case 5 => (0L until orders0.toLong)
      case 6 => ((orders0 - undelivered0).toLong until orders0.toLong)
      case 7 => (0L until orders0.toLong).flatMap(o =>
        (1 to linesPerOrder).map(l => o * 10 + l))
      case 8 => (0L until stockItems.toLong)
    }
    val name = tables(table - 1)._2
    keys.map(k => (k, money(), note(name, k)))
  }

  private def upd(t: Int, k: Long) =
    Ev(t, 'U', k, money(), note(tables(t - 1)._2, k))
  private def ins(t: Int, k: Long) =
    Ev(t, 'I', k, money(), note(tables(t - 1)._2, k))

  private def newOrder(): Seq[Ev] = {
    val o = nextOrder; nextOrder += 1
    undelivered += o
    val s1 = rnd.nextLong(stockItems.toLong)
    val s2 = (s1 + 1 + rnd.nextLong(stockItems.toLong - 1)) % stockItems
    Seq(ins(5, o), ins(6, o), ins(7, o * 10 + 1), ins(7, o * 10 + 2),
      upd(2, 1 + rnd.nextLong(districts.toLong)), upd(8, s1), upd(8, s2))
  }
  private def payment(): Seq[Ev] = {
    val h = nextHistory; nextHistory += 1
    Seq(upd(1, 1 + rnd.nextLong(warehouses.toLong)),
      upd(2, 1 + rnd.nextLong(districts.toLong)),
      upd(3, 1 + rnd.nextLong(customers.toLong)), ins(4, h))
  }
  private def delivery(): Seq[Ev] = {
    val o = undelivered.dequeue()
    Seq(Ev(6, 'D', o, null, null), upd(5, o),
      upd(3, 1 + rnd.nextLong(customers.toLong)))
  }

  /** `n` transactions in the exact mix, in a seeded order. Read-only
    * transactions come back as empty event lists. */
  def transactions(n: Int): IndexedSeq[Seq[Ev]] = {
    val nNew = n * 45 / 100
    val nPay = n * 43 / 100
    val nDel = n * 4 / 100
    val kinds = Array.fill(nNew)(0) ++ Array.fill(nPay)(1) ++
      Array.fill(nDel)(2) ++ Array.fill(n - nNew - nPay - nDel)(3)
    var i = kinds.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      i -= 1
    }
    kinds.toIndexedSeq.map {
      case 0 => newOrder()
      case 1 => payment()
      case 2 => if (undelivered.nonEmpty) delivery() else Seq.empty
      case _ => Seq.empty
    }
  }

  /** A live key of `table` for point reads (keys below the snapshot size
    * are never deleted except in new_order). */
  def readKey(r: java.util.SplittableRandom, table: Int): Long = table match {
    case 1 => 1 + r.nextLong(warehouses.toLong)
    case 2 => 1 + r.nextLong(districts.toLong)
    case 3 => 1 + r.nextLong(customers.toLong)
    case 4 => r.nextLong(history0.toLong)
    case 5 => r.nextLong(orders0.toLong)
    case 7 => r.nextLong(orders0.toLong) * 10 + 1 + r.nextInt(linesPerOrder)
    case _ => r.nextLong(stockItems.toLong)
  }
}

object Tpcc {
  val Int8 = 20
  val Float8 = 701
  val Text = 25

  def relation(id: Int, name: String): Relation =
    Relation(id, "public", name, 'd', Vector(RelCol(1, "key", Int8, -1),
      RelCol(0, "val", Float8, -1), RelCol(0, "note", Text, -1)))

  /** One transaction as pgoutput frames: Begin, its changes, Commit. */
  def frames(lsn: Long, xid: Int, evs: Seq[Ev]): Seq[Array[Byte]] = {
    val body = evs.map { e =>
      val tuple = Vector(TText(e.key.toString), TText(e.value), TText(e.note))
      e.op match {
        case 'I' => Insert(e.table, tuple)
        case 'U' => Update(e.table, None, None, tuple)
        case _ => Delete(e.table, 'K', Vector(TText(e.key.toString), TNull, TNull))
      }
    }
    ((Begin(lsn, 0L, xid) +: body) :+ Commit(0, lsn, lsn + 1, 0L))
      .map(m => PgOutput.encode(m))
  }
}
