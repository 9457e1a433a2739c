package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.util.SplittableRandom

/** Deterministic synthetic inputs. The CONTENT of every table and of the
  * base corpus comes from fixed generator seeds, so expected outputs are
  * a property of the benchmark, not of the run; the run's `--seed` only
  * permutes row order (and, for the serve loop, picks operations), which
  * the programs under test must not be sensitive to.
  */
object Gen {

  // ---- TPC-H-shaped parity tables (customer → orders → lineitem) ----

  final case class Customer(custkey: Long, name: String)
  final case class Order(orderkey: Long, custkey: Long, totalprice: Double)
  final case class LineItem(orderkey: Long, linenumber: Int, quantity: Double)
  final case class Parity(customers: Vector[Customer], orders: Vector[Order],
                          lineitems: Vector[LineItem])

  /** `nCustomers` customers, ten orders per customer on average, one to
    * seven lines per order. As in TPC-H, customers whose key is a multiple
    * of three place no orders, so the decorrelated joins must zero-fill.
    */
  def parity(nCustomers: Int): Parity = {
    val rnd = new SplittableRandom(20240601L)
    val customers = Vector.tabulate(nCustomers)(i =>
      Customer(i + 1L, f"Customer#${i + 1}%09d"))
    val buyers = customers.map(_.custkey).filter(_ % 3 != 0)
    val orders = Vector.tabulate(nCustomers * 10) { i =>
      // cents / 100.0 is the double nearest the 2-decimal price, so the
      // program's DECIMAL(18,2) casts and the oracle agree exactly
      Order(i + 1L, buyers(rnd.nextInt(buyers.size)),
        rnd.nextLong(90000L, 50000000L) / 100.0)
    }
    val lines = orders.flatMap { o =>
      (1 to rnd.nextInt(1, 8)).map(ln =>
        LineItem(o.orderkey, ln, rnd.nextInt(1, 51).toDouble))
    }
    Parity(customers, orders, lines)
  }

  // ---- text corpus ----

  final case class Doc(id: Long, text: String, source: String)

  private val sources = Vector("web", "forum", "news", "wiki", "code")

  /** A pseudo-word vocabulary drawn with Zipf(1) frequencies, so posting
    * lists range from a few documents to most of the corpus. */
  final class Vocab(size: Int, seed: Long) {
    val words: Vector[String] = {
      val rnd = new SplittableRandom(seed)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val len = rnd.nextInt(3, 10)
        seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }
      seen.toVector
    }
    private val cdf: Array[Double] = {
      val w = (1 to size).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def draw(rnd: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(if (i >= 0) i else math.min(-i - 1, size - 1))
    }
  }

  val vocab = new Vocab(4000, 7L)

  def text(rnd: SplittableRandom, nTokens: Int): Vector[String] =
    Vector.fill(nTokens)(vocab.draw(rnd))

  /** `n` documents of 20–100 tokens. About one in eight is a near copy of
    * an earlier document (zero to three token edits), so every near-dup
    * operator has true pairs to find.
    */
  def corpus(n: Int): Vector[Doc] = {
    val rnd = new SplittableRandom(1234567L)
    val toks = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until n).map { i =>
      val t =
        if (i > 10 && rnd.nextInt(8) == 0) {
          var c = toks(rnd.nextInt(i))
          (0 until rnd.nextInt(4)).foreach { _ =>
            val at = rnd.nextInt(c.size)
            c = rnd.nextInt(3) match {
              case 0 => c.updated(at, vocab.draw(rnd))
              case 1 => c.patch(at, Seq(vocab.draw(rnd)), 0)
              case _ => c.patch(at, Nil, 1)
            }
          }
          c
        } else text(rnd, rnd.nextInt(20, 101))
      toks += t
      Doc(i.toLong, t.mkString(" "), sources(rnd.nextInt(sources.size)))
    }.toVector
  }

  /** The run seed's only effect on a table: its row order. */
  def shuffled[T](rows: Vector[T], seed: Long): Vector[T] =
    new scala.util.Random(seed).shuffle(rows)

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), "UTF-8"), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length
}
