package graftbench

import scala.util.hashing.MurmurHash3

import graft.Registry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Expected output of one query: its row count and, when the output is
  * bit-stable across passes, its order-independent content hash.
  */
final case class Expected(rows: Long, hash: Option[Long])

/** A query workload: each operation is one registry query
  * (`GraftQuery.run`) over `dataDir`, its result fully consumed. A pass runs
  * every query once, in an order drawn from the seed.
  */
final class QueryMix(spark: SparkSession, dataDir: String, queries: Seq[String],
    expected: Map[String, Expected], seed: Long, prep: () => Unit) extends Workload {

  private val byName = Registry.all.map(q => q.name -> q).toMap
  queries.foreach(q => require(byName.contains(q), s"no registry query $q"))

  def prepare(): Unit = prep()

  def pass(i: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + i).shuffle(queries).map { q =>
      Op(q, () => QueryMix.consume(byName(q).run(spark, dataDir)), r => check(q, r.asInstanceOf[(Long, Long)]))
    }

  private def check(q: String, got: (Long, Long)): Option[String] = expected.get(q) match {
    case None => Some(s"$q: no expected result recorded")
    case Some(e) if e.rows != got._1 => Some(s"$q: ${got._1} rows, expected ${e.rows}")
    case Some(Expected(_, Some(h))) if h != got._2 => Some(s"$q: content hash differs from the expected result")
    case _ => None
  }
}

object QueryMix {

  /** Runs the query to completion, consuming every row and column of its
    * result where it is computed (no `count()`, which would let the
    * optimizer prune columns and drop the final sort). Returns the row count
    * and the sum of per-row hashes, which does not depend on row order.
    */
  def consume(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("graftbench.rows")
    val hash = sc.longAccumulator("graftbench.hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += Canon.row(r) }
      rows.add(n)
      hash.add(h)
    }
    (rows.sum, hash.sum)
  }
}

/** A stable 64-bit hash of a result row. Floating-point mantissas are
  * rounded (doubles to 34 bits, about 10 significant digits; floats to 20)
  * so that last-bit differences from another summation order do not change
  * the hash.
  */
object Canon {
  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** The bits of `d` with the mantissa rounded to its top `bits` bits. */
  private def rounded(d: Double, bits: Int): Long =
    if (d == 0.0 || d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      val drop = 52 - bits
      (java.lang.Double.doubleToLongBits(d) + (1L << (drop - 1))) & ~((1L << drop) - 1)
    }

  def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case s: String => MurmurHash3.stringHash(s).toLong * 31 + s.length
    case b: Boolean => if (b) 1231L else 1237L
    case d: Double => rounded(d, 34)
    case f: Float => rounded(f.toDouble, 20)
    case n: Long => n
    case n: Int => n.toLong
    case n: Short => n.toLong
    case n: Byte => n.toLong
    case d: java.math.BigDecimal => MurmurHash3.stringHash(d.stripTrailingZeros.toPlainString).toLong
    case t: java.sql.Timestamp => t.toInstant.getEpochSecond * 1000000000L + t.getNanos
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case t: java.time.Instant => t.getEpochSecond * 1000000000L + t.getNano
    case d: java.time.LocalDate => d.toEpochDay
    case b: Array[Byte] => MurmurHash3.bytesHash(b).toLong
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case xs: Iterable[_] => xs.foldLeft(0x27d4eb2fL)((h, x) => mix(h * 31 + value(x)))
    case other => MurmurHash3.stringHash(other.toString).toLong
  }

  def row(r: Row): Long = {
    var h = 17L
    var i = 0
    while (i < r.length) { h = mix(h * 31 + value(r.get(i))); i += 1 }
    mix(h)
  }
}
