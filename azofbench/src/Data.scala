package azofbench

import graft.format.{ColumnDef, ColumnType, TableSchema}
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The one table shape every workload writes: `key, event_time` plus a
  * group `g` (12 values), an amount `v` and a dimension foreign key `d`
  * (16 values, joined to the `dims` table by the ingest star view).
  */
object Shapes {
  val fact: TableSchema = TableSchema(Seq(
    ColumnDef("g", ColumnType.AzString, nullable = false),
    ColumnDef("v", ColumnType.AzInt, nullable = false),
    ColumnDef("d", ColumnType.AzString, nullable = false)))
  val dim: TableSchema = TableSchema(Seq(
    ColumnDef("tier", ColumnType.AzString, nullable = false)))
  val Groups = 12
  val DimKeys = 16
  val Tiers = 4
  /** Event clock origin; every generated event_time is T0 + n ms. */
  val T0: Long = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli

  def key(i: Int): String = f"k$i%07d"
  def dimKey(i: Int): String = f"d$i%02d"
  def tier(dimIdx: Int): String = s"t${dimIdx % Tiers}"
  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
}

/** One written version of a key: a data row, or a tombstone when
  * `deleted`. The generators never emit two versions of one key at the
  * same event time, so every as-of answer is unique.
  */
final case class Rec(key: String, t: Long, g: String, v: Long, d: String,
    deleted: Boolean = false) {
  def row: Row = Row(key, new Timestamp(t), g, v, d)
}

/** Seeded draws. Every input of a run comes from one of these. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(lo: Long, hi: Long): Long = lo + r.nextLong(hi - lo)
  def double(): Double = r.nextDouble()
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
  def rec(key: String, t: Long): Rec = {
    val d = int(Shapes.DimKeys)
    Rec(key, t, s"g${int(Shapes.Groups)}", long(0, 1000000), Shapes.dimKey(d))
  }
}

/** Low-discrepancy points in [0, 1) from a seeded start: successive
  * draws spread evenly, so a short run covers the whole range the same
  * way under every seed.
  */
final class Spread(r: Rng) {
  private var u = r.double()
  def next(): Double = { u = (u + 0.6180339887498949) % 1.0; u }
  def in(lo: Long, hi: Long): Long = lo + (next() * (hi - lo)).toLong
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double = 1.0) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Monotone event clock: every call returns a fresh, larger instant. */
final class Clock(start: Long) {
  private var now = start
  def next(): Long = { now += 1; now }
  def peek: Long = now
  def advance(ms: Long): Unit = now += ms
}

/** The brute-force reference the verifier compares against: every
  * version of every key, kept in the JVM, answering "newest version per
  * key at or before the as-of, tombstones applied" by binary search. It
  * never touches the engine's scan.
  */
final class Model {
  private val byKey = mutable.HashMap.empty[String, mutable.ArrayBuffer[Rec]]

  /** Versions must arrive in event-time order per key. */
  def add(r: Rec): Unit = {
    val b = byKey.getOrElseUpdate(r.key, mutable.ArrayBuffer.empty)
    require(b.isEmpty || b.last.t < r.t, s"out-of-order version of ${r.key}")
    b += r
  }
  def addAll(rs: Iterable[Rec]): Unit = rs.foreach(add)

  def keyCount: Int = byKey.size
  def versions: Int = byKey.valuesIterator.map(_.size).sum

  /** The live version of `key` at `asOf` (None = Current). */
  def at(key: String, asOf: Option[Long]): Option[Rec] =
    byKey.get(key).flatMap { b =>
      val lim = asOf.getOrElse(Long.MaxValue)
      var lo = 0; var hi = b.size - 1; var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid).t <= lim) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found < 0 || b(found).deleted) None else Some(b(found))
    }

  def state(asOf: Option[Long]): Iterator[Rec] =
    byKey.keysIterator.flatMap(k => at(k, asOf))
}

object Frames {
  def fact(spark: SparkSession, recs: Seq[Rec], slices: Int = 1): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(recs.map(_.row), slices),
      Shapes.fact.toStruct)

  def dims(spark: SparkSession, t: Long): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize((0 until Shapes.DimKeys).map(i =>
        Row(Shapes.dimKey(i), new Timestamp(t + i), Shapes.tier(i))), 1),
      Shapes.dim.toStruct)
}
