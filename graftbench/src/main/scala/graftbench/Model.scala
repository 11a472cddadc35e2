package graftbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One `orders` row without its key. `dateUs` is the order date in
  * microseconds since the epoch (UTC). */
final case class V(cust: Long, status: String, price: Double, dateUs: Long, prio: String)

object V {
  val Cols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  private val DayUs = 86400000000L
  private val Day1995Us = 788918400000000L // 1995-01-01T00:00:00Z
  private val Statuses = Array("F", "O", "P")
  private val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def random(rnd: scala.util.Random): V =
    V(rnd.nextInt(15000).toLong, Statuses(rnd.nextInt(3)),
      math.rint((1000 + rnd.nextDouble() * 499000) * 100) / 100,
      Day1995Us + rnd.nextInt(2404) * DayUs, Prios(rnd.nextInt(5)))

  /** A row read back in `Cols` order → (key, value). */
  def of(r: Row): (Long, V) = {
    val ts = r.getAs[Timestamp](4)
    val us = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    (r.getLong(0), V(r.getLong(1), r.getString(2), r.getDouble(3), us, r.getString(5)))
  }

  def row(k: Long, v: V): Row = {
    val ts = new Timestamp(Math.floorDiv(v.dateUs, 1000L))
    ts.setNanos((Math.floorMod(v.dateUs, 1000000L) * 1000).toInt)
    Row(k, v.cust, v.status, v.price, ts, v.prio)
  }

  /** Order-independent digest of a set of rows. */
  def digest(kvs: Iterator[(Long, V)]): (Long, Long) = {
    var n = 0L; var h = 0L
    kvs.foreach { case (k, v) => n += 1; h += MurmurHash3.mix(k.##, v.##).toLong }
    (n, h)
  }
}

/** The in-memory truth a store workload checks every read against:
  * PK → row, ordered by key for range reads. */
final class Model {
  val cur = new java.util.TreeMap[java.lang.Long, V]()

  def put(k: Long, v: V): Unit = cur.put(k, v)
  def remove(k: Long): Unit = cur.remove(k)
  def get(k: Long): Option[V] = Option(cur.get(k))
  def contains(k: Long): Boolean = cur.containsKey(k)
  def size: Int = cur.size

  /** Keys in [lo, hi], ascending. */
  def range(lo: Long, hi: Long): Iterator[(Long, V)] =
    cur.subMap(lo, true, hi, true).entrySet().iterator().asScala
      .map(e => (e.getKey.longValue, e.getValue))

  def digest: (Long, Long) = V.digest(range(Long.MinValue, Long.MaxValue))
}
