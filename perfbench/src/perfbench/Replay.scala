package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, map_entries}

import Gen.{Ev, NQ}

/** Replay of the reference sync semantics in the benchmark's JVM, written
  * without `graft.sync`: the family is dropped and a document is keyed by
  * qualifier, the last write per field in `seq` order wins, a DELETE removes
  * the whole document and a later PUT revives it. Events must arrive in `seq`
  * order. */
final class Replay(val keySpace: Int) {
  // value + 1 per (key, qualifier); 0 = field absent
  private val cells = new Array[Int](keySpace * NQ)
  private var lastSeq = Long.MinValue

  def apply(e: Ev): Unit = {
    require(e.seq > lastSeq, s"replay out of seq order: ${e.seq} after $lastSeq")
    lastSeq = e.seq
    val at = e.key * NQ
    if (e.delete) java.util.Arrays.fill(cells, at, at + NQ, 0)
    else e.cells.foreach { case (q, _, v) => cells(at + q) = v + 1 }
  }

  /** The value id of field `q` of key `k`, or -1. */
  def field(k: Int, q: Int): Int = cells(k * NQ + q) - 1

  def live(k: Int): Boolean = (0 until NQ).exists(q => cells(k * NQ + q) != 0)

  def doc(k: Int): Option[Map[String, String]] =
    if (!live(k)) None
    else Some((0 until NQ).filter(field(k, _) >= 0)
      .map(q => Gen.Quals(q) -> Gen.valueStr(q, field(k, q))).toMap)

  def digest: Digest = {
    var d = Digest(0, 0)
    var k = 0
    while (k < keySpace) {
      doc(k).foreach(m => d = d.add(Digest.ofDoc(Gen.rowKey(k), m.toSeq)))
      k += 1
    }
    d
  }
}

/** Order-independent digest of a doc table: document count and the sum of a
  * 64-bit hash of each `(rowKey, sorted fields)`. */
final case class Digest(docs: Long, sum: Long) {
  def add(o: Digest): Digest = Digest(docs + o.docs, sum + o.sum)
}

object Digest {
  def ofDoc(rowKey: String, fields: Seq[(String, String)]): Digest = {
    val s = fields.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(rowKey + "\u0001", "\u0001", "")
    Digest(1, (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL))
  }

  /** The digest of a `(rowKey, doc)` table, computed by the executors. */
  def ofTable(docs: DataFrame): Digest =
    docs.select(col("rowKey"), map_entries(col("doc"))).rdd.mapPartitions { rows =>
      Iterator(rows.foldLeft(Digest(0, 0)) { (d, r) =>
        d.add(ofDoc(r.getString(0), r.getSeq[Row](1).map(e => (e.getString(0), e.getString(1)))))
      })
    }.collect().foldLeft(Digest(0, 0))(_ add _)
}
