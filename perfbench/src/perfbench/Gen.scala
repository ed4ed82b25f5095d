package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}

import graft.model.ChangeLog

/** Seeded change-log generator. Every event is a pure function of
  * `(seed, shape, seq)`, so the replay oracle regenerates exactly the events
  * the program read without sharing any state with it. */
object Gen {

  /** Qualifiers and the family each is written under. `tag` is written under
    * either family: the reference keys a document by qualifier only, so the
    * family must not matter to the result. */
  val Quals: Array[String] = Array("color", "brand", "size", "city", "tag", "num", "note", "state")
  val NumQ = 5
  val Cardinality: Array[Int] = Array(48, 64, 12, 40, 24, 10000, 200, 8)
  private val Family: Array[Int] = Array(0, 0, 0, 0, -1, 1, 1, 1)
  private val Families = Array("d", "m")
  val NQ: Int = Quals.length

  /** A single lowercase token (`c17`), or the decimal number for `num`. */
  def valueStr(q: Int, v: Int): String = if (q == NumQ) v.toString else s"${Quals(q).head}$v"

  def rowKey(k: Int): String = f"k$k%07d"

  /** How the keys of a change log are drawn. */
  sealed trait Keys extends Serializable { def space: Int }
  /** Uniform over `space` keys. */
  final case class Uniform(space: Int) extends Keys
  /** Zipf(s) over `space` keys, key 0 the hottest. */
  final case class Zipf(space: Int, s: Double) extends Keys {
    @transient private lazy val cdf: Array[Double] = {
      val w = Array.tabulate(space)(i => math.pow(i + 1.0, -s))
      val acc = w.scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    def draw(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(space - 1, if (i >= 0) i else -i - 1)
    }
  }
  /** Event `seq` writes key `seq * stride % space`: one full document per key. */
  final case class Strided(space: Int, stride: Int) extends Keys

  final case class Shape(keys: Keys, deleteShare: Double, minCells: Int, maxCells: Int)

  /** One change event. `cells` holds `(qualifier, family, value)` triples. */
  final case class Ev(seq: Long, delete: Boolean, key: Int, cells: Array[(Int, Int, Int)])

  private def mix(x0: Long): Long = {       // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def event(seed: Long, shape: Shape, seq: Long): Ev = {
    val base = mix(seed * 0x9e3779b97f4a7c15L ^ mix(seq))
    var n = 0
    def next(): Long = { n += 1; mix(base + n * 0x9e3779b97f4a7c15L) }
    def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
    def below(m: Int): Int = java.lang.Math.floorMod(next(), m.toLong).toInt
    val key = shape.keys match {
      case Uniform(space)        => below(space)
      case z: Zipf               => z.draw(unit())
      case Strided(space, stride) => java.lang.Math.floorMod(seq * stride, space.toLong).toInt
    }
    if (unit() < shape.deleteShare) Ev(seq, delete = true, key, Array.empty)
    else {
      val k = shape.minCells + below(shape.maxCells - shape.minCells + 1)
      val qs = Array.range(0, NQ)            // partial Fisher-Yates: k distinct qualifiers
      Ev(seq, delete = false, key, Array.tabulate(k) { j =>
        val r = j + below(NQ - j)
        val q = qs(r); qs(r) = qs(j); qs(j) = q
        (q, if (Family(q) >= 0) Family(q) else below(2), below(Cardinality(q)))
      })
    }
  }

  private val tsBase = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  def toRow(e: Ev): Row = Row(
    if (e.delete) "DELETE" else "PUT", rowKey(e.key), e.seq, new Timestamp(tsBase + e.seq),
    if (e.delete) null
    else e.cells.toSeq.map { case (q, f, v) => Row(Families(f), Quals(q), valueStr(q, v)) })

  /** A change-log file: events `first until first + count`. */
  final case class LogFile(index: Int, first: Long, count: Int, file: File)

  /** Seq ranges of `sizes.length` consecutive files starting at `firstSeq`. */
  def layout(firstSeq: Long, sizes: Seq[Int], dir: File): Seq[LogFile] = {
    val starts = sizes.scanLeft(firstSeq)(_ + _)
    sizes.indices.map(i => LogFile(i, starts(i), sizes(i), new File(dir, f"f$i%05d.parquet")))
  }

  /** Write `files` as parquet change logs (one Spark task per file) and
    * stamp their modification times in index order, which is the order the
    * file source picks them up in. */
  def write(spark: SparkSession, seed: Long, shape: Shape, files: Seq[LogFile], tmp: File): Unit = {
    val ranges = files.map(f => (f.first, f.count))
    val rdd = spark.sparkContext.parallelize(ranges, ranges.length).flatMap { case (first, count) =>
      Iterator.range(0, count).map(i => toRow(event(seed, shape, first + i)))
    }
    spark.createDataFrame(rdd, ChangeLog.schema).write.parquet(tmp.getPath)
    val parts = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val byIndex = parts.map(p => p.getName.stripPrefix("part-").take(5).toInt -> p).toMap
    require(byIndex.size == files.length, s"expected ${files.length} parts, got ${parts.length}")
    val stamp = System.currentTimeMillis() - 3600 * 1000L
    files.foreach { f =>
      f.file.getParentFile.mkdirs()
      java.nio.file.Files.move(byIndex(f.index).toPath, f.file.toPath)
      f.file.setLastModified(stamp + f.index * 1000L)
    }
    graft.core.Fs.deleteRecursively(tmp)
  }
}
