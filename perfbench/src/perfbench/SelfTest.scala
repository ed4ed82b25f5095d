package perfbench

import org.apache.spark.sql.Row

import graft.core.GraftSession
import graft.model.ChangeLog
import graft.sync.DocSync

import Gen.Ev

/** The benchmark's own tests: they pin the replay oracle on a hand-written
  * log and against `DocSync.fold` on a small seeded log.
  * Usage: `SelfTest <work dir>`; exits 1 on the first failure. */
object SelfTest {
  private def check(name: String)(cond: => Boolean): Unit =
    if (cond) println(s"ok   $name")
    else { println(s"FAIL $name"); sys.exit(1) }

  private val color = 0
  private val tag = 4
  private def put(seq: Long, key: Int, cells: (Int, Int, Int)*) = Ev(seq, delete = false, key, cells.toArray)
  private def del(seq: Long, key: Int) = Ev(seq, delete = true, key, Array.empty)

  def main(args: Array[String]): Unit = {
    val r = new Replay(4)
    Seq(
      put(1, 0, (color, 0, 1), (tag, 0, 2)),
      put(2, 0, (color, 0, 3)),            // partial PUT: tag survives
      put(3, 1, (color, 0, 5)),
      del(4, 1),
      put(5, 1, (tag, 1, 7)),              // revived with only the new field
      put(6, 2, (tag, 0, 1)),
      put(7, 2, (tag, 1, 9)),              // other family, same qualifier: one field
      put(8, 3, (color, 0, 4)),
      del(9, 3)                            // deleted for good
    ).foreach(r(_))
    check("partial PUT keeps the fields it does not write") {
      r.doc(0).contains(Map("color" -> "c3", "tag" -> "t2"))
    }
    check("DELETE then PUT revives the doc with only the new fields") {
      r.doc(1).contains(Map("tag" -> "t7"))
    }
    check("the family is dropped: the last write to a qualifier wins") {
      r.doc(2).contains(Map("tag" -> "t9"))
    }
    check("DELETE removes the whole doc") { r.doc(3).isEmpty && r.digest.docs == 3 }
    check("events out of seq order are refused") {
      scala.util.Try(r(put(3, 0, (color, 0, 1)))).isFailure
    }

    val shape = Gen.Shape(Gen.Zipf(300, 1.1), deleteShare = 0.1, minCells = 1, maxCells = 4)
    check("events are a pure function of (seed, shape, seq)") {
      def flat(seed: Long, s: Long) = { val e = Gen.event(seed, shape, s); (e.delete, e.key, e.cells.toSeq) }
      (0L until 100L).forall(s => flat(7, s) == flat(7, s)) && (0L until 100L).exists(s => flat(7, s) != flat(8, s))
    }

    val spark = GraftSession.local(2, Map(
      "spark.local.dir" -> s"${args(0)}/spark-local",
      "spark.sql.warehouse.dir" -> s"${args(0)}/warehouse"))
    try {
      val events = (0L until 3000L).map(Gen.event(11, shape, _))
      val log = spark.createDataFrame(
        spark.sparkContext.parallelize(events.map(Gen.toRow), 4), ChangeLog.schema)
      val replay = new Replay(300)
      events.foreach(replay(_))
      check("replay matches DocSync.fold on a seeded log with deletes") {
        Digest.ofTable(DocSync.fold(log)) == replay.digest
      }
      check("the digest sees a changed field") {
        val k = (0 until 300).find(replay.live).get
        val docs = DocSync.fold(log).collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap)
        val changed = docs.map { case (key, d) =>
          if (key == Gen.rowKey(k)) Row(key, d.updated("color", "zz")) else Row(key, d) }
        val df = spark.createDataFrame(spark.sparkContext.parallelize(changed.toSeq), DocSync.fold(log).schema)
        Digest.ofTable(df) != replay.digest
      }
    } finally spark.stop()
  }
}
