package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Tests of the harness's own JVM code; `run.py --self-test` runs them. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    if (!passed) failures += 1
    println(s"${if (passed) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("tags", ArrayType(StringType)), StructField("m", MapType(StringType, DoubleType))))
    val rows = (1 to 50).map(i => Row(i.toLong, i * 1.1, Seq(s"t$i", "x"), Map("b" -> 2.0, "a" -> i.toDouble)))
    val d = Digest.of(schema, rows)

    check("digest ignores row order") {
      Digest.of(schema, scala.util.Random.shuffle(rows)) == d && Digest.of(schema, rows.reverse) == d
    }
    check("digest ignores map entry order") {
      val flipped = rows.map(r => Row(r(0), r(1), r(2), r.getMap[String, Double](3).toSeq.reverse.toMap))
      Digest.of(schema, flipped) == d
    }
    check("digest ignores float noise below its precision") {
      Digest.of(schema, rows.map(r => Row(r(0), r.getDouble(1) * (1 + 1e-13), r(2), r(3)))) == d
    }
    check("digest catches a changed value") {
      val changed = rows.updated(7, Row(8L, 8 * 1.1 + 1e-5, Seq("t8", "x"), Map("b" -> 2.0, "a" -> 8.0)))
      Digest.of(schema, changed) != d
    }
    check("digest catches a changed nested value") {
      Digest.of(schema, rows.updated(3, Row(4L, 4 * 1.1, Seq("t4", "y"), Map("b" -> 2.0, "a" -> 4.0)))) != d
    }
    check("digest catches a lost and a duplicated row") {
      Digest.of(schema, rows.tail) != d && Digest.of(schema, rows :+ rows.head) != d
    }
    check("digest catches renamed columns") {
      Digest.of(StructType(schema.fields.updated(0, StructField("key", LongType))), rows) != d
    }
    check("market generator is deterministic per seed") {
      def ticks(seed: Long) = { val g = new MarketGen(seed); (0 until 200).map(g.tick) }
      ticks(7) == ticks(7) && ticks(7) != ticks(8)
    }
    check("market generator re-delivers exact copies and marks malformed frames") {
      val g = new MarketGen(3)
      (0 until 300).foreach(g.tick)
      g.deliveries > g.originals.size && g.validDeliveries < g.deliveries &&
        g.originals.distinct.size == g.originals.size
    }
    check("gate order is a seeded permutation") {
      val plan = (1 to 30).map(i => Batch.Gate(s"g$i", "-"))
      val a = Batch.order(plan, 5, 0)
      a == Batch.order(plan, 5, 0) && a != Batch.order(plan, 6, 0) && a != Batch.order(plan, 5, 1) &&
        a.sortBy(_.name) == plan.sortBy(_.name)
    }
    println(s"SelfTest: ${if (failures == 0) "PASS" else s"$failures FAILED"}")
    if (failures > 0) sys.exit(1)
  }
}
