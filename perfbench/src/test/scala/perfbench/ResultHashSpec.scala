package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ResultHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def hash(rows: Seq[Row], cols: Seq[String] = Seq("a", "b", "c")) =
    ResultHash.of(cols, rows.toArray)

  private val rows = Seq(Row(1L, "x", 0.5), Row(2L, "y", 1.5), Row(2L, "y", 1.5),
    Row(3L, null, -0.0))

  test("row order does not change the hash") {
    assert(hash(rows) == hash(rows.reverse))
    assert(hash(rows).rows == 4)
  }

  test("column order does not change the hash; columns are taken by name") {
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(hash(swapped, Seq("c", "a", "b")) == hash(rows))
  }

  test("partition count does not change the hash") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"v${i % 17}", i / 7.0)).toDF("a", "b", "c")
    val base = ResultHash.of(df.columns.toSeq, df.coalesce(1).collect())
    Seq(2, 5, 11).foreach { n =>
      val d = df.repartition(n)
      assert(ResultHash.of(d.columns.toSeq, d.collect()) == base)
    }
  }

  test("any changed value changes the hash") {
    val h = hash(rows)
    assert(hash(rows.updated(0, Row(1L, "x", 0.5000000000000001))) != h)
    assert(hash(rows.updated(1, Row(2L, "z", 1.5))) != h)
    assert(hash(rows.updated(3, Row(3L, null, 0.0))) != h) // -0.0 vs 0.0
    assert(hash(rows.updated(3, Row(3L, "", -0.0))) != h) // null vs ""
    assert(hash(rows.take(3)) != h) // a duplicate row dropped
    assert(hash(rows.updated(0, Row(1L, "x", 0.5)) :+ Row(1L, "x", 0.5)) != h)
  }

  test("nested values hash by content; maps ignore entry order") {
    val a = Row(Seq(1, 2), Map("k" -> 1, "j" -> 2), Row("s", 1.0))
    val b = Row(Seq(1, 2), Map("j" -> 2, "k" -> 1), Row("s", 1.0))
    val c = Row(Seq(2, 1), Map("k" -> 1, "j" -> 2), Row("s", 1.0))
    assert(hash(Seq(a)) == hash(Seq(b)))
    assert(hash(Seq(a)) != hash(Seq(c)))
  }
}
