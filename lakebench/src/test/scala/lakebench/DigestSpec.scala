package lakebench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "score")
  }

  private val rows = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, null, -2.0), (4L, "d", 1e10 / 3))

  test("the digest does not depend on row order") {
    assert(Digest.of(frame(rows)) == Digest.of(frame(rows.reverse)))
    assert(Digest.of(frame(rows)) == Digest.of(frame(rows).orderBy("name")))
  }

  test("the digest is stable under repartitioning") {
    val d = Digest.of(frame(rows))
    Seq(1, 2, 7).foreach { n => assert(Digest.of(frame(rows).repartition(n)) == d, n) }
    assert(Digest.of(frame(rows).coalesce(1)) == d)
  }

  test("floats are compared to 9 significant digits, -0.0 as 0.0") {
    val base = Digest.of(frame(rows))
    val ulp = rows.map { case (i, n, x) => (i, n, x + math.ulp(x)) }
    assert(Digest.of(frame(ulp)) == base)
    assert(Digest.of(frame(Seq((1L, "z", 0.0)))) == Digest.of(frame(Seq((1L, "z", -0.0)))))
    val moved = rows.map { case (i, n, x) => (i, n, if (i == 2L) x + 1e-6 else x) }
    assert(Digest.of(frame(moved)) != base)
  }

  test("a changed, missing or repeated row changes the digest") {
    val base = Digest.of(frame(rows))
    assert(Digest.of(frame(rows.updated(0, (1L, "A", 0.5)))) != base)
    assert(Digest.of(frame(rows.tail)) != base)
    assert(Digest.of(frame(rows :+ rows.head)) != base)
  }

  test("a null is told apart from any value and from a null in another column") {
    val a = frame(Seq((1L, null, 2.0), (2L, "x", 3.0)))
    val b = frame(Seq((1L, "x", 2.0), (2L, null, 3.0)))
    val c = frame(Seq((1L, "", 2.0), (2L, "x", 3.0)))
    assert(Set(Digest.of(a), Digest.of(b), Digest.of(c)).size == 3)
  }

  test("column names and types are part of the digest") {
    val df = frame(rows)
    assert(Digest.of(df.withColumnRenamed("name", "label")) != Digest.of(df))
    assert(Digest.of(df.withColumn("id", df("id").cast("int"))) != Digest.of(df))
  }
}
