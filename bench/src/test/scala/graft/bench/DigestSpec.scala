package graft.bench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Run: cd bench && sbt test */
class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val rows = Seq(Row(1L, "a", 0.5, Seq(1.0f, 2.0f)),
    Row(2L, "b", 1.25, Seq(3.0f)), Row(3L, null, -2.0, Seq.empty[Float]))

  test("row order and partitioning do not change the digest") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, "c", -2.0))
      .toDF("id", "s", "x")
    assert(Digest.of(df.repartition(3)) == Digest.of(df.coalesce(1)))
    assert(Digest.of(df) == Digest.ofRows(df.collect().reverse.toSeq))
  }

  test("a corrupted output is rejected: one changed value, row or count") {
    val good = Digest.ofRows(rows)
    assert(Digest.ofRows(rows.reverse) == good)
    assert(Digest.ofRows(rows.updated(1, Row(2L, "b", 1.26, Seq(3.0f)))) != good)
    assert(Digest.ofRows(rows.updated(0, Row(1L, "a", 0.5, Seq(1.0f, 2.5f)))) != good)
    assert(Digest.ofRows(rows.take(2)) != good)
    assert(Digest.ofRows(rows :+ rows.head) != good)
  }

  test("floating-point values compare at 6 dp") {
    assert(Digest.ofRows(Seq(Row(0.1234564))) == Digest.ofRows(Seq(Row(0.1234561))))
    assert(Digest.ofRows(Seq(Row(0.123456))) != Digest.ofRows(Seq(Row(0.123457))))
  }
}
