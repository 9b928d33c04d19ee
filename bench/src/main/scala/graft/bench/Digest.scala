package graft.bench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent output digests: a row count and the wrapping sum
  * of 64-bit per-row hashes over a canonical text of each row, with
  * every floating-point value at 6 dp (the precision the oracle
  * compares and the pipelines report at). Equal outputs give equal
  * digests regardless of partitioning or row order. */
object Digest {

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.6f"
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => canon(a.toSeq)
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0xd15e) & 0xffffffffL)
  }

  private def render(n: Long, h: Long): String = f"$n%d:$h%016x"

  def ofRows(rows: Seq[Row]): String =
    render(rows.size.toLong, rows.map(rowHash).sum)

  /** Digest a frame on the executors. Running it executes the frame's
    * whole physical plan once, like a `noop` write, so it doubles as
    * the materialization of a timed query. */
  def of(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator("digest.rows")
    val h = sc.longAccumulator("digest.hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { r => n.add(1L); h.add(rowHash(r)) }
    }
    render(n.value, h.value)
  }
}
