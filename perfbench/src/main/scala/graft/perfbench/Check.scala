package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The answer checks every workload shares. */
object Check {

  /** A query result's fingerprint: its row count plus an
    * order-insensitive hash of its canonical rows (each row hashed on
    * its own, hashes summed mod 2^64, so duplicate rows count) seeded
    * with the column names and types. */
  final case class Fingerprint(rows: Long, hash: String)

  def fingerprint(schema: StructType, rows: Array[Row]): Fingerprint = {
    var sum = rowHash(schema.fields.map(f => f.name + ":" + f.dataType.simpleString)
      .mkString("|"))
    rows.foreach(r => sum += rowHash(canon(r)))
    Fingerprint(rows.length.toLong, f"$sum%016x")
  }

  private def rowHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Canonical text of one value. Doubles keep every digit (the engine
    * rounds scores itself); -0.0 folds to 0.0; maps sort by key. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float =>
      if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  /** Exact top-k equality: same ids with the same scores in the same
    * rank order. Returns a reason when they differ. */
  def topK(want: Seq[(Long, Double)], got: Seq[(Long, Double)]): Option[String] =
    if (want == got) None
    else Some(s"top-k mismatch: want ${want.take(3).mkString(",")}… " +
      s"(${want.length}) got ${got.take(3).mkString(",")}… (${got.length})")

  /** Generations a read over [s, e] may have observed, given each
    * generation's refresh call and return times (generation 0 serves
    * from the start; generation g+1 replaces g at some instant between
    * its refresh call and return). */
  def allowedGenerations(s: Double, e: Double,
      calls: IndexedSeq[Double], returns: IndexedSeq[Double]): Seq[Int] =
    calls.indices.filter { g =>
      val from = if (g == 0) Double.NegativeInfinity else calls(g)
      val until = if (g + 1 < calls.length) returns(g + 1) else Double.PositiveInfinity
      from <= e && s <= until
    }
}
