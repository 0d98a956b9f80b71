package perfbench

import perfbench.Gen._

/** Order-independent row checksum: the wrapping sum of a 64-bit hash of
  * each row's fields. Both the generator side and the read-back side feed
  * the same field values in the same order. */
object RowHash {
  def of(fields: Any*): Long = {
    val s = fields.mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
  def rec(r: Rec): Long = of(r.k, r.grp, r.v, r.tag)

  /** The same hashes over rows read back in generator column order. */
  def docRow(r: org.apache.spark.sql.Row): Long =
    of(r.getLong(0), r.getString(1), r.getString(2))
  def recRow(r: org.apache.spark.sql.Row): Long =
    of(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))
}

/** The dml_mix reference: per key, whether it is alive and its current row.
  * Each statement the client issues is applied here too, so every read
  * and the final table can be checked against it. `apply` returns the
  * number of rows the statement changes. */
final class KeyModel {
  private val rows = scala.collection.mutable.HashMap.empty[Long, Rec]

  def load(recs: Iterable[Rec]): Unit = recs.foreach(r => rows(r.k) = r)
  def get(k: Long): Option[Rec] = rows.get(k)
  def size: Int = rows.size

  /** (row count, sum of v) over live keys in groups lo..hi. */
  def scan(lo: String, hi: String): (Long, Long) = {
    var n = 0L; var s = 0L
    rows.valuesIterator.foreach { r =>
      if (r.grp >= lo && r.grp <= hi) { n += 1; s += r.v }
    }
    (n, s)
  }

  /** The rows a statement changes, in their state after it. Deleted rows
    * are returned in their state before it. */
  def apply(op: DmlOp): Seq[Rec] = op match {
    case PointDelete(k) => rows.remove(k).toSeq
    case RangeDelete(lo, hi) => (lo to hi).flatMap(rows.remove)
    case Update(lo, hi, dv, g) =>
      (lo to hi).flatMap(k => rows.get(k).map { r =>
        val u = r.copy(v = r.v + dv, grp = g.getOrElse(r.grp))
        rows(k) = u
        u
      })
    case Merge(src) => src.map { r => rows(r.k) = r; r }
    case _: PointRead | _: Scan => Seq.empty
  }

  def checksum: (Long, Long) =
    (rows.size.toLong, rows.valuesIterator.map(RowHash.rec).sum)

  def rawBytes: Long = rows.valuesIterator.map(Gen.rawBytes).sum
}

/** Plain-Scala check of dedup output: word n-gram Jaccard recomputed from
  * the generator's texts, independent of the engine's expressions. */
object PairCheck {
  def ngrams(text: String, n: Int): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String, n: Int): Double = {
    val ga = ngrams(a, n); val gb = ngrams(b, n)
    if (ga.isEmpty && gb.isEmpty) 0.0
    else (ga intersect gb).size.toDouble / (ga union gb).size
  }

  /** Reported pairs whose recomputed Jaccard is below the threshold. */
  def belowThreshold(pairs: Seq[(Long, Long)], text: Long => String,
      n: Int, threshold: Double): Seq[(Long, Long)] =
    pairs.filter { case (a, b) => jaccard(text(a), text(b), n) < threshold - 1e-9 }

  /** Share of the planted pairs that qualify (distinct texts, Jaccard at or
    * above the threshold) which the reported pairs contain; None when no
    * planted pair qualifies. */
  def recall(planted: Seq[(Long, Long)], reported: Set[(Long, Long)],
      text: Long => String, n: Int, threshold: Double): Option[Double] = {
    val due = planted.filter { case (a, b) =>
      text(a) != text(b) && jaccard(text(a), text(b), n) >= threshold
    }
    if (due.isEmpty) None
    else Some(due.count { case (a, b) =>
      reported((math.min(a, b), math.max(a, b)))
    }.toDouble / due.size)
  }
}

object Stats {
  def sorted(xs: Seq[Double]): IndexedSeq[Double] = xs.toIndexedSeq.sorted

  def median(xs: Seq[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Work units per second over timed ops given as (kind, wall ms), with
    * every op's wall replaced by the median wall of its kind: a slow or
    * fast stretch of the host moves a kind's median only when it covers
    * half of that kind's samples. */
  def medianRate(items: Double, walls: Seq[(String, Double)]): Double = {
    val ms = walls.groupBy(_._1).values.map(ws => ws.size * median(ws.map(_._2)))
    items / (ms.sum / 1000.0)
  }

  /** The highest percentile that has at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = sorted(xs)
    if (s.size < 11) None
    else {
      val i = s.size - 11
      Some((100.0 * (i + 1) / s.size, s(i)))
    }
  }
}
