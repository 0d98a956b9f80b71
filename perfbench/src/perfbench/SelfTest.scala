package perfbench

import perfbench.Gen._

/** The benchmark's own checks of its generators and reference models.
  * Exits non-zero on the first failure. */
object SelfTest {
  private var n = 0
  private def expect(what: String, ok: Boolean): Unit = {
    n += 1
    if (!ok) { Console.err.println(s"selftest FAILED: $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    // same seed, same inputs; another seed, other inputs
    expect("dml preload repeats", dmlInitial(7, 2000, 4) == dmlInitial(7, 2000, 4))
    expect("dml preload varies with seed", dmlInitial(7, 2000, 4) != dmlInitial(8, 2000, 4))
    val odd = (k: Long) => k % 2 == 1
    expect("dml steps repeat",
      (0 until 20).map(dmlStep(7, _, 2000, odd)) == (0 until 20).map(dmlStep(7, _, 2000, odd)))
    expect("dml steps vary with seed",
      (0 until 20).map(dmlStep(7, _, 2000, odd)) != (0 until 20).map(dmlStep(8, _, 2000, odd)))
    expect("corpus repeats", corpusShard(7, 1, 300) == corpusShard(7, 1, 300))
    expect("corpus varies with seed", corpusShard(7, 1, 300) != corpusShard(8, 1, 300))

    // generator shape
    val preload = dmlInitial(7, 2000, 4)
    expect("dml preload covers every key once",
      preload.flatten.map(_.k).sorted == (0L until 2000L))
    (0 until 50).map(dmlStep(7, _, 2000, odd)).foreach { case (read, write) =>
      read match {
        case PointRead(k) => expect("reads draw live keys", odd(k))
        case _ => ()
      }
      write match {
        case Merge(rows) =>
          expect("merge source keys distinct", rows.map(_.k).distinct.size == rows.size)
          expect("merge source half live keys", rows.count(r => r.k < 2000 && odd(r.k)) == 100)
        case PointDelete(k) => expect("point delete draws a live key", odd(k))
        case RangeDelete(lo, hi) =>
          expect("predicate delete spans five live keys", (lo to hi).count(odd) == 5)
        case Update(lo, hi, _, _) => expect("update draws live keys", odd(lo) && odd(hi))
        case _ => ()
      }
    }
    val shard = corpusShard(7, 2, 400)
    expect("corpus ids unique", shard.docs.map(_.id).distinct.size == shard.docs.size)
    expect("planted share recorded",
      shard.planted.size == (400 * NearDupShare).round.toInt &&
        shard.exactCopies == (400 * ExactDupShare).round.toInt)

    // key model on hand cases
    val m = new KeyModel
    m.load(Seq(Rec(1, "g00", 10, "a"), Rec(2, "g01", 20, "b"), Rec(3, "g02", 30, "c")))
    expect("scan g00..g01", m.scan("g00", "g01") == ((2L, 30L)))
    expect("point delete removes", m.apply(PointDelete(2)) == Seq(Rec(2, "g01", 20, "b")) &&
      m.get(2).isEmpty)
    expect("delete of a dead key changes nothing", m.apply(PointDelete(2)).isEmpty)
    expect("update moves partition",
      m.apply(Update(3, 3, 5, Some("g00"))) == Seq(Rec(3, "g00", 35, "c")) &&
        m.scan("g00", "g00") == ((2L, 45L)))
    expect("range update skips dead keys", m.apply(Update(1, 3, 1, None)).size == 2)
    val merged = m.apply(Merge(Vector(Rec(1, "g05", 7, "x"), Rec(9, "g05", 8, "y"))))
    expect("merge upserts", merged.size == 2 && m.get(1).contains(Rec(1, "g05", 7, "x")) &&
      m.get(9).contains(Rec(9, "g05", 8, "y")) && m.size == 3)
    expect("range delete", m.apply(RangeDelete(0, 3)).map(_.k).toSet == Set(1L, 3L) &&
      m.size == 1)
    expect("checksum follows rows",
      m.checksum == ((1L, RowHash.rec(Rec(9, "g05", 8, "y")))))

    // plain-Scala pair check on hand cases
    expect("identical texts", PairCheck.jaccard("a b c d", "a b c d", 3) == 1.0)
    // trigrams {abc, bcd, cde} vs {abc, bcd, cdx}: 2 shared of 4
    expect("one edit", PairCheck.jaccard("a b c d e", "a b c d x", 3) == 0.5)
    expect("normalized", PairCheck.jaccard("A  b c", "a b c ", 3) == 1.0)
    val texts = Map(1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i x",
      3L -> "q r s t u v w")
    expect("pair above threshold passes",
      PairCheck.belowThreshold(Seq((1L, 2L)), texts, 3, 0.7).isEmpty)
    expect("pair below threshold reported",
      PairCheck.belowThreshold(Seq((1L, 3L)), texts, 3, 0.7) == Seq((1L, 3L)))
    expect("recall counts found planted pairs",
      PairCheck.recall(Seq((1L, 2L)), Set((1L, 2L)), texts, 3, 0.7) == Some(1.0) &&
        PairCheck.recall(Seq((1L, 2L)), Set.empty, texts, 3, 0.7) == Some(0.0))
    expect("recall ignores planted pairs below threshold",
      PairCheck.recall(Seq((1L, 3L)), Set.empty, texts, 3, 0.7).isEmpty)

    // tail rule: highest percentile with ten samples beyond it
    expect("no tail under 11 samples", Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    expect("tail of 20 samples", Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    // rate from per-kind medians: a: 100,100,400 -> 3 x 100; b: 500 -> 500
    expect("median rate", Stats.medianRate(8, Seq("a" -> 100.0, "b" -> 500.0, "a" -> 100.0,
      "a" -> 400.0)) == 10.0)
    println(s"selftest: $n checks passed")
  }
}
