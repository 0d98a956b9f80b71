package perfbench

import scala.util.Random

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generators. Everything the program receives is made here
  * from the run seed, so the same seed gives the same inputs. Pure Scala:
  * no Spark, so the self-test can compare generations directly. */
object Gen {
  private def rng(seed: Long, stream: Long, index: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ index)

  private def word(r: Random, len: Int): String =
    Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString

  // ----------------------------------------------------------- dml_mix

  final case class Rec(k: Long, grp: String, v: Long, tag: String)

  val Groups: Vector[String] = Vector.tabulate(6)(i => f"g$i%02d")

  def rawBytes(r: Rec): Long = 8 + r.grp.length + 8 + r.tag.length

  /** The preloaded table: keys 0 until nKeys, each assigned to one of
    * `appends` preload writes at random, so every partition holds several
    * files whose key ranges overlap (only the Bloom filter can skip). */
  def dmlInitial(seed: Long, nKeys: Int, appends: Int): Vector[Vector[Rec]] = {
    val r = rng(seed, 2, 0)
    val recs = Vector.tabulate(nKeys)(k =>
      (r.nextInt(appends),
        Rec(k.toLong, Groups(r.nextInt(Groups.size)), r.nextInt(1000000).toLong,
          word(r, 12 + r.nextInt(12)))))
    Vector.tabulate(appends)(a => recs.collect { case (`a`, rec) => rec })
  }

  sealed trait DmlOp { def name: String }
  final case class PointRead(k: Long) extends DmlOp { def name = "point_read" }
  final case class Scan(lo: String, hi: String) extends DmlOp { def name = "scan" }
  final case class PointDelete(k: Long) extends DmlOp { def name = "delete" }
  final case class RangeDelete(lo: Long, hi: Long) extends DmlOp {
    def name = "delete"
  }
  final case class Update(lo: Long, hi: Long, dv: Long, newGrp: Option[String])
    extends DmlOp { def name = "update" }
  final case class Merge(rows: Vector[Rec]) extends DmlOp { def name = "merge" }

  /** Zipf rank → key, scattered so hot keys land in different files. */
  private def hotKey(rank: Int, nKeys: Int): Long =
    ((rank.toLong * 7919L) % nKeys + nKeys) % nKeys

  /** dml_mix steps come in cycles of this many, each step one read then
    * one write. The kinds follow a fixed order (point reads and range
    * scans; point delete, point update, merge, predicate delete, an update
    * that moves rows across partitions) so every whole cycle holds the
    * same mix; keys, values and groups come from the seed. */
  val DmlCycle = 5

  /** Client step `step` of dml_mix. Keys are Zipf-hot and drawn among
    * the live ones (`alive`, from the key model), so every write changes
    * rows: a dead hot key moves on to the next live key. */
  def dmlStep(seed: Long, step: Int, nKeys: Int, alive: Long => Boolean): (DmlOp, DmlOp) = {
    val r = rng(seed, 3, step)
    val zipf = keyZipf(nKeys)
    def next(k: Long): Long = { var x = k; while (!alive(x)) x = (x + 1) % nKeys; x }
    def key(): Long = next(hotKey(zipf.sample(r), nKeys))
    /** The `n`th live key at or after a hot key, with the hot key. */
    def span(n: Int): (Long, Long) = {
      var lo = key()
      while (lo + 4 * n > nKeys) lo = key()
      var hi = lo; var seen = 1
      while (seen < n && hi + 1 < nKeys) { hi += 1; if (alive(hi)) seen += 1 }
      (lo, hi)
    }
    def group(): String = Groups(r.nextInt(Groups.size))
    val kind = step % DmlCycle
    val read =
      if (kind == 2 || kind == 4) {
        val a = r.nextInt(Groups.size - 2)
        Scan(Groups(a), Groups(a + 1 + r.nextInt(2)))
      } else PointRead(key())
    val write = kind match {
      case 0 => PointDelete(key())
      case 1 => val k = key(); Update(k, k, 1 + r.nextInt(100), None)
      case 2 =>
        val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
        while (keys.size < 100) keys += key()
        var fresh = nKeys.toLong + step.toLong * 1000L
        while (keys.size < 200) { keys += fresh; fresh += 1 }
        Merge(keys.toVector.map(k => Rec(k, group(), r.nextInt(1000000).toLong,
          word(r, 12 + r.nextInt(12)))))
      case 3 => val (lo, hi) = span(5); RangeDelete(lo, hi)
      case _ => val (lo, hi) = span(4); Update(lo, hi, 1 + r.nextInt(100), Some(group()))
    }
    (read, write)
  }

  private val zipfCache = scala.collection.concurrent.TrieMap.empty[Int, Zipf]
  private def keyZipf(nKeys: Int): Zipf =
    zipfCache.getOrElseUpdate(nKeys, new Zipf(nKeys, 1.05))

  // ------------------------------------------------------ corpus_dedup

  final case class Doc(id: Long, lang: String, text: String)
  /** A shard of documents plus what was planted in it: each near-duplicate
    * pair (original id, edited copy id) and the number of exact copies. */
  final case class Shard(docs: Vector[Doc], planted: Vector[(Long, Long)],
      exactCopies: Int)

  val Langs: Vector[String] = Vector("en", "de", "fr", "es", "it")
  /** Share of each shard that is an edited copy of another document. */
  val NearDupShare = 0.12
  /** Share of each shard that is an exact copy of another document. */
  val ExactDupShare = 0.03

  /** Per-language vocabularies, fixed (not seeded by the run) so the
    * languages keep their character across seeds. */
  private lazy val vocab: Map[String, Vector[String]] = {
    val syllables = Map(
      "en" -> Vector("th", "er", "on", "an", "re", "he", "in", "ed", "nd",
        "ha", "at", "en", "es", "of", "or", "nt", "ea", "ti", "to", "it"),
      "de" -> Vector("ch", "ei", "en", "er", "ie", "un", "de", "ge", "sch",
        "te", "be", "ich", "ung", "au", "st", "ver", "in", "ne", "zu", "ab"),
      "fr" -> Vector("le", "es", "de", "ou", "en", "re", "nt", "on", "ai",
        "qu", "eau", "ent", "que", "la", "ne", "oi", "te", "se", "ion", "me"),
      "es" -> Vector("de", "la", "que", "el", "en", "os", "as", "ar", "ci",
        "ad", "ero", "es", "ion", "ra", "do", "to", "mo", "ca", "ta", "na"),
      "it" -> Vector("di", "che", "la", "il", "to", "re", "no", "ta", "zio",
        "ne", "lo", "gli", "co", "ri", "per", "mo", "sse", "tt", "ia", "ve"))
    syllables.map { case (lang, syl) =>
      val r = new Random(lang.hashCode.toLong)
      val words = scala.collection.mutable.LinkedHashSet.empty[String]
      while (words.size < 4000)
        words += Iterator.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString
      lang -> words.toVector
    }
  }
  private val wordZipf = new Zipf(4000, 1.0)

  def corpusShard(seed: Long, shard: Int, nDocs: Int): Shard = {
    val r = rng(seed, 4, shard)
    val base = shard.toLong * 1000000L
    val nNear = (nDocs * NearDupShare).round.toInt
    val nExact = (nDocs * ExactDupShare).round.toInt
    val nOrig = nDocs - nNear - nExact
    val origs = Vector.tabulate(nOrig) { i =>
      val lang = Langs(r.nextInt(Langs.size))
      val v = vocab(lang)
      Doc(base + i, lang,
        Vector.fill(60 + r.nextInt(60))(v(wordZipf.sample(r))).mkString(" "))
    }
    val nearWithOrig = Vector.tabulate(nNear) { j =>
      val o = origs(r.nextInt(nOrig))
      val words = o.text.split(' ')
      val v = vocab(o.lang)
      (0 until 1 + r.nextInt(2)).foreach(_ =>
        words(r.nextInt(words.length)) = v(r.nextInt(v.size)))
      (Doc(base + nOrig + j, o.lang, words.mkString(" ")), o.id)
    }
    val near = nearWithOrig.map(_._1)
    val planted = nearWithOrig.map { case (d, origId) => (origId, d.id) }
    val exact = Vector.tabulate(nExact) { j =>
      val o = origs(r.nextInt(nOrig))
      Doc(base + nOrig + nNear + j, o.lang, o.text)
    }
    Shard(origs ++ near ++ exact, planted, nExact)
  }

  def rawBytes(d: Doc): Long = 8 + d.lang.length + d.text.length
}
