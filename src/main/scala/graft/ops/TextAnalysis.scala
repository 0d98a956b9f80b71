package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Text-analysis operators for training-data pipelines: token counting,
 * quality scoring, language identification, and document fingerprinting.
 * Everything is built from codegen'd string/array/regex functions — pure
 * row-local map work, no shuffle, so throughput scales linearly with
 * executor cores at any data size.
 */
object TextAnalysis {


  // --------------------------------------------------------- token counts

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword-friendly token count: word pieces, numbers, and each
    * punctuation/symbol char count as one token (a cheap but stable proxy
    * for byte-pair tokenizers). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /**
   * Corpus-scale frequent tokens by the sketch-proposes / exact-verifies
   * shape: ONE pass folds every token into a bounded Misra–Gries buffer
   * ([[graft.functions.MisraGriesSketch]] — at most `sketchK` counters per
   * task, merged map-side, so the shuffle carries counters instead of the
   * full distinct-token key space) alongside the exact total count; the
   * surviving ≤ `sketchK` candidates are then RE-COUNTED exactly with a
   * broadcast-membership filter and thresholded at `minShare` of the
   * corpus. The MG guarantee makes this EXACT, not approximate: every
   * token with true count > n/(sketchK+1) survives the merged sketch, so
   * with `sketchK + 1 ≥ 1/minShare` (enforced) no qualifying token can be
   * missed — the output equals the full `groupBy(token)` formulation
   * row-for-row while only ever shuffling O(sketchK) keys.
   *
   * At 100 TB the exact formulation's shuffle is the job (billions of
   * distinct tokens); here the wide pass is a single partial-aggregated
   * fold and the exact pass counts a ≤ sketchK-token slice.
   */
  def heavyHitters(
      df: DataFrame, textCol: String,
      minShare: Double = 0.01, sketchK: Int = 199): DataFrame = {
    require(minShare > 0 && minShare < 1, "minShare must be in (0,1)")
    require((sketchK + 1).toDouble * minShare >= 1.0,
      s"sketchK=$sketchK too small for minShare=$minShare: the MG guarantee " +
        "needs sketchK + 1 >= 1/minShare or true heavy hitters can be missed")
    val toks = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val sketch = toks.agg(
      count(lit(1)).as("n"),
      graft.functions.mg.misra_gries(col("token"), sketchK).as("mg")).head()
    val total = sketch.getLong(0)
    if (total == 0L)
      return toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .withColumn("share", col("cnt").cast("double"))
        .limit(0)
    val candidates = sketch.getSeq[org.apache.spark.sql.Row](1)
      .map(_.getString(0)) // bounded by sketchK, by construction
    toks.filter(col("token").isInCollection(candidates))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") > lit(minShare) * lit(total.toDouble))
      .withColumn("share", col("cnt").cast("double") / lit(total.toDouble))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  // ------------------------------------------- persisted heavy-hitter state

  /** Build the ≤ k MG counters + exact total for one corpus slice. */
  private def mgSketchOf(
      df: DataFrame, textCol: String, k: Int): (Seq[(String, Long)], Long) = {
    val row = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol)))
        .as("token"))
      .filter(col("token") =!= "")
      .agg(count(lit(1)).as("n"),
        graft.functions.mg.misra_gries(col("token"), k).as("mg")).head()
    (row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1))), row.getLong(0))
  }

  /** Rebuild an [[graft.functions.MgBuffer]] from persisted counter rows —
    * direct puts, NOT adds: the rows ARE the summary, re-adding would
    * re-trigger decrements. */
  private def mgBufferFrom(
      k: Int, counters: Seq[(String, Long)]): graft.functions.MgBuffer = {
    val b = new graft.functions.MgBuffer(k)
    counters.foreach { case (item, w) =>
      b.counts.put(org.apache.spark.unsafe.types.UTF8String.fromString(item), w)
    }
    b
  }

  /**
   * Persist the Misra–Gries heavy-hitter state — the "index is the
   * state" posture for FREQUENCY telemetry: the whole state is ≤ k
   * counter rows plus the exact token total (O(k) bytes at any corpus
   * size), so maintaining it costs one bounded fold per batch and NO
   * corpus re-scan, while the mergeable-summaries bound keeps the
   * guarantee corpus-wide: after any sequence of appends, every token
   * with true count > total/(k+1) is among the stored counters.
   *
   * Layout: a [[graft.sink.FsOps.publishGeneration]] generation tree —
   * the state is tiny, so each append publishes a complete new
   * generation (`counters/`, `totals/`, `seen/` replay tags) behind one
   * atomic MANIFEST flip; a replayed stream batch finds its
   * (id, content-fingerprint) tag in `seen/` and skips, so at-least-once
   * delivery cannot double-count. The tag is content-derived
   * ([[graft.streaming.ReplayGuard]]) — batch ids ALONE are lineage-
   * scoped (a restart without a durable checkpoint re-issues ids from 0)
   * and would silently DROP colliding new batches; with the fingerprint
   * in the key, only a genuine re-delivery matches.
   */
  def writeHhState(
      df: DataFrame, textCol: String, path: String, k: Int = 199): Unit = {
    require(k > 0, "k must be positive")
    val (counters, total) = mgSketchOf(df, textCol, k)
    publishHhGeneration(df.sparkSession, path, k, counters, total, Seq.empty)
  }

  private def publishHhGeneration(
      spark: org.apache.spark.sql.SparkSession, path: String, k: Int,
      counters: Seq[(String, Long)], total: Long,
      seen: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    graft.sink.GenerationState.publish(spark, path, Seq(
      "counters" -> counters.toDF("item", "weight"),
      "totals" -> Seq((total, k)).toDF("total", "k")), seen)
  }

  private def liveHhRoot(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    graft.sink.GenerationState.liveRoot(spark, path, "heavy-hitter state")

  /**
   * Fold one batch into the stored state: batch sketch (k frozen by the
   * stored geometry) merges with the stored counters driver-side — both
   * are ≤ k entries — and the result publishes as the next generation.
   * `batchId` (from foreachBatch) makes replays converge: the batch's
   * (id, content-fingerprint) tag already recorded in the live
   * generation's `seen/` is skipped whole. The fingerprint keeps the
   * guard safe across checkpoint lineages — a fresh checkpoint re-issues
   * ids from 0, and id-only dedup would silently drop that real data.
   */
  def appendToHhState(
      batch: DataFrame, textCol: String, path: String,
      batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    // ONE generation resolution for the whole append (the liveIndexRoot
    // discipline) — all reads below come from the same immutable tree
    val live = liveHhRoot(spark, path)
    // seen-tag + replay-match rules live in ONE place
    // (GenerationState) shared with the quantile state lane
    val seen = graft.sink.GenerationState.seenTags(spark, live)
    val tag = batchId.map(id =>
      (id, graft.streaming.ReplayGuard.fingerprint(batch.select(col(textCol)))))
    if (graft.sink.GenerationState.isReplay(seen, tag)) return
    val t = spark.read.parquet(s"$live/totals").head()
    val (total, k) = (t.getLong(0), t.getInt(1))
    val stored = spark.read.parquet(s"$live/counters")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (batchCounters, batchTotal) = mgSketchOf(batch, textCol, k)
    // an empty batch must not burn a generation publish (the
    // componentsStream discipline) — and it contributes nothing on a
    // replay either, so skipping keeps exactly-once intact
    if (batchTotal == 0L) return
    val merged = mgBufferFrom(k, stored)
    merged.merge(mgBufferFrom(k, batchCounters))
    publishHhGeneration(spark, path, k,
      merged.sorted.map { case (i, w) => (i.toString, w) }.toSeq,
      total + batchTotal, seen ++ tag)
  }

  /** The stored counters with their share LOWER BOUNDS — the health read
    * of the heavy-hitter state (no corpus access; weights under-estimate
    * true counts by at most total/(k+1)). */
  def hhStateCandidates(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val live = liveHhRoot(spark, path)
    val total = spark.read.parquet(s"$live/totals").head().getLong(0)
    spark.read.parquet(s"$live/counters")
      .select(col("item"), col("weight"),
        (col("weight").cast("double") / lit(total.toDouble)).as("share_lb"))
      .orderBy(col("weight").desc, col("item").asc)
  }

  /**
   * EXACT heavy hitters from the maintained state: the stored candidates
   * are re-counted over the corpus and thresholded — by the maintained
   * guarantee this is row-identical to [[heavyHitters]] run directly
   * (`sketchK+1 ≥ 1/minShare` enforced against the stored k), so the
   * incremental state earns the direct path's oracle. The corpus scan
   * happens HERE, on demand — the per-batch maintenance never scans it.
   */
  def heavyHittersFromState(
      corpus: DataFrame, textCol: String, path: String,
      minShare: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val live = liveHhRoot(spark, path)
    val k = spark.read.parquet(s"$live/totals").head().getInt(1)
    require((k + 1).toDouble * minShare >= 1.0,
      s"stored k=$k too small for minShare=$minShare")
    val candidates = spark.read.parquet(s"$live/counters")
      .collect().map(_.getString(0)).toSeq
    val toks = corpus
      .select(explode(graft.functions.hashes.word_tokens(col(textCol)))
        .as("token"))
      .filter(col("token") =!= "")
    val total = toks.count()
    toks.filter(col("token").isInCollection(candidates))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") > lit(minShare) * lit(total.toDouble))
      .withColumn("share", col("cnt").cast("double") / lit(total.toDouble))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  /**
   * Continuous heavy-hitter maintenance: each micro-batch folds into the
   * persisted state through [[appendToHhState]] with its batch id (the
   * stateless-foreachBatch posture — the STATE TREE is the state, replays
   * skip on their content-derived tag, so the guard survives checkpoint-
   * lineage changes). Pass `checkpointLocation` for restartable streams.
   * Frequency telemetry stays current without any corpus scan.
   */
  def hhStream(
      stream: DataFrame, textCol: String, path: String,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendToHhState(batch.toDF(), textCol, path, Some(id))
      }
    checkpointLocation.foldLeft(w)((x, c) =>
      x.option("checkpointLocation", c)).start()
  }

  // --------------------------------------------------------- quality score

  /** Character-class counts and ratios used by the quality heuristic.
    * Ratios are single double divisions of exact integer counts —
    * deterministic across engines. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val nDigit = length(regexp_replace(t, "[^0-9]", ""))
    val nPunct = length(regexp_replace(t, "[^.,;:!?'\"()\\[\\]{}-]", ""))
    val nWs = length(regexp_replace(t, "[^ \\t\\n]", ""))
    val toks = split(trim(t), "\\s+")
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      size(toks).as("n_tokens"),
      (nAlpha.cast("double") / nChars).as("alpha_ratio"),
      (nDigit.cast("double") / nChars).as("digit_ratio"),
      (nPunct.cast("double") / nChars).as("punct_ratio"),
      (nWs.cast("double") / nChars).as("ws_ratio"),
      (nChars.cast("double") / size(toks)).as("mean_token_len"))
  }

  /** Composite quality score in [0,1]: penalizes extreme length, low
    * alphabetic content, and punctuation/digit noise. Thresholds follow
    * common web-corpus filtering heuristics (Gopher/C4-style rules). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val f = qualityFeatures(df, idCol, textCol)
    val lenOk = when(col("n_tokens").between(10, 100000), 1.0).otherwise(0.0)
    val alphaOk = when(col("alpha_ratio") >= 0.6, 1.0).otherwise(col("alpha_ratio") / 0.6)
    val punctOk = when(col("punct_ratio") <= 0.2, 1.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - (col("punct_ratio") - 0.2) * 5))
    val tokLenOk = when(col("mean_token_len").between(3.0, 12.0), 1.0).otherwise(0.5)
    // emitted UNROUNDED: every input is an exact-integer ratio and the op
    // sequence is fixed, so the IEEE double is bit-identical in any engine
    // computing the same expression — while round(x, 4) is engine-dependent
    // near .xxxx5 boundaries (Spark rounds the shortest decimal repr,
    // others round the binary value)
    f.withColumn("quality_score",
      (lenOk * 2 + alphaOk * 4 + punctOk * 2 + tokLenOk * 2) / 10.0)
  }

  // ------------------------------------------------------------- lang id

  /** Tiny built-in stopword profiles (top function words per language).
    * Public knowledge; enough to separate major European languages on
    * natural text. */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "es", "un", "una", "por"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "non", "sono"),
  )

  /** N-gram/stopword-heuristic language ID: score = fraction of tokens in
    * each language's stopword list; argmax with deterministic tiebreak
    * (language code order), "und" (undetermined) if no stopword hits. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokens bound to a column: the inline split would be re-evaluated once
    // per language profile plus once for the denominator (6× per row)
    val withToks = df.withColumn("__w", graft.functions.hashes.word_tokens(col(textCol)))
    val toks = col("__w")
    val scored = StopwordProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words: _*)))
      struct((hits.cast("double") / size(toks)).as("score"), lit(lang).as("lang"))
    }
    // argmax by (score desc, lang asc): array_max on (score, negated-lang)
    // isn't expressible, so sort the struct array and take the best element.
    val best = element_at(
      array_sort(array(scored: _*), (a, b) =>
        when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1)
          .when(a("lang") < b("lang"), -1)
          .when(a("lang") > b("lang"), 1)
          .otherwise(0)), 1)
    withToks.select(col(idCol),
      when(best("score") > 0, best("lang")).otherwise(lit("und")).as("lang_pred"),
      // unrounded — a single int/int double division is bit-identical
      // cross-engine; round(x, 4) is not (see qualityScore note)
      best("score").as("lang_score"))
  }

  // ------------------------------------------------------------- search

  /** Keyword search with exact term-frequency ranking: score(doc) =
    * (Σ term occurrences) / |tokens| over the normalized token stream,
    * top-k with deterministic id tiebreak. Row-local scoring + TakeOrdered
    * — no inverted index needed for one-shot queries; pair with the
    * inverted-index machinery in [[Dedup]] for repeated-query serving. */
  def termSearch(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty)
    // tokens bound to a column (inline split would re-evaluate per term)
    val withToks = df.withColumn("__w", graft.functions.hashes.word_tokens(col(textCol)))
    val toks = col("__w")
    val hits = terms.map(t =>
      size(filter(toks, tok => tok === lit(t.toLowerCase)))).reduce(_ + _)
    withToks.select(col(idCol), hits.as("n_hits"), size(toks).as("n_tokens"))
      .filter(col("n_hits") > 0)
      .withColumn("score", col("n_hits").cast("double") / col("n_tokens"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * BM25-ranked keyword search (Robertson/Sparck Jones weighting with the
   * +1 idf variant, as in Lucene): score(d) = Σ_t idf(t) ·
   * tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
   * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
   *
   * Two distributed passes: one aggregate for the corpus statistics (N,
   * total length, per-term document frequency — all EXACT integers, so the
   * driver-computed idf literals are engine-reproducible; `ln` itself is
   * bit-identical across JVM/DuckDB libm on this platform, verified in the
   * oracle gate) and one row-local scoring scan + TakeOrdered. The corpus
   * stats row is a single driver row regardless of corpus size.
   */
  def bm25Search(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty)
    val lower = terms.map(_.toLowerCase)
    val withToks = df.withColumn("__w", graft.functions.hashes.word_tokens(col(textCol)))
    val base = withToks.select(
      (col(idCol) +: size(col("__w")).as("__dl") +:
        lower.zipWithIndex.map { case (t, i) =>
          size(filter(col("__w"), tok => tok === lit(t))).as(s"__tf_$i")
        }): _*)
    // one aggregate pass over exact integers: N, Σ|d|, df per term
    val statsRow = base.agg(
      count(lit(1)).as("n"),
      (sum(col("__dl").cast("long")) +:
        lower.indices.map(i =>
          sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)))): _*).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val idfs = lower.indices.map { i =>
      val dft = statsRow.getLong(2 + i)
      math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
    }
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl").cast("double") / lit(avgdl)))
    val score = lower.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      lit(idfs(i)) * (tf * lit(k1 + 1.0)) / (tf + norm)
    }.reduce(_ + _)
    val anyHit = lower.indices.map(i => col(s"__tf_$i") > 0).reduce(_ || _)
    base.filter(anyHit)
      .select(col(idCol), score.as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Persist a BM25 text index — the keyword-retrieval twin of
   * [[Similarity.writeIvfIndex]]'s layout philosophy: make the per-query
   * filter a property of the directory tree. One corpus pass writes
   *  - `postings/` — (term, doc_id, tf), PARTITIONED by the term's
   *    md5-prefix bucket (256 directories): a query's terms map to a
   *    handful of buckets, so the postings scan is directory-pruned
   *    before any row is read — the inverted-index analogue of probing
   *    nProbe of nCells,
   *  - `doclen/` — (doc_id, dl) for the length normalization,
   *  - `totals/` — one row (n docs, Σdl): the corpus-level stats.
   * Per-term document frequencies are NOT precomputed: df(t) is an exact
   * count over t's (pruned) posting list at query time, so appends to
   * the index keep idf exact with no stats maintenance.
   *
   * The md5 bucket (not xxhash) keeps the whole layout
   * oracle-derivable; the build is amortized across every later query,
   * and [[bm25SearchIndexed]] returns rows IDENTICAL to [[bm25Search]]
   * over the same corpus (same exact-integer stats, same driver idf
   * literals, same term-order score fold — pinned by test and by the
   * shared DuckDB oracle).
   */
  def writeTextIndex(
      df: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val toks = df.select(col(idCol).as("doc_id"),
      graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
    toks.select(col("doc_id"), size(col("__w")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$path/doclen")
    spark.read.parquet(s"$path/doclen")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/totals")
    toks.select(col("doc_id"), explode(col("__w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", substring(md5(col("term").cast("binary")), 1, 2))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  /**
   * Append a document batch to a [[writeTextIndex]] tree WITHOUT
   * rebuilding: new posting rows land inside their terms' existing
   * bucket directories, doc lengths append beside them, and the 1-row
   * totals sidecar is recomputed from the (doc-count-sized) doclen
   * table. Because df is counted at query time and the md5 bucket of a
   * term never changes, an appended index is EXACTLY a fresh build over
   * the union corpus — no drift, no stale statistics, no rebuild policy
   * needed (contrast [[Similarity.appendToIvfIndex]], whose sampled
   * centroid geometry is frozen); pinned by an equality test. Same
   * single-writer discipline: the totals rewrite is the only
   * non-additive step.
   */
  def appendToTextIndex(
      batch: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    // exactly-once posture (the appendToDupGraph/appendToIvfIndex
    // discipline): a foreachBatch re-delivery must converge, not
    // double-count. Each tree anti-joins against ITS OWN stored doc ids —
    // a single doclen-keyed filter would leave a crash between the two
    // appends permanently unhealable (docs with doclen rows but no
    // postings that every replay then skips). Independently-converging
    // trees make any replay heal whichever tree the crash left behind.
    // Both fresh sets are materialized before any write so neither scan
    // races its own appended files.
    val toksAll = batch.select(col(idCol).as("doc_id"),
      graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
    val freshLens = toksAll
      .select(col("doc_id"), size(col("__w")).cast("long").as("dl"))
      .join(spark.read.parquet(s"$path/doclen").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val freshPostings = toksAll
      .select(col("doc_id"), explode(col("__w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      // the anti-join's right side is one column-pruned doc_id scan of
      // the postings tree (posting-row-count-sized, never re-tokenized)
      .join(spark.read.parquet(s"$path/postings")
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    freshLens.write.mode("append").parquet(s"$path/doclen")
    freshPostings
      .withColumn("bucket", substring(md5(col("term").cast("binary")), 1, 2))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/postings")
    spark.read.parquet(s"$path/doclen")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/totals")
  }

  /**
   * Continuous text-index maintenance: every micro-batch of a document
   * stream appends through [[appendToTextIndex]] — the same stateless
   * foreachBatch posture as the IVF index stream (no streaming state
   * store; the INDEX is the state), and queries see each batch as soon
   * as its files land.
   */
  def appendStreamToTextIndex(
      stream: DataFrame, idCol: String, textCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        appendToTextIndex(batch.toDF(), idCol, textCol, path): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /**
   * Posting-list health for a [[writeTextIndex]] tree: the top-`k` terms
   * by document frequency with their corpus share — the STOP-GRAM report
   * (the text-index analogue of [[Similarity.ivfIndexHealth]]). A term
   * appearing in most documents makes every query touching it scan a
   * corpus-sized posting list, exactly like a hot IVF cell; this report
   * is what feeds `maxDocFreq`-style caps (see
   * [[Dedup.ngramJaccardPairs]]) and stop-term lists. One count
   * aggregate over the postings table (df = posting rows per term, no
   * text re-scan) + TakeOrdered; `n` comes from the 1-row totals
   * sidecar.
   */
  def textIndexTopDf(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int = 50): DataFrame = {
    val n = spark.read.parquet(s"$path/totals").head().getLong(0)
    spark.read.parquet(s"$path/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("df_share", col("df").cast("double") / lit(n.toDouble))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /**
   * BM25 search over a [[writeTextIndex]] tree. The query terms'
   * md5-prefix buckets become an `isin` PARTITION FILTER on the postings
   * scan (unrequested buckets are never read); df per term is an exact
   * count over the pruned posting lists; N and avgdl come from the
   * 1-row totals sidecar. Scoring pivots the ≤|terms| posting lists to
   * per-term tf columns and applies [[bm25Search]]'s exact expression —
   * same idf literals, same term-order floating fold (a doc's missing
   * term contributes an exact 0.0) — so the two paths are row-identical
   * by construction. The only corpus-sized input touched is `doclen`,
   * joined once against the matched-candidate set.
   */
  def bm25SearchIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], k: Int, idCol: String = "doc_id",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty)
    val lower = terms.map(_.toLowerCase)
    val md = java.security.MessageDigest.getInstance("MD5")
    val buckets = lower.map { t =>
      md.reset()
      md.digest(t.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    }.distinct
    // deliberately NOT cached: the pruned posting lists are read twice
    // (df counts now, candidate pivot at evaluation time), but both reads
    // are directory-pruned and bounded by Σ df(t) — stateless beats
    // holding blocks across the caller's lifetime (the collocations
    // lesson: no leftover persists for a harness to clean up)
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(lower: _*))
      .select(col("term"), col("doc_id"), col("tf"))
    val dfByTerm = post.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = spark.read.parquet(s"$path/totals").head()
    val n = totals.getLong(0)
    val avgdl = totals.getLong(1).toDouble / n
    val idfs = lower.map { t =>
      val dft = dfByTerm.getOrElse(t, 0L)
      math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
    }
    val cand = post.groupBy("doc_id").agg(
      sum(when(col("term") === lower.head, col("tf")).otherwise(0L))
        .as("__tf_0"),
      lower.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf_$i")
      }: _*)
    val scored = cand.join(spark.read.parquet(s"$path/doclen"), Seq("doc_id"))
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val score = lower.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      lit(idfs(i)) * (tf * lit(k1 + 1.0)) / (tf + norm)
    }.reduce(_ + _)
    scored.select(col("doc_id").as(idCol), score.as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Vocabulary coverage / OOV scoring: per document, the fraction of its
   * token stream outside a reference vocabulary (e.g. a tokenizer's word
   * list, or the corpus head from [[Relational.topTokens]]). High OOV is a
   * standard quality/noise signal for training-data filtering.
   *
   * Shape: explode tokens once, mark membership with ONE broadcast left
   * join against the (distinct) vocabulary, and aggregate count+sum per
   * document — the corpus side shuffles only (id, flag) pairs, and the
   * vocabulary can be arbitrarily large without turning into a per-row
   * `isin` literal scan. Documents with no tokens are omitted (no 0/0
   * ratio row). Ratios are single divisions of exact integer counts —
   * deterministic cross-engine.
   */
  def vocabCoverage(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, vocabTokenCol: String = "token"): DataFrame = {
    val toks = df.select(col(idCol),
      explode(graft.functions.hashes.word_tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val marked = toks.join(
      broadcast(vocab.select(col(vocabTokenCol).as("token")).distinct()
        .withColumn("__in", lit(1L))),
      Seq("token"), "left")
    marked.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_tokens"),
      sum(coalesce(col("__in"), lit(0L))).as("n_invocab"))
      .withColumn("oov_ratio",
        lit(1.0) - col("n_invocab").cast("double") / col("n_tokens"))
  }

  // ------------------------------------------------------- repetition

  /**
   * Gopher-style within-document repetition signals over word `n`-grams
   * (the corpus has no line structure, so the line/paragraph variants of
   * the heuristic are expressed on token n-grams): per document,
   *  - `n_grams` / `n_distinct` — total and distinct n-gram counts,
   *  - `dup_fraction` — fraction of n-gram occurrences whose gram occurs
   *    more than once (the "duplicate n-gram character fraction" proxy),
   *  - `top_gram` / `top_fraction` — the most frequent n-gram (count desc,
   *    gram asc tiebreak) and its share of all occurrences.
   * High values flag boilerplate/templated/degenerate documents.
   *
   * Scale shape: the statistics are inherently PER-DOCUMENT, so they are
   * computed by the native one-pass [[graft.functions.RepetitionStats]]
   * expression — zero shuffle at any corpus size (the declarative
   * explode → per-(doc,gram) aggregate → per-doc window formulation pays
   * two corpus-wide shuffles for row-local work and was measured ~4×
   * slower at sf0.1). Ratios are single divisions of exact integer counts
   * (engine-exact, see oracle). Documents whose gram stream is empty
   * (empty/whitespace-only text) are omitted, matching the aggregate
   * formulation and the SQL oracle.
   */
  def repetitionSignals(
      df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    require(n > 0)
    val st = col("__st")
    df.select(col(idCol),
      graft.functions.hashes.repetition_stats(col(textCol), n).as("__st"))
      .filter(st("n_grams") > 0)
      .select(col(idCol),
        st("n_grams").as("n_grams"),
        st("n_distinct").as("n_distinct"),
        st("n_dup").as("n_dup"),
        (st("n_dup").cast("double") / st("n_grams")).as("dup_fraction"),
        st("top_gram").as("top_gram"),
        (st("top_cnt").cast("double") / st("n_grams")).as("top_fraction"))
  }

  // -------------------------------------------------------- surprisal

  /**
   * Unigram-LM cross-entropy (perplexity proxy) per document — the
   * standard cheap stand-in for KenLM perplexity filtering: score(d) =
   * −(Σ ln p(tok)) / n over d's normalized tokens, with p(tok) =
   * corpusCount(tok)/totalTokens and an add-one floor for tokens outside
   * the top-`vocabSize` vocabulary. High cross-entropy = improbable token
   * stream = noise/garble candidate; low = likely boilerplate.
   *
   * Two passes, both scale-safe: (1) one distributed aggregate builds the
   * corpus unigram table, of which only the BOUNDED top-`vocabSize` head
   * (count desc, token asc — deterministic at the cut) is collected and
   * embedded in the plan as a literal lookup; (2) one row-local native
   * pass ([[graft.functions.UnigramLogProb]]) scores every document with
   * zero shuffle. The sequential per-document double fold and
   * bit-identical `ln` make the whole thing oracle-checkable (list_sum
   * over an ord-sorted list folds identically — the ivf_refined
   * precedent).
   */
  def unigramSurprisal(
      df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    val counts = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .cache()
    // empty corpus: sum over no rows is null — read 0, don't throw
    val total = counts.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val vocab: Map[String, Long] = counts
      .orderBy(col("n").desc, col("token").asc).limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.unpersist(blocking = true)
    val st = col("__st")
    df.select(col(idCol),
      graft.functions.hashes.unigram_logprob(col(textCol), vocab, total).as("__st"))
      .filter(st("n_tokens") > 0)
      .select(col(idCol),
        st("n_tokens").as("n_tokens"),
        (-(st("sum_logp") / st("n_tokens"))).as("cross_entropy"))
  }

  /**
   * Bigram language-model surprisal — the CONDITIONAL sibling of
   * [[unigramSurprisal]] and a sharper fluency filter: scrambled or
   * templated text keeps plausible unigrams but implausible transitions,
   * so its conditional cross-entropy rises where the unigram score
   * stays flat. Per document: n_pairs and
   * cross_entropy = −(Σ ln p(w₂|w₁))/n over adjacent non-empty token
   * pairs in order, with p = c(w₁w₂)/max(c(w₁), c(w₁w₂)) and counts
   * outside the bounded top-K vocabularies floored to 1 (the documented
   * proxy rule of [[graft.functions.BigramLogProb]]).
   *
   * Same two-pass scale shape as the unigram: bounded corpus tables
   * (top-`bigramVocab` bigrams, top-`unigramVocab` unigrams — count
   * desc, key asc, deterministic at the cut) collected once and embedded
   * as plan literals; then one zero-shuffle row-local native pass.
   * Oracle-checkable end-to-end (fixed fold order + bit-identical ln).
   */
  def bigramSurprisal(
      df: DataFrame, idCol: String, textCol: String,
      bigramVocab: Int = 4000, unigramVocab: Int = 1000): DataFrame = {
    // one tokenize pass feeds both vocab builds (the trigramSurprisal
    // discipline): pin the token arrays, release after the collects
    val toks = df.select(graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
      .persist()
    try {
    val w = col("__w")
    val uni: Map[String, Long] = toks
      .select(explode(w).as("token")).filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(unigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi: Map[String, Long] = toks
      .filter(size(w) >= 2)
      .select(explode(transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b"))))
        .as("p"))
      .filter(col("p.a") =!= "" && col("p.b") =!= "")
      .select(concat_ws(" ", col("p.a"), col("p.b")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(bigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = col("__st")
    df.select(col(idCol),
      graft.functions.hashes.bigram_logprob(col(textCol), bi, uni).as("__st"))
      .filter(st("n_pairs") > 0)
      .select(col(idCol),
        st("n_pairs").as("n_pairs"),
        (-(st("sum_logp") / st("n_pairs"))).as("cross_entropy"))
    } finally toks.unpersist(blocking = false): Unit
  }

  /**
   * Interpolated trigram surprisal — the KenLM-shaped rung above
   * [[bigramSurprisal]]: per token triple,
   * `p = ½·p(w₃|w₁w₂) + ⅜·p(w₃|w₂) + ⅛·p(w₃)`, cross-entropy
   * `−Σln(p)/n`. Interpolation backs off smoothly where the conditional
   * models have no evidence (unseen orders contribute 0; the unigram
   * floor keeps p > 0), which is what separates rare-but-well-formed
   * text from genuinely implausible continuations. The three count
   * tables are bounded top-K driver literals (one aggregate each — the
   * bounded-global-context pattern); scoring is one zero-shuffle native
   * pass. λ are dyadic so all pre-ln arithmetic is cross-engine
   * bit-identical; the final round(·, 6) absorbs ln's 1-ulp libm wobble
   * (the char_entropy discipline).
   */
  def trigramSurprisal(
      df: DataFrame, idCol: String, textCol: String,
      trigramVocab: Int = 8000, bigramVocab: Int = 4000,
      unigramVocab: Int = 1000): DataFrame = {
    // ONE tokenize pass feeds the three vocab builds: the unigram,
    // bigram and trigram aggregates each explode the SAME token arrays,
    // so the arrays are pinned for the operator's lifetime (released
    // below) instead of re-running the tokenizer per pass (guide §1.2)
    val toks = df.select(graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
      .persist()
    try {
    val w = col("__w")
    // the corpus token TOTAL is the sum over the unigram count table —
    // same number as a separate corpus-wide count() pass, zero extra
    // scans (the counts are vocabulary-sized)
    val uniCounts = toks.select(explode(w).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .persist()
    // coalesce: sum over an EMPTY count table is null, and an all-blank
    // corpus must read total=0 (the pre-one-pass behavior), not throw
    val total: Long = uniCounts.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val uni: Map[String, Long] = uniCounts
      .orderBy(col("n").desc, col("token").asc).limit(unigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    uniCounts.unpersist(blocking = false)
    val bi: Map[String, Long] = toks
      .filter(size(w) >= 2)
      .select(explode(transform(sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b"))))
        .as("p"))
      .filter(col("p.a") =!= "" && col("p.b") =!= "")
      .select(concat_ws(" ", col("p.a"), col("p.b")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(bigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tri: Map[String, Long] = toks
      .filter(size(w) >= 3)
      .select(explode(transform(sequence(lit(0), size(w) - 3),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b"),
          element_at(w, i + 3).as("c"))))
        .as("p"))
      .filter(col("p.a") =!= "" && col("p.b") =!= "" && col("p.c") =!= "")
      .select(concat_ws(" ", col("p.a"), col("p.b"), col("p.c")).as("tripl"))
      .groupBy("tripl").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tripl").asc).limit(trigramVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = col("__st")
    df.select(col(idCol),
      graft.functions.hashes.trigram_logprob(col(textCol), tri, bi, uni, total)
        .as("__st"))
      .filter(st("n_triples") > 0)
      .select(col(idCol),
        st("n_triples").as("n_triples"),
        round(-(st("sum_logp") / st("n_triples")), 6).as("cross_entropy_r"))
    } finally toks.unpersist(blocking = false): Unit
  }

  /**
   * Collocation extraction: top token bigrams by pointwise mutual
   * information, PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ), with a minimum
   * bigram count to suppress noise. The workhorse for multi-word-entity
   * and phrase discovery over a corpus.
   *
   * Shape: one bigram aggregate + one unigram aggregate, a frequency
   * prune BEFORE any join (only bigrams with `minCount`+ survive), two
   * key-joins to attach component counts, and TakeOrdered. Totals ride
   * along from single-row aggregates. All counts are exact integers.
   *
   * Emits the LIFT ratio p(ab)/(p(a)p(b)) — ln's argument — rather than
   * PMI itself: ln is strictly monotone, so the ranking is identical, and
   * the ratio is one FIXED double op sequence over exact-int factors
   * (bit-identical cross-engine), while ln itself differs by an ulp
   * between glibc and the JVM intrinsic on some inputs (observed at
   * sf0.1). PMI = ln(lift) is a presentation transform for callers.
   */
  def collocations(
      df: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = df.select(graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 2) // element_at stays in bounds (ANSI)
    val w = col("__w")
    val pairs = toks.select(explode(transform(
        sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b"))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val uni = df.select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("ct"))
      .cache()
    // aggregate once; the total and the pruned set both derive from the
    // cached (small) count table, not from a second pass over the corpus
    val biAll = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab")).cache()
    val bi = biAll.filter(col("cab") >= minCount)
    val nUni = uni.agg(sum(col("ct"))).head().getLong(0)
    val nBi = biAll.agg(sum(col("cab"))).head().getLong(0)
    val lift =
      (col("cab").cast("double") * lit(nUni.toDouble) * lit(nUni.toDouble)) /
        (lit(nBi.toDouble) * col("ca").cast("double") * col("cb").cast("double"))
    val out = bi
      .join(uni.select(col("t").as("a"), col("ct").as("ca")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("ct").as("cb")), Seq("b"))
      .select(col("a"), col("b"), col("cab"), lift.as("lift"))
      .orderBy(col("lift").desc, col("a").asc, col("b").asc)
      .limit(k)
      .localCheckpoint()
    uni.unpersist(blocking = true)
    biAll.unpersist(blocking = true)
    out
  }

  /**
   * One REAL merge iteration of BPE tokenizer induction — beyond the
   * counting step (`text_bpe_pairs`): find the corpus-wide most frequent
   * adjacent in-word character pair, apply that merge to every word, and
   * re-count adjacent SYMBOL pairs over the merged sequences (round-2
   * statistics, i.e. what the next merge decision would rank).
   *
   * The candidate pair is restricted to two DISTINCT characters so merge
   * occurrences cannot overlap and the merged symbol sequence is a pure
   * position-wise function of the word: position i starts a symbol unless
   * the pair begins at i-1, and a symbol is the merged pair when it begins
   * at i. (A self-overlapping pair like "aa" merges greedily left-to-right,
   * whose run-parity arithmetic is a sequential fold — not expressible as
   * portable set-oriented SQL. English-like corpora rank distinct-char
   * pairs on top anyway.)
   *
   * The top pair is ONE row collected to the driver and embedded as a
   * literal — the bounded-global-context pattern used for top-K vocab and
   * BM25 stats; everything else is per-word map work + one count
   * aggregation, fully distributed at any corpus size.
   */
  def bpeMergeRound(df: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    // NOT cached: both jobs rebuild words from the (column-pruned) scan +
    // one native word_tokens pass — cheaper than writing and reading a
    // many-million-row exploded-string cache between two jobs
    val words = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
    val w = col("w")
    val top = words
      .select(explode(transform(sequence(lit(1), length(w) - 1),
        i => w.substr(i, lit(2)))).as("pair"))
      .filter(substring(col("pair"), 1, 1) =!= substring(col("pair"), 2, 1))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(1)
      .head().getString(0)
    // round 2 is one native pass per word (merge scan + pair emit); the
    // declarative form (filter/transform with ~3 interpreted substr
    // evaluations per character) measured ~4x slower at sf0.1
    words
      .select(explode(
        graft.functions.hashes.bpe_round2_pairs(w, top)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /**
   * Full BPE tokenizer induction: `nMerges` REAL merge rounds — the
   * general-k extension of [[bpeMergeRound]]. Each round counts adjacent
   * symbol pairs over the corpus with ALL previous merges applied (native
   * [[graft.functions.BpePairsWithMerges]] pass, standard greedy
   * priority-order apply with multi-character symbols) and adopts the most
   * frequent pair (count desc, pair asc tiebreak — deterministic). The
   * driver holds only the merge table (nMerges strings — the same bounded
   * global-context pattern as IVF centroids and top-K vocab); each round
   * is one fully-distributed count job, so corpus size only scales the
   * per-round pass, never driver state. Returns (merge_rank, pair, n).
   *
   * The greedy sequential apply is not SQL-expressible, so this operator
   * is contract-verified by exact equality against a driver-side
   * reference trainer in `TextAnalysisSpec` rather than a DuckDB oracle.
   */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Tokenize ONCE, materialized: the merge loop reads `words` k times,
    // and without persistence each round would repeat the corpus scan +
    // word_tokens pass — k tokenize passes where one suffices (contrast
    // the deliberately-uncached single-round bpeMergeRound, whose two
    // jobs don't amortize a write). DISK_ONLY, not memory: the exploded
    // word column is corpus-sized, and the k counting passes stream it
    // from local spill instead of evicting executor cache at 100 TB.
    val words = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // DELTA pair counting — the classic BPE-at-scale play: only round 1
    // counts every word; after adopting merge (a,b), exactly the words in
    // which a and b were adjacent change their pair multiset, and each of
    // those words must contain the merged string a+b as a raw substring
    // (symbols are contiguous character runs). So each later round scans
    // the persisted words ONCE with a cheap codegen'd `contains` filter
    // and runs the single-pass native delta kernel
    // ([[graft.functions.BpeDeltaPairs]]: one shared merge-apply, net
    // (pair, ±d) rows around the merge sites only) on that affected
    // sliver; the counts table absorbs the delta. Counts under delta
    // maintenance are IDENTICAL to a full recount (the exact-equality
    // contract vs the independent driver trainer pins it). The counts
    // table is pair-vocabulary-sized — orders of magnitude below the
    // corpus — and localCheckpoint keeps the round-over-round plan depth
    // O(1) (the Dedup sweep precedent).
    var counts: DataFrame = null
    try {
      counts = words
        .select(explode(graft.functions.hashes.bpe_pairs_with_merges(
          col("w"), Nil)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var exhausted = false
      while (!exhausted && merges.length < nMerges) {
        // headOption, not head(): a corpus whose words fully merge before
        // nMerges rounds (or has no ≥2-symbol words at all) ends training
        // early with the merges found so far, instead of throwing a bare
        // NoSuchElementException mid-loop
        counts.orderBy(col("n").desc, col("pair").asc).limit(1)
          .collect().headOption match {
          case None => exhausted = true
          case Some(top) =>
            val pair = top.getString(0)
            val prior = merges.map(_._1).toSeq
            merges += ((pair, top.getLong(1)))
            if (merges.length < nMerges) {
              val sp = pair.indexOf(' ')
              val mergedStr = pair.substring(0, sp) + pair.substring(sp + 1)
              val delta = words
                .filter(col("w").contains(mergedStr))
                .select(explode(graft.functions.hashes.bpe_delta_pairs(
                  col("w"), prior.toSeq, pair)).as("pd"))
                .select(col("pd.pair").as("pair"), col("pd.d").as("d"))
                .groupBy("pair").agg(sum(col("d")).as("d"))
              counts = counts.join(delta, Seq("pair"), "full_outer")
                .select(col("pair"),
                  (coalesce(col("n"), lit(0L)) + coalesce(col("d"), lit(0L))).as("n"))
                .filter(col("n") > 0)
                .localCheckpoint()
            }
        }
      }
      merges.zipWithIndex
        .map { case ((p, n), i) => (i + 1, p, n) }.toSeq
        .toDF("merge_rank", "pair", "n")
    } finally words.unpersist(blocking = false)
  }

  /**
   * Hybrid retrieval: BM25 keyword ranking fused with embedding cosine
   * ranking via Reciprocal Rank Fusion — score(d) = Σ 1/(rrfK + rank_i(d))
   * over the two top-`kEach` lists. RRF is the standard fusion for
   * lexical+vector search, and it is the determinism-friendly one: only
   * the RANKS enter the score, and both rankings already have total
   * deterministic orders (bm25 desc + id; round(cos,6) desc + id), so the
   * fused score is a sum of two exact-integer reciprocals — reproducible
   * bit-for-bit in any engine.
   *
   * Scale: both branch rankings are TakeOrdered top-kEach; the global
   * row_number windows run over ≤ kEach rows (driver-bounded), and the
   * fusion join touches ≤ 2·kEach rows. The corpus-wide work is the BM25
   * scoring scan and one broadcast-query cosine pass.
   */
  def hybridSearch(
      df: DataFrame, embDf: DataFrame,
      idCol: String, textCol: String,
      terms: Seq[String], queryVecId: Long, k: Int,
      kEach: Int = 100, rrfK: Int = 60,
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmTop = bm25Search(df, idCol, textCol, terms, kEach)
      .withColumn("rank_b", row_number().over(
        Window.orderBy(col("bm25").desc, col(idCol).asc)))
      .select(col(idCol).as("__id"), col("rank_b"))
    val qv = embDf.filter(col(vecIdCol) === queryVecId)
      .select(Similarity.toDouble(col(vecCol)).as("qe"))
    val cos = embDf.select(col(vecIdCol).as("__id"),
        Similarity.toDouble(col(vecCol)).as("e"))
      .crossJoin(broadcast(qv))
      .select(col("__id"),
        (Similarity.dot(col("e"), col("qe")) /
          (Similarity.norm(col("e")) * Similarity.norm(col("qe")))).as("sim"))
    val vTop = cos
      .orderBy(round(col("sim"), 6).desc, col("__id").asc).limit(kEach)
      .withColumn("rank_v", row_number().over(
        Window.orderBy(round(col("sim"), 6).desc, col("__id").asc)))
      .select(col("__id"), col("rank_v"))
    val one = lit(1.0)
    bmTop.join(vTop, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        (coalesce(one / (lit(rrfK) + col("rank_b")), lit(0.0)) +
          coalesce(one / (lit(rrfK) + col("rank_v")), lit(0.0))).as("rrf"),
        col("rank_b"), col("rank_v"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  // -------------------------------------------------------- fingerprints

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * stable under formatting noise, portable to any engine. */
  def contentFingerprint(text: Column): Column =
    md5(Dedup.normalize(text).cast("binary"))

  /** Winnowing-style rolling fingerprint: hash every k-gram window of
    * tokens (polynomial rolling hash ≙ xxhash64 of the joined window),
    * keep the minimum hash per document as its robust fingerprint, plus
    * the full window-hash set size for containment estimation. */
  def rollingFingerprint(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    // tokens projected to a bound column: an inline subexpression inside
    // transform() is re-evaluated per window (normalize+split × windows)
    val toks = df.select(col(idCol),
      graft.functions.hashes.word_tokens(col(textCol)).as("__w"))
    val w = col("__w")
    val windows = transform(
      sequence(lit(0), greatest(size(w) - k, lit(0))),
      i => xxhash64(concat_ws(" ", slice(w, i + 1, lit(k)))))
    toks.select(col(idCol),
      array_min(windows).as("min_hash"),
      size(array_distinct(windows)).as("n_windows"))
  }

  /**
   * Sentence segmentation: split on runs of sentence-final punctuation
   * plus following whitespace (`[.!?]+\s*` — basic classes only, so the
   * Java and RE2 regex engines agree), trim, drop empties, emit
   * (id, sent_idx, sentence, n_chars). Row-local array expressions —
   * zero shuffle at any scale; the unit every sentence-level filter
   * (length, dedup, alignment) consumes.
   */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = filter(
      transform(split(col(textCol), "[.!?]+\\s*"), s => trim(s)),
      s => length(s) > 0)
    df.select(col(idCol), posexplode(sents).as(Seq("sent_idx", "sentence")))
      .select(col(idCol), col("sent_idx"), col("sentence"),
        length(col("sentence")).as("n_chars"))
  }

  /**
   * Per-group quality gate: keep rows whose INTEGER score reaches the
   * group's exact discrete p-quantile — the value at rank `⌈p·n⌉` in
   * ascending (score, id) order ("drop the bottom quartile per language"
   * at p=0.25). Value-threshold semantics: every row tied with the
   * threshold survives, so the kept set depends only on the score
   * function, not on ids. Integer ranks and integer scores throughout —
   * engine-portable with no interpolation (q25/q29 precedent).
   *
   * Plan: one window shuffle partitioned BY GROUP (never a global sort),
   * a one-row-per-group threshold frame broadcast back onto the ranked
   * rows — no second scan of the input. Group count bounds the broadcast,
   * not corpus size, so the shape holds at 100 TB.
   */
  def percentileFilter(
      df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      p: Double): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("__rn", row_number().over(
        byG.orderBy(col(scoreCol).asc, col(idCol).asc)))
      .withColumn("__n", count(lit(1)).over(byG))
    val thresholds = ranked
      .filter(col("__rn") === ceil(col("__n") * p).cast("long"))
      .select(col(groupCol), col(scoreCol).as("__thr"))
    ranked.join(broadcast(thresholds), Seq(groupCol))
      .filter(col(scoreCol) >= col("__thr"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Apply a TRAINED BPE merge list to every document — tokenizer
   * application, the deployment counterpart of [[bpeTrain]] (train once,
   * encode the corpus; the token counts that gate sequence packing and
   * budget draws come from the REAL tokenizer, not the whitespace
   * proxy). Per document: whitespace word count, encoded-symbol count,
   * and the md5 digest of the space-joined symbol stream (the compact
   * verifiable projection — symbol streams are corpus-sized). One
   * zero-shuffle native pass: each word runs the shared
   * [[graft.functions.BpeApplyJvm]] merge loop inside a `transform`
   * lambda, so encode cost scales with executor cores at any corpus
   * size. Same no-SQL-oracle status as training (greedy sequential
   * apply), pinned by the reference-encoder contract in
   * `TextAnalysisSpec`.
   */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String]): DataFrame = {
    // tokenize once; both the word count and the encode fold read __w
    val toks = col("__w")
    val syms = col("__syms")
    df.withColumn("__w", graft.functions.hashes.word_tokens(col(textCol)))
      .withColumn("__syms",
        flatten(transform(toks,
          w => graft.functions.hashes.bpe_encode(w, merges))))
      .select(col(idCol),
        size(filter(toks, w => w =!= "")).cast("long").as("n_words"),
        size(syms).cast("long").as("n_tokens"),
        md5(concat_ws(" ", syms).cast("binary")).as("tokens_digest"))
  }

  /**
   * Unigram-LM tokenizer induction (the SentencePiece model family) — the
   * subtractive counterpart of [[bpeTrain]]'s additive merges: seed a
   * large candidate piece inventory from corpus substrings, then
   * alternate Viterbi segmentation and frequency re-estimation
   * (hard/Viterbi EM), pruning unused pieces each round and cutting to
   * `vocabSize` at the end (single-character pieces always retained —
   * they are the coverage floor).
   *
   * Deterministic by construction: seed selection and the final cut order
   * by (count desc, piece asc); Viterbi ties resolve by the documented
   * shortest-piece rule ([[graft.functions.UnigramViterbiJvm]]); piece
   * log-probs are `Math.log` of exact long-count ratios, rounded to 6 dp
   * in the output. Like BPE training, the sequential DP is not portable
   * SQL — pinned by an exact-equality contract against an independent
   * driver-side trainer in `TextAnalysisSpec` (no_oracle status).
   *
   * Scale shape: the corpus collapses to a persisted (word, count) table
   * in one aggregation; the seed pass and each EM round are ONE
   * distributed pass over that table (native Viterbi per distinct word,
   * piece table riding as a bounded plan literal); every driver collect
   * is vocab-bounded (≤ `seedSize` rows) — corpus size only scales the
   * per-round pass.
   */
  def unigramTrain(
      df: DataFrame, textCol: String, vocabSize: Int = 120,
      maxPieceLen: Int = 4, emRounds: Int = 2,
      seedSize: Int = 600): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramFit(df, textCol, vocabSize, maxPieceLen, emRounds, seedSize)
      .toDF("rank", "piece", "n_uses", "logp_r")
  }

  /** The trained piece table of [[unigramTrain]] as driver rows —
    * (rank, piece, n_uses, logp_r). Exposed so callers (and the query
    * layer's fit-once cache, the cachedPcaModel pattern) can train once
    * and reuse the table for both the train-table query and encode
    * passes without repeating the EM rounds. */
  def unigramFit(
      df: DataFrame, textCol: String, vocabSize: Int = 120,
      maxPieceLen: Int = 4, emRounds: Int = 2,
      seedSize: Int = 600): Seq[(Int, String, Long, Double)] = {
    require(vocabSize >= 1 && maxPieceLen >= 1 && emRounds >= 1)
    val wordCounts = df
      .select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val w = col("w")
      // every substring occurrence of length 1..maxPieceLen, weighted by
      // word count — (start, len) structs so clipped windows can be
      // dropped exactly (substr silently truncates at the word edge)
      val positions = flatten(transform(sequence(lit(1), length(w)), i =>
        transform(sequence(lit(1), lit(maxPieceLen)),
          l => struct(i.as("i"), l.as("l")))))
      val seedFreq = wordCounts
        .select(w, col("cnt"), explode(positions).as("pl"))
        .filter(col("pl.i") + col("pl.l") - 1 <= length(w))
        .select(w.substr(col("pl.i"), col("pl.l")).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("freq"))
      // bounded collects: the multi-char head by (freq desc, piece asc),
      // plus EVERY single char (coverage floor — never cut at seed time)
      val head = seedFreq.filter(length(col("piece")) > 1)
        .orderBy(col("freq").desc, col("piece").asc).limit(seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val singles = seedFreq.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      var inventory: Seq[(String, Long)] = (singles ++ head).toSeq
        .sortBy { case (p, f) => (-f, p) }
      val unkLogp = -20.0 // floor for chars outside the piece table
      def toLogps(inv: Seq[(String, Long)]): Seq[(String, Double)] = {
        val total = inv.map(_._2).sum.toDouble
        inv.map { case (p, f) => (p, Math.log(f / total)) }
      }
      // hard-EM rounds: segment every distinct word with the current
      // piece probs (one distributed native pass), recount piece usage
      // weighted by word count, drop unused pieces
      for (_ <- 1 to emRounds) {
        val pieces = toLogps(inventory)
        inventory = wordCounts
          .select(col("cnt"), explode(graft.functions.unigram.viterbi(
            w, pieces, maxPieceLen, unkLogp)).as("piece"))
          .groupBy("piece").agg(sum(col("cnt")).as("n_uses"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          .sortBy { case (p, f) => (-f, p) }
      }
      // final cut: all used single chars + the multi-char head up to
      // vocabSize, re-normalized over the surviving set
      val (sing, multi) = inventory.partition(_._1.length == 1)
      val kept = (sing ++ multi.take(math.max(0, vocabSize - sing.size)))
        .sortBy { case (p, f) => (-f, p) }
      val total = kept.map(_._2).sum.toDouble
      kept.zipWithIndex.map { case ((p, f), i) =>
        (i + 1, p, f, BigDecimal(Math.log(f / total))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    } finally wordCounts.unpersist(blocking = false)
  }

  /**
   * Unigram-LM tokenizer APPLICATION — the deployment shape of
   * [[unigramTrain]], mirroring [[bpeEncode]]: per word, the Viterbi
   * piece sequence under the trained table; per document, word/token
   * counts and an md5 digest of the token stream. One zero-shuffle
   * native pass; same contract-test status as training.
   */
  def unigramEncode(
      df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[(String, Double)], maxPieceLen: Int = 4,
      unkLogp: Double = -20.0): DataFrame = {
    val toks = col("__w")
    val syms = col("__syms")
    df.withColumn("__w", graft.functions.hashes.word_tokens(col(textCol)))
      .withColumn("__syms",
        flatten(transform(toks, wd => graft.functions.unigram.viterbi(
          wd, pieces, maxPieceLen, unkLogp))))
      .select(col(idCol),
        size(filter(toks, wd => wd =!= "")).cast("long").as("n_words"),
        size(syms).cast("long").as("n_tokens"),
        md5(concat_ws(" ", syms).cast("binary")).as("tokens_digest"))
  }

  // ----------------------------------------------------- classification

  /**
   * Multinomial Naive Bayes text classifier — the trainable cousin of the
   * stopword-profile [[languageId]] heuristic, and the standard fast
   * quality/domain/language classifier of large-corpus pipelines (the
   * fastText-filtering role): TRAIN on the rows matching `trainFilter`,
   * PREDICT on every row.
   *
   * Model: shared vocabulary = top-`vocabSize` train tokens (count desc,
   * token asc — deterministic at the cut); per class c,
   * `P(t|c) = (count(t,c) + 1) / (count_c + V)` (add-one smoothing over
   * the V vocabulary slots, where count_c sums the class's vocab-token
   * occurrences), prior `P(c) = docs_c / docs_train`. Score(d, c) =
   * ln P(c) + Σ_tokens ln P(t|c), tokens outside the vocabulary (or
   * unseen in class c) hitting the smoothing floor `1/(count_c + V)` —
   * which is exactly [[graft.functions.UnigramLogProb]]'s add-one OOV
   * rule, so the per-class scoring pass reuses that native expression
   * with vocab = {t → count(t,c)+1} and total = count_c + V, keeping the
   * fold sequential and oracle-reproducible.
   *
   * Scale shape: one distributed aggregate builds the bounded model
   * (≤ C·V counts + C priors collected — class count times vocab size,
   * independent of corpus size), embedded in the plan as literals; then
   * ONE zero-shuffle row-local pass scores all C classes per document
   * (C native folds per row). Output: (id, `labelCol` actual, pred,
   * score_r, is_train), score_r = round(best score, 6) — the documented
   * 1-ulp-ln guard (see text_char_entropy): fold order is fixed on both
   * sides, but each ln term goes through libm, so scores can wobble
   * ~n_tokens ulps ≈ 1e-10 — far under the rounding grain.
   */
  def naiveBayesClassify(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      trainFilter: Column, vocabSize: Int = 1000): DataFrame = {
    val model = naiveBayesFit(df.filter(trainFilter), textCol, labelCol,
      vocabSize)
    val best = nbBest(col(textCol), model)
    df.select(col(idCol), col(labelCol).as("actual"),
      best("cls").as("pred"), best("score").as("score_r"),
      trainFilter.as("is_train"))
  }

  /** A fitted Naive Bayes model — the bounded global context the scoring
    * pass embeds as plan literals (≤ C·V counts): per class, the add-1
    * count map {token → count+1}, the smoothed denominator count_c + V,
    * and the document-count log prior. Serializable so it rides
    * foreachBatch closures into streaming micro-batches. */
  final case class NbModel(
      classes: IndexedSeq[String],
      lnPrior: Map[String, Double],
      counts: Map[String, Map[String, Long]],
      totals: Map[String, Long]) extends Serializable

  /** Fit the [[NbModel]] on a (already-filtered) training DataFrame —
    * see [[naiveBayesClassify]] for the model definition and scale
    * shape. Exposed separately so a stream can train ONCE on the
    * reference corpus and score micro-batches forever
    * ([[graft.streaming.EventStream.classifyStream]]). */
  def naiveBayesFit(
      train: DataFrame, textCol: String, labelCol: String,
      vocabSize: Int = 1000): NbModel = {
    val toks = train.select(col(labelCol).as("__cls"),
        explode(graft.functions.hashes.word_tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint() // vocab cut + class counts share one token pass
    // shared vocabulary: bounded, deterministic at the cut
    val vocab: Array[String] = toks
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(vocabSize)
      .select("token").collect().map(_.getString(0))
    require(vocab.nonEmpty, "empty training vocabulary")
    // per-class vocab-token counts: ≤ C·V rows (bounded by construction)
    val counts: Array[(String, String, Long)] = toks
      .join(broadcast(toks.sparkSession.createDataFrame(
        vocab.map(Tuple1(_)).toIndexedSeq).toDF("token")), Seq("token"))
      .groupBy("__cls", "token").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // priors from train DOCUMENT counts: ≤ C rows
    val priors: Array[(String, Long)] = train
      .groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nTrainDocs = priors.map(_._2).sum
    require(nTrainDocs > 0, "empty training split")
    val byClass: Map[String, Map[String, Long]] = counts
      .groupBy(_._1).view
      .mapValues(_.map { case (_, t, n) => t -> (n + 1L) }.toMap).toMap
    val classes = priors.map(_._1).sorted.toIndexedSeq
    NbModel(
      classes = classes,
      lnPrior = priors.map { case (c, n) =>
        c -> Math.log(n.toDouble / nTrainDocs) }.toMap,
      counts = classes.map(c => c -> byClass.getOrElse(c, Map.empty)).toMap,
      // count_c + V: Σ (count+1) over observed vocab tokens, +1 per
      // unobserved vocab slot — i.e. Σ observed counts + V exactly
      totals = classes.map { c =>
        val m = byClass.getOrElse(c, Map.empty[String, Long])
        c -> (m.values.sum + (vocab.length - m.size).toLong)
      }.toMap)
  }

  /** The winning (score, class) struct for a text column under a fitted
    * model: argmax by (rounded score desc, class asc) — the languageId
    * pattern. */
  private def nbBest(textCol: Column, model: NbModel): Column = {
    val scored = model.classes.map { c =>
      val s = round(
        lit(model.lnPrior(c)) +
          graft.functions.hashes.unigram_logprob(
            textCol, model.counts(c), model.totals(c))("sum_logp"),
        6)
      struct(s.as("score"), lit(c).as("cls"))
    }
    element_at(
      array_sort(array(scored: _*), (a, b) =>
        when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1)
          .when(a("cls") < b("cls"), -1)
          .when(a("cls") > b("cls"), 1)
          .otherwise(0)), 1)
  }

  /** Score a DataFrame under a fitted [[NbModel]]: one zero-shuffle
    * native pass, (id, pred, score_r) out. */
  def naiveBayesScore(
      df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val best = nbBest(col(textCol), model)
    df.select(col(idCol),
      best("cls").as("pred"), best("score").as("score_r"))
  }
}
