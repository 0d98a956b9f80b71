package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Relational operators beyond Spark's built-in set, composed Spark-first
 * (SURVEY.md §7.3 preference order (a): built-in composition before custom
 * plans).
 */
object Relational {

  /**
   * As-of join: for each left row, attach the most recent right row with
   * the same key and `rightTime <= leftTime`.
   *
   * Implementation is the union+window formulation — the scalable shape:
   * tag both inputs, union them, and run `last(_, ignoreNulls)` over a
   * window partitioned by key and ordered by (time, tag) so each left row
   * sees exactly the latest right row at-or-before it. One shuffle on the
   * key (the window), no per-key collects, no row explosion — at 100 TB
   * this is a single sort-based window over the co-partitioned union,
   * versus a range-join which Spark would plan as a broadcast-nested-loop.
   *
   * The right side must be unique per (key, time) for deterministic
   * output — pre-aggregate it otherwise.
   *
   * @param valueCols right-side columns to carry onto left rows
   */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__key", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
    val lPadded = valueCols.foldLeft(l)((d, c) =>
      d.withColumn(s"__v_$c", lit(null).cast(right.schema(c).dataType)))
    val r = right
      .withColumn("__key", col(rightKey))
      .withColumn("__t", col(rightTime))
      .withColumn("__tag", lit(0))
    val rPadded = leftCols.foldLeft(r)((d, c) =>
      if (d.columns.contains(c)) d else
        d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
      .withColumnsRenamed(valueCols.map(c => c -> s"__v_$c").toMap)
    val unioned = lPadded.select(
      (leftCols.map(col) ++ Seq(col("__key"), col("__t"), col("__tag"))
        ++ valueCols.map(c => col(s"__v_$c"))): _*)
      .unionByName(rPadded.select(
        (leftCols.map(col) ++ Seq(col("__key"), col("__t"), col("__tag"))
          ++ valueCols.map(c => col(s"__v_$c"))): _*))
    // right rows (__tag=0) sort before left rows at equal time → inclusive
    // `rightTime <= leftTime` semantics
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = valueCols.foldLeft(unioned)((d, c) =>
      d.withColumn(s"__v_$c", last(col(s"__v_$c"), ignoreNulls = true).over(w)))
    filled.filter(col("__tag") === 1)
      .select((leftCols.map(col) ++
        valueCols.map(c => col(s"__v_$c").as(c))): _*)
  }

  /**
   * Skew-resistant equi-join: salt the skewed (left) side into
   * `saltFactor` sub-keys and replicate the right side once per salt.
   * Use when one join key dominates (AQE's skew handling covers
   * sort-merge joins; salting is the explicit fallback and works for any
   * join shape). Right side should be the smaller input — its rows are
   * duplicated `saltFactor`×.
   */
  def saltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int = 8): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /**
   * Deterministic hash sample: keep a row iff the first two hex digits of
   * `md5(id)` fall below the cutoff — reproducible across engines and
   * runs, no RNG state, uniform in expectation. `cutoff256` of 13 ≈ 5.1%.
   * Lexicographic comparison of lowercase hex equals numeric comparison,
   * so the predicate is portable SQL.
   */
  def deterministicSample(df: DataFrame, idCol: String, cutoff256: Int): DataFrame = {
    val bucket = substring(md5(col(idCol).cast("string").cast("binary")), 1, 2)
    df.filter(bucket < lit(f"$cutoff256%02x"))
  }

  /** Top-k most frequent normalized tokens across a text corpus
    * (vocabulary head) — explode + count + TakeOrdered. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(graft.functions.hashes.word_tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /**
   * Key-skew profile: the measurement half of the sink layer's
   * measure-then-rebalance loop ([[graft.sink.SinkConfig]] salting,
   * `adaptiveFilesPerPartition`) as a first-class query. Emits the `topN`
   * hottest keys with their exact row count and corpus share — exactly
   * what you read before deciding which join/write keys need salting and
   * how wide.
   *
   * One partial-aggregated count per key, then a bounded top-k
   * (TakeOrderedAndProject) — no global sort, no full collect; the total
   * is the single driver scalar. `share_r` is a single double division
   * rounded to 6 dp (engine-exact under the round(·,6) contract).
   */
  def keySkewProfile(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    // ONE scan of the input: the per-key count table is cached, the
    // total is its aggregate, and the top-N reads the same blocks —
    // the raw input (a whole micro-batch in skewStream) is never read
    // twice. The bounded top-N is checkpointed so the cache can be
    // released before returning.
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sum over ZERO rows is null, not 0 — coalesce, and short-circuit an
    // empty input to an empty profile (skewStream calls this per
    // micro-batch, and an empty batch must not kill the streaming query)
    val total = counts.agg(coalesce(sum(col("n_rows")), lit(0L)))
      .head().getLong(0).toDouble
    if (total == 0.0) {
      val empty = counts
        .select(col("key"), col("n_rows"), lit(0.0).as("share_r"))
        .localCheckpoint()
      counts.unpersist(blocking = false)
      return empty
    }
    val out = counts
      .orderBy(col("n_rows").desc, col("key").asc)
      .limit(topN)
      .select(col("key"), col("n_rows"),
        round(col("n_rows").cast("double") / lit(total), 6).as("share_r"))
      .localCheckpoint()
    counts.unpersist(blocking = false)
    out
  }

  /**
   * Global 1-based sort ranks WITHOUT a global sort — the scale-correct
   * building block behind sorted-neighborhood blocking and rank
   * transforms (the surface-wide plan sweep forbids unbounded
   * single-partition exchanges): range-repartition on the sort columns,
   * rank within each range partition, add per-partition offsets from a
   * bounded (numPartitions-row) collect. The rank equals the global sort
   * position regardless of where the sampled range boundaries fall, so
   * the result is deterministic even though the partitioner's sampling
   * is not — PROVIDED `sortCols` is a total order (callers append an id
   * tiebreak).
   *
   * Returns the input columns plus `rank`. The ranked frame is persisted
   * (the offset collect materializes it); callers composing multiple
   * reads scan cached blocks.
   */
  def globalRank(
      df: DataFrame, sortCols: Seq[Column], numPartitions: Int = 32): DataFrame = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val spark = df.sparkSession
    // ONE range exchange + one in-partition sort; zipWithIndex assigns
    // global contiguous indices in (partition, in-partition) order —
    // which IS the global sort order here. (The earlier window-function
    // formulation forced a second hash exchange on the partition id plus
    // a full re-sort — review finding, removed.) zipWithIndex runs a
    // per-partition count job first, so the sorted RDD is persisted and
    // the returned frame scans the same blocks.
    val sorted = df
      .repartitionByRange(numPartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
      .add("rank", org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /**
   * Equal-frequency binning (rank transform): assign each row to one of
   * `nBins` quantile buckets by its exact global (`valueCol`, `idCol`)
   * sort rank — `bin = ((rank−1)·nBins) div n + 1`, pure integer
   * arithmetic so the assignment is engine-exact with no interpolation
   * or rounding anywhere. The deterministic alternative to ntile() for
   * length-stratified mixing and difficulty curricula (every bin holds
   * the same row count ±1, and a row's bin depends only on the data, not
   * on partitioning).
   *
   * Built on [[globalRank]] — no single-partition window; one extra
   * driver scalar (the total count).
   */
  def equalFreqBins(
      df: DataFrame, valueCol: String, idCol: String, nBins: Int,
      numPartitions: Int = 32): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    // rank FIRST: the total then comes from a scan of globalRank's
    // persisted blocks instead of a second full pass over the raw input
    val ranked = globalRank(df,
      Seq(col(valueCol).asc, col(idCol).asc), numPartitions)
    val n = ranked.count()
    require(n > 0, "cannot bin an empty frame")
    ranked.withColumn("bin",
      (expr(s"((rank - 1) * $nBins) div ${n}L") + lit(1)).cast("int"))
  }

  /**
   * Robust per-group outlier gate: median/MAD (median absolute deviation)
   * instead of mean/stddev, so a handful of extreme rows cannot inflate
   * the spread estimate and mask themselves — the standard robust filter
   * for price/length/score columns before training-data admission.
   *
   * `valueCents` must be an integral column (the caller converts doubles
   * through the codebase's integer-cents discipline): medians of ints
   * interpolate to exact halves, deviations to exact quarters — every
   * intermediate is binary-exact, so the `|x−med| > k·MAD` verdict is
   * engine-reproducible with NO rounding anywhere.
   *
   * Shape: two partial-aggregated exact-percentile passes (group medians,
   * then deviation medians) + two broadcast-sized joins back — group
   * count is the cardinality of `groupCol`, tiny by construction.
   */
  /** SQL twin of [[graft.functions.LogHistogram.enc]] — the SAME
    * `ceil(ln|v| / ln γ)` bucket mapping as a codegen'd expression, so the
    * verify pass classifies rows in the sketch's own bucket space with no
    * UDF. Float-log wobble between the JVM and codegen evaluations moves a
    * boundary value by at most one bucket; the ±1-bucket probe window in
    * [[sketchQuantile]] absorbs exactly that. */
  private def encCol(v: Column, gamma: Double): Column = {
    val lnG = math.log(gamma)
    val m = (ceil(log(abs(v.cast("double"))) / lit(lnG)).cast("int") + lit(1))
    when(v === 0L, lit(0)).when(v > 0L, m).otherwise(-m)
  }

  /**
   * EXACT discrete per-group quantile — the value at rank `⌈p·n⌉` in
   * ascending `valueCol` order (the [[graft.ops.TextAnalysis.percentileFilter]]
   * rank convention) — computed at sketch cost: the
   * sketch-proposes / exact-verifies shape of
   * [[graft.ops.TextAnalysis.heavyHitters]], rank edition.
   *
   * Pass 1 builds a [[graft.functions.LogHistogram]] per group (O(1/ln γ)
   * buckets per task and per shuffled partial, bucket-add merge — no
   * per-distinct-value state anywhere, which is what Spark's exact
   * `percentile` builds per group and what OOMs it at 100 TB). Bucket
   * counts are exact, so the bucket holding rank ⌈p·n⌉ is certain: a
   * per-group cumulative scan over the ≤ few-thousand-entry bucket array
   * names it, and the one-row-per-group target frame broadcasts back.
   *
   * Pass 2 re-scans once, classifying each row against the target bucket
   * ±1 (the probe window): below-window rows collapse into a single
   * `(k = −1)` counter per group, window rows aggregate per DISTINCT
   * value, above-window rows into `(k = +1)`. Because the bucket mapping
   * is monotone in the value, the classes are value-contiguous, so the
   * per-group cumulative count over `(k, value)` order crosses ⌈p·n⌉ at
   * the TRUE rank-r value — exactness never rests on the sketch's error
   * bound, and a crossing that escapes the window (impossible unless the
   * histogram is wrong) raises rather than returning an estimate.
   *
   * Shuffle ledger: two keyed aggregations (both map-side combined — the
   * second's key space is group × window-distinct-values, bucket-bounded)
   * + two group-cardinality window scans + one broadcast join. Nulls are
   * excluded from both the sketch and the rank universe.
   */
  def sketchQuantile(
      df: DataFrame, groupCol: String, valueCol: String, p: Double,
      gamma: Double = 1.02, outCol: String = "quantile"): DataFrame =
    sketchQuantiles(df, groupCol, valueCol, Seq(p), gamma)
      .select(col(groupCol), col("quantile").as(outCol))

  /**
   * [[sketchQuantile]] for a whole quantile VECTOR (p50/p90/p99 together —
   * the shape admission dashboards and packing heuristics actually ask
   * for) at the cost of the SAME two passes: one sketch build serves
   * every p (the per-group cumulative bucket scan is computed once and
   * each p reads its own crossing), and the single verify scan joins each
   * row against all |ps| broadcast targets — rows multiply |ps|-fold into
   * a map-side-combined aggregate keyed on (group, p, window value),
   * never a second scan of the input. Returns `(group, p, quantile)`.
   */
  def sketchQuantiles(
      df: DataFrame, groupCol: String, valueCol: String, ps: Seq[Double],
      gamma: Double = 1.02): DataFrame =
    quantileVerify(df, groupCol, valueCol,
      quantileTargets(bucketRowsOf(df, groupCol, valueCol, gamma),
        groupCol, ps), gamma)

  /** Rank crossings from sketch-bucket rows `(group, __e, __c)` — n and
    * the cumulative scan both come off ONE per-group window pass, and
    * every requested p reads its own crossing from it. One output row per
    * (group, p), broadcast-sized. Shared by the direct path and the
    * persisted-state path ([[quantilesFromState]]). */
  private[ops] def quantileTargets(
      buckets: DataFrame, groupCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      "every p must be in (0, 1)")
    require(ps.distinct == ps, "duplicate quantile requested")
    val byG = Window.partitionBy(col(groupCol)).orderBy(col("__e"))
    val byGAll = Window.partitionBy(col(groupCol))
    buckets
      .withColumn("__cum", sum("__c").over(byG))
      .withColumn("__n", sum("__c").over(byGAll))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("__r", ceil(col("__n") * col("p")).cast("long"))
      .filter(col("__cum") >= col("__r") &&
        col("__cum") - col("__c") < col("__r"))
      .select(col(groupCol), col("p"), col("__e").as("__et"), col("__r"),
        col("__n"))
  }

  /** The exact verify pass against broadcast targets `(group, p, __et,
    * __r, __n)`: classify every row into below/window/above its group's
    * target bucket ±1, aggregate once keyed on (group, p, window value),
    * read the rank crossing off the per-group cumulative counts.
    * Exactness never rests on the sketch — an escaped crossing raises,
    * and a corpus whose total mass disagrees with the proposing
    * histogram's (`__n`) raises too (the [[quantilesFromState]] drift
    * guard), both off the same one-pass aggregate. A corpus so much
    * smaller that no row reaches the target rank produces NO output row
    * for that (group, p) rather than a raise — callers comparing against
    * the requested (group, p) set detect that case. */
  private[ops] def quantileVerify(
      df: DataFrame, groupCol: String, valueCol: String,
      targets: DataFrame, gamma: Double,
      weightCol: Option[String] = None): DataFrame = {
    val v = col(valueCol).cast("long")
    val e2 = encCol(v, gamma)
    val k = when(e2 < col("__et") - 1, lit(-1))
      .when(e2 > col("__et") + 1, lit(1)).otherwise(lit(0))
    val byGPkw = Window.partitionBy(col(groupCol), col("p"))
      .orderBy(col("__k"), col("__w"))
    val byGPAll = Window.partitionBy(col(groupCol), col("p"))
    val rowMass = weightCol
      .map(wc => sum(col(wc).cast("long"))).getOrElse(count(lit(1)))
    val admitted = weightCol.foldLeft(df.filter(col(valueCol).isNotNull))(
      (d, wc) => d.filter(col(wc).isNotNull && col(wc).cast("long") > 0))
    admitted
      .join(broadcast(targets), Seq(groupCol))
      .groupBy(col(groupCol), col("p"), k.as("__k"),
        when(k === 0, v).otherwise(lit(0L)).as("__w"), col("__r"), col("__n"))
      .agg(rowMass.as("__c"))
      .withColumn("__tot", sum("__c").over(byGPAll))
      .withColumn("__cum", sum("__c").over(byGPkw))
      .filter(col("__cum") >= col("__r") &&
        col("__cum") - col("__c") < col("__r"))
      .select(col(groupCol), col("p"),
        // the guard that makes "exact" unconditional: the verified
        // corpus's total mass must equal the mass the targets' ranks
        // were computed from — a drifted corpus (quantilesFromState fed
        // rows the state never saw, or missing ones) raises instead of
        // returning the corpus value at the WRONG rank. Computed off the
        // same one-pass aggregate: zero extra scans.
        when(col("__tot") =!= col("__n"), raise_error(concat(
          lit("sketchQuantile: corpus mass "), col("__tot").cast("string"),
          lit(" != proposing histogram mass "), col("__n").cast("string"),
          lit(" for group "), col(groupCol).cast("string"),
          lit(" — the corpus drifted from the sketched/maintained state"))))
          .when(col("__k") === 0, col("__w"))
          .otherwise(raise_error(concat(
            lit("sketchQuantile: rank crossing escaped the proposed bucket " +
              "window for group "), col(groupCol).cast("string"))))
          .as("quantile"))
  }

  /**
   * WEIGHTED exact quantiles: the value at weighted rank `⌈p·W⌉` (W =
   * total weight; smallest value whose cumulative ascending weight
   * reaches it) — "the doc length below which 90% of TOKENS lie", the
   * rank universe mixing and packing decisions actually live in. Same
   * two passes as [[sketchQuantiles]] with every count replaced by a
   * weight sum ([[graft.functions.dd.dd_sketch_weighted]] buckets carry
   * weight mass exactly); reduces to the unweighted form at weight ≡ 1.
   * Rows with null or non-positive weight are excluded everywhere.
   */
  def sketchQuantilesWeighted(
      df: DataFrame, groupCol: String, valueCol: String, weightCol: String,
      ps: Seq[Double], gamma: Double = 1.02): DataFrame =
    quantileVerify(df, groupCol, valueCol,
      quantileTargets(
        bucketRowsOf(df, groupCol, valueCol, gamma, Some(weightCol)),
        groupCol, ps), gamma, Some(weightCol))

  // ------------------------------------------------ persisted quantile state

  /** Bucket rows `(group, __e, __c)` of one frame — the ONE sketch-build
    * pipeline every quantile entry point shares (direct, weighted, and
    * the persisted-state maintenance): counts with no weight, exact
    * weight mass with one. */
  private def bucketRowsOf(
      df: DataFrame, groupCol: String, valueCol: String,
      gamma: Double, weightCol: Option[String] = None): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(weightCol.fold(
        graft.functions.dd.dd_sketch(col(valueCol).cast("long"), gamma))(
        wc => graft.functions.dd.dd_sketch_weighted(
          col(valueCol).cast("long"), col(wc).cast("long"), gamma))
        .as("__bk"))
      .select(col(groupCol), explode(col("__bk")).as("__b"))
      .select(col(groupCol), col("__b.bucket").as("__e"),
        col("__b.cnt").as("__c"))

  /**
   * Persist per-group rank-histogram state — the "index is the state"
   * posture for DISTRIBUTION telemetry, the quantile sibling of
   * [[graft.ops.TextAnalysis.writeHhState]]. The state is
   * O(groups × 1/ln γ) bucket rows with EXACT counts; because bucket
   * merge is pure addition, per-batch maintenance is a DISTRIBUTED
   * union + re-aggregate (no driver collect anywhere, unlike the O(k)
   * heavy-hitter fold which is driver-sized by construction), and the
   * maintained state is bit-identical to sketching the union of every
   * appended batch directly — associativity the spec asserts.
   *
   * Layout: a [[graft.sink.FsOps.publishGeneration]] generation tree
   * (`buckets/`, `meta/` with column names + γ, `seen/` replay tags)
   * behind one atomic MANIFEST flip; a replayed stream batch finds its
   * (id, content-fingerprint) tag in `seen/` and skips — the
   * [[graft.ops.TextAnalysis.appendToHhState]] exactly-once discipline.
   */
  def writeQuantileState(
      df: DataFrame, groupCol: String, valueCol: String, path: String,
      gamma: Double = 1.02): Unit =
    publishQuantileGeneration(df.sparkSession, path, groupCol, valueCol,
      gamma, bucketRowsOf(df, groupCol, valueCol, gamma), Seq.empty)

  private def publishQuantileGeneration(
      spark: org.apache.spark.sql.SparkSession, path: String,
      groupCol: String, valueCol: String, gamma: Double,
      buckets: DataFrame, seen: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    graft.sink.GenerationState.publish(spark, path, Seq(
      "buckets" -> buckets,
      "meta" -> Seq((groupCol, valueCol, gamma))
        .toDF("group", "value", "gamma")), seen)
  }

  private def liveQuantileRoot(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    graft.sink.GenerationState.liveRoot(spark, path, "quantile state")

  /** Fold one batch into the stored state: the batch's bucket rows union
    * the stored ones and re-aggregate by (group, bucket) — distributed,
    * exact, order-independent. `batchId` + content fingerprint make
    * stream replays converge (the `seen/` discipline). */
  def appendToQuantileState(
      batch: DataFrame, path: String, batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    // ONE generation resolution for the whole append — all reads below
    // come from the same immutable tree
    val live = liveQuantileRoot(spark, path)
    val m = spark.read.parquet(s"$live/meta").head()
    val (groupCol, valueCol, gamma) =
      (m.getString(0), m.getString(1), m.getDouble(2))
    // seen-tag + replay-match rules shared with the
    // heavy-hitter state lane (GenerationState)
    val seen = graft.sink.GenerationState.seenTags(spark, live)
    val tag = batchId.map(id => (id, graft.streaming.ReplayGuard.fingerprint(
      batch.select(col(groupCol), col(valueCol)))))
    if (graft.sink.GenerationState.isReplay(seen, tag)) return
    // an empty batch must not burn a generation publish, and contributes
    // nothing on a replay either
    if (batch.filter(col(valueCol).isNotNull).isEmpty) return
    val merged = spark.read.parquet(s"$live/buckets")
      .unionByName(bucketRowsOf(batch, groupCol, valueCol, gamma))
      .groupBy(col(groupCol), col("__e"))
      .agg(sum("__c").as("__c"))
    publishQuantileGeneration(spark, path, groupCol, valueCol, gamma,
      merged, seen ++ tag)
  }

  /**
   * APPROXIMATE quantiles straight off the stored state — no data scan
   * at all: each (group, p) resolves to its crossing bucket's value
   * interval `(value_lo, value_hi]`, within which the true rank-⌈p·n⌉
   * value is GUARANTEED to lie (bucket counts are exact; only value
   * resolution is γ-coarse — DDSketch's published relative-error bound).
   * The health/dashboard read; [[quantilesFromState]] is the exact one.
   */
  def quantileStateBounds(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ps: Seq[Double]): DataFrame = {
    val live = liveQuantileRoot(spark, path)
    val m = spark.read.parquet(s"$live/meta").head()
    val (groupCol, gamma) = (m.getString(0), m.getDouble(2))
    val g = lit(gamma)
    def pw(i: Column) = pow(g, i.cast("double"))
    val e = col("__et")
    quantileTargets(spark.read.parquet(s"$live/buckets"), groupCol, ps)
      .select(col(groupCol), col("p"), col("__r").as("rank"),
        when(e === 0, lit(0.0)).when(e > 0, pw(e - 2))
          .otherwise(-pw(-e - 1)).as("value_lo"),
        when(e === 0, lit(0.0)).when(e > 0, pw(e - 1))
          .otherwise(-pw(-e - 2)).as("value_hi"))
  }

  /**
   * EXACT quantiles from the maintained state: the stored histogram
   * proposes each (group, p) target bucket — no sketch build — and the
   * verify pass runs over the passed corpus. Because the maintained
   * buckets are bit-identical to sketching the appended batches' union
   * directly, this is row-identical to [[sketchQuantiles]] on that
   * corpus and earns its oracle. The corpus scan happens HERE, on
   * demand — per-batch maintenance never scans it.
   */
  def quantilesFromState(
      corpus: DataFrame, path: String, ps: Seq[Double]): DataFrame = {
    val spark = corpus.sparkSession
    val live = liveQuantileRoot(spark, path)
    val m = spark.read.parquet(s"$live/meta").head()
    val (groupCol, valueCol, gamma) =
      (m.getString(0), m.getString(1), m.getDouble(2))
    quantileVerify(corpus, groupCol, valueCol,
      quantileTargets(spark.read.parquet(s"$live/buckets"), groupCol, ps),
      gamma)
  }

  /** Continuous distribution telemetry: each micro-batch folds into the
    * persisted state through [[appendToQuantileState]] with its batch id
    * (stateless foreachBatch — the state TREE is the state; replays skip
    * on their content-derived tag). */
  def quantileStream(
      stream: DataFrame, path: String,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          appendToQuantileState(batch.toDF(), path, Some(id))
      }
    checkpointLocation.foldLeft(w)((x, c) =>
      x.option("checkpointLocation", c)).start()
  }

  def madOutliers(
      df: DataFrame, groupCol: String, valueCents: Column, k: Double): DataFrame = {
    val v = valueCents.cast("double")
    val withV = df.withColumn("__v", v)
    val med = withV.groupBy(col(groupCol))
      .agg(expr("percentile(__v, 0.5)").as("__med"))
    val withDev = withV.join(med, groupCol)
      .withColumn("__dev", abs(col("__v") - col("__med")))
    val mad = withDev.groupBy(col(groupCol))
      .agg(expr("percentile(__dev, 0.5)").as("__mad"))
    withDev.join(mad, groupCol)
      .filter(col("__dev") > lit(k) * col("__mad"))
      .drop("__v", "__dev")
      .withColumnRenamed("__med", "group_median")
      .withColumnRenamed("__mad", "group_mad")
  }
}
