package graft

/**
 * Whole-surface scale guardrail: every registered query's physical plan is
 * swept for `CartesianProduct` — the one operator shape that cannot
 * survive a 100× scale-up (all-pairs cost with no bucketing). The ONLY
 * plans allowed to carry one are the explicitly-labeled exact-oracle
 * twins/baselines, whose role is to hash-verify the bucketed variants at
 * small SF (see COVERAGE.md). A new query that accidentally introduces an
 * unbucketed join — or a refactor that drops a join key and silently
 * degrades a hash join into a cartesian — fails here by name.
 *

 * Broadcast nested-loop joins get the same treatment (third sweep): a
 * BNLJ is only acceptable when its broadcast side is BOUNDED by
 * construction (the containment/decontamination pattern: benchmark-side
 * broadcast, the corpus never shuffles) — so every BNLJ in the surface
 * must sit on a named allowlist citing its bounded side, and a FUTURE
 * unlabeled BNLJ whose "small" side grows with the data fails here by
 * name instead of silently degrading at scale.
 */
class PlanShapeSweepSpec extends SparkSpec {

  /** Every registered query planned ONCE: its physical plan string, or
    * why it failed to plan. All three sweeps and the allowlist-tightness
    * checks read these same plans. */
  private lazy val plans: Seq[(String, Either[String, String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sf0001).queryExecution.executedPlan.toString)
      catch {
        case e: Throwable =>
          Left(s"$name failed to plan: ${e.getClass.getSimpleName} ${e.getMessage}")
      })
    }

  private def planOf(name: String): String =
    plans.collectFirst { case (`name`, p) => p }
      .getOrElse(fail(s"$name is not a registered query"))
      .fold(fail(_), identity)

  /** One sweep: `check` on every non-exempt plan, plus planning failures. */
  private def sweep(exempt: String => Boolean)(
      check: (String, String) => Seq[String]): Seq[String] =
    plans.flatMap {
      case (name, _) if exempt(name) => Nil
      case (_, Left(failure)) => Seq(failure)
      case (name, Right(plan)) => check(name, plan)
    }

  /** Labeled exact twins and baselines — the documented cartesian carriers:
    * brute-force/heap/int8 top-k and exact embedding pairs (COVERAGE.md
    * "labeled exact-scoring baseline" rows). */
  private val cartesianAllowed = Set(
    "sim_topk_bruteforce", "sim_topk_heap", "sim_topk_int8",
    "dedup_embedding_pairs")

  test("no unlabeled CartesianProduct anywhere in the query surface") {
    val failures = sweep(cartesianAllowed) { (name, plan) =>
      if (plan.contains("CartesianProduct"))
        Seq(s"$name plans a CartesianProduct")
      else Nil
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Queries allowed to plan a SinglePartition exchange whose consumer is
    * NOT a global aggregate — each carries a documented BOUNDED input:
    * the whole-surface invariant is "no unbounded single-partition
    * funnel", not "no single-partition exchange ever". */
  private val singlePartitionAllowed: Map[String, String] = Map(
    "sim_index_health" ->
      "global window over the per-cell occupancy table (≤ nCells rows by construction)",
    "dedup_graph_health" ->
      "global window over the per-decile edge histogram (≤ 10 rows by construction)")

  /** Lines between a SinglePartition exchange and its real consumer that
    * don't change boundedness: shuffle readers and the sort feeding a
    * SortAggregate. */
  private val transparentNodes = Seq("AQEShuffleRead", "Sort ", "InputAdapter")

  /** Global (keys=[]) aggregates: their single-partition input is the
    * partial-aggregate output — one row per upstream partition, bounded at
    * any data scale. */
  private def isGlobalAgg(node: String): Boolean =
    (node.startsWith("HashAggregate") || node.startsWith("ObjectHashAggregate") ||
      node.startsWith("SortAggregate")) && node.contains("keys=[]")

  /** Parse the plan-string tree: for every `Exchange SinglePartition`
    * line, find its parent (nearest preceding line one indent level up,
    * skipping transparent nodes) and return the offending parent node
    * text unless it's a global aggregate. */
  private def unboundedSinglePartitions(plan: String): Seq[String] = {
    val lines = plan.linesIterator.toIndexedSeq
    def depthOf(l: String): Int = {
      val i = math.max(l.indexOf("+- "), l.indexOf(":- "))
      if (i < 0) 0 else i / 3 + 1
    }
    def nodeText(l: String): String =
      l.dropWhile(c => c == ' ' || c == '+' || c == ':' || c == '-')
        .replaceFirst("^\\*\\(\\d+\\) ", "")
    lines.zipWithIndex
      .filter { case (l, _) => nodeText(l).startsWith("Exchange SinglePartition") }
      .flatMap { case (l, idx) =>
        val d = depthOf(l)
        // walk upward to the consumer, skipping transparent nodes
        val above = (idx - 1 to 0 by -1).iterator
          .map(i => lines(i))
          .filter(pl => depthOf(pl) < d)
          .map(nodeText)
          .dropWhile(n => transparentNodes.exists(n.startsWith))
        above.nextOption() match {
          case Some(parent) if isGlobalAgg(parent) => None
          case Some(parent) => Some(parent.take(80))
          case None => Some("<root>")
        }
      }
  }

  test("no unbounded Exchange SinglePartition anywhere in the query surface") {
    val failures = sweep(singlePartitionAllowed.contains) { (name, plan) =>
      unboundedSinglePartitions(plan)
        .map(p => s"$name funnels into SinglePartition under: $p")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the SinglePartition allowlist is tight") {
    singlePartitionAllowed.keys.foreach { name =>
      assert(unboundedSinglePartitions(planOf(name)).nonEmpty,
        s"$name no longer plans a non-aggregate SinglePartition exchange; " +
          "remove it from the allowlist")
    }
  }

  /** Queries allowed to plan a BroadcastNestedLoopJoin — each entry cites
    * why its broadcast side stays bounded at any corpus scale. The labeled
    * cartesian twins are implicitly allowed too (Spark plans their
    * crossJoin as BNLJ when one side is broadcastable — same all-pairs
    * role, already documented in `cartesianAllowed`). */
  private val bnljAllowed: Map[String, String] = Map(
    "mix_temperature" ->
      ("Chunking.temperatureMix: counts.crossJoin(broadcast(totals)) — the " +
        "broadcast side is the ONE-ROW global (N, W) aggregate, and the " +
        "stream side is the per-source count table (≤ #sources rows)"),
    "mm_similar_media" ->
      ("the labeled exact media-retrieval baseline (bruteForceTopK over " +
        "feature vectors): the broadcast side is the fixed ≤10-row probe " +
        "set (media_id < 10) — same all-pairs role as the cartesian twins, " +
        "hash-verifying mm_similar_media_ivf"),
    "text_hybrid_search" ->
      ("TextAnalysis.hybridSearch: embDf.crossJoin(broadcast(qv)) — the " +
        "broadcast side is the SINGLE query-vector row " +
        "(vec_id === queryVecId); the corpus side streams once"))

  test("every BroadcastNestedLoopJoin sits on the bounded-side allowlist") {
    val failures =
      sweep(n => bnljAllowed.contains(n) || cartesianAllowed(n)) { (name, plan) =>
        if (plan.contains("BroadcastNestedLoopJoin"))
          Seq(s"$name plans an unlabeled BroadcastNestedLoopJoin")
        else Nil
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the BNLJ allowlist is tight: each listed query really plans one") {
    bnljAllowed.keys.foreach { name =>
      assert(planOf(name).contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans a BroadcastNestedLoopJoin; remove it " +
          "from the allowlist")
    }
  }

  test("the allowlist is tight: each listed twin really is cartesian") {
    // if a twin is later rewritten bucketed, it must leave the allowlist —
    // a stale allowlist would mask a future regression under its name
    cartesianAllowed.foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans all-pairs; remove it from the allowlist")
    }
  }
}
