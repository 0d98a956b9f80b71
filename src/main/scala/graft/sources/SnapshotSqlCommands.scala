package graft.sources

import graft.sink.Snapshots
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, CommonExpressionRef, EqualTo, Expression, InSubquery, ListQuery, RuntimeReplaceable, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.GraftSqlBridge

/**
 * ROW-LEVEL SQL over registered snapshot tables: `DELETE FROM`,
 * `UPDATE`, and the canonical `MERGE INTO` shapes — the statements a
 * user of a GDPR-capable SQL table reaches for first. A classic
 * [[org.apache.spark.sql.sources.RelationProvider]] cannot intercept
 * them (Spark fails v1 relations in its v2-only check), so this
 * post-hoc resolution rule — injected by [[graft.GraftExtensions]], the
 * Delta-SQL-extensions pattern — rewrites the analyzed command into the
 * engine call that already owns the machinery:
 *
 *  - `DELETE FROM t WHERE c`  → [[Snapshots.deleteWhere]] (the
 *    stat+Bloom-narrowed, discovery-exact file-bounded copy-on-write)
 *  - `UPDATE t SET ... WHERE` → [[Snapshots.updateWhere]] (same rewrite
 *    narrowing, assignments applied to matching rows only)
 *  - `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
 *    WHEN NOT MATCHED THEN INSERT *` → [[Snapshots.mergeUpsert]]; the
 *    delete-only form (`WHEN MATCHED THEN DELETE`) maps to the same
 *    call's delete lane. Non-canonical merges (clause conditions,
 *    partial assignment lists, NOT MATCHED BY SOURCE) abort loudly
 *    naming the supported shapes — never a silently different merge.
 *
 * Conditions cross from catalyst back to the Column API with attribute
 * references UNRESOLVED to bare names (they re-resolve by name against
 * the engine's own scans) and literals kept INTERNAL — a timestamp
 * bound is never re-rendered through a session-tz string, preserving
 * the exact-instant Bloom probe. Subqueries in DML conditions abort
 * loudly (materialize the list first). Non-snapshot tables pass
 * through untouched.
 */
class SnapshotDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(t, cond)
        if d.childrenResolved && cond.resolved =>
      snapshotTarget(t).fold(plan) { rel =>
        SnapshotDml.convertDelete(rel, cond)
      }
    case u @ UpdateTable(t, assignments, cond)
        if u.childrenResolved && assignments.forall(_.resolved) &&
          cond.forall(_.resolved) =>
      snapshotTarget(t).fold(plan) { rel =>
        SnapshotDml.convertUpdate(rel, assignments, cond)
      }
    case m: MergeIntoTable if m.childrenResolved =>
      snapshotTarget(m.targetTable).fold(plan)(rel =>
        SnapshotDml.convertMerge(rel, m))
    // ALTER TABLE t ADD COLUMNS — the session catalog routes v1 tables
    // to its own command, which rejects non-builtin providers; re-route
    // ours to the metadata-only evolve_schema publish
    case a: org.apache.spark.sql.execution.command
        .AlterTableAddColumnsCommand =>
      val meta =
        try Some(spark.sessionState.catalog.getTableMetadata(a.table))
        catch { case scala.util.control.NonFatal(_) => None }
      meta.filter(GraftCatalog.isSnapshotTable).fold(plan) { t =>
        val pinned = GraftCatalog.pinnedOption(t)
          .map(p => s"it is $p-pinned — schema evolution publishes to " +
            "the live dataset; alter the unpinned table")
        SnapshotAddColumnsCommand(
          GraftCatalog.rootOf(t, a.table.quotedString), pinned,
          a.table.quotedString, a.colsToAdd)
      }
    // TRUNCATE TABLE t [PARTITION (p = v, ...)] — Spark's v1 command
    // would physically delete the LOCATION tree (destroying every
    // retained snapshot, not just the live rows); re-route ours to the
    // metadata-only truncate snapshot (full table) or the file-bounded
    // partition delete (PARTITION spec)
    case tr: org.apache.spark.sql.execution.command.TruncateTableCommand =>
      val meta =
        try Some(spark.sessionState.catalog.getTableMetadata(tr.tableName))
        catch { case scala.util.control.NonFatal(_) => None }
      meta.filter(GraftCatalog.isSnapshotTable).fold(plan) { t =>
        val pinned = GraftCatalog.pinnedOption(t)
          .map(p => s"it is $p-pinned — a read-only view; truncate the " +
            "unpinned table")
        SnapshotTruncateCommand(
          GraftCatalog.rootOf(t, tr.tableName.quotedString), pinned,
          tr.partitionSpec.getOrElse(Map.empty))
      }
    case _ => plan
  }

  /** The snapshot relation behind a DML target, unwrapping alias/
    * projection shells the resolver adds. */
  private def snapshotTarget(p: LogicalPlan): Option[SnapshotRelation] =
    p match {
      case SubqueryAlias(_, child) => snapshotTarget(child)
      case lr: LogicalRelation => lr.relation match {
        case rel: SnapshotRelation => Some(rel)
        case _ => None
      }
      case _ => None
    }
}

/** Session-catalog resolution shared by every SQL surface that targets
  * a registered snapshot table by NAME (ALTER, CALL maintenance) — one
  * place to recognize the provider, find the pin, and resolve the root,
  * so the surfaces cannot drift apart. */
private[sources] object GraftCatalog {
  def isSnapshotTable(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable): Boolean =
    meta.provider.exists(p =>
      p.toLowerCase.contains("snapshotsource") || p == "graft-snapshot")

  /** The pin option recorded at registration (an id/timestamp/tag/
    * branch pin under any accepted spelling), if any — pinned
    * registrations are read-only views and reject every mutating SQL
    * surface. MUST track every pin spelling the source accepts: a
    * spelling this list misses would let TRUNCATE/ALTER/CALL mutate
    * the live dataset through what the user believes is a read-only
    * historical view. */
  def pinnedOption(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : Option[String] = {
    val opts = meta.storage.properties.keysIterator
      .map(_.toLowerCase).toSet
    Seq("asof", "asoftimestamp", "timestampasof", "tag", "branch")
      .find(opts.contains)
  }

  /** The dataset root the registration records. */
  def rootOf(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      name: String): String =
    meta.storage.locationUri.map(_.toString)
      .orElse(meta.storage.properties
        .collectFirst { case (k, v) if k.toLowerCase == "path" => v })
      .getOrElse(throw new IllegalStateException(
        s"table $name records no location"))
}

private[sources] object SnapshotDml {

  /** An analyzed expression in a shape the engine can analyse again.
    * Analysis rewrites some expressions (`BETWEEN`) into a runtime-
    * replaceable wrapper over a `With` common-subexpression node, which
    * fails when re-analysed; the wrapper gives way to its replacement
    * and each `With` is inlined, so `k BETWEEN a AND b` reaches the
    * engine as `k >= a AND k <= b` and prunes exactly like it. */
  def reanalysable(e: Expression): Expression =
    e.transformDown {
      case r: RuntimeReplaceable if r.replacement.exists(_.isInstanceOf[With]) =>
        r.replacement
    }.transformUp {
      case With(child, defs) =>
        val byId = defs.map(d => d.id -> d.child).toMap
        child.transform { case ref: CommonExpressionRef => byId(ref.id) }
    }

  /** Catalyst → Column with attributes unresolved back to bare names
    * (unique within the flat recorded contract, so the name round-trip
    * is lossless) and literals kept internal. */
  def toEngineColumn(e: Expression, what: String): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what with a subquery is not supported on snapshot tables — " +
        "materialize the subquery (e.g. into an IN-list or a MERGE " +
        "source) first")
    GraftSqlBridge.column(reanalysable(e).transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The DELETE/UPDATE subquery dispatch, shared: None when the
    * condition is subquery-free; Some((rest, keyColumn, subquery plan))
    * when exactly ONE uncorrelated `col IN (SELECT ...)` conjunct sits
    * beside subquery-free rest conjuncts; a loud abort naming the
    * statement and its remedies otherwise. */
  private def splitInSubquery(
      cond: Option[Expression], what: String, remedy: String)
      : Option[(Option[Expression], String, LogicalPlan)] = {
    val cs = cond.toSeq.flatMap(conjuncts)
    val (withSub, plain) =
      cs.partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    if (withSub.isEmpty) return None
    withSub match {
      case Seq(InSubquery(Seq(a: AttributeReference), lq: ListQuery))
          if lq.outerAttrs.isEmpty =>
        Some((plain.reduceOption(And), a.name, lq.plan))
      case _ => throw new UnsupportedOperationException(
        s"$what on a snapshot table supports at most ONE subquery " +
          "conjunct, of the shape `column IN (uncorrelated SELECT)` — " +
          "for EXISTS / NOT IN / correlated shapes, materialize the key " +
          s"set first (or use $remedy directly)")
    }
  }

  /** DELETE translation: subquery-free conditions route straight to
    * [[Snapshots.deleteWhere]]; ONE uncorrelated `col IN (SELECT ...)`
    * conjunct (the GDPR purge-list shape) is supported alongside any
    * subquery-free rest — the command materializes the key set at RUN
    * time, inlining small results as a Bloom-pruned IN-list and routing
    * large ones through the semi-join delete lane. Every other subquery
    * shape aborts loudly. */
  def convertDelete(rel: SnapshotRelation, cond: Expression): LogicalPlan =
    splitInSubquery(Some(cond), "DELETE",
      "Snapshots.deleteWhereIn / mergeUpsert") match {
      case None => SnapshotDeleteCommand(rel.datasetRoot,
        rel.dmlBlockedReason, toEngineColumn(cond, "DELETE"))
      case Some((rest, key, sub)) =>
        SnapshotDeleteInCommand(rel.datasetRoot, rel.dmlBlockedReason,
          key, sub, rest.map(toEngineColumn(_, "DELETE")))
    }

  /** UPDATE translation — the same subquery dispatch as
    * [[convertDelete]] (the backfill-from-a-staging-table shape).
    * Assignment right-hand sides must stay subquery-free either way. */
  def convertUpdate(
      rel: SnapshotRelation, assignments: Seq[Assignment],
      cond: Option[Expression]): LogicalPlan = {
    val converted = assignments.map(a => assignmentName(a) ->
      toEngineColumn(a.value, "UPDATE assignment"))
    splitInSubquery(cond, "UPDATE",
      "Snapshots.updateWhereIn / a MERGE source") match {
      case None => SnapshotUpdateCommand(rel.datasetRoot,
        rel.dmlBlockedReason,
        toEngineColumn(cond.getOrElse(org.apache.spark.sql.catalyst
          .expressions.Literal.TrueLiteral), "UPDATE"), converted)
      case Some((rest, key, sub)) =>
        SnapshotUpdateInCommand(rel.datasetRoot, rel.dmlBlockedReason,
          key, sub, rest.map(toEngineColumn(_, "UPDATE")), converted)
    }
  }

  /** The shared IN-subquery lane runner both commands call at RUN time:
    * materialize the key set ONCE (dedup + null-drop, persisted — the
    * purge list is typically an expensive scan, and the probe and the
    * chosen lane must see the same rows even for a nondeterministic
    * subquery), probe its cardinality, and dispatch — ≤ the cap inlines
    * as a literal IN-list (inheriting disjunctive stat ranges and
    * exact-value Bloom probes), larger sets go to `bigLane` with the
    * normalized frame (the engine skips re-normalizing). An empty
    * result is a no-op: `IN (empty)` is never TRUE. */
  def runInLane(
      session: SparkSession, what: String, keyColumn: String,
      subquery: LogicalPlan)(
      inline: Column => Unit)(bigLane: DataFrame => Unit): Unit = {
    val sub = GraftSqlBridge.ofRows(session, subquery)
    require(sub.columns.length == 1,
      s"$what: the IN subquery must produce exactly one column, got " +
        s"${sub.columns.mkString(", ")}")
    val keys = sub.distinct().na.drop().persist()
    try {
      val sample = keys.limit(Snapshots.MaxInPruneValues + 1).collect()
      if (sample.isEmpty) return
      if (sample.length <= Snapshots.MaxInPruneValues) {
        val q = col(s"`${keyColumn.replace("`", "``")}`")
        inline(q.isin(sample.toSeq.map(_.get(0)): _*))
      } else bigLane(keys)
    } finally keys.unpersist(): Unit
  }

  def assignmentName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case u: UnresolvedAttribute if u.nameParts.length == 1 =>
      u.nameParts.head
    case other => throw new UnsupportedOperationException(
      s"UPDATE target must be a top-level column, got: ${other.sql}")
  }

  private def unsupportedMerge(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"this MERGE shape is not supported on snapshot tables ($why). " +
        "Supported: a conjunctive same-name equi-key ON; WHEN MATCHED " +
        "[AND cond] THEN UPDATE SET ... / DELETE; WHEN NOT MATCHED " +
        "[AND cond] THEN INSERT ...; WHEN NOT MATCHED BY SOURCE " +
        "[AND cond] THEN DELETE / UPDATE SET ...; merge keys may only " +
        "be re-assigned as their same-name source copy. Use " +
        "Snapshots.mergeUpsert / mergeDeltas directly for other shapes")

  /** The canonical-merge translation: extract same-named key equalities
    * from the ON condition, validate the clause shapes, and emit the
    * engine command. Loud on anything the upsert semantics cannot
    * represent exactly. */
  def convertMerge(rel: SnapshotRelation, m: MergeIntoTable): LogicalPlan = {
    val tOut = AttributeSet(m.targetTable.output)
    val sOut = AttributeSet(m.sourceTable.output)
    val keyPairs = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) => (a.name, b.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if sOut.contains(b) && tOut.contains(a) => (a.name, b.name)
      case other => unsupportedMerge(
        s"ON must be a conjunction of target-key = source-key " +
          s"equalities, got: ${other.sql}")
    }
    keyPairs.find(p => p._1 != p._2).foreach(p => unsupportedMerge(
      s"key columns must share a name on both sides (got t.${p._1} = " +
        s"s.${p._2}) — alias the source column to ${p._1}"))
    val keys = keyPairs.map(_._1).distinct
    if (keys.isEmpty) unsupportedMerge("no key equality in ON")
    // `UPDATE SET *` may reach post-hoc either unexpanded (star action)
    // or expanded to per-column assignments — accept both, but ONLY the
    // full same-name copy (anything partial is not an upsert)
    def fullCopy(assigns: Seq[Assignment]): Boolean = {
      val pairs = assigns.map(a => (a.key, a.value) match {
        case (k: AttributeReference, v: AttributeReference)
            if tOut.contains(k) && sOut.contains(v) && k.name == v.name =>
          Some(k.name)
        case _ => None
      })
      pairs.forall(_.isDefined) &&
        pairs.flatten.toSet == m.targetTable.output.map(_.name).toSet
    }
    // the canonical shapes keep their DIRECT lane (no join against the
    // target is needed — the source frame IS the updates frame); every
    // other expressible shape routes through the general clause-apply
    val canonical =
      if (m.notMatchedBySourceActions.nonEmpty) None
      else (m.matchedActions, m.notMatchedActions) match {
      case (Seq(DeleteAction(None)), Seq()) => Some(true)
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) =>
        Some(false)
      case (Seq(u: UpdateAction), Seq(i: InsertAction))
          if u.condition.isEmpty && i.condition.isEmpty &&
            fullCopy(u.assignments) && fullCopy(i.assignments) =>
        Some(false)
      case _ => None
    }
    canonical match {
      case Some(deleteOnly) =>
        SnapshotMergeCommand(rel.datasetRoot, rel.dmlBlockedReason,
          m.sourceTable, keys, deleteOnly)
      case None => convertGeneralMerge(rel, m, keys, tOut, sOut)
    }
  }

  /** Conditional / partial MERGE clauses — the CDC-apply statement
    * (`WHEN MATCHED AND s.op = 'D' THEN DELETE`, partial `UPDATE SET
    * c = expr`, conditional `INSERT`) — mapped EXACTLY onto
    * [[Snapshots.mergeUpsert]]'s per-key replace/insert/delete: the
    * command joins source to target on the keys, applies the FIRST
    * true clause per row (SQL MERGE order), and rows no clause claims
    * stay untouched (they never enter the updates frame). Clause
    * conditions and assignment right-hand sides may reference both
    * sides; every RHS sees the PRE-merge target row (the updateWhere
    * projection discipline). Shapes whose semantics the upsert cannot
    * represent exactly still abort loudly. */
  private def convertGeneralMerge(
      rel: SnapshotRelation, m: MergeIntoTable, keys: Seq[String],
      tOut: AttributeSet, sOut: AttributeSet): LogicalPlan = {
    def engineExpr(e: Expression, what: String): Column = {
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        s"$what with a subquery is not supported on snapshot tables — " +
          "materialize it into the MERGE source first")
      GraftSqlBridge.column(SnapshotDml.reanalysable(e).transform {
        // source-side references resolve against the join frame's
        // prefixed copies — collision-free when both sides share names
        case a: AttributeReference if sOut.contains(a) =>
          UnresolvedAttribute.quoted(
            SnapshotMergeApplyCommand.SrcPrefix + a.name)
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })
    }
    val sourceByName = m.sourceTable.output.map(a => a.name -> a).toMap
    def starAssignments(what: String): Seq[(String, Column)] =
      m.targetTable.output.map { t =>
        val s = sourceByName.getOrElse(t.name, unsupportedMerge(
          s"$what SET */INSERT * needs a source column named '${t.name}'"))
        t.name -> engineExpr(s, what)
      }
    def convAssigns(
        assigns: Seq[Assignment], what: String): Seq[(String, Column)] =
      assigns.map { a =>
        val name = assignmentName(a)
        // reassigning a merge KEY breaks per-key replace semantics (the
        // old key would survive while the new row lands beside it) —
        // only the same-name source copy, a no-op under the equi-join
        // for matched rows and the row's own key for inserts, is safe
        if (keys.contains(name)) a.value match {
          case v: AttributeReference
              if sOut.contains(v) && v.name == name => ()
          case _ => unsupportedMerge(
            s"cannot reassign merge key '$name' (only `$name = " +
              s"s.$name` is expressible)")
        }
        name -> engineExpr(a.value, what)
      }
    val matched: Seq[(Option[Column], Option[Seq[(String, Column)]])] =
      m.matchedActions.map {
        case DeleteAction(c) =>
          (c.map(engineExpr(_, "a MATCHED condition")), None)
        case u: UpdateAction =>
          (u.condition.map(engineExpr(_, "a MATCHED condition")),
            Some(convAssigns(u.assignments, "MERGE UPDATE")))
        case UpdateStarAction(c) =>
          (c.map(engineExpr(_, "a MATCHED condition")),
            Some(starAssignments("MERGE UPDATE")))
        case other => unsupportedMerge(
          s"unsupported matched action ${other.getClass.getSimpleName}")
      }
    val notMatched: Seq[(Option[Column], Seq[(String, Column)])] =
      m.notMatchedActions.map {
        case i: InsertAction =>
          (i.condition.map(engineExpr(_, "a NOT MATCHED condition")),
            convAssigns(i.assignments, "MERGE INSERT"))
        case InsertStarAction(c) =>
          (c.map(engineExpr(_, "a NOT MATCHED condition")),
            starAssignments("MERGE INSERT"))
        case other => unsupportedMerge(
          s"unsupported not-matched action ${other.getClass.getSimpleName}")
      }
    // WHEN NOT MATCHED BY SOURCE — the full-sync shape — IS expressible
    // as an upsert: the claimed target keys (an anti-join against the
    // source) enter the updates frame as deletes or rebuilt rows.
    // Clause conditions and assignments reference the TARGET only (the
    // analyzer enforces it; there is no source row to reference).
    val notBySource: Seq[(Option[Column], Option[Seq[(String, Column)]])] =
      m.notMatchedBySourceActions.map {
        case DeleteAction(c) =>
          (c.map(engineExpr(_, "a NOT MATCHED BY SOURCE condition")), None)
        case u: UpdateAction =>
          (u.condition.map(
            engineExpr(_, "a NOT MATCHED BY SOURCE condition")),
            Some(convAssigns(u.assignments, "MERGE UPDATE")))
        case other => unsupportedMerge(
          s"unsupported not-matched-by-source action " +
            s"${other.getClass.getSimpleName}")
      }
    SnapshotMergeApplyCommand(rel.datasetRoot, rel.dmlBlockedReason,
      m.sourceTable, keys, matched, notMatched, notBySource)
  }
}

/** `DELETE FROM <snapshot table> WHERE cond` — one published
  * copy-on-write snapshot through [[Snapshots.deleteWhere]]'s full
  * narrowing (derived StatRanges, Bloom probes, exact discovery). */
case class SnapshotDeleteCommand(
    root: String, blocked: Option[String], condition: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot DELETE FROM this table: $w"))
    Snapshots.deleteWhere(session, root,
      Snapshots.recordedPartitionCols(session, root), condition): Unit
    Seq.empty
  }
}

/** `DELETE FROM <snapshot table> WHERE [rest AND] k IN (SELECT ...)` —
  * the subquery runs at command time: ≤ [[Snapshots.MaxInPruneValues]]
  * distinct non-null keys inline as a literal IN-list (inheriting the
  * disjunctive stat ranges AND the exact-value Bloom probes), larger
  * sets route through [[Snapshots.deleteWhereIn]]'s semi-join lane
  * (whole-set min/max pruning, file-bounded copy-on-write). An empty
  * result deletes nothing — `IN (empty)` is never TRUE. */
case class SnapshotDeleteInCommand(
    root: String, blocked: Option[String], keyColumn: String,
    subquery: LogicalPlan, rest: Option[Column])
    extends LeafRunnableCommand {
  // the subquery plan is already analyzed; keep it visible in EXPLAIN
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(subquery)

  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot DELETE FROM this table: $w"))
    val fields = Snapshots.recordedPartitionCols(session, root)
    SnapshotDml.runInLane(session, "DELETE", keyColumn, subquery)(
      inList => Snapshots.deleteWhere(session, root, fields,
        rest.map(_ && inList).getOrElse(inList)): Unit)(
      keys => Snapshots.deleteWhereIn(session, root, fields, keyColumn,
        keys, rest, keysNormalized = true): Unit)
    Seq.empty
  }
}

/** `UPDATE <snapshot table> SET ... WHERE [rest AND] k IN (SELECT ...)`
  * — the subquery materializes at command time; small key sets inline
  * (Bloom-pruned IN-list through [[Snapshots.updateWhere]]), large ones
  * take [[Snapshots.updateWhereIn]]'s semi-join lane. `IN (empty)`
  * updates nothing. */
case class SnapshotUpdateInCommand(
    root: String, blocked: Option[String], keyColumn: String,
    subquery: LogicalPlan, rest: Option[Column],
    assignments: Seq[(String, Column)])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(subquery)

  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot UPDATE this table: $w"))
    val fields = Snapshots.recordedPartitionCols(session, root)
    SnapshotDml.runInLane(session, "UPDATE", keyColumn, subquery)(
      inList => Snapshots.updateWhere(session, root, fields,
        rest.map(_ && inList).getOrElse(inList), assignments): Unit)(
      keys => Snapshots.updateWhereIn(session, root, fields, keyColumn,
        keys, rest, assignments, keysNormalized = true): Unit)
    Seq.empty
  }
}

/** `UPDATE <snapshot table> SET ... [WHERE cond]` —
  * [[Snapshots.updateWhere]]'s file-bounded copy-on-write. */
case class SnapshotUpdateCommand(
    root: String, blocked: Option[String], condition: Column,
    assignments: Seq[(String, Column)])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot UPDATE this table: $w"))
    Snapshots.updateWhere(session, root,
      Snapshots.recordedPartitionCols(session, root), condition,
      assignments): Unit
    Seq.empty
  }
}

/** Conditional / partial-clause `MERGE INTO` (the CDC-apply statement):
  * source LEFT-joins target on the keys, the FIRST true clause claims
  * each row, and the claimed rows become one [[Snapshots.mergeUpsert]]
  * batch — delete clauses mark the key, update clauses rebuild the full
  * row from the PRE-merge target values with assignments applied,
  * insert clauses build rows from their assignment lists (unassigned
  * columns are typed nulls, SQL INSERT semantics). `notBySource`
  * clauses (the full-sync statement) act on target rows a target-driven
  * ANTI-join proves unmatched. Rows NO clause claims never enter the
  * updates frame and stay untouched. */
case class SnapshotMergeApplyCommand(
    root: String, blocked: Option[String], source: LogicalPlan,
    keys: Seq[String],
    matched: Seq[(Option[Column], Option[Seq[(String, Column)]])],
    notMatched: Seq[(Option[Column], Seq[(String, Column)])],
    notBySource: Seq[(Option[Column], Option[Seq[(String, Column)]])] =
      Seq.empty)
    extends LeafRunnableCommand {
  import SnapshotMergeApplyCommand._

  // the source plan is already analyzed; keep it visible in EXPLAIN
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot MERGE INTO this table: $w"))
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val fields = Snapshots.recordedPartitionCols(session, root)
    val schema = Snapshots.tableSchema(session, root)
    val tcols = schema.fieldNames.toSeq
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    val src0 = GraftSqlBridge.ofRows(session, source)
    // persist the source FIRST: the prune aggregate below and the join
    // both execute it, and a nondeterministic (or concurrently-changing)
    // source evaluated twice could yield prune bounds that miss keys the
    // join then produces — misclassifying matched rows as NOT MATCHED.
    // Pinning one evaluation makes the prune unconditionally sound.
    val src = src0.select(
      src0.columns.toSeq.map(c => q(c).as(SrcPrefix + c)): _*).persist()
    try {
      // prune the TARGET scan by the source's per-key [min, max] —
      // metadata-cost against each file's recorded stats, and (with the
      // source pinned) purely a performance cut: the join is
      // source-driven (left_outer), so a target row outside every
      // source key range can never contribute to any clause. One small
      // aggregate buys skipping most of a large table for the typical
      // recent-keys CDC batch; timestamp-typed keys are tz-guarded
      // inside the read as usual. NOT MATCHED BY SOURCE clauses must
      // see EVERY target row (unmatched-ness cannot be pruned), so
      // their presence disables the cut — the full-sync statement's
      // inherent cost, not a missed optimization.
      val prune =
        if (notBySource.nonEmpty) Seq.empty
        else Snapshots.minMaxStatRanges(src,
          keys.map(k => k -> (SrcPrefix + k)))
      val target = Snapshots.read(session, root, prune = prune)
        .withColumn(ExistsCol, lit(true))
      val joined = src.join(target,
        keys.map(k => src(qn(SrcPrefix + k)) === target(qn(k)))
          .reduce(_ && _), "left_outer")
      // first-true-clause selector, SQL MERGE order; -1 = no clause
      // claims the row (it stays out of the updates frame entirely)
      def firstIdx(conds: Seq[Option[Column]]): Column =
        conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), els) =>
          when(c.map(cc => coalesce(cc, lit(false))).getOrElse(lit(true)),
            lit(i)).otherwise(els)
        }
      val mRows = joined.filter(q(ExistsCol).isNotNull)
        .withColumn(ClauseCol, firstIdx(matched.map(_._1)))
        .filter(q(ClauseCol) >= 0)
      // ONE projection: every assignment RHS sees the PRE-merge row (the
      // updateWhere discipline); a delete clause's row keeps its original
      // values (only its key is consumed)
      val mOut = mRows.select(tcols.map { c =>
        matched.zipWithIndex.foldRight(q(c)) { case (((_, aOpt), i), els) =>
          aOpt.flatMap(_.find(_._1 == c)).map(_._2) match {
            case Some(e) => when(q(ClauseCol) === i,
              e.cast(schema(c).dataType)).otherwise(els)
            case None => els
          }
        }.as(c)
      } :+ matched.zipWithIndex.foldRight(lit(false)) {
        case (((_, aOpt), i), els) =>
          if (aOpt.isEmpty) when(q(ClauseCol) === i, lit(true)).otherwise(els)
          else els
      }.as(DelCol): _*)
      val uRows = joined.filter(q(ExistsCol).isNull)
        .withColumn(ClauseCol, firstIdx(notMatched.map(_._1)))
        .filter(q(ClauseCol) >= 0)
      val uOut = uRows.select(tcols.map { c =>
        notMatched.zipWithIndex.foldRight(
          lit(null).cast(schema(c).dataType)) {
          case (((_, assigns), i), els) =>
            assigns.find(_._1 == c).map(_._2) match {
              case Some(e) => when(q(ClauseCol) === i,
                e.cast(schema(c).dataType)).otherwise(els)
              case None => els
            }
        }.as(c)
      } :+ lit(false).as(DelCol): _*)
      // NOT MATCHED BY SOURCE: target rows with no source match (a
      // target-driven anti-join on the keys), first-true clause, delete
      // or rebuild from the TARGET row — keys here are disjoint from
      // both lanes above by construction (matched keys ARE in the
      // source; insert keys come FROM the source)
      val nOut = notBySource.headOption.map { _ =>
        val nRows = target.join(src,
          keys.map(k => target(qn(k)) === src(qn(SrcPrefix + k)))
            .reduce(_ && _), "left_anti")
          .withColumn(ClauseCol, firstIdx(notBySource.map(_._1)))
          .filter(q(ClauseCol) >= 0)
        nRows.select(tcols.map { c =>
          notBySource.zipWithIndex.foldRight(q(c)) {
            case (((_, aOpt), i), els) =>
              aOpt.flatMap(_.find(_._1 == c)).map(_._2) match {
                case Some(e) => when(q(ClauseCol) === i,
                  e.cast(schema(c).dataType)).otherwise(els)
                case None => els
              }
          }.as(c)
        } :+ notBySource.zipWithIndex.foldRight(lit(false)) {
          case (((_, aOpt), i), els) =>
            if (aOpt.isEmpty)
              when(q(ClauseCol) === i, lit(true)).otherwise(els)
            else els
        }.as(DelCol): _*)
      }
      val lanes = Seq(
        Some(mOut).filter(_ => matched.nonEmpty),
        Some(uOut).filter(_ => notMatched.nonEmpty),
        nOut).flatten
      val updates = lanes.reduce(_ unionByName _)
      // the upsert consumes the updates frame several times (dup-key
      // check, key collection, the write itself) — persist so the
      // clause-apply join computes once, not per consumption
      updates.persist()
      try Snapshots.mergeUpsert(session, root, updates, fields, keys,
        deleteCol = Some(DelCol)): Unit
      finally updates.unpersist(): Unit
    } finally src.unpersist(): Unit
    Seq.empty
  }
}

object SnapshotMergeApplyCommand {
  /** Prefix the join frame renames source columns under — clause
    * expressions referencing s.* resolve against these, target
    * references stay bare. */
  private[sources] val SrcPrefix = "__graft_s_"
  private val ExistsCol = "__graft_t_exists"
  private val ClauseCol = "__graft_clause"
  private val DelCol = "__graft_merge_del"
  private def qn(c: String) = s"`${c.replace("`", "``")}`"
}

/** `ALTER TABLE <snapshot table> ADD COLUMNS (...)` —
  * [[Snapshots.addColumns]]'s metadata-only `evolve_schema` snapshot
  * through the standard evolution gate (nullable additions only — the
  * gate's own reasons surface for anything else), then a relation-cache
  * refresh so the very next SELECT sees the widened contract without a
  * manual `REFRESH TABLE`. */
case class SnapshotAddColumnsCommand(
    root: String, blocked: Option[String], table: String,
    columns: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot ALTER this table: $w"))
    Snapshots.addColumns(session, root, columns): Unit
    session.catalog.refreshTable(table)
    Seq.empty
  }
}

/** `TRUNCATE TABLE <snapshot table>` — [[Snapshots.truncate]]'s
  * metadata-only empty snapshot; with a `PARTITION (p = v, ...)` spec,
  * [[Snapshots.deleteWhere]] on the partition-column equalities (every
  * row of a named partition matches its file's whole content, so the
  * "rewrite" stages nothing back — file removals at metadata cost).
  * Spark's own v1 command would `fs.delete` the LOCATION tree,
  * destroying every retained snapshot — exactly what the re-route
  * prevents. */
case class SnapshotTruncateCommand(
    root: String, blocked: Option[String], spec: Map[String, String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot TRUNCATE this table: $w"))
    if (spec.isEmpty) Snapshots.truncate(session, root): Unit
    else {
      val fields = Snapshots.recordedPartitionCols(session, root)
      // match spec keys with the SESSION resolver (case-insensitive by
      // default, like every analyzer comparison) and canonicalize to the
      // recorded field name — `PARTITION (DAY = ...)` on a `day`-
      // partitioned table is legal SQL, not a missing column
      val resolver = session.sessionState.conf.resolver
      val schema = Snapshots.tableSchema(session, root)
      val canon = spec.toSeq.map { case (k, v) =>
        val field = fields.find(resolver(_, k)).getOrElse(
          throw new IllegalArgumentException(
            s"TRUNCATE PARTITION column '$k' is not a partition field — " +
              s"the recorded spec is (${fields.mkString(", ")}); " +
              "row-level removal is DELETE FROM"))
        field -> v
      }
      // two case-variant spellings of ONE field would silently AND into
      // a match-nothing condition — loud instead
      canon.groupBy(_._1).collectFirst { case (f, vs) if vs.length > 1 =>
        throw new IllegalArgumentException(
          s"TRUNCATE PARTITION names column '$f' ${vs.length} times " +
            s"(values ${vs.map(_._2).mkString(", ")})")
      }: Unit
      val cond = canon.map { case (field, v) =>
        val dt = schema(field).dataType
        // validate the literal cast EAGERLY: under non-ANSI sessions an
        // uncastable value casts to null, the condition evaluates to null,
        // and deleteWhere would silently remove NOTHING while the
        // statement reports success — loud naming the bad value instead
        val casted = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(v),
            org.apache.spark.sql.types.StringType), dt,
          Some(session.sessionState.conf.sessionLocalTimeZone))
        val parsed =
          try casted.eval()
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalArgumentException(
                s"TRUNCATE PARTITION value '$v' is not a valid " +
                  s"${dt.sql} for partition column '$field'", e)
          }
        require(parsed != null,
          s"TRUNCATE PARTITION value '$v' is not a valid ${dt.sql} for " +
            s"partition column '$field' — it casts to null, which would " +
            "match (and remove) nothing")
        col(s"`${field.replace("`", "``")}`") ===
          GraftSqlBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal.create(
              parsed, dt))
      }.reduce(_ && _)
      Snapshots.deleteWhere(session, root, fields, cond): Unit
    }
    Seq.empty
  }
}

/** Canonical `MERGE INTO` — [[Snapshots.mergeUpsert]] over the analyzed
  * source plan (per key: replace-or-insert, or delete-matched). */
case class SnapshotMergeCommand(
    root: String, blocked: Option[String], source: LogicalPlan,
    keys: Seq[String], deleteOnly: Boolean)
    extends LeafRunnableCommand {
  // the source plan is already analyzed; keep it visible in EXPLAIN
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    blocked.foreach(w => throw new UnsupportedOperationException(
      s"cannot MERGE INTO this table: $w"))
    val fields = Snapshots.recordedPartitionCols(session, root)
    val src = GraftSqlBridge.ofRows(session, source)
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    if (deleteOnly) {
      // the upsert lane's routing select needs the partition columns
      // PRESENT on the updates frame even when every row is a delete
      // (a delete removes the key wherever it lives — the values are
      // never read); typed nulls satisfy the contract
      val schema = Snapshots.tableSchema(session, root)
      val updates = fields.foldLeft(
        src.select(keys.map(q): _*).distinct()) { (df, p) =>
          df.withColumn(p, lit(null).cast(schema(p).dataType))
        }.withColumn("__graft_merge_del", lit(true))
      Snapshots.mergeUpsert(session, root, updates, fields, keys,
        deleteCol = Some("__graft_merge_del")): Unit
    } else {
      val targetCols = Snapshots.tableSchema(session, root).fieldNames
      targetCols.foreach(c => require(src.columns.contains(c),
        s"MERGE source must carry every target column for UPDATE SET * " +
          s"/ INSERT * — missing '$c'"))
      Snapshots.mergeUpsert(session, root,
        src.select(targetCols.toSeq.map(q): _*), fields, keys): Unit
    }
    Seq.empty
  }
}
