package graft.sources

import graft.sink.Snapshots
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.GraftSqlBridge

/**
 * `INSERT INTO/OVERWRITE <snapshot table> PARTITION (p = 'x'[, q]) ...`
 * — the Hive-habituated STATIC-partition spelling. Spark's analyzer
 * consults catalog partition metadata (which a v1 non-file-format
 * registration cannot declare) BEFORE any extension rule runs, so the
 * statement would die with `PARTITIONS_NOT_FOUND` no matter what a
 * resolution rule did; this pre-analyzer intercept (the
 * [[GraftSqlParser]] lane `CALL graft_*` already rides) recognizes the
 * statement, validates the spec against the RECORDED partition spec,
 * and rewrites it to the in-row form the engine executes everywhere
 * else: static values become injected literal columns, dynamic columns
 * (named without a value, or omitted) stay query-provided.
 *
 * Semantics:
 *  - the query supplies exactly the table's columns MINUS the static
 *    ones, in table-schema order (positional, like every other INSERT
 *    on these tables); a wrong count aborts naming the expected list;
 *  - `INSERT INTO` appends;
 *  - `INSERT OVERWRITE` with any static value routes through
 *    [[Snapshots.replaceWhere]] on the conjunction of the static
 *    equalities — Spark's own (default, `partitionOverwriteMode=
 *    static`) semantics for the statement: the static-matched region
 *    is replaced EXACTLY — atomically, in ONE snapshot, and an empty
 *    source clears the region (the "rebuild day X" idempotent
 *    backfill). A dynamic-ONLY spec on an OVERWRITE is rejected loudly
 *    (Spark's static default would overwrite ALL partitions, this
 *    table's plain OVERWRITE only the touched ones — neither reading of
 *    the spelling may win silently); dynamic-only INTO specs run as the
 *    table's plain INSERT.
 *  - static values cast to the partition column's recorded type
 *    EAGERLY — an uncastable or null-casting value aborts naming it
 *    (the TRUNCATE PARTITION discipline), never a silent no-match;
 *  - branch-pinned registrations insert onto the branch head (the WAP
 *    workflow); time-travel pins reject as ever. A branch OVERWRITE
 *    with static values rides the branch's dynamic-overwrite lane
 *    (branch manifests take no predicate rewrite), so an EMPTY source
 *    fails loudly there like any empty branch batch — the one
 *    documented divergence from main's region-clearing semantics.
 *
 * Non-snapshot tables pass through to Spark's parser untouched (the
 * catalog probe at parse time is one metastore read, paid only by
 * statements that textually carry both INSERT and PARTITION). A CTE
 * BEFORE the INSERT keyword (`WITH x AS (...) INSERT INTO t PARTITION
 * ...`) is not recognized — write the CTE inside the query instead
 * (`INSERT INTO t PARTITION (...) WITH x AS (...) SELECT ...`), which
 * parses through the normal query lane.
 */
private[sources] object SnapshotInsertSql {
  import SnapshotMaintenanceSql.{containsIgnoreCase, stripComments}

  // the prefix up to PARTITION( — the tail after the balanced close
  // paren is the query, parsed by Spark's own parser (never by regex)
  private val Ident = """(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`)"""
  private val Head =
    ("""(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?""" +
      s"""($Ident(?:\\.$Ident)?)\\s+PARTITION\\s*\\(""").r

  def intercept(
      session: SparkSession, delegate: ParserInterface,
      sqlText: String): Option[LogicalPlan] = {
    // cheap pre-filter: no candidate lacks either word, and ordinary
    // INSERT traffic must not pay the comment strip or a catalog probe
    if (!containsIgnoreCase(sqlText, "insert") ||
      !containsIgnoreCase(sqlText, "partition")) return None
    val stripped = stripComments(sqlText)
    val m = Head.findPrefixMatchOf(stripped).getOrElse(return None)
    // the target decides ownership: only registered snapshot tables are
    // ours — everything else (hive tables, datasource tables, temp
    // views, typos) keeps Spark's own behavior
    val tableName = m.group(2)
    val meta =
      try {
        val ident = delegate.parseTableIdentifier(tableName)
        val t = session.sessionState.catalog.getTableMetadata(ident)
        if (GraftCatalog.isSnapshotTable(t)) Some(t) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    if (meta.isEmpty) return None
    // from here on the statement is OURS: argument errors abort loudly
    // (the no-fall-through guarantee — Spark's PARTITIONS_NOT_FOUND
    // would be a lie about what went wrong)
    val close = balancedClose(stripped, m.end - 1)
    require(close > 0,
      s"INSERT ... PARTITION: unbalanced parenthesis in: $sqlText")
    val specText = stripped.substring(m.end, close)
    // Spark's own grammar tolerates one trailing ';' on any statement —
    // this lane must too (the CALL/ALTER regexes already do)
    val tail = stripped.substring(close + 1).trim.stripSuffix(";").trim
    require(!tail.toUpperCase.startsWith("IF NOT EXISTS"),
      "INSERT ... PARTITION ... IF NOT EXISTS is not supported on " +
        "snapshot tables — overwrites are atomic snapshots; guard with " +
        "graft_partitions/graft_snapshot reads instead")
    require(tail.nonEmpty,
      "INSERT ... PARTITION needs a query (SELECT ... / VALUES ...)")
    val spec: Seq[(String, Option[Expression])] =
      splitSpec(specText).map(parseSpecEntry(delegate, _))
    spec.groupBy(_._1.toLowerCase).collectFirst {
      case (_, es) if es.length > 1 => throw new IllegalArgumentException(
        s"PARTITION names column '${es.head._1}' ${es.length} times")
    }: Unit
    val query =
      try delegate.parseQuery(tail)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            if (tail.startsWith("("))
              "INSERT ... PARTITION with an explicit column list is not " +
                "supported on snapshot tables — the query supplies the " +
                "non-static columns in table-schema order"
            else s"INSERT ... PARTITION: cannot parse the query: " +
              s"${e.getMessage}", e)
      }
    Some(SnapshotStaticInsertCommand(tableName,
      overwrite = m.group(1).equalsIgnoreCase("OVERWRITE"),
      spec = spec, query = query))
  }

  /** Split the PARTITION spec on top-level commas — quote-aware AND
    * paren-aware (unlike the CALL-argument splitter): a foldable
    * function-call value like `make_date(2024, 1, 1)` must not split
    * mid-expression. */
  private def splitSpec(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0 // the OPENING quote char; Spark admits ' and "
    var depth = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case '(' => depth += 1; cur.append(c)
        case ')' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.result().trim; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    val last = cur.result().trim
    val all = (out += last).result()
    if (all == Seq("")) Seq.empty else all
  }

  /** Index of the `)` closing the paren at `open`, honoring nesting and
    * single-quoted strings; -1 when unbalanced. */
  private def balancedClose(s: String, open: Int): Int = {
    var i = open + 1
    var depth = 1
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** One PARTITION entry: `col = <literal>` (static) or `col`
    * (dynamic). The value parses through Spark's own expression parser
    * and must FOLD to a literal — `DATE '2024-01-01'` works, a
    * subquery or column reference is loud. */
  private def parseSpecEntry(
      delegate: ParserInterface, arg: String): (String, Option[Expression]) = {
    val eq = topLevelEq(arg)
    if (eq < 0) {
      val name = arg.trim
      require(name.nonEmpty, "empty PARTITION entry")
      (unquoteIdent(delegate, name), None)
    } else {
      val name = unquoteIdent(delegate, arg.substring(0, eq).trim)
      val valueText = arg.substring(eq + 1).trim
      val e =
        try delegate.parseExpression(valueText)
        catch {
          case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new IllegalArgumentException(
              s"PARTITION ($name = $valueText): cannot parse value: " +
                ex.getMessage, ex)
        }
      // a constant EXPRESSION (make_date(2024, 1, 1)) is fine — it
      // resolves and evaluates once at run; a column reference or a
      // subquery is not a partition value
      require(!e.exists(x =>
        x.isInstanceOf[org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute] ||
        x.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .SubqueryExpression]),
        s"PARTITION ($name = $valueText): the value must be a literal " +
          "or constant expression")
      (name, Some(e))
    }
  }

  private def topLevelEq(arg: String): Int = {
    var i = 0
    var quote: Char = 0
    while (i < arg.length) {
      val c = arg.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '=') return i
      i += 1
    }
    -1
  }

  private def unquoteIdent(
      delegate: ParserInterface, raw: String): String = {
    val parts =
      try delegate.parseMultipartIdentifier(raw)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"PARTITION: '$raw' is not a column identifier", e)
      }
    require(parts.length == 1,
      s"PARTITION column must be a bare name, got: $raw")
    parts.head
  }
}

/** The rewritten statement: resolve the table at RUN time (pin check,
  * root), validate the spec against the recorded partition fields,
  * inject static literals at their schema positions, and route through
  * the engine's own lanes — append, dynamic overwrite, or the atomic
  * [[Snapshots.replaceWhere]] static overwrite. */
case class SnapshotStaticInsertCommand(
    table: String, overwrite: Boolean,
    spec: Seq[(String, Option[Expression])], query: LogicalPlan)
    extends LeafRunnableCommand {
  // keep the (parse-time, unresolved) source query visible in EXPLAIN —
  // it analyzes at RUN time, so resolution state here is display-only
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans
    .QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val ident = session.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = session.sessionState.catalog.getTableMetadata(ident)
    require(GraftCatalog.isSnapshotTable(meta),
      s"$table is no longer a graft snapshot table")
    GraftCatalog.pinnedOption(meta).foreach {
      case p @ ("asof" | "asoftimestamp" | "timestampasof" | "tag") =>
        throw new UnsupportedOperationException(
          s"cannot INSERT into the $p-pinned table $table — it is a " +
            "read-only view of history")
      case _ => () // branch pins accept inserts (the WAP workflow)
    }
    val branch = meta.storage.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("branch") => v
    }
    val root = GraftCatalog.rootOf(meta, table)
    val fields = Snapshots.recordedPartitionCols(session, root)
    val schema = Snapshots.tableSchema(session, root)
    val resolver = session.sessionState.conf.resolver
    // canonicalize spec names to the recorded field spelling; non-
    // partition columns are loud with the real spec named
    val canon: Seq[(String, Option[Expression])] = spec.map { case (k, v) =>
      val field = fields.find(resolver(_, k)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITION column '$k' is not a partition field of $table — " +
            s"the recorded spec is (${fields.mkString(", ")})"))
      field -> v
    }
    canon.groupBy(_._1).collectFirst { case (f, vs) if vs.length > 1 =>
      throw new IllegalArgumentException(
        s"PARTITION names column '$f' ${vs.length} times")
    }: Unit
    // static values cast EAGERLY under the recorded type — null/uncast
    // aborts naming the value (the TRUNCATE PARTITION discipline). A
    // plain literal folds directly; a constant EXPRESSION (make_date)
    // resolves through the session analyzer over a one-row frame and
    // must be deterministic — evaluated exactly once, before any write
    val statics: Map[String, Any] = canon.collect { case (f, Some(e)) =>
      val dt = schema(f).dataType
      val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
      val parsed =
        try {
          if (e.foldable) Cast(e, dt, tz).eval()
          else {
            val frame = session.range(1)
              .select(GraftSqlBridge.column(Cast(e, dt, tz)).as("v"))
            val resolved = frame.queryExecution.analyzed.expressions
            require(resolved.forall(_.deterministic),
              s"PARTITION value ${e.sql} is nondeterministic — a " +
                "static partition value must be a constant")
            frame.head().get(0)
          }
        } catch {
          case req: IllegalArgumentException => throw req
          case scala.util.control.NonFatal(ex) =>
            throw new IllegalArgumentException(
              s"PARTITION value ${e.sql} is not a valid ${dt.sql} for " +
                s"partition column '$f'", ex)
        }
      require(parsed != null,
        s"PARTITION value ${e.sql} is not a valid ${dt.sql} for " +
          s"partition column '$f' — it casts to null")
      f -> parsed
    }.toMap
    if (statics.isEmpty) {
      // dynamic-only spec: the names were validated. An INTO is the
      // table's plain INSERT; an OVERWRITE is REJECTED loudly — Spark's
      // default (static partitionOverwriteMode) would overwrite ALL
      // partitions for an all-dynamic spec, while this table's plain
      // OVERWRITE replaces only the touched partitions. Routing the
      // Hive-habituated spelling to either would be a silent semantic
      // divergence for the other's readers, so the statement names both
      // lanes and makes the caller pick one.
      require(!overwrite,
        s"INSERT OVERWRITE $table PARTITION " +
          s"(${canon.map(_._1).mkString(", ")}) names only dynamic " +
          "columns — this table's OVERWRITE replaces only the touched " +
          "partitions (Spark's dynamic partitionOverwriteMode), not all " +
          "partitions (Spark's static default for this spelling). Drop " +
          s"the PARTITION clause (`INSERT OVERWRITE $table ...`) for " +
          "touched-partition replacement, or give the spec static " +
          "values to replace an exact region")
      return runPlain(session, root, fields, schema, branch, Seq.empty)
    }
    runPlain(session, root, fields, schema, branch,
      schema.fieldNames.toSeq.filter(statics.contains).map(f =>
        (f, statics(f))))
  }

  private def runPlain(
      session: SparkSession, root: String, fields: Seq[String],
      schema: org.apache.spark.sql.types.StructType, branch: Option[String],
      statics: Seq[(String, Any)]): Seq[Row] = {
    val staticSet = statics.map(_._1).toSet
    val provided = schema.fields.filterNot(f => staticSet(f.name))
    val df = GraftSqlBridge.ofRows(session, query)
    require(df.columns.length == provided.length,
      s"INSERT ... PARTITION: the query provides ${df.columns.length} " +
        s"columns; with (${statics.map(_._1).mkString(", ")}) fixed by " +
        s"the PARTITION clause it must provide exactly " +
        s"${provided.length}, in table-schema order: " +
        s"(${provided.map(_.name).mkString(", ")})")
    // positional, like every INSERT on these tables: rename to the
    // non-static schema names, then assemble full schema order with the
    // static literals at their slots (typed internally — never a
    // re-rendered string)
    val renamed = df.toDF(provided.map(_.name).toIndexedSeq: _*)
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    val out = renamed.select(schema.fields.toSeq.map { f =>
      if (staticSet(f.name))
        GraftSqlBridge.column(Literal.create(
          statics.find(_._1 == f.name).get._2, f.dataType)).as(f.name)
      else q(f.name).cast(f.dataType).as(f.name)
    }: _*)
    val mode =
      if (overwrite) Snapshots.SnapOverwritePartitions
      else Snapshots.SnapAppend
    branch match {
      case Some(b) => Snapshots.writeToBranch(out, root, b, fields, mode): Unit
      case None if overwrite && statics.nonEmpty =>
        // static overwrite = replace EXACTLY the static-matched region,
        // atomically — Spark's default (static partitionOverwriteMode)
        // semantics; an empty source clears the region
        val cond = statics.map { case (f, v) =>
          q(f) === GraftSqlBridge.column(
            Literal.create(v, schema(f).dataType))
        }.reduce(_ && _)
        Snapshots.replaceWhere(out, root, fields, cond): Unit
      case None => Snapshots.write(out, root, fields, mode): Unit
    }
    Seq.empty
  }
}
