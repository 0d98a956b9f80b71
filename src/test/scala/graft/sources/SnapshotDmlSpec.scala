package graft.sources

import graft.SparkSpec
import graft.sink.Snapshots
import org.apache.spark.sql.functions._

/** Row-level SQL over registered snapshot tables (the
  * [[graft.GraftExtensions]]-injected [[SnapshotDmlRule]]): DELETE /
  * UPDATE / canonical MERGE must be EXACTLY the engine calls — same
  * file-bounded rewrites (manifest-asserted), same semantics — and
  * everything the upsert mapping cannot represent must abort loudly. */
class SnapshotDmlSpec extends SparkSpec {

  private def manifestRemoves(root: String, id: Int): Int =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s$id")))
      .linesIterator.count(_.startsWith("remove="))

  test("DELETE FROM routes through deleteWhere: Bloom-bounded copy-on-write, manifest-asserted") {
    val root = java.nio.file.Files.createTempDirectory("dml_del").toString
    // interleaved per-file key ranges: only the Bloom separates them
    val evens = spark.range(0, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    val odds = spark.range(1, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    Snapshots.write(evens.coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(odds.coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    spark.sql("DROP TABLE IF EXISTS dml_del_tbl")
    Snapshots.registerTable(spark, root, "dml_del_tbl")
    // the point delete: exactly one file rewrites (the Bloom bound) —
    // the same assertion the Scala-API test pins, now reached from SQL
    spark.sql("DELETE FROM dml_del_tbl WHERE k = 42")
    assert(Snapshots.currentSnapshot(spark, root).contains(3))
    assert(manifestRemoves(root, 3) == 1,
      "the SQL delete must inherit the Bloom-bounded rewrite")
    assert(spark.sql("SELECT count(*) AS n FROM dml_del_tbl")
      .head().getLong(0) == 199L)
    // an audited snapshot with the engine's mode, visible in history
    assert(Snapshots.history(spark, root).collect()
      .map(_.getString(1)).toSeq
      == Seq("append", "append", "delete_where"))
    // a predicate (non-point) delete; IN-lists derive disjunctive prunes
    spark.sql("DELETE FROM dml_del_tbl WHERE k IN (1, 3, 5)")
    assert(spark.sql("SELECT count(*) AS n FROM dml_del_tbl")
      .head().getLong(0) == 196L)
    // deleting nothing publishes nothing (deleteWhere's no-match no-op)
    spark.sql("DELETE FROM dml_del_tbl WHERE k = 424242")
    assert(Snapshots.currentSnapshot(spark, root).contains(4))
    // pre-delete states stay time-travelable
    assert(Snapshots.read(spark, root, asOf = Some(2)).count() == 200L)
    spark.sql("DROP TABLE dml_del_tbl")
  }

  test("BETWEEN in DELETE and UPDATE matches the >= / <= form in rows and pruning") {
    def table(name: String): String = {
      val root = java.nio.file.Files.createTempDirectory(name).toString
      // four files with disjoint key ranges: stat pruning separates them
      (0 until 4).foreach { i =>
        Snapshots.write(spark.range(i * 50, i * 50 + 50)
          .select(col("id").as("k"), (col("id") * 10).as("v"),
            lit("a").as("p")).coalesce(1), root, Seq("p"),
          statsColumns = if (i == 0) Seq("k") else Seq.empty)
      }
      spark.sql(s"DROP TABLE IF EXISTS $name")
      Snapshots.registerTable(spark, root, name)
      root
    }
    val between = table("dml_between")
    val ranged = table("dml_ranged")
    def rows(t: String): Set[(Long, Long)] =
      spark.sql(s"SELECT k, v FROM $t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sql("DELETE FROM dml_between WHERE k BETWEEN 60 AND 80")
    spark.sql("DELETE FROM dml_ranged WHERE k >= 60 AND k <= 80")
    assert(rows("dml_between") == rows("dml_ranged"))
    assert(rows("dml_between").size == 179)
    assert(manifestRemoves(between, 5) == 1 && manifestRemoves(ranged, 5) == 1,
      "BETWEEN must prune to the one file the >= / <= form rewrites")
    spark.sql("UPDATE dml_between SET v = v + 1 WHERE k BETWEEN 120 AND 130")
    spark.sql("UPDATE dml_ranged SET v = v + 1 WHERE k >= 120 AND k <= 130")
    assert(rows("dml_between") == rows("dml_ranged"))
    assert(rows("dml_between").count(_._2 % 10 == 1) == 11)
    assert(manifestRemoves(between, 6) == 1 && manifestRemoves(ranged, 6) == 1,
      "BETWEEN must prune to the one file the >= / <= form rewrites")
    spark.sql("DROP TABLE dml_between")
    spark.sql("DROP TABLE dml_ranged")
  }

  test("DELETE with an IN-subquery: small sets inline as Bloom-pruned IN-lists, large sets take the semi-join lane") {
    val root = java.nio.file.Files.createTempDirectory("dml_delsub").toString
    // two files with interleaved key ranges: only Bloom/IN pruning
    // separates them (the dml_del fixture's shape)
    val evens = spark.range(0, 2000, 2).select(col("id").as("k"),
      lit("a").as("p"))
    val odds = spark.range(1, 2000, 2).select(col("id").as("k"),
      lit("a").as("p"))
    Snapshots.write(evens.coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(odds.coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    spark.sql("DROP TABLE IF EXISTS dml_delsub_tbl")
    Snapshots.registerTable(spark, root, "dml_delsub_tbl")
    // the purge-list table a GDPR delete joins against
    spark.range(0, 3).select((col("id") * 4 + 2).as("uid"))
      .createOrReplaceTempView("dml_purge_small") // 2, 6, 10 — all even
    // SMALL subquery (3 distinct keys ≤ cap): inlines as an IN-list and
    // inherits the Bloom-bounded rewrite — exactly ONE file rewrites
    spark.sql(
      """DELETE FROM dml_delsub_tbl
        |WHERE k IN (SELECT uid FROM dml_purge_small)""".stripMargin)
    assert(Snapshots.currentSnapshot(spark, root).contains(3))
    assert(manifestRemoves(root, 3) == 1,
      "a small IN-subquery must inherit the Bloom-bounded one-file rewrite")
    assert(spark.sql("SELECT count(*) AS n FROM dml_delsub_tbl")
      .head().getLong(0) == 1997L)
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "delete_where")
    // LARGE subquery (500 distinct keys > cap): the semi-join lane —
    // same audited mode, same answer as the equivalent predicate
    spark.range(0, 1000).select((col("id") * 2 + 1).as("uid"))
      .where(col("uid") < 1000) // 1,3,...,999 — 500 odd keys
      .createOrReplaceTempView("dml_purge_big")
    spark.sql(
      """DELETE FROM dml_delsub_tbl
        |WHERE k IN (SELECT uid FROM dml_purge_big)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM dml_delsub_tbl")
      .head().getLong(0) == 1497L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM dml_delsub_tbl WHERE k % 2 = 1 AND k < 1000")
      .head().getLong(0) == 0L, "every purge-list member deleted")
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "delete_where")
    // a REST conjunct composes: only members also satisfying it delete
    spark.range(0, 400).select((col("id") * 2 + 1001).as("uid"))
      .createOrReplaceTempView("dml_purge_rest") // 1001,1003,...,1799
    spark.sql(
      """DELETE FROM dml_delsub_tbl
        |WHERE k >= 1500 AND k IN (SELECT uid FROM dml_purge_rest)"""
        .stripMargin)
    // odd keys 1501..1799 = 150 rows deleted
    assert(spark.sql("SELECT count(*) AS n FROM dml_delsub_tbl")
      .head().getLong(0) == 1347L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM dml_delsub_tbl WHERE k = 1499")
      .head().getLong(0) == 1L, "a member failing the rest conjunct stays")
    // an EMPTY subquery result deletes nothing and publishes nothing
    val before = Snapshots.currentSnapshot(spark, root)
    spark.sql(
      """DELETE FROM dml_delsub_tbl
        |WHERE k IN (SELECT uid FROM dml_purge_small WHERE uid < 0)"""
        .stripMargin)
    assert(Snapshots.currentSnapshot(spark, root) == before,
      "IN (empty) is never TRUE — no snapshot burned")
    // pre-delete states stay time-travelable
    assert(Snapshots.read(spark, root, asOf = Some(2)).count() == 2000L)
    spark.sql("DROP TABLE dml_delsub_tbl")
  }

  test("UPDATE with an IN-subquery: inline and semi-join lanes, rest conjuncts compose") {
    val root = java.nio.file.Files.createTempDirectory("dml_updsub").toString
    val mk = (r: org.apache.spark.sql.DataFrame) => r.select(
      col("id").as("k"), lit("a").as("p"), (col("id") * 1.0).as("v"))
    Snapshots.write(mk(spark.range(0, 1000, 2).toDF("id")).coalesce(1),
      root, Seq("p"), statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(mk(spark.range(1, 1000, 2).toDF("id")).coalesce(1),
      root, Seq("p"), Snapshots.SnapAppend)
    spark.sql("DROP TABLE IF EXISTS dml_updsub_tbl")
    Snapshots.registerTable(spark, root, "dml_updsub_tbl")
    spark.range(0, 3).select((col("id") * 4).as("uid"))
      .createOrReplaceTempView("dml_upd_small") // 0, 4, 8 — even keys
    // small lane: inlines, inherits the Bloom-bounded one-file rewrite
    spark.sql(
      """UPDATE dml_updsub_tbl SET v = v + 10000
        |WHERE k IN (SELECT uid FROM dml_upd_small)""".stripMargin)
    assert(manifestRemoves(root, 3) == 1,
      "a small IN-subquery UPDATE must inherit the Bloom-bounded rewrite")
    assert(spark.sql(
      "SELECT sum(v) AS s FROM dml_updsub_tbl WHERE k IN (0, 4, 8)")
      .head().getDouble(0) == 30012.0)
    // large lane (500 odd keys > cap), composed with a rest conjunct:
    // only members ALSO past the bound update
    spark.range(0, 500).select((col("id") * 2 + 1).as("uid"))
      .createOrReplaceTempView("dml_upd_big")
    spark.sql(
      """UPDATE dml_updsub_tbl SET v = -1.0
        |WHERE k >= 500 AND k IN (SELECT uid FROM dml_upd_big)"""
        .stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM dml_updsub_tbl WHERE v = -1.0")
      .head().getLong(0) == 250L) // odd keys 501..999
    assert(spark.sql("SELECT v FROM dml_updsub_tbl WHERE k = 499")
      .head().getDouble(0) == 499.0,
      "a member failing the rest conjunct keeps its value")
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "update_where")
    // empty subquery result: nothing matches, no snapshot burned
    val before = Snapshots.currentSnapshot(spark, root)
    spark.sql(
      """UPDATE dml_updsub_tbl SET v = 0.0
        |WHERE k IN (SELECT uid FROM dml_upd_small WHERE uid < 0)"""
        .stripMargin)
    assert(Snapshots.currentSnapshot(spark, root) == before)
    spark.sql("DROP TABLE dml_updsub_tbl")
  }

  test("UPDATE evaluates every assignment against the PRE-update row and can move partitions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_upd").toString
    Snapshots.write(
      Seq((1L, "a", 10.0, 100.0), (2L, "a", 20.0, 200.0),
        (3L, "b", 30.0, 300.0)).toDF("k", "p", "v", "w").coalesce(1),
      root, Seq("p"), statsColumns = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS dml_upd_tbl")
    Snapshots.registerTable(spark, root, "dml_upd_tbl")
    // v and w swap-and-combine: both right-hand sides must see the OLD
    // row (one projection — SQL UPDATE semantics), never each other
    spark.sql(
      "UPDATE dml_upd_tbl SET v = v + w, w = v WHERE k = 2")
    val r2 = spark.sql("SELECT v, w FROM dml_upd_tbl WHERE k = 2").head()
    assert(r2.getDouble(0) == 220.0 && r2.getDouble(1) == 20.0,
      s"got $r2 — assignments must not see each other's results")
    // untouched rows ride through; the write is an audited snapshot
    assert(spark.sql("SELECT v FROM dml_upd_tbl WHERE k = 1")
      .head().getDouble(0) == 10.0)
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "update_where")
    // an assignment to the PARTITION column moves the row's partition
    spark.sql("UPDATE dml_upd_tbl SET p = 'b' WHERE k = 1")
    assert(spark.sql("SELECT p FROM dml_upd_tbl WHERE k = 1")
      .head().getString(0) == "b")
    assert(Snapshots.read(spark, root).filter(col("p") === "b").count() == 2)
    // WHERE omitted = every row (condition TRUE), still file-bounded CoW
    spark.sql("UPDATE dml_upd_tbl SET v = 0.0")
    assert(spark.sql("SELECT sum(v) AS s FROM dml_upd_tbl")
      .head().getDouble(0) == 0.0)
    // a typo'd target column fails loudly EVEN when nothing matches —
    // never the success-shaped None of a legitimate no-match update
    val exCol = intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, root, Seq("p"),
        col("k") === -999L, Seq("nosuchcol" -> lit(1)))
    }
    assert(exCol.getMessage.contains("unknown UPDATE target"),
      exCol.getMessage)
    spark.sql("DROP TABLE dml_upd_tbl")
  }

  test("MERGE INTO: canonical upsert and delete-matched map to mergeUpsert; other shapes abort loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_mrg").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS dml_mrg_tbl")
    Snapshots.registerTable(spark, root, "dml_mrg_tbl")
    // source: replaces k=2 (moving it to partition b), inserts k=4
    Seq((2L, "b", 99.0), (4L, "a", 40.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("dml_mrg_src")
    spark.sql(
      """MERGE INTO dml_mrg_tbl t USING dml_mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT k, p, v FROM dml_mrg_tbl ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "a", 10.0), (2L, "b", 99.0),
      (3L, "b", 30.0), (4L, "a", 40.0)), rows.mkString(","))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "merge", "the SQL merge must be the engine's merge lane")
    // WHEN MATCHED THEN DELETE alone removes exactly the matched keys
    Seq(2L, 4L, 777L).toDF("k").createOrReplaceTempView("dml_mrg_del")
    spark.sql(
      """MERGE INTO dml_mrg_tbl t USING dml_mrg_del s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM dml_mrg_tbl").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // inexpressible shapes abort loudly, naming the supported forms
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    val exKey = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml_mrg_tbl t USING dml_mrg_src s ON t.k = s.v
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messages(exKey).contains("not supported on snapshot tables"),
      messages(exKey))
    // reassigning a merge key to anything but its same-name source copy
    // breaks per-key replace semantics — loud, never silently different
    val exReKey = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml_mrg_tbl t USING dml_mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET k = s.k + 1""".stripMargin)
    }
    assert(messages(exReKey).contains("reassign merge key"),
      messages(exReKey))
    spark.sql("DROP TABLE dml_mrg_tbl")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the full-sync statement maps to the upsert") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_nbs").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
        (4L, "b", 40.0)).toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS dml_nbs_tbl")
    Snapshots.registerTable(spark, root, "dml_nbs_tbl")
    // full sync: target must become exactly the source
    Seq((2L, "a", 99.0), (5L, "b", 50.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("dml_nbs_src")
    spark.sql(
      """MERGE INTO dml_nbs_tbl t USING dml_nbs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM dml_nbs_tbl ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((2L, 99.0), (5L, 50.0)),
      s"full sync must mirror the source exactly: ${rows.mkString(",")}")
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "merge")
    // conditional NBS UPDATE: unmatched rows get marked, matched rows
    // ride the matched clauses, and an unmatched row failing the NBS
    // condition stays untouched
    Snapshots.write(
      Seq((6L, "a", 60.0), (7L, "b", 70.0)).toDF("k", "p", "v"),
      root, Seq("p"), Snapshots.SnapAppend)
    Seq((5L, "b", 51.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("dml_nbs_src2")
    spark.sql(
      """MERGE INTO dml_nbs_tbl t USING dml_nbs_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.p = 'a' THEN UPDATE SET
        |  v = -t.v""".stripMargin)
    val after = spark.sql("SELECT k, v FROM dml_nbs_tbl ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(after.toSeq == Seq((2L, -99.0), (5L, 51.0), (6L, -60.0),
      (7L, 70.0)), after.mkString(","))
    // NBS alone is a valid statement (prune-free scan, anti-join only)
    spark.sql(
      """MERGE INTO dml_nbs_tbl t USING dml_nbs_src2 s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE AND t.k = 7 THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM dml_nbs_tbl").collect()
      .map(_.getLong(0)).toSet == Set(2L, 5L, 6L))
    spark.sql("DROP TABLE dml_nbs_tbl")
  }

  test("MERGE with conditional and partial clauses: the CDC-apply statement maps exactly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_cdc").toString
    Snapshots.write(
      Seq((1L, "a", 10.0, "x"), (2L, "a", 20.0, "y"), (3L, "b", 30.0, "z"))
        .toDF("k", "p", "v", "tag").coalesce(1), root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS dml_cdc_tbl")
    Snapshots.registerTable(spark, root, "dml_cdc_tbl")
    // the standard CDC batch: op D deletes, U updates (PARTIALLY — tag
    // must survive), I inserts; an op the clauses don't claim is ignored
    Seq((1L, "a", 0.0, "D"), (2L, "a", 99.0, "U"), (4L, "b", 40.0, "I"),
      (5L, "b", 50.0, "SKIP"))
      .toDF("k", "p", "v", "op").createOrReplaceTempView("dml_cdc_src")
    spark.sql(
      """MERGE INTO dml_cdc_tbl t USING dml_cdc_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v + t.v
        |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, p, v, tag)
        |  VALUES (s.k, s.p, s.v, 'new')""".stripMargin)
    val rows = spark.sql(
      "SELECT k, p, v, tag FROM dml_cdc_tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    assert(rows.toSeq == Seq(
      (2L, "a", 119.0, "y"), // partial update: v = s.v + t.v, tag kept
      (3L, "b", 30.0, "z"), // untouched by the batch
      (4L, "b", 40.0, "new")), // conditional insert
      rows.mkString(",")) // k=1 deleted; k=5 (op SKIP) never claimed
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .last == "merge", "the clause apply must be the engine merge lane")
    // FIRST-true-clause order (SQL MERGE): an op matching two clause
    // conditions takes the earlier clause
    Seq((2L, "a", 1.0, "U")).toDF("k", "p", "v", "op")
      .createOrReplaceTempView("dml_cdc_src2")
    spark.sql(
      """MERGE INTO dml_cdc_tbl t USING dml_cdc_src2 s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = 777.0
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT v FROM dml_cdc_tbl WHERE k = 2")
      .head().getDouble(0) == 777.0, "first true clause wins")
    // an unconditional partial update (no insert clause) leaves
    // unmatched target rows alone and applies to every matched one
    spark.sql(
      """MERGE INTO dml_cdc_tbl t USING dml_cdc_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET tag = 'seen'""".stripMargin)
    assert(spark.sql("SELECT tag FROM dml_cdc_tbl ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("seen", "z", "new"))
    spark.sql("DROP TABLE dml_cdc_tbl")
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only evolve_schema through the evolution gate") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_alter").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"))
    spark.sql("DROP TABLE IF EXISTS dml_alter_tbl")
    Snapshots.registerTable(spark, root, "dml_alter_tbl")
    spark.sql("ALTER TABLE dml_alter_tbl ADD COLUMNS (note STRING, n2 INT)")
    // metadata-only: one evolve_schema snapshot, zero data moved
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "evolve_schema"))
    // the very next SELECT sees the widened contract (the command
    // refreshes the relation cache itself); pre-widening rows read nulls
    val r = spark.sql(
      "SELECT k, note, n2 FROM dml_alter_tbl ORDER BY k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r.forall(row => row.isNullAt(1) && row.isNullAt(2)))
    // writes carrying the new columns land; ones omitting them still
    // pass the gate (omitted nullable column)
    Snapshots.write(Seq((3L, "a", 30.0, "hello", 7))
      .toDF("k", "p", "v", "note", "n2").coalesce(1), root, Seq("p"),
      Snapshots.SnapAppend)
    assert(spark.sql(
      "SELECT note FROM dml_alter_tbl WHERE k = 3").head().getString(0)
      == "hello")
    // gate failures keep the gate's own reasons: duplicates and
    // non-nullable additions are loud
    val exDup = intercept[Exception] {
      spark.sql("ALTER TABLE dml_alter_tbl ADD COLUMNS (note STRING)")
    }
    assert(exDup.getMessage.contains("already exists"), exDup.getMessage)
    val exNn = intercept[Exception] {
      Snapshots.addColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("req",
          org.apache.spark.sql.types.LongType, nullable = false)))
    }
    assert(exNn.getMessage.contains("NON-nullable"), exNn.getMessage)
    // pinned registrations reject ALTER with the pin named
    spark.sql("DROP TABLE IF EXISTS dml_alter_pin")
    Snapshots.registerTable(spark, root, "dml_alter_pin", asOf = Some(1))
    val exPin = intercept[Exception] {
      spark.sql("ALTER TABLE dml_alter_pin ADD COLUMNS (x INT)")
    }
    assert(exPin.getMessage.contains("pinned"), exPin.getMessage)
    // an incremental stream treats evolve_schema as maintenance (skip)
    assert(graft.sink.Snapshots.addedStreamCost(spark, root, 2) == (0L, 0L))
    spark.sql("DROP TABLE dml_alter_tbl")
    spark.sql("DROP TABLE dml_alter_pin")
  }

  test("DML rejects pinned tables and subquery conditions loudly; other tables pass through") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_pin").toString
    Snapshots.write(Seq((1L, "a", 1.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"))
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    spark.sql("DROP TABLE IF EXISTS dml_pin_tbl")
    Snapshots.registerTable(spark, root, "dml_pin_tbl", asOf = Some(1))
    val exPin = intercept[Exception] {
      spark.sql("DELETE FROM dml_pin_tbl WHERE k = 1")
    }
    assert(messages(exPin).contains("read-only view of history"),
      messages(exPin))
    Snapshots.createBranch(spark, root, "audit")
    spark.sql("DROP TABLE IF EXISTS dml_br_tbl")
    Snapshots.registerTable(spark, root, "dml_br_tbl",
      branch = Some("audit"))
    val exBr = intercept[Exception] {
      spark.sql("UPDATE dml_br_tbl SET v = 0.0 WHERE k = 1")
    }
    assert(messages(exBr).contains("branch"), messages(exBr))
    spark.sql("DROP TABLE IF EXISTS dml_live_tbl")
    Snapshots.registerTable(spark, root, "dml_live_tbl")
    // correlated / EXISTS shapes stay loud aborts (only one uncorrelated
    // `col IN (SELECT ...)` conjunct is expressible)
    val exSub = intercept[Exception] {
      spark.sql(
        """DELETE FROM dml_live_tbl WHERE EXISTS
          |  (SELECT 1 FROM dml_live_tbl i WHERE i.k = dml_live_tbl.k)"""
          .stripMargin)
    }
    assert(messages(exSub).toLowerCase.contains("subquery"),
      messages(exSub))
    // the rule leaves NON-snapshot tables untouched: Spark's own v2-only
    // error surfaces for a parquet-backed table, not a graft error
    spark.sql("DROP TABLE IF EXISTS dml_plain_tbl")
    Seq((1, "x")).toDF("a", "b").write.saveAsTable("dml_plain_tbl")
    val exPlain = intercept[Exception] {
      spark.sql("DELETE FROM dml_plain_tbl WHERE a = 1")
    }
    assert(!messages(exPlain).contains("snapshot"), messages(exPlain))
    spark.sql("DROP TABLE dml_pin_tbl")
    spark.sql("DROP TABLE dml_br_tbl")
    spark.sql("DROP TABLE dml_live_tbl")
    spark.sql("DROP TABLE dml_plain_tbl")
    Snapshots.dropBranch(spark, root, "audit")
  }

  test("TRUNCATE TABLE: metadata-only full truncate; PARTITION spec is a file-bounded delete; pins reject") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_trunc").toString
    val rows = (0 until 90).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "p")
    Snapshots.write(rows, root, Seq("p"), statsColumns = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS dml_trunc_tbl")
    Snapshots.registerTable(spark, root, "dml_trunc_tbl")
    // full truncate: zero rows, schema intact, METADATA-ONLY (the
    // truncate manifest names no files and stages none) — Spark's own
    // v1 command would have fs-deleted the whole LOCATION tree,
    // destroying every retained snapshot
    spark.sql("TRUNCATE TABLE dml_trunc_tbl")
    assert(spark.sql("SELECT count(*) FROM dml_trunc_tbl")
      .head().getLong(0) == 0L)
    assert(spark.table("dml_trunc_tbl").schema.fieldNames.toSeq
      == Seq("k", "p"))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "truncate"))
    // pre-truncate history still travels (metadata event, not a shred)
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 90)
    // refill, then TRUNCATE one PARTITION: the file-bounded delete lane
    spark.sql(
      "INSERT INTO dml_trunc_tbl SELECT k, p FROM graft_snapshot(" +
        s"'${root.replace("'", "''")}', 1)")
    spark.sql("TRUNCATE TABLE dml_trunc_tbl PARTITION (p = 'p1')")
    val left = spark.sql("SELECT DISTINCT p FROM dml_trunc_tbl")
      .collect().map(_.getString(0)).toSet
    assert(left == Set("p0", "p2"))
    assert(spark.sql("SELECT count(*) FROM dml_trunc_tbl")
      .head().getLong(0) == 60L)
    // a non-partition column in the spec is loud and names the remedy
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
    val exCol = intercept[Exception] {
      spark.sql("TRUNCATE TABLE dml_trunc_tbl PARTITION (k = 1)")
    }
    assert(messages(exCol).contains("DELETE FROM"), messages(exCol))
    // an UNCASTABLE partition value is loud at the statement — under a
    // non-ANSI session it would cast to null and silently remove
    // nothing while reporting success
    val before = Snapshots.currentSnapshot(spark, root)
    spark.sql("DROP TABLE IF EXISTS dml_trunc_int")
    val introot = java.nio.file.Files.createTempDirectory("dml_trunci")
      .toString
    Snapshots.write((0 until 6).map(i => (i.toLong, i % 2))
      .toDF("k", "n"), introot, Seq("n"))
    Snapshots.registerTable(spark, introot, "dml_trunc_int")
    val exBadV = intercept[Exception] {
      spark.sql("TRUNCATE TABLE dml_trunc_int PARTITION (n = 'oops')")
    }
    assert(messages(exBadV).contains("not a valid"), messages(exBadV))
    assert(Snapshots.currentSnapshot(spark, introot).contains(1),
      "the failed TRUNCATE must publish nothing")
    assert(Snapshots.currentSnapshot(spark, root) == before)
    // two case-variant spellings of one partition field must be LOUD,
    // never a silent match-nothing AND — Spark's parser rejects the
    // duplicate spec itself (DUPLICATE_KEY); the command keeps its own
    // guard for programmatic construction
    val exDup = intercept[Exception] {
      spark.sql("TRUNCATE TABLE dml_trunc_tbl PARTITION (p = 'p0', P = 'p2')")
    }
    assert(messages(exDup).contains("2 times") ||
      messages(exDup).contains("DUPLICATE_KEY"), messages(exDup))
    // pinned registrations are read-only views — under EVERY pin
    // spelling, including the timestamp ones (a spelling the pin check
    // missed would let TRUNCATE mutate the live dataset through a
    // "historical" view)
    spark.sql("DROP TABLE IF EXISTS dml_trunc_pin")
    Snapshots.registerTable(spark, root, "dml_trunc_pin", asOf = Some(1))
    val exPin = intercept[Exception] {
      spark.sql("TRUNCATE TABLE dml_trunc_pin")
    }
    assert(messages(exPin).contains("read-only"), messages(exPin))
    spark.sql("DROP TABLE IF EXISTS dml_trunc_tspin")
    val escT = root.replace("'", "''")
    spark.sql(
      s"""CREATE TABLE dml_trunc_tspin USING `graft-snapshot`
         |OPTIONS (timestampAsOf '${System.currentTimeMillis()}')
         |LOCATION '$escT'""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM dml_trunc_tspin")
      .head().getLong(0) > 0L)
    val exTsPin = intercept[Exception] {
      spark.sql("TRUNCATE TABLE dml_trunc_tspin")
    }
    assert(messages(exTsPin).contains("pinned"), messages(exTsPin))
    val exTsCall = intercept[Exception] {
      spark.sql("CALL graft_compact(dml_trunc_tspin)").collect()
    }
    assert(messages(exTsCall).contains("pinned"), messages(exTsCall))
    spark.sql("DROP TABLE dml_trunc_tbl")
    spark.sql("DROP TABLE dml_trunc_pin")
    spark.sql("DROP TABLE dml_trunc_tspin")
  }

  test("CREATE TABLE ... AS SELECT lands the first snapshot through the commit protocol") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dml_ctas").toString
    spark.sql("DROP TABLE IF EXISTS dml_ctas_tbl")
    (0 until 40).map(i => (i.toLong, s"g${i % 4}")).toDF("k", "p")
      .createOrReplaceTempView("dml_ctas_src")
    // CTAS: one statement creates the dataset (snapshot s1, recorded
    // spec from the option) AND registers the table
    spark.sql(
      s"""CREATE TABLE dml_ctas_tbl
         |USING `graft-snapshot`
         |OPTIONS (path '${root.replace("'", "''")}', partitionBy 'p')
         |AS SELECT k, p FROM dml_ctas_src""".stripMargin)
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    assert(Snapshots.recordedPartitionCols(spark, root) == Seq("p"))
    assert(spark.sql("SELECT count(*) FROM dml_ctas_tbl")
      .head().getLong(0) == 40L)
    // the created table is a full citizen: INSERT and DML route through
    spark.sql("INSERT INTO dml_ctas_tbl SELECT k + 100, p FROM dml_ctas_src")
    assert(spark.sql("SELECT count(*) FROM dml_ctas_tbl")
      .head().getLong(0) == 80L)
    spark.sql("DELETE FROM dml_ctas_tbl WHERE k >= 100")
    assert(spark.sql("SELECT count(*) FROM dml_ctas_tbl")
      .head().getLong(0) == 40L)
    // Spark hands new-table CTAS to the writer as SaveMode.Overwrite (to
    // clobber location leftovers), so the creation snapshot records the
    // overwrite mode — same rows, honest history
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("overwrite_partitions", "append", "delete_where"))
    spark.sql("DROP TABLE dml_ctas_tbl")
  }
}
