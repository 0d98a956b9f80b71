package graft

/** The schema cache must never serve a stale schema for a path whose
  * file was regenerated mid-JVM (the ADVICE staleness hazard: the
  * driver has shipped events.parquet under different ts layouts across
  * rounds). Each path's entry is stamped with the file's (mtime,
  * length), so a rewrite at the same path re-infers — and replaces the
  * superseded entry instead of adding one per regeneration. */
class TablesSpec extends SparkSpec {

  test("schema cache re-infers when the file at a path is regenerated") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val first = Tables(spark, dir, "t").schema
    assert(first.fieldNames.toSeq == Seq("k", "v"))
    val entries = Tables.schemaCacheSize
    // regenerate the SAME path with a different schema; nudge mtime in
    // case the filesystem's timestamp granularity would collapse the two
    Seq((1L, "a", 2.5)).toDF("k", "v", "w").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val f = new java.io.File(s"$dir/t.parquet")
    f.setLastModified(f.lastModified() + 2000): Unit
    val second = Tables(spark, dir, "t").schema
    assert(second.fieldNames.toSeq == Seq("k", "v", "w"),
      "a regenerated file must re-infer, not serve the stale schema")
    assert(Tables.schemaCacheSize == entries,
      "the regenerated file's entry must replace the superseded one")
  }
}
