package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.CommitLog

/** VERDICT r14 #2: SQL MERGE INTO routes through the library's
  * merge-on-read path ([[graft.sources.GraftSqlExtensions]]), with a
  * translation that REFUSES — and falls back to Spark's group-based
  * rewrite — whenever library semantics are not provably identical.
  * Each test pins one edge of that contract. */
class MorMergeSqlSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"graft-wh-$tag").toString
    val cat = s"gmor$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("eligible SQL MERGE commits merge-on-read: one add_dv version, zero rewrite") {
    val (cat, wh) = freshTable("a")
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d"))
      .toDF("id", "x", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((2L, 0.0, "UPD"), (3L, 0.0, "DEL"), (9L, 9.0, "new"))
      .toDF("id", "x", "v").createOrReplaceTempView("mor_src_a")
    val log = CommitLog(spark, s"$wh/t")
    val before = log.snapshot()
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    try spark.sql(s"""MERGE INTO $cat.t t USING mor_src_a s ON t.id = s.id
      WHEN MATCHED AND s.v = 'DEL' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
    val after = log.snapshot()
    assert(after.version == before.version + 1, "one atomic commit")
    assert(before.files.forall(after.files.contains), "no data file retired")
    assert(after.hasDvs, "the SQL merge must take the DV path")
    assert(spark.table(s"$cat.t").as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 20.0, "UPD"), (4L, 40.0, "d"), (9L, 9.0, "new")))
  }

  test("duplicate source keys fall back to the standard path (both rows insert)") {
    val (cat, wh) = freshTable("b")
    Seq((1L, "x")).toDF("id", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    // two NOT-matched rows with the SAME key: legal SQL (both insert);
    // the library's ANSI dup gate would refuse the batch — the
    // translation must detect this and hand the statement back
    Seq((7L, "p"), (7L, "q")).toDF("id", "v").createOrReplaceTempView("mor_src_b")
    spark.sql(s"""MERGE INTO $cat.t t USING mor_src_b s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table(s"$cat.t").as[(Long, String)].collect().toSet
      === Set((1L, "x"), (7L, "p"), (7L, "q")))
    assert(!CommitLog(spark, s"$wh/t").snapshot().hasDvs,
      "the fallback is the rewrite path — no DV")
  }

  test("NOT MATCHED BY SOURCE rides the library route as one add_dv (r16)") {
    val (cat, wh) = freshTable("c")
    Seq((1L, "keep"), (2L, "stale"), (3L, "old")).toDF("id", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((1L, "KEPT")).toDF("id", "v").createOrReplaceTempView("mor_src_c")
    val log = CommitLog(spark, s"$wh/t")
    val before = log.snapshot()
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    try spark.sql(s"""MERGE INTO $cat.t t USING mor_src_c s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND t.v = 'stale' THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'aged'""")
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
    val after = log.snapshot()
    assert(after.version == before.version + 1, "one atomic commit")
    assert(before.files.forall(after.files.contains), "no data file retired")
    assert(after.hasDvs, "by-source SQL MERGE must take the DV path")
    assert(spark.table(s"$cat.t").as[(Long, String)].collect().toSet
      === Set((1L, "KEPT"), (3L, "aged")))
    // a source reference inside a by-source clause is illegal ANSI —
    // translation refuses and the standard path raises the error
    intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING mor_src_c s ON t.id = s.id
        WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE""")
    }
  }

  test("WITH SCHEMA EVOLUTION + INSERT * rides the library route (r16)") {
    val (cat, wh) = freshTable("ev")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    // the source carries a NEW column `w`
    Seq((2L, "B", 20.0), (9L, "n", 90.0)).toDF("id", "v", "w")
      .createOrReplaceTempView("mor_src_ev")
    val log = CommitLog(spark, s"$wh/t")
    val before = log.snapshot()
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    try spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
      USING mor_src_ev s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
    val after = log.snapshot()
    assert(after.version == before.version + 1, "one atomic commit")
    assert(before.files.forall(after.files.contains),
      "the evolving merge must take the DV path — no data file retired")
    assert(after.hasDvs)
    assert(spark.table(s"$cat.t").schema.fieldNames.toSeq === Seq("id", "v", "w"),
      "the schema must evolve to carry the source's new column")
    assert(spark.table(s"$cat.t").as[(Long, String, Option[Double])]
      .collect().toSet === Set((1L, "a", None), (2L, "B", Some(20.0)),
        (3L, "c", None), (9L, "n", Some(90.0))))
    // an explicit column-list insert scopes evolution differently from
    // the library's full-source union — that form must fall back
    Seq((12L, "x", 1.0)).toDF("id", "v", "w")
      .createOrReplaceTempView("mor_src_ev2")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
      USING mor_src_ev2 s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    assert(spark.table(s"$cat.t").filter($"id" === 12L).count() === 1L)
  }

  test("spark.graft.sql.morMerge.enabled=false opts out of interception") {
    val (cat, wh) = freshTable("d")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").createOrReplaceTempView("mor_src_d")
    spark.conf.set("spark.graft.sql.morMerge.enabled", "false")
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try spark.sql(s"""MERGE INTO $cat.t t USING mor_src_d s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    finally {
      spark.conf.unset("spark.graft.sql.morMerge.enabled")
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
    }
    assert(spark.table(s"$cat.t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert(!CommitLog(spark, s"$wh/t").snapshot().hasDvs,
      "opt-out must ride the group-based rewrite, not the DV path")
  }

  test("partitioned SQL MERGE keeps tags through the library route") {
    val (cat, wh) = freshTable("e")
    Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      .toDF("id", "day", "x")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day").create()
    Seq((1L, "d1", 10.0), (9L, "d3", 9.0)).toDF("id", "day", "x")
      .createOrReplaceTempView("mor_src_e")
    spark.sql(s"""MERGE INTO $cat.t t USING mor_src_e s
      ON t.id = s.id AND t.day = s.day
      WHEN MATCHED THEN UPDATE SET x = s.x
      WHEN NOT MATCHED THEN INSERT *""")
    val snap = CommitLog(spark, s"$wh/t").snapshot()
    assert(snap.files.forall(snap.entry(_).partTag.isDefined), "all-tagged invariant holds")
    assert(spark.table(s"$cat.t").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 10.0), (2L, "d1", 2.0), (3L, "d2", 3.0), (9L, "d3", 9.0)))
  }

  test("update assigning the partition column falls back (cross-partition move)") {
    val (cat, _) = freshTable("f")
    Seq((1L, "d1", 1.0)).toDF("id", "day", "x")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day").create()
    Seq((1L, "d9", 0.0)).toDF("id", "day", "x").createOrReplaceTempView("mor_src_f")
    // the library refuses partition-column assignment; SQL allows the
    // move via the group rewrite — the fallback must carry it
    spark.sql(s"""MERGE INTO $cat.t t USING mor_src_f s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET day = s.day, x = s.x""")
    assert(spark.table(s"$cat.t").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d9", 0.0)))
  }

  test("non-equi ON condition falls back") {
    val (cat, _) = freshTable("g")
    Seq((1L, 5.0), (2L, 50.0)).toDF("id", "x")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((1L, 100.0)).toDF("id", "x").createOrReplaceTempView("mor_src_g")
    spark.sql(s"""MERGE INTO $cat.t t USING mor_src_g s
      ON t.id = s.id AND t.x < s.x
      WHEN MATCHED THEN UPDATE SET x = s.x""")
    assert(spark.table(s"$cat.t").as[(Long, Double)].collect().toSet
      === Set((1L, 100.0), (2L, 50.0)))
  }

  test("partial INSERT column lists and unsafe assignments keep Spark's standard errors") {
    val (cat, _) = freshTable("i")
    Seq((1L, 1.0, "a")).toDF("id", "x", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((2L, 2.0, "b")).toDF("id", "x", "v").createOrReplaceTempView("mor_src_i")
    // INSERT (id) misses x and v: SQL requires the full column list —
    // the translation must refuse so the statement raises the STANDARD
    // analysis error instead of silently null-filling
    val e1 = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING mor_src_i s ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)""")
    }
    assert(e1.getMessage.toLowerCase.contains("insert") ||
      e1.getMessage.toLowerCase.contains("assignment"))
    // string -> double assignment is not an ANSI store assignment:
    // Spark rejects it at analysis, so must the intercepted statement
    val e2 = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING mor_src_i s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET x = s.v""")
    }
    assert(e2.getMessage.toLowerCase.contains("cast") ||
      e2.getMessage.toLowerCase.contains("datatype") ||
      e2.getMessage.toLowerCase.contains("type"))
    // the table is untouched by both failed statements
    assert(spark.table(s"$cat.t").as[(Long, Double, String)].collect().toSet
      === Set((1L, 1.0, "a")))
  }

  test("renamed key column in ON translates (source key exposed under the target name)") {
    val (cat, wh) = freshTable("h")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq((2L, "B2")).toDF("key", "nv").createOrReplaceTempView("mor_src_h")
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    // update-only merge: no insert clause, so the renamed key and the
    // extra source column are fine for the library route
    try spark.sql(s"""MERGE INTO $cat.t t USING mor_src_h s ON t.id = s.key
      WHEN MATCHED THEN UPDATE SET v = s.nv""")
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
    assert(spark.table(s"$cat.t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "B2")))
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs,
      "the translated renamed-key merge must still take the DV path")
  }
}
