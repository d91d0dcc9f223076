package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** B1 file sources beyond parquet: CSV with an explicit schema (never
  * inferSchema — a schema-inference pass is a second full scan at 100 TB)
  * round-trips losslessly (note the parquet testdata timestamps are
  * TIMESTAMP_NTZ — the CSV schema must say so too). JSON (multiline + JSONL + from_json) is
  * exercised by FuelPipelineSpec/StationSource. */
class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("rest-json DSv2 source: real scan node matching FileBackedSource, paged, pushdown") {
    val path = resource("/fuel/stations_raw.json")
    val viaDsv2 = spark.read.format("rest-json").option("path", path).load()
    val viaDriver = new graft.pipeline.FileBackedSource(path, "/dev/null")
      .stationStubs(spark)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "nome").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(canon(viaDsv2) === canon(viaDriver))
    assert(viaDsv2.schema.fieldNames.toSeq === Seq("id", "nome"))

    // pages=3 models parallel pagination: three input partitions, same rows
    val paged = spark.read.format("rest-json")
      .option("path", path).option("pages", "3").load()
    assert(paged.rdd.getNumPartitions === 3)
    assert(canon(paged) === canon(viaDriver))

    // id predicates push into the scan (the per-key lookup shape, A4)
    val one = viaDsv2.filter($"id" === 3L)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [EqualTo(id,3)]"), plan)
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(3L))
    val in = viaDsv2.filter($"id".isin(1L, 6L, 99L))
    assert(in.queryExecution.executedPlan.toString.contains("In(id"),
      in.queryExecution.executedPlan.toString)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 6L))

    // residual predicates stay in the engine but still evaluate correctly
    val residual = viaDsv2.filter($"nome".startsWith("P"))
    assert(residual.queryExecution.executedPlan.toString
      .contains("PushedFilters: []"))
    assert(canon(residual) === canon(viaDriver).filter(_._2.startsWith("P")))

    // column pruning reaches the reader: a nome-only projection never
    // materializes ids
    val pruned = spark.read.format("rest-json").option("path", path).load()
      .select("nome")
    assert(pruned.queryExecution.executedPlan.toString.contains("ReadSchema: struct<nome:string>"),
      pruned.queryExecution.executedPlan.toString)
    assert(pruned.collect().map(_.getString(0)).toSet ===
      canon(viaDriver).map(_._2))
  }

  test("graft catalog DSv2 write: writeTo round-trips with insert-if-absent merge") {
    val wh = Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

    Seq((1L, "a"), (2L, "b")).toDF("id", "nome")
      .writeTo("graft.stations")
      .tableProperty("merge.keys", "id")
      .create()
    // conflict on id=2 keeps the existing row (reference
    // attribute_not_exists semantics); id=3 is new
    Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "nome")
      .writeTo("graft.stations").append()
    def rows = graft.sources.GraftMergeTable.read(spark, wh, "stations")
      .as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // createOrReplace truncates to exactly the new content
    Seq((9L, "z")).toDF("id", "nome")
      .writeTo("graft.stations")
      .tableProperty("merge.keys", "id")
      .createOrReplace()
    assert(rows === Set((9L, "z")))
  }

  test("graft catalog DSv2 write: last-wins mode and plain append") {
    val wh = Files.createTempDirectory("graft-wh2").toString
    spark.conf.set("spark.sql.catalog.graft2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft2.warehouse", wh)

    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .writeTo("graft2.prices")
      .tableProperty("merge.keys", "id")
      .tableProperty("merge.mode", "last-wins")
      .create()
    Seq((2L, 21.0), (3L, 30.0)).toDF("id", "price")
      .writeTo("graft2.prices").append()
    val got = graft.sources.GraftMergeTable.read(spark, wh, "prices")
      .as[(Long, Double)].collect().toSet
    assert(got === Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))

    // no merge.keys => plain append keeps duplicates
    Seq((1L, "x")).toDF("id", "v").writeTo("graft2.log").create()
    Seq((1L, "x")).toDF("id", "v").writeTo("graft2.log").append()
    assert(graft.sources.GraftMergeTable.read(spark, wh, "log").count() === 2L)
  }

  test("graft catalog rejects appends to missing tables and bad modes") {
    val wh = Files.createTempDirectory("graft-wh3").toString
    spark.conf.set("spark.sql.catalog.graft3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft3.warehouse", wh)
    intercept[Exception] {
      Seq((1L, "a")).toDF("id", "nome").writeTo("graft3.nope").append()
    }
    Seq((1L, "a")).toDF("id", "nome")
      .writeTo("graft3.bad").tableProperty("merge.mode", "bogus").create()
    val e = intercept[Exception] {
      Seq((2L, "b")).toDF("id", "nome").writeTo("graft3.bad").append()
    }
    assert(e.getMessage.contains("bogus") ||
      Option(e.getCause).exists(_.getMessage.contains("bogus")))
  }

  test("graft catalog DSv2 read: spark.table + SQL time travel over a commit-log table") {
    val wh = Files.createTempDirectory("graft-wh-tt").toString
    spark.conf.set("spark.sql.catalog.gtt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtt.warehouse", wh)

    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .writeTo("gtt.prices")
      .tableProperty("merge.keys", "id")
      .tableProperty("merge.mode", "last-wins")
      .tableProperty("merge.log", "true")
      .create()                                                  // v0
    Seq((2L, 21.0), (3L, 30.0)).toDF("id", "price")
      .writeTo("gtt.prices").append()                            // v1

    // plain SQL read sees the latest merged state
    assert(spark.table("gtt.prices").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))
    assert(spark.sql("SELECT sum(price) FROM gtt.prices").as[Double].head() === 61.0)

    // SQL VERSION AS OF and the versionAsOf read option reach v0
    assert(spark.sql("SELECT * FROM gtt.prices VERSION AS OF 0")
      .as[(Long, Double)].collect().toSet === Set((1L, 10.0), (2L, 20.0)))
    assert(spark.read.option("versionAsOf", "0").table("gtt.prices")
      .as[(Long, Double)].collect().toSet === Set((1L, 10.0), (2L, 20.0)))

    // TIMESTAMP AS OF far in the future resolves to the latest version
    assert(spark.sql("SELECT * FROM gtt.prices TIMESTAMP AS OF '2100-01-01'")
      .count() === 3L)
    assert(spark.read.option("timestampAsOf", "2100-01-01 00:00:00")
      .table("gtt.prices").count() === 3L)
    // ... and one before every commit refuses, rather than answering
    // with a silently-newer state
    val eEarly = intercept[Exception] {
      spark.read.option("timestampAsOf", "1971-01-01 00:00:00")
        .table("gtt.prices").collect()
    }
    assert(eEarly.getMessage.contains("at or before") ||
      Option(eEarly.getCause).exists(_.getMessage.contains("at or before")))

    // writes to a pinned snapshot refuse
    val eWrite = intercept[Exception] {
      spark.sql("INSERT INTO gtt.prices VERSION AS OF 0 VALUES (9, 9.0)")
    }
    assert(eWrite.getMessage.nonEmpty)
  }

  test("graft catalog DSv2 read: pushed filters prune whole files via manifest stats") {
    val wh = Files.createTempDirectory("graft-wh-prune").toString
    spark.conf.set("spark.sql.catalog.gpr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpr.warehouse", wh)
    // three disjoint-id-range commits → three files with disjoint stats
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).writeTo("gpr.t")
      .tableProperty("merge.log", "true").create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    log.append(Seq((100L, "c"), (101L, "d")).toDF("id", "v").coalesce(1))
    log.append(Seq((200L, "e")).toDF("id", "v").coalesce(1))
    assert(log.snapshot().files.size === 3)

    val q = spark.table("gpr.t").filter($"id" >= 100L && $"id" <= 150L)
    assert(q.as[(Long, String)].collect().toSet === Set((100L, "c"), (101L, "d")))
    // the scan opened ONLY the one file whose stats admit [100, 150]
    // (inputFiles does not see DSv2 scans — read the scan node's index)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          graft.sources.GraftScans.unwrapFileScan(r.scan)
            .fileIndex.inputFiles.length
      }.sum
    assert(scannedFiles(q) === 1,
      s"manifest stats should prune to 1 file, scanned ${scannedFiles(q)}")
    assert(scannedFiles(spark.table("gpr.t")) === 3,
      "an unfiltered scan reads the full live set")
    // the filter itself reached the parquet scan (pushdown, not post-filter)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"))
    // schema evolution via the log is visible to SQL readers
    log.upsert(Seq((300L, "f", 1.5)).toDF("id", "v", "extra"),
      Seq("id"), graft.sources.CommitLog.LastWins)
    assert(spark.table("gpr.t").columns.toSeq === Seq("id", "v", "extra"))
    assert(spark.table("gpr.t").filter($"extra".isNotNull).count() === 1L)
  }

  test("graft catalog DSv2 read: plain directory tables scan; time travel refused") {
    val wh = Files.createTempDirectory("graft-wh-plain").toString
    spark.conf.set("spark.sql.catalog.gpl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpl.warehouse", wh)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo("gpl.t").create()
    assert(spark.table("gpl.t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    val e = intercept[Exception] {
      spark.read.option("versionAsOf", "0").table("gpl.t").collect()
    }
    assert(e.getMessage.contains("merge.log") ||
      Option(e.getCause).exists(_.getMessage.contains("merge.log")))
  }

  test("graft-log format: path-based reads, time travel, and the batch change feed") {
    val root = Files.createTempDirectory("graft-log-fmt").toString + "/t"
    val log = graft.sources.CommitLog(spark, root)
    log.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"))     // v0
    log.upsert(Seq((2L, 21.0), (3L, 30.0)).toDF("id", "price"),
      Seq("id"), graft.sources.CommitLog.LastWins)                  // v1

    // latest snapshot
    assert(spark.read.format("graft-log").load(root)
      .as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))
    // version pin
    assert(spark.read.format("graft-log").option("versionAsOf", "0").load(root)
      .as[(Long, Double)].collect().toSet === Set((1L, 10.0), (2L, 20.0)))
    // timestamp pin (far future → latest)
    assert(spark.read.format("graft-log")
      .option("timestampAsOf", "2100-01-01").load(root).count() === 3L)
    // pushdown still prunes: filter reaches the parquet scan
    val q = spark.read.format("graft-log").load(root).filter($"id" === 3L)
    assert(q.as[(Long, Double)].collect().toSeq === Seq((3L, 30.0)))
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))

    // batch change feed ≡ the library readChanges
    val feed = spark.read.format("graft-log")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(root)
    val want = log.readChanges(0L)
      .select($"id", $"price", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect().sorted.toSeq
    assert(feed.select($"id", $"price", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect().sorted.toSeq === want)
    // startingVersion is the diff BASE (exclusive, readChanges
    // semantics): the feed is v1 only — v0's two rows retired as
    // deletes, the merged three restated as inserts
    assert(feed.filter($"_change_type" === "delete").count() === 2L)
    assert(feed.filter($"_change_type" === "insert").count() === 3L)
    // the full history from the diff base -1 includes v0's inserts too
    assert(spark.read.format("graft-log")
      .option("readChangeFeed", "true").option("startingVersion", "-1")
      .load(root).filter($"_change_type" === "insert").count() === 5L)
    // bad options fail loudly
    intercept[Exception] {
      spark.read.format("graft-log").option("versionAsOf", "0")
        .option("timestampAsOf", "2100-01-01").load(root).collect()
    }
    intercept[Exception] {
      spark.read.format("graft-log").load(root + "-nope").collect()
    }

    // the feed survives schema evolution: the new column appears for
    // every change row, null where the version that wrote it lacked it
    log.upsert(Seq((4L, 40.0, "x")).toDF("id", "price", "tag"),
      Seq("id"), graft.sources.CommitLog.LastWins)                  // v2
    val evolved = spark.read.format("graft-log")
      .option("readChangeFeed", "true").option("startingVersion", "-1")
      .load(root)
    assert(evolved.columns.toSeq
      === Seq("id", "price", "tag", "_change_type", "_commit_version"))
    assert(evolved.filter($"_commit_version" < 2 && $"tag".isNotNull).count() === 0L)
    assert(evolved.filter($"_commit_version" === 2 && $"_change_type" === "insert"
      && $"tag" === "x").count() === 1L)
  }

  test("SQL DELETE FROM and TRUNCATE TABLE route through the commit log") {
    val wh = Files.createTempDirectory("graft-wh-del").toString
    spark.conf.set("spark.sql.catalog.gdel", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (100L, 5.0, "c"))
      .toDF("id", "x", "v")
      .writeTo("gdel.t").tableProperty("merge.log", "true").create()

    spark.sql("DELETE FROM gdel.t WHERE id < 50 AND x >= 20.0")
    assert(spark.table("gdel.t").select($"id").as[Long].collect().sorted.toSeq
      === Seq(1L, 100L))
    // the delete is a commit: time travel still reaches the pre-delete rows
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    assert(log.snapshot().version === 1L)
    assert(log.readVersion(0L).count() === 3L)

    // IN, IsNull, string predicates translate too
    spark.sql("DELETE FROM gdel.t WHERE v IN ('c')")
    assert(spark.table("gdel.t").count() === 1L)

    spark.sql("TRUNCATE TABLE gdel.t")
    assert(spark.table("gdel.t").count() === 0L)
    assert(spark.table("gdel.t").columns.toSeq === Seq("id", "x", "v"))
    assert(log.readVersion(2L).count() === 1L, "truncate is a commit, history intact")

    // a non-logged table refuses SQL DELETE cleanly
    Seq((1L, "a")).toDF("id", "v").writeTo("gdel.plain").create()
    intercept[Exception] { spark.sql("DELETE FROM gdel.plain WHERE id = 1") }
  }

  test("SQL UPDATE and MERGE INTO route through the row-level write path") {
    val wh = Files.createTempDirectory("graft-wh-rlo").toString
    spark.conf.set("spark.sql.catalog.grlo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grlo.warehouse", wh)
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("id", "x", "v")
      .writeTo("grlo.t").tableProperty("merge.log", "true").create()

    spark.sql("UPDATE grlo.t SET x = x * 2, v = concat(v, '!') WHERE id >= 2")
    assert(spark.table("grlo.t").as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 40.0, "b!"), (3L, 60.0, "c!")))
    // the update is a commit; time travel reaches the pre-update state
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    assert(log.snapshot().version === 1L)
    assert(log.readVersion(0L).as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c")))

    // MERGE INTO: update + delete + insert in one statement
    Seq((2L, 0.0, "UPD"), (3L, 0.0, "DEL"), (9L, 9.0, "new"))
      .toDF("id", "x", "v").createOrReplaceTempView("src")
    spark.sql("""MERGE INTO grlo.t t USING src s ON t.id = s.id
      WHEN MATCHED AND s.v = 'DEL' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table("grlo.t").as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 40.0, "UPD"), (9L, 9.0, "new")))
    assert(log.snapshot().version === 2L, "the whole merge is ONE commit")

    // DELETE with a subquery predicate (filter path refuses → row-level)
    spark.sql("DELETE FROM grlo.t WHERE id IN (SELECT id FROM src WHERE v = 'new')")
    assert(spark.table("grlo.t").select($"id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
  }

  test("SQL UPDATE is file-granular copy-on-write: untouched files ride through") {
    val wh = Files.createTempDirectory("graft-wh-rlo2").toString
    spark.conf.set("spark.sql.catalog.grlo2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grlo2.warehouse", wh)
    Seq((1L, 1.0)).toDF("id", "x").coalesce(1)
      .writeTo("grlo2.t").tableProperty("merge.log", "true").create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    log.append(Seq((100L, 2.0), (101L, 3.0)).toDF("id", "x").coalesce(1))
    log.append(Seq((200L, 4.0)).toDF("id", "x").coalesce(1))
    val before = log.snapshot().files.toSet
    assert(before.size === 3)
    // the predicate's manifest bounds admit only the middle file
    spark.sql("UPDATE grlo2.t SET x = x * 10 WHERE id BETWEEN 100 AND 150")
    val after = log.snapshot().files.toSet
    assert((before intersect after).size === 2,
      "the two files whose stats cannot match must survive untouched")
    assert(spark.table("grlo2.t").as[(Long, Double)].collect().toSet
      === Set((1L, 1.0), (100L, 20.0), (101L, 30.0), (200L, 4.0)))
  }

  test("native V2 write: overwritePartitions replaces only the written partitions") {
    val wh = Files.createTempDirectory("graft-wh-v2w").toString
    spark.conf.set("spark.sql.catalog.gv2w", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gv2w.warehouse", wh)
    Seq((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d2", 3.0))
      .toDF("id", "day", "x")
      .writeTo("gv2w.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day")
      .create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    val d1Files = log.snapshot().files.filter(f => log.snapshot().entry(f).partTag.get == "d1").toSet
    assert(d1Files.nonEmpty)

    // dynamic partition overwrite — the V1 bridge rejected this at analysis
    Seq((20L, "d2", 20.0), (30L, "d3", 30.0)).toDF("id", "day", "x")
      .writeTo("gv2w.t").overwritePartitions()
    val s = log.snapshot()
    assert(spark.table("gv2w.t").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (20L, "d2", 20.0), (30L, "d3", 30.0)))
    assert(d1Files.subsetOf(s.files.toSet), "untouched partition files survive")
    assert(s.files.forall(s.entry(_).partTag.isDefined), "all-tagged invariant holds")

    // dynamic overwrite without merge.partcol fails loudly at analysis/build
    Seq((1L, 1.0)).toDF("id", "x")
      .writeTo("gv2w.flat").tableProperty("merge.log", "true").create()
    val e = intercept[Exception] {
      Seq((2L, 2.0)).toDF("id", "x").writeTo("gv2w.flat").overwritePartitions()
    }
    assert(e.getMessage.contains("merge.partcol") ||
      Option(e.getCause).exists(_.getMessage.contains("merge.partcol")))
  }

  test("native V2 append adopts staged files without a rewrite") {
    val wh = Files.createTempDirectory("graft-wh-v2a").toString
    spark.conf.set("spark.sql.catalog.gv2a", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gv2a.warehouse", wh)
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .writeTo("gv2a.t").tableProperty("merge.log", "true").create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    val v0Files = log.snapshot().files.toSet
    // a 2-partition append lands exactly 2 adopted files (one per task —
    // a rewrite through a second job would repartition them)
    Seq((2L, "b"), (3L, "c")).toDF("id", "v").repartition(2)
      .writeTo("gv2a.t").append()
    val s = log.snapshot()
    assert((s.files.toSet -- v0Files).size === 2,
      s"expected the 2 staged task files adopted verbatim, got ${s.files}")
    assert(spark.table("gv2a.t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the adopted files carry manifest stats (pruning still works);
    // an empty task file has no row groups and thus legitimately none
    assert((s.files.toSet -- v0Files).exists(s.entry(_).hasStats),
      "adopted data-bearing files must have harvested min/max stats")
    // SQL INSERT INTO rides the same native path
    spark.sql("INSERT INTO gv2a.t VALUES (4, 'd')")
    assert(spark.table("gv2a.t").count() === 4L)
    // createOrReplace (truncate) still replaces whole-table
    Seq((9L, "z")).toDF("id", "v").writeTo("gv2a.t")
      .tableProperty("merge.log", "true").createOrReplace()
    assert(spark.table("gv2a.t").as[(Long, String)].collect().toSet === Set((9L, "z")))
  }

  test("SQL UPDATE/MERGE on a partition-tagged table keeps tags and untouched partitions") {
    val wh = Files.createTempDirectory("graft-wh-rlop").toString
    spark.conf.set("spark.sql.catalog.grlop", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grlop.warehouse", wh)
    Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (100L, "d2", 3.0), (200L, "d3", 4.0))
      .toDF("id", "day", "x")
      .writeTo("grlop.tagged")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day")
      .tableProperty("merge.keys", "id,day")
      .tableProperty("merge.mode", "last-wins")
      .create()
    val log = graft.sources.CommitLog(spark, s"$wh/tagged")
    val before = log.snapshot()
    assert(before.files.forall(before.entry(_).partTag.isDefined), "precondition: all tagged")

    // stats admit only the file(s) holding id=100 — d1/d3 files must
    // ride through BYTE-IDENTICAL (same file names, never rewritten)
    spark.sql("UPDATE grlop.tagged SET x = x * 10 WHERE id BETWEEN 100 AND 150")
    val after = log.snapshot()
    val untouched = before.files.filter(f => before.entry(f).partTag.get != "d2").toSet
    assert(untouched.subsetOf(after.files.toSet),
      s"untouched partitions' files must survive: $untouched vs ${after.files}")
    untouched.foreach(f => assert(after.entry(f).partTag.get === before.entry(f).partTag.get, s"tag lost on $f"))
    assert(after.files.forall(after.entry(_).partTag.isDefined),
      "ALL live files (incl. rewritten ones) must carry partition tags")
    assert(after.files.filterNot(before.files.toSet).forall(f => after.entry(f).partTag.get == "d2"),
      "rewritten files must be tagged with their own partition value")
    assert(spark.table("grlop.tagged").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (2L, "d1", 2.0), (100L, "d2", 30.0), (200L, "d3", 4.0)))

    // MERGE INTO across partitions: update in d1, delete in d3, insert d4
    Seq((1L, "d1", 0.0, "UPD"), (200L, "d3", 0.0, "DEL"), (300L, "d4", 9.0, "NEW"))
      .toDF("id", "day", "x", "op").createOrReplaceTempView("psrc")
    spark.sql("""MERGE INTO grlop.tagged t USING psrc s
      ON t.id = s.id AND t.day = s.day
      WHEN MATCHED AND s.op = 'DEL' THEN DELETE
      WHEN MATCHED THEN UPDATE SET x = s.x
      WHEN NOT MATCHED THEN INSERT (id, day, x) VALUES (s.id, s.day, s.x)""")
    val s2 = log.snapshot()
    assert(s2.files.forall(s2.entry(_).partTag.isDefined), "all-tagged invariant after MERGE")
    assert(spark.table("grlop.tagged").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 0.0), (2L, "d1", 2.0), (100L, "d2", 30.0), (300L, "d4", 9.0)))
    // partition-scoped reads still work post-DML (the invariant pays off)
    assert(log.readPartitions(Seq("d1")).as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 0.0), (2L, "d1", 2.0)))
    // and the library partitioned merge still accepts the table
    log.upsertPartitioned(Seq((5L, "d1", 5.0)).toDF("id", "day", "x"),
      Seq("id", "day"), graft.sources.CommitLog.LastWins, "day")
    assert(spark.table("grlop.tagged").count() === 5L)
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only commit; time travel keeps old schemas") {
    val wh = Files.createTempDirectory("graft-alter").toString
    spark.conf.set("spark.sql.catalog.galt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galt.warehouse", wh)
    Seq((1L, "a"), (2L, "b")).toDF("id", "nome")
      .writeTo("galt.t").tableProperty("merge.log", "true").create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    val (v0, files0) = { val s = log.snapshot(); (s.version, s.files.toSet) }
    spark.sql("ALTER TABLE galt.t ADD COLUMNS (score DOUBLE)")
    // metadata-only version: +1 version, identical file set
    val s1 = log.snapshot()
    assert(s1.version === v0 + 1 && s1.files.toSet === files0)
    // old rows read null in the new column
    assert(spark.table("galt.t").select($"id", $"score")
      .as[(Long, Option[Double])].collect().toSet ===
      Set((1L, None), (2L, None)))
    // pre-ALTER version time-travels with its own schema
    assert(!spark.sql(s"SELECT * FROM galt.t VERSION AS OF $v0")
      .columns.contains("score"))
    // writes into the evolved schema land
    spark.sql("INSERT INTO galt.t VALUES (3L, 'c', 1.5D)")
    assert(spark.table("galt.t").filter($"score".isNotNull)
      .select($"id").as[Long].collect().toSeq === Seq(3L))
    // duplicate / unsupported changes refuse loudly (Spark's analyzer
    // catches the case-insensitive duplicate before the catalog does;
    // CommitLogSpec pins the catalog-level guard directly)
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("ALTER TABLE galt.t ADD COLUMNS (SCORE STRING)"))
    assertThrows[IllegalArgumentException](
      graft.sources.CommitLog(spark, s"$wh/t").addColumns(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("SCORE",
            org.apache.spark.sql.types.StringType)))))
    // RENAME COLUMN is supported since r11 (column mapping): metadata-
    // only, old files read under the new name; round-trip it here so
    // the rest of the test keeps addressing `nome`
    spark.sql("ALTER TABLE galt.t RENAME COLUMN nome TO name")
    assert(spark.table("galt.t").columns.contains("name"))
    spark.sql("ALTER TABLE galt.t RENAME COLUMN name TO nome")
    assert(spark.table("galt.t").columns.contains("nome"))
    // properties: settable; merge.log stays frozen; merge.partcol is
    // r18 SPEC EVOLUTION — but only ON a partitioned table: setting it
    // on an unpartitioned one refuses (re-tagging existing untagged
    // files would be a rewrite, not metadata). Spark may wrap the
    // catalog's IllegalArgumentException — assert on the message.
    spark.sql("ALTER TABLE galt.t SET TBLPROPERTIES ('note'='hi')")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE galt.t SET TBLPROPERTIES ('merge.partcol'='nome')"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(t => Option(t.getMessage)
        .exists(_.contains("no partition spec to evolve"))))
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE galt.t SET TBLPROPERTIES ('merge.log'='false')"))
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(t => Option(t.getMessage).exists(_.contains("cannot be altered"))))
  }

  test("ALTER TABLE ADD COLUMNS on a plain directory table surfaces as nulls") {
    val wh = Files.createTempDirectory("graft-alter2").toString
    spark.conf.set("spark.sql.catalog.galt2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galt2.warehouse", wh)
    Seq((1L, "a")).toDF("id", "nome").writeTo("galt2.t").create()
    spark.sql("ALTER TABLE galt2.t ADD COLUMNS (extra BIGINT)")
    assert(spark.table("galt2.t").select($"id", $"extra")
      .as[(Long, Option[Long])].collect().toSeq === Seq((1L, None)))
  }

  test("CALL procedures run commit-log maintenance from SQL") {
    val wh = Files.createTempDirectory("graft-wh-proc").toString
    spark.conf.set("spark.sql.catalog.gproc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc.warehouse", wh)
    Seq((1L, 1.0)).toDF("id", "x").coalesce(1)
      .writeTo("gproc.t").tableProperty("merge.log", "true").create()
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    (0 until 4).foreach(i =>
      log.append(Seq((10L + i, i.toDouble)).toDF("id", "x").coalesce(1)))
    assert(log.snapshot().files.size === 5)
    val before = log.read().as[(Long, Double)].collect().toSet

    // optimize: compact to 2 z-ordered files, content identical
    val v = spark.sql(
      "CALL gproc.system.optimize(`table` => 't', target_files => 2, zorder_by => 'id')")
      .as[Long].head()
    assert(v === log.snapshot().version)
    assert(log.snapshot().files.size === 2)
    assert(log.read().as[(Long, Double)].collect().toSet === before)

    // compact (checkpoint) + prune + vacuum retire history
    spark.sql("CALL gproc.system.compact(`table` => 't')")
    assert(spark.sql("CALL gproc.system.prune(`table` => 't')")
      .as[Int].head() > 0)
    assert(spark.sql("CALL gproc.system.vacuum(`table` => 't', ttl_ms => 0)")
      .as[Int].head() > 0)
    assert(log.read().as[(Long, Double)].collect().toSet === before)

    // history returns the audit rows (post-prune: the checkpoint suffix)
    val h = spark.sql("CALL gproc.system.history(`table` => 't')")
    assert(h.columns.toSeq === Seq("version", "ts_millis", "action",
      "checkpoint", "num_files", "txn_id", "txn_epoch"))
    assert(h.select($"version").as[Long].collect().max === log.snapshot().version)

    // partitioned maintenance routes to optimizePartitions
    Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0)).toDF("id", "day", "x")
      .writeTo("gproc.tp")
      .tableProperty("merge.log", "true").tableProperty("merge.partcol", "day")
      .tableProperty("merge.keys", "id,day").tableProperty("merge.mode", "last-wins")
      .create()
    val logp = graft.sources.CommitLog(spark, s"$wh/tp")
    logp.appendPartitioned(Seq((4L, "d1", 4.0)).toDF("id", "day", "x"), "day")
    assert(logp.snapshot().files.count(f => logp.snapshot().entry(f).partTag.get == "d1") === 2)
    spark.sql("CALL gproc.system.optimize_partitions(`table` => 'tp', part_col => 'day')")
    val sp = logp.snapshot()
    assert(sp.files.count(f => sp.entry(f).partTag.get == "d1") === 1)
    assert(sp.files.forall(sp.entry(_).partTag.isDefined))

    // r16: maintain = compact + age-scoped prune + vacuum in one CALL;
    // retain_hours 0 folds everything into the fresh checkpoint
    log.append(Seq((99L, 9.9)).toDF("id", "x"))
    val m = spark.sql(
      "CALL gproc.system.maintain(`table` => 't', retain_hours => 0)")
    assert(m.columns.toSeq === Seq("checkpoint_version",
      "manifests_pruned", "files_vacuumed"))
    val mr = m.as[(Long, Int, Int)].head()
    assert(mr._1 === log.snapshot().version)
    assert(mr._2 > 0)
    assert(log.read().as[(Long, Double)].collect().toSet === before + ((99L, 9.9)))

    // unknown procedure and missing table fail loudly
    intercept[Exception] { spark.sql("CALL gproc.system.nope(`table` => 't')") }
    intercept[Exception] { spark.sql("CALL gproc.system.vacuum(`table` => 'missing')") }
  }

  test("durable CHECK constraints enforce across writes, DML, and ALTER") {
    val wh = Files.createTempDirectory("graft-wh-cons").toString
    spark.conf.set("spark.sql.catalog.gcons", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcons.warehouse", wh)
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .writeTo("gcons.t").tableProperty("merge.log", "true")
      .tableProperty("constraint.price_pos", "price >= 0").create()

    // INSERT violating the persisted constraint fails LOUDLY and
    // commits nothing — across a fresh table handle (durability)
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO gcons.t VALUES (3, -1.0)") }
    assert(e1.getMessage.contains("price_pos")
      || Option(e1.getCause).exists(_.getMessage.contains("price_pos")))
    assert(spark.table("gcons.t").count() === 2L)
    spark.sql("INSERT INTO gcons.t VALUES (3, 3.0)") // valid passes
    assert(spark.table("gcons.t").count() === 3L)

    // SQL UPDATE rides the staged row-level path — also gated
    val e2 = intercept[Exception] {
      spark.sql("UPDATE gcons.t SET price = -5.0 WHERE id = 1") }
    assert(e2.getMessage.contains("price_pos")
      || Option(e2.getCause).exists(_.getMessage.contains("price_pos")))
    assert(spark.table("gcons.t").filter($"price" < 0).count() === 0L)

    // ALTER-time gates: a constraint the EXISTING rows violate is
    // refused at the statement; so is an unresolvable expression
    intercept[Exception] { spark.sql(
      "ALTER TABLE gcons.t SET TBLPROPERTIES ('constraint.small' = 'price < 15')") }
    intercept[Exception] { spark.sql(
      "ALTER TABLE gcons.t SET TBLPROPERTIES ('constraint.typo' = 'nope > 0')") }
    // a satisfiable one lands and enforces immediately
    spark.sql(
      "ALTER TABLE gcons.t SET TBLPROPERTIES ('constraint.id_pos' = 'id > 0')")
    intercept[Exception] {
      spark.sql("INSERT INTO gcons.t VALUES (-9, 1.0)") }
    // UNSET retires it
    spark.sql("ALTER TABLE gcons.t UNSET TBLPROPERTIES ('constraint.id_pos')")
    spark.sql("INSERT INTO gcons.t VALUES (-9, 1.0)")
    assert(spark.table("gcons.t").count() === 4L)

    // plain directory tables cannot carry constraints (no enforced path)
    intercept[Exception] {
      Seq((1L, 1.0)).toDF("id", "price").writeTo("gcons.plain")
        .tableProperty("constraint.p", "price >= 0").create()
    }
  }

  test("CALL clone forks a catalog table zero-copy at a pinned version") {
    val wh = Files.createTempDirectory("graft-wh-clone").toString
    spark.conf.set("spark.sql.catalog.gcln", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcln.warehouse", wh)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo("gcln.t").tableProperty("merge.log", "true").create() // v0
    Seq((3L, "c")).toDF("id", "v").writeTo("gcln.t").append()        // v1

    // clone at v0: a full catalog table (readable, writable, versioned)
    assert(spark.sql(
      "CALL gcln.system.clone(`table` => 't', target => 't0', version => 0)")
      .as[Long].head() === 0L)
    assert(spark.table("gcln.t0").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // zero-copy: nothing under the clone's data dir yet
    val cfs = new org.apache.hadoop.fs.Path(s"$wh/t0/data")
    val fsys = cfs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(cfs) || fsys.listStatus(cfs).isEmpty)

    // the clone is an independent SQL table: DML diverges, source fixed
    spark.sql("INSERT INTO gcln.t0 VALUES (9, 'z')")
    spark.sql("DELETE FROM gcln.t0 WHERE id = 1")
    assert(spark.table("gcln.t0").as[(Long, String)].collect().toSet
      === Set((2L, "b"), (9L, "z")))
    assert(spark.table("gcln.t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel works on the clone's own history
    assert(spark.sql("SELECT * FROM gcln.t0 VERSION AS OF 0")
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))

    // default version = latest; existing target refused
    spark.sql("CALL gcln.system.clone(`table` => 't', target => 'tl')")
    assert(spark.table("gcln.tl").count() === 3L)
    intercept[Exception] {
      spark.sql("CALL gcln.system.clone(`table` => 't', target => 'tl')")
    }
  }

  test("CALL restore + detail complete the SQL maintenance surface") {
    val wh = Files.createTempDirectory("graft-wh-rd").toString
    spark.conf.set("spark.sql.catalog.grd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grd.warehouse", wh)
    Seq((1L, "a")).toDF("id", "v")
      .writeTo("grd.t").tableProperty("merge.log", "true").create() // v0
    Seq((2L, "b")).toDF("id", "v").writeTo("grd.t").append()        // v1

    val d1 = spark.sql("CALL grd.system.detail(`table` => 't')").head()
    assert(d1.getAs[Long]("version") === 1L)
    assert(d1.getAs[Long]("num_files") === 2L)
    assert(d1.getAs[Long]("size_bytes") > 0L)
    assert(!d1.getAs[Boolean]("column_mapped"))

    assert(spark.sql("CALL grd.system.restore(`table` => 't', version => 0)")
      .as[Long].head() === 2L) // restore commits as a NEW version
    assert(spark.table("grd.t").as[(Long, String)].collect().toSeq
      === Seq((1L, "a")))
    spark.sql("ALTER TABLE grd.t RENAME COLUMN v TO w")
    assert(spark.sql("CALL grd.system.detail(`table` => 't')")
      .head().getAs[Boolean]("column_mapped"))
  }

  test("CALL clone carries durable constraints to the clone") {
    val wh = Files.createTempDirectory("graft-wh-clcons").toString
    spark.conf.set("spark.sql.catalog.gclc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclc.warehouse", wh)
    Seq((1L, 10.0)).toDF("id", "price")
      .writeTo("gclc.t").tableProperty("merge.log", "true")
      .tableProperty("constraint.price_pos", "price >= 0").create()
    spark.sql("CALL gclc.system.clone(`table` => 't', target => 'c')")
    // the mirrored meta json carries constraint.* — the clone enforces
    intercept[Exception] {
      spark.sql("INSERT INTO gclc.c VALUES (2, -1.0)") }
    spark.sql("INSERT INTO gclc.c VALUES (2, 2.0)")
    assert(spark.table("gclc.c").count() === 2L)
  }

  test("CSV sink + explicit-schema scan round-trips lineitem columns") {
    val dir = Files.createTempDirectory("csv-src").toString
    val src = graft.sources.Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
    src.write.mode("overwrite").option("header", "true").csv(dir)

    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType),
      // session policy (Sessions.local) reads parquet timestamps as LTZ
      // with a UTC session zone, so the CSV round-trip pins LTZ too
      StructField("l_shipdate", TimestampType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)

    assert(back.schema === schema)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(canon(back) === canon(src))
    assert(back.count() > 0)
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN: metadata-only, reads stay correct") {
    val wh = Files.createTempDirectory("graft-wh-rn").toString
    spark.conf.set("spark.sql.catalog.grn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grn.warehouse", wh)

    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .writeTo("grn.prices")
      .tableProperty("merge.log", "true")
      .create()                                                     // v0
    spark.sql("ALTER TABLE grn.prices RENAME COLUMN price TO amount") // v1
    // old files (never rewritten) read under the new name — the V2
    // scan translates logical → physical at the scan boundary (r12)
    assert(spark.table("grn.prices").columns.toSeq === Seq("id", "amount"))
    assert(spark.table("grn.prices").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0)))
    assert(spark.sql("SELECT sum(amount) FROM grn.prices")
      .as[Double].head() === 30.0)
    // scan-level pushdown SURVIVES the rename: the pushed predicate
    // reaches the vectorized parquet scan under the PHYSICAL name
    // (r12 — the r11 V1 fallback lost PushedFilters after a rename)
    val plan = spark.table("grn.prices").filter($"amount" > 15.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && !plan.contains("PushedFilters: []"),
      s"renamed-table scan must keep parquet pushdown, got:\n$plan")
    assert(plan.contains("GreaterThan(price,"),
      s"pushed predicate must carry the PHYSICAL column name, got:\n$plan")
    assert(spark.table("grn.prices").filter($"amount" > 15.0)
      .as[(Long, Double)].collect().toSet === Set((2L, 20.0)))
    // inserts under the new name merge with pre-rename files
    spark.sql("INSERT INTO grn.prices VALUES (3, 30.0)")             // v2
    assert(spark.table("grn.prices").as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // SQL time travel surfaces the pinned version under the CURRENT
    // declared names (physical match) — the declared-schema contract
    assert(spark.sql("SELECT * FROM grn.prices VERSION AS OF 0")
      .as[(Long, Double)].collect().toSet === Set((1L, 10.0), (2L, 20.0)))
    // SQL UPDATE works on the mapped table (r12 — the scan aliases
    // physical → logical, the staged replacement re-lands through the
    // mapping write path)
    spark.sql("UPDATE grn.prices SET amount = amount + 1 WHERE id = 1") // v3
    assert(spark.table("grn.prices").as[(Long, Double)].collect().toSet
      === Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))
    // filter-based SQL DELETE routes through the library path and works
    spark.sql("DELETE FROM grn.prices WHERE id = 2")                 // v4
    assert(spark.table("grn.prices").as[(Long, Double)].collect().toSet
      === Set((1L, 11.0), (3L, 30.0)))
    // DROP COLUMN + re-ADD: old values must NOT resurrect
    spark.sql("ALTER TABLE grn.prices DROP COLUMN amount")           // v5
    assert(spark.table("grn.prices").columns.toSeq === Seq("id"))
    spark.sql("ALTER TABLE grn.prices ADD COLUMNS (amount double)")  // v6
    assert(spark.table("grn.prices").as[(Long, Option[Double])].collect().toSet
      === Set((1L, None), (3L, None)),
      "dropped column data must not resurrect after re-add")
    // the DECLARED json must mirror the log's mapping after ADD
    // COLUMNS (r12, ADVICE r11): the re-added column took a suffixed
    // physical name in the log; a declared schema persisting the raw
    // field would bind the retired physical name for any direct reader
    locally {
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$wh/prices/_graft_table.json")), "UTF-8")
      val declared = org.apache.spark.sql.types.DataType.fromJson(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(raw).get("schema").asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val logSchema = graft.sources.CommitLog(spark, s"$wh/prices")
        .snapshot().schema.get
      assert(declared.fields.map(f => f.name ->
          graft.sources.CommitLog.physNameOf(f)).toSeq
        === logSchema.fields.map(f => f.name ->
          graft.sources.CommitLog.physNameOf(f)).toSeq,
        "declared json must mirror the log's physical-name mapping")
    }
    // rename again; SQL UPDATE and MERGE work directly on the mapped
    // table — no materialize_mapping prerequisite (r12)
    spark.sql("ALTER TABLE grn.prices RENAME COLUMN amount TO bonus")  // v7
    spark.sql("UPDATE grn.prices SET bonus = CAST(1 AS DOUBLE) WHERE id = 1") // v8
    assert(spark.table("grn.prices").select($"id", $"bonus")
      .as[(Long, Option[Double])].collect().toSet
      === Set((1L, Some(1.0)), (3L, None)))
    spark.sql("""MERGE INTO grn.prices t
      USING (SELECT * FROM VALUES (3L, 33.0), (4L, 44.0) AS s(id, b)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET bonus = s.b
      WHEN NOT MATCHED THEN INSERT (id, bonus) VALUES (s.id, s.b)""") // v9
    assert(spark.table("grn.prices").select($"id", $"bonus")
      .as[(Long, Option[Double])].collect().toSet
      === Set((1L, Some(1.0)), (3L, Some(33.0)), (4L, Some(44.0))))
    // materialize_mapping is now an OPTIMIZATION (rewrite files to
    // logical names, drop the per-scan aliasing), not a prerequisite
    spark.sql("CALL grn.system.materialize_mapping(`table` => 'prices')")
    spark.sql("UPDATE grn.prices SET bonus = CAST(2 AS DOUBLE) WHERE id = 1")
    assert(spark.table("grn.prices").select($"id", $"bonus")
      .as[(Long, Option[Double])].collect().toSet
      === Set((1L, Some(2.0)), (3L, Some(33.0)), (4L, Some(44.0))))
    // time travel to a MAPPED version of the now-identity table still
    // reads correctly (the scan translates per the PINNED version's
    // own logical view)
    assert(spark.sql("SELECT id FROM grn.prices VERSION AS OF 2")
      .as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("nested ADD COLUMNS: metadata-only struct evolution, old files read null") {
    val wh = Files.createTempDirectory("graft-wh-nest").toString
    spark.conf.set("spark.sql.catalog.gns", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gns.warehouse", wh)
    Seq((1L, (10L, "a")), (2L, (20L, "b")))
      .toDF("id", "meta")
      .select($"id", $"meta".cast("struct<ck:bigint,tag:string>").as("meta"))
      .writeTo("gns.t").tableProperty("merge.log", "true").create()     // v0
    spark.sql("ALTER TABLE gns.t ADD COLUMNS (meta.score DOUBLE)")      // v1
    // the evolved schema is visible and OLD files read null in the gap
    assert(spark.table("gns.t").select($"meta.score")
      .as[Option[Double]].collect().toSeq === Seq(None, None))
    // inserts through the evolved shape coexist with pre-add files
    spark.sql("INSERT INTO gns.t VALUES " +
      "(3L, named_struct('ck', 30L, 'tag', 'c', 'score', 1.5D))")       // v2
    assert(spark.table("gns.t")
      .select($"id", $"meta.ck", $"meta.tag", $"meta.score")
      .as[(Long, Long, String, Option[Double])].collect().toSet
      === Set((1L, 10L, "a", None), (2L, 20L, "b", None),
        (3L, 30L, "c", Some(1.5))))
    // a filter on the nested field works over mixed-shape files
    assert(spark.sql("SELECT id FROM gns.t WHERE meta.score > 1")
      .as[Long].collect().toSeq === Seq(3L))
    // time travel: the pinned pre-evolution version has no score field
    assert(!spark.sql("SELECT * FROM gns.t VERSION AS OF 0")
      .schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("score"))
    // the LIBRARY write path conforms an OLD-shaped struct batch (the
    // additive contract: missing nested fields null-pad in place)
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    log.upsert(Seq((2L, (21L, "b2")), (4L, (40L, "d"))).toDF("id", "meta")
        .select($"id", $"meta".cast("struct<ck:bigint,tag:string>").as("meta")),
      Seq("id"), graft.sources.CommitLog.LastWins)                      // v3
    assert(spark.table("gns.t")
      .select($"id", $"meta.ck", $"meta.score")
      .as[(Long, Long, Option[Double])].collect().toSet
      === Set((1L, 10L, None), (2L, 21L, None), (3L, 30L, Some(1.5)),
        (4L, 40L, None)))
    // a null struct stays null through conform (never a struct of nulls)
    log.upsert(
      spark.sql("SELECT 5L AS id, CAST(NULL AS struct<ck:bigint,tag:string>) AS meta"),
      Seq("id"), graft.sources.CommitLog.LastWins)                      // v4
    assert(spark.table("gns.t").filter($"id" === 5L).select($"meta")
      .collect().head.isNullAt(0), "null struct must stay null")
    // refusals: non-struct parent, unknown parent, collision, nested
    // RENAME/DROP, and plain-directory tables
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .take(5).exists(t => Option(t.getMessage).exists(_.contains(frag))),
        s"expected '$frag' from: $sql, got ${e.getMessage}")
    }
    refuses("ALTER TABLE gns.t ADD COLUMNS (id.sub BIGINT)", "not a struct")
    // Spark's analyzer resolves the parent before the catalog sees it
    refuses("ALTER TABLE gns.t ADD COLUMNS (nope.sub BIGINT)", "cannot be resolved")
    refuses("ALTER TABLE gns.t ADD COLUMNS (meta.score DOUBLE)", "already exists")
    // r13: nested RENAME is a metadata-only commit (NestedMappingSpec
    // pins the full surface; here just the SQL route + round-trip)
    spark.sql("ALTER TABLE gns.t RENAME COLUMN meta.ck TO ck2")
    assert(spark.table("gns.t").filter($"id" === 1L)
      .select($"meta.ck2").as[Long].head() === 10L)
    spark.sql("ALTER TABLE gns.t RENAME COLUMN meta.ck2 TO ck")
    // nested add on a RENAMED (column-mapped) parent keeps the mapping
    spark.sql("ALTER TABLE gns.t RENAME COLUMN meta TO info")
    spark.sql("ALTER TABLE gns.t ADD COLUMNS (info.rank INT)")
    assert(spark.table("gns.t")
      .select($"id", $"info.ck", $"info.score", $"info.rank")
      .as[(Long, Option[Long], Option[Double], Option[Int])].collect().toSet
      === Set(
        (1L, Some(10L), None, None), (2L, Some(21L), None, None),
        (3L, Some(30L), Some(1.5), None), (4L, Some(40L), None, None),
        (5L, None, None, None)),
      "renamed struct parent must keep reading through its physical name")
  }

  test("CREATE TABLE PARTITIONED BY maps onto the manifest partition tags") {
    val wh = Files.createTempDirectory("graft-wh-pby").toString
    spark.conf.set("spark.sql.catalog.gpby", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpby.warehouse", wh)
    // SQL DDL form — partitioning is sugar for merge.partcol+merge.log
    spark.sql("""CREATE TABLE gpby.t (id BIGINT, day STRING, x DOUBLE)
      PARTITIONED BY (day)""")
    val props = spark.sql("SHOW TBLPROPERTIES gpby.t")
      .as[(String, String)].collect().toMap
    assert(props.get("merge.partcol").contains("day"))
    assert(props.get("merge.log").contains("true"))
    spark.sql("INSERT INTO gpby.t VALUES (1, 'd1', 1.0), (2, 'd2', 2.0)")
    val log = graft.sources.CommitLog(spark, s"$wh/t")
    val s = log.snapshot()
    assert(s.files.nonEmpty && s.files.forall(s.entry(_).partTag.isDefined),
      "every file from a partitioned-by table must carry a manifest tag")
    assert(log.readPartitions(Seq("d2")).as[(Long, String, Double)]
      .collect().toSet === Set((2L, "d2", 2.0)))
    // the writeTo(...).partitionedBy form + dynamic partition overwrite
    Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "x")
      .writeTo("gpby.t2").partitionedBy($"day").create()
    Seq((9L, "d2", 9.0)).toDF("id", "day", "x")
      .writeTo("gpby.t2").overwritePartitions()
    assert(spark.table("gpby.t2").as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (9L, "d2", 9.0)))
    // DESCRIBE advertises the partitioning
    assert(spark.sql("DESCRIBE TABLE gpby.t2").collect()
      .exists(_.toString.contains("day")))
    // r15: bucket(n, col) is a supported layout; a genuinely unknown
    // transform still refuses loudly
    spark.sql("""CREATE TABLE gpby.t3 (id BIGINT, day STRING)
      PARTITIONED BY (bucket(4, id))""")
    assert(spark.sql("SHOW TBLPROPERTIES gpby.t3")
      .filter($"key" === "merge.partcol").select("value").as[String].head()
      === "bucket(4,id)")
    Seq((1L, "d1"), (2L, "d2")).toDF("id", "day").writeTo("gpby.t3").append()
    assert(spark.table("gpby.t3").count() === 2L)
  }

  test("storage-partitioned joins: co-partitioned tables join and aggregate shuffle-free") {
    val wh = Files.createTempDirectory("graft-wh-spj").toString
    spark.conf.set("spark.sql.catalog.gspj", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // finalize the AQE plan before inspecting it
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    }
    try {
      // two tables partitioned on the same STRING column + one on DATE
      val facts = Seq(
        (1L, "d1", java.sql.Date.valueOf("2024-01-01"), 10.0),
        (2L, "d1", java.sql.Date.valueOf("2024-01-01"), 20.0),
        (3L, "d2", java.sql.Date.valueOf("2024-01-02"), 30.0),
        (4L, "d3", java.sql.Date.valueOf("2024-01-03"), 40.0))
        .toDF("id", "day", "dt", "x")
      facts.writeTo("gspj.f").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "day").create()
      Seq(("d1", 2.0), ("d2", 3.0), ("d3", 4.0)).toDF("day", "w")
        .writeTo("gspj.d").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "day").create()
      facts.select($"dt", $"x").writeTo("gspj.fd")
        .tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "dt").create()

      def joined = spark.table("gspj.f").join(spark.table("gspj.d"), "day")
        .groupBy($"day").agg(sum($"x" * $"w").as("s"))
      val expected = Set(("d1", 60.0), ("d2", 90.0), ("d3", 160.0))

      // flag OFF (default): plain scan, no SPJ wrap, shuffles present
      assert(!joined.queryExecution.executedPlan.toString.contains("graft-spj"),
        "SPJ must not engage without the opt-in flag")
      assert(joined.as[(String, Double)].collect().toSet === expected)

      spark.conf.set("spark.graft.spj.preserveDataGrouping", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // partition-keyed JOIN: zero exchanges, same answer
      val j = joined
      assert(exchanges(j) === 0,
        "co-partitioned join must plan without any Exchange:\n" +
          j.queryExecution.executedPlan)
      assert(j.queryExecution.executedPlan.toString.contains("graft-spj"))
      assert(j.as[(String, Double)].collect().toSet === expected)

      // partition-keyed AGGREGATION: zero exchanges
      val a = spark.table("gspj.f").groupBy($"day").agg(sum($"x").as("sx"))
      assert(exchanges(a) === 0,
        "partition-keyed agg must plan without any Exchange")
      assert(a.as[(String, Double)].collect().toSet
        === Set(("d1", 30.0), ("d2", 30.0), ("d3", 40.0)))

      // DATE partition key round-trips through the manifest tag
      val ad = spark.table("gspj.fd").groupBy($"dt").agg(sum($"x").as("sx"))
      assert(exchanges(ad) === 0)
      assert(ad.collect().map(r => (r.getDate(0).toString, r.getDouble(1))).toSet
        === Set(("2024-01-01", 30.0), ("2024-01-02", 30.0), ("2024-01-03", 40.0)))

      // pushdown still reaches the scan under the SPJ wrap, and a
      // pruned-away partition column silently skips SPJ (no error)
      val f = spark.table("gspj.f").filter($"day" === "d2").select($"x")
      assert(f.queryExecution.executedPlan.toString.contains("PushedFilters"))
      assert(f.as[Double].collect().toSet === Set(30.0))
      val noPart = spark.table("gspj.f").select($"id", $"x")
        .groupBy($"id").agg(sum($"x"))
      noPart.collect() // must simply run (no SPJ: key not in output)

      // a join on a NON-partition key still shuffles (sanity: the wrap
      // must not fake co-partitioning it doesn't have)
      val bad = spark.table("gspj.f").join(
        spark.table("gspj.f").withColumnRenamed("x", "y"), "id")
      assert(exchanges(bad) > 0)
    } finally {
      spark.conf.set("spark.graft.spj.preserveDataGrouping", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }
}
