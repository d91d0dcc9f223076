package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

/** r14 manifest-answered pushdowns on commit-log V2 scans:
  * [[GraftLogScanBuilder]]'s `SupportsPushDownAggregates` (global
  * COUNT(*)/MIN/MAX folded from `FileEntry.rows`/`FileEntry.colStats` into
  * a one-row [[GraftLogScanBuilder.ManifestAggScan]] — zero data files
  * opened) and `SupportsPushDownLimit` (file-list prefix whose
  * DV-adjusted live row counts provably cover the limit). Pins the
  * admission boundary: deletion vectors poison MIN/MAX but keep
  * COUNT(*) exact; pushed filters, group-bys, unsupported types and
  * unknown row counts refuse; the limit bound must subtract DV
  * cardinalities or a masked read under-fills the limit. */
class AggLimitPushdownSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"gap-$tag").toString
    val cat = s"gap$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** True when the query was answered from the manifest: a local scan
    * and NO batch (file) scan anywhere in the executed plan. */
  private def manifestAnswered(df: DataFrame): Boolean = {
    df.collect() // materialize so AQE finalizes
    val nodes = allNodes(df.queryExecution.executedPlan)
    nodes.exists(_.isInstanceOf[LocalTableScanExec]) &&
      !nodes.exists(_.isInstanceOf[BatchScanExec])
  }

  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation =>
        GraftScans.unwrapFileScan(r.scan).fileIndex.inputFiles.length
    }.sum

  test("global count/min/max answered from the manifest, no file scan") {
    val (cat, _) = freshCat("agg")
    val df = (1 to 300).map(i =>
        (i.toLong, s"n$i", i * 1.5, java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "name", "price", "d")
      .withColumn("d", date_add($"d", ($"id" % 40).cast("int")))
    df.filter($"id" <= 100).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    df.filter($"id" > 100 && $"id" <= 200).writeTo(s"$cat.t").append()
    df.filter($"id" > 200).writeTo(s"$cat.t").append()

    val q = spark.table(s"$cat.t").agg(
      count(lit(1)).as("cnt"),
      min($"id").as("mn_id"), max($"id").as("mx_id"),
      min($"name").as("mn_s"), max($"name").as("mx_s"),
      min($"price").as("mn_p"), max($"price").as("mx_p"),
      min($"d").as("mn_d"), max($"d").as("mx_d"))
    assert(manifestAnswered(q), "expected a manifest-answered local scan:\n" +
      q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === 300L)
    assert(r.getLong(1) === 1L && r.getLong(2) === 300L)
    // string min/max under UTF8 byte order: "n1" .. "n99"
    assert(r.getString(3) === "n1" && r.getString(4) === "n99")
    assert(r.getDouble(5) === 1.5 && r.getDouble(6) === 450.0)
    assert(r.getDate(7) === java.sql.Date.valueOf("2024-01-01"))
    assert(r.getDate(8) === java.sql.Date.valueOf("2024-02-09"))
    // SQL count(*) takes the same path
    assert(manifestAnswered(spark.sql(s"SELECT count(*) FROM $cat.t")))
  }

  test("deletion vectors: count(*) stays manifest-exact, min/max refuses") {
    val (cat, wh) = freshCat("dv")
    (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(2)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try spark.sql(s"DELETE FROM $cat.t WHERE id <= 30")
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val log = CommitLog(spark, s"$wh/t")
    assert(log.snapshot().hasDvs, "precondition: the delete was MoR")

    val cnt = spark.table(s"$cat.t").agg(count(lit(1)).as("cnt"))
    assert(manifestAnswered(cnt), "DV-masked count must still fold from " +
      "rows minus DV cardinalities")
    assert(cnt.collect().head.getLong(0) === 170L)

    // the mask could have removed the extremal row — min must NOT be
    // answered from (pre-mask) footer stats
    val mn = spark.table(s"$cat.t").agg(min($"id").as("mn"))
    assert(!manifestAnswered(mn))
    assert(mn.collect().head.getLong(0) === 31L)
  }

  test("pushed filters and group-bys refuse the aggregate pushdown") {
    val (cat, _) = freshCat("ref")
    (1 to 100).map(i => (i.toLong, i % 3)).toDF("id", "g")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val filtered = spark.table(s"$cat.t").filter($"id" > 10)
      .agg(count(lit(1)).as("cnt"))
    assert(!manifestAnswered(filtered))
    assert(filtered.collect().head.getLong(0) === 90L)
    val grouped = spark.table(s"$cat.t").groupBy($"g")
      .agg(count(lit(1)).as("cnt"))
    assert(!manifestAnswered(grouped))
    assert(grouped.collect().map(_.getLong(1)).sum === 100L)
    // SUM has no manifest answer
    val summed = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(!manifestAnswered(summed))
    assert(summed.collect().head.getLong(0) === 5050L)
  }

  test("column mapping: stats stay keyed by the stable physical name") {
    val (cat, wh) = freshCat("map")
    (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "price")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN price TO amount")
    val q = spark.table(s"$cat.t").agg(
      min($"amount").as("mn"), max($"amount").as("mx"))
    assert(manifestAnswered(q), "renamed column must resolve stats via " +
      "its physical name:\n" + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 50.0)
  }

  test("empty table: count 0 and null extrema from the manifest") {
    val (cat, _) = freshCat("emp")
    (1 to 10).map(i => (i.toLong, i.toString)).toDF("id", "s")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    spark.sql(s"DELETE FROM $cat.t WHERE id >= 0") // CoW: retires all files
    val q = spark.table(s"$cat.t").agg(count(lit(1)).as("cnt"),
      min($"id").as("mn"))
    assert(manifestAnswered(q))
    val r = q.collect().head
    assert(r.getLong(0) === 0L && r.isNullAt(1))
  }

  test("COUNT(col) folds from harvested null counts") {
    val (cat, wh) = freshCat("cnc")
    val df = (1 to 200).map(i => (i.toLong,
        if (i % 5 == 0) null else s"v$i",
        if (i % 3 == 0) null else java.lang.Double.valueOf(i * 1.0)))
      .toDF("id", "s", "d")
    df.filter($"id" <= 100).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    df.filter($"id" > 100).writeTo(s"$cat.t").append()
    val q = spark.table(s"$cat.t").agg(
      count($"id").as("c_id"), count($"s").as("c_s"), count($"d").as("c_d"))
    assert(manifestAnswered(q), "COUNT(col) must fold from rows - nulls:\n" +
      q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === 200L)           // no nulls
    assert(r.getLong(1) === 200L - 40L)     // every 5th s is null
    assert(r.getLong(2) === 200L - 66L)     // every 3rd d is null
    // count(DISTINCT col) is not manifest-answerable
    val qd = spark.table(s"$cat.t").agg(countDistinct($"s").as("cd"))
    assert(!manifestAnswered(qd))
    assert(qd.collect().head.getLong(0) === 160L)
    // r18: DVs no longer poison COUNT(col) — the mask collect carries
    // every column's nullness (packed bitmask), so the commit restates
    // a live non-null count per column and the fold stays alive.
    // modulo isn't a pushable V2 filter (SQL DELETE would fall back to
    // the CoW row-level path) — the library delete masks it
    val log = CommitLog(spark, s"$wh/t")
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.delete($"id" % 10 === 1)
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(log.snapshot().hasDvs)
    val q2 = spark.table(s"$cat.t").agg(count($"s").as("c_s"))
    assert(manifestAnswered(q2),
      "accounted DVs must keep COUNT(col) alive (r18):\n"
        + q2.queryExecution.executedPlan)
    // ids ≡1 (mod 10) are never multiples of 5, so all 20 masked rows
    // had non-null s: 160 - 20
    assert(q2.collect().head.getLong(0) === 140L)
    // the r16 wire behavior stays reproducible: accounting off, a DV
    // leaves the masked rows' null-ness unknown — COUNT(col) refuses
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
    try log.delete($"id" % 10 === 2)
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    val q3 = spark.table(s"$cat.t").agg(count($"s").as("c_s"))
    assert(!manifestAnswered(q3), "an unaccounted DV must refuse COUNT(col)")
    assert(q3.collect().head.getLong(0) === 120L) // ids ≡2 (mod 10): all 20 non-null
  }

  test("GROUP BY the identity partition key answers from the manifest") {
    val (cat, wh) = freshCat("grp")
    (1 to 300).map(i => (i.toLong, Seq("A", "B", "C")(i % 3), i * 2.0))
      .toDF("id", "flag", "v")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag").create()
    val q = spark.table(s"$cat.t").groupBy($"flag").agg(
      count(lit(1)).as("cnt"), min($"id").as("mn"), max($"v").as("mx"))
    assert(manifestAnswered(q), "grouped aggregate must fold from tags " +
      "+ per-file stats:\n" + q.queryExecution.executedPlan)
    val rows = q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // flag(i) = Seq(A,B,C)(i % 3): A holds 3,6,…,300; B holds 1,4,…,298;
    // C holds 2,5,…,299
    assert(rows === Set(("A", 100L, 3L, 600.0), ("B", 100L, 1L, 596.0),
      ("C", 100L, 2L, 598.0)))
    // SQL takes the same path
    assert(manifestAnswered(
      spark.sql(s"SELECT flag, count(*) FROM $cat.t GROUP BY flag")))
    // a fully-masked partition's group must disappear: MoR-delete all
    // of C, then the grouped count comes only from A and B
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    try spark.sql(s"DELETE FROM $cat.t WHERE flag = 'C'")
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs,
      "precondition: the partition delete was merge-on-read")
    val q2 = spark.table(s"$cat.t").groupBy($"flag")
      .agg(count(lit(1)).as("cnt"))
    assert(manifestAnswered(q2))
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("A", 100L), ("B", 100L)))
    // grouping by a NON-partition column refuses
    val q3 = spark.table(s"$cat.t").groupBy($"id").agg(count(lit(1)).as("c"))
    assert(!manifestAnswered(q3.limit(5)))
    // SELECT DISTINCT part = group-by-only aggregation: the live
    // partition domain from the tags, masked-away C excluded
    val d = spark.sql(s"SELECT DISTINCT flag FROM $cat.t")
    assert(manifestAnswered(d), "DISTINCT on the partition key must " +
      "answer from the tags:\n" + d.queryExecution.executedPlan)
    assert(d.collect().map(_.getString(0)).toSet === Set("A", "B"))
    // COUNT(DISTINCT part) rides the same evidence (r15): the number
    // of live tag components, masked-away C excluded
    val cd = spark.sql(s"SELECT count(DISTINCT flag) AS n FROM $cat.t")
    assert(manifestAnswered(cd), "COUNT(DISTINCT key) must fold from " +
      "the tags:\n" + cd.queryExecution.executedPlan)
    assert(cd.collect().head.getLong(0) === 2L)
    // COUNT(DISTINCT non-key) refuses
    val cd2 = spark.sql(s"SELECT count(DISTINCT id) AS n FROM $cat.t")
    assert(!manifestAnswered(cd2))
    assert(cd2.collect().head.getLong(0) === 200L)
    // a non-round-tripping key TYPE refuses: a double key's "0.0" and
    // "-0.0" tags are two strings but ONE Spark value (review r15)
    val (cat2, _) = freshCat("dkey")
    Seq((1L, 0.0), (2L, -0.0), (3L, 1.5)).toDF("id", "d")
      .writeTo(s"$cat2.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "d").create()
    val cd3 = spark.sql(s"SELECT count(DISTINCT d) AS n FROM $cat2.t")
    assert(!manifestAnswered(cd3),
      "a double identity key must refuse the distinct-count fold")
    assert(cd3.collect().head.getLong(0) === 2L)
  }

  test("grouped pushdown folds a composite spec's sub-partitions") {
    val (cat, _) = freshCat("comp")
    // two-key spec: GROUP BY the FIRST key alone must fold each
    // flag's bucket sub-partitions together (decoded tag components)
    (1 to 120).map(i => (i.toLong, Seq("A", "B")(i % 2), (i % 3).toLong))
      .toDF("id", "flag", "bucket")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag,bucket").create()
    val q = spark.table(s"$cat.t").groupBy($"flag")
      .agg(count(lit(1)).as("cnt"), min($"id").as("mn"))
    assert(manifestAnswered(q), "composite-spec grouping must fold " +
      "sub-partitions from decoded tag components:\n" +
      q.queryExecution.executedPlan)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet === Set(("A", 60L, 2L), ("B", 60L, 1L)))
    // the second key alone works too
    val q2 = spark.table(s"$cat.t").groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"))
    assert(manifestAnswered(q2))
    assert(q2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((0L, 40L), (1L, 40L), (2L, 40L)))
    // a days()-transform key is NOT an identity column: grouping by
    // its source column must refuse (the tag holds epoch-days)
    val (cat2, _) = freshCat("days")
    (1 to 50).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2024-01-${1 + i % 5} 10:00:00")))
      .toDF("id", "ts")
      .writeTo(s"$cat2.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val q3 = spark.table(s"$cat2.t").groupBy($"ts")
      .agg(count(lit(1)).as("cnt"))
    assert(!manifestAnswered(q3))
    assert(q3.collect().map(_.getLong(1)).sum === 50L)
    // ...but grouping by the TRANSFORM — CAST(ts AS DATE), the
    // day-level rollup — folds from the tags, which hold exactly the
    // UTC epoch-day (r15, VERDICT r14 #4; session TZ is pinned UTC)
    val q4 = spark.table(s"$cat2.t")
      .groupBy($"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"), min($"id").as("mn"))
    assert(manifestAnswered(q4), "GROUP BY CAST(ts AS DATE) over a " +
      "days(ts) key must fold from tags:\n" + q4.queryExecution.executedPlan)
    assert(q4.collect().map(r =>
        (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
      === (1 to 5).map(d => (s"2024-01-0$d", 10L,
        (1 to 50).filter(i => 1 + i % 5 == d).min.toLong)).toSet)
  }

  test("partition-exact filters keep aggregate and limit pushdown sound (r15)") {
    val (cat, _) = freshCat("pex")
    // partitioned by flag; flag=A gets THREE single-file commits so a
    // LIMIT under WHERE flag='A' can prove a covering prefix
    val df = (1 to 300).map(i => (i.toLong, if (i <= 240) "A" else "B"))
      .toDF("id", "flag")
    df.filter($"id" <= 80).coalesce(1).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag").create()
    df.filter($"id" > 80 && $"id" <= 160).coalesce(1).writeTo(s"$cat.t").append()
    df.filter($"id" > 160).coalesce(1).writeTo(s"$cat.t").append()
    // COUNT/MIN/MAX under the partition filter: manifest-answered
    val agg = spark.table(s"$cat.t").filter($"flag" === "A")
      .agg(count(lit(1)).as("cnt"), min($"id").as("mn"), max($"id").as("mx"))
    assert(manifestAnswered(agg),
      "COUNT/MIN/MAX under a partition-exact filter must fold from the " +
        "manifest:\n" + agg.queryExecution.executedPlan)
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((240L, 1L, 240L)))
    // LIMIT under the partition filter: covering prefix of A's files
    val lim = spark.table(s"$cat.t").filter($"flag" === "A").limit(90)
    assert(lim.count() === 90L)
    assert(scannedFiles(lim) === 2,
      s"LIMIT 90 over A's 80-row files needs a 2-file prefix, got ${scannedFiles(lim)}")
    // a NON-partition conjunct poisons exactness: both refuse
    val agg2 = spark.table(s"$cat.t").filter($"flag" === "A" && $"id" > 3)
      .agg(count(lit(1)).as("cnt"))
    assert(!manifestAnswered(agg2))
    assert(agg2.collect().head.getLong(0) === 237L)
    val lim2 = spark.table(s"$cat.t").filter($"flag" === "A" && $"id" > 3).limit(5)
    assert(lim2.count() === 5L)
    // filtering the OTHER partition still answers correctly
    assert(spark.table(s"$cat.t").filter($"flag" === "B")
      .agg(count(lit(1))).collect().head.getLong(0) === 60L)
  }

  test("IN-list partition filters prune files and stay exact (r15)") {
    val (cat, _) = freshCat("inl")
    val df = (1 to 300).map(i => (i.toLong, Seq("A", "B", "C")(i % 3)))
      .toDF("id", "flag")
    df.writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag").create()
    val total = spark.table(s"$cat.t")
    assert(scannedFiles(total) === 3, "one file per partition expected")
    // the IN filter prunes to the named partitions' files AND the
    // aggregate under it folds from the manifest
    val q = spark.table(s"$cat.t").filter($"flag".isin("A", "C"))
      .agg(count(lit(1)).as("n"), min($"id").as("mn"))
    assert(manifestAnswered(q),
      "IN over the partition key must fold:\n" + q.queryExecution.executedPlan)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).head === ((200L, 2L)))
    val plain = spark.table(s"$cat.t").filter($"flag".isin("A", "C"))
    assert(scannedFiles(plain) === 2, "IN must prune to the listed partitions")
    // a large list rides the optimizer's InSet conversion
    val many = ("A" +: (1 to 15).map(i => s"zz$i")).map(lit(_))
    val big = spark.table(s"$cat.t").filter($"flag".isin(many: _*))
      .agg(count(lit(1)).as("n"))
    assert(manifestAnswered(big),
      "InSet over the partition key must fold:\n" + big.queryExecution.executedPlan)
    assert(big.collect().head.getLong(0) === 100L)
    assert(scannedFiles(spark.table(s"$cat.t")
      .filter($"flag".isin(many: _*))) === 1)
    // a null in the list never makes a row TRUE: fold stays sound
    val withNull = spark.table(s"$cat.t")
      .filter($"flag".isin("B", null)).agg(count(lit(1)).as("n"))
    assert(withNull.collect().head.getLong(0) === 100L)
    // IN over a NON-key column refuses the fold (rows could drop)
    val nonKey = spark.table(s"$cat.t").filter($"id".isin(1L, 2L))
      .agg(count(lit(1)).as("n"))
    assert(!manifestAnswered(nonKey))
    assert(nonKey.collect().head.getLong(0) === 2L)
  }

  test("day-scoped filters are partition-exact over days/hours layouts (r15)") {
    val priorTsType = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val df = (0 until 240).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(
          f"2024-05-${1 + i % 5}%02d ${i % 24}%02d:15:00"))
      }.toDF("id", "ts")
      val day = lit("2024-05-03").cast("date")
      // days(ts): the day tag proves the cast predicate on every row
      val (cat, _) = freshCat("dayd")
      df.writeTo(s"$cat.t").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "days(ts)").create()
      val q = spark.table(s"$cat.t").filter($"ts".cast("date") === day)
        .agg(count(lit(1)).as("n"), min($"id").as("mn"))
      assert(manifestAnswered(q),
        "day-scoped agg over days(ts) must fold:\n" + q.queryExecution.executedPlan)
      assert(q.collect().head.getLong(0) === 48L)
      // the cast bound also prunes the plain scan to the day's files
      val plain = spark.table(s"$cat.t").filter($"ts".cast("date") === day)
      assert(scannedFiles(plain) === 1, "one day = one partition file")
      // hours(ts): 24 hour tags fold into the one day
      val (cat2, _) = freshCat("dayh")
      df.writeTo(s"$cat2.t").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "hours(ts)").create()
      val q2 = spark.table(s"$cat2.t").filter($"ts".cast("date") === day)
        .agg(count(lit(1)).as("n"))
      assert(manifestAnswered(q2),
        "day-scoped agg over hours(ts) must fold:\n" + q2.queryExecution.executedPlan)
      assert(q2.collect().head.getLong(0) === 48L)
      // an explicit multi-day range folds the same way (no cast needed)
      val range = spark.table(s"$cat.t")
        .filter($"ts" >= lit("2024-05-02 00:00:00").cast("timestamp")
          && $"ts" < lit("2024-05-04 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n"))
      assert(manifestAnswered(range),
        "a unit-aligned ts range must fold:\n" + range.queryExecution.executedPlan)
      assert(range.collect().head.getLong(0) === 96L)
      // a bound cutting THROUGH a selected file's day refuses
      val cut = spark.table(s"$cat.t")
        .filter($"ts" >= lit("2024-05-02 12:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n"))
      assert(!manifestAnswered(cut))
      // equality on the RAW ts is lossy against the tag: refuses
      val raw = spark.table(s"$cat.t")
        .filter($"ts" === lit("2024-05-03 02:15:00").cast("timestamp"))
        .agg(count(lit(1)).as("n"))
      assert(!manifestAnswered(raw))
      // days(DATE) key: equality on the date column itself is lossless
      val (cat3, _) = freshCat("dayl")
      df.select($"id", $"ts".cast("date").as("d"))
        .writeTo(s"$cat3.t").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "days(d)").create()
      val q3 = spark.table(s"$cat3.t").filter($"d" === day)
        .agg(count(lit(1)).as("n"), max($"id").as("mx"))
      assert(manifestAnswered(q3),
        "date-key equality over days(date) must fold:\n" +
          q3.queryExecution.executedPlan)
      assert(q3.collect().head.getLong(0) === 48L)
      // a date RANGE over the days(date) key folds too (review r15:
      // the epoch-day domain rides the same unit-interval judge)
      val q4 = spark.table(s"$cat3.t")
        .filter($"d" >= lit("2024-05-02").cast("date")
          && $"d" < lit("2024-05-04").cast("date"))
        .agg(count(lit(1)).as("n"))
      assert(manifestAnswered(q4),
        "date-range over days(date) must fold:\n" + q4.queryExecution.executedPlan)
      assert(q4.collect().head.getLong(0) === 96L)
    } finally priorTsType match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("an Etc/UTC session keeps day-scoped exactness (zone normalization, r16)") {
    val priorTsType = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    val priorTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // "Etc/UTC" IS UTC under java.time's equivalence; the pre-r16
    // literal string compare silently dropped both the cast-bound file
    // pruning and the day-scoped manifest fold for it
    spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    try {
      val df = (0 until 96).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(
          f"2024-05-${1 + i % 4}%02d ${i % 24}%02d:15:00"))
      }.toDF("id", "ts")
      val (cat, _) = freshCat("tzn")
      df.writeTo(s"$cat.t").tableProperty("merge.log", "true")
        .tableProperty("merge.partcol", "days(ts)").create()
      val day = lit("2024-05-03").cast("date")
      val q = spark.table(s"$cat.t").filter($"ts".cast("date") === day)
        .agg(count(lit(1)).as("n"))
      assert(manifestAnswered(q),
        "day-scoped agg must fold under an Etc/UTC session:\n" +
          q.queryExecution.executedPlan)
      assert(q.collect().head.getLong(0) === 24L)
      val plain = spark.table(s"$cat.t").filter($"ts".cast("date") === day)
      assert(scannedFiles(plain) === 1,
        "the cast bound must prune to the day's file under Etc/UTC")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", priorTz)
      priorTsType match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
  }

  test("property: partition-exact pushdown ≡ plain evaluation on random filters") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the exactness judge DROPS residual filters (pushFilters returns
    // Seq.empty) — the one place a wrong admission silently leaks
    // rows. Random small tables over both layout families, filters
    // drawn from every admission family plus its refusal neighbors,
    // results compared against the same predicate evaluated on the
    // in-memory frame (no graft pushdown anywhere in that path).
    val priorTsType = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val caseGen = for {
        n <- Gen.chooseNum(1, 60)
        rows <- Gen.listOfN(n, for {
          flag <- Gen.oneOf("A", "B", "C", "D")
          day <- Gen.chooseNum(0, 3)
          sec <- Gen.chooseNum(0L, 86399L)
          id <- Gen.chooseNum(0L, 1000L)
        } yield (id, flag, day, sec))
        part <- Gen.oneOf("flag", "days(ts)")
        fsel <- Gen.chooseNum(0, 5)
      } yield (rows, part, fsel)
      var iter = 0
      val prop = Prop.forAllNoShrink(caseGen) { case (rows, part, fsel) =>
        iter += 1
        val (cat, _) = freshCat(s"pex$iter")
        def frame(df: org.apache.spark.sql.DataFrame) = df.select(
          $"id", $"flag",
          expr("timestamp'2024-05-01 00:00:00' " +
            "+ make_interval(0, 0, 0, day, 0, 0, sec)").as("ts"))
        val base = frame(rows.toDF("id", "flag", "day", "sec"))
        base.writeTo(s"$cat.t").tableProperty("merge.log", "true")
          .tableProperty("merge.partcol", part).create()
        def f(df: org.apache.spark.sql.DataFrame) = fsel match {
          case 0 => df.filter($"flag" === "B")
          case 1 => df.filter($"flag".isin("A", "C"))
          case 2 => df.filter($"ts".cast("date") ===
            lit("2024-05-02").cast("date"))
          case 3 => df.filter(
            $"ts" >= lit("2024-05-02 00:00:00").cast("timestamp")
              && $"ts" < lit("2024-05-04 00:00:00").cast("timestamp"))
          case 4 => df.filter( // cuts through a day: must stay residual
            $"ts" >= lit("2024-05-01 12:00:00").cast("timestamp"))
          case _ => df.filter($"flag" === "B" && $"id" > 500L)
        }
        def shape(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
          f(df).select($"id", $"flag", unix_micros($"ts"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSeq.sorted
        val aggOf = (df: org.apache.spark.sql.DataFrame) =>
          f(df).agg(count(lit(1)), min($"id"), max($"id")).collect()(0).toSeq
        shape(spark.table(s"$cat.t")) == shape(base) &&
          aggOf(spark.table(s"$cat.t")) == aggOf(base)
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
      assert(res.passed, res.status.toString)
    } finally priorTsType match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("calendar EXTRACT rollups fold from days/hours/months/years tags (r15)") {
    // GROUP BY year()/month() is derivable from any partition tag AT or
    // BELOW that granularity — the year/month report over a
    // time-partitioned table answers from the manifest
    val (cat, _) = freshCat("cal")
    (0 until 120).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"${2023 + i % 2}-${1 + (i / 2) % 12}-15 08:00:00")))
      .toDF("id", "ts")
      .writeTo(s"$cat.m").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "months(ts)").create()
    val ym = spark.table(s"$cat.m")
      .groupBy(year($"ts").as("y"), month($"ts").as("mo"))
      .agg(count(lit(1)).as("n"), min($"id").as("mn"))
    assert(manifestAnswered(ym), "year/month over months(ts) must fold:\n"
      + ym.queryExecution.executedPlan)
    assert(ym.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      === (0 until 120).groupBy(i => (2023 + i % 2, 1 + (i / 2) % 12))
        .map { case (k, is) => (k._1, k._2, is.size.toLong) }.toSet)
    // YEAR alone folds several months per group
    val y = spark.table(s"$cat.m").groupBy(year($"ts").as("y"))
      .agg(count(lit(1)).as("n"))
    assert(manifestAnswered(y))
    assert(y.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      === Set((2023, 60L), (2024, 60L)))
    // a years(ts) key answers YEAR but refuses MONTH (finer than the tag)
    (0 until 20).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"${2020 + i % 3}-0${1 + i % 9}-10 00:00:00")))
      .toDF("id", "ts")
      .writeTo(s"$cat.y").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "years(ts)").create()
    val yy = spark.table(s"$cat.y").groupBy(year($"ts").as("y"))
      .agg(count(lit(1)).as("n"))
    assert(manifestAnswered(yy), "YEAR over years(ts) must fold")
    val ymRefuse = spark.table(s"$cat.y")
      .groupBy(year($"ts").as("y"), month($"ts").as("mo"))
      .agg(count(lit(1)).as("n"))
    assert(!manifestAnswered(ymRefuse),
      "MONTH is finer than a years() tag — must refuse to a real scan")
    assert(ymRefuse.collect().map(_.getLong(2)).sum === 20L)
    // hours(ts): both the day rollup and year/month fold from hour tags
    (0 until 48).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2024-06-0${1 + i % 2} ${i % 24}:30:00")))
      .toDF("id", "ts")
      .writeTo(s"$cat.h").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "hours(ts)").create()
    val hd = spark.table(s"$cat.h").groupBy($"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    assert(manifestAnswered(hd), "CAST(ts AS DATE) over hours(ts) must fold")
    assert(hd.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      === Set(("2024-06-01", 24L), ("2024-06-02", 24L)))
    val hy = spark.table(s"$cat.h").groupBy(year($"ts").as("y"))
      .agg(count(lit(1)).as("n"))
    assert(manifestAnswered(hy))
    assert(hy.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq === Seq((2024, 48L)))
  }

  test("DISTINCT over calendar extracts rides the same fold (r15)") {
    // SELECT DISTINCT year(ts), month(ts) is GROUP BY with no
    // aggregates — the month DOMAIN of a months(ts) table, answered
    // from tags with zero files opened
    val (cat, _) = freshCat("dcal")
    (0 until 60).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2025-${1 + i % 6}-10 12:00:00")))
      .toDF("id", "ts")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "months(ts)").create()
    val d = spark.table(s"$cat.t")
      .select(year($"ts").as("y"), month($"ts").as("mo")).distinct()
    assert(manifestAnswered(d),
      "DISTINCT year/month must fold from month tags:\n"
        + d.queryExecution.executedPlan)
    assert(d.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      === (1 to 6).map(m => (2025, m)).toSet)
  }

  test("grouped pushdown folds a days(date) key by its source column") {
    // a days() key over a DATE column: the tag IS the column's
    // epoch-day, so grouping by the source column itself is exact
    val (cat, _) = freshCat("ddate")
    (1 to 40).map(i => (i.toLong,
        java.sql.Date.valueOf(s"2024-02-0${1 + i % 4}")))
      .toDF("id", "d")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(d)").create()
    val q = spark.table(s"$cat.t").groupBy($"d")
      .agg(count(lit(1)).as("cnt"))
    assert(manifestAnswered(q), "GROUP BY the date source of days(date) " +
      "must fold from tags:\n" + q.queryExecution.executedPlan)
    assert(q.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      === Set(("2024-02-01", 10L), ("2024-02-02", 10L),
        ("2024-02-03", 10L), ("2024-02-04", 10L)))
  }

  test("string extrema stay exact under a configured stats-truncation length (r15)") {
    // a session-level parquet.statistics.truncate.length would turn
    // footer string min/max into PARQUET-1685 bounds (min a prefix,
    // max incremented) — valid for pruning, WRONG as a pushed answer.
    // Graft's writers pin truncation off per write (library writeData
    // option + native V2 withExactStats), so the harvested stats stay
    // exact values regardless of the ambient config.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.statistics.truncate.length", "2")
    try {
      val (cat, _) = freshCat("trunc")
      Seq((1L, "zebra-longest"), (2L, "aardvark-long")).toDF("id", "s")
        .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
      val q = spark.table(s"$cat.t").agg(min($"s").as("mn"), max($"s").as("mx"))
      assert(manifestAnswered(q),
        "string extrema must still fold from (exact) footer stats")
      assert(q.collect().map(r => (r.getString(0), r.getString(1))).toSeq
        === Seq(("aardvark-long", "zebra-longest")),
        "a truncated footer stat would surface a value that does not exist")
    } finally hc.unset("parquet.statistics.truncate.length")
  }

  test("pre-r15 raw-unit timestamp stats refuse: no wrong answers, no wrong pruning") {
    // r15 harvests timestamp stats as the DISTINCT TsUs type (manifest
    // tag "ts"); a pre-r15 manifest recorded raw writer-unit longs
    // (tag "l") with no unit marker. Simulate one by rewriting the
    // committed manifest to the legacy tag with MILLIS values: the
    // extremum pushdown must refuse (BatchScan, correct value from the
    // real scan) and a micros-bound range predicate must keep the file
    // rather than compare across units.
    val (cat, wh) = freshCat("tsold")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Seq(1L, 2L).toDF("id")
        .withColumn("ts", expr("timestampadd(DAY, CAST(id AS INT), " +
          "TIMESTAMP '2024-05-01 00:00:00')"))
        .coalesce(1)
        .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // sanity: the fresh manifest answers min/max from the manifest
    val fresh = spark.table(s"$cat.t").agg(min($"ts").as("mn"))
    assert(manifestAnswered(fresh))
    // rewrite the manifest to the legacy shape: tag "l", values /1000
    val logDir = new java.io.File(s"$wh/t/_graft_log")
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach { mf =>
      val raw = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
      val legacy = """"t":"ts","mn":(\d+),"mx":(\d+)""".r
        .replaceAllIn(raw, m => s""""t":"l","mn":${m.group(1).toLong / 1000},"mx":${m.group(2).toLong / 1000}""")
      java.nio.file.Files.write(mf.toPath, legacy.getBytes("UTF-8"))
    }
    // fresh catalog name → fresh snapshot fold over the edited manifest
    val cat2 = cat + "b"
    spark.conf.set(s"spark.sql.catalog.$cat2", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh)
    val mm = spark.table(s"$cat2.t").agg(min($"ts").as("mn"), max($"ts").as("mx"))
    assert(!manifestAnswered(mm),
      "raw-unit (legacy) timestamp stats must refuse the extremum pushdown")
    assert(mm.collect().head.getTimestamp(0).toString.startsWith("2024-05-02"))
    // a micros range bound must not prune against millis stats: the
    // file stays selected and the rows still return
    val n = spark.table(s"$cat2.t")
      .filter($"ts" >= lit("2024-05-02").cast("timestamp")).count()
    assert(n === 2L, "legacy stats must keep the file (conservative), not prune it")
  }

  test("aggregate pushdown opt-out restores the file-scan plan") {
    val (cat, _) = freshCat("opt")
    (1 to 20).map(i => (i.toLong, i)).toDF("id", "x")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    spark.conf.set("spark.graft.aggPushdown.enabled", "false")
    try {
      val q = spark.table(s"$cat.t").agg(count(lit(1)).as("cnt"))
      assert(!manifestAnswered(q))
      assert(q.collect().head.getLong(0) === 20L)
    } finally spark.conf.unset("spark.graft.aggPushdown.enabled")
  }

  test("limit pushdown scans a provably-covering file prefix only") {
    val (cat, _) = freshCat("lim")
    // three single-file commits of 100 rows → three files in commit order
    val df = (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    df.filter($"id" <= 100).coalesce(1).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    df.filter($"id" > 100 && $"id" <= 200).coalesce(1)
      .writeTo(s"$cat.t").append()
    df.filter($"id" > 200).coalesce(1).writeTo(s"$cat.t").append()

    val q = spark.table(s"$cat.t").limit(37)
    assert(q.count() === 37L)
    assert(scannedFiles(q) === 1,
      s"LIMIT 37 over 100-row files needs one file, got ${scannedFiles(q)}")
    val q2 = spark.table(s"$cat.t").limit(150)
    assert(q2.count() === 150L)
    assert(scannedFiles(q2) === 2)
    // an uncoverable limit keeps the full set
    val q3 = spark.table(s"$cat.t").limit(5000)
    assert(q3.count() === 300L)
    assert(scannedFiles(q3) === 3)
    // a filter disables the truncation (residual filters drop rows)
    val q4 = spark.table(s"$cat.t").filter($"id" > 250).limit(10)
    assert(q4.count() === 10L)
  }

  test("limit bound subtracts DV cardinalities (live rows, not raw)") {
    val (cat, wh) = freshCat("ldv")
    val df = (1 to 300).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    df.filter($"id" <= 100).coalesce(1).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    df.filter($"id" > 100 && $"id" <= 200).coalesce(1)
      .writeTo(s"$cat.t").append()
    df.filter($"id" > 200).coalesce(1).writeTo(s"$cat.t").append()
    // mask 20 of the FIRST file's rows behind a DV (under the 0.3
    // maxRatio admission cap, so the delete stays merge-on-read)
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try spark.sql(s"DELETE FROM $cat.t WHERE id <= 20")
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs)

    // first file now yields 80 live rows: LIMIT 90 needs TWO files (a
    // raw-row-count bound would truncate to one and under-fill 80<90)
    val q = spark.table(s"$cat.t").limit(90)
    assert(q.count() === 90L)
    assert(scannedFiles(q) === 2,
      s"DV-adjusted bound needs 2 files, got ${scannedFiles(q)}")
  }

  test("the scan reports manifest-exact row counts to the optimizer") {
    val (cat, wh) = freshCat("stat")
    // repartition spreads the id range over every file, so the delete
    // below touches all files and stays under the DV ratio cap
    (1 to 123).map(i => (i.toLong, i.toString)).toDF("id", "s")
      .repartition(3)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    def scanRowCount(df: DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats.rowCount
      }.head
    assert(scanRowCount(spark.table(s"$cat.t")) === Some(BigInt(123)),
      "CBO must see the manifest-exact cardinality")
    // deletion vectors subtract: the LIVE count is reported
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try spark.sql(s"DELETE FROM $cat.t WHERE id <= 23")
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs)
    assert(scanRowCount(spark.table(s"$cat.t")) === Some(BigInt(100)))
    // a pushed filter makes the file-row total an overestimate: the
    // scan must NOT claim exactness
    assert(scanRowCount(spark.table(s"$cat.t").filter($"id" > 50)).isEmpty)
  }

  test("limit pushdown opt-out keeps the full file set") {
    val (cat, _) = freshCat("lopt")
    val df = (1 to 200).map(i => (i.toLong, i)).toDF("id", "x")
    df.filter($"id" <= 100).coalesce(1).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    df.filter($"id" > 100).coalesce(1).writeTo(s"$cat.t").append()
    spark.conf.set("spark.graft.limitPushdown.enabled", "false")
    try {
      val q = spark.table(s"$cat.t").limit(5)
      assert(q.count() === 5L)
      assert(scannedFiles(q) === 2)
    } finally spark.conf.unset("spark.graft.limitPushdown.enabled")
  }
}
