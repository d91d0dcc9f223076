package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

/** The r13 partition-SPEC generalization ([[PartSpec]]): composite
  * (multi-column) and `days(ts)`-transform manifest partition keys,
  * their tag encoding, and the storage-partitioned-join /
  * runtime-pruning surfaces they feed. The reference's layout unit is
  * DynamoDB's single partition key (`/root/reference/index.js:305`);
  * at 100 TB the co-location unit a join wants is "(tenant, day)", so
  * the manifest spec must carry both shapes without changing the
  * one-string-tag manifest model. */
class PartSpecSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): String = {
    val wh = Files.createTempDirectory(s"gps-$tag").toString
    val cat = s"gps$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  private def withSpj[A](f: => A): A = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.spj.preserveDataGrouping", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.graft.spj.preserveDataGrouping", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))

  test("parse/render: identity, composite, days, refusals") {
    assert(PartSpec.parse("a").render === "a")
    assert(PartSpec.parse(" a , b ").render === "a,b")
    assert(PartSpec.parse("days(ts)").render === "days(ts)")
    assert(PartSpec.parse("a, DAYS( ts )").render === "a,days(ts)")
    assert(PartSpec.parse("a").isSingleIdentity)
    assert(!PartSpec.parse("a,b").isSingleIdentity)
    assert(!PartSpec.parse("days(a)").isSingleIdentity)
    intercept[IllegalArgumentException](PartSpec.parse("shard(4, a)"))
    intercept[IllegalArgumentException](PartSpec.parse("a,a"))
    intercept[IllegalArgumentException](PartSpec.parse(""))
  }

  test("tag encoding: single identity stays the raw pre-r13 format") {
    val df = Seq(("x/y%z", 1)).toDF("k", "v")
    val tag = df.select(PartSpec.parse("k").tagExpr(df)).as[String].head()
    assert(tag === "x/y%z") // no escaping on the historical shape
    assert(PartSpec.parse("k").decode(tag) === Seq("x/y%z"))
  }

  test("tag encoding: composite round-trips slashes, percents, empties") {
    val spec = PartSpec.parse("a,b")
    val rows = Seq(("x/y", "p%q"), ("", "/"), ("%2F", "a"))
    val df = rows.toDF("a", "b")
    val tags = df.select(PartSpec.parse("a,b").tagExpr(df)).as[String].collect()
    rows.zip(tags).foreach { case ((a, b), tag) =>
      assert(spec.decode(tag) === Seq(a, b), s"tag '$tag'")
    }
    assert(tags.distinct.length === rows.length)
  }

  test("days component: expression, literal judge, and the V2 function agree") {
    val ts = java.sql.Timestamp.valueOf("2024-03-05 23:59:59.999")
    val pre = java.sql.Timestamp.valueOf("1969-12-31 23:00:00") // negative micros
    val df = Seq(ts, pre).toDF("ts")
    val spec = PartSpec.parse("days(ts)")
    val tags = df.select(spec.tagExpr(df)).as[String].collect()
    val micros = df.select(unix_micros($"ts")).as[Long].collect()
    tags.zip(micros).foreach { case (tag, m) =>
      val expect = Math.floorDiv(m, 86400000000L)
      assert(tag === expect.toString)
      // the literal judge (runtime pruning) matches the write path
      assert(spec.componentOfLiteral(0, Literal(m, TimestampType))
        === Some(expect.toString))
      // the V2 ScalarFunction (SPJ resolution) matches too
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](m))
      assert(GraftFunctions.DaysOfTimestamp.produceResult(row).intValue
        === expect.toInt)
    }
    // date input: component is the epoch-day int
    val d = java.sql.Date.valueOf("2024-03-05")
    val ddf = Seq(d).toDF("d")
    val dspec = PartSpec.parse("days(d)")
    val dtag = ddf.select(dspec.tagExpr(ddf)).as[String].head()
    assert(dtag === d.toLocalDate.toEpochDay.toString)
    assert(dspec.componentOfLiteral(0,
        Literal(d.toLocalDate.toEpochDay.toInt, DateType))
      === Some(d.toLocalDate.toEpochDay.toString))
  }

  test("composite keys: write tags, scoped merge, SPJ join with zero exchange") {
    val cat = freshCat("comp")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("long").as("qty"))
    li.writeTo(s"$cat.fact")
      .partitionedBy($"l_returnflag", $"l_linestatus").create()
    val dim = li.groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"))
    dim.writeTo(s"$cat.dim")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "l_returnflag,l_linestatus").create()
    // the manifest carries composite tags decodable back to both values
    val spec = PartSpec.parse("l_returnflag,l_linestatus")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val snap = CommitLog(spark, s"$root/fact").snapshot()
    assert(snap.tagged)
    val decoded = snap.entries.values.flatMap(_.partTag).toSet.map((t: String) => spec.decode(t))
    assert(decoded === Set(Seq("A", "F"), Seq("A", "O"), Seq("N", "F"),
      Seq("N", "O"), Seq("R", "F"), Seq("R", "O")))
    withSpj {
      val q = spark.table(s"$cat.fact")
        .join(spark.table(s"$cat.dim"), Seq("l_returnflag", "l_linestatus"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"qty").as("sq"), max($"n").as("n"))
      val rows = q.collect()
      assert(rows.length === 6)
      assert(exchanges(q) === 0,
        s"composite SPJ planned a shuffle:\n${q.queryExecution.executedPlan}")
      // values match a plain (non-SPJ) recompute
      val plain = li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"qty").as("sq"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      rows.foreach { r =>
        assert((r.getLong(2), r.getLong(3))
          === plain((r.getString(0), r.getString(1))))
      }
    }
  }

  test("days(ts) keys: PARTITIONED BY days(), SPJ join with zero exchange") {
    val cat = freshCat("days")
    val ev = Tables(spark, sfDir, "events")
      .withColumn("day_ts", date_trunc("DAY", col("ts")))
      .select($"day_ts", $"user_id", $"value")
    ev.writeTo(s"$cat.fact").partitionedBy(days($"day_ts")).create()
    ev.groupBy($"day_ts").agg(count(lit(1)).as("n_ev"))
      .writeTo(s"$cat.dim").partitionedBy(days($"day_ts")).create()
    // props round-tripped the transform spec
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.fact")
      .filter($"key" === "merge.partcol").select("value").as[String].head()
      === "days(day_ts)")
    withSpj {
      val q = spark.table(s"$cat.fact")
        .join(spark.table(s"$cat.dim"), "day_ts")
        .groupBy($"day_ts")
        .agg(sum($"value").as("sv"), max($"n_ev").as("n_ev"))
      val rows = q.collect()
      assert(rows.nonEmpty)
      assert(exchanges(q) === 0,
        s"days-transform SPJ planned a shuffle:\n${q.queryExecution.executedPlan}")
      val plain = ev.groupBy($"day_ts")
        .agg(sum($"value").as("sv"), count(lit(1)).as("n_ev"))
        .collect().map(r => r.getTimestamp(0) -> (r.getDouble(1), r.getLong(2))).toMap
      rows.foreach { r =>
        val (sv, n) = plain(r.getTimestamp(0))
        assert(math.abs(r.getDouble(1) - sv) < 1e-6 && r.getLong(2) === n)
      }
    }
  }

  test("partially-clustered distribution: skewed co-partitioned join stays shuffle-free") {
    val cat = freshCat("pcd")
    // fact skew: one hot key with many rows and files, dim uniform
    val hot = (1 to 4000).map(i => ("hot", i.toLong))
    val cold = (1 to 40).flatMap(i => Seq(("c1", i.toLong), ("c2", i.toLong)))
    (hot ++ cold).toDF("k", "v")
      .writeTo(s"$cat.fact").partitionedBy($"k").create()
    (1 to 200).map(i => ("hot", i.toLong)).toDF("k", "w")
      .union(Seq(("c1", 1L), ("c2", 2L)).toDF("k", "w"))
      .writeTo(s"$cat.dim").partitionedBy($"k").create()
    val prevP = spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    spark.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
    try withSpj {
      val q = spark.table(s"$cat.fact").join(spark.table(s"$cat.dim"), "k")
        .groupBy($"k").agg(count(lit(1)).as("n"))
      val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("hot" -> 4000L * 200, "c1" -> 40L, "c2" -> 40L))
      // the JOIN must be exchange-free (both inputs arrive grouped;
      // partial clustering may REPLICATE one side's groups, which is
      // why the post-join aggregation legitimately re-shuffles — only
      // the join subtree is asserted)
      val plan = q.queryExecution.executedPlan.toString
      val joinAt = plan.linesIterator.indexWhere(_.contains("SortMergeJoin"))
      assert(joinAt >= 0, s"no SMJ in:\n$plan")
      val below = plan.linesIterator.toSeq.drop(joinAt + 1)
        .takeWhile(!_.contains("== Initial Plan =="))
      assert(!below.exists(_.contains("Exchange")),
        s"partially-clustered SPJ shuffled a join input:\n$plan")
    } finally {
      prevP.fold(spark.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"))(
        v => spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v))
    }
  }

  test("composite spec: scoped upsert touches only the written partitions") {
    val cat = freshCat("merge")
    Seq(("A", "F", 1L, 10L), ("A", "O", 2L, 20L), ("R", "F", 3L, 30L))
      .toDF("f", "s", "id", "x")
      .writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.keys", "f,s,id")
      .tableProperty("merge.mode", "last-wins")
      .tableProperty("merge.partcol", "f,s").create()
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val log = CommitLog(spark, s"$root/t")
    val before = log.snapshot()
    Seq(("A", "F", 1L, 11L), ("A", "F", 9L, 99L)).toDF("f", "s", "id", "x")
      .writeTo(s"$cat.t").append()
    val after = log.snapshot()
    // only the (A,F) partition's files were retired; others survive as-is
    val spec = PartSpec.parse("f,s")
    val untouched = before.files.filter(f =>
      spec.decode(before.entry(f).partTag.get) != Seq("A", "F"))
    assert(untouched.forall(after.files.contains))
    assert(spark.table(s"$cat.t").orderBy("f", "s", "id")
      .as[(String, String, Long, Long)].collect().toSeq
      === Seq(("A", "F", 1L, 11L), ("A", "F", 9L, 99L),
        ("A", "O", 2L, 20L), ("R", "F", 3L, 30L)))
    // a merge key set NOT covering every spec source column is refused
    val e = intercept[Exception](
      log.upsertPartitioned(Seq(("A", "F", 1L, 12L)).toDF("f", "s", "id", "x"),
        keys = Seq("id"), CommitLog.LastWins, partCol = "f,s"))
    assert(e.getMessage.contains("partition key source column"))
  }

  test("r15 transforms parse/render: hours, months, years, bucket, truncate") {
    assert(PartSpec.parse("hours(ts)").render === "hours(ts)")
    assert(PartSpec.parse("months(d)").render === "months(d)")
    assert(PartSpec.parse("years(d)").render === "years(d)")
    assert(PartSpec.parse("bucket(16, id)").render === "bucket(16,id)")
    assert(PartSpec.parse("truncate(3, s)").render === "truncate(3,s)")
    // bucket's interior comma survives the spec-level comma split
    assert(PartSpec.parse("bucket(4,id),days(ts)").render === "bucket(4,id),days(ts)")
    intercept[IllegalArgumentException](PartSpec.parse("bucket(0,id)"))
    intercept[IllegalArgumentException](PartSpec.parse("shard(4,id)"))
  }

  test("r15 transforms: expression tags and the literal judge agree bit-exactly") {
    // the invariant runtime pruning rests on: the tag a WRITE derives
    // (expression path) equals the component an arriving LITERAL
    // derives (componentOfLiteral) for the same value
    val df = Seq(
      (1L, "2024-03-05 07:45:10", "alphabet", 17L),
      (2L, "1969-12-31 22:10:00", "ab", -7L),
      (3L, "2031-11-30 23:59:59", "x/y%z", 1000L))
      .toDF("id", "tss", "s", "v")
      .withColumn("ts", col("tss").cast("timestamp"))
      .withColumn("d", col("ts").cast("date"))
    val specs = Seq("hours(ts)", "months(ts)", "months(d)", "years(d)",
      "bucket(7,s)", "bucket(5,id)", "truncate(3,s)", "truncate(10,v)")
    specs.foreach { sp =>
      val spec = PartSpec.parse(sp)
      val colName = spec.keys.head.column
      val rows = df.select(col(colName), spec.tagExpr(df).as("tag")).collect()
      rows.foreach { r =>
        val lit = r.get(0) match {
          case ts: java.sql.Timestamp =>
            Literal(ts.getTime * 1000L + (ts.getNanos / 1000) % 1000, TimestampType)
          case d: java.sql.Date => Literal(d.toLocalDate.toEpochDay.toInt, DateType)
          case s: String =>
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType)
          case l: java.lang.Long => Literal(l.longValue, LongType)
        }
        assert(spec.componentOfLiteral(0, lit)
            === Some(spec.decode(r.getString(1)).head),
          s"$sp disagrees for value ${r.get(0)}")
      }
    }
  }

  test("r15 bucket keys: tagged writes, runtime pruning, scoped merge") {
    val cat = freshCat("bkt")
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "bucket(4,id)").create()
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val log = CommitLog(spark, s"$root/t")
    val s0 = log.snapshot()
    assert(s0.files.forall(s0.entry(_).partTag.isDefined), "all-tagged invariant")
    assert(s0.files.map(s0.entry(_).partTag.get).toSet.subsetOf(Set("0", "1", "2", "3")))
    assert(spark.table(s"$cat.t").count() === 40L)
    // runtime pruning: an id IN-probe keeps only its bucket's files
    val spec = PartSpec.parse("bucket(4,id)")
    val probe = Literal(11L, LongType)
    val want = spec.componentOfLiteral(0, probe).get
    val kept = log.candidateFilesForInValues(s0, s0.files, "id",
      Seq(probe), partKey = Some((spec, 0)))
    assert(kept.nonEmpty && kept.forall(f => s0.entry(f).partTag.get == want),
      s"bucket probe must keep only bucket $want")
    // partition-scoped merge touches only the written buckets
    log.upsertPartitioned(Seq((11L, "UPD")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins, "bucket(4,id)")
    assert(spark.table(s"$cat.t").filter(col("id") === 11L)
      .select(col("v")).collect().map(_.getString(0)).toSeq === Seq("UPD"))
    assert(spark.table(s"$cat.t").count() === 40L)
  }

  test("r15 bucket keys: co-partitioned join plans a storage-partitioned join, zero exchange") {
    val cat = freshCat("bspj")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
    li.writeTo(s"$cat.fact")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "bucket(8,l_orderkey)").create()
    li.groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      .writeTo(s"$cat.dim")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "bucket(8,l_orderkey)").create()
    withSpj {
      val q = spark.table(s"$cat.fact")
        .join(spark.table(s"$cat.dim"), "l_orderkey")
        .groupBy($"l_orderkey")
        .agg(sum($"qty").as("sq"), max($"n").as("n"))
      val rows = q.collect()
      assert(rows.nonEmpty)
      assert(exchanges(q) === 0,
        s"bucket SPJ planned a shuffle:\n${q.queryExecution.executedPlan}")
      val plain = li.groupBy($"l_orderkey")
        .agg(sum($"qty").as("sq"), count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      rows.foreach(r =>
        assert((r.getLong(1), r.getLong(2)) === plain(r.getLong(0))))
    }
  }

  test("runtime pruning judges one component of a composite tag") {
    val cat = freshCat("rtc")
    Seq(("A", "F", 1L), ("A", "O", 2L), ("R", "F", 3L), ("R", "O", 4L))
      .toDF("f", "s", "v")
      .writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "f,s").create()
    val root = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val log = CommitLog(spark, s"$root/t")
    val s0 = log.snapshot()
    val spec = PartSpec.parse("f,s")
    // IN-set on the FIRST component: keeps exactly the f=R files
    val keptF = log.candidateFilesForInValues(s0, s0.files, "f",
      Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString("R"),
        StringType)), partKey = Some((spec, 0)))
    assert(keptF.nonEmpty
      && keptF.forall(f => spec.decode(s0.entry(f).partTag.get).head == "R")
      && s0.files.filter(f => spec.decode(s0.entry(f).partTag.get).head == "R")
        .forall(keptF.contains))
    // IN-set on the SECOND component: keeps exactly the s=O files
    val keptS = log.candidateFilesForInValues(s0, s0.files, "s",
      Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString("O"),
        StringType)), partKey = Some((spec, 1)))
    assert(keptS.nonEmpty
      && keptS.forall(f => spec.decode(s0.entry(f).partTag.get)(1) == "O")
      && s0.files.filter(f => spec.decode(s0.entry(f).partTag.get)(1) == "O")
        .forall(keptS.contains))
  }
}
