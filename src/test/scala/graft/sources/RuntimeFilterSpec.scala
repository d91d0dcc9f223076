package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.catalyst.expressions.Literal

/** The runtime (dynamic) file-pruning surface of commit-log V2 scans —
  * [[GraftLogScanBuilder.GraftScan]]'s `SupportsRuntimeV2Filtering`
  * side and its manifest judge [[CommitLog.candidateFilesForInValues]].
  * In the reference the per-key seek is DynamoDB's partition/sort key
  * (`/root/reference/index.js:305-314`); here the manifest layers
  * (partition tags, footer min/max, blooms) replace it at file
  * granularity, and Spark's dynamic-partition-pruning planner delivers
  * the join side's key values at execution time. This suite pins:
  * the r12 regression (advertised filter attributes must be limited to
  * the PRUNED scan output or any join over a column-pruned scan
  * throws), the end-to-end DPP file-skip with its metric, the
  * manifest judge's exact/conservative/null semantics, the opt-out
  * flag, and scan-reuse equality on self-joins. */
class RuntimeFilterSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): (String, String) = {
    // no "graft-rt" in the path: tests string-match scan descriptions
    val wh = Files.createTempDirectory(s"gwh-$tag").toString
    val cat = s"grt$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Every physical node, descending through AQE stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  private def rtMetric(df: org.apache.spark.sql.DataFrame, name: String): Long =
    allNodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b.metrics.get(name).map(_.value).getOrElse(0L)
    }.sum

  test("r12 regression: a join over a column-pruned commit-log scan plans") {
    val (cat, _) = freshCat("prune")
    // every column gets footer stats, so pre-fix the scan advertised
    // id/qty as filterable even when the query pruned them away —
    // PartitionPruning then threw resolving them against [flag, price]
    Seq((1L, "A", 10.0, 1.0), (2L, "B", 20.0, 2.0), (3L, "A", 30.0, 3.0))
      .toDF("id", "flag", "price", "qty")
      .writeTo(s"$cat.fact").tableProperty("merge.log", "true").create()
    val dim = Seq(("A", "keep"), ("B", "drop")).toDF("flag", "verdict")
    val q = spark.table(s"$cat.fact").select($"flag", $"price")
      .join(dim.filter($"verdict" === "keep"), "flag")
      .groupBy($"flag").agg(sum($"price").as("s"))
    assert(q.as[(String, Double)].collect().toSet === Set(("A", 40.0)))
  }

  test("DPP prunes data files via partition tags and reports the metric") {
    val (cat, _) = freshCat("dpp")
    // three tags → three files via the partitioned write path
    Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0), (4L, "A", 40.0))
      .toDF("id", "flag", "price")
      .writeTo(s"$cat.fact").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag").create()
    // the dim must be a REAL source (a local relation folds the filter
    // into its rows and DPP sees no selective predicate), and the
    // filter must be on a NON-join-key column (a join-key filter would
    // be inferred onto the fact side statically)
    Seq(("A", "keep"), ("B", "drop"), ("C", "drop")).toDF("flag", "verdict")
      .writeTo(s"$cat.dim").tableProperty("merge.log", "true").create()
    val q = spark.table(s"$cat.fact")
      .join(broadcast(spark.table(s"$cat.dim").filter($"verdict" === "keep")),
        "flag")
      .groupBy($"flag").agg(sum($"price").as("s"))
    // collect() on q itself: the metric lives on THIS QueryExecution
    assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      === Set(("A", 50.0)))
    val pruned = rtMetric(q, "graftRtFilesPruned")
    val kept = rtMetric(q, "graftRtFilesKept")
    assert(pruned === 2L,
      s"DPP should drop the B and C files (pruned=$pruned kept=$kept):\n" +
        q.queryExecution.executedPlan)
    // kept sums over BOTH commit-log scans: fact keeps its A file,
    // the (never runtime-filtered) dim keeps its single file
    assert(kept === 2L)
  }

  test("runtime filtering can be opted out per session") {
    val (cat, _) = freshCat("off")
    Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("id", "flag", "price")
      .writeTo(s"$cat.fact").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "flag").create()
    spark.conf.set("spark.graft.runtimeFiltering.enabled", "false")
    try {
      val dim = Seq(("A", 1)).toDF("flag", "k")
      val q = spark.table(s"$cat.fact").join(broadcast(dim), "flag")
      assert(!q.queryExecution.executedPlan.toString.contains("graft-rt"),
        "the scan must not advertise runtime filtering when opted out")
      assert(q.select($"id").as[Long].collect().toSet === Set(1L))
    } finally spark.conf.unset("spark.graft.runtimeFiltering.enabled")
  }

  test("candidateFilesForInValues: tags exact, stats ranged, blooms probed") {
    val root = Files.createTempDirectory("graft-rt-judge").toString + "/t"
    val log = CommitLog(spark, root).withBloomIndex(Seq("v"))
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    log.append(Seq((100L, "c"), (101L, "d")).toDF("id", "v").coalesce(1))
    log.append(Seq((200L, "e")).toDF("id", "v").coalesce(1))
    val s = log.snapshot()
    assert(s.files.size === 3)
    def fileOfMin(lo: Long): String = s.files.find(f =>
      s.entry(f).colStats("id")._1 == lo).get

    // stats: IN (100, 150) admits only the [100,101] file (150 hits
    // no range), regardless of input order
    val byStats = log.candidateFilesForInValues(s, s.files, "id",
      Seq(Literal(100L), Literal(150L)), partKey = None)
    assert(byStats === Seq(fileOfMin(100L)))

    // blooms: IN ('c') keeps the file holding c; the bloom rules the
    // disjoint files out even though string stats would also do it —
    // probe an id-range-overlapping value to isolate the bloom layer
    val byBloom = log.candidateFilesForInValues(s, s.files, "v",
      Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString("c"),
        org.apache.spark.sql.types.StringType)), partKey = None)
    assert(byBloom === Seq(fileOfMin(100L)))

    // partition tags: exact string match on the tag
    val rootP = Files.createTempDirectory("graft-rt-tags").toString + "/t"
    val logP = CommitLog(spark, rootP)
    logP.appendPartitioned(
      Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("id", "flag"), "flag")
    val sp = logP.snapshot()
    assert(sp.files.size === 3)
    val byTag = logP.candidateFilesForInValues(sp, sp.files, "flag",
      Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString("B"),
        org.apache.spark.sql.types.StringType)), partKey = Some((PartSpec.parse("flag"), 0)))
    assert(byTag.map(sp.entry(_).partTag.get) === Seq("B"))
  }

  test("candidateFilesForInValues: stats-less files survive; nulls match nothing") {
    val root = Files.createTempDirectory("graft-rt-cons").toString + "/t"
    val log = CommitLog(spark, root)
    log.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))           // no `extra`
    // evolve by APPEND (never rewrites the first file) so the pre-
    // evolution file deterministically lacks `extra` stats — an upsert
    // rewrite's file split is a layout accident the write-side
    // rebalance (r19) is free to change
    log.append(Seq((100L, "b", 5.0)).toDF("id", "v", "extra").coalesce(1))
    val s = log.snapshot()
    val old = s.files.find(f => !s.entry(f).colStats.contains("extra")).get
    val young = s.files.find(f => s.entry(f).colStats.contains("extra")).get

    // a file with no stats for the probed column cannot be ruled out
    val kept = log.candidateFilesForInValues(s, s.files, "extra",
      Seq(Literal(999.0)), partKey = None)
    assert(kept.toSet === Set(old), // young's stats exclude 999.0
      "stats-less files must be kept conservatively")

    // a join key never equals null: an all-null IN-set keeps nothing,
    // and a null inside a set contributes nothing
    val nullOnly = log.candidateFilesForInValues(s, s.files, "extra",
      Seq(Literal(null, org.apache.spark.sql.types.DoubleType)),
      partKey = None)
    assert(nullOnly.isEmpty)
    val mixed = log.candidateFilesForInValues(s, s.files, "extra",
      Seq(Literal(null, org.apache.spark.sql.types.DoubleType), Literal(5.0)),
      partKey = None)
    assert(mixed.toSet === Set(old, young))
  }

  test("scan equality: a self-join of one catalog table reuses the exchange") {
    val (cat, _) = freshCat("reuse")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()

    // unit level: two independently planned scans of the same snapshot
    // must be EQUAL (RtInfo's pruning closure sits outside equality) —
    // this is what ReuseExchange/ReuseSubquery key on
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head
    val s1 = scanOf(spark.table(s"$cat.t"))
    val s2 = scanOf(spark.table(s"$cat.t"))
    assert(s1 === s2, "identical commit-log scans must compare equal")
    assert(s1.hashCode === s2.hashCode)

    // plan level: identical aggregate subtrees over the scan dedup to
    // one exchange (the second side reuses the first's shuffle)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g = spark.table(s"$cat.t").groupBy($"id").agg(sum($"x").as("s"))
      val j = g.as("a").join(g.as("b"), "id")
        .select($"id", ($"a.s" + $"b.s").as("ss"))
      // collect() on j itself so the inspected plan is the executed one
      assert(j.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        === Set((1L, 20.0), (2L, 40.0), (3L, 60.0)))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
          || plan.contains("reused"),
        s"self-join subtrees must reuse the scan's exchange:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }
}
