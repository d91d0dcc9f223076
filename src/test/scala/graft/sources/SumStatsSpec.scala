package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** r16 per-file SUM stats ([[CommitLog.withSumStats]]): exact partial
  * sums ride the manifest's stats channel under reserved pseudo-keys,
  * and `SELECT SUM(col)` / `AVG(col)` fold on the driver with zero
  * data files opened — the last common aggregate that still scanned.
  * Pins the admission boundary: only order-independent-exact types
  * harvest (integrals, decimals — never float/double); a file without
  * a partial refuses the fold unless provably empty or all-null;
  * deletion vectors poison sums like they poison extrema; the config
  * is sticky across instances once any live file carries sums; and
  * checkpoints/rewrites carry the partials for free. */
class SumStatsSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"sums-$tag").toString
    val cat = s"sums$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  private def manifestAnswered(df: DataFrame): Boolean = {
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    nodes.exists(_.isInstanceOf[LocalTableScanExec]) &&
      !nodes.exists(_.isInstanceOf[BatchScanExec])
  }

  test("SUM/AVG fold from the manifest with zero files opened") {
    val (cat, wh) = freshCat("fold")
    spark.range(0, 0).toDF("id")
      .select($"id", lit(0.0d).as("x"),
        expr("CAST(0 AS DECIMAL(10,2))").as("price"),
        lit(0).as("n"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id", "price", "n", "x"))
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .select($"id", ($"id" * 1.5).as("x"),
        expr("CAST(id AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2))")
          .cast("decimal(10,2)").as("price"),
        $"id".cast("int").as("n"))
      .coalesce(1)
    log.append(batch(0L, 100L))
    log.append(batch(100L, 300L))
    val q = spark.table(s"$cat.t").agg(
      sum($"id").as("s_id"), sum($"price").as("s_p"),
      avg($"n").as("a_n"), count(lit(1)).as("cnt"))
    assert(manifestAnswered(q), "SUM/AVG must fold from the manifest:\n"
      + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === (0L until 300L).sum)
    assert(r.getDecimal(1) ===
      (BigDecimal((0L until 300L).sum) + BigDecimal("0.25") * 300)
        .underlying.setScale(2))
    assert(r.getDouble(2) === (0L until 300L).sum.toDouble / 300)
    assert(r.getLong(3) === 300L)
    // a DOUBLE column never harvests — SUM(x) refuses the fold
    val qx = spark.table(s"$cat.t").agg(sum($"x").as("s_x"))
    assert(!manifestAnswered(qx), "double sums are order-dependent: refuse")
    assert(math.abs(qx.collect().head.getDouble(0)
      - (0L until 300L).map(_ * 1.5).sum) < 1e-6)
    // sums survive a checkpoint (the stats channel carries them)
    log.compact(); log.prune()
    val q2 = spark.table(s"$cat.t").agg(sum($"id").as("s_id"))
    assert(manifestAnswered(q2), "sums must ride the checkpoint restatement")
    assert(q2.collect().head.getLong(0) === (0L until 300L).sum)
  }

  test("config is sticky: a fresh instance keeps maintaining sums") {
    val t = Files.createTempDirectory("sums-stick").toString + "/t"
    CommitLog(spark, t).withSumStats(Seq("v"))
      .append(Seq(1L, 2L).toDF("v").coalesce(1))
    // a config-less instance (a later session) appends: sums maintained
    CommitLog(spark, t).append(Seq(10L).toDF("v").coalesce(1))
    val snap = CommitLog(spark, t).snapshot()
    assert(snap.files.forall(f =>
      snap.entry(f).sums.contains("v")),
      "every file must carry the sum partial")
  }

  test("merge.sumstats property: pure catalog writes maintain sums; rename survives") {
    val (cat, wh) = freshCat("prop")
    Seq(1L, 2L).toDF("v").coalesce(1)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true")
      .tableProperty("merge.sumstats", "v").create()
    Seq(10L).toDF("v").coalesce(1).writeTo(s"$cat.t").append()
    val q = spark.table(s"$cat.t").agg(sum($"v").as("s"))
    assert(manifestAnswered(q), "property-configured sums must fold:\n"
      + q.queryExecution.executedPlan)
    assert(q.collect().head.getLong(0) === 13L)
    // a RENAME leaves the property's name stale; the snapshot-derived
    // config keeps maintenance alive under the new name
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    Seq(100L).toDF("w").coalesce(1).writeTo(s"$cat.t").append()
    val q2 = spark.table(s"$cat.t").agg(sum($"w").as("s"))
    assert(manifestAnswered(q2), "sums must survive the rename:\n"
      + q2.queryExecution.executedPlan)
    assert(q2.collect().head.getLong(0) === 113L)
  }

  test("a file without a partial refuses the fold unless empty or all-null") {
    val (cat, wh) = freshCat("abs")
    // file 1 committed WITHOUT sum config
    Seq(1L, 2L).toDF("v").coalesce(1)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("v"))
    log.append(Seq(10L).toDF("v").coalesce(1))
    val q = spark.table(s"$cat.t").agg(sum($"v").as("s"))
    assert(!manifestAnswered(q), "an uncovered file must refuse the fold")
    assert(q.collect().head.getLong(0) === 13L)
    // an ALL-NULL file is coverage-neutral (contributes nothing to SUM)
    val (cat2, wh2) = freshCat("nul")
    spark.range(0, 0).toDF("id").select($"id".as("v"))
      .writeTo(s"$cat2.t").tableProperty("merge.log", "true").create()
    val log2 = CommitLog(spark, s"$wh2/t").withSumStats(Seq("v"))
    log2.append(Seq[java.lang.Long](1L, 2L).toDF("v").coalesce(1))
    log2.append(Seq[java.lang.Long](null, null).toDF("v").coalesce(1))
    val q2 = spark.table(s"$cat2.t").agg(sum($"v").as("s"))
    assert(manifestAnswered(q2), "an all-null file must not refuse")
    assert(q2.collect().head.getLong(0) === 3L)
  }

  test("a LEGACY deletion vector (accounting off) poisons the sum fold") {
    val (cat, wh) = freshCat("dv")
    spark.range(0, 0).toDF("id").writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id"))
    log.append(spark.range(0L, 100L).toDF("id").coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
    try log.delete($"id" === 99L)
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs,
      "the delete must have taken the DV path")
    val q = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(!manifestAnswered(q), "a masked row's value is baked into the partial")
    assert(q.collect().head.getLong(0) === (0L until 99L).sum)
  }

  test("r17: a DV delete commits sum DELTAS — the fold survives row-level DML") {
    val (cat, wh) = freshCat("dvacc")
    spark.range(0, 0).toDF("id")
      .select($"id", expr("CAST(0 AS DECIMAL(10,2))").as("price"),
        lit(0).cast("int").as("n"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id", "price", "n"))
    // n is NULL on multiples of 7 — a masked NULL must not disturb the
    // live non-null count, a masked non-null must decrement it
    log.append(spark.range(0L, 100L).toDF("id")
      .select($"id",
        expr("CAST(id AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2))")
          .cast("decimal(10,2)").as("price"),
        when($"id" % 7 === 0, lit(null)).otherwise($"id").cast("int").as("n"))
      .coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      log.delete($"id" === 99L) // masked non-null n
      log.delete($"id" === 98L) // second DV on the SAME file: accumulation
      log.delete($"id" === 91L) // masked NULL n (91 = 7 * 13)
    } finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val snap = CommitLog(spark, s"$wh/t").snapshot()
    assert(snap.entries.values.iterator.flatMap(_.dvs).size === 3,
      "all three deletes must take the DV path")
    val live = (0L until 98L).filter(_ != 91L)
    val q = spark.table(s"$cat.t").agg(
      sum($"id").as("s_id"), sum($"price").as("s_p"),
      count($"n").as("c_n"), avg($"price").as("a_p"))
    assert(manifestAnswered(q),
      "accounted DVs must keep the fold alive:\n"
        + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === live.sum)
    assert(r.getDecimal(1) ===
      (BigDecimal(live.sum) + BigDecimal("0.25") * live.size)
        .underlying.setScale(2))
    assert(r.getLong(2) === live.count(_ % 7 != 0))
    // bit-exact parity with the real scan for the decimal AVG
    spark.conf.set("spark.graft.aggPushdown.enabled", "false")
    val scanned = try {
      val qs = spark.table(s"$cat.t").agg(avg($"price").as("a_p"))
      assert(!manifestAnswered(qs))
      qs.collect().head.getDecimal(0)
    } finally spark.conf.unset("spark.graft.aggPushdown.enabled")
    assert(r.getDecimal(3) === scanned, "fold AVG must equal the scan bit-for-bit")
    // a LEGACY DV behind the accounted ones re-poisons the fold
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
    try log.delete($"id" === 5L)
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    val q2 = spark.table(s"$cat.t").agg(sum($"id").as("s_id"))
    assert(!manifestAnswered(q2),
      "stale accounting (dv total ≠ accounted total) must refuse")
    assert(q2.collect().head.getLong(0) === live.sum - 5L)
  }

  test("r17: a merge-on-read UPDATE keeps sums exact (mask deltas + fresh partials)") {
    val (cat, wh) = freshCat("dvupd")
    spark.range(0, 0).toDF("id")
      .select($"id", expr("CAST(0 AS DECIMAL(10,2))").as("price"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id", "price"))
    log.append(spark.range(0L, 50L).toDF("id")
      .select($"id", expr("CAST(id AS DECIMAL(10,2))").as("price"))
      .coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.update($"id" >= 48L, Map("price" -> expr("price + 1000")))
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val snap = CommitLog(spark, s"$wh/t").snapshot()
    assert(snap.hasDvs, "the update must take the merge-on-read path")
    val q = spark.table(s"$cat.t").agg(sum($"price").as("s_p"))
    assert(manifestAnswered(q),
      "the masked originals are subtracted, the rewrites carry fresh partials:\n"
        + q.queryExecution.executedPlan)
    assert(q.collect().head.getDecimal(0) ===
      (BigDecimal((0L until 50L).sum) + BigDecimal(2000))
        .underlying.setScale(2))
  }

  test("r17: harvest_sums backfills partials with one read, no rewrite") {
    val (cat, wh) = freshCat("harv")
    // files 1+2 committed with NO sum config — pre-adoption history
    Seq(1L, 2L).toDF("v").coalesce(1)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    Seq(10L, 20L).toDF("v").coalesce(1).writeTo(s"$cat.t").append()
    val log = CommitLog(spark, s"$wh/t")
    val q0 = spark.table(s"$cat.t").agg(sum($"v").as("s"))
    assert(!manifestAnswered(q0), "uncovered files must refuse pre-backfill")
    val filesBefore = log.snapshot().files.toSet
    val (v, n) = log.harvestSums(Seq("v"))
    assert(n === 2, "both uncovered files must harvest")
    assert(log.snapshot().files.toSet === filesBefore, "no file rewritten")
    val q = spark.table(s"$cat.t").agg(sum($"v").as("s"))
    assert(manifestAnswered(q), "the backfilled partials must fold:\n"
      + q.queryExecution.executedPlan)
    assert(q.collect().head.getLong(0) === 33L)
    // idempotent: a second call touches nothing
    assert(log.harvestSums(Seq("v")) === (v, 0))
    // SQL surface: the procedure backfills a fresh uncovered file
    Seq(100L).toDF("v").coalesce(1).writeTo(s"$cat.t").append()
    // (stickiness: the catalog write maintains sums once files carry
    // them, so nothing to harvest — prove the procedure reports 0)
    val r = spark.sql(
      s"CALL $cat.system.harvest_sums(`table` => 't')").collect()(0)
    assert(r.getInt(1) === 0, "sticky maintenance left nothing uncovered")
    assert(spark.table(s"$cat.t").agg(sum($"v")).collect()(0)
      .getLong(0) === 133L)
  }

  test("r17: harvest_sums repairs a LEGACY DV — live sums + current accounting") {
    val (cat, wh) = freshCat("harvdv")
    spark.range(0, 0).toDF("id").writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id"))
    log.append(spark.range(0L, 100L).toDF("id").coalesce(1))
    // a legacy DV (accounting off) poisons the fold…
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
    try log.delete($"id" >= 97L)
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    val q0 = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(!manifestAnswered(q0))
    // …and the backfill repairs it: the masked read yields LIVE sums
    // and stamps the accounting current
    val (_, n) = log.harvestSums()
    assert(n === 1, "the DV'd file must re-harvest")
    val q = spark.table(s"$cat.t").agg(
      sum($"id").as("s"), count($"id").as("c"), avg($"id").as("a"))
    assert(manifestAnswered(q), "post-repair folds must answer:\n"
      + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === (0L until 97L).sum)
    assert(r.getLong(1) === 97L)
    assert(r.getDouble(2) === (0L until 97L).sum.toDouble / 97)
  }

  test("r18: an OVERFLOWED harvest sum stays absent — fold refuses, no zero") {
    // DECIMAL(38,0) has zero accumulator headroom: two near-max rows
    // overflow the non-ANSI sum to NULL. A NULL aggregate WITH live
    // values is the overflow signal, not all-null — the backfill must
    // OMIT the entry (fold keeps refusing), never store a ZERO partial
    // (ADVICE r17 #1).
    val (cat, wh) = freshCat("ovf")
    val big = "9" * 38 // 10^38 - 1, the DECIMAL(38,0) max
    spark.sql(
      s"SELECT CAST('$big' AS DECIMAL(38,0)) AS v UNION ALL " +
      s"SELECT CAST('$big' AS DECIMAL(38,0))").coalesce(1)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t")
    val (v0, n) = log.harvestSums(Seq("v"))
    assert(n === 0, "an unrepresentable sum must not commit a restatement")
    val snap = log.snapshot()
    assert(snap.files.forall(f => !snap.entry(f).sums.contains("v")),
      "the overflowed partial must stay ABSENT, not zero")
    // the refused fold falls back to a real scan — which under ANSI
    // throws the overflow. A silently-stored ZERO partial would have
    // folded 0 from the manifest with no error: the throw IS the proof
    val q = spark.table(s"$cat.t").agg(sum($"v").as("s"))
    val thrown = intercept[Exception] { q.collect() }
    assert(thrown.toString.contains("ARITHMETIC_OVERFLOW"),
      s"the scan must surface the ANSI overflow, got: $thrown")
    // idempotent refusal: a second call commits nothing either
    assert(log.harvestSums(Seq("v"))._2 === 0)
    assert(log.snapshot().version === v0, "no version churn on refusal")
  }

  test("r18: COUNT(col) survives DVs on a SUMS-FREE table — all columns counted") {
    // VERDICT r17 #2: the DV accounting's live non-null counts are no
    // longer bounded to the sum set — the mask collect carries every
    // column's nullness as a packed bitmask (constant width in the
    // column count), so COUNT(col) folds after row-level DML without
    // merge.sumstats. SUM still refuses (no partials were ever
    // harvested) — counting needs nullness only.
    val (cat, wh) = freshCat("nnall")
    spark.range(0, 0).toDF("id")
      .select($"id", $"id".cast("string").as("txt"), $"id".as("b"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    CommitLog(spark, s"$wh/t").append(spark.range(0L, 60L).toDF("id")
      .select($"id",
        when($"id" % 3 === 0, lit(null)).otherwise($"id".cast("string"))
          .as("txt"),
        when($"id" % 5 === 0, lit(null)).otherwise($"id")
          .cast("long").as("b")).coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      CommitLog(spark, s"$wh/t").delete($"id" === 59L) // txt+b non-null
      CommitLog(spark, s"$wh/t").delete($"id" === 55L) // b NULL (accumulates)
    } finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val snap = CommitLog(spark, s"$wh/t").snapshot()
    assert(snap.entries.values.iterator.flatMap(_.dvs).map(_.count).sum === 2L,
      "both deletes must take the DV path")
    val live = (0L until 55L) ++ Seq(56L, 57L, 58L)
    val q = spark.table(s"$cat.t").agg(
      count($"txt").as("c_t"), count($"b").as("c_b"), count(lit(1)).as("c"))
    assert(manifestAnswered(q),
      "COUNT over every column must fold across DVs without sums:\n"
        + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === live.count(_ % 3 != 0))
    assert(r.getLong(1) === live.count(_ % 5 != 0))
    assert(r.getLong(2) === live.size.toLong)
    // no sum partials were ever harvested — SUM keeps refusing
    val qs = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(!manifestAnswered(qs), "counting nullness must not mint sums")
    assert(qs.collect().head.getLong(0) === live.sum)
  }

  test("r18: a column ADDED after a file's DV accounting refuses COUNT until repair") {
    // F1's DV is accounted before column `b` exists: F1 has neither a
    // maintained live count nor pre-mask nulls evidence for `b`, and a
    // later DV must NOT mint one from pre-mask rows−nulls (the prior
    // masked rows' nullness for `b` is unknowable — ADVICE r17 #2's
    // refusal branch). COUNT(b) honestly refuses; harvest_sums re-reads
    // live rows and repairs.
    val (cat, wh) = freshCat("addc")
    spark.range(0, 0).toDF("id").writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    CommitLog(spark, s"$wh/t")
      .append(spark.range(0L, 40L).toDF("id").coalesce(1)) // F1
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      CommitLog(spark, s"$wh/t").delete($"id" === 39L) // DV#1: pre-`b`
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN b BIGINT")
      CommitLog(spark, s"$wh/t").append( // F2 carries b
        spark.range(40L, 80L).toDF("id")
          .select($"id", when($"id" % 5 === 0, lit(null)).otherwise($"id")
            .cast("long").as("b")).coalesce(1))
      // DV#2 touches both files; F1 has prevDv>0 and no evidence for b
      CommitLog(spark, s"$wh/t").delete($"id" === 38L || $"id" === 79L)
    } finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val snap = CommitLog(spark, s"$wh/t").snapshot()
    assert(snap.entries.values.count(_.dvs.nonEmpty) === 2, "both files must carry DVs")
    val f1 = snap.files.find(f =>
      snap.entry(f).dvs.iterator.map(_.count).sum === 2L).get
    assert(!snap.entry(f1).liveNonNull.contains("b"),
      "no live count may be minted without evidence")
    assert(snap.entry(f1).liveNonNull.contains("id"),
      "the evidenced column keeps its live count")
    val live = (0L until 38L) ++ (40L until 79L)
    val qb = spark.table(s"$cat.t").agg(count($"b").as("c"))
    assert(!manifestAnswered(qb), "COUNT(b) must refuse — F1 can't answer")
    assert(qb.collect().head.getLong(0)
      === (40L until 79L).count(_ % 5 != 0))
    val qid = spark.table(s"$cat.t").agg(count($"id").as("c"))
    assert(manifestAnswered(qid), "the evidenced column still folds:\n"
      + qid.queryExecution.executedPlan)
    assert(qid.collect().head.getLong(0) === live.size.toLong)
    // the explicit repair: harvest re-reads live rows, closes the gap
    assert(CommitLog(spark, s"$wh/t").harvestSums(Seq("b"))._2 >= 1)
    val qb2 = spark.table(s"$cat.t").agg(count($"b").as("c"))
    assert(manifestAnswered(qb2), "post-repair COUNT(b) must fold:\n"
      + qb2.queryExecution.executedPlan)
    assert(qb2.collect().head.getLong(0)
      === (40L until 79L).count(_ % 5 != 0))
  }

  test("r18: harvest repairs COUNT for NON-summable columns across a legacy DV") {
    // a string column can never carry a sum partial — but its live
    // non-null count is harvestable, so COUNT(txt) across a legacy DV
    // repairs with a pure count harvest (sums-free table, default call)
    val (cat, wh) = freshCat("cnt")
    spark.range(0, 0).toDF("id")
      .select($"id", $"id".cast("string").as("txt"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t")
    log.append(spark.range(0L, 40L).toDF("id")
      .select($"id", when($"id" % 4 === 0, lit(null))
        .otherwise($"id".cast("string")).as("txt")).coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
    try log.delete($"id" >= 38L) // legacy DV: no accounting at all
    finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    assert(log.snapshot().hasDvs)
    val q0 = spark.table(s"$cat.t").agg(count($"txt").as("c"))
    assert(!manifestAnswered(q0), "the legacy DV must refuse COUNT(txt)")
    val (_, n) = log.harvestSums() // no sum config: pure count repair
    assert(n === 1, "the DV'd file must re-harvest")
    val q = spark.table(s"$cat.t").agg(
      count($"txt").as("c_t"), count($"id").as("c_i"))
    assert(manifestAnswered(q), "post-repair COUNT must fold: "
      + q.queryExecution.executedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === (0L until 38L).count(_ % 4 != 0))
    assert(r.getLong(1) === 38L)
    // no sums were minted — SUM still honestly refuses
    val qs = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(!manifestAnswered(qs), "count repair must not mint sums")
    assert(qs.collect().head.getLong(0) === (0L until 38L).sum)
  }

  test("r18: a columns-SUBSET harvest after a legacy DV sweeps stale entries") {
    // F is accounted for a and b, then a LEGACY DV masks more rows
    // (nothing restated). harvest_sums(Seq("b")) re-harvests ONLY b —
    // stamping the accounting current with a's stale (pre-mask)
    // entries in place would silently certify them: SUM(a) must keep
    // refusing (swept), SUM(b) answers live-exact (review r18).
    val (cat, wh) = freshCat("subs")
    spark.range(0, 0).toDF("id").select($"id".as("a"), ($"id" * 2).as("b"))
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("a", "b"))
    log.append(spark.range(0L, 50L).toDF("id")
      .select($"id".as("a"), ($"id" * 2).as("b")).coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      log.delete($"a" === 49L) // accounted DV: a+b entries live-exact
      spark.conf.set("spark.graft.dv.sumDeltas.enabled", "false")
      log.delete($"a" === 48L) // LEGACY DV: nothing restated
    } finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.sumDeltas.enabled")
    }
    assert(!manifestAnswered(
      spark.table(s"$cat.t").agg(sum($"a").as("s"))), "legacy DV refuses")
    assert(CommitLog(spark, s"$wh/t").harvestSums(Seq("b"))._2 === 1)
    val qb = spark.table(s"$cat.t").agg(sum($"b").as("s"))
    assert(manifestAnswered(qb), "the harvested column answers live-exact:\n"
      + qb.queryExecution.executedPlan)
    assert(qb.collect().head.getLong(0) === (0L until 48L).map(_ * 2).sum)
    // a's stale pre-mask entries were SWEPT, not certified
    val qa = spark.table(s"$cat.t").agg(sum($"a").as("s"))
    assert(!manifestAnswered(qa),
      "an unharvested column must refuse, never certify stale entries")
    assert(qa.collect().head.getLong(0) === (0L until 48L).sum)
    // the complete repair names the swept column (the sweep also
    // removed it from the snapshot-DERIVED sum config — a default
    // call would only restore its live count)
    assert(CommitLog(spark, s"$wh/t").harvestSums(Seq("a", "b"))._2 === 1)
    val qa2 = spark.table(s"$cat.t").agg(sum($"a").as("s"))
    assert(manifestAnswered(qa2))
    assert(qa2.collect().head.getLong(0) === (0L until 48L).sum)
  }

  test("r17: the fold lifecycle — time travel, OPTIMIZE, RESTORE") {
    val (cat, wh) = freshCat("life")
    spark.range(0, 0).toDF("id").writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()          // v0
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id"))
    log.append(spark.range(0L, 50L).toDF("id").coalesce(1)) // v1
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.delete($"id" === 49L)                           // v2: accounted DV
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(CommitLog(spark, s"$wh/t").snapshot().hasDvs)
    val cur = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(manifestAnswered(cur))
    assert(cur.collect().head.getLong(0) === (0L until 49L).sum)
    // TIME TRAVEL folds the OLD version's (pre-delete) sums
    val tt = spark.sql(s"SELECT SUM(id) AS s FROM $cat.t VERSION AS OF 1")
    assert(manifestAnswered(tt), "the pinned snapshot's sums must fold:\n"
      + tt.queryExecution.executedPlan)
    assert(tt.collect().head.getLong(0) === (0L until 50L).sum)
    // OPTIMIZE retires the DV and re-harvests fresh partials
    log.optimize(1)                                         // v3
    assert(!CommitLog(spark, s"$wh/t").snapshot().hasDvs)
    val qo = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(manifestAnswered(qo))
    assert(qo.collect().head.getLong(0) === (0L until 49L).sum)
    // RESTORE's restatement carries the pre-delete sums verbatim
    log.restore(1L)                                         // v4
    val qr = spark.table(s"$cat.t").agg(sum($"id").as("s"))
    assert(manifestAnswered(qr))
    assert(qr.collect().head.getLong(0) === (0L until 50L).sum)
  }

  test("grouped sums fold per partition key") {
    val (cat, _) = freshCat("grp")
    val df = spark.range(0L, 120L).toDF("id")
      .select($"id", (($"id" % 3).cast("string")).as("g"))
    df.limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "g").create()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val log = CommitLog(spark, s"$wh/t").withSumStats(Seq("id"))
    log.appendPartitioned(df.filter($"g" === "0"), "g")
    log.appendPartitioned(df.filter($"g" =!= "0"), "g")
    val dbg = CommitLog(spark, s"$wh/t").snapshot()
    val q = spark.table(s"$cat.t").groupBy($"g")
      .agg(sum($"id").as("s"), count(lit(1)).as("n")).orderBy($"g")
    assert(manifestAnswered(q), "grouped sums must fold:\n"
      + dbg.files.map(dbg.entry).mkString("\n")
      + "\n" + q.queryExecution.executedPlan)
    val rows = q.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("0", "1", "2"))
    assert(rows.map(_.getLong(1)).toSeq ===
      Seq(0L, 1L, 2L).map(m => (0L until 120L).filter(_ % 3 == m).sum))
    // a partition-EXACT filter keeps the fold sound over the selected
    // files — SUM under WHERE part = x answers from the manifest too
    val qf = spark.table(s"$cat.t").filter($"g" === "1")
      .agg(sum($"id").as("s"))
    assert(manifestAnswered(qf), "partition-exact filtered SUM must fold:\n"
      + qf.queryExecution.executedPlan)
    assert(qf.collect().head.getLong(0)
      === (0L until 120L).filter(_ % 3 == 1).sum)
  }
}
