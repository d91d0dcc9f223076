package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Merge-on-read DELETION VECTORS (r13): a small-predicate DELETE on a
  * commit-log table masks row positions behind a parquet sidecar
  * (`add_dv` manifest action) instead of rewriting data files — the
  * rewrite-amplification fix for frequent small DML at 100 TB
  * (Delta/Iceberg's DV design; the reference's DynamoDB delete is
  * row-granular by nature, `/root/reference/index.js:249`). This suite
  * pins: the mask commit (no data-file rewrite), both read paths
  * (library + V2 catalog SQL with residual filters), accumulation,
  * policy fallback to copy-on-write, DV retirement on rewrite/update/
  * OPTIMIZE, CDC delete emission, time travel, restore, clone carry,
  * and vacuum's sidecar lifecycle. */
class DvSpec extends graft.SparkSpecBase
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  // the admission floor (256 MB default) exists exactly so
  // bench-scale tables stay copy-on-write; this suite tests the DV
  // machinery itself, so it lifts the floor and restores it after
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.dv.minTouchedBytes")
    super.afterAll()
  }

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"gdv-$tag").toString + "/t"

  /** A 3-file table, 10 rows per file (id ranges 0-9, 100-109,
    * 200-209) — deep enough that a 1-2 row delete passes the ratio
    * policy. */
  private def threeFiles(root: String): CommitLog = {
    val log = CommitLog(spark, root)
    def block(base: Long) =
      (0 until 10).map(i => (base + i, s"v${base + i}", (base + i) * 1.5))
        .toDF("id", "v", "x").coalesce(1)
    log.append(block(0L)); log.append(block(100L)); log.append(block(200L))
    log
  }

  test("small delete masks rows: add_dv commit, zero data-file rewrite") {
    val root = tmpRoot("mask")
    val log = threeFiles(root)
    val before = log.snapshot()
    assert(log.delete($"id" === 105L) === 3L)
    val after = log.snapshot()
    assert(after.files === before.files, "a DV delete must not touch data files")
    assert(after.entries.values.count(_.dvs.nonEmpty) === 1 &&
      after.entries.values.map(_.dvs).filter(_.nonEmpty).head.map(_.count) === Seq(1L))
    assert(log.read().count() === 29L)
    assert(!log.read().filter($"id" === 105L).isEmpty === false)
    // the masked row is gone but its file-mates survive
    assert(log.read().filter($"id" >= 100L && $"id" <= 109L).count() === 9L)
    // time travel before the delete still sees the row
    assert(log.readVersion(2L).filter($"id" === 105L).count() === 1L)
  }

  test("DV deletes accumulate per file and across files") {
    val root = tmpRoot("accum")
    val log = threeFiles(root)
    log.delete($"id" === 105L)
    log.delete($"id" === 107L || $"id" === 3L) // same file again + another
    val s = log.snapshot()
    assert(s.files.size === 3 && s.entries.values.count(_.dvs.nonEmpty) === 2)
    val f100 = s.files.find(f => s.entry(f).colStats("id")._1 == 100L).get
    assert(s.entry(f100).dvs.map(_.count).sum === 2L)
    assert(log.read().count() === 27L)
    assert(log.read().filter($"id".isin(3L, 105L, 107L)).isEmpty)
    // a re-delete of already-masked rows commits nothing
    val v = log.snapshot().version
    assert(log.delete($"id" === 105L) === v)
  }

  test("policy: a delete past the ratio cap falls back to copy-on-write") {
    val root = tmpRoot("ratio")
    val log = threeFiles(root)
    val before = log.snapshot().files.toSet
    log.delete($"id" >= 100L && $"id" <= 108L) // 9 of the file's 10 rows
    val s = log.snapshot()
    assert((before -- s.files.toSet).size === 1, "the hot file must be rewritten")
    assert(!s.hasDvs)
    assert(log.read().count() === 21L)
    // conf opt-out: even a tiny delete rewrites
    spark.conf.set("spark.graft.dv.enabled", "false")
    try {
      val filesBefore = log.snapshot().files.toSet
      log.delete($"id" === 3L)
      assert(!log.snapshot().hasDvs
        && (filesBefore -- log.snapshot().files.toSet).size === 1)
    } finally spark.conf.unset("spark.graft.dv.enabled")
  }

  test("V2 catalog reads mask DVs; residual filters still apply") {
    val wh = Files.createTempDirectory("gdv-cat").toString
    spark.conf.set("spark.sql.catalog.gdvc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvc.warehouse", wh)
    (0 until 30).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("id", "v", "x")
      .repartition(3)
      .writeTo("gdvc.t").tableProperty("merge.log", "true").create()
    val log = CommitLog(spark, s"$wh/t")
    log.delete($"id" === 7L || $"id" === 21L)
    assert(log.snapshot().hasDvs, "small delete must take the DV path")
    // DESCRIBE DETAIL surfaces the mask state
    val d = spark.sql("CALL gdvc.system.detail(`table` => 't')").head()
    assert(d.getAs[Long]("num_deletion_vectors") >= 1L
      && d.getAs[Long]("num_masked_rows") === 2L)
    assert(d.getAs[Long]("num_rows") === 28L,
      "detail must report the manifest-exact LIVE row count")
    // full SQL read masks
    assert(spark.sql("SELECT count(*) FROM gdvc.t").as[Long].head() === 28L)
    // filtered read: parquet pushdown is off on DV'd scans, Spark's
    // residual filter does the work — values must be exact
    val q = spark.table("gdvc.t").filter($"id" >= 5L && $"id" <= 22L)
    assert(q.select(sum($"id")).as[Long].head()
      === (5L to 22L).filterNot(i => i == 7L || i == 21L).sum)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft-dv("), s"scan did not report the DV mask:\n$plan")
    assert(plan.contains("Filter"), "residual filter must evaluate above the scan")
    // joins over DV'd scans stay correct (position masking per file)
    val j = spark.table("gdvc.t").as("a")
      .join(spark.table("gdvc.t").as("b"), "id")
      .agg(count(lit(1)))
    assert(j.as[Long].head() === 28L)
  }

  test("merge-on-read UPDATE: one add_dv commit masks old rows and adopts new files") {
    val root = tmpRoot("moru")
    val log = threeFiles(root)
    val before = log.snapshot()
    log.update($"id" === 104L || $"id" === 2L, Map("v" -> lit("patched")))
    val s = log.snapshot()
    assert(s.version === before.version + 1, "MoR update must be ONE commit")
    assert(before.files.forall(s.files.contains),
      "no touched file may be rewritten")
    assert((s.files.toSet -- before.files.toSet).nonEmpty,
      "the updated rows must land as new files")
    assert(s.entries.values.count(_.dvs.nonEmpty) === 2)
    assert(log.read().count() === 30L, "an update must not change row count")
    assert(log.read().filter($"v" === "patched")
      .select($"id").as[Long].collect().sorted.toSeq === Seq(2L, 104L))
    // unassigned columns carry the OLD values into the new rows
    assert(log.read().filter($"id" === 104L).select($"x").as[Double].head()
      === 104L * 1.5)
    // CDC: the one commit emits delete(old) + insert(new)
    val ch = log.readChanges(before.version)
    assert(ch.filter($"_change_type" === "delete")
      .select($"v").as[String].collect().sorted.toSeq === Seq("v104", "v2"))
    assert(ch.filter($"_change_type" === "insert")
      .select($"v").as[String].collect().toSeq === Seq("patched", "patched"))
  }

  test("merge-on-read deleteAndAppend: the sync swap masks and adopts in one commit") {
    val root = tmpRoot("morda")
    val log = threeFiles(root)
    val before = log.snapshot()
    val mk = Seq(3L, 105L).toDF("id")
    val rows = Seq((3L, "v3b", 33.0), (105L, "v105b", 55.0))
      .toDF("id", "v", "x")
    log.deleteAndAppend(mk, Seq("id"), rows)
    val s = log.snapshot()
    assert(s.version === before.version + 1, "swap must be ONE commit")
    assert(before.files.forall(s.files.contains) && s.entries.values.count(_.dvs.nonEmpty) === 2)
    assert(log.read().count() === 30L)
    assert(log.read().filter($"id" === 3L).select($"v").as[String].head() === "v3b")
    assert(log.read().filter($"id" === 105L).select($"x").as[Double].head() === 55.0)
    // a second swap over the same keys masks the REPLACEMENT rows too
    log.deleteAndAppend(Seq(3L).toDF("id"), Seq("id"),
      Seq((3L, "v3c", 34.0)).toDF("id", "v", "x"))
    assert(log.read().filter($"id" === 3L).select($"v").as[String].head() === "v3c")
    assert(log.read().count() === 30L)
  }

  test("rewriting DML retires the touched file's DVs and keeps others'") {
    val root = tmpRoot("retire")
    val log = threeFiles(root)
    log.delete($"id" === 5L)    // DV on file A
    log.delete($"id" === 205L)  // DV on file C
    assert(log.snapshot().entries.values.count(_.dvs.nonEmpty) === 2)
    // a copy-on-write update (DV path disabled) rewrites file A: its
    // DV retires WITH it, file C's rides through
    spark.conf.set("spark.graft.dv.enabled", "false")
    try log.update($"id" === 1L, Map("v" -> lit("patched")))
    finally spark.conf.unset("spark.graft.dv.enabled")
    val s = log.snapshot()
    assert(s.entries.values.count(_.dvs.nonEmpty) === 1)
    assert(log.read().count() === 28L)
    assert(log.read().filter($"id".isin(5L, 205L)).isEmpty)
    assert(log.read().filter($"v" === "patched").count() === 1L)
    // OPTIMIZE purges every DV (full rewrite) and keeps content
    log.optimize(targetFiles = 2)
    val s2 = log.snapshot()
    assert(!s2.hasDvs && s2.files.size === 2)
    assert(log.read().count() === 28L
      && log.read().filter($"id".isin(5L, 205L)).isEmpty)
  }

  test("CDC: a DV commit emits exactly the masked rows as deletes") {
    val root = tmpRoot("cdc")
    val log = threeFiles(root)
    val v0 = log.snapshot().version
    log.delete($"id" === 104L || $"id" === 2L)
    val ch = log.readChanges(v0)
    val dels = ch.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(dels === Seq(2L, 104L))
    assert(ch.filter($"_change_type" === "insert").isEmpty)
    // retiring a DV'd file later emits only its LIVE rows as deletes
    val v1 = log.snapshot().version
    log.delete($"id" >= 100L && $"id" <= 109L) // CoW: kills the rest of file B
    val ch2 = log.readChanges(v1)
    val dels2 = ch2.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(dels2 === ((100L to 109L).filterNot(_ == 104L)),
      "already-masked rows must not re-emit as deletes")
  }

  test("restore crosses DV versions exactly; clone carries DVs") {
    val root = tmpRoot("restore")
    val log = threeFiles(root)
    val preDelete = log.snapshot().version
    log.delete($"id" === 9L)
    val masked = log.snapshot().version
    // clone AT the masked version: the clone must not resurrect id=9
    val cloneRoot = tmpRoot("clone-target")
    log.cloneTo(cloneRoot)
    val clone = CommitLog(spark, cloneRoot)
    assert(clone.read().count() === 29L
      && clone.read().filter($"id" === 9L).isEmpty)
    // restore source to pre-delete: row resurrects; forward again: masked
    log.restore(preDelete)
    assert(log.read().count() === 30L)
    log.restore(masked)
    assert(log.read().count() === 29L
      && log.read().filter($"id" === 9L).isEmpty)
  }

  test("vacuum keeps referenced sidecars; compact+prune retire them with history") {
    val root = tmpRoot("vac")
    val log = threeFiles(root)
    log.delete($"id" === 3L)
    val dvName = new org.apache.hadoop.fs.Path(
      log.snapshot().entries.values.map(_.dvs).filter(_.nonEmpty).head.head.path).getName
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(log.vacuum(stagingTtlMs = 0L) === 0,
      "a referenced DV sidecar must survive vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dataDir, dvName)))
    // OPTIMIZE drops the mask from the live version; the sidecar stays
    // referenced by RETAINED history until compact+prune retire it
    log.optimize(targetFiles = 1)
    assert(log.vacuum(stagingTtlMs = 0L) === 0)
    log.compact(); log.prune()
    val reclaimed = log.vacuum(stagingTtlMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dataDir, dvName)),
      "after history retirement the sidecar must be reclaimable")
    assert(reclaimed >= 1)
    assert(log.read().count() === 29L)
  }

  test("partition-tagged tables take the DV path and keep their tags") {
    val root = tmpRoot("tags")
    val log = CommitLog(spark, root)
    log.appendPartitioned((0 until 20).map(i =>
        (i.toLong, if (i % 2 == 0) "even" else "odd", s"r$i"))
      .toDF("id", "par", "v"), "par")
    val before = log.snapshot()
    log.delete($"id" === 4L, partCol = Some("par"))
    val s = log.snapshot()
    assert(s.files === before.files && s.entries.values.count(_.dvs.nonEmpty) === 1)
    assert(s.files.forall(s.entry(_).partTag.isDefined))
    assert(log.read().count() === 19L)
    assert(log.readPartitions(Seq("even")).count() === 9L,
      "partition-scoped reads must mask too")
  }

  // ── merge-on-read MERGE (r14) ─────────────────────────────────────

  test("MERGE masks fired matched rows and appends update+insert in one commit") {
    val root = tmpRoot("mmrg")
    val log = threeFiles(root)
    val before = log.snapshot()
    val src = Seq((105L, "upd105", -1.0), (3L, "DEL", 0.0), (999L, "new", 9.0))
      .toDF("id", "v", "x")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedDelete(Some(col("s.v") === "DEL")),
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"), "x" -> col("s.x"))),
      CommitLog.WhenNotMatchedInsert()))
    val after = log.snapshot()
    assert(after.version === before.version + 1, "one atomic commit")
    assert(before.files.forall(after.files.contains),
      "merge-on-read must retire no data file")
    assert(after.files.size > before.files.size,
      "updated + inserted rows land as appended files")
    // two masked positions (the delete + the update's old version)
    assert(after.entries.values.flatMap(_.dvs).map(_.count).sum === 2L)
    val t = log.read()
    assert(t.count() === 30L) // 30 - 1 deleted + 1 inserted
    assert(t.filter($"id" === 3L).isEmpty)
    assert(t.filter($"id" === 105L).select("v").head.getString(0) === "upd105")
    assert(t.filter($"id" === 999L).count() === 1L)
    // time travel still sees the pre-merge state
    assert(log.readVersion(before.version).count() === 30L)
    assert(log.readVersion(before.version).filter($"id" === 3L).count() === 1L)
  }

  test("MERGE matched rows whose conditional clauses decline stay unmasked") {
    val root = tmpRoot("mdecl")
    val log = threeFiles(root)
    val src = Seq((105L, "touch", 5.0), (106L, "skip", -5.0))
      .toDF("id", "v", "x")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v")),
        Some(col("s.x") > lit(0)))))
    val s = log.snapshot()
    assert(s.entries.values.flatMap(_.dvs).map(_.count).sum === 1L,
      "only the FIRED clause's row is masked")
    assert(log.read().count() === 30L)
    assert(log.read().filter($"id" === 105L).select("v").head.getString(0)
      === "touch")
    assert(log.read().filter($"id" === 106L).select("v").head.getString(0)
      === "v106", "a declined matched row keeps its original value")
  }

  test("MERGE past the ratio cap falls back to copy-on-write") {
    val root = tmpRoot("mcow")
    val log = threeFiles(root)
    val before = log.snapshot()
    // update 60% of every touched file's rows — over the 0.3 maxRatio
    val src = (0 until 10).flatMap(i => Seq(0L, 100L, 200L).map(_ + i))
      .filter(_ % 10 < 6).map(id => (id, s"u$id", 0.0)).toDF("id", "v", "x")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v")))))
    val after = log.snapshot()
    assert(!after.hasDvs, "an over-cap merge must not mask")
    assert(before.files.forall(f => !after.files.contains(f)),
      "copy-on-write retires every touched file")
    assert(log.read().count() === 30L)
    assert(log.read().filter($"v".startsWith("u")).count() === 18L)
  }

  test("MERGE on a partition-tagged table masks and tags its appends") {
    val root = tmpRoot("mtag")
    val log = CommitLog(spark, root)
    log.appendPartitioned((0 until 20).map(i =>
        (i.toLong, if (i % 2 == 0) "even" else "odd", s"r$i"))
      .toDF("id", "par", "v"), "par")
    val before = log.snapshot()
    val src = Seq((4L, "even", "UPD"), (21L, "odd", "NEW")).toDF("id", "par", "v")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
      CommitLog.WhenNotMatchedInsert()), partCol = Some("par"))
    val s = log.snapshot()
    assert(before.files.forall(s.files.contains) && s.hasDvs)
    assert(s.files.forall(s.entry(_).partTag.isDefined),
      "appended merge files must carry partition tags")
    assert(log.read().count() === 21L)
    assert(log.readPartitions(Seq("even")).filter($"id" === 4L)
      .select("v").head.getString(0) === "UPD")
    assert(log.readPartitions(Seq("odd")).filter($"id" === 21L).count() === 1L)
  }
}
