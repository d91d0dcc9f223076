package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** r18 CDC ROW LINEAGE (VERDICT r17 #3): a merge-on-read UPDATE's
  * replacement files carry each pre-image's stable row id
  * (`basename#ordinal`, hidden physical column), so
  * `readChanges(lineage = true)` emits `update_preimage` /
  * `update_postimage` pairs linked by `_row_id` instead of an unlinked
  * delete+insert — a downstream consumer can apply updates without
  * re-keying. The link is emitted only where PROVABLE (one `add_dv`
  * commit masking and appending); copy-on-write rewrites and the
  * default feed keep the r17 delete+insert wire exactly. */
class CdcLineageSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"cdc-lin-$tag").toString + "/t"

  private def types(df: DataFrame): Map[String, Long] =
    df.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a DV update emits a linked update pair under lineage; default feed unchanged") {
    val root = fresh("upd")
    val log = CommitLog(spark, root)
    log.append(spark.range(0L, 50L).toDF("id")
      .select($"id", ($"id" * 2).as("v")).coalesce(1))       // v0
    val v0 = log.snapshot().version
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.update($"id" >= 45L, Map("v" -> expr("v + 1000"))) // v1, MoR
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(log.snapshot().hasDvs, "the update must take the DV path")

    // default feed: the r17 wire exactly — no update types, no _row_id
    val plain = log.readChanges(v0)
    assert(!plain.columns.contains("_row_id"))
    assert(types(plain) === Map("insert" -> 5L, "delete" -> 5L))

    val feed = log.readChanges(v0, lineage = true)
    assert(types(feed) ===
      Map("update_preimage" -> 5L, "update_postimage" -> 5L))
    val pre = feed.filter($"_change_type" === "update_preimage")
    val post = feed.filter($"_change_type" === "update_postimage")
    assert(pre.select("_row_id").collect().map(_.getString(0)).toSet
      === post.select("_row_id").collect().map(_.getString(0)).toSet,
      "the pair must link by _row_id")
    // pre carries OLD values, post NEW, joined WITHOUT any data key
    val joined = pre.select($"_row_id", $"id".as("pid"), $"v".as("pv"))
      .join(post.select($"_row_id", $"id".as("qid"), $"v".as("qv")), "_row_id")
    assert(joined.count() === 5L)
    assert(joined.collect().forall(r =>
      r.getLong(1) == r.getLong(3) && r.getLong(4) == r.getLong(2) + 1000L))
  }

  test("MERGE: updates pair, insert-clause rows stay plain inserts") {
    val root = fresh("mrg")
    val log = CommitLog(spark, root)
    log.append(spark.range(0L, 40L).toDF("id")
      .select($"id", ($"id" % 10).as("v")).coalesce(1))
    val v0 = log.snapshot().version
    val source = spark.range(35L, 45L).toDF("id")
      .select($"id", lit(777L).as("v"))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.merge(source, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
      CommitLog.WhenNotMatchedInsert()))
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(log.snapshot().hasDvs, "the merge must take the MoR path")

    val feed = log.readChanges(v0, lineage = true)
    assert(types(feed) === Map("update_preimage" -> 5L,
      "update_postimage" -> 5L, "insert" -> 5L))
    assert(feed.filter($"_change_type" === "insert")
      .filter($"_row_id".isNotNull).count() === 0L,
      "insert-clause rows have no pre-image")
    assert(feed.filter($"_change_type" === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
      === (40L until 45L).toSet)
  }

  test("unprovable changes fall back to delete+insert even under lineage") {
    val root = fresh("cow")
    val log = CommitLog(spark, root)
    log.append(spark.range(0L, 30L).toDF("id")
      .select($"id", ($"id" * 3).as("v")).coalesce(1))
    val v0 = log.snapshot().version
    // copy-on-write (DV disabled): the rewrite has no per-row link
    spark.conf.set("spark.graft.dv.enabled", "false")
    try log.update($"id" === 7L, Map("v" -> lit(0L)))
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(!log.snapshot().hasDvs)
    val feed = log.readChanges(v0, lineage = true)
    val t = types(feed)
    assert(!t.contains("update_preimage") && !t.contains("update_postimage"),
      s"a CoW rewrite proves no link, got $t")
    // a pure DV delete under lineage: plain deletes, ids exposed
    val v1 = log.snapshot().version
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.delete($"id" === 3L)
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    val df = log.readChanges(v1, lineage = true)
    assert(types(df) === Map("delete" -> 1L))
    assert(df.select("_row_id").collect().forall(!_.isNullAt(0)),
      "a masked delete still carries its stable row id")
  }

  test("a user column claiming the reserved name disables lineage, never collides") {
    val root = fresh("rsv")
    val log = CommitLog(spark, root)
    log.append(spark.range(0L, 20L).toDF("id")
      .select($"id", ($"id" * 2).as("v"),
        lit("user-data").as("__graft_src")).coalesce(1))
    val v0 = log.snapshot().version
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.update($"id" === 19L, Map("v" -> lit(0L)))
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(log.snapshot().hasDvs)
    val feed = log.readChanges(v0, lineage = true)
    val t = types(feed)
    assert(t.keySet === Set("insert", "delete"),
      s"the reserved-name table must fall back to delete+insert, got $t")
    assert(log.read().filter($"__graft_src" =!= "user-data").count() === 0L,
      "the user's column survives untouched")
  }

  test("MatView applies a lineage feed without re-keying") {
    val root = fresh("mv")
    val viewRoot = Files.createTempDirectory("cdc-lin-view").toString + "/v"
    val log = CommitLog(spark, root)
    log.append(spark.range(0L, 60L).toDF("id")
      .select($"id", ($"id" % 3).cast("string").as("g"),
        ($"id" * 10).as("x")).coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try log.update($"id" % 7 === 0, Map("x" -> expr("x + 100000")))
    finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    assert(log.snapshot().hasDvs)
    graft.operators.MatView.applyDelta(spark, viewRoot,
      log.readChanges(-1L, lineage = true), Seq("g"), Seq("x"))
    val view = CommitLog(spark, viewRoot).read()
      .select($"g", $"n", $"sum_x").orderBy($"g").collect()
    val direct = log.read().groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"x").as("sum_x"))
      .orderBy($"g").collect()
    assert(view.toSeq === direct.toSeq,
      "the lineage feed must maintain the view bit-identically")
  }
}
