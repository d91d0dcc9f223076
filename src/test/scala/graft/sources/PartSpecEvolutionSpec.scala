package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** r18 PARTITION-SPEC EVOLUTION (VERDICT r17 #1): changing
  * `merge.partcol` on a populated table is one METADATA commit —
  * Iceberg's spec evolution, not `replaceAllPartitioned`'s full
  * rewrite. The manifest carries an append-only spec registry and a
  * per-file spec id; every tag consumer judges each file under ITS
  * spec (scan exactness, runtime pruning) or refuses crisply on a mix
  * (SPJ, tag-derived folds, partition-scoped writes), and
  * [[CommitLog.migrateSpec]] is the incremental repair that rewrites
  * exactly the stale files. */
class PartSpecEvolutionSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"psev-$tag").toString
    val cat = s"psev$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  // 4 days × 4 rows/day, timestamps on exact hours so days(ts) and
  // hours(ts) both bucket them deterministically
  private def batch(dayLo: Int, dayHi: Int): DataFrame =
    spark.range(dayLo.toLong * 4, dayHi.toLong * 4).toDF("i")
      .select($"i".as("id"),
        expr("timestamp_micros(CAST((i div 4) * 86400000000 + (i % 4) * 3600000000 AS BIGINT))")
          .as("ts"),
        ($"i" * 10).as("v"))
      .coalesce(1)

  test("evolving days(ts) → hours(ts) is metadata-only; mixed reads stay correct") {
    val (cat, wh) = freshCat("ddl")
    batch(0, 2).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 2), "days(ts)")
    val before = log.snapshot()
    assert(before.specs.isEmpty, "no registry before the first evolution")

    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('merge.partcol'='hours(ts)')")
    val after = CommitLog(spark, s"$wh/t").snapshot()
    assert(after.files.toSet === before.files.toSet,
      "spec evolution must rewrite ZERO data files")
    assert(after.specs === Seq("days(ts)", "hours(ts)"))
    assert(after.files.forall(f => after.entry(f).specId === 0),
      "existing files keep the spec that wrote them")

    // new writes land under the NEW spec (through the catalog property)
    batch(2, 4).writeTo(s"$cat.t").append()
    val mixed = CommitLog(spark, s"$wh/t").snapshot()
    val newFiles = mixed.files.toSet -- after.files.toSet
    assert(newFiles.nonEmpty)
    assert(newFiles.forall(f => mixed.entry(f).specId === 1),
      "post-evolution files must stamp the current spec")
    // hours(ts) tags are epoch-hours (day*24 + hour), disjoint from the
    // day files' epoch-day tags
    assert(newFiles.forall(f => mixed.entry(f).partTag.get.toLong >= 48L))

    // mixed-spec reads: values correct under ts-range and full scans
    val all = spark.table(s"$cat.t")
    assert(all.count() === 16L)
    val day1 = all.filter($"ts" >= expr("timestamp_micros(86400000000)")
      && $"ts" < expr("timestamp_micros(2 * 86400000000)"))
    assert(day1.agg(sum($"v")).collect()(0).getLong(0)
      === (4 until 8).map(_ * 10L).sum)
    val day3 = all.filter(expr("CAST(ts AS DATE) = DATE '1970-01-04'"))
    assert(day3.agg(sum($"v")).collect()(0).getLong(0)
      === (12 until 16).map(_ * 10L).sum)

    // evolving the library way refuses a wrong `from`
    val e = intercept[IllegalArgumentException] {
      CommitLog(spark, s"$wh/t").evolvePartitionSpec("days(ts)", "months(ts)")
    }
    assert(e.getMessage.contains("does not match the registry"))
    // …and a no-op spec
    val e2 = intercept[IllegalArgumentException] {
      CommitLog(spark, s"$wh/t").evolvePartitionSpec("hours(ts)", "hours(ts)")
    }
    assert(e2.getMessage.contains("equals the current one"))
  }

  test("partition-scoped writes refuse on a mixed-spec table; migrateSpec repairs") {
    val (cat, wh) = freshCat("scope")
    batch(0, 2).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 2), "days(ts)")
    log.evolvePartitionSpec("days(ts)", "hours(ts)")
    log.appendPartitioned(batch(2, 3), "hours(ts)")

    // writes under the RETIRED spec refuse
    val ew = intercept[IllegalArgumentException] {
      log.appendPartitioned(batch(3, 4), "days(ts)")
    }
    assert(ew.getMessage.contains("not the table's current spec"))

    // scoped ops refuse while old-spec files are live
    val es = intercept[IllegalArgumentException] {
      log.replacePartitions(batch(2, 3), "hours(ts)")
    }
    assert(es.getMessage.contains("migrateSpec"))
    val er = intercept[IllegalArgumentException] { log.readPartitions(Seq("48")) }
    assert(er.getMessage.contains("migrateSpec"))

    // the repair: exactly the stale files rewrite, under the new spec
    val pre = log.snapshot()
    val stale = pre.files.filter(f => pre.entry(f).specId === 0).toSet
    val (_, n) = log.migrateSpec()
    assert(n === stale.size && n > 0)
    val post = log.snapshot()
    assert(post.files.forall(f => post.entry(f).specId === 1))
    assert((post.files.toSet intersect stale).isEmpty, "stale files retired")
    assert(stale.subsetOf(pre.files.toSet)
      && (pre.files.toSet -- stale).subsetOf(post.files.toSet),
      "current-spec files ride through untouched")
    assert(log.migrateSpec()._2 === 0, "idempotent")
    assert(spark.table(s"$cat.t").agg(sum($"v")).collect()(0).getLong(0)
      === (0 until 12).map(_ * 10L).sum, "no rows lost or duplicated")

    // scoped ops work again — replace one HOUR partition
    log.replacePartitions(
      Seq((100L, new java.sql.Timestamp(0L), 999L)).toDF("id", "ts", "v")
        .select($"id", $"ts".cast("timestamp").as("ts"), $"v").coalesce(1),
      "hours(ts)")
    val afterRp = spark.table(s"$cat.t")
    assert(afterRp.filter($"id" === 100L).count() === 1L)
    assert(afterRp.count() === 12L, "only hour 0 was replaced (1 row in, 1 out)")
  }

  test("a SECOND evolution extends the registry; migrate sweeps all older specs") {
    val (cat, wh) = freshCat("twice")
    batch(0, 1).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 1), "days(ts)")
    log.evolvePartitionSpec("days(ts)", "hours(ts)")
    log.appendPartitioned(batch(1, 2), "hours(ts)")
    log.evolvePartitionSpec("hours(ts)", "months(ts)")
    log.appendPartitioned(batch(2, 3), "months(ts)")
    val s3 = log.snapshot()
    assert(s3.specs === Seq("days(ts)", "hours(ts)", "months(ts)"))
    assert(Set(0, 1, 2).subsetOf(
      s3.files.map(f => s3.entry(f).specId).toSet), "three eras live at once")
    // reads stay correct across all three eras
    assert(spark.table(s"$cat.t").agg(sum($"v")).collect()(0).getLong(0)
      === (0 until 12).map(_ * 10L).sum)
    // DESCRIBE DETAIL surfaces the registry and the migration debt
    val d = spark.sql(s"CALL $cat.system.detail(`table` => 't')").head()
    assert(d.getAs[String]("part_spec_registry")
      === "days(ts);hours(ts);months(ts)")
    assert(d.getAs[Long]("num_stale_spec_files")
      === s3.files.count(f => s3.entry(f).specId != 2).toLong)
    // ONE migrate sweeps BOTH older eras under the current spec
    val (_, n) = log.migrateSpec()
    assert(n === s3.files.count(f => s3.entry(f).specId != 2))
    val s4 = log.snapshot()
    assert(s4.files.forall(f => s4.entry(f).specId === 2))
    assert(spark.table(s"$cat.t").agg(sum($"v")).collect()(0).getLong(0)
      === (0 until 12).map(_ * 10L).sum)
  }

  test("time travel to a PRE-evolve version judges tags under the create-time spec") {
    // a pinned pre-evolve snapshot has an EMPTY registry even though
    // the table later evolved — interpreting its day tags under the
    // live property (hours) would let a sub-day filter falsely certify
    // exactness against a whole-day file (tag 0 read as hour 0 ⊆
    // `ts < 1h` → the COUNT would fold to the file's 4 rows instead of
    // 1). The scan must resolve the LATEST registry's FIRST entry.
    val (cat, wh) = freshCat("tt")
    batch(0, 2).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 2), "days(ts)")          // v1: 2 day files
    val vPre = log.snapshot().version
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('merge.partcol'='hours(ts)')")
    log.appendPartitioned(batch(2, 3), "hours(ts)")
    // sub-day filter on the PINNED version: must NOT fold (the day
    // file's unit is a day, not an hour) — and must count 1, not 4
    val subDay = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t VERSION AS OF $vPre " +
      "WHERE ts < timestamp_micros(3600000000)")
    subDay.collect()
    val p1 = subDay.queryExecution.executedPlan.toString
    assert(p1.contains("BatchScan"),
      s"a sub-day filter must refuse the fold on a day file:\n$p1")
    assert(subDay.collect()(0).getLong(0) === 1L)
    // a DAY-aligned filter on the pinned version still certifies and
    // folds — the create-time spec interprets the tags
    val aligned = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t VERSION AS OF $vPre " +
      "WHERE CAST(ts AS DATE) = DATE '1970-01-01'")
    aligned.collect()
    val p2 = aligned.queryExecution.executedPlan.toString
    assert(p2.contains("LocalTableScan") && !p2.contains("BatchScan"),
      s"the day-aligned pinned COUNT must fold under the create-time spec:\n$p2")
    assert(aligned.collect()(0).getLong(0) === 4L)
  }

  test("registry survives checkpoint, restore, and clone") {
    val (cat, wh) = freshCat("life")
    batch(0, 1).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 1), "days(ts)")          // v1
    val vPre = log.snapshot().version
    log.evolvePartitionSpec("days(ts)", "hours(ts)")        // v2
    log.appendPartitioned(batch(1, 2), "hours(ts)")         // v3

    // restore to the pre-evolve version: files restate with their OLD
    // spec ids; the registry itself is append-only and survives
    log.restore(vPre)
    val s2 = CommitLog(spark, s"$wh/t").snapshot()
    assert(s2.specs === Seq("days(ts)", "hours(ts)"),
      "a data restore does not undo a spec evolution")
    assert(s2.files.forall(f => s2.entry(f).specId === 0),
      "restored files keep the spec that wrote them")
    // writes must still land under the CURRENT (evolved) spec
    val ew = intercept[IllegalArgumentException] {
      log.appendPartitioned(batch(1, 2), "days(ts)")
    }
    assert(ew.getMessage.contains("not the table's current spec"))
    log.appendPartitioned(batch(1, 2), "hours(ts)")

    // checkpoint restates registry + ids; prune drops old manifests
    // (incl. the evolve commit) — the fold must still know every spec
    log.compact(); log.prune()
    val s1 = CommitLog(spark, s"$wh/t").snapshot()
    assert(s1.specs === Seq("days(ts)", "hours(ts)"))
    assert(s1.files.count(f => s1.entry(f).specId === 0) > 0)
    assert(s1.files.count(f => s1.entry(f).specId === 1) > 0)

    // clone carries registry + per-file ids verbatim
    val cloneRoot = Files.createTempDirectory("psev-clone").toString + "/c"
    log.cloneTo(cloneRoot)
    val cs = CommitLog(spark, cloneRoot).snapshot()
    assert(cs.specs === Seq("days(ts)", "hours(ts)"))
    assert(cs.files.count(f => cs.entry(f).specId === 0) > 0)
    assert(cs.files.count(f => cs.entry(f).specId === 1) > 0)
  }

  test("SPJ reporting refuses on a mixed-spec scan, re-admits after migration") {
    val (cat, wh) = freshCat("spj")
    val df = spark.range(0L, 40L).toDF("id")
      .select($"id", ($"id" % 4).cast("string").as("g"), ($"id" % 2)
        .cast("string").as("h"))
    df.limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "g").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(df.filter($"id" < 20), "g")
    val dim = df.groupBy($"g").agg(count(lit(1)).as("n"))
    dim.writeTo(s"$cat.d").tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "g").create()
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.graft.spj.preserveDataGrouping", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined = spark.table(s"$cat.t").join(spark.table(s"$cat.d"), "g")
        .groupBy($"g").agg(count(lit(1)).as("c"))
      def planOf(q: org.apache.spark.sql.DataFrame): String = {
        q.collect(); q.queryExecution.executedPlan.toString
      }
      def exchanges(p: String): Int =
        p.linesIterator.count(_.contains("Exchange"))
      val p0 = planOf(joined)
      assert(p0.contains("graft-spj") && exchanges(p0) == 0,
        s"single-spec SPJ sanity: zero-Exchange co-partitioned plan:\n$p0")
      // evolve ONE side: the mixed-spec scan must not report a single
      // grouping — Spark falls back to the ordinary Exchange plan (the
      // still-single-spec dim side may keep its report; the JOIN must
      // shuffle)
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('merge.partcol'='g,h')")
      df.filter($"id" >= 20).writeTo(s"$cat.t").append()
      val p1 = planOf(joined)
      assert(exchanges(p1) > 0,
        s"mixed specs must refuse the SPJ report (shuffle returns):\n$p1")
      assert(joined.orderBy($"g").collect().map(_.getLong(1)).toSeq
        === Seq(10L, 10L, 10L, 10L), "the Exchange fallback stays correct")
      // migration restores the report under the (composite) current spec
      CommitLog(spark, s"$wh/t").migrateSpec()
      val p2 = planOf(joined)
      assert(p2.contains("graft-spj"),
        s"post-migration the SPJ report re-admits:\n$p2")
    } finally {
      spark.conf.set("spark.graft.spj.preserveDataGrouping", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("tag-derived folds and SPJ refuse on mixed specs, admit after migration") {
    val (cat, wh) = freshCat("fold")
    // identity spec so the grouped fold applies, then evolve to a
    // composite — the mix must refuse tag-derived answers
    val df = spark.range(0L, 60L).toDF("id")
      .select($"id", (($"id" % 3).cast("string")).as("g"),
        ($"id" % 2).cast("string").as("h"))
    df.limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "g").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(df.filter($"id" < 30), "g")
    def planOf(q: DataFrame): String = {
      q.collect(); q.queryExecution.executedPlan.toString
    }
    val q0 = spark.table(s"$cat.t").groupBy($"g").agg(count(lit(1)).as("n"))
    assert(planOf(q0).contains("LocalTableScan"), "single-spec fold sanity")

    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('merge.partcol'='g,h')")
    df.filter($"id" >= 30).writeTo(s"$cat.t").append()
    val q1 = spark.table(s"$cat.t").groupBy($"g").agg(count(lit(1)).as("n"))
    val p1 = planOf(q1)
    assert(!p1.contains("LocalTableScan") && p1.contains("BatchScan"),
      s"mixed specs must refuse the tag-derived fold:\n$p1")
    assert(q1.orderBy($"g").collect().map(_.getLong(1)).toSeq
      === Seq(20L, 20L, 20L), "the fallback scan stays correct")

    // the SQL surface: CALL <cat>.system.migrate_spec
    val r = spark.sql(s"CALL $cat.system.migrate_spec(`table` => 't')")
      .collect()(0)
    assert(r.getInt(1) > 0, "the procedure must report migrated files")
    assert(spark.sql(s"CALL $cat.system.migrate_spec(`table` => 't')")
      .collect()(0).getInt(1) === 0, "idempotent")
    val q2 = spark.table(s"$cat.t").groupBy($"g").agg(count(lit(1)).as("n"))
    assert(planOf(q2).contains("LocalTableScan"),
      s"post-migration the fold re-admits:\n${planOf(q2)}")
    assert(q2.orderBy($"g").collect().map(_.getLong(1)).toSeq
      === Seq(20L, 20L, 20L))
  }

  test("a CoW rewrite on a mixed-spec table must not promote riding stale files") {
    // ADVICE r18 (high): the fold's "replace" fallback used to default
    // any riding file without a recorded spec id to the CURRENT spec id
    // — but pre-evolution files deliberately record none (none = spec
    // 0), so one small copy-on-write rewrite silently promoted every
    // stale file, scoped ops stopped refusing, and migrateSpec saw 0
    // stale. Riding files must keep the spec id they carried.
    val (cat, wh) = freshCat("cowmix")
    batch(0, 2).limit(0).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "days(ts)").create()
    val log = CommitLog(spark, s"$wh/t")
    log.appendPartitioned(batch(0, 2), "days(ts)")
    // evolve through the DDL so the catalog property tracks the registry
    // (the SQL DELETE below resolves its partCol from the property)
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('merge.partcol'='hours(ts)')")
    log.appendPartitioned(batch(2, 3), "hours(ts)")
    val pre = log.snapshot()
    val stale = pre.files.filter(f => pre.entry(f).specId === 0).toSet
    assert(stale.nonEmpty)

    // ONE-row CoW delete (tiny table, far below the DV byte floor)
    // through the DSv2 row-level SQL path: the touched day-0 file
    // rewrites, everything else RIDES the "replace" commit with no
    // explicit fileSpecs
    spark.sql(s"DELETE FROM $cat.t WHERE id = 0")
    val post = log.snapshot()
    val riding = post.files.toSet intersect stale
    assert(riding.nonEmpty, "some stale files must ride the rewrite untouched")
    assert(riding.forall(f => post.entry(f).specId === 0),
      "riding stale files must KEEP their create-time spec id")
    // the replacement file itself is new — it stamps the current spec
    assert((post.files.toSet -- pre.files.toSet).forall(f =>
      post.entry(f).specId === post.currentSpecId))

    // the guards the promotion used to blind: scoped reads still
    // refuse on the mix, and migrateSpec still sees the stale files
    val er = intercept[IllegalArgumentException] { log.readPartitions(Seq("48")) }
    assert(er.getMessage.contains("migrateSpec"))
    val staleNow = post.files.count(f => post.entry(f).specId !== post.currentSpecId)
    val (_, n) = log.migrateSpec()
    assert(n === staleNow && n > 0,
      "migrateSpec must still see every un-promoted stale file")
    assert(spark.table(s"$cat.t").agg(sum($"v")).collect()(0).getLong(0)
      === (1 until 12).map(_ * 10L).sum, "the delete itself stays correct")
  }
}
