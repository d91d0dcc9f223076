package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, GraftLogSource, GraftMergeTable}
import graft.streaming.StreamMergeSink

/** CommitLog: versioned manifests, optimistic multi-writer commits,
  * txn idempotency; plus the catalog (`merge.log=true`) and streaming
  * (StreamMergeSink) bindings on top of it. */
class CommitLogSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("append + read round-trip; replace retires old files; empty read keeps schema") {
    val t = tmpTable("clog-rt")
    val log = CommitLog(spark, t)
    assert(log.snapshot().version === -1L)

    assert(log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) === 0L)
    assert(log.append(Seq((3L, "c")).toDF("id", "v")) === 1L)
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))

    assert(log.replaceAll(Seq((9L, "z")).toDF("id", "v")) === 2L)
    assert(log.read().as[(Long, String)].collect().toSet === Set((9L, "z")))

    // truncate to empty: schema survives in the manifest
    assert(log.replaceAll(Seq.empty[(Long, String)].toDF("id", "v")) === 3L)
    val empty = log.read()
    assert(empty.count() === 0L)
    assert(empty.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("snapshot fold cache: recreated table at the same root is never served stale") {
    // r19: snapshotAt seeds from a process-wide incremental fold cache;
    // the validity witness is the last-folded manifest's (version,
    // mtime, length). A table DELETED AND RECREATED at the same root
    // restarts version numbering, so the cache must detect the swap —
    // including the nastiest shape, a recreate that reaches the SAME
    // version count with different content.
    val t = tmpTable("clog-recreate")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "old"), (2L, "old")).toDF("id", "v"))
    log.upsert(Seq((2L, "old2")).toDF("id", "v"), Seq("id"), CommitLog.LastWins)
    assert(log.snapshot().version === 1L)
    // destroy and rebuild to the same version with other rows
    val p = new org.apache.hadoop.fs.Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val log2 = CommitLog(spark, t)
    log2.append(Seq((7L, "new")).toDF("id", "v"))
    log2.upsert(Seq((8L, "new")).toDF("id", "v"), Seq("id"), CommitLog.LastWins)
    assert(log2.snapshot().version === 1L)
    assert(log2.read().as[(Long, String)].collect().toSet
      === Set((7L, "new"), (8L, "new")))
    // and the ORIGINAL instance (its cache key is the same root) too
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((7L, "new"), (8L, "new")))
    // destroyed entirely: empty snapshot, not the cached one
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    assert(CommitLog(spark, t).snapshot().version === -1L)
  }

  test("upsert merges per mode and recomputes against the committed table") {
    val t = tmpTable("clog-merge")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    log.upsert(Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "v"),
      Seq("id"), CommitLog.InsertIfAbsent)
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))

    log.upsert(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins)
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c2"), (4L, "d")))
  }

  test("txn epochs make replays no-ops (streaming restart contract)") {
    val t = tmpTable("clog-txn")
    val log = CommitLog(spark, t)
    val v1 = log.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("id"),
      CommitLog.InsertIfAbsent, txn = Some("q" -> 0L))
    // same (writer, epoch) again — even with different data — is skipped
    val v2 = log.upsert(Seq((1L, "SHOULD NOT LAND")).toDF("id", "v"), Seq("id"),
      CommitLog.LastWins, txn = Some("q" -> 0L))
    assert(v2 === v1)
    // a LOWER epoch (late replay of an old batch) is also skipped
    val v3 = log.append(Seq((7L, "late")).toDF("id", "v"), txn = Some("q" -> -1L))
    assert(v3 === v1)
    // the next epoch lands
    log.upsert(Seq((2L, "b")).toDF("id", "v"), Seq("id"),
      CommitLog.InsertIfAbsent, txn = Some("q" -> 1L))
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
  }

  test("concurrent appends from 8 writers all land; versions are contiguous") {
    val t = tmpTable("clog-conc-app")
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val futures = (0 until 8).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog(spark, t).append(
            Seq((w.toLong, s"writer-$w")).toDF("id", "v"))
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // every writer won SOME version, versions are exactly 0..7
    assert(versions.sorted === (0L until 8L))
    val log = CommitLog(spark, t)
    assert(log.snapshot().version === 7L)
    assert(log.read().as[(Long, String)].collect().toSet
      === (0 until 8).map(w => (w.toLong, s"writer-$w")).toSet)
  }

  test("concurrent upserts serialize: disjoint key sets merge losslessly") {
    val t = tmpTable("clog-conc-ups")
    CommitLog(spark, t).append(Seq((-1L, "seed")).toDF("id", "v"))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val futures = (0 until 4).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog(spark, t).upsert(
            Seq((w.toLong, s"w$w")).toDF("id", "v"),
            Seq("id"), CommitLog.InsertIfAbsent)
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // a lost-and-retried merge must not drop the winner's rows
    assert(CommitLog(spark, t).read().as[(Long, String)].collect().toSet
      === Set((-1L, "seed"), (0L, "w0"), (1L, "w1"), (2L, "w2"), (3L, "w3")))
  }

  test("concurrent partitioned merges of disjoint partitions all land losslessly") {
    val t = tmpTable("clog-conc-parts")
    CommitLog(spark, t).appendPartitioned(
      Seq((0L, "p0", "seed0"), (100L, "p1", "seed1"),
          (200L, "p2", "seed2"), (300L, "p3", "seed3"))
        .toDF("id", "part", "v"), "part")
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val futures = (0 until 4).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog(spark, t).upsertPartitioned(
            Seq((w * 100L + 1, s"p$w", s"w$w")).toDF("id", "part", "v"),
            Seq("id", "part"), CommitLog.LastWins, "part")
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(CommitLog(spark, t).read().select($"id", $"v")
      .as[(Long, String)].collect().toSet
      === Set((0L, "seed0"), (100L, "seed1"), (200L, "seed2"), (300L, "seed3"),
        (1L, "w0"), (101L, "w1"), (201L, "w2"), (301L, "w3")))
  }

  test("compact + prune: checkpoint restates state; pruned log reads identically") {
    val t = tmpTable("clog-compact")
    val log = CommitLog(spark, t)
    (0 until 6).foreach(i =>
      log.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), txn = Some("w" -> i.toLong)))
    val before = log.read().as[(Long, String)].collect().toSet
    val ck = log.compact()
    assert(ck === 6L)
    assert(log.prune() === 6) // versions 0..5 are redundant now
    val after = CommitLog(spark, t)
    assert(after.read().as[(Long, String)].collect().toSet === before)
    // txn table survives pruning via the checkpoint's txns field:
    // an old-epoch replay is still recognized as a no-op
    val v = after.append(Seq((99L, "replay")).toDF("id", "v"), txn = Some("w" -> 3L))
    assert(v === ck)
    assert(!after.read().as[(Long, String)].collect().toSet.contains((99L, "replay")))
    // and writes continue from the checkpoint version
    assert(after.append(Seq((7L, "v7")).toDF("id", "v"), txn = Some("w" -> 6L)) === 7L)
  }

  test("vacuum's fresh-file floor: aged unreferenced data reclaims, fresh is spared") {
    val t = tmpTable("clog-vacttl")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    log.replaceAll(Seq((2L, "b")).toDF("id", "v"))
    log.compact(); log.prune()
    // v0's files are unreferenced but FRESH — a concurrent writer's
    // just-written files look exactly like this, so the default sweep
    // spares them
    assert(log.vacuum() === 0)
    // age them past the TTL: the default sweep now reclaims
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = log.snapshot().files.map(f =>
      new org.apache.hadoop.fs.Path(s"$t/$f").getName).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/data"))
      .filter(st => !live(st.getPath.getName))
      .foreach(st => fs.setTimes(st.getPath,
        System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1))
    assert(log.vacuum() > 0)
    assert(log.read().as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("maintain(retainMs): aged history prunes, retained versions stay readable") {
    val t = tmpTable("clog-retain")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))          // v0
    log.replaceAll(Seq((2L, "b")).toDF("id", "v"))      // v1 — retires v0's file
    log.compact()                                       // v2 (checkpoint)
    Thread.sleep(1200)
    log.append(Seq((3L, "c")).toDF("id", "v"))          // v3 — young
    val rep = log.maintain(retainMs = 1000L, stagingTtlMs = 0L)            // v4 (checkpoint)
    // the age-scoped prune stops at the OLD checkpoint (v2): v0/v1 are
    // aged out, v3 is inside the window and must survive — even though
    // the fresh checkpoint v4 would make it redundant for new readers
    assert(rep.checkpointVersion === 4L)
    assert(rep.manifestsPruned === 2)
    assert(rep.filesVacuumed >= 1, "v0's retired file must reclaim")
    val log2 = CommitLog(spark, t)
    assert(log2.readVersion(3L).as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
    assert(log2.readVersion(2L).as[(Long, String)].collect().toSet
      === Set((2L, "b")))
    intercept[Exception] { log2.readVersion(0L).collect() }
    assert(log2.read().as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
    // a second maintain with zero retention folds everything away
    val rep2 = log2.maintain(retainMs = 0L, stagingTtlMs = 0L)
    assert(rep2.checkpointVersion === 5L)
    assert(CommitLog(spark, t).read().as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
  }

  test("manifest row counts stay exact across the whole DML lifecycle") {
    val t = tmpTable("clog-rowinv")
    val log = CommitLog(spark, t)
    // the invariant every manifest-answered surface (COUNT(*), LIMIT,
    // CBO stats, DESCRIBE DETAIL) rests on: sum of per-file live
    // counts == the actual masked read, after EVERY commit kind
    def check(l: CommitLog = log, what: String = ""): Unit = {
      val s = l.snapshot()
      assert(s.files.forall(s.entry(_).rows.isDefined),
        s"$what: a live file lost its row count")
      val live = s.files.map(f => s.entry(f).liveRows.get).sum
      assert(live === l.read().count(), s"$what: manifest live-count drift")
    }
    def block(base: Long, n: Int) = (0 until n).map(i =>
      (base + i, s"v${base + i}", if ((base + i) % 4 == 0) null else "x"))
      .toDF("id", "v", "s").repartition(2)
    log.append(block(0L, 40)); check(what = "append")
    log.append(block(100L, 40)); check(what = "append2")
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      log.delete($"id" >= 100L && $"id" <= 104L); check(what = "MoR delete")
      log.update($"id" === 7L, Map("v" -> lit("upd"))); check(what = "MoR update")
      log.merge(Seq((3L, "m3", "x"), (999L, "m999", "x")).toDF("id", "v", "s"),
        Seq("id"), Seq(
          CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
          CommitLog.WhenNotMatchedInsert()))
      check(what = "MoR merge")
      // a 60%-of-touched delete blows the ratio cap → copy-on-write
      log.delete($"id" >= 0L && $"id" <= 30L); check(what = "CoW delete")
    } finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
    log.upsert(Seq((200L, "u", "x")).toDF("id", "v", "s"),
      Seq("id"), CommitLog.LastWins); check(what = "upsert")
    val preOptimize = log.snapshot().version
    log.optimize(targetFiles = 1); check(what = "optimize")
    log.restore(preOptimize); check(what = "restore")
    log.compact(); log.prune(); check(what = "compact+prune")
    val cloneRoot = tmpTable("clog-rowinv-clone")
    log.cloneTo(cloneRoot)
    check(CommitLog(spark, cloneRoot), "clone")
  }

  test("_last_checkpoint hint: folds start at the checkpoint, degrade safely") {
    val t = tmpTable("clog-ckhint")
    val log = CommitLog(spark, t)
    (0 until 5).foreach(i =>
      log.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val ck = log.compact() // v5, writes the hint — NO prune
    val hintPath = new org.apache.hadoop.fs.Path(s"$t/_graft_log/_last_checkpoint")
    val fs = hintPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(hintPath), "compact must maintain the fold hint")
    // post-checkpoint commits fold from the hint; state is identical
    log.append(Seq((100L, "post")).toDF("id", "v"))
    assert(log.read().as[(Long, String)].collect().toSet
      === (0 until 5).map(i => (i.toLong, s"v$i")).toSet + ((100L, "post")))
    assert(log.snapshot().txns.nonEmpty || log.snapshot().version === ck + 1)
    // time travel BEHIND the checkpoint ignores the hint (full fold)
    assert(log.readVersion(2).as[(Long, String)].collect().toSet
      === (0 to 2).map(i => (i.toLong, s"v$i")).toSet)
    // a torn/corrupt hint degrades to the full fold, never a wrong read
    val out = fs.create(hintPath, true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    assert(CommitLog(spark, t).read().as[(Long, String)].collect().toSet
      === (0 until 5).map(i => (i.toLong, s"v$i")).toSet + ((100L, "post")))
    // a STALE hint (older checkpoint) is correct too: second compact
    // moves it forward; manually rewinding it only costs parses
    val ck2 = log.compact()
    log.append(Seq((200L, "post2")).toDF("id", "v"))
    val out2 = fs.create(hintPath, true)
    out2.write(s"""{"version":$ck}""".getBytes("UTF-8")); out2.close()
    assert(CommitLog(spark, t).read().as[(Long, String)].collect().toSet
      === (0 until 5).map(i => (i.toLong, s"v$i")).toSet
        + ((100L, "post")) + ((200L, "post2")))
    assert(ck2 > ck)
  }

  test("time travel: every committed version stays readable until retired") {
    val t = tmpTable("clog-tt")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))                       // v0
    log.upsert(Seq((1L, "A2"), (2L, "b")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins)                                 // v1
    log.replaceAll(Seq((9L, "z")).toDF("id", "v"))                   // v2
    assert(log.readVersion(0).as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(log.readVersion(1).as[(Long, String)].collect().toSet
      === Set((1L, "A2"), (2L, "b")))
    assert(log.readVersion(2).as[(Long, String)].collect().toSet === Set((9L, "z")))
    assertThrows[IllegalArgumentException](log.readVersion(3))
    // vacuum keeps every retained version readable — time travel
    // survives (only compact+prune retires history)
    log.vacuum()
    assert(log.readVersion(0).as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(log.read().as[(Long, String)].collect().toSet === Set((9L, "z")))
  }

  test("vacuum deletes only files no retained manifest references") {
    val t = tmpTable("clog-vac")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    log.replaceAll(Seq((2L, "b")).toDF("id", "v"))
    // v0's files are retired from the LIVE set but its manifest is
    // still retained — vacuum must keep them (readVersion(0) works)
    assert(log.vacuum(stagingTtlMs = 0L) === 0)
    assert(log.readVersion(0).as[(Long, String)].collect().toSet === Set((1L, "a")))
    // once compact+prune retires the v0 manifest, vacuum reclaims —
    // ttl 0 disables the fresh-file floor (r16: by default a file
    // younger than the TTL is spared, so a mid-commit writer's
    // just-written files survive a concurrent scheduled maintain)
    log.compact()
    assert(log.prune() > 0)
    assert(log.vacuum() === 0, "fresh unreferenced files are spared by default")
    assert(log.vacuum(stagingTtlMs = 0L) > 0)
    assert(log.read().as[(Long, String)].collect().toSet === Set((2L, "b")))
    assert(log.vacuum(stagingTtlMs = 0L) === 0)
  }

  test("vacuum and DV cleanup evict the process-wide status cache") {
    // the statusCache invariant is "a cached status is valid for the
    // path's lifetime"; deletion ends the lifetime, so a vacuumed path
    // must never serve a stale status (a time-travel read of a pruned
    // version must fail at PLANNING with the file absent, not mid-job —
    // and a recreate-at-same-name collision can never see old metadata)
    val t = tmpTable("clog-vac-evict")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    log.replaceAll(Seq((2L, "b")).toDF("id", "v"))
    // reading v0 warms the cache with v0's file statuses
    assert(log.readVersion(0).as[(Long, String)].collect().toSet === Set((1L, "a")))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0Files = log.snapshotAt(0).files.map(rel =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(t, rel)).toString)
    assert(v0Files.exists(CommitLog.statusCache.containsKey), "cache warmed")
    log.compact(); log.prune()
    assert(log.vacuum(stagingTtlMs = 0L) > 0)
    v0Files.foreach(p => assert(!CommitLog.statusCache.containsKey(p),
      s"stale status survived vacuum: $p"))
    // live version still reads fine
    assert(log.read().as[(Long, String)].collect().toSet === Set((2L, "b")))
  }

  test("catalog merge.log=true: concurrent-writer-safe writeTo path + log read") {
    val wh = Files.createTempDirectory("graft-wh-log").toString
    spark.conf.set("spark.sql.catalog.glog", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glog.warehouse", wh)
    Seq((1L, "a"), (2L, "b")).toDF("id", "nome")
      .writeTo("glog.stations")
      .tableProperty("merge.keys", "id")
      .tableProperty("merge.log", "true")
      .create()
    Seq((2L, "CHANGED"), (3L, "c")).toDF("id", "nome")
      .writeTo("glog.stations").append()
    assert(GraftMergeTable.read(spark, wh, "stations")
      .as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // two committed versions in the log
    assert(CommitLog(spark, s"$wh/stations").snapshot().version === 1L)
  }

  test("catalog merge.partcol: writeTo merges scope to touched partitions") {
    val wh = Files.createTempDirectory("graft-wh-part").toString
    spark.conf.set("spark.sql.catalog.gpart", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpart.warehouse", wh)
    Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "nome")
      .writeTo("gpart.prices")
      .tableProperty("merge.keys", "id,day")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day")
      .create()
    val before = CommitLog(spark, s"$wh/prices").snapshot()
    val d1 = before.files.filter(f => before.entry(f).partTag.get == "d1").toSet
    assert(d1.nonEmpty)
    Seq((3L, "d2", "c")).toDF("id", "day", "nome")
      .writeTo("gpart.prices").append()
    val after = CommitLog(spark, s"$wh/prices").snapshot()
    assert(after.files.filter(f => after.entry(f).partTag.get == "d1").toSet === d1)
    assert(GraftMergeTable.read(spark, wh, "prices")
      .select($"id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("StreamMergeSink: micro-batches merge insert-if-absent into the log table") {
    val t = tmpTable("clog-stream")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("id", "v", "seq")
    val q = StreamMergeSink.mergeInto(stream, t, Seq("id"),
      CommitLog.InsertIfAbsent, queryName = "sms-test", orderCol = Some("seq"))
      .start()
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L)) // in-batch dup on id=2
      q.processAllAvailable()
      mem.addData((2L, "NEW", 3L), (3L, "c", 1L)) // id=2 exists → kept as-is
      q.processAllAvailable()
      val got = CommitLog(spark, t).read()
        .select($"id", $"v").as[(Long, String)].collect().toSet
      assert(got === Set((1L, "a"), (2L, "b2"), (3L, "c")))
      // txn record carries the (query, batch) watermark for restarts
      val txns = CommitLog(spark, t).snapshot().txns
      assert(txns.get("sms-test").exists(_ >= 1L))
    } finally q.stop()
  }

  test("graft-log streaming sink: writeStream.format merges with exactly-once replays") {
    val t = tmpTable("clog-fmt-sink")
    val ck = Files.createTempDirectory("clog-fmt-ck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    def start() = mem.toDF().toDF("id", "v", "seq").writeStream
      .format("graft-log")
      .option("path", t)
      .option("checkpointLocation", ck)
      .option("mergeKeys", "id")
      .option("mergeMode", "last-wins")
      .option("orderCol", "seq")
      .option("txnId", "fmt-sink-test")
      .outputMode("update")
      .start()
    val q = start()
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L))
      q.processAllAvailable()
      mem.addData((2L, "B3", 3L), (3L, "c", 1L))
      q.processAllAvailable()
      assert(CommitLog(spark, t).read().select($"id", $"v")
        .as[(Long, String)].collect().toSet
        === Set((1L, "a"), (2L, "B3"), (3L, "c")))
    } finally q.stop()
    // exactly-once over replays: the txn epoch makes a re-applied
    // batch a no-op (drive addBatch directly with an absorbed epoch)
    val vBefore = CommitLog(spark, t).snapshot().version
    val sink = new GraftLogSource().createSink(spark.sqlContext,
      Map("path" -> t, "mergeKeys" -> "id", "txnId" -> "fmt-sink-test"),
      Nil, org.apache.spark.sql.streaming.OutputMode.Update())
    sink.addBatch(0L, Seq((9L, "dup", 9L)).toDF("id", "v", "seq"))
    assert(CommitLog(spark, t).snapshot().version === vBefore,
      "an absorbed (txnId, batchId) epoch must be skipped, not re-merged")
    // plain append mode (no mergeKeys) also lands
    val t2 = tmpTable("clog-fmt-append")
    val sink2 = new GraftLogSource().createSink(spark.sqlContext,
      Map("path" -> t2), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink2.addBatch(0L, Seq((1L, "x")).toDF("id", "v"))
    sink2.addBatch(1L, Seq((1L, "x")).toDF("id", "v"))
    assert(CommitLog(spark, t2).read().count() === 2L)
  }

  test("StreamMergeSink partitioned: a batch rewrites only its day's files") {
    val t = tmpTable("clog-stream-part")
    CommitLog(spark, t).appendPartitioned(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), "day")
    val d1Files = CommitLog(spark, t).snapshot()
      .files.filter(f => CommitLog(spark, t).snapshot().entry(f).partTag.get == "d1").toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("id", "day", "v", "seq")
    val q = StreamMergeSink.mergeIntoPartitioned(stream, t, Seq("id", "day"),
      "day", CommitLog.LastWins, queryName = "smsp-test", orderCol = Some("seq"))
      .start()
    try {
      mem.addData((2L, "d2", "b2", 1L), (3L, "d2", "c", 1L)) // touches d2 only
      q.processAllAvailable()
      val s = CommitLog(spark, t).snapshot()
      assert(s.files.filter(f => s.entry(f).partTag.get == "d1").toSet === d1Files)
      assert(CommitLog(spark, t).read().select($"id", $"v")
        .as[(Long, String)].collect().toSet
        === Set((1L, "a"), (2L, "b2"), (3L, "c")))
      assert(s.txns.get("smsp-test").exists(_ >= 0L))
    } finally q.stop()
  }

  test("partitioned merge rewrites ONLY touched partitions; untouched files survive") {
    val t = tmpTable("clog-parts")
    val log = CommitLog(spark, t)
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"))
    val day2 = Seq((3L, "2024-01-02", "c"), (4L, "2024-01-02", "d"))
    log.appendPartitioned((day1 ++ day2).toDF("id", "day", "v"), "day")
    val before = log.snapshot()
    val day1Files = before.files.filter(f => before.entry(f).partTag.get == "2024-01-01").toSet
    assert(day1Files.nonEmpty && before.entries.values.count(_.partTag.isDefined) === before.files.size)

    // merge touches only day 2
    log.upsertPartitioned(
      Seq((3L, "2024-01-02", "C2"), (5L, "2024-01-02", "e"))
        .toDF("id", "day", "v"),
      Seq("id", "day"), CommitLog.LastWins, "day")
    val after = log.snapshot()
    // day-1 files rode through the commit byte-identical
    assert(after.files.filter(f => after.entry(f).partTag.get == "2024-01-01").toSet === day1Files)
    // contents equal the full-table merge semantics
    assert(log.read().select($"id", $"v").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "C2"), (4L, "d"), (5L, "e")))
    // manifest-level partition pruning reads only the asked partition
    assert(log.readPartitions(Seq("2024-01-01"))
      .select($"id").as[Long].collect().toSet === Set(1L, 2L))
    // a checkpoint restates the partition tags: prune, then the scoped
    // paths still work off the folded state alone
    log.compact(); log.prune()
    assert(log.readPartitions(Seq("2024-01-02"))
      .select($"id").as[Long].collect().toSet === Set(3L, 4L, 5L))
    log.upsertPartitioned(Seq((6L, "2024-01-02", "f")).toDF("id", "day", "v"),
      Seq("id", "day"), CommitLog.InsertIfAbsent, "day")
    assert(log.read().count() === 6L)
  }

  test("partitioned merge refuses untagged live files and null partition values") {
    val t = tmpTable("clog-parts-bad")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "2024-01-01", "a")).toDF("id", "day", "v")) // untagged
    val e = intercept[IllegalArgumentException] {
      log.upsertPartitioned(Seq((2L, "2024-01-01", "b")).toDF("id", "day", "v"),
        Seq("id", "day"), CommitLog.InsertIfAbsent, "day")
    }
    assert(e.getMessage.contains("no partition tag"))
    val t2 = tmpTable("clog-parts-null")
    val log2 = CommitLog(spark, t2)
    val e2 = intercept[IllegalArgumentException] {
      log2.appendPartitioned(
        Seq((1L, null: String, "a")).toDF("id", "day", "v"), "day")
    }
    assert(e2.getMessage.contains("non-null"))
    // partCol outside the merge keys would let a key hop partitions
    val e3 = intercept[IllegalArgumentException] {
      log2.upsertPartitioned(Seq((1L, "x", "a")).toDF("id", "day", "v"),
        Seq("id"), CommitLog.LastWins, "day")
    }
    assert(e3.getMessage.contains("merge keys"))
  }

  test("schema evolution: append with a new column widens; old rows read null") {
    val t = tmpTable("clog-evo")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    log.append(Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    val got = log.read().select($"id", $"v", $"score")
      .as[(Long, String, Option[Double])].collect().toSet
    assert(got === Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))
    // a write MISSING an existing column is additive too
    log.append(Seq((4L, 1.5)).toDF("id", "score"))
    assert(log.read().schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(log.read().filter($"id" === 4L).select($"v").as[Option[String]]
      .collect().toSeq === Seq(None))
    // time travel reads version 0 with its pre-evolution schema
    assert(log.readVersion(0L).schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("schema evolution: upsert adds the column on both sides of the merge") {
    val t = tmpTable("clog-evo-up")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    log.upsert(Seq((2L, "b2", 9L), (3L, "c", 7L)).toDF("id", "v", "rank"),
      Seq("id"), CommitLog.LastWins)
    val got = log.read().select($"id", $"v", $"rank")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got === Set((1L, "a", None), (2L, "b2", Some(9L)), (3L, "c", Some(7L))))
  }

  test("dynamic partition overwrite replaces only the partitions in the data") {
    val t = tmpTable("clog-dyn")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d2", "c"))
        .toDF("id", "day", "v"), "day")
    log.replacePartitions(Seq((9L, "d2", "z")).toDF("id", "day", "v"), "day")
    assert(log.read().select($"id", $"v").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (9L, "z")))
    // untouched-partition files rode through the overwrite
    val s = log.snapshot()
    assert(s.files.exists(f => s.entry(f).partTag.get == "d1"))
    // catalog surface (r10, native V2 writes): .overwritePartitions()
    // maps to the same replacePartitions semantics
    val wh = Files.createTempDirectory("graft-wh-dyn").toString
    spark.conf.set("spark.sql.catalog.gdyn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdyn.warehouse", wh)
    Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "nome")
      .writeTo("gdyn.prices")
      .tableProperty("merge.keys", "id,day")
      .tableProperty("merge.log", "true")
      .tableProperty("merge.partcol", "day")
      .create()
    Seq((9L, "d2", "z")).toDF("id", "day", "nome")
      .writeTo("gdyn.prices").overwritePartitions()
    assert(GraftMergeTable.read(spark, wh, "prices")
      .select($"id").as[Long].collect().toSet === Set(1L, 9L))
  }

  test("a write whose own schema case-collides is rejected before committing") {
    val t = tmpTable("clog-case")
    val log = CommitLog(spark, t)
    val bad = spark.sql("SELECT 1L AS id, 'x' AS v, 'y' AS V")
    val e = intercept[IllegalArgumentException] { log.append(bad) }
    assert(e.getMessage.contains("case-colliding"))
    assert(log.snapshot().version === -1L)
  }

  test("readRange skips files whose footer min/max cannot overlap the range") {
    val t = tmpTable("clog-stats")
    val log = CommitLog(spark, t)
    // three appends → three files with disjoint id ranges and tags
    log.append(spark.range(0L, 100L).toDF("id").coalesce(1)
      .withColumn("tag", lit("alpha")))
    log.append(spark.range(100L, 200L).toDF("id").coalesce(1)
      .withColumn("tag", lit("beta")))
    log.append(spark.range(200L, 300L).toDF("id").coalesce(1)
      .withColumn("tag", lit("gamma")))
    val allFiles = log.read().inputFiles.length
    assert(allFiles === 3)
    // numeric range inside the middle file: ONLY that file is scanned
    val mid = log.readRange("id", 120L, 150L)
    assert(mid.inputFiles.length === 1)
    assert(mid.count() === 31L) // closed range 120..150
    // string range: lexicographic stats prune the same way
    val s = log.readRange("tag", "b", "c")
    assert(s.inputFiles.length === 1)
    assert(s.select($"tag").distinct().as[String].collect().toSeq === Seq("beta"))
    // stats survive checkpoint + prune (the checkpoint restates them)
    log.compact(); log.prune()
    val log2 = CommitLog(spark, t)
    assert(log2.readRange("id", 201L, 250L).inputFiles.length === 1)
    // pruning is an optimization, not a filter: rows are exact
    assert(log2.readRange("id", 90L, 110L).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq === (90L to 110L))
  }

  test("readRange keeps files whose double stats a NaN may have poisoned") {
    val t = tmpTable("clog-nanstats")
    val log = CommitLog(spark, t)
    // one file holding a NaN: parquet writers either drop the FP
    // min/max or let the NaN poison them — in BOTH cases the column
    // must be treated as un-prunable for this file, never as a range
    // that excludes the finite rows it actually holds
    log.append(Seq(1.0, Double.NaN, 100.0).toDF("v").coalesce(1))
    log.append(Seq(500.0).toDF("v").coalesce(1))
    assert(log.readRange("v", 50.0, 150.0).as[Double].collect().toSeq
      === Seq(100.0))
  }

  test("string readRange prunes in UTF-8 byte order, not UTF-16") {
    val t = tmpTable("clog-utf8")
    val log = CommitLog(spark, t)
    // U+FFFF sorts ABOVE U+1F600 in Java's UTF-16 compareTo but BELOW
    // it in the unsigned UTF-8 byte order parquet stats use; a
    // UTF-16 pruning comparator wrongly skips this file for the
    // [U+FFFF, U+FFFF] range (max "😀" >= lo "￿" is false there)
    log.append(Seq("￿", "😀").toDF("s").coalesce(1))
    assert(log.readRange("s", "￿", "￿").as[String].collect().toSeq
      === Seq("￿"))
  }

  test("empty-string partition values commit; nulls and reserved names refuse") {
    val t = tmpTable("clog-emptypart")
    val log = CommitLog(spark, t)
    // "" is a legal non-null partition value (Spark's dir layout maps
    // it to the same default dir as null — the sentinel prefix keeps
    // them apart)
    log.appendPartitioned(
      Seq((1L, "", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), "day")
    assert(log.read().as[(Long, String, String)].collect().toSet
      === Set((1L, "", "a"), (2L, "d2", "b")))
    assert(log.readPartitions(Seq("")).as[(Long, String, String)].collect().toSet
      === Set((1L, "", "a")))
    val eNull = intercept[IllegalArgumentException] {
      log.appendPartitioned(
        Seq((3L, null.asInstanceOf[String], "c")).toDF("id", "day", "v"), "day")
    }
    assert(eNull.getMessage.contains("non-null"))
    val eReserved = intercept[IllegalArgumentException] {
      log.appendPartitioned(
        Seq((4L, "d3", "d")).toDF("id", "day", "v")
          .withColumn("__graft_part", lit("x")), "day")
    }
    assert(eReserved.getMessage.contains("reserved"))
    // failed attempts must not have corrupted the committed state
    assert(log.read().count() === 2L)
  }

  test("delete removes matching rows and rewrites only the touched files") {
    val t = tmpTable("clog-del")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    log.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").coalesce(1))
    log.append(Seq((20L, "e")).toDF("id", "v").coalesce(1))
    val before = log.snapshot().files.toSet
    assert(log.delete($"id" === 10L) === 3L)
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (11L, "d"), (20L, "e")))
    // the [1,2] and [20,20] files ride through under their old names —
    // only the file whose stats admit id=10 was rewritten
    val after = log.snapshot().files.toSet
    assert((before intersect after).size === 2)
    assert((after -- before).size === 1)
    // time travel still reaches the pre-delete rows
    assert(log.readVersion(2L).count() === 5L)
    // a second delete matching nothing LIVE commits no version
    assert(log.delete($"id" === 10L) === 3L)
  }

  test("a delete whose bounds miss every file's stats runs NO Spark job") {
    val t = tmpTable("clog-del-prune")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    log.append(Seq((10L, "c")).toDF("id", "v").coalesce(1))
    val gid = s"delprune-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (gid == js.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(gid, "pruned delete")
      // manifest stats cap id at 10 — phase 1 rules out EVERY file, so
      // neither the find scan nor a rewrite ever launches
      try assert(log.delete($"id" >= 100L) === 1L)
      finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener bus drain
      assert(jobs.get() === 0, s"pruned delete launched ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log.read().count() === 3L)
  }

  test("delete keeps rows where the condition is NULL (SQL DELETE semantics)") {
    val t = tmpTable("clog-del-null")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, Some(1.0)), (2L, None: Option[Double]), (3L, Some(5.0)))
      .toDF("id", "x"))
    log.delete($"x" > 2.0)
    assert(log.read().select($"id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
  }

  test("delete on a partition-tagged table keeps tags; partCol misuse refuses") {
    val t = tmpTable("clog-del-part")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", "a"), (2L, "d1", "b"), (10L, "d2", "c"))
        .toDF("id", "day", "v"), "day")
    val eMissing = intercept[IllegalArgumentException](log.delete($"id" === 2L))
    assert(eMissing.getMessage.contains("partition-tagged"))
    log.delete($"id" === 2L, partCol = Some("day"))
    assert(log.read().as[(Long, String, String)].collect().toSet
      === Set((1L, "d1", "a"), (10L, "d2", "c")))
    // every surviving file still carries its tag, so the partitioned
    // write paths keep accepting the table
    val s = log.snapshot()
    assert(s.files.forall(s.entry(_).partTag.isDefined))
    assert(log.readPartitions(Seq("d1")).select($"id").as[Long].collect().toSeq
      === Seq(1L))
    log.upsertPartitioned(Seq((10L, "d2", "c2")).toDF("id", "day", "v"),
      Seq("id", "day"), CommitLog.LastWins, "day")
    assert(log.read().as[(Long, String, String)].collect().toSet
      === Set((1L, "d1", "a"), (10L, "d2", "c2")))
    // the reverse misuse: partCol on an untagged table
    val t2 = tmpTable("clog-del-untagged")
    val log2 = CommitLog(spark, t2)
    log2.append(Seq((1L, "a")).toDF("id", "v"))
    val eTagged = intercept[IllegalArgumentException](
      log2.delete($"id" === 1L, partCol = Some("v")))
    assert(eTagged.getMessage.contains("not partition-tagged"))
  }

  test("CHECK constraints refuse violating writes; NULL passes (SQL semantics)") {
    val t = tmpTable("clog-check")
    val log = CommitLog(spark, t)
      .withConstraint("positive_x", $"x" > 0.0)
    log.append(Seq((1L, Some(1.5)), (2L, None: Option[Double])).toDF("id", "x"))
    assert(log.read().count() === 2L) // NULL x passes, like SQL CHECK
    val e = intercept[IllegalArgumentException](
      log.append(Seq((3L, Some(-1.0)), (4L, Some(2.0))).toDF("id", "x")))
    assert(e.getMessage.contains("positive_x") && e.getMessage.contains("1 row"))
    // nothing landed, and the MERGE paths validate the merged state too
    assert(log.read().count() === 2L)
    val e2 = intercept[IllegalArgumentException](
      log.upsert(Seq((1L, Some(-9.0))).toDF("id", "x"),
        Seq("id"), CommitLog.LastWins))
    assert(e2.getMessage.contains("positive_x"))
    assert(log.read().filter($"id" === 1L).select($"x").as[Option[Double]]
      .collect().toSeq === Seq(Some(1.5)))
  }

  test("a constraint on a column the batch omits passes (null passes CHECK)") {
    val t = tmpTable("clog-check-evolve")
    val log = CommitLog(spark, t).withConstraint("positive_x", $"x" > 0.0)
    log.append(Seq((1L, 2.0)).toDF("id", "x"))
    // documented additive evolution: a write missing an existing column
    // holds null there — and NULL passes CHECK, so this must succeed
    log.append(Seq(3L).toDF("id"))
    assert(log.read().count() === 2L)
    assert(log.read().filter($"x".isNull).count() === 1L)
  }

  test("optimize from a config-less instance keeps the bloom index alive") {
    val t = tmpTable("clog-opt-bloom")
    CommitLog(spark, t).withBloomIndex(Seq("k"), bits = 4096, k = 3)
      .append((0L until 200L).map(j => (j, j % 7)).toDF("k", "g").repartition(4))
    // maintenance from a FRESH instance with no writer config
    val fresh = CommitLog(spark, t)
    fresh.optimize(targetFiles = 2)
    val s = fresh.snapshot()
    assert(s.files.size === 2)
    assert(s.files.forall(f => s.entry(f).blooms.contains("k")),
      "optimize must re-derive and re-attach the existing bloom index")
    assert(fresh.readPoint("k", 123L).count() === 1L)
  }

  test("optimize compacts small commits and z-ordering tightens range pruning") {
    val t = tmpTable("clog-optimize")
    val log = CommitLog(spark, t)
    // 8 small interleaved appends: every file spans the whole id range
    (0 until 8).foreach { i =>
      log.append((0L until 50L).map(j => (j * 8 + i, j)).toDF("id", "x")
        .coalesce(1))
    }
    val before = log.read().as[(Long, Long)].collect().toSet
    assert(log.snapshot().files.size === 8)
    val preScan = log.snapshot().files.count { f =>
      log.snapshot().entry(f).colStats.get("id").exists { case (mn: Long, mx: Long) =>
        mx >= 0L && mn <= 40L }
    }
    assert(preScan === 8) // stats prune nothing before clustering
    val v = log.optimize(targetFiles = 4, zorderBy = Seq("id"))
    val s = log.snapshot()
    assert(s.version === v && s.files.size === 4)
    // content bit-identical, only layout changed
    assert(log.read().as[(Long, Long)].collect().toSet === before)
    // the z-ordered layout lets the same range read skip files
    val postScan = s.files.count { f =>
      s.entry(f).colStats.get("id").exists { case (mn: Long, mx: Long) =>
        mx >= 0L && mn <= 40L }
    }
    assert(postScan < 4, s"clustered range should prune, scanned $postScan/4")
    assert(log.readRange("id", 0L, 40L).as[(Long, Long)].collect().map(_._1).sorted
      .toSeq === (0L to 40L).filter(before.map(_._1)).sorted)
    // time travel still reaches the pre-optimize layout
    assert(log.readVersion(v - 1).count() === 400L)
    // a partition-tagged table refuses the flat rewrite
    val t2 = tmpTable("clog-optimize-tagged")
    val log2 = CommitLog(spark, t2)
    log2.appendPartitioned(Seq((1L, "d1")).toDF("id", "day"), "day")
    val e = intercept[IllegalArgumentException](log2.optimize(1))
    assert(e.getMessage.contains("partition-tagged"))
  }

  test("optimizePartitions compacts ONE partition; untouched partitions byte-identical") {
    val t = tmpTable("clog-optparts")
    val log = CommitLog(spark, t)
    // 6 small appends into d1, 2 into d2 — d1 fragments, d2 is fine
    (0 until 6).foreach { i =>
      log.appendPartitioned(
        (0L until 20L).map(j => (i * 20L + j, "d1", j * 1.0)).toDF("id", "day", "x")
          .coalesce(1), "day")
    }
    (0 until 2).foreach { i =>
      log.appendPartitioned(
        (0L until 10L).map(j => (1000L + i * 10 + j, "d2", j * 1.0)).toDF("id", "day", "x")
          .coalesce(1), "day")
    }
    val s0 = log.snapshot()
    val d2Before = s0.files.filter(f => s0.entry(f).partTag.get == "d2").toSet
    assert(s0.files.count(f => s0.entry(f).partTag.get == "d1") === 6)
    val before = log.read().as[(Long, String, Double)].collect().toSet

    val v = log.optimizePartitions("day", targetFilesPerPartition = 1,
      partitions = Seq("d1"))
    val s1 = log.snapshot()
    assert(s1.version === v)
    assert(s1.files.count(f => s1.entry(f).partTag.get == "d1") === 1, "d1 compacted to one file")
    assert(s1.files.filter(f => s1.entry(f).partTag.get == "d2").toSet === d2Before,
      "d2's files must ride through untouched")
    assert(log.read().as[(Long, String, Double)].collect().toSet === before,
      "content is bit-identical")
    // default scope: d2 (2 files > 1 target) compacts on the next call
    val v2 = log.optimizePartitions("day")
    val s2 = log.snapshot()
    assert(v2 === v + 1 && s2.files.size === 2)
    assert(s2.files.forall(s2.entry(_).partTag.isDefined), "all files keep their tags")
    // everything at target already → no new commit
    assert(log.optimizePartitions("day") === v2)
    // a typo'd partition value fails loudly
    val e = intercept[IllegalArgumentException] {
      log.optimizePartitions("day", partitions = Seq("d9"))
    }
    assert(e.getMessage.contains("unknown partition"))
    // an untagged table refuses
    val t2 = tmpTable("clog-optparts-flat")
    val log2 = CommitLog(spark, t2)
    log2.append(Seq((1L, "a")).toDF("id", "v"))
    val e2 = intercept[IllegalArgumentException](log2.optimizePartitions("v"))
    assert(e2.getMessage.contains("not partition-tagged"))
  }

  test("optimizePartitions z-order tightens in-partition range pruning") {
    val t = tmpTable("clog-optparts-z")
    val log = CommitLog(spark, t)
    // interleaved ids: every one of d1's 8 files spans the full id range,
    // so a range read inside d1 must open all of them pre-optimize
    (0 until 8).foreach { i =>
      log.appendPartitioned(
        (0L until 50L).map(j => (j * 8 + i, "d1", j * 1.0)).toDF("id", "day", "x")
          .coalesce(1), "day")
    }
    log.appendPartitioned(
      (0L until 50L).map(j => (j, "d2", 0.0)).toDF("id", "day", "x").coalesce(1),
      "day")
    val before = log.read().as[(Long, String, Double)].collect().toSet
    def d1FilesAdmitting(lo: Long, hi: Long): Int = {
      val s = log.snapshot()
      s.files.count { f =>
        s.entry(f).partTag.get == "d1" && s.entry(f).colStats.get("id").exists {
          case (mn: Long, mx: Long) => mx >= lo && mn <= hi }
      }
    }
    assert(d1FilesAdmitting(0L, 40L) === 8, "interleaved layout prunes nothing")
    val v = log.optimizePartitions("day", targetFilesPerPartition = 4,
      partitions = Seq("d1"), zorderBy = Seq("id"))
    val s = log.snapshot()
    assert(s.version === v)
    assert(s.files.count(f => s.entry(f).partTag.get == "d1") <= 4)
    assert(log.read().as[(Long, String, Double)].collect().toSet === before)
    assert(d1FilesAdmitting(0L, 40L) < 4,
      "z-clustered files must carry tight id stats")
    // the partition column itself is refused as a cluster key
    val eZ = intercept[IllegalArgumentException] {
      log.optimizePartitions("day", zorderBy = Seq("day"))
    }
    assert(eZ.getMessage.contains("constant within"))
  }

  test("history lists retained commits newest-first with actions and txns") {
    val t = tmpTable("clog-history")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"), txn = Some("w" -> 3L)) // v0
    log.upsert(Seq((2L, "b")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins)                                  // v1
    log.compact()                                                     // v2
    val h = log.history()
      .select($"version", $"action", $"checkpoint", $"txn_id")
      .as[(Long, String, Boolean, Option[String])].collect().toSeq
    assert(h === Seq(
      (2L, "replace", true, None),
      (1L, "replace", false, None),
      (0L, "add", false, Some("w"))))
    // every row carries a commit timestamp going forward
    assert(log.history().filter($"ts_millis".isNull).count() === 0L)
    // prune bounds it to the checkpoint suffix
    log.prune()
    assert(log.history().select($"version").as[Long].collect().toSeq === Seq(2L))
  }

  test("readAsOfTime picks the last version committed at or before the bound") {
    val t = tmpTable("clog-asof-ts")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))            // v0
    val t0 = System.currentTimeMillis()
    Thread.sleep(15)
    log.replaceAll(Seq((1L, "A2"), (2L, "b")).toDF("id", "v")) // v1
    Thread.sleep(15)
    val t1 = System.currentTimeMillis()
    log.append(Seq((3L, "c")).toDF("id", "v"))            // v2
    assert(log.readAsOfTime(t0).as[(Long, String)].collect().toSet
      === Set((1L, "a")))
    assert(log.readAsOfTime(t1).as[(Long, String)].collect().toSet
      === Set((1L, "A2"), (2L, "b")))
    assert(log.readAsOfTime(System.currentTimeMillis()).count() === 3L)
    val e = intercept[IllegalArgumentException](log.readAsOfTime(0L))
    assert(e.getMessage.contains("no retained version"))
  }

  test("bloom index prunes point reads where min/max stats cannot") {
    val t = tmpTable("clog-bloom")
    val log = CommitLog(spark, t).withBloomIndex(Seq("k"), bits = 4096, k = 3)
    // interleaved ids: every file spans nearly the whole [0, 400)
    // range, so min/max stats keep ALL files for any point probe —
    // only the bloom can discriminate
    (0 until 4).foreach { i =>
      log.append((0L until 100L).map(j => (j * 4 + i, s"v$i-$j"))
        .toDF("k", "v").coalesce(1))
    }
    assert(log.snapshot().files.size === 4)
    // k=37: 37 % 4 = 1 → lives only in file i=1; stats admit all 4
    val cands = log.pointCandidateFiles("k", 37L)
    assert(cands.size < 4, s"bloom pruned nothing: $cands")
    assert(log.readPoint("k", 37L).as[(Long, String)].collect().toSeq
      === Seq((37L, "v1-9")))
    // NO FALSE NEGATIVES: every present key's point read finds its row
    val all = log.read().as[(Long, String)].collect()
    val sample = all.filter(_._1 % 29 == 0)
    sample.foreach { case (k, v) =>
      assert(log.readPoint("k", k).as[(Long, String)].collect().toSeq
        === Seq((k, v)), s"k=$k")
    }
    // absent values: result empty regardless of how pruning went
    assert(log.readPoint("k", 100000L).count() === 0L)
    // survives compact+prune (the checkpoint restates filters)
    log.compact(); log.prune()
    assert(log.pointCandidateFiles("k", 37L).size < 4)
    assert(log.readPoint("k", 37L).count() === 1L)
  }

  test("bloom probes stringify through the column type (no false negative on Int-vs-double)") {
    val t = tmpTable("clog-bloom-typed")
    val log = CommitLog(spark, t).withBloomIndex(Seq("price"))
    log.append(Seq((1L, 5.0), (2L, 7.5)).toDF("id", "price").coalesce(1))
    // the filter hashed "5.0" (cast(double as string)); an Int probe
    // must reach the same bits, not hash "5" and silently prune
    assert(log.readPoint("price", 5).as[(Long, Double)].collect().toSeq
      === Seq((1L, 5.0)))
    assert(log.readPoint("price", 5.0).as[(Long, Double)].collect().toSeq
      === Seq((1L, 5.0)))
  }

  test("partitioned writes tolerate map-typed columns (salt skips them)") {
    val t = tmpTable("clog-mapcol")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", Map("a" -> 1)), (2L, "d2", Map("b" -> 2)))
        .toDF("id", "day", "attrs"), "day")
    assert(log.readPartitions(Seq("d1")).select($"id").as[Long].collect().toSeq
      === Seq(1L))
  }

  test("readRange/readPoint on a never-committed table answer empty, like read()") {
    val t = tmpTable("clog-empty-reads")
    val log = CommitLog(spark, t)
    assert(log.readRange("x", 1L, 2L).count() === 0L)
    assert(log.readPoint("x", 1L).count() === 0L)
  }

  test("point reads on a pre-bloom table stay correct with no pruning") {
    val t = tmpTable("clog-nobloom")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    log.append(Seq((10L, "c")).toDF("k", "v").coalesce(1))
    // no filters recorded: bloom never prunes, but stats still do
    assert(log.pointCandidateFiles("k", 2L).size === 1)
    assert(log.readPoint("k", 2L).as[(Long, String)].collect().toSeq
      === Seq((2L, "b")))
    val e = intercept[IllegalArgumentException](log.readPoint("k", null))
    assert(e.getMessage.contains("null"))
  }

  test("bloom filters ride through delete and string columns probe exactly") {
    val t = tmpTable("clog-bloom-del")
    val log = CommitLog(spark, t).withBloomIndex(Seq("name"))
    log.append(Seq((1L, "alice"), (2L, "bob")).toDF("id", "name").coalesce(1))
    log.append(Seq((3L, "carol"), (4L, "dave")).toDF("id", "name").coalesce(1))
    assert(log.readPoint("name", "carol").as[(Long, String)].collect().toSeq
      === Seq((3L, "carol")))
    log.delete(org.apache.spark.sql.functions.col("id") === 2L)
    // the untouched file's filter was restated; the rewritten file got
    // a fresh one (same writer config)
    assert(log.readPoint("name", "alice").as[(Long, String)].collect().toSeq
      === Seq((1L, "alice")))
    assert(log.readPoint("name", "bob").count() === 0L)
    assert(log.readPoint("name", "carol").count() === 1L)
    val s = log.snapshot()
    assert(s.files.forall(s.entry(_).blooms.nonEmpty),
      "every live file should carry its bloom after the delete")
  }

  test("readChanges ≡ snapshot diff across append/upsert/replace_parts") {
    val t = tmpTable("clog-cdc")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"), "day") // v0
    log.upsertPartitioned(
      Seq((2L, "d2", "b2"), (3L, "d2", "c")).toDF("id", "day", "v"),
      Seq("id", "day"), CommitLog.LastWins, "day")                         // v1
    log.replacePartitions(Seq((9L, "d1", "z")).toDF("id", "day", "v"), "day") // v2
    // applying the feed to the v0 snapshot reproduces the latest table
    // as a MULTISET: v0 ∪ inserts ∖ deletes (unchanged rows a rewrite
    // re-emitted appear as a delete+insert pair and cancel)
    val ch = log.readChanges(0L)
    val ins = ch.filter($"_change_type" === "insert")
      .drop("_change_type", "_commit_version")
    val del = ch.filter($"_change_type" === "delete")
      .drop("_change_type", "_commit_version")
    val applied = log.readVersion(0L).unionByName(ins).exceptAll(del)
    assert(applied.orderBy($"id").as[(Long, String, String)].collect().toSeq
      === log.read().orderBy($"id").as[(Long, String, String)].collect().toSeq)
    // v1 touched only d2: its delete set is d2's old rows, never d1's
    val v1del = log.readChanges(0L, 1L).filter($"_change_type" === "delete")
    assert(v1del.select($"day").distinct().as[String].collect().toSeq === Seq("d2"))
    // no-change window is empty but keeps the CDC schema
    val none = log.readChanges(2L)
    assert(none.count() === 0L)
    assert(none.columns.contains("_change_type"))
    // a compact checkpoint restates the same live set → contributes nothing
    log.compact()
    assert(log.readChanges(2L).count() === 0L)
    // a pruned-away base version is refused loudly
    log.prune()
    assertThrows[IllegalArgumentException](log.readChanges(1L))
  }

  test("readChanges drives an incremental consumer (the reference's poller pattern)") {
    val t = tmpTable("clog-cdc-poll")
    val log = CommitLog(spark, t)
    val replica = scala.collection.mutable.Map.empty[Long, String]
    var lastSeen = -1L
    // the EP1 poller (/root/reference/index.js:41-59) as an incremental
    // reader: each poll applies only the commits it has not seen,
    // deletes before inserts within a version
    def poll(): Unit = {
      val v = log.snapshot().version
      if (v > lastSeen) {
        val ch = log.readChanges(lastSeen, v)
          .select($"id", $"v", $"_change_type", $"_commit_version")
          .as[(Long, String, String, Long)].collect()
          .sortBy(r => (r._4, if (r._3 == "delete") 0 else 1))
        ch.foreach {
          case (id, _, "delete", _)   => replica.remove(id)
          case (id, value, "insert", _) => replica(id) = value
          case other => fail(s"unexpected change row $other")
        }
        lastSeen = v
      }
    }
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    poll()
    assert(replica === Map(1L -> "a", 2L -> "b"))
    log.upsert(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins)
    log.append(Seq((4L, "d")).toDF("id", "v"))
    poll()
    assert(replica.toMap
      === log.read().as[(Long, String)].collect().map(r => r._1 -> r._2).toMap)
    poll() // idempotent when nothing changed
    assert(replica.size === 4)
  }

  test("graft-cdc: readStream follows the change feed across commits") {
    val t = tmpTable("clog-cdc-src")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))           // v0
    val stream = spark.readStream.format("graft-cdc")
      .option("path", t).load()
    assert(stream.schema.fieldNames.toSeq
      === Seq("id", "v", "_change_type", "_commit_version"))
    val q = stream.writeStream.format("memory").queryName("cdcfeed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a merge mid-stream: its retired and new rows arrive as the
      // next micro-batch, no snapshot diffing anywhere
      log.upsert(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"),
        Seq("id"), CommitLog.LastWins)                              // v1
      q.processAllAvailable()
      val got = spark.table("cdcfeed")
        .select($"id", $"v", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Long)].collect().toSet
      assert(got === Set(
        (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
        (1L, "a", "delete", 1L), (2L, "b", "delete", 1L),
        (1L, "a", "insert", 1L), (2L, "b2", "insert", 1L), (3L, "c", "insert", 1L)))
    } finally q.stop()
  }

  test("graft-cdc: a mid-stream RENAME COLUMN binds by physical name, not null") {
    val t = tmpTable("clog-cdc-rename")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 10.0)).toDF("id", "price"))                 // v0
    val stream = spark.readStream.format("graft-cdc")
      .option("path", t).load()
    // stream schema fixed at start: still speaks 'price'
    assert(stream.schema.fieldNames.contains("price"))
    val q = stream.writeStream.format("memory").queryName("cdcren")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      log.renameColumn("price", "amount")                           // v1
      log.append(Seq((2L, 20.0)).toDF("id", "amount"))              // v2
      q.processAllAvailable()
      val got = spark.table("cdcren")
        .filter($"_change_type" === "insert")
        .select($"id", $"price")
        .as[(Long, Option[Double])].collect().toSet
      // the post-rename insert's value must arrive under the stream's
      // original column name via the stable physical binding — a
      // name-only conform would deliver null here
      assert(got === Set((1L, Some(10.0)), (2L, Some(20.0))))
    } finally q.stop()
  }

  test("graft-cdc: maxVersionsPerTrigger drains a backlog one version per batch") {
    val t = tmpTable("clog-cdc-rate")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))   // v0
    log.append(Seq((2L, "b")).toDF("id", "v"))   // v1
    log.append(Seq((3L, "c")).toDF("id", "v"))   // v2
    val stream = spark.readStream.format("graft-cdc")
      .option("path", t).option("maxVersionsPerTrigger", "1").load()
    val q = stream.writeStream.format("memory").queryName("cdcrate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // the whole backlog arrives…
      assert(spark.table("cdcrate").select($"id").as[Long].collect().toSet
        === Set(1L, 2L, 3L))
      // …but spread over ≥3 micro-batches (1 version each), not one
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 rate-limited batches, saw $dataBatches")
    } finally q.stop()
  }

  test("matview: delta maintenance equals direct aggregate, at any batching") {
    import graft.operators.MatView
    val base = CommitLog(spark, tmpTable("clog-mv-base"))
    base.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 5L))
      .toDF("id", "k", "x"))                                        // v0
    base.upsert(Seq((2L, "b", 25L), (4L, "a", 7L)).toDF("id", "k", "x"),
      Seq("id"), CommitLog.LastWins)                                // v1
    base.delete(org.apache.spark.sql.functions.col("id") === 1L)    // v2
    base.append(Seq((5L, "c", 100L)).toDF("id", "k", "x"))          // v3
    def direct = base.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"x").as("sum_x"))
      .as[(String, Long, Long)].collect().toSet
    for (step <- Seq(1L, 2L, Long.MaxValue)) {
      val viewRoot = tmpTable(s"clog-mv-view-$step")
      MatView.catchUp(spark, viewRoot, base, Seq("k"), Seq("x"), -1L, step)
      val got = CommitLog(spark, viewRoot).read()
        .as[(String, Long, Long)].collect().toSet
      assert(got === direct, s"step=$step")
    }
    // full retraction drops the key from the view
    base.delete(org.apache.spark.sql.functions.col("k") === "c")    // v4
    val vr = tmpTable("clog-mv-view-retract")
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), -1L)
    assert(!CommitLog(spark, vr).read().as[(String, Long, Long)]
      .collect().map(_._1).contains("c"))
  }

  test("matview: null-keyed groups merge and retract like any other key") {
    import graft.operators.MatView
    val base = CommitLog(spark, tmpTable("clog-mv-null-base"))
    base.append(Seq((1L, Some("a"), 10L), (2L, None: Option[String], 20L),
      (3L, None: Option[String], 5L)).toDF("id", "k", "x"))
    val vr = tmpTable("clog-mv-null-view")
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), -1L)
    def view = CommitLog(spark, vr).read()
      .as[(Option[String], Long, Long)].collect().toSet
    assert(view === Set((Some("a"), 1L, 10L), (None, 2L, 25L)))
    // a second delta must MERGE into the null-keyed row (a null-unsafe
    // join would duplicate it), and full retraction must remove it
    base.delete(org.apache.spark.sql.functions.col("id") === 3L)
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), 0L)
    assert(view === Set((Some("a"), 1L, 10L), (None, 1L, 20L)))
    base.delete(org.apache.spark.sql.functions.col("k").isNull)
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), 1L)
    assert(view === Set((Some("a"), 1L, 10L)))
  }

  test("matview: re-running catchUp does not double-apply (txn epochs)") {
    import graft.operators.MatView
    val base = CommitLog(spark, tmpTable("clog-mv-replay-base"))
    base.append(Seq((1L, "a", 10L)).toDF("id", "k", "x"))
    base.append(Seq((2L, "a", 7L)).toDF("id", "k", "x"))
    val vr = tmpTable("clog-mv-replay-view")
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), -1L, step = 1L)
    // same from/step again — every slice is a replayed epoch, a no-op
    MatView.catchUp(spark, vr, base, Seq("k"), Seq("x"), -1L, step = 1L)
    assert(CommitLog(spark, vr).read().as[(String, Long, Long)].collect().toSet
      === Set(("a", 2L, 17L)))
  }

  test("matview: a graft-cdc stream maintains the view exactly-once") {
    import graft.operators.MatView
    val t = tmpTable("clog-mv-stream-base")
    val viewRoot = tmpTable("clog-mv-stream-view")
    val base = CommitLog(spark, t)
    base.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "k", "x"))
    val stream = spark.readStream.format("graft-cdc").option("path", t).load()
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        MatView.applyDelta(spark, viewRoot, batch, Seq("k"), Seq("x"),
          txn = Some("mv" -> batchId)): Unit
      }.start()
    try {
      q.processAllAvailable()
      base.upsert(Seq((2L, "b", 99L), (3L, "a", 1L)).toDF("id", "k", "x"),
        Seq("id"), CommitLog.LastWins)
      q.processAllAvailable()
      val got = CommitLog(spark, viewRoot).read()
        .as[(String, Long, Long)].collect().toSet
      assert(got === Set(("a", 2L, 11L), ("b", 1L, 99L)))
    } finally q.stop()
  }

  test("a 10-partition replace lands its data in ONE write job") {
    val t = tmpTable("clog-onejob")
    val log = CommitLog(spark, t)
    val rows = (0 until 10).flatMap(p =>
      Seq((p * 10L, s"p$p", "seed"), (p * 10L + 1, s"p$p", "seed2")))
    log.appendPartitioned(rows.toDF("id", "day", "v"), "day")
    val gid = s"onejob-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (gid == js.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(gid, "partitioned replace")
      try log.replacePartitions(
        rows.map { case (id, day, _) => (id, day, "v2") }.toDF("id", "day", "v"),
        "day")
      finally spark.sparkContext.clearJobGroup()
      // listener events are async — wait for the bus to drain
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      // the old path issued one job per touched partition (10); the
      // partitionBy write is a single job (AQE may add at most one)
      assert(jobs.get() >= 1 && jobs.get() <= 2,
        s"expected 1 write job for 10 partitions, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    val s = log.snapshot()
    assert(s.entries.values.flatMap(_.partTag).toSet === (0 until 10).map(p => s"p$p").toSet)
    assert(log.read().filter($"v" === "v2").count() === 20L)
  }

  test("partition values with Hive-escaped characters round-trip through tags") {
    val t = tmpTable("clog-esc")
    val log = CommitLog(spark, t)
    // ':' and ' ' are %XX-escaped in partition directory names
    log.appendPartitioned(
      Seq((1L, "2024-01-01 10:00", "a"), (2L, "d2", "b"))
        .toDF("id", "ts", "v"), "ts")
    val s = log.snapshot()
    assert(s.entries.values.flatMap(_.partTag).toSet === Set("2024-01-01 10:00", "d2"))
    assert(log.readPartitions(Seq("2024-01-01 10:00"))
      .select($"id").as[Long].collect().toSeq === Seq(1L))
  }

  test("schema evolution: a type change fails loudly, table unharmed") {
    val t = tmpTable("clog-evo-bad")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      log.append(Seq((2L, 42L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("cannot change column 'v'"))
    assert(log.read().as[(Long, String)].collect().toSet === Set((1L, "a")))
  }

  test("update rewrites matching rows in place and only the touched files") {
    val t = tmpTable("clog-upd")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "x", "v").coalesce(1))
    log.append(Seq((10L, 30.0, "c"), (11L, 40.0, "d")).toDF("id", "x", "v").coalesce(1))
    log.append(Seq((20L, 50.0, "e")).toDF("id", "x", "v").coalesce(1))
    val before = log.snapshot().files.toSet
    assert(log.update($"id" === 10L,
      Map("x" -> ($"x" * 2), "v" -> concat($"v", lit("!")))) === 3L)
    assert(log.read().as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 20.0, "b"),
        (10L, 60.0, "c!"), (11L, 40.0, "d"), (20L, 50.0, "e")))
    // only the file whose stats admit id=10 was rewritten
    val after = log.snapshot().files.toSet
    assert((before intersect after).size === 2)
    assert((after -- before).size === 1)
    // time travel still reaches the pre-update rows
    assert(log.readVersion(2L).filter($"id" === 10L)
      .select($"x").as[Double].head() === 30.0)
    // an update matching nothing LIVE commits no version
    assert(log.update($"id" === 999L, Map("x" -> lit(0.0))) === 3L)
  }

  test("update assigns SIMULTANEOUSLY from old values; keeps column types") {
    val t = tmpTable("clog-upd-sim")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 2.0, 100.0)).toDF("id", "x", "y"))
    // SQL UPDATE: both RHS see the OLD row — x=old y, y=old x
    log.update($"id" === 1L, Map("x" -> $"y", "y" -> $"x"))
    assert(log.read().as[(Long, Double, Double)].head() === ((1L, 100.0, 2.0)))
    // an int-literal assignment casts back to the column's double type
    log.update($"id" === 1L, Map("x" -> lit(7)))
    assert(log.read().schema("x").dataType.typeName === "double")
    assert(log.read().select($"x").as[Double].head() === 7.0)
  }

  test("update refuses unknown columns, the partition column, and NULL-condition rows stay") {
    val t = tmpTable("clog-upd-bad")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", Some(1.0)), (2L, "d1", None: Option[Double]), (3L, "d2", Some(5.0)))
        .toDF("id", "day", "x"), "day")
    val eUnknown = intercept[IllegalArgumentException] {
      log.update($"id" === 1L, Map("nope" -> lit(1)), partCol = Some("day"))
    }
    assert(eUnknown.getMessage.contains("unknown column"))
    val ePart = intercept[IllegalArgumentException] {
      log.update($"id" === 1L, Map("day" -> lit("d9")), partCol = Some("day"))
    }
    assert(ePart.getMessage.contains("partition key column"))
    // x > 2.0 is NULL for id=2 — that row is untouched (SQL semantics)
    log.update($"x" > 2.0, Map("x" -> ($"x" + 1)), partCol = Some("day"))
    assert(log.read().orderBy($"id").select($"x").as[Option[Double]].collect().toSeq
      === Seq(Some(1.0), None, Some(6.0)))
    // tags survived the rewrite
    val s = log.snapshot()
    assert(s.files.forall(s.entry(_).partTag.isDefined))
  }

  test("update validates CHECK constraints on the rewritten rows") {
    val t = tmpTable("clog-upd-chk")
    val log = CommitLog(spark, t).withConstraint("pos_x", $"x" >= 0.0)
    log.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x"))
    val e = intercept[IllegalArgumentException] {
      log.update($"id" === 2L, Map("x" -> lit(-5.0)))
    }
    assert(e.getMessage.contains("pos_x"))
    // nothing committed, table unharmed
    assert(log.snapshot().version === 0L)
    assert(log.read().filter($"x" < 0).count() === 0L)
  }

  test("restore rolls the live state back as a new commit; history survives") {
    val t = tmpTable("clog-restore")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v0
    log.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
      Seq("id"), CommitLog.LastWins)                               // v1
    log.delete($"id" === 1L)                                       // v2
    assert(log.restore(0L) === 3L)
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // the rolled-back versions are still reachable (restore is a commit)
    assert(log.readVersion(2L).as[(Long, String)].collect().toSet
      === Set((2L, "B"), (3L, "c")))
    // restoring the current state is a no-op, no new version
    assert(log.restore(3L) === 3L)
    // CDC sees the restore as an ordinary rewrite at v3
    val feed = log.readChanges(2L)
      .groupBy($"_change_type").count().as[(String, Long)].collect().toMap
    assert(feed("insert") === 2L && feed("delete") === 2L)
  }

  test("randomized mutation sequence matches an in-memory model") {
    // model-based check over the log's whole mutation surface:
    // append / upsert / delete / update / restore in a seeded random
    // order, the table compared to a driver-side Map after every step,
    // and every committed version's state recorded so restores are
    // checked against the EXACT state they claim to bring back.
    val rnd = new scala.util.Random(42)
    val t = tmpTable("clog-model")
    val log = CommitLog(spark, t)
    var model = Map.empty[Long, (Double, String)] // id -> (x, v)
    var byVersion = Map.empty[Long, Map[Long, (Double, String)]]
    var nextId = 0L
    def df(rows: Seq[(Long, Double, String)]) = rows.toDF("id", "x", "v")
    def record(version: Long): Unit = byVersion += version -> model
    def check(): Unit =
      assert(log.read().as[(Long, Double, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap === model)

    val seed = (0 until 6).map { _ =>
      nextId += 1; (nextId, nextId * 10.0, s"v$nextId")
    }
    seed.foreach(r => model += r._1 -> ((r._2, r._3)))
    record(log.append(df(seed)))
    check()

    for (_ <- 1 to 18) {
      rnd.nextInt(6) match {
        case 0 => // append fresh ids
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextId += 1; (nextId, nextId * 10.0, s"v$nextId")
          }
          rows.foreach(r => model += r._1 -> ((r._2, r._3)))
          record(log.append(df(rows)))
        case 1 => // upsert: mutate some existing + insert one new
          val existing = rnd.shuffle(model.keys.toSeq).take(2)
            .map(id => (id, model(id)._1 + 1.0, model(id)._2 + "u"))
          nextId += 1
          val rows = existing :+ ((nextId, nextId * 10.0, s"v$nextId"))
          rows.foreach(r => model += r._1 -> ((r._2, r._3)))
          record(log.upsert(df(rows), Seq("id"), CommitLog.LastWins))
        case 2 => // delete a value band
          val c = (rnd.nextInt(20) + 1) * 10.0
          val before = log.snapshot().version
          val v = log.delete($"x" >= c && $"x" < c + 30.0)
          model = model.filterNot { case (_, (x, _)) => x >= c && x < c + 30.0 }
          if (v != before) record(v)
        case 3 => // update a keyed slice simultaneously (x doubles, v tags)
          val m = 2 + rnd.nextInt(3)
          val before = log.snapshot().version
          val v = log.update($"id" % m === 0,
            Map("x" -> ($"x" * 2), "v" -> concat($"v", lit("*"))))
          model = model.map { case (id, (x, s)) =>
            if (id % m == 0) id -> ((x * 2, s + "*")) else id -> ((x, s))
          }
          if (v != before) record(v)
        case 4 => // restore to a random recorded version
          val targets = byVersion.keys.toSeq.sorted
          val target = targets(rnd.nextInt(targets.length))
          val v = log.restore(target)
          model = byVersion(target)
          record(v)
        case 5 => // MERGE: delete-if-tagged, else update, insert the rest
          val matchedIds = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
          val srcMatched = matchedIds.map(id =>
            (id, model(id)._1 + 0.5,
              if (rnd.nextBoolean()) "KILL" else s"m$id"))
          val srcNew = (0 until rnd.nextInt(2)).map { _ =>
            nextId += 1; (nextId, nextId * 10.0, s"v$nextId")
          }
          val src = srcMatched ++ srcNew
          val before = log.snapshot().version
          val v = log.merge(df(src), Seq("id"), Seq(
            CommitLog.WhenMatchedDelete(Some(col("s.v") === "KILL")),
            CommitLog.WhenMatchedUpdate(
              Map("x" -> col("s.x"), "v" -> col("s.v"))),
            CommitLog.WhenNotMatchedInsert()))
          src.foreach { case (id, x, s) =>
            if (model.contains(id)) {
              if (s == "KILL") model -= id else model += id -> ((x, s))
            } else model += id -> ((x, s))
          }
          if (v != before) record(v)
      }
      check()
    }
    // the final state survives a maintenance cycle
    log.compact(); log.prune(); log.vacuum()
    check()
  }

  test("restore refuses pruned-past versions and vacuumed files") {
    val t = tmpTable("clog-restore-bad")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))                     // v0
    log.replaceAll(Seq((2L, "b")).toDF("id", "v"))                 // v1
    log.replaceAll(Seq((3L, "c")).toDF("id", "v"))                 // v2
    val eFuture = intercept[IllegalArgumentException] { log.restore(9L) }
    assert(eFuture.getMessage.contains("cannot restore"))
    // retire history: checkpoint at v3, drop the prefix, reclaim files
    log.compact(); log.prune(); log.vacuum()
    val ePruned = intercept[IllegalArgumentException] { log.restore(0L) }
    assert(ePruned.getMessage.contains("not retained"))
    assert(log.read().as[(Long, String)].collect().toSet === Set((3L, "c")))
  }

  test("vacuum reclaims ONLY aged crashed-writer staging dirs; fresh ones survive") {
    val t = tmpTable("clog-vac-staging")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    // simulate a crashed partitioned write and a crashed row-level op
    // (aged past the TTL), plus a FRESH dir standing in for a live
    // statement between task commit and driver commit
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 2 * CommitLog.StagingReclaimTtlMs
    Seq(".tmp-deadbeef", ".rowlevel-deadbeef").foreach { n =>
      val p = new org.apache.hadoop.fs.Path(root, n)
      fs.mkdirs(p); fs.setTimes(p, old, -1)
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".rowlevel-live"))
    // a crashed LogStore publisher's orphan manifest tmp (written,
    // never linked) gets a LARGER grace (4× the staging TTL — losing a
    // stalled publisher's commit is harsher than re-staging data):
    // aged past 4× ⇒ reclaimed; past the staging TTL but within 4× ⇒
    // kept; fresh ⇒ kept (commit in flight)
    val logdir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    val veryOld = System.currentTimeMillis() - 5 * CommitLog.StagingReclaimTtlMs
    val ages = Seq("aged" -> Some(veryOld), "stalled" -> Some(old),
      "fresh" -> None)
    ages.foreach { case (tag, ts) =>
      val p = new org.apache.hadoop.fs.Path(logdir, s".tmp-$tag.json")
      val out = fs.create(p, true)
      try out.write("{}".getBytes("UTF-8")) finally out.close()
      ts.foreach(t => fs.setTimes(p, t, -1))
    }
    log.vacuum()
    val left = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(!left.contains(".tmp-deadbeef") && !left.contains(".rowlevel-deadbeef"),
      s"aged staging dirs must be reclaimed, found $left")
    assert(left.contains(".rowlevel-live"),
      "a fresh staging dir (possibly a live statement's) must NOT be reclaimed")
    val logLeft = fs.listStatus(logdir).map(_.getPath.getName).toSet
    assert(!logLeft.contains(".tmp-aged.json"),
      s"aged orphan manifest tmp must be reclaimed, found $logLeft")
    assert(logLeft.contains(".tmp-stalled.json"),
      "a manifest tmp past the staging TTL but within the 4x manifest " +
        "grace must NOT be reclaimed (publisher may be stalled, not dead)")
    assert(logLeft.contains(".tmp-fresh.json"),
      "a fresh manifest tmp (possibly a commit in flight) must NOT be reclaimed")
    assert(log.read().count() === 1L, "live data untouched")
  }

  test("commitStagedReplace fails loudly when the staging dir is missing") {
    val t = tmpTable("clog-staged-missing")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val snap0 = log.read().as[(Long, String)].collect().toSet
    val e = intercept[IllegalStateException] {
      log.commitStagedReplace(s"$t/.rowlevel-never-created",
        expectedVersion = 0L, retire = Set.empty)
    }
    assert(e.getMessage.contains("staging dir"))
    // and nothing was committed — the table is untouched
    assert(log.read().as[(Long, String)].collect().toSet === snap0)
  }

  test("merge applies update+delete+insert in ONE commit; untouched files survive") {
    val t = tmpTable("clog-mrg")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "x", "v").coalesce(1))
    log.append(Seq((10L, 30.0, "c"), (11L, 40.0, "d")).toDF("id", "x", "v").coalesce(1))
    log.append(Seq((20L, 50.0, "e")).toDF("id", "x", "v").coalesce(1))
    val before = log.snapshot().files.toSet
    // source hits files 1 (id=2) and 2 (id=10); file 3 must ride through
    val src = Seq((2L, 99.0, "B"), (10L, 0.0, "DEL"), (42L, 7.0, "new"))
      .toDF("id", "x", "v")
    val v = log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedDelete(Some(col("s.v") === "DEL")),
      CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x"), "v" -> col("s.v"))),
      CommitLog.WhenNotMatchedInsert()))
    assert(v === 3L) // ONE commit for all three actions
    assert(log.read().as[(Long, Double, String)].collect().toSet
      === Set((1L, 10.0, "a"), (2L, 99.0, "B"),       // update landed
        (11L, 40.0, "d"), (20L, 50.0, "e"),           // untouched rode through
        (42L, 7.0, "new")))                           // insert landed, 10 deleted
    val after = log.snapshot().files.toSet
    assert((before intersect after).size === 1, "the id=20 file must not rewrite")
    // a merge that changes nothing commits no version
    val noop = log.merge(Seq((999L, 0.0, "z")).toDF("id", "x", "v"), Seq("id"),
      Seq(CommitLog.WhenMatchedUpdate(Map("x" -> lit(0.0)))))
    assert(noop === 3L)
  }

  test("merge clause order is first-true-wins (ANSI MERGE)") {
    val t = tmpTable("clog-mrg-ord")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 5.0), (2L, 50.0)).toDF("id", "x"))
    val src = Seq((1L, 0.0), (2L, 0.0)).toDF("id", "x")
    // delete-first: x<10 deletes id=1; the unconditional update catches id=2
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedDelete(Some(col("t.x") < 10.0)),
      CommitLog.WhenMatchedUpdate(Map("x" -> (col("t.x") + 1000.0)))))
    assert(log.read().as[(Long, Double)].collect().toSet === Set((2L, 1050.0)))
    // update-first on the same shape: the delete clause never fires
    val t2 = tmpTable("clog-mrg-ord2")
    val log2 = CommitLog(spark, t2)
    log2.append(Seq((1L, 5.0), (2L, 50.0)).toDF("id", "x"))
    log2.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("x" -> (col("t.x") + 1000.0))),
      CommitLog.WhenMatchedDelete(Some(col("t.x") < 10.0))))
    assert(log2.read().as[(Long, Double)].collect().toSet
      === Set((1L, 1005.0), (2L, 1050.0)))
  }

  test("merge refuses duplicate source keys; null-keyed source rows insert") {
    val t = tmpTable("clog-mrg-dup")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      log.merge(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"),
        Seq(CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v")))))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // null keys never match — they are NOT-MATCHED inserts (SQL), and
    // two of them do not trip the cardinality check
    val src = Seq((None: Option[Long], "n1"), (None, "n2"), (Some(1L), "A"))
      .toDF("id", "v")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
      CommitLog.WhenNotMatchedInsert()))
    assert(log.read().as[(Option[Long], String)].collect().toSet
      === Set((Some(1L), "A"), (None, "n1"), (None, "n2")))
  }

  test("merge with conditional insert, schema evolution, and t/s-referencing conditions") {
    val t = tmpTable("clog-mrg-evo")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    // source carries a NEW column `tag`; only qualified rows insert;
    // the update condition compares both sides
    val src = Seq((1L, 5.0, "small"), (3L, 30.0, "in"), (4L, 1.0, "out"))
      .toDF("id", "x", "tag")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x")),
        condition = Some(col("s.x") < col("t.x"))),
      CommitLog.WhenNotMatchedInsert(condition = Some(col("s.x") >= 10.0))))
    val got = log.read().orderBy($"id")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(got === Seq(
      (1L, 5.0, None),          // updated (5 < 10); old row reads null tag
      (2L, 20.0, None),         // matched nothing? no — unmatched target rides
      (3L, 30.0, Some("in"))))  // conditional insert; id=4 filtered out
  }

  test("merge on a partition-tagged table keeps tags and refuses partCol assignment") {
    val t = tmpTable("clog-mrg-part")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0)).toDF("id", "day", "x"),
      "day")
    val ePart = intercept[IllegalArgumentException] {
      log.merge(Seq((1L, "d9", 0.0)).toDF("id", "day", "x"), Seq("id"),
        Seq(CommitLog.WhenMatchedUpdate(Map("day" -> col("s.day")))),
        partCol = Some("day"))
    }
    assert(ePart.getMessage.contains("partition column"))
    log.merge(Seq((1L, "d1", 100.0), (9L, "d3", 9.0)).toDF("id", "day", "x"),
      Seq("id"), Seq(
        CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x"))),
        CommitLog.WhenNotMatchedInsert()),
      partCol = Some("day"))
    assert(log.read().as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 100.0), (2L, "d1", 2.0), (3L, "d2", 3.0), (9L, "d3", 9.0)))
    val s = log.snapshot()
    assert(s.files.forall(s.entry(_).partTag.isDefined), "all files keep partition tags")
    assert(s.entries.values.flatMap(_.partTag).toSet === Set("d1", "d2", "d3"))
  }

  test("concurrent merges with disjoint keys all land losslessly") {
    val t = tmpTable("clog-mrg-conc")
    CommitLog(spark, t).append(Seq((-1L, 0.0)).toDF("id", "x"))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val futures = (0 until 4).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog(spark, t).merge(
            Seq((w.toLong, w.toDouble)).toDF("id", "x"), Seq("id"), Seq(
              CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x"))),
              CommitLog.WhenNotMatchedInsert()))
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.sorted === (1L to 4L), "every merge won some version")
    assert(CommitLog(spark, t).read().as[(Long, Double)].collect().toSet
      === Set((-1L, 0.0), (0L, 0.0), (1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("concurrent optimizePartitions of disjoint partitions both land losslessly") {
    val t = tmpTable("clog-optparts-conc")
    val log = CommitLog(spark, t)
    (0 until 3).foreach { i =>
      log.appendPartitioned(
        Seq((i * 2L, "d1", 1.0), (i * 2L + 1, "d2", 2.0)).toDF("id", "day", "x")
          .coalesce(1), "day")
    }
    val before = CommitLog(spark, t).read()
      .as[(Long, String, Double)].collect().toSet
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val futures = Seq("d1", "d2").map { d =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          CommitLog(spark, t).optimizePartitions("day", partitions = Seq(d))
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.sorted === Seq(3L, 4L), "both optimizes won a version")
    val s = CommitLog(spark, t).snapshot()
    assert(s.files.size === 2, "each partition compacted to one file")
    assert(s.files.forall(s.entry(_).partTag.isDefined))
    assert(CommitLog(spark, t).read().as[(Long, String, Double)].collect().toSet
      === before, "content is bit-identical after racing optimizes")
  }

  test("merge validates CHECK constraints and txn epochs make it a replay no-op") {
    val t = tmpTable("clog-mrg-chk")
    val log = CommitLog(spark, t).withConstraint("pos_x", $"x" >= 0.0)
    log.append(Seq((1L, 1.0)).toDF("id", "x"))
    val e = intercept[IllegalArgumentException] {
      log.merge(Seq((1L, -9.0)).toDF("id", "x"), Seq("id"),
        Seq(CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x")))))
    }
    assert(e.getMessage.contains("pos_x"))
    assert(log.snapshot().version === 0L, "nothing committed")
    val v1 = log.merge(Seq((1L, 5.0)).toDF("id", "x"), Seq("id"),
      Seq(CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x")))), txn = Some("m" -> 0L))
    val v2 = log.merge(Seq((1L, 777.0)).toDF("id", "x"), Seq("id"),
      Seq(CommitLog.WhenMatchedUpdate(Map("x" -> col("s.x")))), txn = Some("m" -> 0L))
    assert(v2 === v1, "same (writer, epoch) replays as a no-op")
    assert(log.read().select($"x").as[Double].head() === 5.0)
  }

  test("LogStore is pluggable: a configured class carries every manifest publish") {
    val t = tmpTable("clog-logstore")
    CountingLogStore.puts.set(0)
    spark.conf.set(graft.sources.LogStore.ConfKey, classOf[CountingLogStore].getName)
    try {
      val log = CommitLog(spark, t)
      log.append(Seq((1L, "a")).toDF("id", "v"))
      log.append(Seq((2L, "b")).toDF("id", "v"))
      assert(CountingLogStore.puts.get() === 2,
        "both commits must publish through the configured store")
      assert(log.read().count() === 2L)
      // a broken class name fails loudly at handle creation, not silently
      spark.conf.set(graft.sources.LogStore.ConfKey, "no.such.Store")
      intercept[IllegalArgumentException] { CommitLog(spark, tmpTable("clog-ls2")) }
    } finally spark.conf.unset(graft.sources.LogStore.ConfKey)
  }

  test("default LogStore refuses object-store schemes instead of racing") {
    // s3a has no atomic create-if-absent; the default must fail loudly
    // (a conditional-PUT store is the configured path there)
    val e = intercept[IllegalArgumentException] {
      graft.sources.HadoopLogStore.putIfAbsent(
        new org.apache.hadoop.fs.RawLocalFileSystem() {
          initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
          override def makeQualified(p: org.apache.hadoop.fs.Path) =
            new org.apache.hadoop.fs.Path("s3a://bucket" + p.toUri.getPath)
        },
        new org.apache.hadoop.fs.Path("/t/_graft_log/0.json"), "{}")
    }
    assert(e.getMessage.contains("conditional-PUT"))
  }

  // ── column mapping: RENAME / DROP without rewriting data ──────────

  test("renameColumn is metadata-only: old files read under the new name") {
    val t = tmpTable("clog-rename")
    val log = CommitLog(spark, t).withBloomIndex(Seq("v"))
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // v0
    val filesBefore = log.snapshot().files.toSet
    log.renameColumn("v", "val")                                    // v1
    assert(log.snapshot().files.toSet === filesBefore,
      "rename must not touch a single data file")
    // old data reads under the NEW logical name
    assert(log.read().columns.toSeq === Seq("id", "val"))
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // writes under the new name land and merge with old files
    log.append(Seq((3L, "c")).toDF("id", "val"))                    // v2
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel: pre-rename versions keep the OLD name
    assert(log.readVersion(0).columns.toSeq === Seq("id", "v"))
    assert(log.readVersion(0).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // stats + bloom pruning survive the rename: physical keys are
    // stable, lookups translate the new logical name
    assert(log.readPoint("val", "c").as[(Long, String)].collect().toSet
      === Set((3L, "c")))
    assert(log.pointCandidateFiles("val", "zzz-absent").isEmpty ||
      log.pointCandidateFiles("val", "zzz-absent").size
        < log.snapshot().files.size,
      "bloom pruning must still rule out files for the renamed column")
    assert(log.readRange("id", 3L, 9L).as[(Long, String)].collect().toSet
      === Set((3L, "c")))
    // a second rename keeps the SAME physical anchor
    log.renameColumn("val", "value")                                // v3
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a CONFIG-LESS instance keeps the bloom index alive across the
    // renames: the derived config re-expresses the physical filter
    // keys in CURRENT logical names, and the new file's filter lands
    // back under the stable physical key
    val log2 = CommitLog(spark, t)
    log2.append(Seq((4L, "d")).toDF("id", "value"))                 // v4
    val s2 = log2.snapshot()
    assert(s2.files.forall(f => s2.entry(f).blooms.contains("v")),
      "every file (incl. the post-rename config-less append) must carry " +
        "a bloom under the stable physical key")
    assert(log2.readPoint("value", "d").as[(Long, String)].collect().toSet
      === Set((4L, "d")))
    // renaming onto a live name refuses
    val e = intercept[IllegalArgumentException] {
      log.renameColumn("value", "id")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("library update/merge and CDC apply the column mapping after a rename") {
    val t = tmpTable("clog-rename-dml")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"))    // v0
    log.renameColumn("price", "amount")                             // v1
    // row-level update addressed by the NEW name rewrites old files
    log.update(col("id") === 2L, Map("amount" -> lit(21.0)))        // v2
    assert(log.read().as[(Long, Double)].collect().toSet
      === Set((1L, 10.0), (2L, 21.0)))
    // merge through the new name
    log.merge(Seq((1L, 11.0), (3L, 30.0)).toDF("id", "amount"), Seq("id"),
      Seq(CommitLog.WhenMatchedUpdate(Map("amount" -> col("s.amount"))),
        CommitLog.WhenNotMatchedInsert()))                          // v3
    assert(log.read().as[(Long, Double)].collect().toSet
      === Set((1L, 11.0), (2L, 21.0), (3L, 30.0)))
    // the change feed across the rename normalizes every piece to the
    // LATEST logical names (physical match), so one column never
    // splits into two just because it was renamed mid-window
    val feed = log.readChanges(-1L)
    assert(feed.columns.contains("amount") && !feed.columns.contains("price"),
      s"feed columns ${feed.columns.toSeq} must use the latest naming")
    val applied = feed.filter(col("_change_type") === "insert")
      .groupBy(col("id")).agg(org.apache.spark.sql.functions.max_by(
        col("amount"), col("_commit_version")).as("amount"))
    // net-of-feed equals the table for a keyed apply
    assert(applied.as[(Long, Double)].collect().toSet
      === log.read().as[(Long, Double)].collect().toSet)
  }

  test("dropColumn retires the physical name: a re-added column never resurrects old data") {
    val t = tmpTable("clog-drop")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "secret")).toDF("id", "v"))                 // v0
    log.dropColumn("v")                                             // v1
    assert(log.read().columns.toSeq === Seq("id"))
    // re-ADD the same logical name: fresh physical — old bytes stay
    // invisible even though the old file still physically holds them
    log.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))   // v2
    assert(log.read().as[(Long, Option[String])].collect().toSet
      === Set((1L, None)), "dropped data must NOT resurrect under a re-added name")
    log.append(Seq((2L, "new")).toDF("id", "v"))                    // v3
    assert(log.read().as[(Long, Option[String])].collect().toSet
      === Set((1L, None), (2L, Some("new"))))
    // time travel still reaches the dropped column's data
    assert(log.readVersion(0).as[(Long, String)].collect().toSet
      === Set((1L, "secret")))
    // compact + reopen: the retired-physical list survives checkpoints
    log.compact()                                                   // v4
    val log2 = CommitLog(spark, t)
    assert(log2.snapshot().physRetired === Seq("v"))
    assert(log2.read().as[(Long, Option[String])].collect().toSet
      === Set((1L, None), (2L, Some("new"))))
    // dropping the last column refuses
    log2.dropColumn("v")                                            // v5
    val e = intercept[IllegalArgumentException] { log2.dropColumn("id") }
    assert(e.getMessage.contains("last column"))
  }

  test("drop then MERGE-insert re-add: evolved column gets a fresh physical name") {
    // the r12 fix: merge()'s evolved schema must go through assignPhys
    // like append/upsert — otherwise a merge-insert whose source
    // carries a column named like a RETIRED physical name commits it
    // with the identity physical name and pre-drop files silently
    // resurrect the dropped column's bytes
    val t = tmpTable("clog-merge-readd")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "secret")).toDF("id", "v"))                 // v0
    log.dropColumn("v")                                             // v1
    // merge with an insert clause whose source re-introduces "v"
    log.merge(
      Seq((2L, "new")).toDF("id", "v"), Seq("id"),
      Seq(CommitLog.WhenNotMatchedInsert()))                        // v2
    val got = log.read().as[(Long, Option[String])].collect().toSet
    assert(got === Set((1L, None), (2L, Some("new"))),
      "merge-insert re-add must NOT resurrect dropped data from pre-drop files")
    // the committed mapping must give the re-added column a suffixed
    // physical name (the retired identity name stays taken)
    val s = log.snapshot()
    val f = s.schema.get.fields.find(_.name == "v").get
    assert(CommitLog.physNameOf(f) !== "v",
      s"re-added 'v' must carry a non-identity physical name, got ${CommitLog.physNameOf(f)}")
    // and a rename + merge-insert of a column colliding with the LIVE
    // physical name must not produce duplicate physical fields
    val t2 = tmpTable("clog-merge-renclash")
    val log2 = CommitLog(spark, t2)
    log2.append(Seq((1L, 10.0)).toDF("id", "x"))                    // v0
    log2.renameColumn("x", "price")                                 // v1 (phys stays "x")
    log2.merge(
      Seq((2L, 20.0, 7L)).toDF("id", "price", "x"), Seq("id"),
      Seq(CommitLog.WhenNotMatchedInsert()))                        // v2: evolves "x"
    val phys = log2.snapshot().schema.get.fields.map(CommitLog.physNameOf)
    assert(phys.distinct.length === phys.length,
      s"physical names must stay unique, got ${phys.mkString(", ")}")
    assert(log2.read().select("id", "price", "x")
      .as[(Long, Double, Option[Long])].collect().toSet
      === Set((1L, 10.0, None), (2L, 20.0, Some(7L))))
  }

  test("deleteAndAppend: the swap is ONE commit; null keys never match; schema evolves") {
    val t = tmpTable("clog-del-app")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))  // v0
    // delete id=2 (99 matches nothing) + append id=4 — atomically
    val v1 = log.deleteAndAppend(Seq(2L, 99L).toDF("id"), Seq("id"),
      Seq((4L, "d")).toDF("id", "v"))
    assert(v1 === 1L, "swap must be exactly one commit")
    assert(log.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (3L, "c"), (4L, "d")))
    // the pre-swap version is intact (no intermediate deleted state)
    assert(log.readVersion(0).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // null match keys never match; empty rows → no-op, no commit
    val v2 = log.deleteAndAppend(
      Seq(Option.empty[java.lang.Long]).toDF("id"), Seq("id"),
      Seq.empty[(Long, String)].toDF("id", "v"))
    assert(v2 === 1L && log.snapshot().version === 1L)
    // nothing matches but rows land → plain append, one commit
    val v3 = log.deleteAndAppend(Seq(77L).toDF("id"), Seq("id"),
      Seq((5L, "e")).toDF("id", "v"))
    assert(v3 === 2L)
    // additive schema evolution through the swap, like append
    val v4 = log.deleteAndAppend(Seq(1L).toDF("id"), Seq("id"),
      Seq((6L, "f", 1.5)).toDF("id", "v", "w"))
    assert(v4 === 3L)
    assert(log.read().as[(Long, String, Option[Double])].collect().toSet
      === Set((3L, "c", None), (4L, "d", None), (5L, "e", None),
        (6L, "f", Some(1.5))))
    // partition-tagged form: tags survive, all files stay tagged
    val t2 = tmpTable("clog-del-app-part")
    val log2 = CommitLog(spark, t2)
    log2.appendPartitioned(
      Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
        .toDF("id", "day", "x"), "day")                               // v0
    val pv = log2.deleteAndAppend(Seq(2L).toDF("id"), Seq("id"),
      Seq((4L, "d3", 4.0)).toDF("id", "day", "x"), partCol = Some("day"))
    assert(pv === 1L)
    val s2 = log2.snapshot()
    assert(s2.files.nonEmpty && s2.files.forall(s2.entry(_).partTag.isDefined),
      "every file must keep a partition tag through the swap")
    assert(log2.read().as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (3L, "d2", 3.0), (4L, "d3", 4.0)))
    assert(log2.readPartitions(Seq("d3")).as[(Long, String, Double)]
      .collect().toSet === Set((4L, "d3", 4.0)))
  }

  test("rename on a partition-tagged table: scoped merges keep working") {
    val t = tmpTable("clog-rename-part")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
        .toDF("id", "day", "x"), "day")                             // v0
    log.renameColumn("x", "price")                                  // v1
    log.upsertPartitioned(
      Seq((1L, "2024-01-01", 9.0), (3L, "2024-01-02", 3.0))
        .toDF("id", "day", "price"),
      Seq("id", "day"), CommitLog.LastWins, "day")                  // v2
    assert(log.read().as[(Long, String, Double)].collect().toSet
      === Set((1L, "2024-01-01", 9.0), (2L, "2024-01-02", 2.0),
        (3L, "2024-01-02", 3.0)))
    assert(log.readPartitions(Seq("2024-01-02"))
      .as[(Long, String, Double)].collect().toSet
      === Set((2L, "2024-01-02", 2.0), (3L, "2024-01-02", 3.0)))
  }

  test("materializeMapping rewrites files back to logical names and resets the retired list") {
    val t = tmpTable("clog-materialize")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "w")) // v0
    log.renameColumn("v", "val")                                          // v1
    log.dropColumn("w")                                                   // v2
    val before = log.read().as[(Long, String)].collect().toSet
    val filesBefore = log.snapshot().files.toSet
    log.materializeMapping()                                              // v3
    val s = log.snapshot()
    // mapping is identity again, retired list reset, content unchanged
    assert(s.schema.get.fields.forall(f =>
      !f.metadata.contains(CommitLog.PhysKey)))
    assert(s.physRetired.isEmpty)
    assert(log.read().as[(Long, String)].collect().toSet === before)
    assert(s.files.toSet.intersect(filesBefore).isEmpty,
      "materialize must rewrite the data files")
    // re-adding the dropped name on the REWRITTEN table reads null (the
    // new files simply lack the column — no retired list needed)
    log.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType))))                         // v4
    assert(log.read().as[(Long, String, Option[String])].collect().toSet
      === before.map(r => (r._1, r._2, None)))
    // time travel still reads the pre-materialize mapping
    assert(log.readVersion(1).columns.toSeq === Seq("id", "val", "w"))
    // idempotent: a repeat call on the identity-mapped table is a
    // no-op returning the current version (v4 after the re-add above)
    val v = log.snapshot().version
    assert(log.materializeMapping() === v)
    assert(log.snapshot().version === v)
  }

  test("materializeMapping on a partition-tagged table keeps tags and scoped merges") {
    val t = tmpTable("clog-materialize-part")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "day", "x"), "day") // v0
    log.renameColumn("x", "price")                                          // v1
    log.materializeMapping(partCol = Some("day"))                           // v2
    assert(log.snapshot().schema.get.fields.forall(f =>
      !f.metadata.contains(CommitLog.PhysKey)))
    // still consistently tagged: the scoped merge path accepts it
    log.upsertPartitioned(Seq((3L, "d2", 3.0)).toDF("id", "day", "price"),
      Seq("id", "day"), CommitLog.LastWins, "day")                          // v3
    assert(log.read().as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d2", 3.0)))
  }

  // ── SHALLOW CLONE (cloneTo) ─────────────────────────────────────────

  private def dataFilesOf(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root + "/data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
  }

  test("shallow clone: zero-copy fork; writes to either side never cross") {
    val src = tmpTable("clog-clone-src")
    val dst = tmpTable("clog-clone-dst")
    val log = CommitLog(spark, src)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // v0
    log.append(Seq((3L, "c")).toDF("id", "v"))              // v1

    assert(log.cloneTo(dst) === 0L)
    val clone = CommitLog(spark, dst)
    assert(clone.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // ZERO data copied: the clone's own data dir is empty, every
    // manifest entry is an absolute reference into the source
    assert(dataFilesOf(dst).isEmpty)

    // divergence: append lands under the CLONE root only
    clone.append(Seq((4L, "d")).toDF("id", "v"))            // clone v1
    assert(dataFilesOf(dst).nonEmpty)
    assert(clone.read().count() === 4L)
    assert(log.read().count() === 3L)

    // copy-on-write on the source never disturbs the clone (retired
    // source files stay on disk until the SOURCE vacuums)
    log.delete(col("id") === 1L)
    assert(log.read().count() === 2L)
    assert(clone.read().count() === 4L)

    // the clone has its OWN history: v0 = the fork point
    assert(clone.readVersion(0L).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("shallow clone pins a version; target-not-empty and no-commits refused") {
    val src = tmpTable("clog-clonev-src")
    val log = CommitLog(spark, src)
    intercept[IllegalArgumentException] {
      log.cloneTo(tmpTable("clog-clonev-none")) // no commits yet
    }
    log.append(Seq((1L, "a")).toDF("id", "v"))              // v0
    log.append(Seq((2L, "b")).toDF("id", "v"))              // v1
    val dst = tmpTable("clog-clonev-dst")
    assert(log.cloneTo(dst, version = Some(0L)) === 0L)
    assert(CommitLog(spark, dst).read().as[(Long, String)].collect().toSet
      === Set((1L, "a")))
    intercept[IllegalArgumentException] {
      log.cloneTo(dst) // already has a log
    }
  }

  test("shallow clone carries partition tags, stats, and column mapping") {
    val src = tmpTable("clog-clonem-src")
    val dst = tmpTable("clog-clonem-dst")
    val log = CommitLog(spark, src)
    log.appendPartitioned(
      Seq((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d2", 3.0))
        .toDF("id", "day", "x"), "day")                     // v0
    log.renameColumn("x", "price")                          // v1 (mapped)
    log.cloneTo(dst)
    val clone = CommitLog(spark, dst)
    // mapping carried: reads surface the LOGICAL name over the
    // physically-named source files
    assert(clone.read().columns.toSeq === Seq("id", "day", "price"))
    // per-file stats carried: range read stays correct (and prunable)
    assert(clone.snapshot().entries.values.exists(_.hasStats))
    assert(clone.readRange("id", 2L, 3L).count() === 2L)
    // partition tags carried: the scoped paths accept the clone as-is
    clone.replacePartitions(
      Seq((9L, "d2", 9.0)).toDF("id", "day", "price"), "day")
    assert(clone.read().as[(Long, String, Double)].collect().toSet
      === Set((1L, "d1", 1.0), (9L, "d2", 9.0)))
    // the source never moved
    assert(log.read().count() === 3L)
  }

  test("clone vacuum spares source files; optimize localizes the clone") {
    val src = tmpTable("clog-clonev2-src")
    val dst = tmpTable("clog-clonev2-dst")
    val log = CommitLog(spark, src)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    log.cloneTo(dst)
    val clone = CommitLog(spark, dst)
    // vacuum on the CLONE sweeps only its own data dir — the
    // referenced source files are out of scope by construction
    clone.vacuum(stagingTtlMs = 0L)
    assert(log.read().count() === 2L)
    assert(clone.read().count() === 2L)
    // any rewrite LOCALIZES: after optimize the clone references only
    // its own files, so even deleting the source's data physically
    // (a source past its retention) leaves the clone readable
    clone.optimize(targetFiles = 1)
    assert(dataFilesOf(dst).nonEmpty)
    val sfs = new org.apache.hadoop.fs.Path(src + "/data")
    val fs = sfs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(sfs, true)
    assert(clone.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
  }

  test("clone of a clone keeps absolute references intact") {
    val a = tmpTable("clog-clonecc-a")
    val b = tmpTable("clog-clonecc-b")
    val c = tmpTable("clog-clonecc-c")
    val log = CommitLog(spark, a)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    log.cloneTo(b)
    val cloneB = CommitLog(spark, b)
    cloneB.append(Seq((2L, "b")).toDF("id", "v"))
    cloneB.cloneTo(c)
    val cloneC = CommitLog(spark, c)
    assert(cloneC.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(dataFilesOf(c).isEmpty) // still zero-copy two hops deep
    // change feed over the clone's fork commit reads the referenced
    // files like any add
    val feed = cloneC.readChanges(-1L)
    assert(feed.filter(col("_change_type") === "insert").count() === 2L)
  }
}


/** Test double for the pluggable-LogStore spec: delegates to the
  * default primitives, counting publishes. */
final class CountingLogStore extends graft.sources.LogStore {
  override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, json: String): Boolean = {
    CountingLogStore.puts.incrementAndGet()
    graft.sources.HadoopLogStore.putIfAbsent(fs, dst, json)
  }
}
object CountingLogStore {
  val puts = new java.util.concurrent.atomic.AtomicInteger(0)
}
