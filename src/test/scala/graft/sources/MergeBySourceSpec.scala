package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** r16 MERGE `WHEN NOT MATCHED BY SOURCE`: target rows absent from the
  * source batch update or delete in the SAME one-commit merge — the
  * sync-table-to-source shape (Delta's by-source form). Pins: clause
  * semantics against a full reconstruction; the scoped sync (a
  * by-source condition) rewrites only in-scope partitions; the
  * merge-on-read form commits ONE `add_dv`; an empty source with an
  * unconditional by-source delete truncates; null-keyed target rows
  * belong to the by-source group (they match nothing). */
class MergeBySourceSpec extends graft.SparkSpecBase {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("by-source delete + matched update + insert in one commit") {
    val t = tmpTable("mbs-all")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "v", "n"))
    val v0 = log.snapshot().version
    val src = Seq((2L, "B"), (3L, "C"), (5L, "E")).toDF("id", "v")
    log.merge(src, Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
      CommitLog.WhenNotMatchedInsert(),
      CommitLog.WhenNotMatchedBySourceDelete()))
    assert(log.snapshot().version === v0 + 1, "one commit")
    assert(log.read().orderBy("id").as[(Long, String, Option[Int])]
      .collect().toSeq
      === Seq((2L, "B", Some(20)), (3L, "C", Some(30)), (5L, "E", None)))
  }

  test("by-source update flags stale rows instead of deleting") {
    val t = tmpTable("mbs-upd")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "live"), (2L, "live"), (3L, "live")).toDF("id", "st"))
    log.merge(Seq(Tuple1(2L)).toDF("id"), Seq("id"), Seq(
      CommitLog.WhenNotMatchedBySourceUpdate(Map("st" -> lit("stale")))))
    assert(log.read().orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "stale"), (2L, "live"), (3L, "stale")))
  }

  test("a scoped by-source delete rewrites only in-scope partitions") {
    val t = tmpTable("mbs-scope")
    val log = CommitLog(spark, t)
    log.appendPartitioned(
      Seq((1L, "a"), (2L, "a"), (10L, "b"), (11L, "b")).toDF("id", "grp"), "grp")
    val filesB = log.snapshot().files.filter(f =>
      log.snapshot().entry(f).partTag.contains("b")).toSet
    // sync partition 'a' to {1}: 2 deletes; partition 'b' out of scope
    log.merge(Seq((1L, "a")).toDF("id", "grp"), Seq("id"), Seq(
      CommitLog.WhenNotMatchedBySourceDelete(Some(col("grp") === "a"))),
      partCol = Some("grp"))
    val after = log.snapshot()
    assert(filesB.subsetOf(after.files.toSet),
      "out-of-scope partition files must ride through untouched")
    assert(log.read().orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (10L, "b"), (11L, "b")))
  }

  test("merge-on-read: by-source clauses commit one add_dv") {
    val t = tmpTable("mbs-mor")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1), (4L, "d", 1))
      .toDF("id", "v", "n").coalesce(1))
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    // this merge fires on every touched row; the honest-policy ratio
    // cap (masked/live <= 0.3) would correctly prefer the rewrite, so
    // lift it to pin the MoR mechanics themselves
    spark.conf.set("spark.graft.dv.maxRatio", "1.0")
    try {
      val files0 = log.snapshot().files.toSet
      log.merge(Seq((2L, "B2"), (5L, "E")).toDF("id", "v"), Seq("id"), Seq(
        CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
        CommitLog.WhenNotMatchedInsert(),
        CommitLog.WhenNotMatchedBySourceUpdate(Map("n" -> lit(0)),
          Some(col("id") < 4L)),
        CommitLog.WhenNotMatchedBySourceDelete()))
      val s = log.snapshot()
      assert(files0.subsetOf(s.files.toSet),
        "MoR must not rewrite the touched files")
      assert(s.hasDvs, "the commit must carry deletion vectors")
      assert(log.history().orderBy(col("version").desc).limit(1)
        .select("action").as[String].collect().head === "add_dv")
      assert(log.read().orderBy("id").as[(Long, String, Option[Int])]
        .collect().toSeq === Seq(
          (1L, "a", Some(0)), (2L, "B2", Some(1)), (3L, "c", Some(0)),
          (5L, "E", None)))
    } finally {
      spark.conf.unset("spark.graft.dv.minTouchedBytes")
      spark.conf.unset("spark.graft.dv.maxRatio")
    }
  }

  test("empty source + unconditional by-source delete truncates") {
    val t = tmpTable("mbs-empty")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    log.merge(Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"), Seq(
      CommitLog.WhenMatchedUpdate(Map("v" -> col("s.v"))),
      CommitLog.WhenNotMatchedBySourceDelete()))
    assert(log.read().count() === 0L)
    assert(log.read().schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("property: five-clause merges equal a sequential ANSI reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random target/source key sets and values, random clause-group
    // orders and inclusion — every run compared against a sequential
    // reference implementing ANSI MERGE (per-group first-true, groups
    // independent). CoW and MoR both exercised via the ratio conf.
    val rowsGen = for {
      tN <- Gen.chooseNum(0, 12)
      tRows <- Gen.listOfN(tN, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 30L)))
      sN <- Gen.chooseNum(0, 10)
      sRows <- Gen.listOfN(sN, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 30L)))
      mdFirst <- Gen.oneOf(true, false)
      bsDelFirst <- Gen.oneOf(true, false)
      withIns <- Gen.oneOf(true, false)
      mor <- Gen.oneOf(true, false)
    } yield (tRows.distinctBy(_._1), sRows.distinctBy(_._1),
        mdFirst, bsDelFirst, withIns, mor)
    var n = 0
    val prop = Prop.forAllNoShrink(rowsGen) {
      case (tRows, sRows, mdFirst, bsDelFirst, withIns, mor) =>
        n += 1
        val t = tmpTable(s"mbs-prop$n")
        val log = CommitLog(spark, t)
        log.append(tRows.toDF("id", "v"))
        if (tRows.isEmpty) log.append(Seq.empty[(Long, Long)].toDF("id", "v"))
        val mu = CommitLog.WhenMatchedUpdate(
          Map("v" -> (col("t.v") + col("s.v"))))
        val md = CommitLog.WhenMatchedDelete(Some(col("s.v") % 3 === 0))
        val ins = CommitLog.WhenNotMatchedInsert(Some(col("s.v") % 2 === 0))
        val bu = CommitLog.WhenNotMatchedBySourceUpdate(
          Map("v" -> (col("v") * 2)), Some(col("v") % 2 === 1))
        val bd = CommitLog.WhenNotMatchedBySourceDelete(Some(col("v") % 5 === 0))
        val clauses =
          (if (mdFirst) Seq(md, mu) else Seq(mu, md)) ++
            (if (withIns) Seq(ins) else Nil) ++
            (if (bsDelFirst) Seq(bd, bu) else Seq(bu, bd))
        if (mor) {
          spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
          spark.conf.set("spark.graft.dv.maxRatio", "1.0")
        }
        try log.merge(sRows.toDF("id", "v"), Seq("id"), clauses)
        finally if (mor) {
          spark.conf.unset("spark.graft.dv.minTouchedBytes")
          spark.conf.unset("spark.graft.dv.maxRatio")
        }
        val got = log.read().as[(Long, Long)].collect().toSet
        // sequential ANSI reference
        val sBy = sRows.toMap
        val tKeys = tRows.map(_._1).toSet
        val kept = tRows.flatMap { case (id, v) =>
          sBy.get(id) match {
            case Some(sv) => // matched group, declared order: the
              // unconditional update shadows a LATER delete; an
              // EARLIER conditional delete fires first when true
              if (mdFirst && sv % 3 == 0) None
              else Some(id -> (v + sv))
            case None => // by-source group, declared order
              val act =
                if (bsDelFirst) {
                  if (v % 5 == 0) "d" else if (v % 2 == 1) "u" else "k"
                } else {
                  if (v % 2 == 1) "u" else if (v % 5 == 0) "d" else "k"
                }
              act match {
                case "d" => None
                case "u" => Some(id -> (v * 2))
                case _ => Some(id -> v)
              }
          }
        }
        val inserted =
          if (!withIns) Nil
          else sRows.filter { case (id, sv) => !tKeys(id) && sv % 2 == 0 }
        val want = (kept ++ inserted).toSet
        if (got != want)
          println(s"[mbs-prop] t=$tRows s=$sRows mdFirst=$mdFirst " +
            s"bsDelFirst=$bsDelFirst ins=$withIns mor=$mor\n got=$got\n want=$want")
        got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("a typo'd by-source assignment column fails loudly") {
    val t = tmpTable("mbs-typo")
    val log = CommitLog(spark, t)
    log.append(Seq((1L, "x")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      log.merge(Seq(Tuple1(9L)).toDF("id"), Seq("id"), Seq(
        CommitLog.WhenNotMatchedBySourceUpdate(Map("vv" -> lit("stale")))))
    }
    assert(e.getMessage.contains("unknown column"),
      s"silently dropping the assignment would still consume the row: ${e.getMessage}")
  }

  test("null-keyed target rows are by-source (they match nothing)") {
    val t = tmpTable("mbs-null")
    val log = CommitLog(spark, t)
    log.append(Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
      .toDF("id", "v"))
    log.merge(Seq(Tuple1(1L)).toDF("id"), Seq("id"), Seq(
      CommitLog.WhenNotMatchedBySourceDelete()))
    assert(log.read().as[(Option[Long], String)].collect().toSet
      === Set((Some(1L), "a")))
  }
}
