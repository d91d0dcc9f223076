package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The manifest format against a checked-in log ([[GoldenLog]]): old
  * manifests must fold to the same table, the checkpoint must restate
  * the same tree, and the same statements must write the same
  * manifests. Trees compare with `ts` removed, so key order and commit
  * clocks never matter. */
class GoldenLogSpec extends graft.SparkSpecBase {
  import GoldenLog._

  private val golden = Paths.get(resource("/golden-log"))

  /** A writable copy of the checked-in tables, clone entries pointing
    * at the copy. */
  private def checkout(): String = {
    val root = Files.createTempDirectory("golden-co").toString
    copyLog(golden.resolve("log"), Paths.get(root), detokenize(_, root))
    root
  }

  private def goldenRows(t: String, v: Long): Seq[String] =
    Files.readAllLines(golden.resolve("rows").resolve(t).resolve(s"$v.txt"))
      .asScala.toSeq.filter(_.nonEmpty)

  test("the checked-in log folds to the recorded rows at every version") {
    val root = checkout()
    Tables.foreach { t =>
      val log = CommitLog(spark, s"$root/$t")
      val head = log.snapshot().version
      assert(head === manifests(s"$root/$t").size - 1L)
      (0L to head).foreach { v =>
        assert(renderRows(log.readVersion(v)) === goldenRows(t, v), s"$t@$v")
      }
    }
  }

  test("compact() restates the checked-in log as the recorded checkpoint") {
    val root = checkout()
    Tables.foreach { t =>
      val v = CommitLog(spark, s"$root/$t").compact()
      val got = withoutTs(tokenize(Files.readString(manifestFile(s"$root/$t", v)), root))
      val want = withoutTs(Files.readString(golden.resolve("compact").resolve(s"$t.json")))
      assert(got === want, s"$t checkpoint")
    }
  }

  test("the same statements write the same manifests") {
    val root = Files.createTempDirectory("golden-re").toString
    build(spark, root)
    val src = golden.resolve("log")
    Tables.foreach { t =>
      val got = normalizedLog(s"$root/$t", root)
      val want = normalizedLog(src.resolve(t).toString, RootToken)
      assert(got.size === want.size, s"$t versions")
      got.zip(want).zipWithIndex.foreach { case ((g, w), v) =>
        assert(g === w, s"$t@$v")
      }
    }
  }
}
