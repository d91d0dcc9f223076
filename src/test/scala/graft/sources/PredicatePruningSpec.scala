package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** r16 predicate-pruning completeness on commit-log V2 scans: string
  * prefix predicates (`LIKE 'p%'`) prune as ranges [p, upper(p));
  * null-safe equality (`<=>`) prunes like equality for non-null
  * literals; `IS NULL` / `IS NOT NULL` skip files whose EXACT per-file
  * null counts prove no row can match. Every rule is conservative:
  * unknown evidence keeps the file, and the residual filter keeps
  * results exact regardless of pruning. */
class PredicatePruningSpec extends graft.SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshCat(tag: String): (String, String) = {
    val wh = Files.createTempDirectory(s"ppr-$tag").toString
    val cat = s"ppr$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation =>
        GraftScans.unwrapFileScan(r.scan).fileIndex.inputFiles.length
    }.sum

  test("LIKE 'p%' prunes files by string stats as a range") {
    val (cat, _) = freshCat("pfx")
    def mk(names: Seq[String]) = names.toDF("name").coalesce(1)
    mk(Seq("alpha", "amber", "apex")).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create()
    mk(Seq("delta", "dune")).writeTo(s"$cat.t").append()
    mk(Seq("omega", "onyx")).writeTo(s"$cat.t").append()
    val d = spark.table(s"$cat.t").filter($"name".startsWith("d"))
    assert(scannedFiles(d) === 1, s"prefix 'd' must scan 1 file")
    assert(d.count() === 2L)
    val dl = spark.table(s"$cat.t").filter($"name".like("du%"))
    assert(scannedFiles(dl) === 1)
    assert(dl.as[String].collect().toSeq === Seq("dune"))
    // a prefix matching nothing scans zero files
    val z = spark.table(s"$cat.t").filter($"name".startsWith("zz"))
    assert(scannedFiles(z) === 0)
    assert(z.count() === 0L)
  }

  test("null-safe equality prunes like equality; <=> NULL never prunes") {
    val (cat, _) = freshCat("nse")
    spark.range(0L, 100L).toDF("id").coalesce(1)
      .writeTo(s"$cat.t").tableProperty("merge.log", "true").create()
    spark.range(100L, 200L).toDF("id").coalesce(1).writeTo(s"$cat.t").append()
    val q = spark.table(s"$cat.t").filter($"id" <=> 150L)
    assert(scannedFiles(q) === 1, "<=> must prune on stats")
    assert(q.count() === 1L)
    // <=> NULL: Catalyst rewrites it to isnull(id), and the null-count
    // evidence proves NO file holds a null id — zero files scanned
    val qn = spark.table(s"$cat.t").filter($"id" <=> lit(null).cast("long"))
    assert(scannedFiles(qn) === 0)
    assert(qn.count() === 0L)
  }

  test("IS NULL / IS NOT NULL skip files via exact null counts") {
    val (cat, _) = freshCat("nul")
    Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2")).toDF("v", "tag")
      .coalesce(1).writeTo(s"$cat.t")
      .tableProperty("merge.log", "true").create() // all-null file
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("v", "tag")
      .coalesce(1).writeTo(s"$cat.t").append()     // no-null file
    Seq[(java.lang.Long, String)]((3L, "c"), (null, "n3")).toDF("v", "tag")
      .coalesce(1).writeTo(s"$cat.t").append()     // mixed file
    val notNull = spark.table(s"$cat.t").filter($"v".isNotNull)
    assert(scannedFiles(notNull) === 2, "the all-null file must skip")
    assert(notNull.count() === 3L)
    val isNull = spark.table(s"$cat.t").filter($"v".isNull)
    assert(scannedFiles(isNull) === 2, "the no-null file must skip")
    assert(isNull.count() === 3L)
    // and the library DML path shares the same candidate pruning: a
    // delete of null rows rewrites only files that can hold one
    val log = CommitLog(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/t")
    val noNullFile = log.snapshot().files.find(f =>
      log.snapshot().entry(f).nulls.get("v").contains(0L)).get
    log.delete($"v".isNull)
    assert(log.snapshot().files.contains(noNullFile),
      "the provably no-null file must ride through the delete untouched")
    assert(log.read().count() === 3L)
  }
}
