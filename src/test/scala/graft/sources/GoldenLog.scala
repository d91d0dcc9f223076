package graft.sources

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** A small commit log covering every manifest shape the fold reads,
  * written by a fixed statement sequence. [[GoldenLogSpec]] folds the
  * checked-in copy (`src/test/resources/golden-log`) and regenerates it
  * to pin both directions of the on-disk format.
  *
  * Three tables under one root:
  *  - `a`: add (v0 rewritten to the pre-row-count shape: no
  *    `fileRows`/`fileNulls`), add, stats-only sum backfill, add_dv
  *    without files (delete), add_dv with replacement files (update),
  *    checkpoint, add, restore, copy-on-write delete, optimize;
  *  - `b`: partitioned add, replace_parts, evolve_spec, add under the
  *    new spec, checkpoint, restore to a pre-evolution version;
  *  - `c`: a shallow clone of `a` at v7 (absolute entries, carried DVs), then
  *    a delete on it.
  *
  * Regenerate with
  * `sbt "Test/runMain graft.sources.GoldenLog src/test/resources/golden-log"`:
  * it rewrites `log/` (the tables), `rows/` (the sorted rows of every
  * version) and `compact/` (each table's `compact()` manifest). */
object GoldenLog {
  val Tables: Seq[String] = Seq("a", "b", "c")
  /** Stands for the absolute root in checked-in clone entries. */
  val RootToken = "@ROOT@"

  private val mapper = new ObjectMapper()

  /** Write the three tables under `root` (which must not exist). */
  def build(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    spark.conf.set("spark.graft.dv.minTouchedBytes", "0")
    try {
      def rowsA(lo: Int, hi: Int): DataFrame =
        (lo until hi).map(i => (i.toLong, (i % 7).toLong, s"n$i",
            if (i % 5 == 0) null else s"s${i % 3}", i * 0.5))
          .toDF("id", "qty", "name", "tag", "px").coalesce(1)
      val a = CommitLog(spark, s"$root/a").withBloomIndex(Seq("name"), bits = 128)
      a.append(rowsA(0, 10))
      stripCounts(s"$root/a", 0L)
      a.append(rowsA(10, 20))
      a.withSumStats(Seq("qty")).harvestSums()
      a.delete(col("id") === 3L)
      a.update(col("id") === 12L, Map("qty" -> lit(99L)))
      a.compact()
      a.append(rowsA(20, 30))
      a.restore(4L)
      a.delete(col("id") < 8L)
      a.optimize(1)

      def rowsB(lo: Int, hi: Int): DataFrame =
        spark.range(lo.toLong, hi.toLong).toDF("i")
          .select($"i".as("id"),
            expr("timestamp_micros(CAST((i div 3) * 86400000000 + (i % 3) * 3600000000 AS BIGINT))")
              .as("ts"),
            ($"i" * 10).as("v"))
          .coalesce(1)
      val b = CommitLog(spark, s"$root/b")
      b.appendPartitioned(rowsB(0, 6), "days(ts)")
      b.upsertPartitioned(rowsB(3, 5).withColumn("v", $"v" + 1),
        Seq("id", "ts"), CommitLog.LastWins, "days(ts)")
      b.evolvePartitionSpec("days(ts)", "hours(ts)")
      b.appendPartitioned(rowsB(6, 9), "hours(ts)")
      b.compact()
      b.restore(1L)

      a.cloneTo(s"$root/c", Some(7L))
      CommitLog(spark, s"$root/c").delete(col("id") === 15L)
    } finally spark.conf.unset("spark.graft.dv.minTouchedBytes")
  }

  /** Rewrite manifest `v` the way writers before per-file row and null
    * counts left it. */
  private def stripCounts(table: String, v: Long): Unit = {
    val p = manifestFile(table, v)
    val node = mapper.readTree(Files.readString(p)).asInstanceOf[ObjectNode]
    node.remove("fileRows"); node.remove("fileNulls")
    Files.writeString(p, mapper.writeValueAsString(node))
  }

  def manifestFile(table: String, v: Long): JPath =
    java.nio.file.Paths.get(table, "_graft_log", f"$v%020d.json")

  /** The versioned manifest files of a table, in version order. */
  def manifests(table: String): Seq[JPath] =
    Files.list(java.nio.file.Paths.get(table, "_graft_log")).iterator().asScala
      .filter(p => p.getFileName.toString.matches("\\d+\\.json"))
      .toSeq.sortBy(_.getFileName.toString)

  /** A manifest tree with its commit clock removed. */
  def withoutTs(json: String): JsonNode = {
    val n = mapper.readTree(json).asInstanceOf[ObjectNode]
    n.remove("ts")
    n
  }

  /** Sorted rendered rows of `df` — the comparison form of a read. */
  def renderRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Copy the log files under `src` to `dst` (checksum and hidden
    * files skipped), passing the JSON ones through `rewrite`. */
  def copyLog(src: JPath, dst: JPath, rewrite: String => String): Unit =
    Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .foreach { p =>
        val d = dst.resolve(src.relativize(p).toString)
        Files.createDirectories(d.getParent)
        if (p.toString.endsWith(".json") || p.getFileName.toString == "_last_checkpoint")
          Files.writeString(d, rewrite(Files.readString(p)))
        else Files.copy(p, d)
      }

  /** Replace the absolute `root` prefix by [[RootToken]] and back. */
  def tokenize(s: String, root: String): String = s.replace(root, RootToken)
  def detokenize(s: String, root: String): String = s.replace(RootToken, root)

  private val UuidRe =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every manifest of `table`, ts removed, with each random file-name
    * UUID renamed to its order of first appearance — two runs of the
    * same statements then compare equal tree for tree. Within one
    * manifest the `files` array is visited first, then object keys in
    * sorted (already-renamed) order. */
  def normalizedLog(table: String, root: String): Seq[JsonNode] = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def rename(s: String): String = UuidRe.replaceAllIn(tokenize(s, root), m =>
      ids.getOrElseUpdate(m.matched, s"U${ids.size}"))
    def visit(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.properties().asScala.toSeq
          .map(e => (UuidRe.replaceAllIn(tokenize(e.getKey, root),
            m => ids.getOrElse(m.matched, "~")), e))
          .sortBy(_._1)
          .foreach { case (_, e) => out.set[JsonNode](rename(e.getKey), visit(e.getValue)) }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.elements().asScala.foreach(x => out.add(visit(x)))
        out
      case t: TextNode => new TextNode(rename(t.asText()))
      case other => other
    }
    manifests(table).map { p =>
      val n = withoutTs(Files.readString(p)).asInstanceOf[ObjectNode]
      Option(n.get("files")).foreach(_.elements().asScala.foreach(f => rename(f.asText())))
      visit(n)
    }
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = graft.Sessions.local("graft-test", "8")
    val work = Files.createTempDirectory("golden-log").toString
    build(spark, work)
    val logOut = out.resolve("log")
    Tables.foreach { t =>
      copyLog(java.nio.file.Paths.get(work, t), logOut.resolve(t), tokenize(_, work))
      val log = CommitLog(spark, s"$work/$t")
      val head = log.snapshot().version
      (0L to head).foreach { v =>
        val f = out.resolve("rows").resolve(t).resolve(s"$v.txt")
        Files.createDirectories(f.getParent)
        Files.writeString(f, renderRows(log.readVersion(v)).mkString("", "\n", "\n"))
      }
      val cv = log.compact()
      val c = out.resolve("compact").resolve(s"$t.json")
      Files.createDirectories(c.getParent)
      Files.writeString(c, tokenize(mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(withoutTs(Files.readString(manifestFile(s"$work/$t", cv)))), work))
    }
    spark.stop()
  }
}
