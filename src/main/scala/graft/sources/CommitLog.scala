package graft.sources

import java.util.UUID

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned manifest log for a parquet table — the multi-writer commit
  * protocol the reference gets from DynamoDB's conditional put
  * (`attribute_not_exists(Id)`, /root/reference/index.js:352-375): each
  * write is an all-or-nothing version, CONCURRENT writers serialize via
  * an atomic create-if-absent on the next version file, and the loser
  * re-reads the winner's state and retries (optimistic concurrency, the
  * same shape as a Delta/Iceberg commit log, reduced to the minimum the
  * engine needs).
  *
  * Layout under the table root:
  * {{{
  *   _graft_log/00000000000000000000.json   // one manifest ([[ManifestCodec]])
  *   data/<uuid>-part-*.parquet             // immutable once referenced
  * }}}
  * A manifest's `action` is `add` (its files join the live set) or
  * `replace` (its files BECOME the live set — how a merge rewrite
  * retires old files without deleting them under a concurrent reader).
  * Readers list the log, fold actions in version order, and scan exactly
  * the live files — a stale directory listing can never leak retired or
  * uncommitted data files into a query, because data files are never
  * the source of truth.
  *
  * The commit primitive is the pluggable [[LogStore]] (configure with
  * `spark.graft.logStore.class`): on `file:` the default is a
  * hard-link create (POSIX `link(2)` fails with EEXIST — atomic
  * create-if-absent); on HDFS-like stores rename-without-overwrite.
  * S3-class object stores have neither — the default store refuses
  * them loudly; plug in a conditional-PUT (`If-None-Match`) or
  * lock-table implementation (the role DynamoDB plays for Delta on
  * S3) behind the same `tryCommit`.
  *
  * Schema evolution: `append`/`upsert` commit the union-by-name of the
  * table schema and the write's (new columns append as nullable; type
  * changes fail loudly — see [[mergedSchema]]); `replaceAll` is the
  * one schema-REDEFINING op (truncate-and-load takes the incoming
  * schema verbatim). Each version records its own schema, so time
  * travel reads pre-evolution versions with pre-evolution columns.
  *
  * Writer idempotency (the streaming sink's restart story,
  * [[graft.streaming.StreamMergeSink]]): a commit may carry a
  * `txn = (writerId, epoch)`; the snapshot folds the highest epoch per
  * writer, and a write whose epoch is ≤ the recorded one is skipped —
  * exactly-once table contents over at-least-once micro-batch replays.
  *
  * Scale notes: manifests are metadata-sized (file lists + per-file
  * column min/max, not rows); the fold is O(versions since the last
  * checkpoint) — [[compact]] writes a checkpoint manifest restating the
  * full state (live files, schema, txn table, partition tags, file
  * stats) and [[prune]] deletes the now-redundant prefix, the standard
  * log-compaction move. `upsert` rewrites the full live set like the
  * directory-swap sink it replaces
  * ([[graft.operators.Sinks.writeAtomic]]); the 100 TB form is
  * [[upsertPartitioned]]: manifests tag files with partition values
  * and a merge retires/rewrites ONLY the touched partitions' files
  * (`replace_parts`), so disjoint-partition writers contend only on
  * the version counter and [[readPartitions]] prunes at the manifest
  * level. All partitioned writes land in ONE Spark job
  * ([[writeDataPartitioned]] — `partitionBy` into the tmp area, files
  * attributed to partitions from the directory they landed in), so a
  * 1,000-partition backfill is one job, not 1,000 serial ones.
  *
  * Every committed file also carries per-column min/max harvested from
  * its parquet footer ([[entriesFor]]) — the manifest-level analog of the
  * sort-key seek the reference does on its DynamoDB range key
  * (/root/reference/index.js:305-314): [[readRange]] skips files whose
  * range can't overlap the predicate WITHOUT opening them, which is
  * what makes [[graft.operators.Layout.zorder]] pay off on the log's
  * own tables. [[readChanges]] is the CDC view: the file-diff of
  * consecutive manifests replayed as insert/delete row sets — the
  * incremental-consumer pattern the reference's poller implements
  * (/root/reference/index.js:41-59) without diffing snapshots itself.
  */
final class CommitLog private (spark: SparkSession, tableRoot: String) {
  import CommitLog.{FileEntry, Manifest, Snapshot}

  private val rootPath = new Path(tableRoot)
  private val logDir = new Path(rootPath, "_graft_log")
  private val dataDir = new Path(rootPath, "data")
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  // the atomic create-if-absent behind every manifest publish —
  // pluggable per storage system (object stores need conditional PUT)
  private val logStore: LogStore = LogStore.forSession(spark)

  /** Resolve a manifest file entry to its readable path. Entries are
    * normally table-root-relative (`data/part-….parquet`); a SHALLOW
    * CLONE's manifest ([[cloneTo]]) carries the SOURCE table's files as
    * absolute paths, which resolve as themselves. The `Path`-based
    * sites (`statsForOne`, `restore`'s existence check) need no
    * translation — Hadoop's `new Path(parent, child)` already keeps an
    * absolute child — so this is the chokepoint for the STRING
    * concatenation sites only. */
  private def entryPath(f: String): String =
    if (CommitLog.isExternalEntry(f)) f else s"$tableRoot/$f"

  // ── COLUMN MAPPING (rename/drop without rewriting data) ───────────
  // Delta-style "name mapping": every column has a stable PHYSICAL
  // name — the name actually inside the parquet files — carried in the
  // logical schema's StructField metadata under [[CommitLog.PhysKey]].
  // Absent metadata means physical == logical (every pre-mapping table
  // and every never-renamed column — zero-cost identity). A RENAME
  // changes only the logical name (the physical name, and therefore
  // every existing data file, every manifest stat key, and every bloom
  // key, stays valid forever); a DROP removes the field and retires
  // its physical name. The two chokepoints are [[readFiles]] (read
  // physical, alias to logical) and [[writeData]]/
  // [[writeDataPartitioned]] (rename logical → physical just before
  // the parquet write); everything between them — merges, updates,
  // optimize, constraints, conform — stays purely logical.

  /** The physical (in-file) name of a logical field. */
  private def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(CommitLog.PhysKey))
      f.metadata.getString(CommitLog.PhysKey)
    else f.name

  /** True when every field's physical name equals its logical name —
    * the fast path every never-renamed table stays on. r13: recursive
    * (nested RENAME/DROP put mappings on struct-interior fields). */
  private[sources] def identityMapping(sch: StructType): Boolean =
    sch.fields.forall(f =>
      physName(f) == f.name && CommitLog.identityType(f.dataType))

  /** `sch` with fields under their PHYSICAL names (what the parquet
    * reader/writer must see), recursively through structs. Field
    * metadata is stripped — it is a property of the logical view, not
    * of the files. */
  private def physSchema(sch: StructType): StructType =
    StructType(sch.fields.map(f => org.apache.spark.sql.types.StructField(
      physName(f), CommitLog.physDataType(f.dataType), f.nullable)))

  /** The physical name for logical column `name` under `sch` (falls
    * back to `name` itself when the schema does not know it — callers
    * then fail loudly at analysis, not silently here). */
  private def physOf(sch: Option[StructType], name: String): String =
    sch.flatMap(_.find(f => lc(f.name) == lc(name))).map(physName)
      .getOrElse(name)

  /** Read table data files: request the PHYSICAL schema (stats, blooms
    * and parquet column chunks are all keyed physically) and alias the
    * result back to logical names. Identity-mapped tables take the
    * plain read — no extra projection node. */
  private def readFiles(sch: StructType, files: Seq[String],
      dvs: String => Seq[CommitLog.DvRef] = _ => Nil): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    if (identityMapping(sch))
      subtractDvs(pqRead(sch, files.map(entryPath)), dvs, files)
    else {
      subtractDvs(pqRead(physSchema(sch), files.map(entryPath)), dvs, files)
        .select(sch.fields.toIndexedSeq.map(logicalCol): _*)
    }
  }

  /** `spark.read.schema(sch).parquet(paths)`, minus the file-index
    * construction cost (r19, guide §6): the default path existence-
    * checks every file on the driver and, past 32 paths, launches a
    * distributed LISTING JOB — for files the manifest already knows
    * byte-for-byte. This builds the same V1 parquet relation over a
    * pre-seeded index ([[CommitLog.seededIndex]]): zero filesystem
    * metadata calls for statuses this process cached at commit time,
    * a concurrent driver-side fetch otherwise. */
  private def pqRead(sch: StructType, absPaths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // file reads mark every field nullable (spark.read did the same —
    // a parquet file can always omit a value), at every nesting depth
    val relaxed = CommitLog.relaxNulls(sch).asInstanceOf[StructType]
    val index = CommitLog.seededIndex(spark, fs, absPaths, Some(relaxed))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      relaxed, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The physical column of `f` presented under its LOGICAL shape: a
    * plain alias when the interior is identity-mapped; a struct cast
    * otherwise (cast renames struct fields BY POSITION, and the
    * physical and logical shapes are positionally identical by
    * construction — the nested-rename read chokepoint). */
  private def logicalCol(f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    val c = col(s"`${physName(f)}`")
    // cast target nullability is RELAXED: spark.read marks every read
    // field nullable, and Cast refuses nullable→non-null interiors —
    // a logical schema with NOT NULL struct/array-element fields must
    // still read (the values are unchanged either way)
    (if (CommitLog.identityType(f.dataType)) c
     else c.cast(CommitLog.relaxNulls(f.dataType)))
      .as(f.name)
  }

  // ── DELETION VECTORS (r13, merge-on-read DML) ──────────────────────
  // A small-predicate DELETE on a 100 TB table should not rewrite
  // multi-GB data files to drop a handful of rows — the rewrite
  // amplification dominates the actual change (Delta/Iceberg ship DVs
  // for exactly this; the reference's DynamoDB delete is row-granular
  // by nature, /root/reference/index.js:249). A DV commit (`add_dv`)
  // writes ONE parquet sidecar of (data-file basename, row ordinal)
  // pairs and touches no data file; every read path masks the
  // positions out. OPTIMIZE / any rewrite retiring a file purges its
  // DVs; policy caps (count + ratio) keep sidecars driver-loadable and
  // fall back to copy-on-write when the delete is too big to mask.

  /** Read+merge the masked positions for `files` (basename-keyed,
    * sorted, deduplicated). Sidecars are immutable — cached per path
    * process-wide. Bounded by the write policy's row caps. */
  private[sources] def dvPositions(dvs: String => Seq[CommitLog.DvRef],
      files: Seq[String]): Map[String, Array[Long]] = {
    val refs = files.flatMap(dvs).map(_.path).distinct
    if (refs.isEmpty) return Map.empty
    val perSidecar: Seq[Map[String, Array[Long]]] = refs.map { rel =>
      val abs = entryPath(rel)
      CommitLog.dvCache.computeIfAbsent(abs, { _ =>
        spark.read.schema("f STRING, pos BIGINT").parquet(abs)
          .collect()
          .groupBy(_.getString(0))
          .map { case (f, rows) => f -> rows.map(_.getLong(1)).sorted }
      })
    }
    val wanted = files.map(f => new Path(f).getName).toSet
    perSidecar.flatten
      .filter { case (f, _) => wanted(f) }
      .groupBy(_._1)
      .map { case (f, chunks) =>
        f -> chunks.flatMap(_._2).distinct.sorted.toArray
      }
  }

  /** Mask DV'd positions out of a RAW parquet read of `files` — must
    * run on the loaded scan itself (`_metadata` is resolvable there,
    * not after a projection). No-op without DVs on the read files. */
  private def subtractDvs(raw: DataFrame,
      dvs: String => Seq[CommitLog.DvRef], files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val relevant = files.filter(dvs(_).nonEmpty)
    if (relevant.isEmpty) return raw
    val pos = dvPositions(dvs, relevant)
    if (pos.isEmpty) return raw
    val bc = spark.sparkContext.broadcast(pos)
    val keep = udf((fp: String, idx: Long) => {
      val n = fp.substring(fp.lastIndexOf('/') + 1)
      bc.value.get(n) match {
        case Some(a) => java.util.Arrays.binarySearch(a, idx) < 0
        case None => true
      }
    })
    raw.where(keep(col("_metadata.file_path"), col("_metadata.row_index")))
  }

  /** The inverse of [[subtractDvs]] for CDC: ONLY the rows of `refs`'
    * files at the referenced positions — the rows a merge-on-read
    * delete masked, emitted as CDC delete rows. */
  private def selectDvRows(sch: StructType,
      refs: Map[String, Seq[CommitLog.DvRef]],
      withId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, element_at, lit, split, udf}
    val files = refs.keys.toSeq
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (withId) sch.add("_row_id", org.apache.spark.sql.types.StringType)
        else sch)
    val pos = dvPositions(refs.getOrElse(_, Nil), files)
    val bc = spark.sparkContext.broadcast(pos)
    val hit = udf((fp: String, idx: Long) => {
      val n = fp.substring(fp.lastIndexOf('/') + 1)
      bc.value.get(n) match {
        case Some(a) => java.util.Arrays.binarySearch(a, idx) >= 0
        case None => false
      }
    })
    val raw0 = pqRead(physSchema(sch), files.map(entryPath))
      .where(hit(col("_metadata.file_path"), col("_metadata.row_index")))
    // r18 CDC lineage: the masked row's stable id (basename#ordinal)
    val raw = if (!withId) raw0 else raw0.withColumn("_row_id",
      rowIdCol(element_at(split(col("_metadata.file_path"), "/"), -1),
        col("_metadata.row_index")))
    if (identityMapping(sch)) raw
    else raw.select(sch.fields.toIndexedSeq.map(logicalCol)
      ++ (if (withId) Seq(col("_row_id")) else Nil): _*)
  }

  /** The live LOGICAL rows of `files` plus their physical address —
    * `__dv_f` (data-file basename) and `__dv_pos` (row ordinal) — the
    * find-scan input for a merge-on-read delete. */
  private def readLiveWithPos(s: Snapshot, sch: StructType,
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, reverse, split}
    val raw = pqRead(physSchema(sch), files.map(entryPath))
    subtractDvs(raw, s.dvsOf, files)
      .withColumn("__dv_f",
        element_at(reverse(split(col("_metadata.file_path"), "/")), 1))
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .select(sch.fields.toIndexedSeq.map(logicalCol)
        :+ col("__dv_f") :+ col("__dv_pos"): _*)
  }

  /** Write one DV sidecar holding `positions` under `data/` (so
    * [[vacuum]]'s reference sweep governs its lifecycle) and return
    * its table-root-relative path. Driver-sized by the caller's
    * policy caps. */
  private def writeDv(positions: Seq[(String, Long)]): String = {
    // DRIVER-SIDE parquet write (r20, guide §5): the positions were
    // just COLLECTED to the driver by the caller's mask scan and are
    // bounded by the DV row caps — round-tripping them through a
    // one-partition Spark write shipped the whole set back out as ONE
    // task's partition payload (the bench's 7-10 MiB "task of very
    // large size" warnings, all three of them, were exactly this) and
    // paid a full job + plan per DV statement. The sidecar's layout is
    // unchanged: same (f UTF8, pos int64) columns [[dvPositions]]
    // reads back with an explicit schema.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message dv { required binary f (UTF8); required int64 pos; }")
    val tmp = new Path(rootPath, s".tmp-dv-${UUID.randomUUID()}")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try positions.foreach { case (f, pos) =>
      w.write(gf.newGroup().append("f", f).append("pos", pos))
    } finally w.close()
    fs.mkdirs(dataDir)
    val name = s"dv-${UUID.randomUUID()}.parquet"
    if (!fs.rename(tmp, new Path(dataDir, name))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"move DV -> data/$name failed")
    }
    s"data/$name"
  }

  /** Rename `df`'s columns to their physical names under `sch` right
    * before a parquet write. Columns `sch` does not know (e.g. the
    * partitioned write's directory tag) pass through unchanged. */
  private def toPhys(df: DataFrame, sch: StructType): DataFrame = {
    if (identityMapping(sch)) return df
    import org.apache.spark.sql.functions.col
    val m = sch.fields.map(f => lc(f.name) -> f).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      m.get(lc(c)) match {
        case Some(f) if !CommitLog.identityType(f.dataType) =>
          // interior mapping: cast to the in-file shape (positional
          // struct rename — the inverse of [[logicalCol]]); nullability
          // relaxed for the same reason as there
          col(s"`$c`").cast(
              CommitLog.relaxNulls(CommitLog.physDataType(f.dataType)))
            .as(physName(f))
        case Some(f) => col(s"`$c`").as(physName(f))
        case None => col(s"`$c`")
      }
    }: _*)
  }

  /** Stamp fresh physical names onto NEW fields that need one: a
    * column `prev` does not know whose default physical name — its own
    * logical name — collides with a retired physical name or with any
    * live column's physical name gets a deterministic suffixed
    * physical name instead (deterministic so concurrent writers
    * deciding from the same snapshot agree). Fields already in `prev`
    * pass through untouched — their mapping is settled. */
  private def assignPhys(sch: StructType, prev: Option[StructType],
      retired: Seq[String]): StructType = {
    val existing = prev.map(_.fields.map(f => lc(f.name)).toSet)
      .getOrElse(Set.empty)
    val taken = scala.collection.mutable.Set.empty[String]
    retired.foreach(r => taken += lc(r))
    sch.fields.foreach(f =>
      if (existing(lc(f.name))) taken += lc(physName(f)))
    val out = sch.fields.map { f =>
      if (existing(lc(f.name))) f
      else if (!taken(lc(physName(f)))) { taken += lc(physName(f)); f }
      else {
        var i = 1
        while (taken(lc(s"${f.name}_$i"))) i += 1
        val p = s"${f.name}_$i"
        taken += lc(p)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(CommitLog.PhysKey, p).build())
      }
    }
    // r13 nested no-resurrection: NEW struct-interior fields arriving
    // via additive evolution whose default physical path was RETIRED
    // by a nested drop get a fresh suffixed physical name (the nested
    // analog of the top-level suffixing above). Only fields of structs
    // RETAINED from prev can collide — a fresh top-level field's
    // interior lives under a physical parent no retirement names.
    val prevBy = prev.map(_.fields.map(f => lc(f.name) -> f).toMap)
      .getOrElse(Map.empty)
    val retiredLc = retired.map(lc).toSet
    def assignNested(cur: StructType, prevSt: StructType,
        physPath: String): StructType = {
      val pBy = prevSt.fields.map(f => lc(f.name) -> f).toMap
      val taken = scala.collection.mutable.Set.empty[String]
      cur.fields.foreach(f =>
        if (pBy.contains(lc(f.name))) taken += lc(s"$physPath.${physName(f)}"))
      StructType(cur.fields.map { f =>
        pBy.get(lc(f.name)) match {
          case Some(pf) => (f.dataType, pf.dataType) match {
            case (c: StructType, p: StructType) =>
              f.copy(dataType = assignNested(c, p,
                s"$physPath.${physName(f)}"))
            case (ca @ org.apache.spark.sql.types.ArrayType(c: StructType, _),
                  org.apache.spark.sql.types.ArrayType(p: StructType, _)) =>
              f.copy(dataType = ca.copy(elementType =
                assignNested(c, p, s"$physPath.${physName(f)}")))
            case (cm @ org.apache.spark.sql.types.MapType(_, c: StructType, _),
                  org.apache.spark.sql.types.MapType(_, p: StructType, _)) =>
              f.copy(dataType = cm.copy(valueType =
                assignNested(c, p, s"$physPath.${physName(f)}")))
            case _ => f
          }
          case None =>
            val dflt = s"$physPath.${physName(f)}"
            if (!retiredLc(lc(dflt)) && !taken(lc(dflt))) {
              taken += lc(dflt); f
            } else {
              var i = 1
              while (retiredLc(lc(s"$physPath.${f.name}_$i"))
                  || taken(lc(s"$physPath.${f.name}_$i"))) i += 1
              val p = s"${f.name}_$i"
              taken += lc(s"$physPath.$p")
              f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(CommitLog.PhysKey, p).build())
            }
        }
      })
    }
    StructType(out.map { f =>
      prevBy.get(lc(f.name)) match {
        case Some(pf) => (f.dataType, pf.dataType) match {
          case (c: StructType, p: StructType) =>
            f.copy(dataType = assignNested(c, p, physName(f)))
          case (ca @ org.apache.spark.sql.types.ArrayType(c: StructType, _),
                org.apache.spark.sql.types.ArrayType(p: StructType, _)) =>
            f.copy(dataType = ca.copy(elementType =
              assignNested(c, p, physName(f))))
          case (cm @ org.apache.spark.sql.types.MapType(_, c: StructType, _),
                org.apache.spark.sql.types.MapType(_, p: StructType, _)) =>
            f.copy(dataType = cm.copy(valueType =
              assignNested(c, p, physName(f))))
          case _ => f
        }
        case None => f
      }
    })
  }

  /** WRITER-side Bloom-index config ([[withBloomIndex]]); each filter
    * is self-describing in the manifest, so readers need none. */
  private var bloomCfg: Option[(Seq[String], Int, Int)] = None

  /** Enable a per-file BLOOM INDEX on `cols` for every subsequent
    * write through this instance — point-lookup file skipping where
    * min/max stats can't help (a high-cardinality column with no
    * clustering has every file spanning the full value range; its
    * bloom still rules the file out for ≈(1-fpr) of absent values —
    * the Delta/Iceberg bloom-index move, with q94's md5-derived
    * deterministic positions). Cost: one extra scan of each written
    * batch and `bits/8 · cols` manifest bytes per file. Null values
    * set no bits (a point read of null is refused anyway). Filters are
    * stored self-describing (bits, k, words), so mixed-config and
    * pre-bloom files coexist: a file with no filter for the probed
    * column is simply never pruned. */
  def withBloomIndex(cols: Seq[String], bits: Int = 4096, k: Int = 3): CommitLog = {
    require(cols.nonEmpty, s"$tableRoot: bloom index needs at least one column")
    require(bits >= 64 && bits % 64 == 0,
      s"$tableRoot: bloom bits=$bits must be a positive multiple of 64")
    require(k >= 1 && k <= 16, s"$tableRoot: bloom k=$k out of range")
    bloomCfg = Some((cols, bits, k))
    this
  }

  /** WRITER-side per-file SUM stats config ([[withSumStats]]). */
  private var sumCfg: Option[Seq[String]] = None

  /** Enable EXACT per-file SUMS of `cols` for every subsequent write
    * through this instance (r16) — what lets `SELECT SUM(price)` /
    * `AVG(price)` answer from the manifest with ZERO data files opened
    * (the aggregate fold, like COUNT/MIN/MAX). Only exactly-summable
    * types participate: integrals and decimals (their sums are
    * order-independent; float/double sums are not and never harvest).
    * Cost: one extra aggregate scan of each written batch (the bloom
    * index's cost shape); a per-file partial that overflows the
    * Long-backed representation is simply absent — the fold refuses to
    * a real scan, never a wrong answer. Like the bloom index, the
    * config is sticky: once any live file carries sums, subsequent
    * writes through ANY instance maintain them for the same columns. */
  def withSumStats(cols: Seq[String]): CommitLog = {
    require(cols.nonEmpty, s"$tableRoot: sum stats need at least one column")
    sumCfg = Some(cols)
    this
  }

  /** The UNION of [[withSumStats]]'s configured columns and the
    * snapshot-derived set (columns whose live files already carry sum
    * entries, expressed in LOGICAL names — same rename-safety
    * reasoning as [[effectiveBloomCfg]]). The union keeps maintenance
    * alive when a configured name goes stale (a rename: the derived
    * half tracks the column under its new name) AND when a config-less
    * instance writes to a sum-carrying table (stickiness). The
    * snapshot is supplied lazily by the caller so one fold serves
    * every consumer in a commit. */
  private def effectiveSumCfg(snap: () => Snapshot): Option[Seq[String]] = {
    val derived: Seq[String] = {
      val s = snap()
      val physCols = s.entries.valuesIterator
        .flatMap(_.sums.keysIterator).toSeq.distinct
      if (physCols.isEmpty) Nil
      else {
        val logByPhys: Map[String, String] = s.schema
          .map(_.fields.map(f => lc(physName(f)) -> f.name).toMap)
          .getOrElse(Map.empty)
        physCols.map(c => logByPhys.getOrElse(lc(c), c))
      }
    }
    val all = (sumCfg.getOrElse(Nil) ++ derived).distinct.sorted
    if (all.isEmpty) None else Some(all)
  }

  /** One aggregate job over the just-written files: each configured
    * column's EXACT per-file sum, keyed by physical column — the
    * entry's `sums` (Long for integrals, [[CommitLog.DecV]] for
    * decimals; restatements, checkpoints, clones and restores carry
    * them with the rest of the entry). The sums
    * compute in DECIMAL(38) — exact; a per-file partial that cannot
    * represent (beyond Long unscaled / 38 digits) or a column of an
    * order-dependent type is simply OMITTED (the fold's admission
    * refuses, conservative). ANY failure logs and skips sums for the
    * whole batch rather than failing the write — the repair for files
    * that missed their partials is any rewrite (OPTIMIZE re-harvests). */
  private def sumsFor(relPaths: Seq[String], logicalCols: Seq[String],
      snap: => Snapshot): Map[String, Map[String, Any]] =
    scala.util.Try {
      import org.apache.spark.sql.functions.{col, input_file_name, try_sum}
      import org.apache.spark.sql.types._
      if (relPaths.isEmpty || logicalCols.isEmpty) return Map.empty
      val sch = snap.schema
      val df = spark.read.parquet(relPaths.map(entryPath): _*)
      val present = df.schema.fields.map(f => lc(f.name) -> f).toMap
      // logical → physical against the current schema (a brand-new
      // column's physical IS its logical name), deduped on the
      // PHYSICAL name — a stale configured name plus the derived
      // renamed name must not aggregate the same column twice
      val targets: Seq[(String, DataType)] = logicalCols.flatMap { c =>
        val phys = physOf(sch, c)
        present.get(lc(phys)).collect {
          case f if f.dataType.isInstanceOf[DecimalType]
              || f.dataType == ByteType || f.dataType == ShortType
              || f.dataType == IntegerType || f.dataType == LongType =>
            f.name -> f.dataType
        }
      }.distinctBy(_._1)
      if (targets.isEmpty) return Map.empty
      val aggs = targets.map { case (c, dt) =>
        val wide = dt match {
          case d: DecimalType => DecimalType(38, d.scale)
          case _ => DecimalType(38, 0)
        }
        // try_sum: a per-file overflow (ANSI would throw, non-ANSI
        // nulls) yields NULL for THAT entry only — omitted below, the
        // fold refuses for that file; other files/columns keep theirs
        try_sum(col(s"`$c`").cast(wide)).as(c)
      }
      val byName = relPaths.map(f => new Path(entryPath(f)).getName -> f).toMap
      df.groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().flatMap { r =>
          byName.get(new Path(r.getString(0)).getName).map { rel =>
            val entries = targets.zipWithIndex.flatMap { case ((c, dt), i) =>
              Option(r.getDecimal(i + 1)).flatMap { bd =>
                val repr: Option[Any] = dt match {
                  case _: DecimalType => CommitLog.decVOf(bd)
                  case _ => // integral: the scale-0 DecV's unscaled IS the sum
                    CommitLog.decVOf(bd).collect {
                      case CommitLog.DecV(u, 0) => java.lang.Long.valueOf(u)
                    }
                }
                repr.map(c -> _)
              }
            }
            rel -> entries.toMap
          }
        }.toMap.filter(_._2.nonEmpty)
    }.recover { case e =>
      // a failed harvest must not fail the WRITE — but it must not be
      // invisible either: these files will refuse the SUM fold forever
      // (until a rewrite re-harvests), and the operator should know why
      System.err.println(s"[graft] $tableRoot: sum-stats harvest failed " +
        s"for ${relPaths.size} file(s) — committing without partials " +
        s"(a rewrite re-harvests): $e")
      Map.empty[String, Map[String, Any]]
    }.get

  /** STATS-ONLY SUM BACKFILL (r17, VERDICT r16 #3): give every live
    * file that LACKS its exact sum partials — files written before
    * `withSumStats`/`merge.sumstats`, files whose write-time harvest
    * failed, and DV'd files whose delta accounting is stale — fresh
    * partials in ONE metadata commit, reading each such file ONCE and
    * rewriting NOTHING. On a 100 TB table, adopting sum stats is a
    * scan + stats-restatement commit, not the full rewrite r16
    * required. DV'd files harvest their LIVE sums (masked rows
    * subtracted by the read itself) and stamp current accounting, so
    * even legacy DVs become fold-answerable. `cols` defaults to the
    * effective sum config (instance + snapshot-derived); only exactly-
    * summable columns (integrals, decimals) harvest. Files already
    * covered are untouched — the call is idempotent and cheap to
    * schedule. A file whose footer counts were never harvested
    * (pre-r14) gets its row/null/min-max stats refreshed in the same
    * commit. CAS-retried: a file a racing writer adds mid-backfill is
    * re-examined on the retry fold, never silently dropped. r18: the
    * same read also harvests live non-null COUNTS for every requested
    * column of ANY type (no request = the whole schema) on DV'd files
    * — the COUNT(col) repair for columns that can never carry a sum
    * (strings, doubles, containers); a sums-free table's legacy DV
    * repairs with a pure count harvest. Returns (committed version,
    * files harvested) — (current version, 0) when nothing needed
    * work. */
  def harvestSums(cols: Seq[String] = Nil): (Long, Int) = {
    import org.apache.spark.sql.functions.{col, count, try_sum}
    import org.apache.spark.sql.types._
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0, s"$tableRoot: nothing to harvest — no commits")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      val targets: Seq[String] =
        if (cols.nonEmpty) cols
        else effectiveSumCfg(() => s).getOrElse(Nil)
      // SUM half: only the exactly-summable subset harvests partials
      val sumFields = targets.flatMap(c =>
          sch.fields.find(f => lc(f.name) == lc(c)))
        .filter(f => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
          case _ => false
        }).distinctBy(f => lc(physName(f)))
      // COUNT half (r18): a live non-null count repairs COUNT(col)
      // across a legacy DV for EVERY column, whatever its type — the
      // requested columns, or (no request) the whole schema; counts
      // ride the same masked read for free
      val cntFields = (if (cols.nonEmpty) cols else sch.fields.map(_.name).toSeq)
        .flatMap(c => sch.fields.find(f => lc(f.name) == lc(c)))
        .distinctBy(f => lc(physName(f)))
      require(cntFields.nonEmpty, s"$tableRoot: none of " +
        s"${(if (cols.nonEmpty) cols else targets).mkString(", ")} " +
        "resolves to a table column")
      val sumPhys = sumFields.map(f => lc(physName(f))).toSet
      val cntOnly = cntFields.filterNot(f => sumPhys(lc(physName(f))))
      def zeroFor(e: FileEntry, phys: String): Boolean =
        e.rows.contains(0L) || ((e.rows, e.nulls.get(phys)) match {
          case (Some(r), Some(n)) => n == r
          case _ => false
        })
      val needs = s.entries.values.filter { e =>
        val dvd = e.maskedCount > 0L
        // a provably-empty file (or all-null column) has no partial
        // to store — already covered, skip forever
        val missingSum = sumFields.exists { f =>
          val phys = physName(f)
          !e.sums.contains(phys) && !zeroFor(e, phys)
        }
        // r18: an accounted DV'd file still needs a live count for a
        // requested column that never got one (legacy accounting, a
        // column added after it)
        val missingNn = dvd && cntFields.exists { f =>
          val phys = physName(f)
          !e.liveNonNull.contains(phys) && !zeroFor(e, phys)
        }
        (dvd && !e.dvAccounted) || missingSum || missingNn
      }.toSeq
      if (needs.isEmpty) return (s.version, 0)
      // ONE masked read over exactly the files needing partials: the
      // live sums and live non-null counts, grouped per file. Live
      // counts are only STORED for DV'd files — when no needy file
      // carries a DV (a pure sum backfill), the read stays as narrow
      // as the sum set instead of scanning the whole schema (review
      // r18)
      val dvNeedy = needs.exists(_.maskedCount > 0L)
      val readFields = sumFields ++ (if (dvNeedy) cntOnly else Nil)
      val narrow = StructType(readFields.toArray)
      val aggs = sumFields.map(f =>
        try_sum(col(s"`${f.name}`").cast(f.dataType match {
          case d: DecimalType => DecimalType(38, d.scale)
          case _ => DecimalType(38, 0)
        })).as(s"__s_${f.name}")) ++
        readFields.map(f => count(col(s"`${f.name}`")).as(s"__c_${f.name}"))
      val harvested = readLiveWithPos(s, narrow, needs.map(_.path))
        .groupBy(col("__dv_f"))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getString(0) -> r).toMap
      // each needy file's statement: its restated stats block, plus
      // fresh footer stats (row/null counts — what the fold's global
      // admission needs) for a file committed without them
      val restated: Seq[FileEntry] =
        needs.map { e =>
          val dvTot = e.maskedCount
          val base =
            if (e.rows.isDefined) FileEntry(e.path, colStats = e.colStats,
              sums = e.sums, liveNonNull = e.liveNonNull, dvAcc = e.dvAcc)
            else statsForOne(e.path)
          val row = harvested.get(new Path(e.path).getName)
          var sums = base.sums
          var nn = base.liveNonNull
          def liveCnt(f: org.apache.spark.sql.types.StructField): Long =
            row.map(r => r.getLong(r.fieldIndex(s"__c_${f.name}")))
              .getOrElse(0L)
          sumFields.foreach { f =>
            val phys = physName(f)
            val liveNn = liveCnt(f)
            // a file with zero live rows, or an all-null-among-live
            // column, stores a ZERO partial: it contributes nothing to
            // the fold's exact accumulation (the global NULL-if-no-
            // values rule rides the live non-null counts, not this).
            // A NULL aggregate WITH live values is NOT all-null — it is
            // the non-ANSI sum's overflow signal (the Decimal(38,s)
            // accumulator has zero headroom at max precision), so the
            // entry stays absent and the fold keeps refusing, matching
            // the write-time harvest's omission (ADVICE r17)
            val bdOpt: Option[java.math.BigDecimal] =
              row.flatMap(r =>
                Option(r.getDecimal(r.fieldIndex(s"__s_${f.name}")))) match {
                case some @ Some(_) => some
                case None if liveNn == 0L => Some(java.math.BigDecimal.ZERO)
                case None => None
              }
            val repr: Option[Any] = bdOpt.flatMap { bd =>
              f.dataType match {
                case _: DecimalType => CommitLog.decVOf(bd).map(x => x: Any)
                case _ => CommitLog.decVOf(bd).collect {
                  case CommitLog.DecV(u, 0) => java.lang.Long.valueOf(u): Any
                }
              }
            }
            repr match {
              case Some(v) => sums = sums.updated(phys, v)
              case None => // unrepresentable → stays absent, fold refuses
                sums = sums - phys
            }
            if (dvTot > 0L) nn = nn.updated(phys, liveNn)
          }
          var dvAcc = base.dvAcc
          if (dvTot > 0L) {
            // r18: count-only columns get their live non-null counts
            // too — COUNT(col) repairs for every type, not just the
            // summable set
            cntOnly.foreach(f => nn = nn.updated(physName(f), liveCnt(f)))
            // stamping dvAcc certifies the file's WHOLE sum/count
            // evidence as live-exact. If the file was UNACCOUNTED
            // before this pass, any entry this pass did NOT re-harvest
            // (a columns-subset call after a legacy DV) still bakes in
            // pre-mask values and would silently answer wrong — sweep
            // them (absence refuses; a later full harvest repairs). A
            // previously-ACCOUNTED file's other entries are live-exact
            // and keep (review r18).
            if (!e.dvAccounted) {
              val sumKeep = sumFields.map(f => lc(physName(f))).toSet
              val cntKeep = cntFields.map(f => lc(physName(f))).toSet
              sums = sums.filter(kv => sumKeep(lc(kv._1)))
              nn = nn.filter(kv => cntKeep(lc(kv._1)))
            }
            dvAcc = Some(dvTot)
          }
          base.copy(sums = sums, liveNonNull = nn, dvAcc = dvAcc)
        }
      // a file whose harvest changes nothing (e.g. an overflowed —
      // unrepresentable — sum that stays absent) must not churn a
      // version per call: commit only actual restatements
      val changed = restated.filter { r =>
        val e = s.entry(r.path)
        r.rows.isDefined || (r.colStats, r.sums, r.liveNonNull, r.dvAcc) !=
          (e.colStats, e.sums, e.liveNonNull, e.dvAcc)
      }
      if (changed.isEmpty) return (s.version, 0)
      if (tryCommit(Manifest(s.version + 1, "add", entries = changed,
          schema = Some(sch))))
        return (s.version + 1, changed.size)
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    (-1L, 0) // unreachable
  }

  /** WRITER-side CHECK constraints: every subsequent write through
    * this instance validates the data it is about to commit and
    * refuses loudly when any row violates. SQL CHECK semantics —
    * violated only when the condition is FALSE; NULL passes, and a
    * constraint whose column the batch OMITS passes too (the omitted
    * column is null in the written rows — the documented additive
    * schema evolution; the merge paths conform to the full table
    * schema first, so they always evaluate every constraint). For
    * `append` the batch is checked; for the merge paths the MERGED
    * output is (the constraint is a table invariant, not just a batch
    * one). Cost: ONE extra evaluation of the written frame per commit
    * regardless of how many constraints are registered — all violation
    * counts ride a single aggregate. */
  def withConstraint(name: String, condition: org.apache.spark.sql.Column): CommitLog = {
    require(name.nonEmpty, s"$tableRoot: constraint needs a name")
    constraints = constraints :+ (name -> condition)
    this
  }

  private var constraints: Seq[(String, org.apache.spark.sql.Column)] = Nil

  /** The DURABLE form of [[withConstraint]]: attach every
    * `constraint.<name>` entry of a catalog table's persisted
    * properties (value = a SQL boolean expression over the table's
    * LOGICAL columns, e.g. `constraint.price_pos` → `price >= 0`).
    * The catalog calls this at every write-path construction, so
    * constraints survive instance and session turnover — Delta's
    * `delta.constraints.*` shape. Path-based (catalog-less) users keep
    * the per-instance [[withConstraint]]. */
  def withConstraintProps(props: Map[String, String]): CommitLog = {
    props.foreach { case (k, v) =>
      if (k.startsWith(CommitLog.ConstraintPropPrefix))
        withConstraint(k.stripPrefix(CommitLog.ConstraintPropPrefix),
          org.apache.spark.sql.functions.expr(v))
    }
    // r16: `merge.sumstats` = comma-separated columns to keep exact
    // per-file sums for ([[withSumStats]]) — the catalog/SQL spelling
    // of the library config, applied on every write the catalog
    // routes. Names are the create-time logical names; a later RENAME
    // keeps maintenance alive through the snapshot-derived half of
    // [[effectiveSumCfg]] (the stale name resolves nothing, harmless).
    props.get("merge.sumstats")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty) // a separators-only value must not brick writes
      .foreach(withSumStats)
    this
  }

  /** Validate the CURRENT table contents against every registered
    * constraint — the ALTER-time gate when a durable constraint is
    * added to a table that already holds data (Delta's ADD CONSTRAINT
    * scan): adding an invariant the existing rows violate must fail
    * loudly then, not on some later unrelated write. One aggregate
    * scan; a never-committed table validates trivially. */
  def validateTableConstraints(): Unit =
    if (snapshot().version >= 0) validateConstraints(read())

  /** Refuse `df` if any row violates a registered constraint. All
    * counts come from one aggregate pass; constraints that do not
    * RESOLVE against `df` (batch omits the column) are skipped —
    * every written row holds null there, and NULL passes CHECK. */
  private def validateConstraints(df: DataFrame): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, lit, not, sum, when}
    val applicable = constraints.filter { case (_, cond) =>
      scala.util.Try(df.filter(cond).queryExecution.analyzed).isSuccess
    }
    if (applicable.isEmpty) return
    val counts = df.agg(
      sum(when(not(coalesce(applicable.head._2, lit(true))), 1L).otherwise(0L)),
      applicable.tail.map { case (_, cond) =>
        sum(when(not(coalesce(cond, lit(true))), 1L).otherwise(0L))
      }: _*).head()
    applicable.zipWithIndex.foreach { case ((name, _), i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0) throw new IllegalArgumentException(
        s"$tableRoot: CHECK constraint '$name' violated by $bad row(s) — " +
          "nothing was committed")
    }
  }

  private def manifestPath(v: Long): Path = new Path(logDir, f"$v%020d.json")

  def snapshot(): Snapshot = snapshotAt(Long.MaxValue)

  private def emptySnapshot: Snapshot = Snapshot(-1L, None, Map.empty)

  /** The log's manifests up to version `asOf`, parsed lazily in
    * version order — the shared input of [[snapshotAt]] and
    * [[readChanges]]. An Iterator so the snapshot fold holds ONE
    * parsed manifest at a time (manifests grew per-file stats blocks;
    * a long-uncompacted log must not put every tree on the driver at
    * once — callers that need two passes materialize explicitly). */
  private def parsedManifests(asOf: Long, from: Long = Long.MinValue)
      : Iterator[Manifest] =
    manifestStatuses(asOf, from).iterator.map(parseManifest)

  /** The published manifest files in [from, asOf], version order.
    * Dot-prefixed names are IN-FLIGHT tmp manifests (mid-write); only
    * the atomically-published versioned files are the log. */
  private def manifestStatuses(asOf: Long, from: Long = Long.MinValue)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    if (!fs.exists(logDir)) return Nil
    fs.listStatus(logDir)
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".json") && !n.startsWith(".") && {
          val v = n.takeWhile(_ != '.').toLong
          v <= asOf && v >= from
        }
      }
      .sortBy(_.getPath.getName).toSeq
  }

  private def manifestVersionOf(st: org.apache.hadoop.fs.FileStatus): Long =
    st.getPath.getName.takeWhile(_ != '.').toLong

  private def parseManifest(m: org.apache.hadoop.fs.FileStatus): Manifest =
    ManifestCodec.read(fs, m.getPath)

  /** Apply one manifest to a folded state: the action decides which
    * live entries survive, the manifest's files join, and what it
    * states about a live file folds onto that file's entry. */
  private def foldOne(prev: Snapshot, m: Manifest): Snapshot = {
    // the spec REGISTRY is a full restatement when present (evolve_spec
    // and checkpoints write it); absent = carry forward
    val specs = m.specs.getOrElse(prev.specs)
    val curId = math.max(0, specs.size - 1)
    // a newly tagged file's spec: explicit entry (restore/checkpoint
    // restatements) > the id it already carried (files riding through
    // a replace — NOT the current one: a CoW rewrite on an evolved-but-
    // unmigrated table must not silently promote stale files it merely
    // carried) > the CURRENT spec for genuinely new files (all writes
    // land under the current spec — [[requireCurrentSpec]] enforces it)
    def specIdFor(f: String): Int =
      if (specs.isEmpty) 0
      else m.specIds.getOrElse(f, prev.entries.get(f).fold(curId)(_.specId))
    var live = m.action match {
      // merge-on-read DML (`add_dv`) also adopts its replacement files
      case "add" | "add_dv" => prev.entries
      // restatement: checkpoint/restore/rewrites carry what survives
      case "replace" => VectorMap.empty[String, FileEntry]
      case "replace_parts" =>
        // retire the live files OF THE NAMED PARTITIONS, keep the rest;
        // untagged files are untouched (the writer enforces all-tagged
        // before using this action)
        val retired = m.retiredParts.toSet
        prev.entries.filterNot(_._2.partTag.exists(retired))
      case "evolve_spec" =>
        // metadata-only: the registry (restated above) grew by one
        require(specs.nonEmpty,
          s"$tableRoot: evolve_spec manifest at version ${m.version} carries no partSpecs")
        prev.entries
      case other => throw new IllegalStateException(
        s"$tableRoot: unknown log action '$other' at version ${m.version}")
    }
    m.files.foreach(f => if (!live.contains(f)) live = live.updated(f, FileEntry(f)))
    m.entries.foreach(e => live.get(e.path).foreach { cur =>
      live = live.updated(e.path,
        cur.restate(e, if (e.partTag.isDefined) specIdFor(e.path) else cur.specId))
    })
    var txns = prev.txns
    m.txn.foreach { case (id, epoch) =>
      txns = txns.updated(id, math.max(epoch, txns.getOrElse(id, Long.MinValue)))
    }
    // a checkpoint manifest carries the FULL folded txn table, so the
    // fold stays correct when pre-checkpoint manifests are pruned
    m.txns.foreach { case (id, epoch) =>
      txns = txns.updated(id, math.max(epoch, txns.getOrElse(id, Long.MinValue)))
    }
    // physRetired: full restatement when present (dropColumn and
    // compact write it); absent = carry forward
    Snapshot(m.version, m.schema.orElse(prev.schema), txns,
      m.physRetired.getOrElse(prev.physRetired), specs, live)
  }

  /** The log folded up to version `asOf` (inclusive) — TIME TRAVEL.
    * Versions older than the last [[prune]]d checkpoint are gone (the
    * fold then starts at that checkpoint); data files of retired
    * versions survive until [[vacuum]], which is what makes old
    * snapshots readable at all. */
  def snapshotAt(asOf: Long): Snapshot = {
    // r19 incremental fold ([[CommitLog.snapCache]]): list once (the
    // listing decides the head — unchanged multi-writer semantics),
    // seed from the newest cached fold whose last-folded manifest is
    // STILL the same file (version + mtime + length — the recreate
    // guard), and parse only the manifests after it. Cold path folds
    // from the last checkpoint exactly as before.
    val statuses = manifestStatuses(asOf)
    if (statuses.isEmpty) {
      if (!fs.exists(logDir)) CommitLog.snapCache.remove(tableRoot)
      return emptySnapshot
    }
    val cached = CommitLog.snapCache.get(tableRoot)
    val seedEntry = Option(cached).filter { e =>
      e.snap.version >= 0 && e.snap.version <= asOf &&
        statuses.exists(st => manifestVersionOf(st) == e.snap.version &&
          st.getModificationTime == e.mtime && st.getLen == e.len)
    }
    if (cached != null && seedEntry.isEmpty && asOf == Long.MaxValue)
      CommitLog.snapCache.remove(tableRoot, cached) // recreated table
    val toFold = seedEntry match {
      case Some(e) => statuses.filter(st => manifestVersionOf(st) > e.snap.version)
      case None =>
        val from = checkpointFoldStart(asOf)
        statuses.filter(st => manifestVersionOf(st) >= from)
    }
    val seed = seedEntry.map(_.snap).getOrElse(emptySnapshot)
    if (toFold.isEmpty) return seed
    val folded = toFold.iterator.map(parseManifest).foldLeft(seed)(foldOne)
    if (CommitLog.snapCache.size > 512) CommitLog.snapCache.clear() // crude bound
    val entry = CommitLog.SnapEntry(
      toFold.last.getModificationTime, toFold.last.getLen, folded)
    CommitLog.snapCache.merge(tableRoot, entry, (old, nw) =>
      if (nw.snap.version >= old.snap.version) nw else old)
    folded
  }

  /** Where the snapshot fold may START: the `_last_checkpoint` HINT's
    * version when it points at a retained checkpoint manifest ≤
    * `asOf` (a checkpoint restates the full folded state, so every
    * earlier manifest is redundant for the fold) — the Delta-style
    * O(commits since last compact) snapshot on a long un-pruned log.
    * The hint is advisory by design: missing, stale, torn, or
    * pointing past `asOf` (a time travel BEHIND the checkpoint) all
    * degrade to the full fold, never to a wrong answer. [[compact]]
    * maintains it best-effort (plain overwrite, no CAS — a lost
    * hint-write race costs parses, not correctness). */
  private def checkpointFoldStart(asOf: Long): Long = {
    val p = new Path(logDir, "_last_checkpoint")
    try {
      if (!fs.exists(p)) return Long.MinValue
      val v = ManifestCodec.hintVersion(fs, p)
      if (v > asOf) return Long.MinValue
      // trust-but-verify: the named manifest must exist and BE a
      // checkpoint, or the fold would start from partial state
      val mp = manifestPath(v)
      if (fs.exists(mp) && ManifestCodec.read(fs, mp).checkpoint) v
      else Long.MinValue
    } catch { case _: Exception => Long.MinValue }
  }

  /** The log's commit HISTORY, newest first: one row per retained
    * manifest — version, commit wall-clock, action, checkpoint flag,
    * file count, and the writer txn if one was carried (the DESCRIBE
    * HISTORY surface; audit + debugging + retention planning).
    * Driver-built and manifest-count-sized by construction — [[prune]]
    * bounds it. */
  def history(): DataFrame = {
    val rows = parsedManifests(Long.MaxValue).map { m =>
      (m.version, m.ts, m.action, m.checkpoint, m.files.size.toLong,
        m.txn.map(_._1), m.txn.map(_._2))
    }.toSeq.sortBy(-_._1)
    val sp = spark
    import sp.implicits._
    rows.toDF("version", "ts_millis", "action", "checkpoint",
      "num_files", "txn_id", "txn_epoch")
  }

  /** TIMESTAMP time travel: the table as of wall-clock `tsMillis` —
    * the latest version whose manifest was committed at or before it
    * (each manifest records its writer's clock at commit; version
    * order is authoritative where clocks disagree, so the scan takes
    * the last version in fold order with ts ≤ the bound — a
    * clock-skewed earlier-version/later-ts commit cannot shadow a
    * later version). Refused when the bound precedes every retained
    * manifest — after a [[prune]] the answer would silently be a
    * NEWER state than asked for. Pre-timestamp manifests (older logs)
    * count as ts = 0: always within bound, never chosen over a
    * timestamped later version. */
  def readAsOfTime(tsMillis: Long): DataFrame = readVersion(versionAtTime(tsMillis))

  /** The version [[readAsOfTime]] resolves `tsMillis` to — exposed so
    * the DSv2 binding ([[GraftLogScanBuilder]]) shares the exact
    * clock-skew rule. */
  def versionAtTime(tsMillis: Long): Long = {
    var chosen = -1L
    parsedManifests(Long.MaxValue).foreach { m =>
      if (m.ts.getOrElse(0L) <= tsMillis) chosen = m.version
    }
    require(chosen >= 0,
      s"$tableRoot: no retained version committed at or before $tsMillis")
    chosen
  }

  /** The table at the latest version (explicit file-list scan — full
    * parquet pushdown/pruning, no directory listing). */
  def read(): DataFrame = readAt(snapshot())

  /** The table as of version `v` — every committed version stays
    * readable until [[prune]]/[[vacuum]] retire it, because a merge
    * RETIRES files by writing a new manifest, never by deleting. */
  def readVersion(v: Long): DataFrame = {
    val s = snapshotAt(v)
    require(s.version == v, s"$tableRoot: version $v not in the log " +
      s"(earliest retained fold reaches ${s.version})")
    readAt(s)
  }

  private def readAt(s: Snapshot): DataFrame = s.schema match {
    case Some(sch) => readFiles(sch, s.files, s.dvsOf)
    case None =>
      if (s.files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new StructType())
      else spark.read.parquet(s.files.map(entryPath): _*)
  }

  /** FILE-LEVEL MIN/MAX SKIPPING: [[read]] restricted to the rows with
    * `colName` in the CLOSED range [lo, hi], scanning ONLY the data
    * files whose footer-harvested (min, max) can overlap it — the
    * manifest prunes whole files before any is opened (the move that
    * makes [[graft.operators.Layout.zorder]]'d tables cheap to range-
    * read; the reference gets the same effect from its sort-key seek,
    * /root/reference/index.js:305-314). Files with no recorded stats
    * for `colName` (pre-stats snapshots, unsupported types) are kept —
    * pruning is only ever an optimization, never a filter. Bounds and
    * stats compare numerically for numeric columns and lexicographically
    * for strings; the residual row filter is applied on top, so the
    * result is exact regardless of how much pruning happened. */
  def readRange(colName: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshot()
    // a never-committed table has no schema to resolve colName against
    // — answer zero rows like read() does, not an AnalysisException
    if (s.schema.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], new StructType())
    // stats (footer-harvested) are keyed by PHYSICAL column names
    val physCol = physOf(s.schema, colName)
    // TIMESTAMP bounds (epoch-micros longs, the documented stats
    // domain) wrap in TsUs — see candidateFilesForExprs
    val isTs = s.schema.exists(_.fields.exists(f =>
      lc(f.name) == lc(colName)
        && (f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType]
          || f.dataType == org.apache.spark.sql.types.TimestampNTZType)))
    def wrapTs(v: Any): Any = v match {
      case l: java.lang.Long if isTs => CommitLog.TsUs(l)
      case x => x
    }
    // DECIMAL bounds fold to (unscaled, scale) like every decimal
    // bound (r16) — the caller's external value (BigDecimal in either
    // dialect, or an exact integer) compares value-exactly against
    // harvested DecV stats; anything else stays unwrapped and the
    // mixed-pair guard keeps the file
    def wrapDec(v: Any): Any = CommitLog.decVOf(v).getOrElse(v)
    val isDec = s.schema.exists(_.fields.exists(f =>
      lc(f.name) == lc(colName)
        && f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
    def wrap(v: Any): Any = if (isDec) wrapDec(v) else wrapTs(v)
    val picked = s.files.filter { f =>
      s.entry(f).colStats.get(physCol) match {
        case Some((mn, mx)) => overlaps(mn, mx, wrap(lo), wrap(hi))
        case None => true // no stats → cannot rule the file out
      }
    }
    val base = readFiles(s.schema.getOrElse(new StructType()), picked, s.dvsOf)
    base.filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** BLOOM-INDEXED POINT LOOKUP: [[read]] restricted to rows with
    * `colName = value`, scanning only files that BOTH min/max stats and
    * the per-file Bloom filter ([[withBloomIndex]]) admit. Stats prune
    * clustered layouts; the bloom prunes the case stats can't — a
    * high-cardinality unclustered column whose every file spans the
    * whole value range. No false negatives (a file holding the value
    * always probes positive — q94's exact-oracle property), and the
    * residual equality filter keeps the result exact no matter how
    * little was pruned. Files with no filter for `colName` are kept. */
  def readPoint(colName: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(value != null,
      s"$tableRoot: point read of null — SQL equality never matches null")
    val s = snapshot()
    if (s.schema.isEmpty) // never-committed table: zero rows, like read()
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], new StructType())
    val picked = pointCandidateFiles(s, colName, value)
    val base = readFiles(s.schema.getOrElse(new StructType()), picked, s.dvsOf)
    base.filter(col(colName) === lit(value))
  }

  /** The files [[readPoint]] would scan — exposed so specs (and users
    * sizing an index) can see pruning without instrumenting a read. */
  def pointCandidateFiles(colName: String, value: Any): Seq[String] =
    pointCandidateFiles(snapshot(), colName, value)

  /** The column's committed type was string-shiftingly widened
    * ([[CommitLog.strShifted]]) — PARTITION-TAG equality must not
    * exclude files for it (a tag names a whole partition across eras).
    * Bloom evidence is finer since r17: each filter carries the ERA
    * its bits were hashed under ([[CommitLog.BloomF.era]]), and a
    * probe trusts a filter iff its era equals the column's current one
    * ([[colStrEra]]) — files written after the widen keep pruning. */
  private def strShiftedCol(s: Snapshot, colName: String): Boolean =
    s.schema.exists(_.fields.exists(f =>
      lc(f.name) == lc(colName) && CommitLog.strShifted(f)))

  /** The column's current string-form era (0 = never shifted). */
  private def colStrEra(s: Snapshot, colName: String): Long =
    s.schema.flatMap(_.fields.find(f => lc(f.name) == lc(colName)))
      .map(CommitLog.strEraOf).getOrElse(0L)

  private def pointCandidateFiles(s: Snapshot, colName: String,
      value: Any): Seq[String] = {
    // The filter bits were set from CAST(col AS STRING), so the probe
    // must stringify the value THROUGH THE COLUMN'S TYPE with Spark's
    // own cast (value.toString diverges for e.g. an Int 5 probing a
    // double column whose rows hashed as "5.0" — a silent FALSE
    // NEGATIVE); an un-castable or unknown-type probe disables bloom
    // pruning for the lookup rather than risking one. The probe string
    // is the column's CURRENT-era form, so only same-era filters may
    // exclude (r17 — a widened column's post-widen files still prune).
    val era = colStrEra(s, colName)
    val vs: Option[String] = scala.util.Try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val asCol = s.schema.flatMap(_.find(_.name == colName).map(_.dataType))
        .fold(Literal(value): org.apache.spark.sql.catalyst.expressions.Expression)(
          dt => Cast(Literal(value), dt))
      Option(Cast(asCol, org.apache.spark.sql.types.StringType).eval(null))
        .map(_.toString)
    }.toOption.flatten
    val physCol = physOf(s.schema, colName) // stats/blooms: physical keys
    val tsPoint: Any = s.schema.flatMap(_.find(f => lc(f.name) == lc(colName)))
      .map(_.dataType) match {
      case Some(dt) if (dt.isInstanceOf[org.apache.spark.sql.types.TimestampType]
          || dt == org.apache.spark.sql.types.TimestampNTZType) => value match {
        case l: java.lang.Long => CommitLog.TsUs(l)
        case x => x
      }
      case Some(_: org.apache.spark.sql.types.DecimalType) =>
        // r16: decimal probes compare value-exactly against DecV stats
        CommitLog.decVOf(value).map(x => x: Any).getOrElse(value)
      case _ => value
    }
    s.files.filter { f =>
      val statOk = s.entry(f).colStats.get(physCol) match {
        case Some((mn, mx)) => overlaps(mn, mx, tsPoint, tsPoint)
        case None => true
      }
      val bloomOk = (s.entry(f).blooms.get(physCol), vs) match {
        case (Some(b), Some(v)) if b.era == era => bloomMayContain(b, v)
        case _ => true // no filter, wrong era, or unprobable value → keep
      }
      statOk && bloomOk
    }
  }

  /** Driver-side probe with exactly the positions [[bloomsForCfg]] sets:
    * position j = parseLong(md5("j:" + string-form)[0,15), 16) mod bits
    * (60-bit prefix — always positive, same arithmetic as the Spark
    * side's conv/pmod). */
  private def bloomMayContain(b: CommitLog.BloomF, v: String): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until b.k).forall { j =>
      val hex = md.digest(s"$j:$v".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.substring(0, 15)
      md.reset()
      val pos = java.lang.Long.parseLong(hex, 16) % b.bits
      (b.words((pos / 64).toInt) & (1L << (pos % 64).toInt)) != 0L
    }
  }

  /** One job over the just-written files: every indexed column's
    * values hash to k md5-derived positions (q94's relational bloom,
    * parameterized), bit_or'd into 64-bit words per (file, column).
    * The collect is bounded by files × cols × bits/64 longs. */
  /** The bloom config in EFFECT for this table: the instance's writer
    * config, else derived from the live snapshot's self-describing
    * filters. [[optimize]] has kept an existing index alive from a
    * config-less instance since r8; this extends the same guarantee to
    * EVERY write path (delete/update/merge/upsert/append/...) — a
    * rewrite must never silently strip the table's index, which would
    * quietly degrade [[readPoint]] pruning on the rewritten files. */
  private def effectiveBloomCfg(): Option[(Seq[String], Int, Int)] =
    bloomCfg.orElse {
      val s = snapshot()
      val bl = s.entries.valuesIterator.map(_.blooms).filter(_.nonEmpty).toSeq
      if (bl.isEmpty) None
      else {
        // filter keys are PHYSICAL names; express the derived config in
        // LOGICAL names so [[bloomsForCfg]]'s logical→physical
        // translation stays unambiguous — after a rename + re-add of
        // the old name, a raw physical key would otherwise bind to the
        // RE-ADDED column (whose logical name equals this physical)
        // and the original column's index would silently stop being
        // maintained on new files. A physical with no live logical
        // (a dropped column) passes through and is filtered by the
        // present-columns check.
        val logByPhys: Map[String, String] = s.schema
          .map(_.fields.map(f => lc(physName(f)) -> f.name).toMap)
          .getOrElse(Map.empty)
        val cols = bl.flatMap(_.keys).distinct
          .map(c => logByPhys.getOrElse(lc(c), c)).distinct.sorted
        val rep = bl.head.values.head
        Some((cols, rep.bits, rep.k))
      }
    }

  /** One job over the just-written files: every indexed column's
    * values hash to k md5-derived positions (q94's relational bloom,
    * parameterized), bit_or'd into 64-bit words per (file, column).
    * The collect is bounded by files × cols × bits/64 longs. */
  private def bloomsForCfg(relPaths: Seq[String],
      cfg: Option[(Seq[String], Int, Int)],
      sch: Option[StructType] = None): Map[String, Map[String, CommitLog.BloomF]] =
    cfg match {
      case None => Map.empty
      case Some((cols0, bits, k)) if relPaths.nonEmpty =>
        import org.apache.spark.sql.functions._
        // fresh data files carry PHYSICAL names; a writer config names
        // LOGICAL columns ([[withBloomIndex]]) while a snapshot-derived
        // config ([[effectiveBloomCfg]]) is already physical — physOf
        // translates the former and passes the latter through, and the
        // stored filter keys stay physical either way (matching what
        // [[pointCandidateFiles]]/[[candidateFilesForExprs]] look up)
        val cols = cols0.map(c => physOf(sch, c)).distinct
        val df = spark.read.parquet(relPaths.map(entryPath): _*)
        val present = df.columns.toSet
        val indexed = cols.filter(present)
        if (indexed.isEmpty) return Map.empty
        val pieces = indexed.map { c =>
          df.filter(col(c).isNotNull)
            .select(input_file_name().as("__f"), col(c).cast("string").as("__v"))
            .select(col("__f"), explode(array((0 until k).map(j =>
              pmod(conv(substring(md5(concat(lit(s"$j:"), col("__v"))), 1, 15), 16, 10)
                .cast("long"), lit(bits.toLong))): _*)).as("__pos"))
            .select(col("__f"), expr("__pos div 64").as("__word"),
              expr("shiftleft(1L, cast(__pos % 64 as int))").as("__mask"))
            .groupBy(col("__f"), col("__word"))
            .agg(expr("bit_or(__mask)").as("__bits"))
            .withColumn("__col", lit(c))
        }
        val byName = relPaths.map(f => new Path(f).getName -> f).toMap
        val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, Array[Long]]]
        pieces.reduce(_.unionByName(_)).collect().foreach { r =>
          val file = byName(new Path(r.getString(0)).getName)
          val arr = out.getOrElseUpdate(file, scala.collection.mutable.Map.empty)
            .getOrElseUpdate(r.getString(3), new Array[Long](bits / 64))
          arr(r.getLong(1).toInt) = r.getLong(2)
        }
        // r17: stamp each filter with its column's CURRENT string-form
        // era — the values just hashed stringified through the current
        // (possibly widened) type, so probes of the same era may trust
        // these bits even on a column that shifted in the past
        def eraOf(phys: String): Long = sch.flatMap(_.fields.find(f =>
          lc(physName(f)) == lc(phys))).map(CommitLog.strEraOf).getOrElse(0L)
        out.map { case (f, m) =>
          f -> m.map { case (c, w) =>
            c -> CommitLog.BloomF(bits, k, w, eraOf(c)) }.toMap
        }.toMap
      case _ => Map.empty
    }

  private def overlaps(mn: Any, mx: Any, lo: Any, hi: Any): Boolean = {
    // unit-normalized timestamp stats compare ONLY against
    // unit-normalized bounds (exact long compare); any mixed pairing
    // (a pre-r15 raw-unit long on either side) is incomparable and
    // keeps the file
    (mn, mx, lo, hi) match {
      case (CommitLog.TsUs(a), CommitLog.TsUs(b),
            CommitLog.TsUs(l), CommitLog.TsUs(h)) =>
        return b >= l && a <= h
      case _ if Seq(mn, mx, lo, hi).exists(_.isInstanceOf[CommitLog.TsUs]) =>
        return true
      // decimal stats/bounds compare VALUE-exactly at any scale pair
      // (r16); a decimal on one side only (e.g. a decimal bound against
      // a pre-r16 stat-less entry can't reach here, but a widened
      // column's old integer stats can) keeps the file
      case (a: CommitLog.DecV, b: CommitLog.DecV,
            l: CommitLog.DecV, h: CommitLog.DecV) =>
        return b.toBig.compareTo(l.toBig) >= 0 && a.toBig.compareTo(h.toBig) <= 0
      case _ if Seq(mn, mx, lo, hi).exists(_.isInstanceOf[CommitLog.DecV]) =>
        return true
      case _ => ()
    }
    def num(x: Any): Option[Double] = x match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    (num(mn), num(mx), num(lo), num(hi)) match {
      case (Some(a), Some(b), Some(l), Some(h)) => b >= l && a <= h
      case _ => (mn, mx, lo, hi) match {
        case (a: String, b: String, l: String, h: String) =>
          // same unsigned-UTF-8 ordering the stats were computed under
          // (and Spark's binary string comparison) — see [[utf8Compare]]
          utf8Compare(b, l) >= 0 && utf8Compare(a, h) <= 0
        case _ => true // incomparable stat/bound → conservative keep
      }
    }
  }

  /** CHANGE-FEED (CDC) READ: every row added or retired by the commits
    * in (fromVersion, toVersion], as the data rows plus
    * `_change_type` ('insert' | 'delete') and `_commit_version`. The
    * diff is FILE-level — exactly what each manifest committed: an
    * `add` emits its files as inserts; a `replace`/`replace_parts`
    * emits retired files as deletes and new files as inserts. Rows a
    * merge rewrote unchanged therefore appear as a delete+insert pair
    * at the same version — the pairs cancel in any keyed or multiset
    * apply, so replaying the feed onto the `fromVersion` snapshot
    * yields the `toVersion` snapshot exactly (spec-pinned). Apply
    * deletes before inserts within a version. A [[compact]] checkpoint
    * restates the same live set, so it contributes NO changes.
    *
    * `fromVersion = -1` reads from the table's creation. Versions the
    * log no longer retains (pruned away) are refused loudly — the diff
    * base must be a state the fold can still reach. Schema evolution is
    * carried per side: each piece reads with the schema of the version
    * it belongs to, and the union is by name with missing columns null.
    */
  def readChanges(fromVersion: Long, toVersion: Long = Long.MaxValue,
      lineage: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val ms = parsedManifests(toVersion).toVector // two passes below
    require(fromVersion == -1L
        || ms.exists(_.version == fromVersion),
      s"$tableRoot: version $fromVersion is not retained in the log — " +
        "changes can only be read from a version the manifest fold still reaches")
    // renames between versions: every piece is normalized to the FEED-
    // FINAL schema's LOGICAL names by matching stable physical names,
    // so a consumer never sees one column split across two names just
    // because a rename happened mid-window (dropped columns keep their
    // last logical name and union in as null-padded leftovers)
    val finalSchema = ms.foldLeft(emptySnapshot)(foldOne).schema
    // A feed window may span renames (top-level OR r13 nested): every
    // piece re-presents under the FEED-FINAL logical names by STABLE
    // PHYSICAL match, recursively through structs, so a consumer never
    // sees one column split across two names. Nested fields added
    // mid-window null-pad; a version field with no final counterpart
    // (dropped later) keeps its last name and unions in as a leftover.
    def alignCol(c: org.apache.spark.sql.Column,
        vt: org.apache.spark.sql.types.DataType,
        ft: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{lit, struct, when}
      (vt, ft) match {
        case (vs: StructType, fs: StructType)
            if vs != fs || !CommitLog.identityType(vs)
              || !CommitLog.identityType(fs) =>
          val parts = fs.fields.map { ffc =>
            vs.fields.find(vfc => lc(physName(vfc)) == lc(physName(ffc))) match {
              case Some(vfc) =>
                alignCol(c.getField(vfc.name), vfc.dataType, ffc.dataType)
                  .as(ffc.name)
              case None => lit(null).cast(ffc.dataType).as(ffc.name)
            }
          }
          when(c.isNotNull, struct(parts.toIndexedSeq: _*))
        // r15: a window spanning an ARRAY-ELEMENT rename must align the
        // element shape too, or the per-version pieces union with
        // differently-named element fields and fail
        case (va: org.apache.spark.sql.types.ArrayType,
              fa: org.apache.spark.sql.types.ArrayType)
            if va != fa || !CommitLog.identityType(va)
              || !CommitLog.identityType(fa) =>
          org.apache.spark.sql.functions.transform(c,
            x => alignCol(x, va.elementType, fa.elementType))
        // r15: same for a MAP-VALUE rename (keys are never mapped —
        // the path walk refuses them)
        case (vm: org.apache.spark.sql.types.MapType,
              fm: org.apache.spark.sql.types.MapType)
            if vm != fm || !CommitLog.identityType(vm)
              || !CommitLog.identityType(fm) =>
          org.apache.spark.sql.functions.transform_values(c,
            (_, v) => alignCol(v, vm.valueType, fm.valueType))
        case _ => c
      }
    }
    def normalize(df: DataFrame, verSchema: StructType): DataFrame =
      finalSchema match {
        case Some(fin) if !identityMapping(fin) || !identityMapping(verSchema) =>
          import org.apache.spark.sql.functions.col
          val finByPhys = fin.fields.map(f => lc(physName(f)) -> f).toMap
          df.select(verSchema.fields.toIndexedSeq.map { f =>
            finByPhys.get(lc(physName(f))) match {
              case Some(ff) =>
                alignCol(col(s"`${f.name}`"), f.dataType, ff.dataType)
                  .as(ff.name)
              case None => col(s"`${f.name}`")
            }
          } ++ Seq(col("_change_type"), col("_commit_version"))
            ++ (if (df.columns.contains("_row_id")) Seq(col("_row_id"))
                else Nil): _*)
        case _ => df
      }
    var cur = emptySnapshot
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ms.foreach { m =>
      val prev = cur
      cur = foldOne(cur, m)
      if (cur.version > fromVersion) {
        val prevSet = prev.files.toSet
        val curSet = cur.files.toSet
        val added = cur.files.filterNot(prevSet)
        val removed = prev.files.filterNot(curSet)
        def stamp(df: DataFrame, schema: Option[StructType], typ: String)
            : DataFrame = {
          val sch = schema.getOrElse(new StructType())
          normalize(
            df.withColumn("_change_type", lit(typ))
              .withColumn("_commit_version", lit(cur.version)),
            sch)
        }
        def piece(fls: Seq[String], schema: Option[StructType], typ: String,
            dvs: String => Seq[CommitLog.DvRef]): DataFrame =
          stamp(readFiles(schema.getOrElse(new StructType()), fls, dvs),
            schema, typ)
        // a retired file's delete rows are its rows AS THE CONSUMER SAW
        // THEM at prev — net of the deletion vectors it carried (their
        // masked rows were already emitted as deletes when masked)
        if (removed.nonEmpty)
          pieces += piece(removed, prev.schema, "delete", prev.dvsOf)
        // merge-on-read deletes: rows newly masked this commit on files
        // that stay live — emitted by reading ONLY the new DV positions
        val dvNew: Map[String, Seq[CommitLog.DvRef]] = cur.entries.valuesIterator
          .flatMap { e =>
            val fresh = e.dvs.drop(prev.dvsOf(e.path).size)
            if (fresh.isEmpty) None else Some(e.path -> fresh)
          }.toMap
        // r18 CDC ROW LINEAGE (opt-in): an `add_dv` commit that both
        // masks rows and appends files is a merge-on-read UPDATE — its
        // replacement files carry each pre-image's stable row id in the
        // hidden [[CommitLog.RowLineageCol]]. Emit the masked rows that
        // have a replacement as `update_preimage` and the replacements
        // as `update_postimage`, linked by `_row_id`; everything else
        // (plain inserts, pure deletes, copy-on-write rewrites) keeps
        // the delete+insert form — the provable-link contract.
        val provableUpdate = lineage &&
          m.action == "add_dv" &&
          added.nonEmpty && dvNew.nonEmpty &&
          cur.schema.forall(lineageNameFree)
        if (provableUpdate) {
          import org.apache.spark.sql.functions.when
          val sch = cur.schema.getOrElse(new StructType())
          val ext = sch.add(CommitLog.RowLineageCol,
            org.apache.spark.sql.types.StringType)
          // ONE pass over the replacements: the per-row change type
          // falls out of the carrier's nullness (an update's
          // postimage vs an insert-clause row) — no second filtered
          // re-read of the appended parquet (review r18)
          val raw = readFiles(ext, added)
          pieces += normalize(raw
              .withColumn("_change_type",
                when(col(CommitLog.RowLineageCol).isNotNull,
                  lit("update_postimage")).otherwise(lit("insert")))
              .withColumn("_commit_version", lit(cur.version))
              .withColumnRenamed(CommitLog.RowLineageCol, "_row_id"),
            sch)
          // ONE pass over the masked rows: a LEFT join against the
          // replacements' src-id set splits preimages from true
          // deletes (a merge's DELETE-clause rows) in a single scan
          val srcs = raw.filter(col(CommitLog.RowLineageCol).isNotNull)
            .select(col(CommitLog.RowLineageCol).as("_row_id"),
              lit(1).as("__linked")).distinct()
          pieces += normalize(selectDvRows(sch, dvNew, withId = true)
              .join(srcs, Seq("_row_id"), "left_outer")
              .withColumn("_change_type",
                when(col("__linked").isNotNull, lit("update_preimage"))
                  .otherwise(lit("delete")))
              .drop("__linked")
              .withColumn("_commit_version", lit(cur.version)),
            sch)
        } else {
          if (added.nonEmpty)
            pieces += piece(added, cur.schema, "insert", _ => Nil)
          if (dvNew.nonEmpty)
            pieces += stamp(
              selectDvRows(cur.schema.getOrElse(new StructType()), dvNew,
                withId = lineage && cur.schema.forall(lineageNameFree)),
              cur.schema, "delete")
        }
      }
    }
    if (pieces.isEmpty) {
      val base = cur.schema.getOrElse(new StructType())
        .add("_change_type", "string").add("_commit_version", "long")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base)
    } else pieces.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** SCHEMA EVOLUTION: the schema a write commits is the UNION BY NAME
    * of the table's current schema and the incoming one — existing
    * columns keep their position and must keep their type (a type
    * change fails loudly: silent casts corrupt history), new columns
    * append as nullable (old files lack them; the explicit-schema
    * parquet read fills null — which is also why reads never use
    * parquet's own mergeSchema inference). A write MISSING an existing
    * column is therefore additive too: the column survives, the new
    * files hold null. Time travel is unaffected — each version reads
    * with the schema recorded AT that version. */
  /** Locale-stable fold for case-insensitive name matching (a Turkish
    * default locale folds 'I' to dotless 'ı' and breaks the match —
    * Spark itself folds with ROOT). */
  private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  private def mergedSchema(current: Option[StructType],
      incoming: StructType): StructType = {
    // names match CASE-INSENSITIVELY — Spark resolves columns that way
    // by default, and a case-variant duplicate in the committed schema
    // would make every subsequent parquet read fail on "duplicate
    // field". That includes duplicates WITHIN one write (a DataFrame
    // may carry 'foo' and 'FOO'): rejected before anything commits.
    val inDups = incoming.groupBy(f => lc(f.name)).filter(_._2.size > 1)
    require(inDups.isEmpty,
      s"$tableRoot: write schema has case-colliding columns: " +
        inDups.values.flatten.map(_.name).mkString(", "))
    current.fold(incoming) { cur =>
      StructType(mergeStructs(cur, incoming, ""))
    }
  }

  /** The recursive core of [[mergedSchema]]: additive merge of two
    * struct shapes. Shared fields keep the TABLE's spelling, metadata
    * (the [[CommitLog.PhysKey]] mapping!) and field order; STRUCT
    * fields merge recursively (r12 — nested additive evolution: a
    * write whose struct column carries new nested fields evolves the
    * schema, and a write missing nested fields the table already has
    * stays accepted, the gap reading null); r15: the struct merge
    * recurses through ARRAY elements and MAP values too (old files
    * null-fill the new interior field per element; incoming writes
    * null-pad through [[conformCol]]'s container recursion — no data
    * rewrite either way). Every other type must match exactly,
    * including map KEY types (a key is the map's identity).
    * Nullability unions. New fields append at the end, nullable. */
  private def mergeStructs(cur: StructType, incoming: StructType,
      path: String): Array[org.apache.spark.sql.types.StructField] = {
    val inDups = incoming.groupBy(f => lc(f.name)).filter(_._2.size > 1)
    require(inDups.isEmpty,
      s"$tableRoot: write schema has case-colliding fields at " +
        s"'$path': ${inDups.values.flatten.map(_.name).mkString(", ")}")
    val inByName = incoming.map(f => lc(f.name) -> f).toMap
    val curNames = cur.map(f => lc(f.name)).toSet
    // the recursive type merge: structs merge field-wise; r15 container
    // recursion (array elements, map VALUES — keys are the map's
    // identity and must match exactly); r16 scalar WIDENING anywhere in
    // the tree — the merged type is the wider one (old files read
    // through the widened schema natively; a narrower write upcasts
    // before landing). Anything else refuses loudly.
    def mergeTypes(c: org.apache.spark.sql.types.DataType,
        i: org.apache.spark.sql.types.DataType, at: String)
        : org.apache.spark.sql.types.DataType = (c, i) match {
      // shape equality is METADATA-INSENSITIVE (r15): an array<struct>
      // element field carrying a PhysKey mapping (array-element
      // rename) must still accept writes of the same logical shape;
      // the kept type is CUR's, so the mapping survives the merge
      case _ if CommitLog.stripMeta(c) == CommitLog.stripMeta(i) => c
      case (cs: StructType, is: StructType) =>
        StructType(mergeStructs(cs, is, s"$at."))
      case (ca: org.apache.spark.sql.types.ArrayType,
            ia: org.apache.spark.sql.types.ArrayType) =>
        ca.copy(elementType = mergeTypes(ca.elementType, ia.elementType, at),
          containsNull = ca.containsNull || ia.containsNull)
      case (cm: org.apache.spark.sql.types.MapType,
            im: org.apache.spark.sql.types.MapType) =>
        require(CommitLog.stripMeta(cm.keyType) == CommitLog.stripMeta(im.keyType),
          s"$tableRoot: schema evolution cannot change the KEY type " +
            s"of '$at' from ${cm.keyType.simpleString} to " +
            s"${im.keyType.simpleString}")
        cm.copy(valueType = mergeTypes(cm.valueType, im.valueType, at),
          valueContainsNull = cm.valueContainsNull || im.valueContainsNull)
      case _ =>
        CommitLog.widerOf(CommitLog.stripMeta(c), CommitLog.stripMeta(i))
          .getOrElse {
            throw new IllegalArgumentException(
              s"$tableRoot: schema evolution cannot change column " +
                s"'$at' from ${c.simpleString} to " +
                s"${i.simpleString} (only exact widenings evolve: " +
                "byte/short/int->long, float->double, decimal " +
                "precision growth at the same scale)")
          }
    }
    // float→double ANYWHERE in the merged tree shifts stored values'
    // string form — see [[CommitLog.WidenedStrKey]]
    def shiftsAnywhere(c: org.apache.spark.sql.types.DataType,
        m: org.apache.spark.sql.types.DataType): Boolean = (c, m) match {
      case (cs: StructType, ms: StructType) =>
        val by = ms.fields.map(f => lc(f.name) -> f).toMap
        cs.fields.exists(f => by.get(lc(f.name))
          .exists(mf => shiftsAnywhere(f.dataType, mf.dataType)))
      case (ca: org.apache.spark.sql.types.ArrayType,
            ma: org.apache.spark.sql.types.ArrayType) =>
        shiftsAnywhere(ca.elementType, ma.elementType)
      case (cm: org.apache.spark.sql.types.MapType,
            mm: org.apache.spark.sql.types.MapType) =>
        shiftsAnywhere(cm.valueType, mm.valueType)
      case _ => CommitLog.strFormShifts(c, m)
    }
    val kept = cur.fields.map { f =>
      inByName.get(lc(f.name)).fold(f.copy(nullable = true)) { inF =>
        val merged = mergeTypes(f.dataType, inF.dataType, s"$path${f.name}")
        val meta =
          if (shiftsAnywhere(f.dataType, merged))
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putBoolean(CommitLog.WidenedStrKey, true)
              // r17: bump the string-form ERA — filters hashed after
              // this commit (under the widened type) stamp the new era
              // and keep excluding; pre-widen filters go void
              .putLong(CommitLog.StrEraKey, CommitLog.strEraOf(f) + 1)
              .build()
          else f.metadata
        f.copy(dataType = merged, nullable = f.nullable || inF.nullable,
          metadata = meta)
      }
    }
    val added = incoming.fields.filter(f => !curNames(lc(f.name)))
      .map(_.copy(nullable = true))
    kept ++ added
  }

  /** [[conform]] restricted to the columns `df` actually carries: each
    * present column conforms to its schema type (the r16 widening
    * upcast, nested null-padding), absent columns stay ABSENT — the
    * additive-append write shape, where missing columns read null from
    * the explicit-schema read rather than being materialized. A batch
    * already at the schema's types returns unchanged. */
  private def upcastPresent(df: DataFrame, schema: StructType): DataFrame = {
    val byName = schema.fields.map(f => lc(f.name) -> f).toMap
    val needs = df.schema.fields.exists(c => byName.get(lc(c.name)).exists(f =>
      CommitLog.stripMeta(f.dataType) != CommitLog.stripMeta(c.dataType)))
    if (!needs) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.schema.fields.toIndexedSeq.map { c =>
        byName.get(lc(c.name)) match {
          case Some(f) =>
            conformCol(col(s"`${c.name}`"), c.dataType, f.dataType).as(c.name)
          case None => col(s"`${c.name}`")
        }
      }: _*)
    }
  }

  /** Project `df` onto `schema`: shared column order normalized, absent
    * columns as typed nulls — recursively through STRUCT columns (r12:
    * a source struct missing nested fields the target schema has gets
    * them null-padded in place, order-normalized to the target; a null
    * struct stays null, never a struct of nulls). Name lookup is
    * case-insensitive to match [[mergedSchema]]. */
  private def conform(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val byName = df.schema.fields.map(f => lc(f.name) -> f).toMap
    df.select(schema.map(f => byName.get(lc(f.name)) match {
      case Some(sf) =>
        conformCol(col(s"`${sf.name}`"), sf.dataType, f.dataType).as(f.name)
      case None => lit(null).cast(f.dataType).as(f.name)
    }): _*)
  }

  /** [[conform]]'s per-column core: identical types pass through
    * untouched (zero expression overhead — every pre-nested-evolution
    * plan is byte-identical); differing STRUCT shapes are rebuilt
    * field-by-field against the target (recursing into nested
    * structs), with absent fields as typed nulls. [[mergeStructs]]
    * guarantees any other type difference was already refused. */
  private def conformCol(src: org.apache.spark.sql.Column,
      srcT: org.apache.spark.sql.types.DataType,
      tgtT: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, struct, transform, transform_values, when}
    (srcT, tgtT) match {
      case (s: StructType, t: StructType) if s != t =>
        val sBy = s.fields.map(f => lc(f.name) -> f).toMap
        val parts = t.fields.map(tf => sBy.get(lc(tf.name)) match {
          case Some(sf) =>
            conformCol(src.getField(sf.name), sf.dataType, tf.dataType)
              .as(tf.name)
          case None => lit(null).cast(tf.dataType).as(tf.name)
        })
        when(src.isNotNull, struct(parts.toIndexedSeq: _*))
      // r15: container-interior additive evolution — per-element /
      // per-value null-padding against the target shape (only reached
      // when [[mergeStructs]] admitted the container merge)
      case (sa: org.apache.spark.sql.types.ArrayType,
            ta: org.apache.spark.sql.types.ArrayType)
          if sa.elementType != ta.elementType =>
        transform(src, x => conformCol(x, sa.elementType, ta.elementType))
      case (sm: org.apache.spark.sql.types.MapType,
            tm: org.apache.spark.sql.types.MapType)
          if sm.valueType != tm.valueType =>
        transform_values(src,
          (_, v) => conformCol(v, sm.valueType, tm.valueType))
      // r16 type widening: a narrower source lands through the exact
      // upcast to the table's widened type (int->long, float->double,
      // decimal precision growth — value-preserving by [[widerOf]]'s
      // admission; [[mergeStructs]] refused everything else)
      case (s, t)
          if CommitLog.stripMeta(s) != CommitLog.stripMeta(t)
            && CommitLog.widerOf(CommitLog.stripMeta(s),
              CommitLog.stripMeta(t)).contains(CommitLog.stripMeta(t)) =>
        src.cast(CommitLog.relaxNulls(t))
      case _ => src
    }
  }

  /** Per-retry schema for an append whose data files are ALREADY
    * written under `sch0`'s physical-name assignment: re-assign
    * against the newer snapshot `cur` and verify every written
    * column's physical name is unchanged. A rename/drop landing
    * between the write and a retried commit would otherwise give the
    * re-assigned schema (possibly suffixed) physical names that no
    * longer match the bytes on disk — the column would silently read
    * null. Loud abort instead (the caller's catch deletes the files):
    * the informal single-writer-DDL assumption, enforced rather than
    * trusted (ADVICE r11). */
  private def reassignChecked(cur: Snapshot, df: DataFrame,
      sch0: StructType): StructType = {
    val sch = assignPhys(mergedSchema(cur.schema, df.schema),
      cur.schema, cur.physRetired)
    val written = df.columns.map(lc).toSet
    def physOfWritten(s: StructType): Map[String, String] =
      s.fields.filter(f => written(lc(f.name)))
        .map(f => lc(f.name) -> physName(f)).toMap
    val (p0, pN) = (physOfWritten(sch0), physOfWritten(sch))
    val moved = p0.keys.filter(k => pN.get(k) != p0.get(k)).toSeq.sorted
    require(moved.isEmpty,
      s"$tableRoot: a concurrent rename/drop changed the physical " +
        s"mapping of appended column(s) ${moved.mkString(", ")} while " +
        "this append was in flight — aborting (the written files no " +
        "longer match the mapping); retry the append")
    sch
  }

  /** Append `df` as a new version. Safe under concurrent writers: the
    * data files are version-independent, so losing the version race
    * only re-attempts the (tiny) manifest commit. Returns the committed
    * version, or the already-recorded one if `txn` makes it a replay. */
  def append(df: DataFrame, txn: Option[(String, Long)] = None): Long = {
    val s0 = snapshot()
    if (replayOf(s0, txn)) return s0.version
    // validate + resolve the column mapping BEFORE writing data —
    // a type conflict must not orphan data files (it still re-merges
    // per commit attempt below; a racer adding the same-named column
    // with another type loses the race loudly, with files vacuumable)
    val sch0 = assignPhys(mergedSchema(s0.schema, df.schema),
      s0.schema, s0.physRetired)
    // r16: a write NARROWER than a widened column upcasts before
    // landing, so data files always match the committed type (blooms
    // hash, and future readers read, one representation). Columns the
    // write omits stay omitted — the additive-evolution contract.
    // Identity-typed batches pass through untouched (no plan change).
    val files = writeData(upcastPresent(df, sch0), sch0)
    var cur = s0
    var attempts = 0
    // the committed schema is re-merged per attempt: a racing writer may
    // have evolved the table between snapshots. ANY abort from here on —
    // including stats/bloom harvesting over the new files — must not
    // leak the already-written data files.
    try {
      val es = entriesFor(files, s0, Some(sch0))
      while (!tryCommit(Manifest(cur.version + 1, "add", files, es,
          Some(reassignChecked(cur, df, sch0)), txn))) {
        attempts += 1
        require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        val s = snapshot()
        if (replayOf(s, txn)) { files.foreach(deleteData); return s.version }
        cur = s
      }
    } catch {
      case e: Throwable => files.foreach(deleteData); throw e
    }
    cur.version + 1
  }

  /** Merge `incoming` (unique per `keys` — [[graft.operators.Dedup]]
    * first if not) into the live table and commit the rewrite as a
    * `replace`. On a lost race the merge RECOMPUTES against the
    * winner's table, so concurrent upserts serialize like the
    * reference's conditional puts instead of overwriting each other. */
  def upsert(incoming: DataFrame, keys: Seq[String], mode: CommitLog.MergeMode,
      txn: Option[(String, Long)] = None): Long = {
    import graft.operators.Upsert
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      // both sides conform to the evolved union schema before merging,
      // so an upsert can add columns (old rows read back null there)
      val sch = assignPhys(mergedSchema(s.schema, incoming.schema),
        s.schema, s.physRetired)
      val target = conform(readAt(s), sch)
      val in = conform(incoming, sch)
      val merged =
        if (s.version < 0) in
        else mode match {
          case CommitLog.InsertIfAbsent => Upsert.insertIfAbsent(target, in, keys)
          case CommitLog.LastWins       => Upsert.lastWins(target, in, keys)
        }
      val files = writeData(merged, sch)
      val won = try tryCommit(Manifest(s.version + 1, "replace", files,
          entriesFor(files, s, Some(sch)), Some(sch), txn))
        catch { case e: Throwable => files.foreach(deleteData); throw e }
      if (won) return s.version + 1
      // lost the race: our rewrite is stale (it merged against an old
      // table) — drop its files and redo the merge on the new snapshot
      files.foreach(deleteData)
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** PARTITION-SCOPED merge — the 100 TB form of [[upsert]]: only the
    * partitions the incoming batch touches are read, merged, and
    * rewritten; every other partition's files ride through the commit
    * untouched (SURVEY §8's "a merge rewrites only the partitions the
    * anti-join touches", now implemented, not just documented). The
    * manifest action is `replace_parts`: it retires exactly the live
    * files tagged with the touched partition values and adds the
    * rewritten ones (tagged), so concurrent merges of DISJOINT
    * partition sets only contend on the version counter, never on
    * data. The rewrite lands in ONE job regardless of how many
    * partitions the batch touches ([[writeDataPartitioned]]).
    *
    * Requirements, enforced loudly: `partCol` must be non-null in
    * `incoming` (tags are its string form — keep it string/integral/
    * date), and every live file must already carry a partition tag
    * (i.e. the table is consistently written through this path, or
    * empty) — otherwise an untagged file could silently shadow rows
    * of a replaced partition. */
  def upsertPartitioned(incoming0: DataFrame, keys: Seq[String],
      mode: CommitLog.MergeMode, partCol: String,
      txn: Option[(String, Long)] = None): Long = {
    import graft.operators.Upsert
    import org.apache.spark.sql.functions.col
    val spec = PartSpec.parse(partCol)
    // Materialized ONCE: the touched-partition probe below and the
    // merged write are separate jobs — a re-execution-unstable batch
    // re-evaluated between them could land rows in partitions the
    // replace_parts commit never declared (ADVICE r14's merge
    // reasoning; trivial scan chains skip the copy, allocated blocks
    // released on every return path). LAZY: the touched-partition
    // distinct just below is a full scan, so it materializes the
    // checkpoint in its own job (r20 — see [[merge]]).
    val inMaterialized = !CommitLog.reExecutionStable(incoming0)
    val incoming =
      if (inMaterialized) incoming0.localCheckpoint(eager = false) else incoming0
    try {
    require(keys.nonEmpty && spec.sourceColumns.forall(keys.contains),
      s"$tableRoot: every partition key source column of '$partCol' must " +
        "be one of the merge keys — a partition-scoped merge only sees the " +
        "touched partitions, so a key that can move between partitions " +
        "would duplicate")
    val touched = incoming
      .select(spec.tagExpr(incoming).as("__p")).distinct()
      .collect().map(r => Option(r.getString(0)).getOrElse(
        throw new IllegalArgumentException(
          s"$tableRoot: null $partCol in incoming — partition values must be non-null")))
      .toSeq.sorted
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      val untagged = s.files.filter(s.entry(_).partTag.isEmpty)
      require(untagged.isEmpty,
        s"$tableRoot: ${untagged.size} live files carry no partition tag " +
          s"(e.g. ${untagged.headOption.getOrElse("")}) — a partitioned merge " +
          "would silently miss their rows; use upsert() or rewrite the table " +
          "through upsertPartitioned/appendPartitioned first")
      requireCurrentSpec(s, partCol)
      requireSingleSpec(s, "upsertPartitioned")
      val sch = assignPhys(mergedSchema(s.schema, incoming.schema),
        s.schema, s.physRetired)
      val in = conform(incoming, sch)
      val touchedFiles = s.files.filter(f => s.entry(f).partTag.exists(touched.contains))
      val target = conform(
        readFiles(s.schema.getOrElse(incoming.schema), touchedFiles, s.dvsOf), sch)
      val merged =
        if (s.version < 0) in
        else mode match {
          case CommitLog.InsertIfAbsent => Upsert.insertIfAbsent(target, in, keys)
          case CommitLog.LastWins       => Upsert.lastWins(target, in, keys)
        }
      // ONE partitioned write job: the merge plan evaluates exactly
      // once (no per-partition filtered re-reads, no checkpoint to
      // leak on a lost race — VERDICT r7 / ADVICE r7)
      val tagged = writeDataPartitioned(merged, partCol, sch)
      val won = try tryCommit(Manifest(s.version + 1, "replace_parts",
          tagged.map(_._1), entriesFor(tagged.map(_._1), s, Some(sch), tagged.toMap),
          Some(sch), txn, retiredParts = touched))
        catch { case e: Throwable => tagged.foreach(t => deleteData(t._1)); throw e }
      if (won) return s.version + 1
      tagged.foreach(t => deleteData(t._1))
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
    } finally if (inMaterialized) graft.util.Ckpt.release(incoming)
  }

  /** Partition-tagged append: like [[append]] but the batch lands in
    * per-partition files tagged with `partCol`'s string value (one
    * job), so [[upsertPartitioned]] and [[readPartitions]] can scope
    * to them. */
  def appendPartitioned(df: DataFrame, partCol: String,
      txn: Option[(String, Long)] = None): Long = {
    val s0 = snapshot()
    if (replayOf(s0, txn)) return s0.version
    requireCurrentSpec(s0, partCol)
    val sch0 = assignPhys(mergedSchema(s0.schema, df.schema),
      s0.schema, s0.physRetired)
    // r16: same upcast as [[append]] — a batch narrower than a widened
    // column must land at the committed type, or its blooms would hash
    // the narrow type's string forms with no marker to void them
    val tagged = writeDataPartitioned(upcastPresent(df, sch0), partCol, sch0)
    var cur = s0
    var attempts = 0
    try {
      val es = entriesFor(tagged.map(_._1), s0, Some(sch0), tagged.toMap)
      while (!tryCommit(Manifest(cur.version + 1, "add", tagged.map(_._1), es,
          Some(reassignChecked(cur, df, sch0)), txn))) {
        attempts += 1
        require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        val s = snapshot()
        if (replayOf(s, txn)) { tagged.foreach(t => deleteData(t._1)); return s.version }
        cur = s
      }
    } catch {
      case e: Throwable => tagged.foreach(t => deleteData(t._1)); throw e
    }
    cur.version + 1
  }

  /** Manifest-level partition pruning: read ONLY the files tagged with
    * the given partition values — the reader never lists or opens any
    * other partition's data (the DynamoDB partition-key read path,
    * file-level). Untagged files are never returned. */
  def readPartitions(values: Seq[String]): DataFrame = {
    val s = snapshot()
    requireSingleSpec(s, "readPartitions")
    val want = values.toSet
    val picked = s.files.filter(f => s.entry(f).partTag.exists(want))
    readFiles(s.schema.getOrElse(new StructType()), picked, s.dvsOf)
  }

  /** DYNAMIC partition overwrite: replace exactly the partitions
    * present in `df` with `df`'s rows (no merge — the
    * INSERT OVERWRITE ... PARTITION semantics); every other partition
    * is untouched. Same `replace_parts` commit and all-tagged
    * precondition as [[upsertPartitioned]]; the touched-partition list
    * is derived from where the one-job write landed files, so no extra
    * distinct scan runs. */
  def replacePartitions(df: DataFrame, partCol: String,
      txn: Option[(String, Long)] = None): Long = {
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      val untagged = s.files.filter(s.entry(_).partTag.isEmpty)
      require(untagged.isEmpty,
        s"$tableRoot: ${untagged.size} live files carry no partition tag — " +
          "a partition-scoped overwrite cannot retire their rows; use " +
          "replaceAll() or rewrite the table through the partitioned path first")
      requireCurrentSpec(s, partCol)
      requireSingleSpec(s, "replacePartitions")
      val sch = assignPhys(mergedSchema(s.schema, df.schema),
        s.schema, s.physRetired)
      val tagged = writeDataPartitioned(conform(df, sch), partCol, sch)
      val parts = tagged.map(_._2).distinct.sorted
      val won = try tryCommit(Manifest(s.version + 1, "replace_parts",
          tagged.map(_._1), entriesFor(tagged.map(_._1), s, Some(sch), tagged.toMap),
          Some(sch), txn, retiredParts = parts))
        catch { case e: Throwable => tagged.foreach(t => deleteData(t._1)); throw e }
      if (won) return s.version + 1
      tagged.foreach(t => deleteData(t._1))
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** [[replaceAll]] with partition tags: TRUNCATE-and-load that leaves
    * the table consistent for the partition-scoped paths (a plain
    * replaceAll writes untagged files, after which
    * [[upsertPartitioned]] refuses the table). */
  def replaceAllPartitioned(df: DataFrame, partCol: String,
      txn: Option[(String, Long)] = None): Long = {
    val s0 = snapshot()
    if (replayOf(s0, txn)) return s0.version
    requireCurrentSpec(s0, partCol)
    mergedSchema(None, df.schema)
    val tagged = writeDataPartitioned(df, partCol, df.schema)
    var v = s0.version + 1
    var attempts = 0
    try {
      val es = entriesFor(tagged.map(_._1), s0, Some(df.schema), tagged.toMap)
      while (!tryCommit(Manifest(v, "replace", tagged.map(_._1), es,
          Some(df.schema), txn))) {
        attempts += 1
        require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        val s = snapshot()
        if (replayOf(s, txn)) { tagged.foreach(t => deleteData(t._1)); return s.version }
        v = s.version + 1
      }
    } catch {
      case e: Throwable => tagged.foreach(t => deleteData(t._1)); throw e
    }
    v
  }

  // ── r18: PARTITION-SPEC EVOLUTION (VERDICT r17 #1) ─────────────────

  /** Change the table's partition spec as METADATA — Iceberg's spec
    * evolution, at any table size one empty commit, zero data files
    * read or rewritten. The manifest gains (or extends) the append-only
    * spec REGISTRY ([[Snapshot.specs]]); every existing file keeps its
    * tag AND the id of the spec that wrote it, new writes must land
    * under the new spec ([[requireCurrentSpec]]), and every tag
    * consumer judges each file under ITS OWN spec (scan exactness,
    * runtime pruning) or refuses crisply on a mixed set (SPJ, grouped
    * manifest folds, partition-scoped writes — [[migrateSpec]] is the
    * incremental repair). `from` declares the spec the table's
    * existing tags were written under — the manifest cannot know it
    * before its first evolution, so the FIRST call seeds the registry
    * `[from, to]`; later calls validate `from` against the registry's
    * current entry. The day-partitioned table that outgrows days into
    * hours (the reference's prices table shape,
    * /root/reference/index.js:333-337) evolves in O(metadata), not
    * O(table). */
  def evolvePartitionSpec(from: String, to: String): Long = {
    val fromSpec = PartSpec.parse(from)
    val toSpec = PartSpec.parse(to)
    require(fromSpec.render != toSpec.render,
      s"$tableRoot: the new partition spec '${toSpec.render}' equals the current one")
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0,
        s"$tableRoot: nothing to evolve — no commits (create the table " +
          "with the spec instead)")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      toSpec.sourceColumns.foreach { c =>
        require(sch.fields.exists(f => lc(f.name) == lc(c)),
          s"$tableRoot: partition key column '$c' of '${toSpec.render}' " +
            "is not in the table schema")
      }
      if (s.specs.nonEmpty)
        require(fromSpec.render == s.specs.last,
          s"$tableRoot: declared current spec '${fromSpec.render}' does " +
            s"not match the registry's current '${s.specs.last}'")
      else {
        // first evolution SEEDS the registry permanently — a wrong
        // `from` would decode every existing tag under the wrong spec
        // forever. Sanity-check the declaration against the tags it
        // claims to describe: an arity mismatch is a certain lie
        // (same-arity misdeclarations remain the caller's contract,
        // as documented). ADVICE r18.
        val sample = s.entries.valuesIterator.flatMap(_.partTag).take(16).toSeq
        require(sample.isEmpty || sample.exists(t =>
            scala.util.Try(fromSpec.decode(t)).isSuccess),
          s"$tableRoot: no existing partition tag decodes under the " +
            s"declared current spec '${fromSpec.render}' — declare the " +
            "spec the existing tags were actually written under")
      }
      val untagged = s.files.filter(s.entry(_).partTag.isEmpty)
      require(untagged.isEmpty,
        s"$tableRoot: ${untagged.size} live file(s) carry no partition " +
          "tag — spec evolution needs a consistently partition-tagged " +
          "table (rewrite through the partitioned path first)")
      val registry =
        if (s.specs.isEmpty) Seq(fromSpec.render, toSpec.render)
        else s.specs :+ toSpec.render
      if (tryCommit(Manifest(s.version + 1, "evolve_spec", schema = Some(sch),
          specs = Some(registry))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** Rewrite exactly the live files still tagged under an OLDER spec
    * so they land (re-tagged, re-stamped) under the CURRENT one — the
    * incremental migration that re-enables the partition-SCOPED
    * operations a mixed-spec table refuses. One masked read of the
    * stale files, one partitioned write, one `replace` commit; files
    * already current ride through untouched, their DVs intact (the
    * stale files' DVs retire with them — the rewrite read them
    * masked). Returns (version, files migrated); (version, 0) when
    * nothing is stale. */
  def migrateSpec(txn: Option[(String, Long)] = None): (Long, Int) = {
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return (s.version, 0)
      if (s.specs.isEmpty) return (s.version, 0)
      val cur = s.currentSpecId
      val stale = s.files.filter(f =>
        s.entry(f).partTag.isDefined && s.entry(f).specId != cur)
      if (stale.isEmpty) return (s.version, 0)
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      val rewritten = readFiles(sch, stale, s.dvsOf)
      commitRewrite(s, sch, stale, rewritten, Some(s.specs.last), txn) match {
        case Some(_) => return (s.version + 1, stale.size)
        case None =>
          attempts += 1
          require(attempts <= MaxAttempts,
            s"$tableRoot: lost $MaxAttempts version races")
      }
    }
    (-1L, 0) // unreachable
  }

  /** The stable row id the CDC lineage link is keyed by:
    * `<data-file basename>#<row ordinal>`. ONE definition — the
    * pre-image spelling (write-side carrier), the masked-row spelling
    * (feed side), and the merge carrier must agree byte-for-byte. */
  private def rowIdCol(file: org.apache.spark.sql.Column,
      pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.concat(file,
      org.apache.spark.sql.functions.lit("#"), pos)

  /** True when the schema claims neither reserved lineage name —
    * vanishingly unlikely, but a user column named
    * [[CommitLog.RowLineageCol]] (the hidden carrier) or `_row_id`
    * (the feed's output column) must DISABLE lineage (fall back to
    * delete+insert) rather than collide. */
  private def lineageNameFree(sch: StructType): Boolean =
    !sch.fields.exists { f =>
      val p = lc(physName(f)); val l = lc(f.name)
      p == CommitLog.RowLineageCol || l == CommitLog.RowLineageCol ||
      p == "_row_id" || l == "_row_id"
    }

  /** Every partitioned WRITE lands under the current spec: once the
    * registry exists, a caller-supplied partCol that is not the
    * registry's current entry refuses loudly (the write would mint
    * tags no reader could attribute to a spec). */
  private def requireCurrentSpec(s: Snapshot, partCol: String): Unit =
    if (s.specs.nonEmpty) {
      val r = PartSpec.parse(partCol).render
      require(r == s.specs.last,
        s"$tableRoot: partition spec '$r' is not the table's current " +
          s"spec '${s.specs.last}' — writes land under the current spec " +
          "(evolvePartitionSpec to change it)")
    }

  /** Partition-SCOPED operations interpret tags as one namespace —
    * on a mixed-spec table a touched new-spec value can never match an
    * old-spec file's tag, so rows would silently escape the scope.
    * Refuse crisply; [[migrateSpec]] is the repair. */
  private def requireSingleSpec(s: Snapshot, op: String): Unit =
    if (s.specs.nonEmpty) {
      val cur = s.currentSpecId
      val stale = s.files.filter(f =>
        s.entry(f).partTag.isDefined && s.entry(f).specId != cur)
      require(stale.isEmpty,
        s"$tableRoot: $op is partition-scoped and ${stale.size} live " +
          s"file(s) still carry tags under an older partition spec " +
          s"(e.g. ${stale.head}) — run migrateSpec() first")
    }

  /** SQL DDL surface (`ALTER TABLE … ADD COLUMNS`): commit a
    * METADATA-ONLY version whose schema is the current one plus `cols`
    * appended as nullable — an empty `add` action, so no data file is
    * read, written, or retired; existing files read null for the new
    * columns (the documented additive-evolution contract, the same
    * shape a widening write commits). Pre-ALTER versions time-travel
    * with their own schema, exactly like write-driven evolution.
    * Refuses (case-insensitive) name collisions loudly — SQL ADD
    * COLUMNS of an existing column is an error, not a merge. */
  def addColumns(cols: StructType): Long = {
    require(cols.nonEmpty, s"$tableRoot: ADD COLUMNS needs at least one column")
    var attempts = 0
    while (true) {
      val s = snapshot()
      val cur = s.schema.getOrElse(StructType(Nil))
      val existing = cur.map(f => lc(f.name)).toSet
      val dups = cols.filter(f => existing(lc(f.name)))
      require(dups.isEmpty, s"$tableRoot: ADD COLUMNS would collide with " +
        s"existing column(s): ${dups.map(_.name).mkString(", ")}")
      val evolved = assignPhys(
        mergedSchema(Some(cur).filter(_.nonEmpty), StructType(cols.toArray)),
        Some(cur).filter(_.nonEmpty), s.physRetired)
      if (tryCommit(Manifest(s.version + 1, "add", schema = Some(evolved))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** SQL DDL: `ALTER TABLE … ADD COLUMNS (parent.child TYPE)` — add a
    * nullable field at the END of an existing STRUCT interior, any
    * depth (r12, VERDICT r11 #7); r15: the parent may also be an
    * ARRAY of structs or a MAP with struct values (`arr.element` /
    * `m.value` in the SQL spelling, or just `arr` / `m`). Metadata-
    * only like top-level ADD COLUMNS: committed as an empty-`add`
    * version, no file is read or written — old files simply lack the
    * interior field and read null there per row/element/entry (the
    * parquet by-name contract extends into nested groups). The parent
    * column's own metadata — its [[CommitLog.PhysKey]] mapping — is
    * preserved, so a nested add on a RENAMED column keeps reading
    * through the stable physical name, and [[assignPhys]]'s nested
    * walk gives a re-added namesake of a DROPPED interior field a
    * fresh suffixed physical name (no resurrection). Parents with no
    * struct interior are refused loudly. */
  def addNestedColumn(parentPath: Seq[String],
      field: org.apache.spark.sql.types.StructField): Long = {
    require(parentPath.nonEmpty,
      s"$tableRoot: nested ADD COLUMNS needs a parent path")
    def addAt(st: StructType, path: Seq[String], crumb: String): StructType = {
      val idx = st.fields.indexWhere(f => lc(f.name) == lc(path.head))
      require(idx >= 0,
        s"$tableRoot: ADD COLUMNS: no column '$crumb${path.head}'")
      val f = st.fields(idx)
      def notStruct(dt: org.apache.spark.sql.types.DataType): Nothing =
        throw new IllegalArgumentException(
          s"$tableRoot: ADD COLUMNS: '$crumb${path.head}' is " +
            s"${dt.simpleString}, not a struct, array of structs, or " +
            "map with struct values — nested adds need a struct " +
            "interior to land in")
      // the parent may be a struct, or (r15) an array-of-structs / a
      // map-with-struct-values one container down — old files' rows
      // read the new interior field as null (explicit-schema parquet
      // reads null-fill missing nested leaves), new writes null-pad
      // through [[conformCol]]'s container recursion. SQL paths may
      // spell the container accessor (`arr.element`, `m.value`);
      // allowAtLeaf: the parent path may END on the accessor.
      val (inner: StructType, rest: Seq[String],
          rebuild: (StructType => org.apache.spark.sql.types.DataType)) =
        f.dataType match {
          case st2: StructType =>
            (st2, path.tail, (s: StructType) => s)
          case a @ org.apache.spark.sql.types.ArrayType(el: StructType, _) =>
            (el, skipContainerAccessor(path.tail, "element", el,
                allowAtLeaf = true),
              (s: StructType) => a.copy(elementType = s))
          case m @ org.apache.spark.sql.types.MapType(_, v: StructType, _) =>
            (v, skipContainerAccessor(path.tail, "value", v,
                allowAtLeaf = true),
              (s: StructType) => m.copy(valueType = s))
          case other => notStruct(other)
        }
      val newInner = rest match {
        case Seq() =>
          require(!inner.fields.exists(g => lc(g.name) == lc(field.name)),
            s"$tableRoot: ADD COLUMNS: '$crumb${path.head}.${field.name}' " +
              "already exists")
          StructType(inner.fields :+ field.copy(nullable = true))
        case r => addAt(inner, r, s"$crumb${path.head}.")
      }
      StructType(st.fields.updated(idx, f.copy(dataType = rebuild(newInner))))
    }
    var attempts = 0
    while (true) {
      val s = snapshot()
      val cur = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: nested ADD COLUMNS on a table with no committed schema"))
      // assignPhys's nested walk gives the new field a fresh suffixed
      // physical name when its default path was retired by a nested
      // DROP (no-resurrection) or collides with a renamed sibling's
      // physical name
      val evolved = assignPhys(addAt(cur, parentPath, ""), s.schema,
        s.physRetired)
      if (tryCommit(Manifest(s.version + 1, "add", schema = Some(evolved))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** SQL DDL: `ALTER TABLE … RENAME COLUMN from TO to` — a METADATA-
    * ONLY commit, no data file is read, written, or retired: the
    * column keeps its stable PHYSICAL name (pinned into the field's
    * [[CommitLog.PhysKey]] metadata on first rename) and only the
    * LOGICAL name changes, so every existing file, manifest stat and
    * bloom filter stays valid. Old versions time-travel with their own
    * name, exactly like write-driven evolution. Refuses an unknown
    * source column and a (case-insensitive) collision with any live
    * logical name. DDL is single-writer by assumption (the version CAS
    * still serializes racers — the loser fails loudly). */
  def renameColumn(from: String, to: String): Long =
    renameColumn(Seq(from), to)

  /** r13: `from` may be a NESTED path (`Seq("s", "a")` for `s.a`) —
    * the rename stamps a [[CommitLog.PhysKey]] mapping on the
    * struct-interior field (metadata-only commit, zero files touched;
    * the stable physical name keeps every data file, stat key, and
    * the interior parquet column valid forever). Path components may
    * be plain STRUCT columns, (r15) ARRAYS OF STRUCTS — the
    * reference's own `Combustiveis` column is an array<struct>
    * (/root/reference/index.js:132) — or (r15) MAPS WITH STRUCT
    * VALUES; the positional-cast chokepoints recurse through array
    * elements and map values. MAP KEYS stay refused (a key is the
    * map's identity — nothing to re-present without rebuilding every
    * entry). */
  def renameColumn(from: Seq[String], to: String): Long = {
    require(to.nonEmpty, s"$tableRoot: RENAME COLUMN needs a non-empty name")
    require(from.nonEmpty, s"$tableRoot: RENAME COLUMN needs a column path")
    var attempts = 0
    while (true) {
      val s = snapshot()
      val cur = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: RENAME COLUMN on a table with no committed schema"))
      val evolved = rewriteStructPath(cur, from, "RENAME COLUMN") { (st, idx) =>
        require(lc(from.last) == lc(to) ||
            !st.fields.exists(f => lc(f.name) == lc(to)),
          s"$tableRoot: RENAME COLUMN: '$to' already exists at " +
            s"'${from.dropRight(1).mkString(".")}'")
        val f = st.fields(idx)
        StructType(st.fields.updated(idx, f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(CommitLog.PhysKey, physName(f)).build())))
      }
      if (tryCommit(Manifest(s.version + 1, "add", schema = Some(evolved))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** Resolve `path` inside `sch` (ci), apply `edit` to the struct
    * holding the leaf, and rebuild the schema along the path. Every
    * non-leaf component must be a plain struct column, (r15) an ARRAY
    * of structs, or (r15) a MAP whose VALUE is a struct — the
    * interior-field mapping is the same positional-cast problem one
    * level down, and the chokepoints ([[logicalCol]]'s cast and
    * [[toPhys]]'s inverse) recurse through array elements and map
    * values alike (Catalyst `Cast` renames struct fields by POSITION
    * through both containers). Map KEYS stay refused (loud): a key is
    * the map's identity — there is no addressable "key struct field"
    * a reader could re-present without rebuilding every entry. */
  private def rewriteStructPath(sch: StructType, path: Seq[String],
      op: String)(edit: (StructType, Int) => StructType): StructType = {
    def walk(st: StructType, p: Seq[String], crumb: String): StructType = {
      val idx = st.fields.indexWhere(f => lc(f.name) == lc(p.head))
      require(idx >= 0, s"$tableRoot: $op: no column '$crumb${p.head}'")
      if (p.lengthCompare(1) == 0) edit(st, idx)
      else {
        val f = st.fields(idx)
        val rebuilt: org.apache.spark.sql.types.DataType = f.dataType match {
          case nested: StructType => walk(nested, p.tail, s"$crumb${p.head}.")
          case a @ org.apache.spark.sql.types.ArrayType(el: StructType, _) =>
            a.copy(elementType = walk(el,
              skipContainerAccessor(p.tail, "element", el,
                allowAtLeaf = false), s"$crumb${p.head}."))
          case m @ org.apache.spark.sql.types.MapType(_, v: StructType, _) =>
            if (lc(p.tail.head) == "key"
                && !v.fields.exists(tf => lc(tf.name) == "key"))
              throw new IllegalArgumentException(
                s"$tableRoot: $op: '$crumb${p.head}.key' — map key " +
                  "evolution would be a rewrite, not metadata")
            m.copy(valueType = walk(v,
              skipContainerAccessor(p.tail, "value", v,
                allowAtLeaf = false), s"$crumb${p.head}."))
          case other => throw new IllegalArgumentException(
            s"$tableRoot: $op: '$crumb${p.head}' is ${other.simpleString} " +
              "— interior evolution needs a struct to land in (a " +
              "struct column, an array of structs, or a map's struct " +
              "VALUES; map keys never evolve)")
        }
        StructType(st.fields.updated(idx, f.copy(dataType = rebuilt)))
      }
    }
    walk(sch, path, "")
  }

  /** The PHYSICAL dotted path of `path` under `sch` — the key the
    * retired-name registry stores for nested drops. */
  private def physPathOf(sch: StructType, path: Seq[String]): String = {
    def walk(st: StructType, p: Seq[String]): Seq[String] = {
      val f = st.fields.find(f => lc(f.name) == lc(p.head)).getOrElse(
        throw new IllegalArgumentException(
          s"$tableRoot: no column '${path.mkString(".")}'"))
      if (p.lengthCompare(1) == 0) Seq(physName(f))
      else {
        val (inner, rest) = f.dataType match {
          case s: StructType => (s, p.tail)
          case org.apache.spark.sql.types.ArrayType(el: StructType, _) =>
            (el, skipContainerAccessor(p.tail, "element", el,
              allowAtLeaf = false))
          case org.apache.spark.sql.types.MapType(_, v: StructType, _) =>
            (v, skipContainerAccessor(p.tail, "value", v,
              allowAtLeaf = false))
          case other => throw new IllegalArgumentException(
            s"$tableRoot: '${path.mkString(".")}' walks through " +
              s"${other.simpleString}")
        }
        physName(f) +: walk(inner, rest)
      }
    }
    walk(sch, path).mkString(".")
  }

  /** SQL container-accessor tolerance, shared by EVERY interior path
    * walk ([[rewriteStructPath]], [[physPathOf]], [[addNestedColumn]])
    * — they walk the SAME caller-supplied path and MUST agree, or a
    * DROP would retire a physical path no later re-add collides with.
    * A leading `element`/`value` component is dropped as Spark's SQL
    * accessor spelling (`arr.element.a`, `m.value.a`) unless the
    * interior struct has a REAL field of that name (namesake wins —
    * the library form's back-compat reading). r16 (ADVICE r15): when
    * BOTH readings resolve — the struct has a real `element`/`value`
    * field AND the accessor-skipped remainder also names an interior
    * field — the walk REFUSES loudly instead of silently retargeting
    * the namesake: a path copied from Spark's own schema output could
    * otherwise rename/drop/add the wrong field with no warning. The
    * disambiguation is the library path form (interior fields WITHOUT
    * the accessor component), or renaming the namesake first.
    * `allowAtLeaf`: an accessor may END the path only where the leaf
    * names a container interior itself (addNestedColumn's parent can
    * BE `arr.element`); the rename/drop walks refuse that (their leaf
    * is the edited field). */
  private def skipContainerAccessor(rest: Seq[String], accessor: String,
      target: StructType, allowAtLeaf: Boolean): Seq[String] = {
    if (rest.isEmpty) return rest
    val namesake = target.fields.exists(tf => lc(tf.name) == lc(rest.head))
    val accessorSpelling = lc(rest.head) == accessor &&
      (allowAtLeaf || rest.lengthCompare(1) > 0)
    if (!accessorSpelling) rest
    else if (!namesake) rest.tail
    else {
      // both spellings exist; the interior reading is PLAUSIBLE when
      // the accessor ends the path (allowAtLeaf) or the next component
      // names a field of this interior struct — then neither reading
      // can silently win
      val interiorPlausible = rest.tail.headOption.forall(n =>
        target.fields.exists(tf => lc(tf.name) == lc(n)))
      if (interiorPlausible)
        throw new IllegalArgumentException(
          s"$tableRoot: ambiguous path component '${rest.head}' — it is " +
            s"both the container-interior accessor and a real field of " +
            s"the interior struct, and both readings resolve. Spell the " +
            s"interior WITHOUT the '$accessor' component (library path " +
            s"form), or rename the namesake field first")
      rest // only the namesake reading resolves — it wins, as before
    }
  }

  /** SQL DDL: `ALTER TABLE … DROP COLUMN` — METADATA-ONLY like
    * [[renameColumn]]: the field leaves the logical schema and its
    * physical name joins the manifest's retired list, so a later ADD
    * of the same logical name takes a FRESH physical name instead of
    * silently resurrecting the dropped column's data from old files.
    * Old versions still time-travel with the column. Refuses dropping
    * the last column (a zero-column table cannot be scanned). */
  def dropColumn(name: String): Long = dropColumn(Seq(name))

  /** r13: `path` may be NESTED (`Seq("s", "a")`) — the field leaves
    * its struct and its PHYSICAL dotted path joins the retired list,
    * so a later nested ADD of the same logical name takes a fresh
    * suffixed physical name instead of resurrecting the dropped
    * field's bytes from old files. Dropping a struct's LAST field is
    * refused (drop the struct column itself instead — parquet cannot
    * hold an empty group). */
  def dropColumn(path: Seq[String]): Long = {
    require(path.nonEmpty, s"$tableRoot: DROP COLUMN needs a column path")
    var attempts = 0
    while (true) {
      val s = snapshot()
      val cur = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: DROP COLUMN on a table with no committed schema"))
      // the walk runs FIRST: its refusals (key evolution, non-struct
      // interiors) carry the precise diagnostics; physPathOf then
      // resolves the same path by the shared accessor rules
      val evolved = rewriteStructPath(cur, path, "DROP COLUMN") { (st, idx) =>
        require(st.fields.length > 1,
          s"$tableRoot: DROP COLUMN: cannot drop the last column " +
            s"'${path.mkString(".")}'" + (if (path.lengthCompare(1) > 0)
              " of its struct — drop the struct column instead" else ""))
        StructType(st.fields.patch(idx, Nil, 1))
      }
      val retiredPath = physPathOf(cur, path)
      val retired = s.physRetired :+ retiredPath
      if (tryCommit(Manifest(s.version + 1, "add", schema = Some(evolved),
          physRetired = Some(retired))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** SQL DDL: `ALTER TABLE … ALTER COLUMN <path> TYPE <wider>` (r17,
    * VERDICT r16 #1/#2 list) — the standard lakehouse habit of widening
    * a column BEFORE the backfill arrives (Delta 3.x `ALTER COLUMN
    * TYPE`, Iceberg `updateColumn`), routed through the same widening
    * lattice a wide WRITE uses ([[mergeStructs]]/[[CommitLog.widerOf]]):
    * ONE metadata-only commit at any table size. Old files read through
    * the widened schema natively; narrower appends upcast before
    * landing; stat representations are unchanged so every pruning/fold
    * surface keeps working. `path` may be nested (struct interiors,
    * array<struct> elements, map<_,struct> values — the
    * [[rewriteStructPath]] walk). A string-shifting widen
    * (float→double) stamps [[CommitLog.WidenedStrKey]] and bumps the
    * column's string-form era exactly like the write-driven form.
    * Widening to the CURRENT type is a no-op (no commit); anything
    * that is not an exact widening refuses with the same loud error as
    * a narrowing write. */
  def widenColumnType(path: Seq[String],
      to: org.apache.spark.sql.types.DataType): Long = {
    require(path.nonEmpty, s"$tableRoot: ALTER COLUMN TYPE needs a column path")
    var attempts = 0
    while (true) {
      val s = snapshot()
      val cur = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: ALTER COLUMN TYPE on a table with no committed schema"))
      var noop = false
      // the container-aware widen: scalars through [[CommitLog.widerOf]],
      // ARRAY elements and MAP values recursively (the same shapes the
      // write-driven merge admits — `ALTER COLUMN arr TYPE ARRAY<BIGINT>`
      // parallels a wide array write); struct-typed targets refuse —
      // address the LEAF by its path instead, which keeps each interior
      // field's mapping metadata intact
      def widenTo(c: org.apache.spark.sql.types.DataType,
          t: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = (c, t) match {
        case _ if CommitLog.stripMeta(c) == CommitLog.stripMeta(t) => c
        case (ca: org.apache.spark.sql.types.ArrayType,
              ta: org.apache.spark.sql.types.ArrayType) =>
          ca.copy(elementType = widenTo(ca.elementType, ta.elementType),
            containsNull = ca.containsNull || ta.containsNull)
        case (cm: org.apache.spark.sql.types.MapType,
              tm: org.apache.spark.sql.types.MapType)
            if CommitLog.stripMeta(cm.keyType) == CommitLog.stripMeta(tm.keyType) =>
          cm.copy(valueType = widenTo(cm.valueType, tm.valueType),
            valueContainsNull = cm.valueContainsNull || tm.valueContainsNull)
        case _ =>
          val w = CommitLog.widerOf(CommitLog.stripMeta(c), CommitLog.stripMeta(t))
          require(w.contains(CommitLog.stripMeta(t)),
            s"$tableRoot: ALTER COLUMN TYPE cannot change " +
              s"'${path.mkString(".")}' from ${c.simpleString} to " +
              s"${t.simpleString} (only exact widenings are metadata-only: " +
              "byte/short/int->long, float->double, decimal precision " +
              "growth at the same scale — anything else is a rewrite)")
          CommitLog.stripMeta(t)
      }
      // float→double anywhere under the target shifts stored values'
      // string form — same era bump as the write-driven merge
      def shifts(c: org.apache.spark.sql.types.DataType,
          m: org.apache.spark.sql.types.DataType): Boolean = (c, m) match {
        case (ca: org.apache.spark.sql.types.ArrayType,
              ma: org.apache.spark.sql.types.ArrayType) =>
          shifts(ca.elementType, ma.elementType)
        case (cm: org.apache.spark.sql.types.MapType,
              mm: org.apache.spark.sql.types.MapType) =>
          shifts(cm.valueType, mm.valueType)
        case _ => CommitLog.strFormShifts(c, m)
      }
      val evolved = rewriteStructPath(cur, path, "ALTER COLUMN TYPE") { (st, idx) =>
        val f = st.fields(idx)
        require(!CommitLog.stripMeta(f.dataType).isInstanceOf[StructType]
            || !CommitLog.stripMeta(to).isInstanceOf[StructType],
          s"$tableRoot: ALTER COLUMN TYPE of a whole STRUCT is ambiguous " +
            s"— widen the leaf ('${path.mkString(".")}.<field>') instead")
        val merged = widenTo(f.dataType, to)
        if (CommitLog.stripMeta(merged) == CommitLog.stripMeta(f.dataType)
            && CommitLog.stripMeta(f.dataType) == CommitLog.stripMeta(to)) {
          noop = true; st
        } else {
          val meta =
            if (shifts(f.dataType, merged))
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putBoolean(CommitLog.WidenedStrKey, true)
                .putLong(CommitLog.StrEraKey, CommitLog.strEraOf(f) + 1)
                .build()
            else f.metadata
          StructType(st.fields.updated(idx,
            f.copy(dataType = merged, metadata = meta)))
        }
      }
      if (noop) return s.version
      if (tryCommit(Manifest(s.version + 1, "add", schema = Some(evolved))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** MAINTENANCE: rewrite the data files so every column's PHYSICAL
    * name equals its logical name again. A RENAME COLUMN is
    * metadata-only and free, but a mapped table reads through the V1
    * fallback scan (the V2 parquet builder resolves by name) and its
    * SQL row-level DML is gated — this is the move that buys the fast
    * path back during a maintenance window, Delta's "rewrite to
    * materialize column mapping". One `replace` commit: content is
    * bit-identical, partition tags ride the partitioned path
    * (`partCol` required exactly as for [[delete]]), stats and blooms
    * re-harvest, and the retired-physical list RESETS — every file now
    * carries current logical names, so a future re-add has nothing to
    * resurrect. Pre-rewrite versions still time-travel with their own
    * mapping. No-op (no commit) when the mapping is already identity
    * and nothing is retired. */
  def materializeMapping(partCol: Option[String] = None): Long = {
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0, s"$tableRoot: nothing to materialize")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      if (identityMapping(sch) && s.physRetired.isEmpty) return s.version
      requireTagState(s, partCol, "materializeMapping")
      // strip the mapping at EVERY depth (r13: nested renames carry
      // PhysKey on struct-interior fields too)
      def cleanType(dt: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = dt match {
        case st: StructType => StructType(st.fields.map(cleanField))
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = cleanType(a.elementType))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = cleanType(m.keyType),
            valueType = cleanType(m.valueType))
        case other => other
      }
      def cleanField(f: org.apache.spark.sql.types.StructField)
          : org.apache.spark.sql.types.StructField = {
        val md =
          if (!f.metadata.contains(CommitLog.PhysKey)) f.metadata
          else new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(CommitLog.PhysKey).build()
        f.copy(dataType = cleanType(f.dataType), metadata = md)
      }
      val clean = StructType(sch.fields.map(cleanField))
      val df = readAt(s) // the logical view — exactly what gets rewritten
      val (files, tags) = partCol match {
        case Some(pc) =>
          val t = writeDataPartitioned(df, pc, clean)
          (t.map(_._1), t.toMap)
        case None => (writeData(df, clean), Map.empty[String, String])
      }
      val cfg = effectiveBloomCfg()
      val won = try tryCommit(Manifest(s.version + 1, "replace", files,
          entriesFor(files, s, Some(clean), tags, cfg), Some(clean),
          physRetired = Some(Nil)))
        catch { case e: Throwable => files.foreach(deleteData); throw e }
      if (won) return s.version + 1
      files.foreach(deleteData)
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** Replace the live file set with `df` (TRUNCATE-and-load). */
  def replaceAll(df: DataFrame, txn: Option[(String, Long)] = None): Long = {
    val s0 = snapshot()
    if (replayOf(s0, txn)) return s0.version
    val files = writeData(df, df.schema)
    var v = s0.version + 1
    var attempts = 0
    try {
      val es = entriesFor(files, s0, Some(df.schema))
      while (!tryCommit(Manifest(v, "replace", files, es, Some(df.schema), txn))) {
        attempts += 1
        require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        val s = snapshot()
        if (replayOf(s, txn)) { files.foreach(deleteData); return s.version }
        v = s.version + 1
      }
    } catch {
      case e: Throwable => files.foreach(deleteData); throw e
    }
    v
  }

  /** ROW-LEVEL DELETE: remove the rows where `condition` is TRUE (SQL
    * DELETE semantics — a NULL condition keeps the row) and commit the
    * rewrite as a `replace`. The write amplification is bounded by
    * THREE pruning layers, so a predicate-local delete on a 100 TB
    * table rewrites only the files it must (Delta's two-phase DELETE
    * shape, driven by this log's own manifest stats):
    *
    *   1. CANDIDATES — manifest file stats ([[entriesFor]]) rule out
    *      files that cannot hold a TRUE row before ANY file opens:
    *      each top-level conjunct of the shape `col <op> literal`
    *      contributes a bound, and a file whose recorded (min, max)
    *      cannot intersect a bound is skipped (other conjunct shapes
    *      contribute nothing — conservative, never wrong, because a
    *      row satisfying the AND must satisfy every conjunct).
    *   2. FIND — the candidates are scanned WITH the predicate (parquet
    *      row-group pushdown prunes further) emitting only the distinct
    *      file names that actually hold a matching row.
    *   3. REWRITE — exactly the touched files are rewritten without
    *      their matching rows; every other live file rides through the
    *      commit untouched, restated with its existing partition tag
    *      and stats.
    *
    * A partition-tagged table must pass `partCol` so rewritten files
    * keep tags (the all-tagged invariant [[upsertPartitioned]] depends
    * on survives any delete); an untagged table must not. A delete that
    * matches nothing returns the current version WITHOUT committing.
    * On a lost version race the whole find+rewrite recomputes against
    * the winner's table, like [[upsert]]. */
  def delete(condition: org.apache.spark.sql.Column,
      partCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      require(s.version >= 0, s"$tableRoot: delete on a table with no commits")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      requireTagState(s, partCol, "delete")
      val touched = touchedFiles(s, sch, condition)
      if (touched.isEmpty) return s.version // nothing matched — no new version
      tryDvDelete(s, sch, condition, touched, txn) match {
        case Some(Some(v)) => return v // masked merge-on-read, committed
        case Some(None) => // DV path lost the version race — retry whole
          attempts += 1
          require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        case None => // policy says copy-on-write
          val kept = readFiles(sch, touched, s.dvsOf)
            .filter(not(coalesce(condition, lit(false))))
          commitRewrite(s, sch, touched, kept, partCol, txn) match {
            case Some(v) => return v
            case None =>
              attempts += 1
              require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
          }
      }
    }
    -1L // unreachable
  }

  /** The merge-on-read DELETE attempt: mask the matching rows of
    * `touched` behind a deletion-vector sidecar instead of rewriting
    * the files. Outcome: None = policy declined (caller runs
    * copy-on-write); Some(Some(v)) = committed; Some(None) = lost the
    * version race (sidecar cleaned up; caller retries from a fresh
    * snapshot). Policy — all session-configurable:
    *  - `spark.graft.dv.enabled` (default true) gates the path;
    *  - `spark.graft.dv.maxDeletedRows` (default 2e6) caps the
    *    positions a single commit may mask (sidecars stay driver- and
    *    broadcast-sized);
    *  - `spark.graft.dv.maxRatio` (default 0.3) caps masked/live rows
    *    OF THE TOUCHED FILES — past it the files are mostly dead and
    *    the honest move is the rewrite that also reclaims their bytes.
    * The masked positions are FILE ordinals (`_metadata.row_index`),
    * already net of previous DVs, so refs accumulate disjointly. */
  /** The shared DV admission gate: enabled + a TOUCHED-BYTES floor.
    * The floor (`spark.graft.dv.minTouchedBytes`, default 256 MB) is
    * what makes the policy scale-aware: a DV commit replaces the
    * rewrite with 2-3 extra driver round-trips and later masked
    * (row-wise, unpushed) reads — a pure win when the avoided rewrite
    * is multi-GB, a measured LOSS when the touched files are small
    * (BenchOne r13: the sync composites regressed 20-40% with DVs on
    * at sf0.1's megabyte-scale partitions). Below the floor the
    * copy-on-write path is the honest fast path. */
  /** The DV row cap, clamped below Int.MaxValue: the mask probes
    * collect maxRows+1 rows through DataFrame.limit(Int), so an
    * at-or-above-IntMax config would wrap negative and fail the
    * statement; past the clamp the DV path refuses (length > maxRows)
    * and copy-on-write takes over (ADVICE r14). One definition for all
    * four DV forms (review r15). */
  private def dvMaxRows(conf: (String, String) => String): Long =
    math.min(
      conf("spark.graft.dv.maxDeletedRows", "2000000").toLong, Int.MaxValue - 2L)

  private def dvAdmitted(touched: Seq[String]): Boolean = {
    def conf(k: String, d: String): String =
      spark.conf.getOption(k).getOrElse(d)
    if (!conf("spark.graft.dv.enabled", "true").toBoolean) return false
    val minBytes = conf("spark.graft.dv.minTouchedBytes",
      (256L << 20).toString).toLong
    minBytes <= 0L || touched.map { f =>
      try fs.getFileStatus(new Path(entryPath(f))).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum >= minBytes
  }

  /** r17 DV SUM-DELTA ACCOUNTING — the columns a DV commit must account
    * its masked rows against: every physical column with a live
    * `graft.sum.` partial on any touched file, paired with its CURRENT
    * logical name (the name the masked-row frame carries). A physical
    * with no live logical (a dropped column) is excluded — its stale
    * entries are swept by [[dvSumRestated]]. Empty when the feature is
    * off (`spark.graft.dv.sumDeltas.enabled=false` — the r16 wire
    * behavior, and the knob that lets specs pin the legacy refusal). */
  private def dvSumCols(s: Snapshot, touched: Seq[String])
      : Seq[(String, String)] = {
    if (!spark.conf.getOption("spark.graft.dv.sumDeltas.enabled")
        .forall(_.toBoolean)) return Nil
    val phys = touched.flatMap(s.entry(_).sums.keys).distinct
    if (phys.isEmpty) return Nil
    val logByPhys: Map[String, String] = s.schema
      .map(_.fields.map(f => lc(physName(f)) -> f.name).toMap)
      .getOrElse(Map.empty)
    phys.flatMap(p => logByPhys.get(lc(p)).map(l => (p, l))).sorted
  }

  /** r18 (VERDICT r17 #2): the columns whose LIVE NON-NULL COUNT a DV
    * commit maintains BEYOND the sum set — every top-level column of
    * the current schema. Their masked-row nullness rides the same mask
    * collect as a packed bitmask (one long per 63 columns,
    * [[dvMaskSelect]]), so COUNT(col) stays manifest-answerable across
    * row-level DML without configuring sums — at a constant few bytes
    * per masked row regardless of column count or type. Same feature
    * flag as the sum deltas (it IS the same accounting). */
  private def dvExtraNullCols(s: Snapshot, sumCols: Seq[(String, String)])
      : Seq[(String, String)] = {
    if (!spark.conf.getOption("spark.graft.dv.sumDeltas.enabled")
        .forall(_.toBoolean)) return Nil
    val sumPhys = sumCols.map(c => lc(c._1)).toSet
    s.schema.map(_.fields.toSeq.map(f => (physName(f), f.name))
      .filterNot(c => sumPhys(lc(c._1))).sorted).getOrElse(Nil)
  }

  /** Both halves of the DV accounting column set: exact sum deltas for
    * the sum-maintained columns, live non-null counts for the rest. */
  private final case class DvAcct(sums: Seq[(String, String)],
      extras: Seq[(String, String)]) {
    def isEmpty: Boolean = sums.isEmpty && extras.isEmpty
  }

  private def dvAcct(s: Snapshot, touched: Seq[String]): DvAcct = {
    val sums = dvSumCols(s, touched)
    DvAcct(sums, dvExtraNullCols(s, sums))
  }

  /** The per-file stats RESTATEMENTS a DV commit publishes beside its
    * mask so SUM/AVG/COUNT(col) manifest folds survive row-level DML
    * (r17, VERDICT r16 #1): the masked rows are already materialized
    * by the DV collect, so each touched file's exact sum partials are
    * reduced by its masked rows' contributions, a live non-null count
    * per column lands in `liveNonNull`, and `dvAcc` records the
    * cumulative masked total the entry now excludes — the fold admits
    * the file's sum evidence iff that equals its DV cardinality. Honest-refusal preservation:
    *  - a file with a PRIOR unaccounted DV cannot be accounted (the
    *    earlier masked values are gone) — no restatement, keeps
    *    refusing;
    *  - a column whose live non-null count is underivable (no
    *    rows/nulls evidence) drops its sum pair — absence refuses;
    *  - an unrepresentable post-delta sum drops the entry — absence
    *    refuses;
    *  - stale sum entries of DROPPED columns are swept.
    * `masked` rows are (file base name, position, v(col 1), …) in
    * `sumCols` order. */
  private def dvSumRestated(s: Snapshot, touched: Seq[String],
      acct: DvAcct,
      masked: Iterable[org.apache.spark.sql.Row])
      : Map[String, FileEntry] = {
    val sumCols = acct.sums
    if (acct.isEmpty || masked.isEmpty) return Map.empty
    def toBig(v: Any): java.math.BigDecimal = v match {
      case bd: java.math.BigDecimal => bd
      case b: Byte => java.math.BigDecimal.valueOf(b.toLong)
      case sh: Short => java.math.BigDecimal.valueOf(sh.toLong)
      case i: Int => java.math.BigDecimal.valueOf(i.toLong)
      case l: Long => java.math.BigDecimal.valueOf(l)
      case other => throw new IllegalStateException(
        s"$tableRoot: non-summable masked value $other")
    }
    val relByBase = touched.map(f => new Path(f).getName -> f).toMap
    val keepSumPhys = sumCols.map(c => lc(c._1)).toSet
    val keepNnPhys = keepSumPhys ++ acct.extras.map(c => lc(c._1))
    masked.groupBy(_.getString(0)).flatMap { case (base, rows) =>
      relByBase.get(base).flatMap { rel =>
        val e = s.entry(rel)
        val prevDv = e.maskedCount
        if (prevDv != 0L && !e.dvAccounted)
          None // a legacy DV: its masked values are gone
        else {
          // sweep stale entries of dropped columns (no live logical)
          var sums = e.sums.filter(kv => keepSumPhys(lc(kv._1)))
          var nn = e.liveNonNull.filter(kv => keepNnPhys(lc(kv._1)))
          // the live non-null count's prior value: the maintained entry
          // if present, else — only while the file has NO accounted
          // prior DV — the pre-mask rows−nulls (after a prior DV that
          // figure overcounts by previously-masked non-null rows:
          // absence refuses, ADVICE r17)
          def prevNnOf(phys: String): Option[Long] =
            nn.get(phys).orElse(
              if (prevDv != 0L) None
              else for (r <- e.rows; nl <- e.nulls.get(phys)) yield r - nl)
          sumCols.zipWithIndex.foreach { case ((phys, _), i) =>
            val idx = i + 2
            var dsum = java.math.BigDecimal.ZERO
            var dnn = 0L
            rows.foreach { r =>
              if (!r.isNullAt(idx)) { dnn += 1; dsum = dsum.add(toBig(r.get(idx))) }
            }
            sums.get(phys).foreach { pv =>
              val next: Option[Any] = (pv match {
                case l: Long => Some(java.math.BigDecimal.valueOf(l))
                case d: CommitLog.DecV => Some(d.toBig)
                case _ => None
              }).map(_.subtract(dsum)).flatMap { nb =>
                pv match {
                  case _: Long => CommitLog.decVOf(nb).collect {
                    case CommitLog.DecV(u, 0) => java.lang.Long.valueOf(u): Any
                  }
                  case _: CommitLog.DecV => CommitLog.decVOf(nb).map(x => x: Any)
                  case _ => None
                }
              }
              sums = next match {
                case Some(v) => sums.updated(phys, v)
                case None => sums - phys // unrepresentable → absence refuses
              }
            }
            prevNnOf(phys) match {
              case Some(c) => nn = nn.updated(phys, c - dnn)
              case None => nn -= phys; sums -= phys // can't maintain the pair
            }
          }
          // r18: the non-sum columns' live counts, from the packed
          // null bitmask chunks riding the collect after the sum values
          acct.extras.zipWithIndex.foreach { case ((phys, _), j) =>
            val chunkIdx = 2 + sumCols.size + j / 63
            val bit = j % 63
            val dnn = rows.count(r =>
              ((r.getLong(chunkIdx) >> bit) & 1L) == 0L) // bit set = NULL
            nn = prevNnOf(phys) match {
              case Some(c) => nn.updated(phys, c - dnn)
              case None => nn - phys // underivable → absence refuses
            }
          }
          Some(rel -> FileEntry(rel, colStats = e.colStats, sums = sums,
            liveNonNull = nn, dvAcc = Some(prevDv + rows.size.toLong)))
        }
      }
    }
  }

  /** The `add_dv` statement about the masked files: each file gains
    * its [[CommitLog.DvRef]] into sidecar `dvRel` and, under DV
    * accounting, its restated stats block ([[dvSumRestated]]). */
  private def dvEntries(s: Snapshot, touched: Seq[String], dvRel: String,
      positions: Seq[(String, Long)], acct: DvAcct,
      masked: Iterable[org.apache.spark.sql.Row]): Seq[FileEntry] = {
    val relByBase = touched.map(f => new Path(f).getName -> f).toMap
    val restated = dvSumRestated(s, touched, acct, masked)
    positions.groupBy(_._1).toSeq.map { case (b, ps) =>
      val rel = relByBase(b)
      restated.getOrElse(rel, FileEntry(rel))
        .copy(dvs = Seq(CommitLog.DvRef(dvRel, ps.size.toLong)))
    }
  }

  /** The masked-row SELECT a DV site collects: file, position, each
    * sum-maintained column's VALUE (in `acct.sums` order — exact
    * deltas need the values), then the remaining columns' NULLNESS
    * packed 63-to-a-long (`acct.extras` order) — what
    * [[dvSumRestated]] aggregates. The bitmask keeps the collect width
    * CONSTANT in the column count (longs, not values), so live
    * non-null counts for every column cost a few bytes per masked row
    * at any schema width or type. `nameOf` maps a logical column name
    * to the frame's spelling (identity for the live-read frames, the
    * `__t_` prefix inside [[mergeStage]]'s output). */
  private def dvMaskSelect(acct: DvAcct,
      nameOf: String => String): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val chunks = acct.extras.grouped(63).zipWithIndex.map { case (chunk, k) =>
      chunk.zipWithIndex.map { case ((_, logical), bit) =>
        when(col(s"`${nameOf(logical)}`").isNull, lit(1L << bit))
          .otherwise(lit(0L))
      }.reduce(_ + _).as(s"__dv_nb$k")
    }.toSeq
    Seq(col("__dv_f"), col("__dv_pos")) ++
      acct.sums.map { case (_, logical) => col(s"`${nameOf(logical)}`") } ++
      chunks
  }

  /** Live (post-DV) row count over `touched`, for the DV ratio gate —
    * answered from the manifest's exact per-file counts when every
    * file carries one (r20, guide §1.2 step 1: this was a full count
    * JOB per DV-eligible statement; the manifest already knows the
    * answer — footer-harvested physical rows minus the DV counts,
    * which is exactly what the masked scan would count). Falls back
    * to the scan for files whose manifests predate row harvesting. */
  private def liveCountOf(s: Snapshot, sch: StructType,
      touched: Seq[String]): Long = {
    val known = touched.map(s.entry(_).liveRows)
    if (known.forall(_.isDefined)) known.flatten.sum
    else readFiles(sch, touched, s.dvsOf).count()
  }

  private def tryDvDelete(s: Snapshot, sch: StructType,
      condition: org.apache.spark.sql.Column, touched: Seq[String],
      txn: Option[(String, Long)]): Option[Option[Long]] = {
    def conf(k: String, d: String): String =
      spark.conf.getOption(k).getOrElse(d)
    if (!dvAdmitted(touched)) return None
    val maxRows = dvMaxRows(conf)
    val maxRatio = conf("spark.graft.dv.maxRatio", "0.3").toDouble
    val withPos = readLiveWithPos(s, sch, touched)
    // r17: the masked rows' sum-column values ride the SAME collect the
    // mask needs anyway, so the sum-delta accounting costs no extra job
    val acct = dvAcct(s, touched)
    val matched = withPos.filter(condition)
      .select(dvMaskSelect(acct, identity): _*)
      .limit(maxRows.toInt + 1).collect()
    if (matched.length > maxRows) return None
    if (matched.isEmpty) return Some(Some(s.version)) // raced to nothing
    val live = liveCountOf(s, sch, touched)
    if (live > 0 && matched.length.toDouble / live > maxRatio) return None
    val positions = matched.map(r => (r.getString(0), r.getLong(1))).toSeq
    val dvRel = writeDv(positions)
    val won = try tryCommit(Manifest(s.version + 1, "add_dv",
        entries = dvEntries(s, touched, dvRel, positions, acct, matched),
        schema = Some(sch), txn = txn))
      catch { case e: Throwable => deleteData(dvRel); throw e }
    if (won) Some(Some(s.version + 1))
    else { deleteData(dvRel); Some(None) }
  }

  /** The merge-on-read UPDATE attempt (Delta's DV update shape): mask
    * the matching rows behind a DV and APPEND their updated versions
    * as new files — one atomic `add_dv` commit carrying both, zero
    * rewrite of the touched files. Same policy gates and outcome
    * contract as [[tryDvDelete]]; the appended rows validate CHECK
    * constraints and, on tagged tables, land through the partitioned
    * write (assignments to partition key columns are refused upstream,
    * so no row changes partition). */
  private def tryDvUpdate(s: Snapshot, sch: StructType,
      condition: org.apache.spark.sql.Column, touched: Seq[String],
      partCol: Option[String], txn: Option[(String, Long)],
      assigned: (org.apache.spark.sql.types.StructField, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
      : Option[Option[Long]] = {
    import org.apache.spark.sql.functions.{col, lit}
    def conf(k: String, d: String): String =
      spark.conf.getOption(k).getOrElse(d)
    if (!dvAdmitted(touched)) return None
    partCol.foreach(requireCurrentSpec(s, _)) // r18: appends land under the current spec
    val maxRows = dvMaxRows(conf)
    val maxRatio = conf("spark.graft.dv.maxRatio", "0.3").toDouble
    val hits = readLiveWithPos(s, sch, touched).filter(condition)
    val acct = dvAcct(s, touched)
    val matched = hits.select(dvMaskSelect(acct, identity): _*)
      .limit(maxRows.toInt + 1).collect()
    if (matched.length > maxRows) return None
    if (matched.isEmpty) return Some(Some(s.version)) // raced to nothing
    val live = liveCountOf(s, sch, touched)
    if (live > 0 && matched.length.toDouble / live > maxRatio) return None
    // every selected row IS a hit — assignments apply unconditionally.
    // r18: the replacement rows carry their PRE-image's stable row id
    // as a hidden physical column ([[CommitLog.RowLineageCol]]) so the
    // change feed can link the update pair — invisible to normal reads
    val updatedRows = hits.select(sch.fields.map(f =>
      assigned(f, col(f.name), lit(true))).toIndexedSeq ++
      (if (lineageNameFree(sch))
        Seq(rowIdCol(col("__dv_f"), col("__dv_pos"))
          .as(CommitLog.RowLineageCol))
      else Nil): _*)
    val (newFiles, newTags) = partCol match {
      case Some(pc) =>
        val tagged = writeDataPartitioned(updatedRows, pc, sch)
        (tagged.map(_._1), tagged.toMap)
      case None => (writeData(updatedRows, sch), Map.empty[String, String])
    }
    val positions = matched.map(r => (r.getString(0), r.getLong(1))).toSeq
    val dvRel = try writeDv(positions)
      catch { case e: Throwable => newFiles.foreach(deleteData); throw e }
    def cleanup(): Unit = { newFiles.foreach(deleteData); deleteData(dvRel) }
    val won = try tryCommit(Manifest(s.version + 1, "add_dv", newFiles,
        entriesFor(newFiles, s, Some(sch), newTags)
          ++ dvEntries(s, touched, dvRel, positions, acct, matched),
        Some(sch), txn))
      catch { case e: Throwable => cleanup(); throw e }
    if (won) Some(Some(s.version + 1))
    else { cleanup(); Some(None) }
  }

  /** ROW-LEVEL UPDATE: rewrite the rows where `condition` is TRUE with
    * the assignments in `set` (SQL UPDATE semantics — a NULL condition
    * leaves the row untouched) and commit as a `replace`. Shares
    * [[delete]]'s three pruning layers verbatim (manifest-stats
    * candidates → predicate FIND scan → rewrite only the files that
    * actually hold a matching row), so a predicate-local update on a
    * 100 TB table rewrites only what it must. Assignment semantics are
    * SQL's SIMULTANEOUS form: every right-hand side is evaluated
    * against the OLD row (one `select` computes all columns — no
    * sequential `withColumn` chain where an earlier assignment could
    * leak into a later RHS), and each assigned value is cast back to
    * the column's declared type so the table schema never drifts.
    * The partition-tag COLUMN itself is refused as an assignment
    * target (moving a row across partitions is a delete+insert — use
    * [[upsertPartitioned]]); registered CHECK constraints validate the
    * rewritten rows before anything commits. An update that matches
    * nothing returns the current version WITHOUT committing; a lost
    * version race recomputes find+rewrite against the winner. */
  def update(condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      partCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, s"$tableRoot: update needs at least one assignment")
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      require(s.version >= 0, s"$tableRoot: update on a table with no commits")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      val unknown = set.keySet.filterNot(k =>
        sch.fieldNames.exists(_.equalsIgnoreCase(k)))
      require(unknown.isEmpty,
        s"$tableRoot: update assigns unknown column(s) ${unknown.mkString(", ")}")
      partCol.foreach { pc =>
        val srcs = PartSpec.parse(pc).sourceColumns
        require(!set.keySet.exists(k => srcs.exists(_.equalsIgnoreCase(k))),
          s"$tableRoot: cannot update a partition key column of '$pc' — a " +
            "cross-partition move is a delete+insert (use upsertPartitioned)")
      }
      requireTagState(s, partCol, "update")
      val touched = touchedFiles(s, sch, condition)
      if (touched.isEmpty) return s.version // nothing matched — no new version
      def assigned(f: org.apache.spark.sql.types.StructField, old: org.apache.spark.sql.Column,
          hit: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        set.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, rhs)) =>
            when(hit, rhs.cast(f.dataType)).otherwise(old).as(f.name)
          case None => old.as(f.name)
        }
      tryDvUpdate(s, sch, condition, touched, partCol, txn, assigned) match {
        case Some(Some(v)) => return v // masked + appended merge-on-read
        case Some(None) =>
          attempts += 1
          require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        case None =>
          val hit = coalesce(condition, lit(false))
          val updated = readFiles(sch, touched, s.dvsOf)
            .select(sch.fields.map(f => assigned(f, col(f.name), hit))
              .toIndexedSeq: _*)
          validateConstraints(updated)
          commitRewrite(s, sch, touched, updated, partCol, txn) match {
            case Some(v) => return v
            case None =>
              attempts += 1
              require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
          }
      }
    }
    -1L // unreachable
  }

  /** Full MERGE INTO: apply `clauses` (WHEN MATCHED UPDATE / DELETE,
    * WHEN NOT MATCHED INSERT, and r16's WHEN NOT MATCHED BY SOURCE
    * UPDATE / DELETE — [[CommitLog.MergeClause]]) against
    * `source`, joined to the table on equality of `keys`, in ONE
    * commit. By-source clauses fire on TARGET rows with no source
    * match (the sync-table-to-source shape); their FIND leg anti-joins
    * the source keys, with candidates pruned by the OR of the clause
    * conditions — a scoped sync (`AND t.day = X`) opens one partition,
    * an unconditional one is inherently table-scoped. This is the general form of the reference's conditional
    * put-else-update branch (/root/reference/index.js:265-283) done as
    * a lakehouse copy-on-write, and it shares [[delete]]/[[update]]'s
    * three pruning layers — with the FIND phase driven by the SOURCE
    * instead of a literal predicate:
    *
    *   1. CANDIDATES — the source's per-key (min, max) (one tiny agg,
    *      2·|keys| scalars to the driver) becomes a range predicate the
    *      manifest stats prune against, so files whose key range cannot
    *      intersect the batch never open.
    *   2. FIND — the candidates' key columns semi-join the source;
    *      only files actually holding a matched row rewrite.
    *   3. REWRITE — touched rows full-outer-join the source; each row
    *      takes its FIRST true clause in declaration order (ANSI MERGE),
    *      unmatched target rows ride through, unmatched source rows
    *      insert when an insert clause admits them. Untouched files
    *      restate with their tags/stats/blooms.
    *
    * Every target row must match at most one source row (enforced: the
    * merge refuses a source with duplicate non-null keys, ANSI's
    * cardinality rule). Null-keyed source rows never match — they are
    * NOT-MATCHED inserts, like SQL. Clause conditions and update/insert
    * expressions address the two rows as `t.<col>` / `s.<col>`. Insert
    * may evolve the schema (new source columns append as nullable, as
    * in [[upsert]]); update assignments must target existing columns
    * and never the partition-tag column. A merge that changes nothing
    * returns the current version WITHOUT committing; a lost version
    * race recomputes find+rewrite against the winner's table. */
  def merge(source0: DataFrame, keys: Seq[String],
      clauses: Seq[CommitLog.MergeClause],
      partCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, when}
    require(keys.nonEmpty, s"$tableRoot: merge needs at least one key")
    require(clauses.nonEmpty, s"$tableRoot: merge needs at least one WHEN clause")
    // Materialize the source ONCE for the whole statement (ADVICE r14,
    // the same reason upstream MERGE implementations do): every phase
    // below — dup check, key envelope, the FIND semi-join, the staged
    // full-outer, the MoR mask collect and the append write — runs as
    // its own Spark job, and a source whose re-execution can change
    // (rand(), a sample, a join/aggregate under task retry)
    // re-evaluated per job could mask a row without appending its
    // replacement (silent row loss) or append an update whose original
    // was never masked (duplication) within the one commit. Trivial
    // scan chains skip the copy ([[CommitLog.reExecutionStable]]);
    // blocks this call allocates are released on every return path.
    // LAZY checkpoint (r20, guide §1.2 step 1): the probe aggregation
    // just below is a full scan of the source, so it materializes the
    // checkpoint as a side effect — one job instead of the eager
    // checkpoint job plus the probe job. Each partition is still
    // computed exactly once and cached on first computation, so the
    // single-evaluation guarantee is unchanged.
    val srcMaterialized = !CommitLog.reExecutionStable(source0)
    val source =
      if (srcMaterialized) source0.localCheckpoint(eager = false) else source0
    try {
    val matchedClauses = clauses.filter(c =>
      c.isInstanceOf[CommitLog.WhenMatchedUpdate]
        || c.isInstanceOf[CommitLog.WhenMatchedDelete])
    val insertClauses = clauses.collect { case c: CommitLog.WhenNotMatchedInsert => c }
    // r16: NOT MATCHED BY SOURCE clauses, in declaration order
    val bySourceClauses = clauses.filter(c =>
      c.isInstanceOf[CommitLog.WhenNotMatchedBySourceDelete]
        || c.isInstanceOf[CommitLog.WhenNotMatchedBySourceUpdate])
    matchedClauses.foreach {
      case CommitLog.WhenMatchedUpdate(set, _) =>
        require(set.nonEmpty, s"$tableRoot: merge UPDATE clause needs assignments")
        partCol.foreach(pc => require(!set.keySet.exists(_.equalsIgnoreCase(pc)),
          s"$tableRoot: cannot update partition column '$pc' in a merge — a " +
            "cross-partition move is a delete+insert"))
      case _ => ()
    }
    bySourceClauses.foreach {
      case CommitLog.WhenNotMatchedBySourceUpdate(set, _) =>
        require(set.nonEmpty, s"$tableRoot: merge UPDATE clause needs assignments")
        partCol.foreach(pc => require(!set.keySet.exists(_.equalsIgnoreCase(pc)),
          s"$tableRoot: cannot update partition column '$pc' in a merge — a " +
            "cross-partition move is a delete+insert"))
      case _ => ()
    }
    // ONE probe job for the three source facts every merge needs
    // (r19, guide §1.2 step 1 — each was its own job, and a
    // multi-commit lifecycle pays the ~100 ms job+planning overhead
    // per probe per statement): group once by the key tuple, then fold
    // the groups into (a) the ANSI-cardinality verdict — at most one
    // source row per non-null key tuple (null keys never match, so
    // null-keyed groups are exempt), (b) the per-key min/max envelope
    // for manifest-stats pruning (min/max over distinct key tuples ==
    // min/max over rows; both ignore nulls), and (c) row presence.
    val nonNullKeys = keys.map(k => col(k).isNotNull).reduce(_ && _)
    val probeAggs = keys.flatMap(k =>
        Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"))) ++ Seq(
      org.apache.spark.sql.functions.sum(col("__cnt")).as("__rows"),
      max(when(nonNullKeys, col("__cnt")).otherwise(lit(0L))).as("__dupmax"))
    val mmRow = source.groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__cnt"))
      .agg(probeAggs.head, probeAggs.tail: _*).head()
    val dup = !mmRow.isNullAt(2 * keys.size + 1) &&
      mmRow.getLong(2 * keys.size + 1) > 1
    require(!dup,
      s"$tableRoot: merge source has duplicate keys (${keys.mkString(", ")}) — " +
        "a target row may match at most one source row; dedupe the batch first")
    val keyEnvelope: Option[Column] = {
      val bounds = keys.zipWithIndex.flatMap { case (k, i) =>
        val (mn, mx) = (mmRow.get(2 * i), mmRow.get(2 * i + 1))
        if (mn == null || mx == null) None
        else Some(col(k) >= lit(mn) && col(k) <= lit(mx))
      }
      if (bounds.size == keys.size) Some(bounds.reduce(_ && _)) else None
    }
    val sourceHasRows = keyEnvelope.isDefined ||
      (!mmRow.isNullAt(2 * keys.size) && mmRow.getLong(2 * keys.size) > 0)
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      requireTagState(s, partCol, "merge")
      val sch0 = s.schema.getOrElse(source.schema)
      // inserts may evolve the schema, exactly like upsert; the evolved
      // fields need fresh physical names too — without assignPhys a
      // source column whose name matches a RETIRED physical name would
      // commit with the identity physical name and silently resurrect
      // the dropped column's bytes from pre-drop files (or collide with
      // a live renamed column's physical name and break reads)
      val sch =
        if (insertClauses.nonEmpty)
          assignPhys(mergedSchema(s.schema, source.schema),
            s.schema, s.physRetired)
        else s.schema.getOrElse(throw new IllegalStateException(
          s"$tableRoot: merge without an insert clause needs an existing table"))
      (matchedClauses ++ bySourceClauses).foreach {
        case CommitLog.WhenMatchedUpdate(set, _) =>
          val unknown = set.keySet.filterNot(k => sch.fieldNames.exists(_.equalsIgnoreCase(k)))
          require(unknown.isEmpty,
            s"$tableRoot: merge UPDATE assigns unknown column(s) ${unknown.mkString(", ")}")
        // r16: a typo'd by-source assignment must fail like a matched
        // one — silently dropping it would still FIRE the clause
        // (consuming the row and shadowing later by-source clauses)
        // while applying nothing
        case CommitLog.WhenNotMatchedBySourceUpdate(set, _) =>
          val unknown = set.keySet.filterNot(k => sch.fieldNames.exists(_.equalsIgnoreCase(k)))
          require(unknown.isEmpty,
            s"$tableRoot: merge UPDATE assigns unknown column(s) ${unknown.mkString(", ")}")
        case _ => ()
      }
      // phases 1+2: candidate pruning by key envelope, then the semi-join FIND
      // (runs for insert-only merges too: a source row matching a live
      // target row must NOT insert, and the stage join needs that
      // target row in `base` to see the match)
      val touchedMatch: Seq[String] =
        if (s.version < 0 || keyEnvelope.isEmpty) Nil
        else {
          val candidates = candidateFiles(s, keyEnvelope.get, sch0)
          if (candidates.isEmpty) Nil
          else {
            val byName = candidates.map(f => new Path(f).getName -> f).toMap
            readFiles(sch0, candidates, s.dvsOf)
              .select(keys.map(col) :+ input_file_name().as("__f"): _*)
              .join(source.select(keys.map(col): _*), keys, "left_semi")
              .select("__f").distinct().collect()
              .map(r => byName(new Path(r.getString(0)).getName)).toSeq.sorted
          }
        }
      // r16: the BY-SOURCE find leg — files holding a live row with NO
      // source match that some by-source clause condition admits. The
      // candidate prune uses the OR of the clause conditions (manifest
      // stats bound the scoped sync — `AND t.day = X` opens one
      // partition); an unconditional by-source clause is inherently
      // table-scoped (every row must be checked against the source) and
      // keeps all live files candidate. Null-keyed TARGET rows match
      // nothing, so the anti-join keeps them — SQL's by-source group.
      val touchedBySource: Seq[String] =
        if (s.version < 0 || bySourceClauses.isEmpty) Nil
        else {
          def condOf(c: CommitLog.MergeClause) = c match {
            case CommitLog.WhenNotMatchedBySourceDelete(cc) => cc
            case CommitLog.WhenNotMatchedBySourceUpdate(_, cc) => cc
            case _ => None
          }
          val conds = bySourceClauses.map(condOf)
          val anyCond: Option[Column] =
            if (conds.forall(_.isDefined)) Some(conds.flatten.reduce(_ || _))
            else None // an unconditional clause admits every row
          // candidate files = the UNION of each clause condition's own
          // candidates (a file is needed iff SOME clause could fire on
          // it) — candidateFiles only understands AND conjunctions, so
          // pruning per clause keeps a multi-clause scoped sync
          // partition-local where the OR of the conditions would prune
          // nothing. A `t.`-aliased condition cannot resolve against
          // the bare table schema — no pruning for that clause, never a
          // failure (the anti-join filter below resolves it under the
          // alias).
          val candidates: Seq[String] =
            if (anyCond.isEmpty) s.files
            else conds.flatten
              .map(c => scala.util.Try(candidateFiles(s, c, sch0))
                .getOrElse(s.files))
              .reduce((a, b) => (a ++ b).distinct)
          if (candidates.isEmpty) Nil
          else {
            val byName = candidates.map(f => new Path(f).getName -> f).toMap
            // the file name projects BELOW the join — input_file_name()
            // refuses to evaluate above a plan with two sources
            val anti = readFiles(sch0, candidates, s.dvsOf)
              .withColumn("__f", input_file_name()).as("t")
              .join(source.select(keys.map(col): _*).as("s"),
                keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
                "left_anti")
            anyCond.fold(anti)(anti.filter)
              .select("__f").distinct().collect()
              .map(r => byName(new Path(r.getString(0)).getName)).toSeq.sorted
          }
        }
      val touched: Seq[String] =
        (touchedMatch ++ touchedBySource).distinct.sorted
      if (touched.isEmpty && (insertClauses.isEmpty || !sourceHasRows))
        return s.version // nothing to rewrite, nothing to insert
      // merge-on-read attempt first (r14): mask the fired matched rows
      // behind a DV and append the updated/inserted rows in ONE
      // `add_dv` commit — zero rewrite of the touched files. Policy
      // gates (admission floor, row/ratio caps) fall back to the
      // copy-on-write rewrite below.
      val mor =
        if (touched.isEmpty) None
        else tryDvMerge(s, sch0, sch, source, keys, matchedClauses,
          insertClauses, bySourceClauses, touched, partCol, txn)
      mor match {
        case Some(Some(v)) => return v
        case Some(None) =>
          attempts += 1
          require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        case None =>
          // phase 3 (copy-on-write): full-outer join touched rows with
          // the source, resolve each row's first-true clause, project
          // the survivors
          val base = conform(readFiles(sch0, touched, s.dvsOf), sch)
          val staged = mergeStage(base, source, keys, sch,
            matchedClauses, insertClauses, bySourceClauses, Nil)
          val dropActs: Seq[Int] = (-1 +: matchedClauses.zipWithIndex.collect {
            case (_: CommitLog.WhenMatchedDelete, i) => i + 1
          }) ++ bySourceClauses.zipWithIndex.collect {
            case (_: CommitLog.WhenNotMatchedBySourceDelete, k) => 200 + k
          }
          val rewritten = mergeProject(
            staged.filter(!col("__act").isin(dropActs.map(Integer.valueOf): _*)),
            sch, matchedClauses, insertClauses, bySourceClauses)
          validateConstraints(rewritten)
          commitRewrite(s, sch, touched, rewritten, partCol, txn) match {
            case Some(v) => return v
            case None =>
              attempts += 1
              require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
          }
      }
    }
    -1L // unreachable
    } finally if (srcMaterialized) graft.util.Ckpt.release(source)
  }

  /** MERGE's clause-resolution stage, shared by the copy-on-write and
    * merge-on-read commit forms: full-outer join the touched files'
    * live rows (`base`, aliased `t`) with the `source` (aliased `s`),
    * resolve each row's first-true clause in declaration order (ANSI),
    * and stage every clause-referenced value. Output columns:
    * `__t_<col>` (target values), `__u<i>_<col>` / `__i<j>_<col>` /
    * `__b<k>_<col>` (update / insert / by-source-update clause values,
    * already cast to the table types),
    * `extraTargetCols` passed through from the target side (the MoR
    * path's `__dv_f`/`__dv_pos` row addresses), and `__act` — 0 = keep
    * the target row; 1..m = matched clause i+1 fired; 100+j = insert
    * clause j fired; 200+k = by-source clause k fired (r16);
    * -1 = unmatched source row no insert admits. */
  private def mergeStage(base: DataFrame, source: DataFrame,
      keys: Seq[String], sch: StructType,
      matchedClauses: Seq[CommitLog.MergeClause],
      insertClauses: Seq[CommitLog.WhenNotMatchedInsert],
      bySourceClauses: Seq[CommitLog.MergeClause],
      extraTargetCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    // r16: by-source conditions and assignment RHS reference the TARGET
    // row only, so they evaluate on the target side BEFORE the join —
    // in the joined frame a bare column name would be ambiguous against
    // the source's same-named columns, and a source-referencing
    // expression fails loudly here, as ANSI wants. One select over the
    // `t`-aliased base evaluates them all (bare AND `t.`-qualified
    // names both resolve). A NULL condition does not fire its clause
    // (SQL boolean semantics).
    val bsExtra: Seq[Column] = bySourceClauses.zipWithIndex.flatMap {
      case (cl, k) =>
        val (cond, set) = cl match {
          case CommitLog.WhenNotMatchedBySourceDelete(c) =>
            (c, Map.empty[String, Column])
          case CommitLog.WhenNotMatchedBySourceUpdate(st, c) => (c, st)
          case _ => (None, Map.empty[String, Column])
        }
        coalesce(cond.getOrElse(lit(true)), lit(false)).as(s"__bsc$k") +:
          set.toSeq.flatMap { case (colName, v) =>
            sch.fields.find(_.name.equalsIgnoreCase(colName)).map(f =>
              v.cast(f.dataType).as(s"__b${k}_${f.name}"))
          }
    }
    val t0 =
      if (bsExtra.isEmpty) base.withColumn("__t", lit(true))
      else base.as("t").select(col("t.*") +: bsExtra: _*)
        .withColumn("__t", lit(true))
    val t = t0.as("t")
    val sAliased = source.withColumn("__s", lit(true)).as("s")
    val joinCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(sAliased, joinCond, "full_outer")
    val matched = col("t.__t").isNotNull && col("s.__s").isNotNull
    val sOnly = col("t.__t").isNull
    val tOnly = col("t.__t").isNotNull && col("s.__s").isNull
    var chain: Column = null
    def addCase(pred: Column, v: Int): Unit =
      chain = if (chain == null) when(pred, lit(v)) else chain.when(pred, lit(v))
    matchedClauses.zipWithIndex.foreach { case (cl, i) =>
      val cond = cl match {
        case CommitLog.WhenMatchedUpdate(_, c) => c
        case CommitLog.WhenMatchedDelete(c) => c
        case _ => None
      }
      addCase(matched && cond.getOrElse(lit(true)), i + 1)
    }
    insertClauses.zipWithIndex.foreach { case (cl, j) =>
      addCase(sOnly && cl.condition.getOrElse(lit(true)), 100 + j)
    }
    // r16: by-source clauses fire on target-only rows; the three clause
    // groups' predicates are mutually exclusive, so chain order across
    // groups cannot shadow anything — only within-group order decides
    bySourceClauses.zipWithIndex.foreach { case (_, k) =>
      addCase(tOnly && col(s"t.__bsc$k"), 200 + k)
    }
    val action = chain.otherwise(when(col("t.__t").isNotNull, lit(0)).otherwise(lit(-1)))
    val srcCols = source.columns.map(lc).toSet
    // stage 1: evaluate everything that references the t/s aliases
    val stage1Cols: Seq[Column] =
      (sch.fields.toIndexedSeq.flatMap { f =>
        val tCol = col(s"t.${f.name}").as(s"__t_${f.name}")
        val updCols = matchedClauses.zipWithIndex.collect {
          case (CommitLog.WhenMatchedUpdate(set, _), i)
              if set.keys.exists(_.equalsIgnoreCase(f.name)) =>
            set.find(_._1.equalsIgnoreCase(f.name)).get._2
              .cast(f.dataType).as(s"__u${i}_${f.name}")
        }
        val bsCols = bySourceClauses.zipWithIndex.collect {
          case (CommitLog.WhenNotMatchedBySourceUpdate(set, _), k)
              if set.keys.exists(_.equalsIgnoreCase(f.name)) =>
            // pre-evaluated on the target side above — pass through
            col(s"t.__b${k}_${f.name}").as(s"__b${k}_${f.name}")
        }
        val insCols = insertClauses.zipWithIndex.map { case (cl, j) =>
          val v = cl.values.find(_._1.equalsIgnoreCase(f.name)).map(_._2)
            .getOrElse(if (srcCols(lc(f.name))) col(s"s.${f.name}") else lit(null))
          v.cast(f.dataType).as(s"__i${j}_${f.name}")
        }
        (tCol +: updCols) ++ bsCols ++ insCols
      } ++ extraTargetCols.map(c => col(s"t.$c").as(c))) :+ action.as("__act")
    joined.select(stage1Cols: _*)
  }

  /** MERGE's stage 2: pick each output column's value from the staged
    * frame by `__act` — update/insert clause values where their clause
    * fired, the target's original value otherwise. The caller filters
    * `staged` to the action set it keeps (survivors for copy-on-write,
    * fired updates + inserts for merge-on-read). */
  private def mergeProject(staged: DataFrame, sch: StructType,
      matchedClauses: Seq[CommitLog.MergeClause],
      insertClauses: Seq[CommitLog.WhenNotMatchedInsert],
      bySourceClauses: Seq[CommitLog.MergeClause] = Nil,
      extraCols: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, when}
    staged.select(extraCols ++ sch.fields.toIndexedSeq.map { f =>
      var v: Column = null
      def pick(act: Int, stagedCol: String): Unit = {
        val c = when(col("__act") === act, col(stagedCol))
        v = if (v == null) c else v.when(col("__act") === act, col(stagedCol))
      }
      matchedClauses.zipWithIndex.foreach {
        case (CommitLog.WhenMatchedUpdate(set, _), i)
            if set.keys.exists(_.equalsIgnoreCase(f.name)) =>
          pick(i + 1, s"__u${i}_${f.name}")
        case _ => ()
      }
      bySourceClauses.zipWithIndex.foreach {
        case (CommitLog.WhenNotMatchedBySourceUpdate(set, _), k)
            if set.keys.exists(_.equalsIgnoreCase(f.name)) =>
          pick(200 + k, s"__b${k}_${f.name}")
        case _ => ()
      }
      insertClauses.zipWithIndex.foreach { case (_, j) =>
        pick(100 + j, s"__i${j}_${f.name}")
      }
      (if (v == null) col(s"__t_${f.name}") else v.otherwise(col(s"__t_${f.name}"))).as(f.name)
    }: _*)
  }

  /** The merge-on-read MERGE attempt (r14, Delta's DV merge shape):
    * every touched-file row a fired WHEN MATCHED clause consumes
    * (update or delete) is masked behind a DV, and the updated
    * versions plus the WHEN NOT MATCHED inserts land as appended
    * files — ONE atomic `add_dv` commit, zero rewrite of the touched
    * files. Matched rows whose conditional clauses all decline
    * (`__act` 0) keep their original unmasked position. Policy gates
    * and outcome contract as [[tryDvDelete]] (None = not admitted →
    * caller runs the copy-on-write rewrite; Some(None) = lost the
    * version race); appended rows validate CHECK constraints — masking
    * rows cannot invalidate the survivors. */
  private def tryDvMerge(s: Snapshot, sch0: StructType, sch: StructType,
      source: DataFrame, keys: Seq[String],
      matchedClauses: Seq[CommitLog.MergeClause],
      insertClauses: Seq[CommitLog.WhenNotMatchedInsert],
      bySourceClauses: Seq[CommitLog.MergeClause],
      touched: Seq[String], partCol: Option[String],
      txn: Option[(String, Long)]): Option[Option[Long]] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    def conf(k: String, d: String): String =
      spark.conf.getOption(k).getOrElse(d)
    if ((matchedClauses.isEmpty && bySourceClauses.isEmpty)
        || !dvAdmitted(touched)) return None
    partCol.foreach(requireCurrentSpec(s, _)) // r18: appends land under the current spec
    val maxRows = dvMaxRows(conf)
    val maxRatio = conf("spark.graft.dv.maxRatio", "0.3").toDouble
    // the target side carries each live row's physical address through
    // the clause resolution (conform against the extended schema keeps
    // the pass-through columns while aligning the data columns)
    val extSch = StructType(sch.fields ++ Seq(
      StructField("__dv_f", StringType), StructField("__dv_pos", LongType)))
    val base = conform(readLiveWithPos(s, sch0, touched), extSch)
    val staged = mergeStage(base, source, keys, sch, matchedClauses,
      insertClauses, bySourceClauses, Seq("__dv_f", "__dv_pos"))
    // every fired matched OR by-source clause consumes its target row
    // (update masks + re-appends; delete just masks)
    val maskActs = matchedClauses.indices.map(i => Integer.valueOf(i + 1)) ++
      bySourceClauses.indices.map(k => Integer.valueOf(200 + k))
    // r17: the masked rows' PRE-merge values ride the stage-1 `__t_`
    // pass-throughs — the sum-delta accounting reuses the mask collect
    val acct = dvAcct(s, touched)
    val matched = staged.filter(col("__act").isin(maskActs: _*))
      .select(dvMaskSelect(acct, n => s"__t_$n"): _*)
      .limit(maxRows.toInt + 1).collect()
    // no fired matched clause: the copy-on-write path still owns the
    // (rare) insert-only outcome on touched files
    if (matched.isEmpty || matched.length > maxRows) return None
    val live = liveCountOf(s, sch0, touched)
    if (live > 0 && matched.length.toDouble / live > maxRatio) return None
    val appendActs: Seq[Integer] = (matchedClauses.zipWithIndex.collect {
        case (_: CommitLog.WhenMatchedUpdate, i) => Integer.valueOf(i + 1)
      } ++ bySourceClauses.zipWithIndex.collect {
        case (_: CommitLog.WhenNotMatchedBySourceUpdate, k) =>
          Integer.valueOf(200 + k)
      }) ++ insertClauses.indices.map(j => Integer.valueOf(100 + j))
    val appendDf =
      if (appendActs.isEmpty) None
      else Some(mergeProject(
        staged.filter(col("__act").isin(appendActs: _*)),
        sch, matchedClauses, insertClauses, bySourceClauses,
        // r18 CDC lineage: an UPDATE-act row's replacement carries its
        // pre-image's stable id (insert-act rows have no target — null)
        extraCols = if (!lineageNameFree(sch)) Nil
        else Seq(org.apache.spark.sql.functions.when(
          col("__dv_f").isNotNull,
          rowIdCol(col("__dv_f"), col("__dv_pos")))
          .as(CommitLog.RowLineageCol))))
    appendDf.foreach(validateConstraints)
    val (newFiles, newTags) = appendDf match {
      case None => (Seq.empty[String], Map.empty[String, String])
      case Some(df) => partCol match {
        case Some(pc) =>
          val tagged = writeDataPartitioned(df, pc, sch)
          (tagged.map(_._1), tagged.toMap)
        case None => (writeData(df, sch), Map.empty[String, String])
      }
    }
    val positions = matched.map(r => (r.getString(0), r.getLong(1))).toSeq
    val dvRel = try writeDv(positions)
      catch { case e: Throwable => newFiles.foreach(deleteData); throw e }
    def cleanup(): Unit = { newFiles.foreach(deleteData); deleteData(dvRel) }
    val won = try tryCommit(Manifest(s.version + 1, "add_dv", newFiles,
        entriesFor(newFiles, s, Some(sch), newTags)
          ++ dvEntries(s, touched, dvRel, positions, acct, matched),
        Some(sch), txn))
      catch { case e: Throwable => cleanup(); throw e }
    if (won) Some(Some(s.version + 1))
    else { cleanup(); Some(None) }
  }

  /** DELETE-matching-keys + APPEND as ONE versioned commit (r12,
    * VERDICT r11 #3): every live row whose `keys` tuple appears in
    * `matchKeys` is removed AND `rows` lands, atomically — a reader
    * (or time traveler) sees either the pre-swap or the post-swap
    * table, never the between state the two-commit delete-merge +
    * append pair exposed for one trigger. This is the incremental
    * maintainers' per-trigger "swap the touched keys' rows" shape
    * ([[graft.streaming.ResampleSync]], [[graft.streaming.AnnIndexSync]]).
    *
    * Same three-phase copy-on-write as [[merge]]: the match-key
    * envelope prunes candidate files against manifest stats, a
    * semi-join FIND keeps only files actually holding a matching row,
    * and the rewrite anti-joins the match keys out of exactly those
    * files — with the appended rows riding the SAME write job, so the
    * swap costs one commit and one write job less than the pair it
    * replaces. Null match-key tuples never match (ANSI join
    * semantics); duplicate match keys are fine (deletes, unlike ANSI
    * merge updates, have no per-target-row cardinality to violate).
    * `rows` may evolve the schema additively, exactly like [[append]].
    * Cost ∝ touched files + appended rows, never table size. */
  def deleteAndAppend(matchKeys0: DataFrame, keys: Seq[String],
      rows0: DataFrame, partCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min}
    require(keys.nonEmpty, s"$tableRoot: deleteAndAppend needs at least one key")
    // Materialize both inputs ONCE for the whole statement (same
    // reasoning as [[merge]], ADVICE r14): the envelope aggregate, the
    // FIND semi-join, the rewrite anti-join and the append write each
    // run as separate jobs — a re-execution-unstable input evaluated
    // per job could leave a matching row undeleted or append rows in
    // an undeclared partition. Trivial scan chains skip the copy;
    // allocated blocks are released on every return path.
    // LAZY checkpoints (r20, guide §1.2 step 1): the envelope
    // aggregation below fully scans matchKeys and the has-rows probe
    // fully counts rows, so each materializes its checkpoint as a side
    // effect — two jobs instead of four. Single evaluation per
    // partition is preserved (cached on first computation).
    val mkMaterialized = !CommitLog.reExecutionStable(matchKeys0)
    val rowsMaterialized = !CommitLog.reExecutionStable(rows0)
    val matchKeys =
      if (mkMaterialized) matchKeys0.localCheckpoint(eager = false) else matchKeys0
    val rows = if (rowsMaterialized) rows0.localCheckpoint(eager = false) else rows0
    try {
    val mk = matchKeys.select(keys.map(col): _*).distinct()
    val mmAggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k")))
    val mmRow = mk.agg(mmAggs.head, mmAggs.tail: _*).head()
    val keyEnvelope: Option[org.apache.spark.sql.Column] = {
      val bounds = keys.zipWithIndex.flatMap { case (k, i) =>
        val (mn, mx) = (mmRow.get(2 * i), mmRow.get(2 * i + 1))
        if (mn == null || mx == null) None
        else Some(col(k) >= lit(mn) && col(k) <= lit(mx))
      }
      if (bounds.size == keys.size) Some(bounds.reduce(_ && _)) else None
    }
    // full count, not limit(1): on a lazily-checkpointed input the
    // count doubles as the materializer (a limit would leave missing
    // partitions for a separate fill-in job); on a stable input the
    // cheap partial probe is kept
    val rowsHasData =
      if (rowsMaterialized) rows.count() > 0 else rows.limit(1).count() > 0
    // nothing to delete (empty table, no non-null key tuples, or no
    // file holds a match): a plain append — still one commit — or a
    // no-op when there is nothing to add either
    def appendOnly(s: Snapshot): Long =
      if (!rowsHasData) s.version
      else partCol.fold(append(rows, txn))(pc => appendPartitioned(rows, pc, txn))
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      if (s.version < 0 || keyEnvelope.isEmpty) return appendOnly(s)
      requireTagState(s, partCol, "deleteAndAppend")
      val sch0 = s.schema.getOrElse(rows.schema)
      val sch = assignPhys(mergedSchema(s.schema, rows.schema),
        s.schema, s.physRetired)
      val candidates = candidateFiles(s, keyEnvelope.get, sch0)
      val touched: Seq[String] =
        if (candidates.isEmpty) Nil
        else {
          val byName = candidates.map(f => new Path(f).getName -> f).toMap
          readFiles(sch0, candidates, s.dvsOf)
            .select(keys.map(col) :+ input_file_name().as("__f"): _*)
            .join(mk, keys, "left_semi")
            .select("__f").distinct().collect()
            .map(r => byName(new Path(r.getString(0)).getName)).toSeq.sorted
        }
      if (touched.isEmpty) return appendOnly(s)
      tryDvDeleteAppend(s, sch0, sch, mk, keys, rows, rowsHasData, touched,
          partCol, txn) match {
        case Some(Some(v)) => return v // masked + appended, one commit
        case Some(None) =>
          attempts += 1
          require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
        case None =>
          val survivors = conform(readFiles(sch0, touched, s.dvsOf), sch)
            .join(mk, keys, "left_anti")
          val rewritten =
            if (rowsHasData) survivors.union(conform(rows, sch)) else survivors
          validateConstraints(rewritten)
          commitRewrite(s, sch, touched, rewritten, partCol, txn) match {
            case Some(v) => return v
            case None =>
              attempts += 1
              require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
          }
      }
    }
    -1L // unreachable
    } finally {
      if (mkMaterialized) graft.util.Ckpt.release(matchKeys)
      if (rowsMaterialized) graft.util.Ckpt.release(rows)
    }
  }

  /** The merge-on-read form of [[deleteAndAppend]]: mask the
    * key-matching rows behind a DV and adopt the appended rows' files
    * in the SAME `add_dv` commit — the incremental maintainers' swap
    * (ANN index sync, resample grid) without rewriting the touched
    * partitions' files. Policy gates and outcome contract as
    * [[tryDvDelete]]. Row-level CHECK constraints validate the
    * appended rows (masking rows cannot invalidate the survivors);
    * schema evolution carries `sch` in the commit exactly like the
    * copy-on-write form. */
  private def tryDvDeleteAppend(s: Snapshot, sch0: StructType,
      sch: StructType, mk: DataFrame, keys: Seq[String], rows: DataFrame,
      rowsHasData: Boolean, touched: Seq[String], partCol: Option[String],
      txn: Option[(String, Long)]): Option[Option[Long]] = {
    import org.apache.spark.sql.functions.col
    def conf(k: String, d: String): String =
      spark.conf.getOption(k).getOrElse(d)
    if (!dvAdmitted(touched)) return None
    partCol.foreach(requireCurrentSpec(s, _)) // r18: appends land under the current spec
    val maxRows = dvMaxRows(conf)
    val maxRatio = conf("spark.graft.dv.maxRatio", "0.3").toDouble
    val acct = dvAcct(s, touched)
    val matched = readLiveWithPos(s, sch0, touched)
      .join(mk, keys, "left_semi")
      .select(dvMaskSelect(acct, identity): _*)
      .limit(maxRows.toInt + 1).collect()
    if (matched.length > maxRows || matched.isEmpty) return None
    val live = liveCountOf(s, sch0, touched)
    if (live > 0 && matched.length.toDouble / live > maxRatio) return None
    val (newFiles, newTags) =
      if (!rowsHasData) (Seq.empty[String], Map.empty[String, String])
      else partCol match {
        case Some(pc) =>
          val tagged = writeDataPartitioned(conform(rows, sch), pc, sch)
          (tagged.map(_._1), tagged.toMap)
        case None => (writeData(conform(rows, sch), sch),
          Map.empty[String, String])
      }
    val positions = matched.map(r => (r.getString(0), r.getLong(1))).toSeq
    val dvRel = try writeDv(positions)
      catch { case e: Throwable => newFiles.foreach(deleteData); throw e }
    def cleanup(): Unit = { newFiles.foreach(deleteData); deleteData(dvRel) }
    val won = try tryCommit(Manifest(s.version + 1, "add_dv", newFiles,
        entriesFor(newFiles, s, Some(sch), newTags)
          ++ dvEntries(s, touched, dvRel, positions, acct, matched),
        Some(sch), txn))
      catch { case e: Throwable => cleanup(); throw e }
    if (won) Some(Some(s.version + 1))
    else { cleanup(); Some(None) }
  }

  /** RESTORE: make the table's CURRENT state its state at `version` —
    * committed as a NEW `replace` restating the old version's files,
    * schema, partition tags, stats, and blooms verbatim. NO data moves:
    * the old files are still on disk because [[vacuum]] keeps every
    * file a retained manifest references. History is preserved — the
    * restore is itself a commit, so time travel still reaches the
    * rolled-back versions and a CDC consumer sees it as an ordinary
    * rewrite (Delta's `RESTORE TABLE … TO VERSION AS OF`). Fails
    * loudly when the target version was [[prune]]d past or any of its
    * data files is missing (a [[compact]]+[[prune]]+[[vacuum]] cycle
    * retires history deliberately; restoring past it would silently
    * resurrect a wrong state). Restoring the current version is a
    * no-op returning it. The writer-txn table is NOT rolled back:
    * idempotent-writer epochs are monotone by contract and must
    * survive a restore, or a replayed micro-batch would double-apply. */
  def restore(version: Long, txn: Option[(String, Long)] = None): Long = {
    var attempts = 0
    while (true) {
      val s = snapshot()
      if (replayOf(s, txn)) return s.version
      if (s.version == version) return s.version // already there
      require(version >= 0 && version < s.version,
        s"$tableRoot: cannot restore to version $version (current is ${s.version})")
      val old = snapshotAt(version)
      require(old.version == version,
        s"$tableRoot: version $version is not retained (fold reaches " +
          s"${old.version}) — pruned history cannot be restored")
      val sch = old.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: version $version carries no schema"))
      val missing = old.files.filterNot(f => fs.exists(new Path(rootPath, f)))
      require(missing.isEmpty,
        s"$tableRoot: ${missing.size} data file(s) of version $version are " +
          s"gone (vacuumed?) — cannot restore, e.g. ${missing.take(3).mkString(", ")}")
      // restored files keep the spec ids they were written under
      // (explicit for EVERY tagged file — a pre-evolve version's files
      // are spec 0 and must not default to current; the registry itself
      // is append-only and carries forward — a spec evolution is not
      // undone by a data restore)
      val restated = old.entries.values.toSeq
      if (tryCommit(Manifest(s.version + 1, "replace", old.files, restated,
          Some(sch), txn, specIds = specIdsOf(s, restated))))
        return s.version + 1
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** SHALLOW CLONE — fork this table (at `version`, default latest)
    * into a brand-new commit log at `targetRoot` WITHOUT copying a
    * byte of data (Delta's CLONE): the clone's version-0 manifest
    * references the source's data files by ABSOLUTE path and carries
    * the source's schema (column mapping included), partition tags,
    * per-file stats, blooms, and retired-physical list — so stat/bloom
    * file skipping, partitioned maintenance, and mapped reads work on
    * the clone from the first query. O(files) manifest bytes at any
    * table size: the zero-copy way to fork a 100 TB table for an
    * experiment, a backfill rehearsal, or a stable training-data
    * snapshot.
    *
    * The clone is immediately writable and fully independent:
    * appends/merges/deletes land files under ITS root and never touch
    * the source (copy-on-write rewrites retire the absolute references
    * and write local replacements). [[vacuum]] on the CLONE is safe by
    * construction — it only sweeps the clone's own `data/` directory,
    * never the referenced source files. The one lifecycle hazard is
    * the flip side (Delta documents the same): [[vacuum]] on the
    * SOURCE reclaims files the source log no longer references, and
    * the clone's references do not pin them — a clone that must
    * outlive the source's retention (including a scheduled
    * [[maintain]] on the source, whose vacuum step has the same
    * reach) runs [[optimize]] (any rewrite) to localize the data it
    * still references.
    *
    * The target must not already have a commit log. The clone's log
    * starts at version 0 (its own history; the source's versions are
    * not carried — time travel BEFORE the fork point stays with the
    * source). Returns the clone's version, always 0. */
  def cloneTo(targetRoot: String, version: Option[Long] = None): Long = {
    val s = version.fold(snapshot())(snapshotAt)
    version.foreach(v => require(s.version == v,
      s"$tableRoot: version $v not in the log (fold reaches ${s.version})"))
    require(s.version >= 0, s"$tableRoot: clone of a table with no commits")
    val sch = s.schema.getOrElse(throw new IllegalStateException(
      s"$tableRoot: version ${s.version} carries no schema"))
    val target = CommitLog(spark, targetRoot)
    require(target.snapshot().version < 0,
      s"$targetRoot: clone target already has a commit log")
    // entries already absolute (a clone of a clone) pass through; the
    // rest resolve against THIS root, fs-qualified so a relative
    // tableRoot still yields an absolute reference
    def abs(f: String): String =
      if (CommitLog.isExternalEntry(f)) f
      else fs.makeQualified(new Path(rootPath, f)).toUri.getPath
    // every entry re-keyed to its absolute path; deletion vectors
    // travel too — their sidecar paths go absolute, or the clone would
    // resurrect rows
    val cloned = s.entries.values.toSeq.map(e => e.copy(path = abs(e.path),
      dvs = e.dvs.map(r => r.copy(path = abs(r.path)))))
    // an evolved table's clone carries the registry and each file's
    // spec id verbatim — tags stay interpretable
    require(target.tryCommit(Manifest(0L, "add", cloned.map(_.path), cloned,
        Some(sch), physRetired = Some(s.physRetired),
        specs = Some(s.specs).filter(_.nonEmpty), specIds = specIdsOf(s, cloned))),
      s"$targetRoot: lost the clone commit race — target is being written")
    0L
  }

  /** Total bytes of the LIVE data files (the DESCRIBE DETAIL size):
    * one driver-side `getFileStatus` per live file — manifest-count
    * work, no data read. Absolute (shallow-clone) references resolve
    * to the source's files; a vacuumed-away reference counts 0 rather
    * than failing (detail is an observability call, not a read). */
  def liveFileBytes(): Long =
    snapshot().files.map { f =>
      try fs.getFileStatus(new Path(entryPath(f))).getLen
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum

  /** Shared tag-state validation for the copy-on-write rewrites
    * ([[delete]]/[[update]]): a partition-tagged table must pass
    * `partCol` so rewritten files keep tags; an untagged one must not. */
  private def requireTagState(s: Snapshot, partCol: Option[String],
      op: String): Unit = {
    if (s.tagged) {
      require(partCol.isDefined,
        s"$tableRoot: table is partition-tagged — $op needs partCol so " +
          "rewritten files keep their tags")
      val untagged = s.files.filter(s.entry(_).partTag.isEmpty)
      require(untagged.isEmpty,
        s"$tableRoot: ${untagged.size} live files carry no partition tag — " +
          "rewrite the table through the partitioned path first")
      partCol.foreach(requireCurrentSpec(s, _))
    } else require(partCol.isEmpty || s.files.isEmpty,
      s"$tableRoot: partCol given but the table is not partition-tagged")
  }

  /** Phases 1+2 of the copy-on-write rewrites: manifest-stats pruning
    * ([[candidateFiles]]) then a FIND scan emitting only the live files
    * that actually hold a row matching `condition`. */
  private def touchedFiles(s: Snapshot, sch: StructType,
      condition: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.input_file_name
    val candidates = candidateFiles(s, condition, sch)
    if (candidates.isEmpty) Nil
    else {
      // rel path by basename: data-file names are globally unique
      val byName = candidates.map(f => new Path(f).getName -> f).toMap
      readFiles(sch, candidates, s.dvsOf)
        .filter(condition)
        .select(input_file_name().as("__f")).distinct()
        .collect()
        .map(r => byName(new Path(r.getString(0)).getName)).toSeq.sorted
    }
  }

  /** Phase 3: write `rewritten` as the replacement for `touched`, ride
    * every other live file through with its tags/stats/blooms, and
    * commit as a `replace`. None = lost the version race (new files
    * already cleaned up — the caller recomputes against the winner). */
  private def commitRewrite(s: Snapshot, sch: StructType,
      touched: Seq[String], rewritten: DataFrame, partCol: Option[String],
      txn: Option[(String, Long)]): Option[Long] = {
    val (newFiles, newTags) = partCol match {
      case Some(pc) =>
        val tagged = writeDataPartitioned(rewritten, pc, sch)
        (tagged.map(_._1), tagged.toMap)
      case None => (writeData(rewritten, sch), Map.empty[String, String])
    }
    // untouched files ride through whole, deletion vectors included;
    // the rewrite read the touched files MASKED, so theirs retire
    val touchedSet = touched.toSet
    val untouched = s.entries.values.filterNot(e => touchedSet(e.path)).toSeq
    val won = try tryCommit(Manifest(s.version + 1, "replace",
        untouched.map(_.path) ++ newFiles,
        untouched ++ entriesFor(newFiles, s, Some(sch), newTags), Some(sch), txn))
      catch { case e: Throwable => newFiles.foreach(deleteData); throw e }
    if (won) Some(s.version + 1)
    else { newFiles.foreach(deleteData); None }
  }

  /** Phase-1 pruning for [[delete]]/[[update]]: the live files whose manifest
    * stats admit a row satisfying `condition`. The condition is first
    * RESOLVED by analyzing it against an empty relation with the
    * table's schema (no job — analysis only; a DSL-built Column is an
    * unresolved sql-api node tree until then, and analysis also type-
    * checks names loudly and inserts the casts that make literal sides
    * foldable). Bounds come only from top-level AND-ed comparisons
    * between a bare column and a foldable value; every other shape
    * keeps all files for that conjunct. Strict comparisons widen to
    * closed bounds (conservative — a kept file is only wasted work,
    * a skipped file would be lost rows). */
  private def candidateFiles(s: Snapshot,
      condition: org.apache.spark.sql.Column, sch: StructType): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // the probe frame carries the target's "t" alias (r16): by-source
    // merge conditions — and any user condition spelled `t.col` —
    // resolve here too, so their manifest pruning works instead of
    // silently keeping every file; bare names resolve exactly as before
    val analyzed = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      .as("t").filter(condition).queryExecution.analyzed
    val resolvedCond = analyzed.collect { case f: LFilter => f.condition } match {
      case Seq(c) => c
      case _ => return s.files // unexpected plan shape → no pruning
    }
    candidateFilesForExprs(s, Seq(resolvedCond))
  }

  /** The resolved-expression core of [[candidateFiles]], shared with
    * the DSv2 read path ([[GraftLogScanBuilder]]) where Catalyst hands
    * over already-resolved pushdown predicates: manifest min/max stats
    * rule out files that cannot hold a TRUE row, and per-file Bloom
    * filters ([[withBloomIndex]]) additionally prune top-level
    * equality conjuncts the way [[readPoint]] does. Conservative in
    * every case an expression shape is not understood. */
  private[sources] def candidateFilesForExprs(s: Snapshot,
      conjunctsIn: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    // internal eval values → the stats domain (Long / Double / String);
    // DATE folds to epoch-day Long and TIMESTAMP to epoch-micros Long,
    // both exactly the form [[statsForOne]] records for INT32/INT64
    def litVal(e: Expression): Option[Any] =
      if (!e.foldable || e.exists(_.isInstanceOf[Attribute])) None
      else e.eval(null) match {
        case i: java.lang.Integer => Some(i.longValue)
        case v: java.lang.Long    => Some(v)
        case v: java.lang.Short   => Some(v.longValue)
        case v: java.lang.Byte    => Some(v.longValue)
        case v: java.lang.Float   => Some(v.doubleValue)
        case v: java.lang.Double  => Some(v)
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case d: org.apache.spark.sql.types.Decimal =>
          // r16: decimal bounds carry (unscaled, scale) and compare
          // VALUE-exactly against harvested decimal stats at any scale
          // pair; an unscaled value beyond Long has no harvested
          // counterpart anyway (precision > 18 refuses at harvest)
          CommitLog.decVOf(d)
        case _ => None // binary/null — no bound, conservative
      }
    def attr(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    // r16: bound extraction additionally sees THROUGH a value-
    // preserving decimal widening cast over a bare column — the shape
    // DecimalPrecision wraps the attribute in for a mixed-scale
    // comparison (`price > 1.5` casts DECIMAL(10,3) price up to the
    // comparison type). Such a cast is exact and monotone (scale and
    // integer-digit capacity both grow), so `CAST(col) ⊛ lit` binds
    // exactly the rows `col`'s VALUE-compare against the same literal
    // does — and DecV bounds compare by value. NOT used for bloom
    // probes: the bloom hashes the column's own cast-to-string, whose
    // scale differs from the promoted literal's.
    def battr(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case c: Cast => (c.child, c.child.dataType, c.dataType) match {
        case (a: Attribute, fd: org.apache.spark.sql.types.DecimalType,
              td: org.apache.spark.sql.types.DecimalType)
            if td.scale >= fd.scale
              && td.precision - td.scale >= fd.precision - fd.scale =>
          Some(a.name)
        case _ => None
      }
      case _ => None
    }
    object Cmp {
      def unapply(e: Expression): Option[(String, Expression, Expression)] =
        e match {
          case GreaterThan(a, b)        => Some((">", a, b))
          case GreaterThanOrEqual(a, b) => Some((">=", a, b))
          case LessThan(a, b)           => Some(("<", a, b))
          case LessThanOrEqual(a, b)    => Some(("<=", a, b))
          case EqualTo(a, b)            => Some(("=", a, b))
          // r16: null-safe equality against a NON-NULL literal is plain
          // equality (litVal yields no bound for a null literal, so
          // `col <=> NULL` — which selects null rows stats cannot
          // judge — never prunes)
          case EqualNullSafe(a, b)      => Some(("=", a, b))
          case _ => None
        }
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val cs = conjunctsIn.flatMap(conjuncts)
    // strict bounds tighten by one in INTEGRAL stat domains (Long —
    // integrals, dates as epoch-days, timestamps as micros): x < m ⟺
    // x ≤ m−1, exact, so a boundary file (min == m, e.g. the
    // next-day file of a cast-unwrapped day range) prunes instead of
    // surviving an inclusive check. Non-integral domains stay
    // inclusive (conservative).
    def decr(x: Any): Any = x match {
      case l: Long if l != Long.MinValue => l - 1
      case other => other
    }
    def incr(x: Any): Any = x match {
      case l: Long if l != Long.MaxValue => l + 1
      case other => other
    }
    // (col, requiredLo, requiredHi): a TRUE row needs col in [lo, hi]
    val bounds0: Seq[(String, Option[Any], Option[Any])] =
      cs.flatMap {
        case Cmp(op, a, v) if battr(a).isDefined =>
          battr(a).flatMap(n => litVal(v).map { x =>
            op match {
              case ">"  => (n, Some(incr(x)): Option[Any], None: Option[Any])
              case ">=" => (n, Some(x): Option[Any], None: Option[Any])
              case "<"  => (n, None: Option[Any], Some(decr(x)): Option[Any])
              case "<=" => (n, None: Option[Any], Some(x): Option[Any])
              case _    => (n, Some(x): Option[Any], Some(x): Option[Any])
            }
          })
        case Cmp(op, v, a) if battr(a).isDefined => // literal-first: flip
          battr(a).flatMap(n => litVal(v).map { x =>
            op match {
              case ">"  => (n, None: Option[Any], Some(decr(x)): Option[Any])
              case ">=" => (n, None: Option[Any], Some(x): Option[Any])
              case "<"  => (n, Some(incr(x)): Option[Any], None: Option[Any])
              case "<=" => (n, Some(x): Option[Any], None: Option[Any])
              case _    => (n, Some(x): Option[Any], Some(x): Option[Any])
            }
          })
        case _ => None
      }
    // TIMESTAMP bounds wrap in [[CommitLog.TsUs]] so they only ever
    // compare against unit-normalized stats — a pre-r15 raw-unit stat
    // keeps the file instead of pruning on a wrong-unit comparison
    def tsTyped(c: String): Boolean = s.schema.exists(_.fields.exists(f =>
      lc(f.name) == lc(c) && (f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType]
        || f.dataType == org.apache.spark.sql.types.TimestampNTZType)))
    def wrapTs(v: Any): Any = v match {
      case l: java.lang.Long => CommitLog.TsUs(l)
      case x => x
    }
    val bounds1 = bounds0.map { case (c, lo, hi) =>
      if (tsTyped(c)) (c, lo.map(wrapTs), hi.map(wrapTs)) else (c, lo, hi)
    }
    // r15: `CAST(tsCol AS DATE) <op> dateLiteral` folds to a ts-micros
    // bound — the time-scoped read (`WHERE day = X`) prunes files
    // without the caller spelling a ts range. SQL predicates arrive
    // here already cast-unwrapped (Catalyst rewrites them to raw ts
    // ranges before pushdown), so this branch serves the LIBRARY DML
    // paths — delete/update/merge conditions pass through verbatim
    // (`touchedFiles`). UTC-cast only, judged by the Cast's OWN
    // baked-in timeZoneId, not the live session conf — an analyzed
    // predicate keeps the TZ it resolved under, and a session-conf
    // change between analysis and pruning must not shift the day
    // window (review r15): day d covers [d·86400e6, (d+1)·86400e6).
    // An unresolved cast (no TZ baked yet — the library builds its
    // conditions in-session) falls back to the session conf it will
    // resolve under. Bounds wrap in TsUs like every ts bound;
    // overflow on an extreme date skips the bound (no pruning,
    // conservative).
    lazy val utcSess =
      CommitLog.zoneIsUtc(spark.sessionState.conf.sessionLocalTimeZone)
    def dateCastCol(e: Expression): Option[String] = e match {
      case c: Cast if c.dataType == org.apache.spark.sql.types.DateType =>
        // r16 (ADVICE r15): the TZ judgment normalizes equivalent UTC
        // spellings (Etc/UTC, Z, +00:00), and an NTZ source column is
        // TZ-free — its date cast is admissible under ANY session zone
        val ntzChild = c.child.dataType ==
          org.apache.spark.sql.types.TimestampNTZType
        val tzOk = ntzChild ||
          c.timeZoneId.map(CommitLog.zoneIsUtc).getOrElse(utcSess)
        c.child match {
          case a: Attribute if tzOk && tsTyped(a.name) => Some(a.name)
          case _ => None
        }
      case _ => None
    }
    def dayLit(e: Expression): Option[Long] =
      if (!e.foldable || e.exists(_.isInstanceOf[Attribute])) None
      else e.eval(null) match {
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None
      }
    def dayMicros(d: Long): Option[Long] =
      scala.util.Try(Math.multiplyExact(d, PartSpec.MicrosPerDay)).toOption
    def dayRange(op: String, d: Long): Option[(Option[Long], Option[Long])] =
      op match {
        // date(ts) = d  ⟺  ts ∈ [d·day, (d+1)·day)
        case "=" => for (lo <- dayMicros(d); hi <- dayMicros(d + 1))
          yield (Some(lo), Some(hi - 1))
        case ">=" => dayMicros(d).map(lo => (Some(lo), None))
        case ">"  => dayMicros(d + 1).map(lo => (Some(lo), None))
        case "<=" => dayMicros(d + 1).map(hi => (None, Some(hi - 1)))
        case "<"  => dayMicros(d).map(hi => (None, Some(hi - 1)))
        case _ => None
      }
    val castBounds: Seq[(String, Option[Any], Option[Any])] = cs.flatMap {
      case Cmp(op, a, v) if dateCastCol(a).isDefined =>
        for {
          n <- dateCastCol(a); d <- dayLit(v); r <- dayRange(op, d)
        } yield (n, r._1.map(x => CommitLog.TsUs(x): Any),
          r._2.map(x => CommitLog.TsUs(x): Any))
      case Cmp(op, v, a) if dateCastCol(a).isDefined =>
        for {
          n <- dateCastCol(a); d <- dayLit(v)
          r <- dayRange(PartSpec.flipOp(op), d)
        } yield (n, r._1.map(x => CommitLog.TsUs(x): Any),
          r._2.map(x => CommitLog.TsUs(x): Any))
      case _ => None
    }
    // r16: `col LIKE 'p%'` (StartsWith) is a string RANGE — every
    // match lies in [p, upper(p)) where upper(p) increments p's last
    // safely-incrementable char (UTF-8 is code-point-order-preserving,
    // so the char-level successor bounds the byte-level order exactly;
    // surrogate-adjacent chars are skipped rather than risk an invalid
    // string). No upper bound when nothing is incrementable — the
    // lower bound alone still prunes. The hi bound is used INCLUSIVELY
    // by [[overlaps]] — a boundary file is kept, conservative.
    def upperForPrefix(p: String): Option[String] = {
      var i = p.length - 1
      while (i >= 0) {
        val c = p.charAt(i)
        if (c < 0xD7FF || (c >= 0xE000 && c < 0xFFFD))
          return Some(p.substring(0, i) + (c + 1).toChar)
        i -= 1
      }
      None
    }
    val prefixBounds: Seq[(String, Option[Any], Option[Any])] = cs.flatMap {
      case StartsWith(a: Attribute, v) if v.foldable
          && !v.exists(_.isInstanceOf[Attribute]) =>
        Option(v.eval(null)).collect {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        }.filter(_.nonEmpty).map(pre =>
          (a.name, Some(pre): Option[Any],
            upperForPrefix(pre).map(x => x: Any)))
      case _ => None
    }
    val bounds = bounds1 ++ castBounds ++ prefixBounds
    // r15: IN-list conjuncts — a file survives when ANY listed value
    // could hold a row (stats overlap). Partitioned files pin their
    // key to min==max, so for `key IN (...)` this is exact file-level
    // partition pruning. Null list values match no row (IN's UNKNOWN)
    // and drop from the keep-decision; any UNCONVERTIBLE value makes
    // the whole conjunct unusable (it could match anything).
    def inValues(e: Expression): Option[(String, Seq[Any])] = e match {
      case In(a: Attribute, list) if list.nonEmpty
          && list.forall(v => v.foldable && !v.exists(_.isInstanceOf[Attribute])) =>
        val nonNull = list.flatMap(v => Option(v.eval(null)))
        val vs = nonNull.flatMap(v => litVal(Literal(v, a.dataType)))
        if (vs.length == nonNull.length) Some(a.name -> vs) else None
      case InSet(a: Attribute, hset) if hset.nonEmpty =>
        val nonNull = hset.toSeq.filter(_ != null)
        val vs = nonNull.flatMap(v => litVal(Literal(v, a.dataType)))
        if (vs.length == nonNull.length) Some(a.name -> vs) else None
      case _ => None
    }
    val inLists: Seq[(String, Seq[Any])] = cs.flatMap(inValues).map {
      case (c, vs) => if (tsTyped(c)) (c, vs.map(wrapTs)) else (c, vs)
    }
    // r16: exact per-file NULL-count evidence — `col IS NOT NULL`
    // skips a provably ALL-null file, `col IS NULL` skips a provably
    // no-null file. Counts are pre-mask, but a DV only removes rows:
    // "every row is null" and "no row is null" both survive masking.
    // (true = the conjunct needs a null row; false = a non-null row)
    val nullChecks: Seq[(String, Boolean)] = cs.flatMap {
      case IsNotNull(a: Attribute) => Some(a.name -> false)
      case IsNull(a: Attribute) => Some(a.name -> true)
      case _ => None
    }
    // top-level equality conjuncts additionally probe the per-file
    // Bloom filters (when indexed) — the value stringifies THROUGH the
    // already-inserted cast, matching [[bloomsForCfg]]'s hashing exactly;
    // an unevaluable probe just skips bloom pruning for that conjunct.
    // r16: a [[CommitLog.strShifted]] column (float→double widening)
    // never probes — pre-widening bits hash the OLD string form and a
    // probe through the new type would falsely exclude files.
    // (attribute, literal) of any top-level equality — EqualTo OR
    // EqualNullSafe (r16: <=> with a non-null literal probes like `=`;
    // blooms never index nulls, and the Option below drops a null
    // literal) — in either operand order
    object EqPair {
      def unapply(e: Expression): Option[(Expression, Expression)] = {
        def lit(x: Expression) =
          x.foldable && !x.exists(_.isInstanceOf[Attribute])
        e match {
          case EqualTo(a, v) if attr(a).isDefined && lit(v) => Some((a, v))
          case EqualTo(v, a) if attr(a).isDefined && lit(v) => Some((a, v))
          case EqualNullSafe(a, v) if attr(a).isDefined && lit(v) => Some((a, v))
          case EqualNullSafe(v, a) if attr(a).isDefined && lit(v) => Some((a, v))
          case _ => None
        }
      }
    }
    val probes: Seq[(String, String)] = cs.flatMap {
      case EqPair(a, v) =>
        attr(a).flatMap(n => scala.util.Try(
          Option(Cast(v, org.apache.spark.sql.types.StringType).eval(null))
            .map(x => n -> x.toString)).toOption.flatten)
      case _ => None
    }
    // r17: a probe trusts a filter iff the eras match — see [[colStrEra]]
    val eraByCol: Map[String, Long] =
      probes.map(_._1).distinct.map(c => c -> colStrEra(s, c)).toMap
    // predicates carry LOGICAL attribute names; stats and blooms are
    // keyed by the stable PHYSICAL names — translate at lookup
    s.files.filter { f =>
      bounds.forall { case (c, lo, hi) =>
        s.entry(f).colStats.get(physOf(s.schema, c)) match {
          // absent endpoints fall back to the file's own stat, which
          // makes that side of the overlap check trivially true
          case Some((mn, mx)) => overlaps(mn, mx, lo.getOrElse(mn), hi.getOrElse(mx))
          case None => true // no stats → cannot rule the file out
        }
      } && inLists.forall { case (c, vs) =>
        s.entry(f).colStats.get(physOf(s.schema, c)) match {
          case Some((mn, mx)) => vs.exists(v => overlaps(mn, mx, v, v))
          case None => true // no stats → cannot rule the file out
        }
      } && probes.forall { case (c, v) =>
        s.entry(f).blooms.get(physOf(s.schema, c)) match {
          case Some(b) if b.era == eraByCol(c) => bloomMayContain(b, v)
          case _ => true // no filter (or a pre-widen era's) → keep
        }
      } && nullChecks.forall { case (c, needNull) =>
        (s.entry(f).nulls.get(physOf(s.schema, c)),
            s.entry(f).rows) match {
          case (Some(n), Some(r)) => if (needNull) n > 0 else n < r
          case _ => true // unknown counts → cannot rule the file out
        }
      }
    }
  }

  /** RUNTIME file skipping for an IN-set on one column — the manifest
    * side of the V2 scan's [[org.apache.spark.sql.connector.read
    * .SupportsRuntimeV2Filtering]] surface (dynamic partition/file
    * pruning: the values arrive at EXECUTION time from the other side
    * of a join, not from the query text). A file in `files` survives
    * when ANY value could hold a matching row, judged by every
    * manifest layer that applies: the partition TAG (exact — the tag
    * is the value's own cast-to-string, so equal values give equal
    * strings), the per-file min/max stats (point-in-range), and the
    * per-file bloom filters (probed through the same cast chain the
    * index was built with). Layers the snapshot lacks pass
    * conservatively; a null IN value matches nothing (a join key
    * never equals null). Predicates carry LOGICAL names; stats,
    * blooms, and tags are physical/derived — translated at lookup,
    * same as [[candidateFilesForExprs]]. */
  private[sources] def candidateFilesForInValues(s: Snapshot,
      files: Seq[String], logicalCol: String,
      values: Seq[org.apache.spark.sql.catalyst.expressions.Literal],
      partKey: Option[(PartSpec, Int)]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val phys = physOf(s.schema, logicalCol)
    val nonNull = values.filter(_.value != null)
    // the stats domain (Long / Double / String) — same folding as
    // candidateFilesForExprs' litVal; None = not stats-comparable
    def statVal(l: Literal): Option[Any] = (l.dataType, l.value) match {
      case (_: org.apache.spark.sql.types.TimestampType, v: java.lang.Long) =>
        Some(CommitLog.TsUs(v)) // compares only against normalized stats
      case (org.apache.spark.sql.types.TimestampNTZType, v: java.lang.Long) =>
        Some(CommitLog.TsUs(v))
      case (_, i: java.lang.Integer) => Some(i.longValue)
      case (_, v: java.lang.Long)    => Some(v)
      case (_, v: java.lang.Short)   => Some(v.longValue)
      case (_, v: java.lang.Byte)    => Some(v.longValue)
      case (_, v: java.lang.Float)   => Some(v.doubleValue)
      case (_, v: java.lang.Double)  => Some(v)
      case (_, u: org.apache.spark.unsafe.types.UTF8String) => Some(u.toString)
      case (_, d: org.apache.spark.sql.types.Decimal) =>
        CommitLog.decVOf(d) // r16: value-exact vs DecV stats
      case _ => None
    }
    // the tag/bloom domain: the value's cast-to-string, evaluated by
    // the SAME Cast the write path and bloomsForCfg use
    def strVal(l: Literal): Option[String] = scala.util.Try(
      Option(Cast(l, org.apache.spark.sql.types.StringType).eval(null))
        .map(_.toString)).toOption.flatten
    // r16: TAG equality is void for a string-shifted column —
    // pre-widening tags hold the OLD string form of values this column
    // now reads differently (a tag names a whole partition across
    // eras, so there is no per-file era to trust). Bloom bits are
    // finer since r17: each filter carries its hash-time era, and
    // same-era filters (files written after the widen) still exclude.
    val shifted = strShiftedCol(s, logicalCol)
    val era = colStrEra(s, logicalCol)
    files.filter { f =>
      // an empty (or all-null) IN-set keeps no file: exists = false
      nonNull.exists { v =>
        val tagOk = partKey match {
          case _ if shifted => true
          case None => true
          case Some((spec, i)) =>
            // r18: judge THIS file under ITS OWN spec — an evolved
            // table's older files decode under the spec that wrote
            // them (the passed key is the CURRENT spec's); a spec not
            // keying this column keeps the file, conservative
            val resolved: Option[(PartSpec, Int)] =
              if (s.specs.isEmpty || s.entry(f).specId == s.currentSpecId)
                Some((spec, i))
              else scala.util.Try(PartSpec.parse(s.specs(s.entry(f).specId)))
                .toOption.flatMap(sp =>
                  sp.keyIndexOf(logicalCol).map(j => (sp, j)))
            resolved match {
              case Some((sp, j)) => s.entry(f).partTag match {
                case Some(tag) =>
                  // decode the file's tag component for this key and
                  // compare against the component the arriving value
                  // derives (identity: cast-to-string; days: epoch-day)
                  // — either side unjudgeable → conservative keep
                  (scala.util.Try(sp.decode(tag)(j)).toOption,
                    sp.componentOfLiteral(j, v)) match {
                    case (Some(fileC), Some(valC)) => fileC == valC
                    case _ => true
                  }
                case None => true // untagged file → cannot rule out
              }
              case None => true
            }
        }
        val statOk = s.entry(f).colStats.get(phys) match {
          case Some((mn, mx)) => statVal(v) match {
            case Some(x) => overlaps(mn, mx, x, x)
            case None => true
          }
          case None => true
        }
        val bloomOk = s.entry(f).blooms.get(phys) match {
          case Some(b) if b.era == era => strVal(v).forall(bloomMayContain(b, _))
          case _ => true
        }
        tagOk && statOk && bloomOk
      }
    }
  }

  /** OPTIMIZE: rewrite the live data into `targetFiles` files,
    * optionally Z-ORDER-clustered on `zorderBy` — the packaged
    * small-file compaction + clustering maintenance (Delta's OPTIMIZE
    * [ZORDER BY]) for a table that accumulated many small commits.
    * Z-ordering is what makes the manifest's min/max stats pay on
    * multi-column range reads ([[readRange]] after optimize prunes
    * files it previously had to open); plain mode just bin-packs. The
    * rewrite commits as a `replace` with fresh stats (and blooms when
    * [[withBloomIndex]] is active), so CDC consumers see it as a
    * rewrite (delete+insert pairs that cancel in any keyed apply) and
    * time travel still reaches the pre-optimize layout. Content is
    * bit-identical — only layout changes. Partition-TAGGED tables are
    * refused: their layout unit is the partition — use
    * [[optimizePartitions]], which scopes the rewrite to the touched
    * partitions. */
  def optimize(targetFiles: Int, zorderBy: Seq[String] = Nil): Long = {
    require(targetFiles >= 1, s"$tableRoot: targetFiles=$targetFiles must be >= 1")
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0, s"$tableRoot: nothing to optimize")
      require(!s.tagged,
        s"$tableRoot: partition-tagged table — use optimizePartitions; a " +
          "flat rewrite would drop the partition tags")
      val df = readAt(s)
      val laid =
        if (zorderBy.isEmpty) df.repartition(targetFiles)
        else graft.operators.Layout.zOrderFrame(df, zorderBy, targetFiles)
      val files = writeData(laid, s.schema.getOrElse(laid.schema),
        preserveLayout = true)
      // keep an existing bloom index ALIVE even when this instance was
      // constructed without the writer config: derive (cols, bits, k)
      // from the snapshot's own self-describing filters — a layout
      // maintenance op must never silently strip the table's index
      val cfg = effectiveBloomCfg()
      val won = try tryCommit(Manifest(s.version + 1, "replace", files,
          entriesFor(files, s, s.schema, bloomCfg = cfg),
          Some(s.schema.getOrElse(laid.schema))))
        catch { case e: Throwable => files.foreach(deleteData); throw e }
      if (won) return s.version + 1
      // lost the version race: the rewrite reflects a stale snapshot —
      // committing it anyway would ERASE the winner's rows (replaceAll
      // semantics would do exactly that). Drop it and redo the layout
      // over the winner's table, like upsert does.
      files.foreach(deleteData)
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** OPTIMIZE for partition-TAGGED tables — the form that matters at
    * 100 TB, where every table is partitioned and [[optimize]]'s flat
    * rewrite would both drop tags and rewrite petabytes: compact (and
    * optionally Z-ORDER on `zorderBy`) ONLY the selected partitions,
    * committed as a `replace_parts` scoped to exactly those partition
    * values. Untouched partitions' files are not read, not rewritten,
    * and not even restated — they ride through the manifest fold
    * byte-identical, so concurrent optimizes of disjoint partition
    * sets only contend on the version counter.
    *
    * `partitions` empty means every live partition is eligible; either
    * way a partition is SKIPPED when it is already at
    * `targetFilesPerPartition` files or fewer and no re-clustering was
    * asked (`zorderBy` empty) — an optimize that finds nothing to do
    * returns the current version without committing. The rewrite is
    * ONE job: plain mode hashes each partition's rows over at most
    * `targetFilesPerPartition` writer tasks; Z-order mode range-
    * partitions on (partition, Morton code) and sorts within tasks, so
    * each partition's files carry tight per-file min/max on every
    * cluster column — [[readRange]] then prunes inside the partition,
    * not just across partitions. Content is bit-identical; stats and
    * blooms are re-harvested for the new files ([[optimize]]'s
    * config-less bloom keep-alive applies). Naming a partition value
    * that does not exist fails loudly (a typo'd date must not silently
    * no-op); Z-ordering on the partition column is refused (constant
    * within every partition). */
  def optimizePartitions(partCol: String, targetFilesPerPartition: Int = 1,
      partitions: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, hash, lit, max, min, pmod, struct}
    require(targetFilesPerPartition >= 1,
      s"$tableRoot: targetFilesPerPartition=$targetFilesPerPartition must be >= 1")
    val optSpec = PartSpec.parse(partCol)
    // identity key sources are constant within a partition; a days(ts)
    // SOURCE still varies inside its day and may be z-ordered
    val identSrcs = optSpec.keys.collect {
      case PartSpec.Key(c, PartSpec.Identity) => c.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    require(!zorderBy.exists(z => identSrcs(z.toLowerCase(java.util.Locale.ROOT))),
      s"$tableRoot: z-ordering on an identity partition column of '$partCol' " +
        "is meaningless — it is constant within every partition")
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0, s"$tableRoot: nothing to optimize")
      require(s.tagged,
        s"$tableRoot: table is not partition-tagged — use optimize()")
      val untagged = s.files.filter(s.entry(_).partTag.isEmpty)
      require(untagged.isEmpty,
        s"$tableRoot: ${untagged.size} live files carry no partition tag — " +
          "rewrite the table through the partitioned path first")
      requireCurrentSpec(s, partCol)
      requireSingleSpec(s, "optimizePartitioned")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: committed version ${s.version} carries no schema"))
      val byPart: Map[String, Seq[String]] = s.files.groupBy(s.entry(_).partTag.get)
      val wanted: Set[String] =
        if (partitions.isEmpty) byPart.keySet
        else {
          val missing = partitions.filterNot(byPart.contains)
          require(missing.isEmpty,
            s"$tableRoot: unknown partition value(s): ${missing.mkString(", ")}")
          partitions.toSet
        }
      val touchedParts = byPart.keys.filter(p => wanted(p) &&
        (byPart(p).size > targetFilesPerPartition || zorderBy.nonEmpty))
        .toSeq.sorted
      if (touchedParts.isEmpty) return s.version // already laid out
      val touchedSet = touchedParts.toSet
      val touchedFiles = touchedParts.flatMap(byPart)
      val df = readFiles(sch, touchedFiles, s.dvsOf)
      val n = touchedParts.size * targetFilesPerPartition
      val tagOf = optSpec.tagExpr(df)
      val laid =
        if (zorderBy.isEmpty) {
          if (targetFilesPerPartition == 1) df.repartition(n, tagOf)
          else df.repartition(n, tagOf,
            pmod(hash(struct(sch.fieldNames.toIndexedSeq.map(col): _*)),
              lit(targetFilesPerPartition)))
        } else {
          // per-partition Z-clustering: global min-max scaling (one tiny
          // broadcast stats row), Morton code, then range-partition on
          // (partition, z) — a writer task never mixes z-ranges, so each
          // file's stats stay tight on every cluster column
          val stats = df.agg(
            zorderBy.flatMap(c => Seq(min(col(c)).as(s"__lo_$c"),
              max(col(c)).as(s"__hi_$c"))).head,
            zorderBy.flatMap(c => Seq(min(col(c)).as(s"__lo_$c"),
              max(col(c)).as(s"__hi_$c"))).tail: _*)
          val z = graft.operators.Layout.zValue(
            zorderBy.map(c => graft.operators.Layout.scaleToBits(
              col(c), col(s"__lo_$c"), col(s"__hi_$c"), bits = 16)),
            bits = 16)
          df.crossJoin(broadcast(stats))
            .withColumn("__z", z)
            .repartitionByRange(n, tagOf, col("__z"))
            .sortWithinPartitions(tagOf, col("__z"))
            .drop(zorderBy.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")): _*)
            .drop("__z")
        }
      val tagged = writeDataPartitioned(laid, partCol, sch,
        preserveLayout = true)
      require(tagged.map(_._2).toSet.subsetOf(touchedSet),
        s"$tableRoot: optimize produced rows outside the touched partitions")
      val cfg = effectiveBloomCfg()
      val won = try tryCommit(Manifest(s.version + 1, "replace_parts",
          tagged.map(_._1), entriesFor(tagged.map(_._1), s, Some(sch), tagged.toMap, cfg),
          Some(sch), retiredParts = touchedParts))
        catch { case e: Throwable => tagged.foreach(t => deleteData(t._1)); throw e }
      if (won) return s.version + 1
      tagged.foreach(t => deleteData(t._1))
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** Fold the whole log into ONE checkpoint manifest at the next
    * version: a `replace` that restates the live file set, the schema,
    * the partition tags, the file stats, and the complete per-writer
    * txn table. Everything a reader needs is then in the tail of the
    * log, so [[prune]] can delete the manifests before it — the
    * O(versions) snapshot fold becomes O(versions since last
    * checkpoint), the standard log-compaction move at scale. Data
    * files are untouched (no rewrite), so the checkpoint contributes
    * NO rows to [[readChanges]]. Returns the checkpoint version. */
  def compact(): Long = {
    var attempts = 0
    while (true) {
      val s = snapshot()
      require(s.version >= 0, s"$tableRoot: nothing to compact")
      // an evolved table's checkpoint restates the spec registry and
      // every tagged live file's spec id — the fold stays correct when
      // pre-checkpoint manifests (incl. the evolve commit) prune
      val ckpt = Manifest(s.version + 1, "replace", s.files,
        s.entries.values.toSeq, s.schema, checkpoint = true,
        specs = Some(s.specs).filter(_.nonEmpty),
        specIds = specIdsOf(s, s.entries.values),
        physRetired = Some(s.physRetired).filter(_.nonEmpty), txns = s.txns)
      if (tryCommit(ckpt)) {
        writeCheckpointHint(s.version + 1)
        return s.version + 1
      }
      attempts += 1
      require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
    }
    -1L // unreachable
  }

  /** Best-effort `_last_checkpoint` hint maintenance (see
    * [[checkpointFoldStart]]): published via temp-file + rename (the
    * same pattern manifests use) so a reader never observes torn
    * content. The version guard is best-effort check-then-act — two
    * racing compact() calls can still land the older version last
    * (ADVICE r14) — but a stale or missing hint only degrades the next
    * read to the full fold; correctness never depends on the hint, and
    * the next checkpoint rewrites it. Any failure is swallowed. */
  private def writeCheckpointHint(v: Long): Unit =
    try {
      val p = new Path(logDir, "_last_checkpoint")
      val keep = try {
        if (!fs.exists(p)) false
        else ManifestCodec.hintVersion(fs, p) >= v
      } catch { case _: Exception => false }
      if (!keep) {
        val tmp = new Path(logDir, s"._last_checkpoint-${UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(ManifestCodec.hint(v).getBytes("UTF-8"))
        finally out.close()
        // rename-into-place; delete-first where rename won't replace.
        // The gap (hint briefly absent) costs one full fold at most.
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) fs.delete(tmp, false)
      }
    } catch { case _: Exception => () }

  /** Delete every manifest strictly older than the LATEST checkpoint
    * (the checkpoint restates the full state, so they are redundant
    * for any new reader; an in-flight reader that already listed them
    * still reads them — manifests are immutable). No-op without a
    * checkpoint. Returns the number pruned.
    *
    * r16, `retainMs > 0`: AGE-SCOPED prune — only manifests whose
    * commit clock (`ts`) is older than `now − retainMs` are eligible,
    * so every version committed within the retention window stays
    * time-travelable. The deleted set is still always a PREFIX ending
    * at a checkpoint (a retained version folds from a checkpoint at or
    * below it; deleting a mid-fold manifest would break every version
    * above it), so the effective boundary is the NEWEST checkpoint
    * whose entire prefix is older than the cutoff. Each manifest's
    * effective age is FLOORED at the manifest FILE's modification time
    * (r17, ADVICE r16): a writer whose embedded clock LAGS cannot make
    * a version committed moments ago (in the storage system's own
    * clock) look prunable inside its nominal retention window — the
    * skewed-old direction now only RETAINS more, symmetric with the
    * skewed-young direction, which always did. Manifests with no `ts`
    * (pre-clock logs) age by their file modification time alone. */
  def prune(retainMs: Long = 0L): Int = {
    if (!fs.exists(logDir)) return 0
    val manifests = fs.listStatus(logDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json")
        && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    def meta(st: org.apache.hadoop.fs.FileStatus): (Boolean, Long) = {
      val m = parseManifest(st)
      // effective age = the YOUNGER of the embedded commit clock and
      // the file's modification time — a lagging writer clock cannot
      // prune a wall-clock-recent version (r17, ADVICE r16)
      (m.checkpoint, math.max(m.ts.getOrElse(0L), st.getModificationTime))
    }
    val best =
      if (retainMs <= 0L) {
        // no age bound: the boundary is simply the LAST checkpoint —
        // scan backward and stop at the first one (the common
        // maintain() call parses ~1 manifest here, not the whole log)
        manifests.lastIndexWhere(m => meta(m)._1)
      } else {
        val cutoff = System.currentTimeMillis() - retainMs
        var b = -1
        var prefixAllOld = true
        var i = 0
        while (i < manifests.length && prefixAllOld) {
          val (ck, ts) = meta(manifests(i))
          if (ck && i > 0) b = i // prefix [0, i) is all old
          if (ts >= cutoff) prefixAllOld = false
          i += 1
        }
        b
      }
    if (best <= 0) return 0
    manifests.take(best).foreach(m => fs.delete(m.getPath, false))
    best
  }

  /** ONE scheduled maintenance call for production tables (r16):
    * checkpoint the current state ([[compact]]), prune history older
    * than `retainMs` ([[prune]]), and reclaim every byte no retained
    * manifest references ([[vacuum]]). Versions committed within the
    * retention window stay time-travelable; older ones fold into the
    * checkpoint and their exclusive data files reclaim. Run it on a
    * schedule (e.g. daily with `retainMs` = 7 days) and history is
    * bounded without any manual compact→prune→vacuum choreography —
    * safe beside live writers whose commit latency stays under the
    * vacuum's fresh-file TTL ([[vacuum]]'s r16 age floor). A shallow
    * clone does not pin the SOURCE's files — see [[cloneTo]]. */
  def maintain(retainMs: Long,
      stagingTtlMs: Long = CommitLog.StagingReclaimTtlMs)
      : CommitLog.Maintenance = {
    require(retainMs >= 0L, s"$tableRoot: negative retention")
    val v = compact()
    val pruned = prune(retainMs)
    val vacuumed = vacuum(stagingTtlMs)
    CommitLog.Maintenance(v, pruned, vacuumed)
  }

  /** Delete data files NO RETAINED MANIFEST references — lost-race
    * leftovers, and files whose every referencing version was
    * [[prune]]d away. Files retired by a later version but still
    * referenced by a retained manifest are KEPT: every version
    * [[readVersion]] can reach stays readable after a vacuum (deleting
    * them would break time travel silently while the log still claims
    * the version; retire history first via compact+prune, then vacuum
    * reclaims it). r16: unreferenced DATA files younger than a
    * freshness floor are SPARED — a mid-commit writer's files are
    * unreferenced exactly between its write and its manifest CAS, so
    * the age floor makes a scheduled [[maintain]] safe beside live
    * writers whose commit latency stays under it (Delta's vacuum makes
    * the same trade). r17 (ADVICE r16): the floor is its OWN parameter
    * — `dataTtlMs < 0` (the default) follows `stagingTtlMs`, `0`
    * disables just the data-file floor (full reclamation) WITHOUT also
    * making a live writer's staging dirs reclaimable, and an explicit
    * positive value decouples the two ages entirely. Returns the
    * count of data files deleted. */
  def vacuum(stagingTtlMs: Long = CommitLog.StagingReclaimTtlMs,
      dataTtlMs: Long = -1L): Int = {
    val dataFloorMs = if (dataTtlMs < 0L) stagingTtlMs else dataTtlMs
    // reclaim staging left by a crashed writer: `.tmp-*` (partitioned
    // writes) and `.rowlevel-*` (SQL row-level ops) live under the
    // table root and are deleted by their writers in normal operation.
    // Only dirs older than `stagingTtlMs` are touched: a fresh dir may
    // belong to a LIVE statement between task commit and driver commit
    // — deleting it would make [[commitStagedReplace]] see its staging
    // vanish mid-statement (it fails loudly on that, but the statement
    // shouldn't die just because a vacuum ran). A crashed writer's dir
    // ages past the TTL and is then reclaimed.
    if (fs.exists(rootPath)) {
      val cutoff = System.currentTimeMillis() - stagingTtlMs
      fs.listStatus(rootPath)
        .filter(st => st.isDirectory && (st.getPath.getName.startsWith(".tmp-")
          || st.getPath.getName.startsWith(".rowlevel-"))
          && st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
      // a crashed LogStore publisher leaves a `.tmp-*.json` in the LOG
      // dir (written, never linked, never deleted). These get a
      // SEPARATE, LARGER grace period (4× the staging TTL): a publisher
      // stalled between writing its tmp manifest and linking it would
      // lose the COMMIT if the sweep caught it — a harsher failure than
      // the staging sweep's re-stage-able data files. The assumption
      // this rests on: no publisher pauses longer than
      // 4 × stagingTtlMs between putIfAbsent's write and link steps
      // (a full GC pause or VM migration that long must be treated as
      // a crash — the commit is NOT guaranteed after it).
      val manifestCutoff = System.currentTimeMillis() - 4 * stagingTtlMs
      if (fs.exists(logDir))
        fs.listStatus(logDir)
          .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-")
            && st.getPath.getName.endsWith(".json")
            && st.getModificationTime < manifestCutoff)
          .foreach(st => fs.delete(st.getPath, false))
    }
    if (!fs.exists(dataDir)) return 0
    val referenced = parsedManifests(Long.MaxValue)
      .flatMap { m =>
        // DV sidecars live under data/ too — referenced while any
        // retained manifest names them, reclaimed after prune like
        // the data files they mask
        (m.files ++ m.entries.flatMap(_.dvs.map(_.path)))
          .map(f => new Path(rootPath, f).getName)
      }
      .toSet
    // r16: only files OLDER than the freshness floor reclaim — a
    // mid-commit writer's data files are unreferenced for exactly the
    // window between its write and its manifest CAS, and age-flooring
    // the sweep makes a scheduled [[maintain]] safe to run beside live
    // writers (any commit latency under the floor; Delta's vacuum makes
    // the same trade). Lost-race leftovers age past it and then
    // reclaim as before.
    // `dataFloorMs <= 0` disables the floor (the explicit "I know no
    // writer is live" spelling — and the pre-r16 behavior)
    val dataCutoff = System.currentTimeMillis() - dataFloorMs
    val dead = fs.listStatus(dataDir)
      .filter(s => s.isFile && !referenced(s.getPath.getName)
        && (dataFloorMs <= 0L || s.getModificationTime < dataCutoff))
    dead.foreach { s =>
      fs.delete(s.getPath, false)
      // evict so a vacuumed path can never serve a stale cached status
      // (time-travel reads of pruned versions fail at planning, not
      // mid-job; a recreate-at-same-name collision cannot hit the cache)
      CommitLog.statusCache.remove(fs.makeQualified(s.getPath).toString)
    }
    dead.length
  }

  /** Commit parquet files STAGED by an external writer (the DSv2
    * row-level write path — Spark's own FileWrite lands task outputs
    * under `stagingDir`) as a `replace` retiring exactly `retire` (the
    * files the row-level scan read — group-granular copy-on-write:
    * manifest-pruned untouched files ride through with their stats and
    * blooms). The replacement content was computed against
    * `expectedVersion`; if any writer committed since, this fails
    * loudly AND CLEANS UP rather than silently erasing the concurrent
    * commit (SQL row-level operations are serializable-or-error, like
    * Delta's conflict detection — the retrying form lives on the
    * library surface, [[merge]]/[[update]]/[[delete]], which
    * recompute). Partition-TAGGED tables pass `partCol` (the catalog
    * forwards `merge.partcol`): the staged files were written by
    * Spark's generic FileWrite and carry no tags, so the replacement
    * content is re-landed through the one-job partitioned write —
    * every new file tagged, untouched partitions riding through with
    * their tags, the all-tagged invariant preserved across SQL DML. */
  private[graft] def commitStagedReplace(stagingDir: String,
      expectedVersion: Long, retire: Set[String],
      partCol: Option[String] = None): Long = {
    val staging = new Path(stagingDir)
    // a MISSING staging dir is never "zero replacement rows" — the file
    // committer created it at job setup, so its absence means something
    // deleted it mid-statement (a racing vacuum, manual cleanup).
    // Committing would retire the scanned files with no replacements:
    // silent mass row loss. A legitimate delete-all leaves the dir
    // present but with no part files.
    if (!fs.exists(staging))
      throw new IllegalStateException(
        s"$tableRoot: row-level staging dir $stagingDir is missing — " +
          "it was deleted mid-statement (concurrent vacuum?); aborting " +
          "instead of committing an empty replacement. Retry the statement.")
    val staged =
      fs.listStatus(staging).filter(st => st.isFile
        && st.getPath.getName.startsWith("part-")
        && st.getPath.getName.endsWith(".parquet"))
    fs.mkdirs(dataDir)
    try {
      val s = snapshot()
      require(s.version == expectedVersion,
        s"$tableRoot: version changed during the row-level operation " +
          s"(expected $expectedVersion, found ${s.version}) — concurrent " +
          "write detected, retry the statement")
      requireTagState(s, partCol, "a SQL row-level operation (set merge.partcol)")
      val sch = s.schema.getOrElse(throw new IllegalStateException(
        s"$tableRoot: row-level replace on a table with no committed schema"))
      // staged files were written by Spark's generic FileWrite with
      // LOGICAL column names; on a renamed table they must be re-landed
      // through the mapping write path (the SQL row-level surface is
      // gated off for mapped tables at the catalog — this is the
      // defense-in-depth backstop for any other caller)
      val identity = identityMapping(sch)
      val kept = s.entries.values.filterNot(e => retire(e.path)).toSeq
      def stagedDf: DataFrame = spark.read.schema(sch)
        .parquet(staged.map(_.getPath.toString).toSeq: _*)
      val (newFiles, newTags) = partCol match {
        case Some(pc) if staged.nonEmpty =>
          // tagged table: one partitioned job re-lands the replacement
          // content (only the touched groups' rows — the group-granular
          // scan already excluded untouched files, so the extra write
          // is proportional to the rewrite, not the table)
          val tagged = writeDataPartitioned(stagedDf, pc, sch)
          (tagged.map(_._1), tagged.toMap)
        case Some(_) => (Seq.empty[String], Map.empty[String, String])
        case None if !identity && staged.nonEmpty =>
          (writeData(stagedDf, sch), Map.empty[String, String])
        case None =>
          // the rename-adoption fast path skips writeData — its
          // constraint check must run here (one read-back of the
          // staged batch, only when constraints are registered)
          if (constraints.nonEmpty && staged.nonEmpty)
            validateConstraints(stagedDf)
          val moved = staged.map { st =>
            val name = s"${UUID.randomUUID()}-${st.getPath.getName}"
            if (!fs.rename(st.getPath, new Path(dataDir, name)))
              throw new java.io.IOException(
                s"move ${st.getPath} -> data/$name failed")
            s"data/$name"
          }.toSeq
          (moved, Map.empty[String, String])
      }
      try {
        // kept files carry their deletion vectors through; the retired
        // files' DVs retire with them (the row-level scan read those
        // files masked)
        val won = tryCommit(Manifest(s.version + 1, "replace",
          kept.map(_.path) ++ newFiles,
          kept ++ entriesFor(newFiles, s, Some(sch), newTags), Some(sch)))
        require(won,
          s"$tableRoot: lost the commit race during the row-level " +
            "operation — concurrent write detected, retry the statement")
        s.version + 1
      } catch {
        case e: Throwable => newFiles.foreach(deleteData); throw e
      }
    } finally fs.delete(staging, true)
  }

  /** Adopt parquet files STAGED by the native DSv2 write path as an
    * `add` commit — the ZERO-REWRITE append: the finished task outputs
    * rename into `data/` and the manifest references them; the batch
    * is never read back, let alone written twice (the V1 bridge ran
    * every append through a second full parquet write). Un-partitioned
    * tables only — the partitioned append re-lands through
    * [[appendPartitioned]] so files stay tagged. */
  private[graft] def commitStagedAdd(stagingDir: String,
      writeSchema: StructType): Long = {
    val staging = new Path(stagingDir)
    if (!fs.exists(staging))
      throw new IllegalStateException(
        s"$tableRoot: write staging dir $stagingDir is missing — " +
          "it was deleted mid-statement (concurrent vacuum?); aborting. " +
          "Retry the write.")
    val staged = fs.listStatus(staging).filter(st => st.isFile
      && st.getPath.getName.startsWith("part-")
      && st.getPath.getName.endsWith(".parquet"))
    fs.mkdirs(dataDir)
    try {
      val s0 = snapshot()
      mergedSchema(s0.schema, writeSchema) // loud type-conflict check BEFORE moving
      require(!s0.tagged,
        s"$tableRoot: staged-add on a partition-tagged table would break the " +
          "all-tagged invariant — route through appendPartitioned")
      // staged files carry LOGICAL names (Spark's generic FileWrite);
      // when any column's physical name differs from its logical one —
      // a renamed table, or a new column that must take a suffixed
      // physical name because its default collides with a retired one
      // — the files cannot be adopted verbatim: re-land the batch
      // through append, whose write path maps logical → physical
      if (!identityMapping(assignPhys(
          mergedSchema(s0.schema, writeSchema), s0.schema, s0.physRetired)))
        return append(spark.read.schema(writeSchema)
          .parquet(staged.map(_.getPath.toString).toSeq: _*))
      // zero-rewrite adoption skips writeData — run its constraint
      // check here (read-back only when constraints are registered)
      if (constraints.nonEmpty && staged.nonEmpty)
        validateConstraints(spark.read.schema(writeSchema)
          .parquet(staged.map(_.getPath.toString).toSeq: _*))
      val moved = staged.map { st =>
        val name = s"${UUID.randomUUID()}-${st.getPath.getName}"
        if (!fs.rename(st.getPath, new Path(dataDir, name)))
          throw new java.io.IOException(s"move ${st.getPath} -> data/$name failed")
        s"data/$name"
      }.toSeq
      var cur = s0
      var attempts = 0
      try {
        val es = entriesFor(moved, s0, Some(mergedSchema(s0.schema, writeSchema)))
        while (!tryCommit(Manifest(cur.version + 1, "add", moved, es,
            Some(assignPhys(mergedSchema(cur.schema, writeSchema),
              cur.schema, cur.physRetired))))) {
          attempts += 1
          require(attempts <= MaxAttempts, s"$tableRoot: lost $MaxAttempts version races")
          cur = snapshot()
          // a racer may have made the table partition-tagged since the
          // first snapshot — the untagged-only precondition must hold
          // against the snapshot we actually commit on
          require(!cur.tagged,
            s"$tableRoot: table became partition-tagged during the staged " +
              "add — retry through appendPartitioned")
        }
        cur.version + 1
      } catch {
        case e: Throwable => moved.foreach(deleteData); throw e
      }
    } finally fs.delete(staging, true)
  }

  private val MaxAttempts = 50

  private def replayOf(s: Snapshot, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (id, epoch) => s.txns.get(id).exists(_ >= epoch) }

  /** Write `df` under data/ with globally-unique names (write to a tmp
    * dir, move the parts in); returns table-root-relative paths. The
    * files are INVISIBLE until a manifest references them. `sch` is
    * the commit's logical schema — columns are renamed to their
    * PHYSICAL names just before the parquet write (the write-side
    * column-mapping chokepoint; identity for never-renamed tables). */
  private def writeData(df: DataFrame, sch: StructType,
      preserveLayout: Boolean = false): Seq[String] = {
    validateConstraints(df)
    val tmp = new Path(rootPath, s".tmp-${UUID.randomUUID()}")
    // r19 (guide §6 "coalesce on write"): REBALANCE before the write so
    // file count follows the batch's BYTES (AQE reads the exact shuffle
    // sizes), not whatever partitioning the plan happened to end with —
    // a merge output otherwise lands one sliver per shuffle partition
    // (observed 32 tiny files per tiny commit; every later snapshot
    // fold, footer harvest and scan pays per file). At scale the same
    // rebalance is the standard optimized-write trade (one extra
    // exchange buys advisory-sized files and skew-split write tasks);
    // spark.graft.write.rebalance=false restores the shuffle-free
    // write for pipelines that pre-shape their batches.
    // preserveLayout: the caller ([[optimize]]) already repartitioned/
    // sorted the frame into its target file layout — rebalancing would
    // undo exactly that compaction. The same respect extends to
    // CALLER-shaped batches ([[CommitLog.userShapedPlan]]): a frame
    // whose plan root is an explicit repartition / partition-local
    // sort (e.g. [[graft.operators.Layout.zOrderFrame]]'s range
    // partition + Morton sort) encodes a deliberate file layout the
    // rebalance would silently destroy.
    val shaped =
      if (!preserveLayout && !CommitLog.userShapedPlan(df) &&
          spark.conf.getOption("spark.graft.write.rebalance")
            .forall(_.toBoolean)) df.hint("rebalance")
      else df
    // Footer min/max must be EXACT values from the data, never bounds:
    // a session-configured parquet.statistics.truncate.length would
    // truncate binary stats (PARQUET-1685 — min a prefix, max
    // incremented; valid for pruning, WRONG as a pushed MIN/MAX
    // answer, and undetectable at read time). Pin the writer to
    // no-truncation so every stat [[statsForOne]] harvests is exact
    // (ADVICE r14).
    toPhys(shaped, sch).write
      .option("parquet.statistics.truncate.length", Int.MaxValue.toString)
      .mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(dataDir)
    val parts = fs.listStatus(tmp).filter { s =>
      s.isFile && s.getPath.getName.startsWith("part-")
    }
    val moved = parts.map { p =>
      val name = s"${UUID.randomUUID()}-${p.getPath.getName}"
      val dest = new Path(dataDir, name)
      if (!fs.rename(p.getPath, dest))
        throw new java.io.IOException(s"move ${p.getPath} -> data/$name failed")
      // seed the process-wide status cache from the pre-rename status
      // (rename preserves length/mtime) — readers of this commit then
      // build their file index with zero filesystem metadata calls
      CommitLog.cacheFileStatus(new org.apache.hadoop.fs.FileStatus(
        p.getLen, false, p.getReplication, p.getBlockSize,
        p.getModificationTime, fs.makeQualified(dest)))
      s"data/$name"
    }.toSeq
    fs.delete(tmp, true)
    moved
  }

  /** One-job partitioned variant of [[writeData]]: `partitionBy` the
    * STRING form of `partCol` into the tmp area, then attribute each
    * committed file to its partition from the directory it landed in —
    * a 1,000-partition backfill is ONE Spark job, not 1,000 serial
    * filtered re-reads of the source plan (VERDICT r7 #5; this also
    * removed the per-attempt localCheckpoint the old path needed). The
    * synthetic `__part` copy is consumed by the directory layout;
    * `partCol` itself stays a normal data column inside the files.
    * Returns (table-root-relative path, partition value) pairs. */
  private def writeDataPartitioned(df: DataFrame, partCol: String,
      sch: StructType, preserveLayout: Boolean = false): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.{concat, lit}
    // r16: a string-shifted partition column (float→double widening)
    // makes tag derivation AMBIGUOUS across eras — pre-widening files
    // carry the float value's tag string, new writes would derive the
    // double's, splitting one logical partition into two tags (scoped
    // upserts would miss the old era's rows and duplicate keys).
    // Refuse loudly; replaceAllPartitioned/a full rewrite re-tags the
    // table under one era.
    sch.fields.find(f => lc(f.name) == lc(partCol)).foreach(f =>
      require(!CommitLog.strShifted(f),
        s"$tableRoot: partition column '$partCol' underwent a " +
          "string-shifting type widening (float->double) — pre-widening " +
          "partition tags no longer match the column's value strings; " +
          "rewrite the table (replaceAllPartitioned) before " +
          "partition-scoped writes"))
    validateConstraints(df)
    val tmp = new Path(rootPath, s".tmp-${UUID.randomUUID()}")
    val partTag = "__graft_part"
    require(!df.columns.contains(partTag),
      s"$tableRoot: column name $partTag is reserved by the " +
        "partitioned write path — rename it upstream")
    try {
      // REBALANCE by the partition value before the write (r19, was a
      // blind (tag, 32-way deterministic salt) repartition): without
      // clustering by the partition key every upstream task writes its
      // own sliver into every partition dir (tasks × partitions tiny
      // files); without a spread a HOT partition funnels through ONE
      // task (a 500 GB day = one multi-hour straggler at 100 TB). The
      // rebalance hint keeps the clustering and makes the spread
      // SIZE-DRIVEN at runtime: AQE coalesces byte-small partitions
      // together (a tiny batch writes ONE file per touched dir instead
      // of up to shuffle-partitions slivers — every downstream
      // snapshot fold, footer harvest, and scan pays per file forever)
      // and SPLITS an oversized partition into advisory-sized pieces
      // (spark.sql.adaptive.optimizeSkewsInRebalancePartitions, the
      // salt's straggler story but driven by exact shuffle sizes
      // instead of a fixed 32-way scatter; the dir-listing commit
      // below tolerates several files per dir, and [[compact]]
      // re-tightens the layout later). The "v" prefix on the partition
      // tag keeps the EMPTY STRING a legal value — Spark's layout maps
      // both null and "" to __HIVE_DEFAULT_PARTITION__, so only
      // genuine nulls (null concat → null tag) land there and are
      // refused.
      val taggedDf = df.withColumn(partTag,
        concat(lit("v"), PartSpec.parse(partCol).tagExpr(df)))
      // preserveLayout: the caller ([[optimizePartitions]]) already
      // repartitioned/sorted the frame into its target file layout —
      // a rebalance here would undo exactly that compaction
      val prepared =
        if (preserveLayout) taggedDf
        else taggedDf.hint("rebalance", partTag)
      // logical → physical names at the write boundary; the directory
      // tag is not a schema column and passes through untouched
      toPhys(prepared, sch)
        .write
        // exact (untruncated) footer stats — see [[writeData]]
        .option("parquet.statistics.truncate.length", Int.MaxValue.toString)
        .mode("overwrite").partitionBy(partTag).parquet(tmp.toString)
      fs.mkdirs(dataDir)
      val dirs = fs.listStatus(tmp).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(s"$partTag="))
      // validate BEFORE moving anything — a null partition must not
      // leave the other partitions' files orphaned under data/
      require(!dirs.exists(_.getPath.getName
          == s"$partTag=__HIVE_DEFAULT_PARTITION__"),
        s"$tableRoot: null $partCol — partition values must be non-null")
      dirs.flatMap { d =>
        val enc = d.getPath.getName.stripPrefix(s"$partTag=")
        val p = unescapePathName(enc).stripPrefix("v")
        fs.listStatus(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map { f =>
            val name = s"${UUID.randomUUID()}-${f.getPath.getName}"
            val dest = new Path(dataDir, name)
            if (!fs.rename(f.getPath, dest))
              throw new java.io.IOException(s"move ${f.getPath} -> data/$name failed")
            // seed the status cache — see [[writeData]]
            CommitLog.cacheFileStatus(new org.apache.hadoop.fs.FileStatus(
              f.getLen, false, f.getReplication, f.getBlockSize,
              f.getModificationTime, fs.makeQualified(dest)))
            s"data/$name" -> p
          }
      }.toSeq
    } finally fs.delete(tmp, true)
  }

  /** Inverse of the Hive-style %XX escaping Spark applies to special
    * characters in partition directory names (all escaped chars are
    * single-byte ASCII, so char-wise decoding is exact). */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The manifest entries of freshly written files: per-column
    * (min, max), the exact row count and per-column null counts
    * harvested from the parquet footers ([[statsForOne]]), exact sums
    * of the effective sum columns ([[sumsFor]]), Bloom filters under
    * `bloomCfg` ([[bloomsForCfg]]) and partition `tags`. Footer stats
    * cover top-level numeric and string primitives only (nested paths
    * and binary blobs record nothing and are simply never pruned). The
    * footer read is metadata-sized and happens once per commit, which
    * is what lets [[readRange]] skip files forever after. */
  private def entriesFor(relPaths: Seq[String], snap: => Snapshot,
      sch: Option[StructType], tags: Map[String, String] = Map.empty,
      bloomCfg: => Option[(Seq[String], Int, Int)] = effectiveBloomCfg())
      : Seq[FileEntry] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // footer reads are independent metadata round-trips — run them
    // concurrently so a 1,000-file commit pays ~max latency, not the
    // sum (the one-job write win would otherwise drain away here)
    val futures = relPaths.map(rel => Future(statsForOne(rel)))
    val footers = Await.result(Future.sequence(futures), Duration.Inf)
    // r16: per-file exact SUMS when configured. The snapshot is
    // THREADED IN by the caller (r17, ADVICE r16): every commit path
    // already holds its pre-commit fold, so the sum-config derivation
    // costs zero extra snapshot folds per write.
    lazy val snapForSums = snap
    val sums = effectiveSumCfg(() => snapForSums)
      .fold(Map.empty[String, Map[String, Any]])(sumsFor(relPaths, _, snapForSums))
    val blooms = bloomsForCfg(relPaths, bloomCfg, sch)
    footers.map(e => e.copy(partTag = tags.get(e.path),
      sums = sums.getOrElse(e.path, Map.empty),
      blooms = blooms.getOrElse(e.path, Map.empty)))
  }

  /** One file's footer facts: rows, null counts and column stats. */
  private def statsForOne(rel: String): FileEntry = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(rootPath, rel), spark.sparkContext.hadoopConfiguration))
    val byCol = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Any)]
    // a row group whose chunk has DATA but no usable min/max (stats
    // omitted for oversized strings, FP columns with NaN, future
    // writers) poisons the column for the WHOLE file: a range kept
    // only from the other row groups would under-cover and let
    // [[readRange]] prune a file that holds matching rows. Only the
    // provably-all-null chunk is coverage-neutral (a null never
    // matches a range predicate).
    val dead = scala.collection.mutable.HashSet.empty[String]
    var rowCount = 0L
    // exact per-column null counts (COUNT(col) pushdown): valid only
    // when EVERY chunk of the column sets numNulls — tracked
    // independently of min/max (a NaN-poisoned double column still
    // counts its nulls exactly)
    val nulls = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val nullsDead = scala.collection.mutable.HashSet.empty[String]
    try {
      reader.getFooter.getBlocks.asScala.foreach { block =>
        rowCount += block.getRowCount
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          // the hidden CDC lineage carrier never harvests — its stats
          // would ride every snapshot fold and checkpoint for the
          // file's lifetime with no reader able to use them
          if (!name.contains('.') && name != CommitLog.RowLineageCol) {
            if (!dead.contains(name)) {
              chunkMinMax(cc) match {
                case ChunkCovered(mn, mx) =>
                  byCol(name) = byCol.get(name).fold((mn, mx)) { case (omn, omx) =>
                    (minAny(omn, mn), maxAny(omx, mx))
                  }
                case ChunkAllNull => () // no values → nothing to cover
                case ChunkUnknown => dead += name; byCol.remove(name)
              }
            }
            if (!nullsDead.contains(name)) {
              val st = cc.getStatistics
              if (st != null && st.isNumNullsSet)
                nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
              else { nullsDead += name; nulls.remove(name) }
            }
          }
        }
      }
    } finally reader.close()
    FileEntry(rel, rows = Some(rowCount), nulls = nulls.toMap,
      colStats = byCol.toMap)
  }

  private sealed trait ChunkStats
  private final case class ChunkCovered(mn: Any, mx: Any) extends ChunkStats
  private case object ChunkAllNull extends ChunkStats
  private case object ChunkUnknown extends ChunkStats

  private def chunkMinMax(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): ChunkStats = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    if (st == null) return ChunkUnknown
    if (!st.hasNonNullValue) {
      // min/max absent: only safe to ignore if the chunk is PROVABLY
      // all null — otherwise assume it may hold anything
      return if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount)
        ChunkAllNull
      else ChunkUnknown
    }
    val pt = cc.getPrimitiveType
    val logical = pt.getLogicalTypeAnnotation
    logical match {
      case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        // r16: decimal stats ARE comparable once the scale rides along
        // — harvest (unscaled, scale) as a typed [[CommitLog.DecV]].
        // INT32/INT64 physical stats are the unscaled value directly;
        // BINARY/FIXED_LEN_BYTE_ARRAY stats are big-endian two's-
        // complement bytes under parquet's signed-integer comparator
        // (numeric order — the same order our folds use). An unscaled
        // value that exceeds Long (precision > 18) refuses: the fold
        // domain is Long-backed by design.
        def unscaled(v: Any): Option[Long] = v match {
          case n: java.lang.Integer => Some(n.longValue)
          case n: java.lang.Long    => Some(n)
          case b: org.apache.parquet.io.api.Binary =>
            val bytes = b.getBytes
            if (bytes.isEmpty) None
            else {
              val bi = new java.math.BigInteger(bytes)
              if (bi.bitLength() <= 63) Some(bi.longValueExact()) else None
            }
          case _ => None
        }
        return (for {
          mn <- unscaled(st.genericGetMin)
          mx <- unscaled(st.genericGetMax)
        } yield ChunkCovered(CommitLog.DecV(mn, dec.getScale),
            CommitLog.DecV(mx, dec.getScale)): ChunkStats)
          .getOrElse(ChunkUnknown)
      case _ => ()
    }
    pt.getPrimitiveTypeName match {
      case INT64 if logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        // the stats domain for timestamps is Spark's internal
        // epoch-MICROS long (candidateFilesForExprs folds predicate
        // bounds to exactly that). MICROS stats are those values;
        // MILLIS convert exactly (every stored value is whole millis,
        // so min/max × 1000 ARE the internal micros of real rows);
        // NANOS would truncate — a value that may not exist — refuse.
        val unit = logical
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation].getUnit
        val mn = st.genericGetMin.asInstanceOf[Number].longValue()
        val mx = st.genericGetMax.asInstanceOf[Number].longValue()
        unit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS =>
            ChunkCovered(CommitLog.TsUs(mn), CommitLog.TsUs(mx))
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            try ChunkCovered(CommitLog.TsUs(Math.multiplyExact(mn, 1000L)),
              CommitLog.TsUs(Math.multiplyExact(mx, 1000L)))
            catch { case _: ArithmeticException => ChunkUnknown }
          case _ => ChunkUnknown
        }
      case INT32 | INT64 =>
        ChunkCovered(st.genericGetMin.asInstanceOf[Number].longValue(),
          st.genericGetMax.asInstanceOf[Number].longValue())
      case FLOAT | DOUBLE =>
        val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
        val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
        // a NaN endpoint means the writer's ordering disagrees with
        // ours — don't trust the range
        if (mn.isNaN || mx.isNaN) ChunkUnknown else ChunkCovered(mn, mx)
      case BINARY
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        ChunkCovered(st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8,
          st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8)
      case _ => ChunkUnknown
    }
  }

  /** Unsigned UTF-8 byte comparison — the ordering parquet footer
    * stats are computed under AND the one Spark's UTF8String binary
    * comparisons use. Java's UTF-16 `compareTo` disagrees for
    * supplementary characters (surrogates sort below U+E000..U+FFFF
    * in UTF-16 but above them in UTF-8 bytes), and a mismatched
    * comparator here wrongly prunes files → silent row loss. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[sources] def minAny(a: Any, b: Any): Any = (a, b) match {
    case (CommitLog.TsUs(x), CommitLog.TsUs(y)) => CommitLog.TsUs(math.min(x, y))
    case (x: CommitLog.DecV, y: CommitLog.DecV) =>
      if (x.scale == y.scale) CommitLog.DecV(math.min(x.unscaled, y.unscaled), x.scale)
      else if (x.toBig.compareTo(y.toBig) <= 0) x else y // exact cross-scale
    case (x: Long, y: Long) => math.min(x, y)
    case (x: Double, y: Double) => math.min(x, y)
    case (x: String, y: String) => if (utf8Compare(x, y) <= 0) x else y
    // a mixed-representation pair (cross-generation manifest) POISONS
    // the fold — returning either operand could silently drop the true
    // extremum (r16; consumers refuse MixedStat as no-evidence)
    case _ => CommitLog.MixedStat
  }

  private[sources] def maxAny(a: Any, b: Any): Any = (a, b) match {
    case (CommitLog.TsUs(x), CommitLog.TsUs(y)) => CommitLog.TsUs(math.max(x, y))
    case (x: CommitLog.DecV, y: CommitLog.DecV) =>
      if (x.scale == y.scale) CommitLog.DecV(math.max(x.unscaled, y.unscaled), x.scale)
      else if (x.toBig.compareTo(y.toBig) >= 0) x else y
    case (x: Long, y: Long) => math.max(x, y)
    case (x: Double, y: Double) => math.max(x, y)
    case (x: String, y: String) => if (utf8Compare(x, y) >= 0) x else y
    case _ => CommitLog.MixedStat
  }

  /** Three-way compare of two SAME-REPRESENTATION manifest stat values
    * under the ordering the footer stats were computed in (the one
    * Spark sorts by for these types). None for mixed or unknown
    * representations — callers must treat incomparable as no-evidence.
    * Doubles compare PRIMITIVELY so -0.0 == 0.0: Spark normalizes
    * signed zeros before sorting, and a strict footer-order
    * -0.0 < 0.0 would let top-N file exclusion treat a TIE as strict
    * domination. NaN is incomparable (never harvested, [[chunkMinMax]]
    * poisons the chunk). */
  private[sources] def cmpAny(a: Any, b: Any): Option[Int] = (a, b) match {
    case (CommitLog.TsUs(x), CommitLog.TsUs(y)) =>
      Some(java.lang.Long.compare(x, y))
    case (x: CommitLog.DecV, y: CommitLog.DecV) =>
      if (x.scale == y.scale) Some(java.lang.Long.compare(x.unscaled, y.unscaled))
      else Some(x.toBig.compareTo(y.toBig)) // exact at any scale pair
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) =>
      if (x < y) Some(-1) else if (x > y) Some(1)
      else if (x == y) Some(0) else None
    case (x: String, y: String) => Some(utf8Compare(x, y))
    case _ => None
  }

  private def deleteData(relPath: String): Unit = {
    val p = new Path(rootPath, relPath)
    fs.delete(p, false)
    // the status cache's invariant is "valid for the path's lifetime" —
    // enforce it at the moment the lifetime ends
    CommitLog.statusCache.remove(fs.makeQualified(p).toString)
  }

  /** Atomically publish `json` as version `v`; false = version taken.
    * The atomicity lives in the [[LogStore]] (pluggable per storage
    * system — see its contract); everything above this line is
    * storage-agnostic. */
  private def tryCommit(m: Manifest): Boolean = {
    fs.mkdirs(logDir)
    logStore.putIfAbsent(fs, manifestPath(m.version), ManifestCodec.encode(m))
  }

  /** The explicit spec ids a restatement of `es` must pin: every
    * tagged file's, once the table's registry exists (a restated file
    * must keep the spec it was written under, not default to the
    * current one). */
  private def specIdsOf(s: Snapshot, es: Iterable[FileEntry]): Map[String, Int] =
    if (s.specs.isEmpty) Map.empty
    else es.iterator.filter(_.partTag.isDefined).map(e => e.path -> e.specId).toMap
}

object CommitLog {
  /** Minimum age before [[CommitLog.vacuum]] reclaims a crashed
    * writer's staging dir (`.tmp-*` / `.rowlevel-*`). Younger dirs may
    * belong to a statement still between task commit and driver
    * commit; one hour is far past any single statement's window. */
  val StagingReclaimTtlMs: Long = 60L * 60 * 1000

  /** One live data file and everything the log knows about it. Every
    * fact is evidence that may be ABSENT, and absent means unknown —
    * never zero: `rows` (the exact physical row count) is absent for
    * files committed before row counts were harvested, and a column is
    * missing from `nulls` (exact per-column null counts) when any chunk
    * of it omitted numNulls. Column-keyed maps use PHYSICAL names.
    *  - `partTag`: the partition value (string form), present only for
    *    files written by the partitioned paths; `specId` is the index
    *    of the registry spec the tag was written under (0 = the
    *    create-time spec) — a tag is only meaningful under its spec;
    *  - `colStats`: footer (min, max) per column — Long, Double,
    *    String, [[TsUs]] or [[DecV]] values;
    *  - `sums`: exact column sums (Long or [[DecV]]) kept by
    *    [[CommitLog.withSumStats]]; a missing sum refuses the fold;
    *  - `liveNonNull`: a DV'd file's post-mask non-null counts;
    *  - `dvAcc`: the masked-row total that `sums` and `liveNonNull`
    *    already exclude — they are live-exact iff it equals
    *    [[maskedCount]];
    *  - `blooms`: per-column Bloom filters ([[CommitLog.withBloomIndex]]);
    *  - `dvs`: the deletion-vector sidecars masking the file's deleted
    *    row positions, in commit order; a rewrite retiring the file
    *    drops them.
    * Inside a manifest an entry states what ONE version says about the
    * file ([[restate]]). */
  final case class FileEntry(path: String, partTag: Option[String] = None,
      specId: Int = 0, rows: Option[Long] = None,
      nulls: Map[String, Long] = Map.empty,
      colStats: Map[String, (Any, Any)] = Map.empty,
      sums: Map[String, Any] = Map.empty,
      liveNonNull: Map[String, Long] = Map.empty,
      dvAcc: Option[Long] = None,
      blooms: Map[String, BloomF] = Map.empty,
      dvs: Seq[DvRef] = Nil) {
    /** Rows masked out by the DVs — EXACT: every DV find-scan reads
      * the already-masked view, so one file's sidecar position sets
      * are disjoint by construction and their counts sum. */
    def maskedCount: Long = dvs.iterator.map(_.count).sum
    /** The LIVE (post-DV) row count, when the physical count is known. */
    def liveRows: Option[Long] = rows.map(n => math.max(0L, n - maskedCount))
    /** True when `sums`/`liveNonNull` already exclude every masked row. */
    def dvAccounted: Boolean = dvAcc.contains(maskedCount)
    /** The stats block: `colStats`, `sums`, `liveNonNull`, `dvAcc`. */
    def hasStats: Boolean = colStats.nonEmpty || sums.nonEmpty ||
      liveNonNull.nonEmpty || dvAcc.isDefined
    /** This entry with manifest statement `m` folded on: each fact `m`
      * states replaces this one's (the stats block as a unit), `m`'s
      * DVs append, and `specId` is the one the fold resolved. */
    def restate(m: FileEntry, specId: Int): FileEntry = FileEntry(path,
      m.partTag.orElse(partTag), specId, m.rows.orElse(rows),
      if (m.nulls.nonEmpty) m.nulls else nulls,
      if (m.hasStats) m.colStats else colStats,
      if (m.hasStats) m.sums else sums,
      if (m.hasStats) m.liveNonNull else liveNonNull,
      if (m.hasStats) m.dvAcc else dvAcc,
      if (m.blooms.nonEmpty) m.blooms else blooms,
      dvs ++ m.dvs)
  }

  /** The folded state of the log at one version: the live files'
    * [[FileEntry]]s in commit order, plus table-level state.
    * `physRetired` lists the PHYSICAL names of dropped columns — a
    * later ADD of the same logical name must take a fresh physical
    * name or the old files' data would silently resurrect. `specs` is
    * the append-only registry of rendered partition specs the table has
    * written under (empty until the first
    * [[CommitLog.evolvePartitionSpec]] — the single-spec world). */
  final case class Snapshot(version: Long, schema: Option[StructType],
      txns: Map[String, Long], physRetired: Seq[String] = Nil,
      specs: Seq[String] = Nil,
      entries: VectorMap[String, FileEntry] = VectorMap.empty) {
    /** The live data files, in commit order. */
    lazy val files: Seq[String] = entries.keys.toVector
    /** `f`'s entry; a path that is not live reads as an entry that
      * knows nothing. */
    def entry(f: String): FileEntry = entries.getOrElse(f, FileEntry(f))
    def dvsOf(f: String): Seq[DvRef] = entry(f).dvs
    /** True when some live file carries a partition tag. */
    lazy val tagged: Boolean = entries.valuesIterator.exists(_.partTag.isDefined)
    lazy val hasDvs: Boolean = entries.valuesIterator.exists(_.dvs.nonEmpty)
    /** Registry index of the CURRENT spec (0 while the registry is
      * empty — the single-spec world). */
    def currentSpecId: Int = math.max(0, specs.size - 1)
    /** True when every file in `fs` is tagged under the CURRENT spec —
      * the admission every whole-table tag interpretation needs. */
    def allCurrentSpec(fs: Seq[String]): Boolean =
      specs.isEmpty || fs.forall(f => entry(f).specId == currentSpecId)
  }

  /** One manifest — what a single version of the log states. `files`
    * are the files the action adds (for `replace`, the whole live set);
    * `entries` hold what this version says about individual files,
    * new or already live. `retiredParts` names the partitions a
    * `replace_parts` retires; `specs` restates the spec registry and
    * `specIds` pins files' spec ids (restatements only). A checkpoint
    * restates the full folded `txns` table. Encoded and decoded only
    * by [[ManifestCodec]]. */
  private[sources] final case class Manifest(version: Long, action: String,
      files: Seq[String] = Nil, entries: Seq[FileEntry] = Nil,
      schema: Option[StructType] = None,
      txn: Option[(String, Long)] = None,
      retiredParts: Seq[String] = Nil,
      specs: Option[Seq[String]] = None,
      specIds: Map[String, Int] = Map.empty,
      physRetired: Option[Seq[String]] = None,
      checkpoint: Boolean = false,
      txns: Map[String, Long] = Map.empty,
      ts: Option[Long] = None)

  /** r18 CDC ROW LINEAGE: the hidden physical column a merge-on-read
    * UPDATE writes into its replacement files — the PRE-image row's
    * stable id (`<data-file basename>#<row ordinal>`). Invisible to
    * every normal read (explicit-schema reads select only the logical
    * columns), it lets [[CommitLog.readChanges]] with `lineage = true`
    * link each masked row to its replacement and emit
    * `update_preimage`/`update_postimage` pairs instead of an
    * unlinked delete+insert. */
  private[sources] val RowLineageCol: String = "__graft_src"

  /** StructField metadata key carrying a column's stable PHYSICAL
    * (in-file) name — the column-mapping anchor behind
    * [[CommitLog.renameColumn]]/[[CommitLog.dropColumn]]. Absent means
    * physical == logical. */
  val PhysKey: String = "graft.phys"

  /** Catalog table-property prefix for DURABLE CHECK constraints
    * ([[CommitLog.withConstraintProps]]): `constraint.<name>` = a SQL
    * boolean expression enforced on every write. */
  val ConstraintPropPrefix: String = "constraint."

  /** True when a manifest file entry is an ABSOLUTE path — a SHALLOW
    * CLONE's reference into another table's data directory ([[cloneTo]])
    * — rather than the usual table-root-relative entry. Shared with the
    * catalog's V2 scan builder, which builds file paths itself. */
  private[sources] def isExternalEntry(f: String): Boolean =
    f.startsWith("/") || f.contains(":/")

  /** The physical (in-file) name of a logical field — its [[PhysKey]]
    * metadata when the column has been renamed/re-added, else its own
    * name. Public so the catalog's V2 scan/write paths and specs can
    * translate logical↔physical without re-deriving the convention. */
  def physNameOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  sealed trait MergeMode
  case object InsertIfAbsent extends MergeMode
  case object LastWins extends MergeMode

  /** One WHEN clause of [[CommitLog.merge]] — SQL MERGE's conditional
    * actions, evaluated in declaration order (first TRUE clause wins,
    * exactly ANSI's rule). Conditions and update right-hand sides may
    * reference both rows via the aliases `t` (target) and `s` (source):
    * `col("t.qty") < col("s.qty")`. A `None` condition is
    * unconditional. */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET — assignment keys are
    * target column names; RHS evaluated against the OLD target row and
    * the matching source row (simultaneous semantics, like
    * [[CommitLog.update]]). */
  final case class WhenMatchedUpdate(set: Map[String, org.apache.spark.sql.Column],
      condition: Option[org.apache.spark.sql.Column] = None) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class WhenMatchedDelete(
      condition: Option[org.apache.spark.sql.Column] = None) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT — `values` maps target
    * column names to expressions over the source row (`s.` alias);
    * empty means INSERT * (source columns matched by name, absent ones
    * null). */
  final case class WhenNotMatchedInsert(
      condition: Option[org.apache.spark.sql.Column] = None,
      values: Map[String, org.apache.spark.sql.Column] = Map.empty) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE (r16) — target
    * rows with NO matching source row. The sync-table-to-source shape:
    * rows absent from the batch leave the table. Condition references
    * the target row only (`t.` alias or bare column names). */
  final case class WhenNotMatchedBySourceDelete(
      condition: Option[org.apache.spark.sql.Column] = None) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET (r16) —
    * assignments and condition reference the TARGET row only (there is
    * no source row to address). */
  final case class WhenNotMatchedBySourceUpdate(
      set: Map[String, org.apache.spark.sql.Column],
      condition: Option[org.apache.spark.sql.Column] = None) extends MergeClause

  /** True when `tz` denotes UTC under java.time's own equivalence —
    * "UTC", "Etc/UTC", "Z", "+00:00", "GMT" all normalize to the zero
    * offset (ADVICE r15: the literal string compare silently dropped
    * day-level pruning/admission for equivalent spellings). A
    * malformed id is simply not UTC. */
  private[sources] def zoneIsUtc(tz: String): Boolean =
    scala.util.Try(
      java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    ).getOrElse(false)

  /** What one [[CommitLog.maintain]] call did: the checkpoint version
    * it committed, the manifests its age-scoped prune deleted, and the
    * data files its vacuum reclaimed. */
  final case class Maintenance(checkpointVersion: Long,
      manifestsPruned: Int, filesVacuumed: Int)

  /** One per-file per-column Bloom filter, self-describing (so a
    * reader needs no writer config and mixed-config files coexist).
    * `era` (r17) is the column's string-form era ([[StrEraKey]]) the
    * bits were hashed under — a probe only trusts the filter when the
    * eras match, which is what lets post-widen files keep pruning
    * after a float→double widen while pre-widen files' bits stay
    * void. 0 = never-shifted (and every pre-r17 filter). */
  final case class BloomF(bits: Int, k: Int, words: Array[Long],
      era: Long = 0L)

  /** One deletion-vector sidecar reference: `path` is the table-root-
    * relative (or, on a clone, absolute) parquet sidecar holding
    * (f: data-file basename, pos: row ordinal) rows; `count` is its
    * row count — the planner's cheap size signal. */
  final case class DvRef(path: String, count: Long)

  /** Process-wide immutable-sidecar cache: absolute DV path → its
    * basename-keyed sorted positions. Sidecars are write-once (a new
    * delete writes a NEW sidecar), so entries never invalidate. */
  private[sources] val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Array[Long]]]()

  /** One cached snapshot fold: the folded state plus the identity
    * (mtime, length) of the NEWEST manifest it folded — the validity
    * witness against a table DELETED AND RECREATED at the same root
    * (version numbers restart, so "the manifest file for my version
    * exists" alone would accept a different table's log). */
  private[sources] final case class SnapEntry(
      mtime: Long, len: Long, snap: Snapshot)

  /** Process-wide INCREMENTAL snapshot-fold cache (r19): versioned
    * manifests are publish-once ([[LogStore.putIfAbsent]] — never
    * rewritten in place), so a Snapshot folded to version v is
    * immutable truth and a later [[CommitLog.snapshotAt]] need only
    * fold the manifests AFTER v onto it. Before this cache every
    * snapshot() re-read and re-parsed the WHOLE log — a k-commit
    * lifecycle statement sequence paid O(k²) manifest parses plus as
    * many filesystem round trips, which profiling showed as the bulk
    * of multi-commit queries' driver-side (off-job) wall. Concurrent
    * writers stay correct because the LISTING still decides the head
    * every time — the cache only replaces re-parsing of the already-
    * folded prefix. */
  private[sources] val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, SnapEntry]()

  /** Process-wide FileStatus cache for committed data files (r19,
    * guide §6 "manifest metadata avoids directory listing"): every
    * committed file is immutable and uniquely named (UUID prefix;
    * rewrites land NEW names), so a status fetched or recorded once is
    * valid for the path's lifetime. Write paths seed it at rename time
    * — a scan of a table this process wrote performs ZERO filesystem
    * metadata calls. Keyed by the fs-qualified path string. */
  private[graft] val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileStatus]()

  private[sources] def cacheFileStatus(st: org.apache.hadoop.fs.FileStatus): Unit = {
    if (statusCache.size > 262144) statusCache.clear() // crude bound; re-warms
    statusCache.put(st.getPath.toString, st)
  }

  /** Dedicated bounded IO pool for metadata round-trips: blocking
    * filesystem calls must not ride the CPU-sized global pool (one hung
    * call would starve it for every other user), and the "~max latency,
    * not the sum" concurrency claim only holds up to pool size — so the
    * size is an explicit IO-shaped constant, not the core count. */
  private[sources] lazy val statusIoPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(64,
        (r: Runnable) => {
          val t = new Thread(r, "graft-status-io")
          t.setDaemon(true); t
        }))

  /** Statuses for `absPaths`, cache-first; misses are independent
    * metadata round-trips fetched concurrently on [[statusIoPool]]
    * (the [[entriesFor]] discipline — ~max latency, not the sum, on
    * remote stores), with a finite deadline so one hung metadata call
    * fails the query with the paths named instead of stalling planning
    * forever. An external (shallow-clone) entry may carry its own
    * scheme/authority — it resolves against ITS filesystem, not the
    * table root's. */
  private[sources] def statusesFor(fs: org.apache.hadoop.fs.FileSystem,
      absPaths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = statusIoPool
    val futures = absPaths.map { p0 =>
      val raw = new Path(p0)
      val pfs =
        if (raw.toUri.getScheme == null) fs else raw.getFileSystem(fs.getConf)
      val q = pfs.makeQualified(raw)
      val hit = statusCache.get(q.toString)
      if (hit != null) Future.successful(hit)
      else Future {
        blocking {
          val st = pfs.getFileStatus(q)
          cacheFileStatus(st); st
        }
      }
    }
    try Await.result(Future.sequence(futures), 300.seconds)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        val sample = absPaths.take(3).mkString(", ")
        throw new java.io.IOException(
          s"timed out (300s) fetching file statuses for ${absPaths.size} " +
            s"path(s), starting with: $sample", e)
    }
  }

  /** A [[org.apache.spark.sql.execution.datasources.FileStatusCache]]
    * pre-seeded with every root path's status: the
    * `InMemoryFileIndex` built on it performs NO listing — in
    * particular not the distributed listing JOB Spark launches for
    * ≥ `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * paths, which profiling showed as a 96-task stage per scan build
    * of a well-populated partitioned table. The manifest already
    * knows the exact file set; statuses come from [[statusesFor]]. */
  private[sources] final class SeededStatusCache(
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileStatusCache {
    private val byPath = statuses.map(st => st.getPath -> Array(st)).toMap
    override def getLeafFiles(path: Path)
        : Option[Array[org.apache.hadoop.fs.FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path,
        files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** An `InMemoryFileIndex` over manifest-known files that never lists
    * or stats anything ([[SeededStatusCache]]). */
  private[sources] def seededIndex(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, absPaths: Seq[String],
      userSchema: Option[StructType])
      : org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    val statuses = statusesFor(fs, absPaths)
    new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, statuses.map(_.getPath), Map.empty, userSchema,
      new SeededStatusCache(statuses))
  }

  /** True when the frame's plan root — looking through projections and
    * partition-local sorts — is an explicit repartition/rebalance: the
    * caller deliberately shaped the batch's physical layout (e.g.
    * [[graft.operators.Layout.zOrderFrame]]'s range partition + Morton
    * sort, or a pipeline's own clustering), and the write-side
    * rebalance must not undo it. Engine-built merge plans (unions,
    * joins, filters) never end in a repartition, so they still get the
    * size-driven file shaping. */
  private[sources] def userShapedPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def strip(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => strip(c)
      case s: Sort if !s.global => strip(s.child)
      case _: RepartitionOperation => true
      case _: RebalancePartitions => true
      case _ => false
    }
    strip(df.queryExecution.analyzed)
  }

  /** True when `dt` carries no interior name mapping — struct fields
    * (at any depth, incl. inside arrays/maps) all physical == logical. */
  private[sources] def identityType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: StructType => st.fields.forall(f =>
      physNameOf(f) == f.name && identityType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => identityType(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      identityType(m.keyType) && identityType(m.valueType)
    case _ => true
  }

  /** `dt` with every struct-interior field under its PHYSICAL name,
    * metadata stripped — the in-file shape of a nested-mapped type. */
  /** True when re-executing `df`'s plan provably yields the same rows
    * — a chain of deterministic project/filter over a relation leaf.
    * Joins, aggregates, limits, samples, non-deterministic
    * expressions, and subquery-bearing predicates all return false:
    * their output can change across jobs (task retry, shuffle
    * re-execution, rand()), which is exactly what the DML input
    * materialization guards against. The trivial-scan exception keeps
    * the COMMON batch (read-project-filter) streaming through the
    * write instead of paying a full block-manager copy (review r15;
    * the same shape upstream MERGE implementations special-case). */
  private[sources] def reExecutionStable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      LocalRelation, LogicalPlan, OneRowRelation, Project, Range => LRange,
      SubqueryAlias}
    def ok(p: LogicalPlan): Boolean = (p match {
      case _: Project | _: LFilter | _: SubqueryAlias => true
      case _: LocalRelation | _: LRange | _: OneRowRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }) && p.expressions.forall(e => e.deterministic &&
      !e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])) &&
      p.children.forall(ok)
    scala.util.Try(ok(df.queryExecution.analyzed)).getOrElse(false)
  }

  /** A unit-NORMALIZED timestamp stat value: Spark-internal epoch
    * MICROS, harvested by an r15+ build (chunkMinMax's timestamp
    * branch). The DISTINCT runtime + serialized type (manifest tag
    * "ts") IS the unit marker: a pre-r15 manifest's raw-unit timestamp
    * stats parse as plain longs, which every timestamp-aware reader
    * treats as ABSENT — refusing the aggregate pushdown and keeping
    * the file in range pruning — instead of misreading a
    * configured-millis writer's stats as micros (review r15). */
  final case class TsUs(us: Long)

  /** A DECIMAL stat value: the footer's unscaled integer plus the
    * decimal scale it was written under (r16). Parquet decimal stats
    * are unscaled ints in the column's OWN scale — carrying the scale
    * makes them value-comparable (via exact BigDecimal arithmetic) to
    * bounds and stats of any other scale, so precision-widened columns
    * and mixed-scale predicate literals compare exactly instead of
    * refusing. The distinct runtime + serialized type (manifest tag
    * "dec") is the marker: a pre-r16 manifest simply has no decimal
    * stats (they were refused at harvest), so every decimal-aware
    * reader treats absence as no-evidence — keeping files in pruning
    * and refusing aggregate/top-N pushdown — never misreading.
    * Unscaled values beyond Long (precision > 18) are refused at
    * harvest. */
  final case class DecV(unscaled: Long, scale: Int) {
    def toBig: java.math.BigDecimal =
      java.math.BigDecimal.valueOf(unscaled, scale)
  }

  /** `v` as a [[DecV]], from any decimal-bearing runtime shape —
    * Spark's Decimal, either BigDecimal dialect, or an exact integer.
    * None when the unscaled value exceeds Long (precision-over-18
    * values — the fold domain is Long-backed by design) or the shape
    * carries no decimal. THE one conversion every bound/probe site
    * uses, so the refusal policy lives in exactly one place. */
  private[sources] def decVOf(v: Any): Option[DecV] = {
    def ofBig(bd: java.math.BigDecimal): Option[DecV] =
      if (bd.unscaledValue().bitLength() <= 63)
        Some(DecV(bd.unscaledValue().longValueExact(), bd.scale()))
      else None
    v match {
      case d: org.apache.spark.sql.types.Decimal => ofBig(d.toJavaBigDecimal)
      case bd: java.math.BigDecimal => ofBig(bd)
      case bd: scala.math.BigDecimal => ofBig(bd.underlying)
      case i: java.lang.Integer => Some(DecV(i.longValue, 0))
      case l: java.lang.Long => Some(DecV(l, 0))
      case _ => None
    }
  }

  /** TYPE-WIDENING evolution (r16): the wider of two scalar types when
    * one is an EXACT, value-preserving, order-preserving widening of
    * the other — `Some(wider)` — else `None`. The admitted lattice is
    * what the parquet read path converts natively (old narrow files
    * read through the widened schema with no plan-level cast) AND
    * whose manifest stat representation is unchanged across the
    * widening, so every pruning/fold surface stays sound:
    *  - the integral chain byte → short → int → long (stats are Long
    *    either way; tag/bloom string forms of equal values identical);
    *  - float → double (stats are Double either way — but the string
    *    form of a stored float CHANGES once read as double, so the
    *    widening is stamped [[WidenedStrKey]] and string-derived
    *    evidence refuses, see [[strShifted]]);
    *  - decimal precision growth at the SAME scale (DecV stats carry
    *    the scale; string/tag forms don't pad with precision). Scale
    *    growth is REFUSED: the value's cast-to-string gains trailing
    *    zeros, silently breaking bloom bits and partition tags built
    *    under the old scale.
    * Anything else — narrowing, cross-family, containers — is not a
    * widening; [[mergeStructs]] keeps refusing loudly. */
  private[sources] def widerOf(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def intRank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4
      case _ => 0
    }
    (a, b) match {
      case _ if a == b => Some(a)
      case _ if intRank(a) > 0 && intRank(b) > 0 =>
        Some(if (intRank(a) >= intRank(b)) a else b)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
        Some(if (x.precision >= y.precision) x else y)
      case _ => None
    }
  }

  /** Field-metadata marker: this column's committed type was at some
    * point widened in a way that CHANGES the cast-to-string form of
    * already-stored values (today: float → double — a stored float
    * re-read as double stringifies with more digits). Bloom bits and
    * partition tags derived before the widening used the OLD string
    * form, so string-derived evidence (bloom probes, runtime tag
    * equality) must never EXCLUDE a file for a marked column — the
    * value-domain evidence (footer min/max stats) remains exact and
    * keeps pruning. The marker is permanent: per-file write-era is not
    * tracked, so the conservative read is for the table's lifetime.
    * Exactness judges ([[GraftLogScanBuilder]]'s partition-exact
    * admission) need no marker — they fail CLOSED on any string
    * mismatch. */
  private[sources] val WidenedStrKey = "graft.widenedStr"

  /** Field-metadata key counting the column's string-shifting widens —
    * its STRING-FORM ERA (r17, VERDICT r16 #6). Each per-file bloom
    * entry records the era its bits were hashed under
    * ([[BloomF.era]]), so files written AFTER a float→double widen
    * (whose stored values already stringify in double form) keep
    * bloom-pruning point reads; only pre-widen files' bits are void.
    * A legacy boolean-only [[WidenedStrKey]] marker reads as era 1
    * (its files all carry era-0 blooms → skipped, exactly the r16
    * conservatism). Partition TAGS stay era-less: a tag names a whole
    * partition across eras, so tag equality remains void on a shifted
    * column ([[strShifted]]). */
  private[sources] val StrEraKey = "graft.strEra"

  private[sources] def strShifted(f: org.apache.spark.sql.types.StructField)
      : Boolean =
    f.metadata.contains(WidenedStrKey) && f.metadata.getBoolean(WidenedStrKey)

  /** The column's current string-form era: 0 = never shifted. */
  private[sources] def strEraOf(f: org.apache.spark.sql.types.StructField)
      : Long =
    if (f.metadata.contains(StrEraKey)) f.metadata.getLong(StrEraKey)
    else if (strShifted(f)) 1L
    else 0L

  /** True when widening `from` to `to` changes stored values' string
    * form (see [[WidenedStrKey]]). */
  private[sources] def strFormShifts(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    from == org.apache.spark.sql.types.FloatType &&
      to == org.apache.spark.sql.types.DoubleType

  /** Poison produced by folding two stat values of DIFFERENT
    * representations ([[CommitLog.minAny]]/[[maxAny]]) — e.g. a
    * pre-r15 raw-unit timestamp long against a [[TsUs]], possible only
    * on a manifest written across format generations. Every consumer
    * ([[cmpAny]], the catalog's `internal`, `statRepr`) treats it as
    * no-evidence, so a cross-generation fold REFUSES the pushdown
    * instead of silently answering from whichever operand the fold
    * happened to keep (r16 hardening; previously `minAny` returned its
    * left operand on a mixed pair). */
  case object MixedStat

  /** `dt` with every field and container marked nullable, recursively —
    * the cast-target form of a logical type ([[logicalCol]]): values
    * are untouched, only the nullability contract loosens to what the
    * parquet reader reports anyway. */
  private[sources] def relaxNulls(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, relaxNulls(f.dataType), nullable = true, f.metadata)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(
        relaxNulls(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        relaxNulls(m.keyType), relaxNulls(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** `dt` with all field METADATA stripped, recursively — the shape
    * two types must share for a write to be accepted where the table
    * side carries PhysKey mappings (array-element renames). */
  private[sources] def stripMeta(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, stripMeta(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = stripMeta(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = stripMeta(m.keyType),
        valueType = stripMeta(m.valueType))
    case other => other
  }

  private[sources] def physDataType(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physNameOf(f), physDataType(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physDataType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = physDataType(m.keyType),
        valueType = physDataType(m.valueType))
    case other => other
  }

  def apply(spark: SparkSession, tableRoot: String): CommitLog =
    new CommitLog(spark, tableRoot)

  /** Does `tableRoot` hold a commit-log table? */
  def exists(spark: SparkSession, tableRoot: String): Boolean = {
    val p = new Path(tableRoot, "_graft_log")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** The commit log's on-disk format: the one module that maps a
  * [[CommitLog.Manifest]] to and from its JSON file, and reads every log
  * file ([[readJson]]). One manifest:
  * {{{
  *   {version, action, ts, checkpoint?, files: [f],
  *    parts?: [retired partition], partSpecs?: [spec], fileSpecs?: {f: id},
  *    fileParts?: {f: tag}, fileRows?: {f: n}, fileNulls?: {f: {col: n}},
  *    fileStats?: {f: {col: {t, mn, mx, sc?}}},
  *    fileBlooms?: {f: {col: {b, k, e?, w: [word]}}},
  *    fileDvs?: {f: [{p, n}]},
  *    schema?, physRetired?: [phys], txn?: {id, epoch}, txns?: {id: epoch}}
  * }}}
  * Each per-file map lists only the files that have the fact. An
  * entry's sums, live non-null counts and DV accounting share
  * `fileStats` with the column min/max under reserved DOTTED keys —
  * `graft.sum.<col>`, `graft.nn.<col>` and `graft.dvacc`, each a
  * (v, v) pair — which no real column can shadow: footer stats are
  * harvested for dot-free (top-level) paths only. */
private[sources] object ManifestCodec {
  import CommitLog.{BloomF, DecV, DvRef, FileEntry, Manifest, TsUs}

  private val SumKeyPrefix = "graft.sum."
  private val SumNPrefix = "graft.nn."
  private val SumDvKey = "graft.dvacc"

  private val mapper = new ObjectMapper()

  /** The single reader: one log file (manifest or checkpoint hint),
    * parsed whole. */
  def readJson(fs: org.apache.hadoop.fs.FileSystem, p: Path): JsonNode = {
    val in = fs.open(p)
    try mapper.readTree(in) finally in.close()
  }

  def read(fs: org.apache.hadoop.fs.FileSystem, p: Path): Manifest =
    decode(readJson(fs, p))

  /** The `_last_checkpoint` hint naming checkpoint version `v`. */
  def hint(v: Long): String = s"""{"version":$v}"""

  def hintVersion(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    readJson(fs, p).get("version").asLong()

  /** `m` as manifest JSON, stamped with the writer's clock (`ts`,
    * what timestamp time travel resolves against). */
  def encode(m: Manifest): String = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("action", m.action)
    if (m.checkpoint) root.put("checkpoint", true)
    root.put("ts", System.currentTimeMillis())
    val fa = root.putArray("files")
    m.files.foreach(fa.add)
    if (m.retiredParts.nonEmpty) {
      val pa = root.putArray("parts"); m.retiredParts.foreach(pa.add)
    }
    m.specs.foreach { ss =>
      val pa = root.putArray("partSpecs"); ss.foreach(pa.add)
    }
    // a checkpoint of an evolved table restates the ids even when no
    // file is tagged
    if (m.specIds.nonEmpty || (m.checkpoint && m.specs.isDefined)) {
      val o = root.putObject("fileSpecs")
      m.specIds.foreach { case (f, i) => o.put(f, i) }
    }
    def section[A](name: String, facts: Seq[(String, A)])(
        put: (ObjectNode, String, A) => Unit): Unit =
      if (facts.nonEmpty) {
        val o = root.putObject(name)
        facts.foreach { case (f, a) => put(o, f, a) }
      }
    val es = m.entries
    section("fileParts", es.flatMap(e => e.partTag.map(e.path -> _)))(
      (o, f, p) => o.put(f, p))
    section("fileStats", es.filter(_.hasStats).map(e => e.path -> e))(
      (o, f, e) => putStats(o.putObject(f), e))
    section("fileRows", es.flatMap(e => e.rows.map(e.path -> _)))(
      (o, f, n) => o.put(f, n))
    section("fileNulls", es.filter(_.nulls.nonEmpty).map(e => e.path -> e.nulls)) {
      (o, f, ns) =>
        val c = o.putObject(f)
        ns.foreach { case (col, n) => c.put(col, n) }
    }
    section("fileBlooms", es.filter(_.blooms.nonEmpty).map(e => e.path -> e.blooms)) {
      (o, f, bs) =>
        val c = o.putObject(f)
        bs.foreach { case (col, b) =>
          val bo = c.putObject(col)
          bo.put("b", b.bits); bo.put("k", b.k)
          if (b.era != 0L) bo.put("e", b.era) // era 0 is written as absent
          val w = bo.putArray("w"); b.words.foreach(w.add)
        }
    }
    section("fileDvs", es.filter(_.dvs.nonEmpty).map(e => e.path -> e.dvs)) {
      (o, f, refs) =>
        val a = o.putArray(f)
        refs.foreach { r =>
          val ro = a.addObject(); ro.put("p", r.path); ro.put("n", r.count)
        }
    }
    m.schema.foreach(s => root.put("schema", s.json))
    m.physRetired.foreach { r =>
      val pr = root.putArray("physRetired"); r.foreach(pr.add)
    }
    m.txn.foreach { case (id, epoch) =>
      val t = root.putObject("txn"); t.put("id", id); t.put("epoch", epoch)
    }
    if (m.checkpoint) {
      val tn = root.putObject("txns")
      m.txns.foreach { case (id, epoch) => tn.put(id, epoch) }
    }
    mapper.writeValueAsString(root)
  }

  private def putStats(o: ObjectNode, e: FileEntry): Unit = {
    e.colStats.foreach { case (c, (mn, mx)) => putStat(o, c, mn, mx) }
    e.sums.foreach { case (c, v) => putStat(o, SumKeyPrefix + c, v, v) }
    e.liveNonNull.foreach { case (c, n) => putStat(o, SumNPrefix + c, n, n) }
    e.dvAcc.foreach(n => putStat(o, SumDvKey, n, n))
  }

  /** One typed (min, max) pair; a pair no tag can restate (mixed
    * representations, or decimals of two scales) is written empty and
    * reads back as absent. */
  private def putStat(o: ObjectNode, key: String, mn: Any, mx: Any): Unit = {
    val s = o.putObject(key)
    (mn, mx) match {
      case (TsUs(a), TsUs(b)) =>
        s.put("t", "ts"); s.put("mn", a); s.put("mx", b)
      case (a: DecV, b: DecV) if a.scale == b.scale =>
        s.put("t", "dec"); s.put("sc", a.scale)
        s.put("mn", a.unscaled); s.put("mx", b.unscaled)
      case (a: Long, b: Long)     => s.put("t", "l"); s.put("mn", a); s.put("mx", b)
      case (a: Double, b: Double) => s.put("t", "d"); s.put("mn", a); s.put("mx", b)
      case (a: String, b: String) => s.put("t", "s"); s.put("mn", a); s.put("mx", b)
      case _ => ()
    }
  }

  private def getStat(o: JsonNode): Option[(Any, Any)] =
    Option(o.get("t")).map(_.asText()) match {
      case Some("ts") => Some((TsUs(o.get("mn").asLong()), TsUs(o.get("mx").asLong())))
      case Some("dec") if o.has("sc") =>
        val sc = o.get("sc").asInt()
        Some((DecV(o.get("mn").asLong(), sc), DecV(o.get("mx").asLong(), sc)))
      case Some("l") => Some((o.get("mn").asLong(), o.get("mx").asLong()))
      case Some("d") => Some((o.get("mn").asDouble(), o.get("mx").asDouble()))
      case Some("s") => Some((o.get("mn").asText(), o.get("mx").asText()))
      case _ => None
    }

  def decode(n: JsonNode): Manifest = {
    def strs(k: String): Option[Vector[String]] =
      Option(n.get(k)).map(_.elements().asScala.map(_.asText()).toVector)
    def props(node: JsonNode): Iterator[(String, JsonNode)] =
      node.properties().asScala.iterator.map(e => e.getKey -> e.getValue)
    def section(k: String): Iterator[(String, JsonNode)] =
      Option(n.get(k)).iterator.flatMap(props)
    val files = strs("files").getOrElse(Vector.empty)
    // one entry per file the manifest mentions: `files` first, in order
    val es = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    files.foreach(f => es.getOrElseUpdate(f, FileEntry(f)))
    def upd(f: String)(g: FileEntry => FileEntry): Unit =
      es.update(f, g(es.getOrElse(f, FileEntry(f))))
    section("fileParts").foreach { case (f, v) =>
      upd(f)(_.copy(partTag = Some(v.asText()))) }
    section("fileRows").foreach { case (f, v) =>
      upd(f)(_.copy(rows = Some(v.asLong()))) }
    section("fileNulls").foreach { case (f, v) =>
      upd(f)(_.copy(nulls = props(v).map { case (c, x) => c -> x.asLong() }.toMap)) }
    section("fileStats").foreach { case (f, v) =>
      var e = es.getOrElse(f, FileEntry(f))
      props(v).foreach { case (k, o) =>
        getStat(o).foreach { case pair @ (mn, _) =>
          if (k.startsWith(SumKeyPrefix))
            e = e.copy(sums = e.sums.updated(k.drop(SumKeyPrefix.length), mn))
          else if (k.startsWith(SumNPrefix)) mn match {
            case c: Long => e = e.copy(liveNonNull =
              e.liveNonNull.updated(k.drop(SumNPrefix.length), c))
            case _ => ()
          }
          else if (k == SumDvKey) mn match {
            case c: Long => e = e.copy(dvAcc = Some(c))
            case _ => ()
          }
          else e = e.copy(colStats = e.colStats.updated(k, pair))
        }
      }
      es.update(f, e)
    }
    section("fileBlooms").foreach { case (f, v) =>
      upd(f)(_.copy(blooms = props(v).map { case (c, o) =>
        c -> BloomF(o.get("b").asInt(), o.get("k").asInt(),
          o.get("w").elements().asScala.map(_.asLong()).toArray,
          Option(o.get("e")).map(_.asLong()).getOrElse(0L))
      }.toMap))
    }
    section("fileDvs").foreach { case (f, v) =>
      upd(f)(_.copy(dvs = v.elements().asScala.map(r =>
        DvRef(r.get("p").asText(), r.get("n").asLong())).toVector))
    }
    Manifest(
      version = n.get("version").asLong(),
      action = n.get("action").asText(),
      files = files,
      entries = es.values.toVector,
      schema = Option(n.get("schema")).map(s =>
        DataType.fromJson(s.asText()).asInstanceOf[StructType]),
      txn = Option(n.get("txn")).map(t => t.get("id").asText() -> t.get("epoch").asLong()),
      retiredParts = strs("parts").getOrElse(Vector.empty),
      specs = strs("partSpecs"),
      specIds = section("fileSpecs").map { case (f, v) => f -> v.asInt() }.toMap,
      physRetired = strs("physRetired"),
      checkpoint = Option(n.get("checkpoint")).exists(_.asBoolean()),
      txns = section("txns").map { case (id, v) => id -> v.asLong() }.toMap,
      ts = Option(n.get("ts")).map(_.asLong()))
  }
}
