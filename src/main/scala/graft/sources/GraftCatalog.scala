package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path for the engine's merge semantics (SURVEY
  * A7/B2): a `TableCatalog` of parquet-directory tables whose writes go
  * through a real Catalyst write node — `df.writeTo("graft.t").append()`
  * / `.createOrReplace()` — with the
  * reference's conflict behavior (`attribute_not_exists(Id)` conditional
  * put, /root/reference/index.js:352-375) declared as TABLE properties
  * instead of a library call:
  *
  *  - `merge.keys` = comma-separated key columns
  *  - `merge.mode` = `insert-if-absent` (reference semantics, default
  *    when keys are set) | `last-wins` | `append` (plain)
  *  - `merge.partcol` = a key column whose string value partitions the
  *    table at the manifest level (requires `merge.log`): merges then
  *    read/rewrite ONLY the touched partitions
  *    ([[CommitLog.upsertPartitioned]])
  *  - `merge.log` = `true` routes writes through the versioned
  *    [[CommitLog]] — per-item-atomic under CONCURRENT writers like the
  *    reference's conditional put; the default directory-swap path is
  *    documented single-writer
  *
  * Writes are NATIVE DSv2 (r10): Catalyst validates the append against
  * the catalog schema and plans a real AppendData /
  * OverwritePartitionsDynamic node; the rows go through Spark's own V2
  * parquet FileWrite into staging (codegen, compression, task-commit
  * protocol), and the driver-side commit routes the staged files to
  * the matching commit-log operation — plain appends ADOPT the staged
  * files with zero rewrite, merge modes run
  * [[graft.operators.Upsert]] over the staged batch, and
  * `.overwritePartitions()` maps to [[CommitLog.replacePartitions]].
  *
  * Scale note: the merge itself is [[graft.operators.Upsert]]'s single
  * key-shuffle anti join; the atomic swap is a directory rename. At
  * 100 TB the target would be key-bucketed so the anti join co-locates —
  * the table layout is the caller's via `merge.keys`-aligned bucketing
  * ([[graft.operators.Sinks.writeBucketed]]).
  *
  * Configure: `spark.sql.catalog.graft = graft.sources.GraftCatalog`,
  * `spark.sql.catalog.graft.warehouse = /some/dir`.
  */
final class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = _
  private var warehouse: String = _

  /** SQL `CALL graft.system.<proc>(…)` — commit-log maintenance
    * ([[GraftProcedures]]: optimize, optimize_partitions, compact,
    * prune, vacuum, history). Any single-level namespace is accepted
    * (`system` by convention). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray

  /** The catalog's V2 functions ([[GraftFunctions]]): `days`, the
    * partition transform Spark must resolve to USE a reported
    * `KeyGroupedPartitioning(days(ts))` — without a loadable bound
    * function the planner silently drops the grouping and the join
    * shuffles. Any namespace is accepted (Spark probes the transform
    * name with an empty one). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase(GraftFunctions.DaysName))
      GraftFunctions.DaysUnbound
    else if (ident.name.equalsIgnoreCase(GraftFunctions.BucketName))
      GraftFunctions.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, GraftFunctions.DaysName),
      Identifier.of(namespace, GraftFunctions.BucketName))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: 'warehouse' option is required"))
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def dir(ident: Identifier): Path =
    new Path((warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaPath(ident: Identifier) = new Path(dir(ident), "_graft_table.json")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .filter(id => fs.exists(metaPath(id)))
  }

  override def loadTable(ident: Identifier): Table =
    loadWith(ident, None, None)

  /** SQL time travel, `SELECT … FROM graft.t VERSION AS OF 3` — the
    * analyzer routes the version literal here. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadWith(ident,
      Some(scala.util.Try(version.toLong).getOrElse(throw new IllegalArgumentException(
        s"$ident: VERSION AS OF '$version' — graft versions are numeric"))),
      None)

  /** SQL time travel, `… TIMESTAMP AS OF '2026-01-01'` — Spark hands
    * the bound as epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadWith(ident, None, Some(timestamp / 1000L))

  private def loadWith(ident: Identifier, asOfVersion: Option[Long],
      asOfTsMillis: Option[Long]): Table = {
    val mp = metaPath(ident)
    if (!fs.exists(mp)) throw new NoSuchTableException(ident)
    val in = fs.open(mp)
    val raw = try {
      val bytes = new Array[Byte](fs.getFileStatus(mp).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(raw)
    val declared = DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType]
    val props = node.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val root = dir(ident).toString
    // commit-log tables resolve against the (possibly pinned) snapshot
    // schema — upserts may have evolved it past the declared one
    val schema =
      if (CommitLog.exists(spark, root)) {
        val log = CommitLog(spark, root)
        val snap = asOfVersion match {
          case Some(v) =>
            val s = log.snapshotAt(v)
            require(s.version == v, s"$ident: version $v not in the log")
            s
          case None => asOfTsMillis match {
            case Some(t) => log.snapshotAt(log.versionAtTime(t))
            case None => log.snapshot()
          }
        }
        snap.schema.getOrElse(declared)
      } else {
        require(asOfVersion.isEmpty && asOfTsMillis.isEmpty,
          s"$ident: time travel requires merge.log=true (versioned commit log)")
        declared
      }
    new GraftMergeTable(ident.toString, root, schema, props,
      asOfVersion, asOfTsMillis)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (fs.exists(metaPath(ident))) throw new TableAlreadyExistsException(ident)
    val props0 = properties.asScala.toMap
      .filterNot { case (k, _) => k == TableCatalog.PROP_OWNER }
    // PARTITIONED BY (...) is sugar for merge.partcol: an ordered list
    // of top-level identity columns and/or days(col) transforms maps
    // onto the manifest-level partition SPEC ([[PartSpec]] — every
    // write lands partition-tagged, merges/overwrites scope to touched
    // partitions). Other transforms stay refused — the layout unit
    // here is the manifest tag, not a directory tree.
    val partProp: Option[String] = partitions.toSeq match {
      case Seq() => None
      case ts =>
        val keyStrs = ts.map { t =>
          def oneCol(what: String): String = {
            require(t.references.length == 1
                && t.references()(0).fieldNames().length == 1,
              s"$ident: PARTITIONED BY $what supports one TOP-LEVEL " +
                s"column, got ${t.describe}")
            val c = t.references()(0).fieldNames().head
            require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
              s"$ident: partition column '$c' is not in the table schema")
            c
          }
          def intArg(what: String): Int = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue
          }.getOrElse(throw new UnsupportedOperationException(
            s"$ident: $what needs an integer argument, got ${t.describe}"))
          t.name.toLowerCase(java.util.Locale.ROOT) match {
            case "identity" => oneCol("(col)")
            case "days" => s"days(${oneCol("(days(col))")})"
            case "hours" => s"hours(${oneCol("(hours(col))")})"
            case "months" => s"months(${oneCol("(months(col))")})"
            case "years" => s"years(${oneCol("(years(col))")})"
            case "bucket" => s"bucket(${intArg("bucket")},${oneCol("(bucket(n, col))")})"
            case "truncate" => s"truncate(${intArg("truncate")},${oneCol("(truncate(w, col))")})"
            case other => throw new UnsupportedOperationException(
              s"$ident: unsupported partition transform '$other' — " +
                "identity, days/hours/months/years, bucket(n, col) and " +
                "truncate(w, col) are supported")
          }
        }
        val rendered = PartSpec.parse(keyStrs.mkString(",")).render
        require(props0.get("merge.partcol").forall(p =>
            scala.util.Try(PartSpec.parse(p).render
              .equalsIgnoreCase(rendered)).getOrElse(false)),
          s"$ident: PARTITIONED BY ($rendered) conflicts with " +
            s"merge.partcol=${props0.getOrElse("merge.partcol", "")}")
        require(props0.get("merge.log").forall(_ == "true"),
          s"$ident: partitioned tables need merge.log=true (partition " +
            "tags live in the commit-log manifests)")
        Some(rendered)
    }
    val props = partProp.fold(props0)(c =>
      props0 + ("merge.partcol" -> c) + ("merge.log" -> "true"))
    // durable CHECK constraints (`constraint.<name>` = SQL boolean
    // expression) are enforced through the commit-log write paths —
    // refuse them on plain directory tables, and catch an expression
    // that does not even resolve against the declared schema NOW
    // rather than on the first write
    val constraintProps =
      props.filter(_._1.startsWith(CommitLog.ConstraintPropPrefix))
    if (constraintProps.nonEmpty) {
      require(props.get("merge.log").contains("true"),
        s"$ident: constraint.* table properties require merge.log=true " +
          "(CHECK constraints are enforced by the commit-log write paths)")
      GraftCatalog.checkConstraintExprs(spark, ident.toString, schema,
        constraintProps)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("schema", schema.json)
    val pn = root.putObject("properties")
    props.foreach { case (k, v) => pn.put(k, v) }
    fs.mkdirs(dir(ident))
    val out = fs.create(metaPath(ident), true)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
    new GraftMergeTable(ident.toString, dir(ident).toString, schema, props)
  }

  /** SQL DDL: `ALTER TABLE … ADD COLUMNS` (nullable, appended — a
    * metadata-only change: old files read null, the additive-evolution
    * contract writes already follow; r12: `parent.child` paths add a
    * nested field at the end of an existing struct column, commit-log
    * tables only) and
    * `SET/UNSET TBLPROPERTIES`. For commit-log tables the schema
    * change COMMITS as an empty-`add` version first
    * ([[CommitLog.addColumns]]), so versioned readers and time travel
    * see it like any write-driven evolution; the declared-schema json
    * then follows. `merge.log`/`merge.partcol` cannot be altered —
    * flipping versioning or the partition tagging of EXISTING data
    * would silently change read/maintenance semantics (recreate the
    * table through a partitioned rewrite instead). Everything else
    * (rename/drop/retype a column, positions) is refused loudly:
    * without per-column IDs in the files, a rename silently orphans
    * the old files' data. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange._
    import org.apache.spark.sql.types.StructField
    val mp = metaPath(ident)
    if (!fs.exists(mp)) throw new NoSuchTableException(ident)
    val in = fs.open(mp)
    val raw = try {
      val bytes = new Array[Byte](fs.getFileStatus(mp).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(raw)
    var schema = DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType]
    var props = node.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val frozen = Set("merge.log", "merge.partcol")
    val added = scala.collection.mutable.ArrayBuffer.empty[StructField]
    // the merge surface addresses these columns by name in table
    // properties — renaming/dropping one underneath would silently
    // break every subsequent merge
    def requireNotStructural(colName: String, op: String): Unit = {
      val structural =
        props.get("merge.partcol").toSeq.map(_.trim).filter(_.nonEmpty)
          .flatMap(p => scala.util.Try(PartSpec.parse(p).sourceColumns)
            .getOrElse(Seq(p))) ++
          props.get("merge.keys").toSeq.flatMap(_.split(","))
            .map(_.trim).filter(_.nonEmpty)
      require(!structural.exists(_.equalsIgnoreCase(colName)),
        s"$ident: cannot $op column '$colName' — it is referenced by " +
          "merge.keys/merge.partcol; recreate the table instead")
    }
    changes.foreach {
      case a: AddColumn if a.fieldNames.length > 1 =>
        // NESTED add (r12): a new nullable field at the end of an
        // existing struct column — commit-log tables only (the log
        // version carries the evolution for time travel; a plain
        // directory table has no history to pin it to)
        require(a.position() == null,
          s"$ident: ADD COLUMNS FIRST/AFTER is not supported — " +
            "new columns append at the end (old files have no value to reorder)")
        require(a.isNullable,
          s"$ident: added column '${a.fieldNames.mkString(".")}' must be " +
            "nullable — existing rows have no value for it")
        val root = dir(ident).toString
        require(CommitLog.exists(spark, root),
          s"$ident: nested ADD COLUMNS requires merge.log=true — a plain " +
            "directory table has no version history to carry the evolution")
        val f0 = StructField(a.fieldNames.last, a.dataType(), nullable = true)
        val log = CommitLog(spark, root)
        log.addNestedColumn(a.fieldNames.init.toSeq,
          Option(a.comment()).fold(f0)(f0.withComment))
        schema = log.snapshot().schema.getOrElse(schema)
      case a: AddColumn =>
        require(a.position() == null,
          s"$ident: ADD COLUMNS FIRST/AFTER is not supported — " +
            "new columns append at the end (old files have no value to reorder)")
        require(a.isNullable,
          s"$ident: added column '${a.fieldNames.head}' must be nullable — " +
            "existing rows have no value for it")
        val f0 = StructField(a.fieldNames.head, a.dataType(), nullable = true)
        added += Option(a.comment()).fold(f0)(f0.withComment)
      case sp: SetProperty =>
        // r18: merge.partcol is no longer frozen — changing it is
        // PARTITION-SPEC EVOLUTION, a metadata-only commit routed
        // through the log (per-file spec ids keep every existing tag
        // interpretable; zero data files move). merge.log stays frozen.
        if (sp.property == "merge.partcol") {
          val to = sp.value.trim
          require(to.nonEmpty,
            s"$ident: cannot evolve to an EMPTY partition spec — " +
              "un-partitioning existing tags is a rewrite, not metadata")
          val root = dir(ident).toString
          require(CommitLog.exists(spark, root),
            s"$ident: merge.partcol evolution requires merge.log=true")
          val log = CommitLog(spark, root)
          // the REGISTRY is authoritative when it exists — a table
          // evolved through the library leaves the property stale, and
          // this ALTER must be able to resync it: `to` == the
          // registry's current spec is a property-only no-op, anything
          // else evolves FROM the registry's current (never the stale
          // property). Only a never-evolved table trusts the property.
          val registry = log.snapshot().specs
          val from =
            if (registry.nonEmpty) registry.last
            else props.get("merge.partcol").map(_.trim).filter(_.nonEmpty)
              .getOrElse(throw new IllegalArgumentException(
                s"$ident: the table has no partition spec to evolve — " +
                  "recreate it partitioned instead"))
          // `to` == the current spec is a property-only no-op on BOTH
          // paths — idempotent DDL scripts must not trip the "new spec
          // equals the current one" refusal on a never-evolved table
          // (ADVICE r18)
          val curRendered =
            if (registry.nonEmpty) registry.last
            else scala.util.Try(PartSpec.parse(from).render).getOrElse(from)
          val resyncOnly = scala.util.Try(PartSpec.parse(to).render).toOption
            .contains(curRendered)
          if (!resyncOnly) log.evolvePartitionSpec(from, to)
        } else require(!frozen(sp.property),
          s"$ident: '${sp.property}' cannot be altered after creation")
        if (sp.property.startsWith(CommitLog.ConstraintPropPrefix)) {
          // adding a durable CHECK constraint: logged tables only, the
          // expression must resolve against the current schema, and the
          // EXISTING rows must already satisfy it (Delta's ADD
          // CONSTRAINT scan) — an invariant the table violates must
          // fail here, not on some later unrelated write
          val root = dir(ident).toString
          require(CommitLog.exists(spark, root),
            s"$ident: '${sp.property}' requires merge.log=true (CHECK " +
              "constraints are enforced by the commit-log write paths)")
          val log = CommitLog(spark, root)
          // resolve against the LOG's schema (write-driven evolution may
          // have outrun the declared json) — this is the loud gate for a
          // typo'd column (validateConstraints deliberately skips
          // non-resolving constraints, because batches may omit columns)
          GraftCatalog.checkConstraintExprs(spark, ident.toString,
            log.snapshot().schema.getOrElse(schema),
            Map(sp.property -> sp.value))
          log.withConstraint(
              sp.property.stripPrefix(CommitLog.ConstraintPropPrefix),
              org.apache.spark.sql.functions.expr(sp.value))
            .validateTableConstraints()
        }
        props = props.updated(sp.property, sp.value)
      case rp: RemoveProperty =>
        require(!frozen(rp.property),
          s"$ident: '${rp.property}' cannot be altered after creation")
        props = props - rp.property
      case rn: RenameColumn =>
        // r13: nested paths supported — the rename stamps the mapping
        // on the struct-interior field (r15: array<struct> elements
        // and map<_,struct> values too; map keys refused by the log's
        // path walk)
        // structural names (merge.keys/partcol) are TOP-LEVEL columns:
        // only a top-level rename can break them
        if (rn.fieldNames.length == 1)
          requireNotStructural(rn.fieldNames.head, "RENAME")
        val root = dir(ident).toString
        require(CommitLog.exists(spark, root),
          s"$ident: RENAME COLUMN requires merge.log=true — a plain " +
            "directory table has no version history to carry the " +
            "column mapping (recreate via a rewrite instead)")
        // the log commit is the source of truth (it pins the stable
        // physical name); the declared json then mirrors its schema
        val log = CommitLog(spark, root)
        log.renameColumn(rn.fieldNames.toSeq, rn.newName())
        schema = log.snapshot().schema.getOrElse(schema)
      case del: DeleteColumn =>
        if (del.fieldNames.length == 1)
          requireNotStructural(del.fieldNames.head, "DROP")
        val root = dir(ident).toString
        require(CommitLog.exists(spark, root),
          s"$ident: DROP COLUMN requires merge.log=true — a plain " +
            "directory table has no version history to retire the " +
            "column against (recreate via a rewrite instead)")
        val log = CommitLog(spark, root)
        log.dropColumn(del.fieldNames.toSeq)
        schema = log.snapshot().schema.getOrElse(schema)
      case ut: UpdateColumnType =>
        // r17: widen-by-DDL before the backfill arrives (Delta's ALTER
        // COLUMN TYPE, Iceberg's updateColumn) — one metadata-only
        // commit through the same lattice a wide write uses; anything
        // non-widening refuses loudly inside [[CommitLog
        // .widenColumnType]]
        val root = dir(ident).toString
        require(CommitLog.exists(spark, root),
          s"$ident: ALTER COLUMN TYPE requires merge.log=true — a plain " +
            "directory table has no version history to carry the " +
            "widened schema (recreate via a rewrite instead)")
        val log = CommitLog(spark, root)
        log.widenColumnType(ut.fieldNames.toSeq, ut.newDataType())
        schema = log.snapshot().schema.getOrElse(schema)
      case other => throw new UnsupportedOperationException(
        s"$ident: unsupported ALTER TABLE change " +
          s"${other.getClass.getSimpleName} — supported: ADD COLUMNS " +
          "(top-level, nullable, appended), RENAME/DROP COLUMN and " +
          "ALTER COLUMN TYPE <wider> (commit-log tables), and " +
          "SET/UNSET TBLPROPERTIES")
    }
    if (added.nonEmpty) {
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val names = schema.map(f => lc(f.name)).toSet
      val dups = added.filter(f => names(lc(f.name))) ++
        added.groupBy(f => lc(f.name)).filter(_._2.size > 1).values.flatten
      require(dups.isEmpty,
        s"$ident: ADD COLUMNS collides on: ${dups.map(_.name).distinct.mkString(", ")}")
      val root = dir(ident).toString
      // the log commit goes FIRST: it carries the race/validation
      // checks, and a failure must leave the declared json untouched
      if (CommitLog.exists(spark, root)) {
        val log = CommitLog(spark, root)
        log.addColumns(StructType(added.toSeq))
        // mirror the LOG's schema (like the RENAME/DROP branches): a
        // post-drop re-add takes a suffixed physical name there, and
        // persisting the raw fields would leave the declared json
        // binding the wrong physical name for any consumer reading it
        // directly (loadWith shadows it with the log snapshot today,
        // but the persisted metadata should not lie) — ADVICE r11
        schema = log.snapshot().schema
          .getOrElse(StructType(schema.fields ++ added))
      } else schema = StructType(schema.fields ++ added)
    }
    val out = mapper.createObjectNode()
    out.put("schema", schema.json)
    val pn = out.putObject("properties")
    props.foreach { case (k, v) => pn.put(k, v) }
    // publish via temp-file + atomic overwriting rename (the same
    // discipline as the commit log's manifest publish): an in-place
    // fs.create could crash mid-write and truncate the metadata file,
    // leaving the table unreadable even though the log commit above
    // already succeeded. FileContext.rename(OVERWRITE) is atomic on
    // file: and HDFS-class stores. DDL is SINGLE-WRITER by assumption
    // — concurrent ALTERs are last-writer-wins on the declared json
    // (the commit log's own CAS still serializes the versioned schema
    // history; only the declared-schema cache can lose an update).
    val tmp = new Path(mp.getParent,
      s".${mp.getName}.tmp-${java.util.UUID.randomUUID()}")
    val os = fs.create(tmp, true)
    try os.write(mapper.writeValueAsBytes(out)) finally os.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, mp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    fs.exists(metaPath(ident)) && fs.delete(dir(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!fs.exists(metaPath(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (fs.exists(metaPath(newIdent))) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(dir(oldIdent), dir(newIdent)))
      throw new java.io.IOException(s"rename $oldIdent -> $newIdent failed")
  }
}

/** A parquet-directory table whose appends merge per `merge.mode`.
  * Data lives under `<path>/data` (sidecar metadata stays out of the
  * parquet listing); reads go through [[GraftMergeTable.read]]. */
private[sources] final class GraftMergeTable(ident: String, path: String,
    schema0: StructType, props: Map[String, String],
    asOfVersion: Option[Long] = None, asOfTsMillis: Option[Long] = None)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private val dataPath = s"$path/data"

  /** The table's root path / properties — for [[GraftMorMergeCommand]],
    * which routes eligible SQL MERGE INTO statements through the
    * library's [[CommitLog.merge]] (merge-on-read first). */
  private[sources] def tablePath: String = path
  private[sources] def tableProps: Map[String, String] = props
  private[sources] def isTimeTravel: Boolean =
    asOfVersion.isDefined || asOfTsMillis.isDefined

  /** SQL `UPDATE` / `MERGE INTO` (and DELETEs whose predicate the
    * filter path refuses, e.g. subqueries): the group-based
    * copy-on-write row-level contract. Spark rewrites the statement
    * into a plan producing the table's FULL replacement content — the
    * scan is [[GraftLogScanBuilder]] (manifest-pruned vectorized
    * parquet), the write is Spark's own V2 parquet FileWrite into a
    * staging dir, committed as a `replace` with version-conflict
    * detection ([[CommitLog.commitStagedReplace]]): serializable or a
    * loud error, never a silent lost update. The SCALE path for huge
    * tables remains the library surface (`CommitLog.merge`/`update`),
    * whose source-driven pruning rewrites only touched files; the SQL
    * statement rewrites the table (the no-runtime-filtering group =
    * everything), which is the honest cost of the generic plan. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOfVersion.isEmpty && asOfTsMillis.isEmpty,
      s"$ident: cannot run a row-level operation on a time-travel snapshot")
    require(CommitLog.exists(SparkSession.active, path),
      s"$ident: SQL row-level operations require merge.log=true (versioned commit log)")
    () => new GraftRowLevelOperation(ident, path, info.command(),
      props.get("merge.partcol").map(_.trim).filter(_.nonEmpty), props)
  }

  /** SQL `DELETE FROM graft.t WHERE …` — filter-based DSv2 delete over
    * commit-log tables, routed to [[CommitLog.delete]]'s three-layer
    * copy-on-write (manifest-stats candidates → predicate FIND scan →
    * touched-file rewrite), so a predicate-local SQL delete rewrites
    * only the files that hold matches. Accepted only when EVERY pushed
    * predicate translates to the library condition (else Spark reports
    * the delete as unsupported rather than half-applying it), the
    * table is logged, and no time-travel pin is active. An empty WHERE
    * (delete everything) truncates via one empty `replace` commit
    * instead of rewriting files to empty shells. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOfVersion.isEmpty && asOfTsMillis.isEmpty &&
      CommitLog.exists(SparkSession.active, path) &&
      filters.forall(f => GraftMergeTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    require(CommitLog.exists(spark, path),
      s"$ident: SQL DELETE requires merge.log=true (versioned commit log)")
    val log = CommitLog(spark, path)
    val partCol = props.get("merge.partcol").map(_.trim).filter(_.nonEmpty)
    val conds = filters.map(f => GraftMergeTable.filterToColumn(f).getOrElse(
      throw new IllegalArgumentException(s"$ident: unsupported DELETE predicate $f")))
    if (conds.isEmpty) { truncateTable(); () }
    else log.delete(conds.reduce(_ && _), partCol)
  }

  /** SQL `TRUNCATE TABLE graft.t` — one empty `replace` commit; every
    * prior version stays time-travel-reachable. */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    require(CommitLog.exists(spark, path),
      s"$ident: SQL TRUNCATE requires merge.log=true (versioned commit log)")
    val log = CommitLog(spark, path)
    val sch = log.snapshot().schema.getOrElse(schema0)
    log.replaceAll(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
    true
  }

  override def name(): String = ident
  override def schema(): StructType = schema0
  override def properties(): JMap[String, String] = props.asJava

  /** Advertise the manifest-level partition column (DESCRIBE shows it;
    * created via PARTITIONED BY or merge.partcol — same thing). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    props.get("merge.partcol").map(_.trim).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(PartSpec.parse(s)).toOption)
      .map(_.keys.map {
        case PartSpec.Key(c, PartSpec.Identity) =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        case PartSpec.Key(c, PartSpec.Days) =>
          org.apache.spark.sql.connector.expressions.Expressions.days(c)
        case PartSpec.Key(c, PartSpec.Hours) =>
          org.apache.spark.sql.connector.expressions.Expressions.hours(c)
        case PartSpec.Key(c, PartSpec.Months) =>
          org.apache.spark.sql.connector.expressions.Expressions.months(c)
        case PartSpec.Key(c, PartSpec.Years) =>
          org.apache.spark.sql.connector.expressions.Expressions.years(c)
        case PartSpec.Key(c, PartSpec.Bucket(n)) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
        case PartSpec.Key(c, PartSpec.Truncate(w)) =>
          org.apache.spark.sql.connector.expressions.Expressions.apply("truncate",
            org.apache.spark.sql.connector.expressions.Expressions.literal(w),
            org.apache.spark.sql.connector.expressions.Expressions.column(c))
      }.toArray[org.apache.spark.sql.connector.expressions.Transform])
      .getOrElse(Array.empty)

  // Native DSv2 writes (r10, replacing the V1Write bridge): BATCH_WRITE
  // + OVERWRITE_DYNAMIC unlock `.overwritePartitions()` / dynamic
  // INSERT OVERWRITE in SQL, which the V1 bridge rejected at analysis.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE)

  /** DSv2 READ: commit-log tables scan the snapshot's live file list
    * through [[GraftLogScanBuilder]] (Spark's own vectorized parquet
    * scan underneath — full filter/column pushdown — plus manifest
    * stats + bloom FILE skipping on the pushed predicates, and
    * `versionAsOf` / `timestampAsOf` read options for time travel:
    * `spark.read.option("versionAsOf", 3).table("graft.t")`). Plain
    * directory tables scan `data/` as ordinary parquet. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val spark = SparkSession.active
    val optVersion = Option(options.get("versionAsOf")).map(v =>
      scala.util.Try(v.toLong).getOrElse(throw new IllegalArgumentException(
        s"$ident: versionAsOf '$v' must be numeric"))).orElse(asOfVersion)
    val optTs = Option(options.get("timestampAsOf"))
      .map(GraftLogSource.parseTsMillis).orElse(asOfTsMillis)
    require(optVersion.isEmpty || optTs.isEmpty,
      s"$ident: versionAsOf and timestampAsOf are mutually exclusive")
    if (CommitLog.exists(spark, path))
      // column-mapped (renamed) tables included — the builder
      // translates logical ↔ physical names at the scan boundary
      GraftLogSource.snapshotScanBuilder(path, optVersion, optTs,
        schema0, options,
        partCol = props.get("merge.partcol").map(_.trim).filter(_.nonEmpty))
    else {
      require(optVersion.isEmpty && optTs.isEmpty,
        s"$ident: time travel requires merge.log=true (versioned commit log)")
      val fsc = new Path(dataPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val paths = if (fsc.exists(new Path(dataPath))) Seq(dataPath) else Nil
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
          s"$ident data", spark, options, paths, Some(schema0),
          classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
        .newScanBuilder(options)
    }
  }

  private def keys: Seq[String] =
    props.get("merge.keys").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private def mode: String =
    props.getOrElse("merge.mode", if (keys.nonEmpty) "insert-if-absent" else "append")

  /** Native DSv2 write (r10): the rows go through Spark's OWN V2
    * parquet FileWrite into a staging dir (codegen'd writer, task
    * commit protocol, speculation-safe — the same delegate the
    * row-level path uses), and the driver-side commit routes the
    * staged files to the right commit-log operation. Plain appends on
    * un-tagged logged tables ADOPT the staged files directly
    * ([[CommitLog.commitStagedAdd]] — zero rewrite, the batch is
    * written exactly once); merge modes and partitioned routes read
    * the staged batch back (columnar, local) and run the same
    * spec-pinned library operations the V1 bridge ran, so write
    * semantics are unchanged. `.overwritePartitions()` — which the V1
    * bridge could not express — maps to
    * [[CommitLog.replacePartitions]] (dynamic partition overwrite). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfVersion.isEmpty && asOfTsMillis.isEmpty,
      s"$ident: cannot write to a time-travel snapshot")
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var overwrite = false
      private var dynamic = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }
      override def build(): Write = {
        if (dynamic) {
          require(logged && props.get("merge.partcol").exists(_.trim.nonEmpty),
            s"$ident: dynamic partition overwrite needs merge.log=true and " +
              "merge.partcol (the manifest-level partition column)")
        }
        buildNativeWrite(info, overwrite, dynamic)
      }
    }
  }

  private def buildNativeWrite(info0: LogicalWriteInfo,
      overwrite: Boolean, dynamic: Boolean): Write = {
    val spark = SparkSession.active
    // exact (untruncated) footer stats on the staged files — the
    // commit log harvests them as exact values
    val info = GraftMergeTable.withExactStats(info0)
    val staging = s"$path/.tmp-v2write-${java.util.UUID.randomUUID()}"
    val inner = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        s"$ident v2write", spark,
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
        List(staging), Some(info.schema()),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .newWriteBuilder(info).build()
    new Write {
      override def description(): String = s"graft-v2write $ident"
      override def toBatch: BatchWrite = new BatchWrite {
        private val delegate = inner.toBatch
        override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
          delegate.createBatchWriterFactory(pi)
        override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          delegate.commit(messages) // files land under staging/
          val sess = SparkSession.active
          try {
            val partCol = props.get("merge.partcol").map(_.trim).filter(_.nonEmpty)
            // Read the staged batch back by EXPLICIT file list, not the
            // directory: the dot-named staging dir trips Spark's
            // hidden-path check and WARNs "All paths were ignored" on
            // every read (warning-only — the paths are still used), and
            // a zero-row staged commit (e.g. limit(0).writeTo(...)
            // .create()) would additionally run a pointless distributed
            // scan of an empty dir — synthesize that from the declared
            // schema instead.
            def stagedDf: DataFrame = {
              val sp = new Path(staging)
              val sfs = sp.getFileSystem(sess.sparkContext.hadoopConfiguration)
              val dataFiles =
                if (!sfs.exists(sp)) Nil
                else sfs.listStatus(sp).toSeq.filter { st =>
                  val n = st.getPath.getName
                  st.isFile && !n.startsWith("_") && !n.startsWith(".")
                }.map(_.getPath.toString)
              if (dataFiles.nonEmpty)
                sess.read.schema(info.schema()).parquet(dataFiles: _*)
              else sess.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                info.schema())
            }
            if (dynamic) {
              CommitLog(sess, path).withConstraintProps(props)
                .replacePartitions(stagedDf, partCol.get)
            } else if (logged && !overwrite && mode == "append" && partCol.isEmpty) {
              // zero-rewrite adoption: the staged task outputs BECOME
              // the table's new files, one metadata commit
              CommitLog(sess, path).withConstraintProps(props)
                .commitStagedAdd(staging, info.schema())
            } else {
              insert(stagedDf, overwrite)
            }
          } finally {
            val p = new Path(staging)
            p.getFileSystem(sess.sparkContext.hadoopConfiguration).delete(p, true)
          }
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          try delegate.abort(messages)
          finally {
            val p = new Path(staging)
            p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
        }
      }
    }
  }

  private def exists(data: DataFrame): Boolean = {
    val fs = new Path(dataPath)
      .getFileSystem(data.sparkSession.sparkContext.hadoopConfiguration)
    fs.exists(new Path(dataPath))
  }

  private def logged: Boolean = props.get("merge.log").contains("true")

  private def insert(data: DataFrame, overwrite: Boolean): Unit = {
    import graft.operators.{Sinks, Upsert}
    // Catalyst has already matched `data` to the declared schema (that
    // is what the catalog buys over a path write); column order is
    // normalized here only so parquet files stay field-order stable.
    val aligned = data.select(schema0.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    val partCol = props.get("merge.partcol").map(_.trim).filter(_.nonEmpty)
    require(partCol.isEmpty || logged,
      s"$ident: merge.partcol requires merge.log=true (partition-scoped " +
        "merges live in the commit log)")
    if (logged) {
      // merge.log=true: writes go through the versioned commit log —
      // per-table serialization under CONCURRENT writers (the
      // reference's conditional-put guarantee, which the plain
      // directory-swap path below does not give). merge.partcol scopes
      // every merge to the touched partitions (CommitLog.upsertPartitioned).
      val log = CommitLog(data.sparkSession, path).withConstraintProps(props)
      if (overwrite)
        // truncate()/createOrReplace is whole-table; the partitioned
        // form keeps the tags so scoped merges stay usable. The
        // partition-scoped overwrite (replace only the partitions in
        // the data) is the library call CommitLog.replacePartitions —
        // Spark's analyzer blocks .overwritePartitions() on V1 writes.
        partCol.fold(log.replaceAll(aligned): Unit)(p =>
          log.replaceAllPartitioned(aligned, p))
      else mode match {
        case "append" =>
          partCol.fold(log.append(aligned): Unit)(p =>
            log.appendPartitioned(aligned, p))
        case "insert-if-absent" =>
          require(keys.nonEmpty, s"$ident: merge.mode=$mode requires merge.keys")
          partCol.fold(log.upsert(aligned, keys, CommitLog.InsertIfAbsent): Unit)(
            p => log.upsertPartitioned(aligned, keys, CommitLog.InsertIfAbsent, p))
        case "last-wins" =>
          require(keys.nonEmpty, s"$ident: merge.mode=$mode requires merge.keys")
          partCol.fold(log.upsert(aligned, keys, CommitLog.LastWins): Unit)(
            p => log.upsertPartitioned(aligned, keys, CommitLog.LastWins, p))
        case other =>
          throw new IllegalArgumentException(
            s"$ident: unknown merge.mode '$other' (append | insert-if-absent | last-wins)")
      }
      return
    }
    val target = if (overwrite || !exists(data)) None
      else Some(data.sparkSession.read.schema(schema0).parquet(dataPath))
    (mode, target) match {
      case (_, None) => Sinks.writeAtomic(aligned, dataPath)
      case ("append", Some(_)) =>
        aligned.write.mode("append").parquet(dataPath)
      case ("insert-if-absent", Some(t)) =>
        require(keys.nonEmpty, s"$ident: merge.mode=$mode requires merge.keys")
        Sinks.writeAtomic(Upsert.insertIfAbsent(t, aligned, keys), dataPath)
      case ("last-wins", Some(t)) =>
        require(keys.nonEmpty, s"$ident: merge.mode=$mode requires merge.keys")
        Sinks.writeAtomic(Upsert.lastWins(t, aligned, keys), dataPath)
      case (other, _) =>
        throw new IllegalArgumentException(
          s"$ident: unknown merge.mode '$other' (append | insert-if-absent | last-wins)")
    }
  }
}

/** DSv2 scan over a [[CommitLog]] table: the snapshot's live file list
  * (optionally pinned by version / timestamp time travel) fed into
  * Spark's OWN parquet scan — so SQL readers get the vectorized
  * reader, whole-stage codegen, and full filter/column pushdown —
  * with one extra layer the stock scan cannot have: the pushed
  * predicates first prune WHOLE FILES against the manifest's min/max
  * stats and Bloom filters ([[CommitLog.candidateFilesForExprs]]),
  * before any footer is opened. That is [[CommitLog.readRange]] /
  * [[CommitLog.readPoint]] semantics arriving transparently for any
  * `WHERE` a SQL user writes — the inner builder is constructed over
  * only the surviving files. Filters Spark never pushes (none, or
  * SELECT *) scan the full live set, exactly like [[CommitLog.read]]. */
private[sources] final class GraftLogScanBuilder(
    spark: SparkSession, tableRoot: String,
    version: Option[Long], tsMillis: Option[Long],
    options: CaseInsensitiveStringMap,
    // Row-level (UPDATE/MERGE) mode: pushed predicates may eliminate
    // only WHOLE FILES (the replacement groups), never rows — a
    // row-granular parquet filter would silently DROP the unmatched
    // rows of a rewritten file from the replacement content. The
    // callback reports (snapshot version, files actually scanned) so
    // the write retires exactly those files.
    groupGranularity: Boolean = false,
    onScan: (Long, Seq[String]) => Unit = (_, _) => (),
    // The RELATION schema the scan's output resolves against (the
    // catalog/table-provider schema — may be a different version's
    // logical view than the pinned snapshot under option-based time
    // travel). Carries the column mapping in its PhysKey metadata.
    // null/empty → the snapshot's own schema.
    relationSchema: StructType = null,
    // The table's manifest-level partition column (merge.partcol /
    // PARTITIONED BY), when the caller knows it: lets the built scan
    // report storage-partitioned-join KeyGroupedPartitioning (r12).
    partCol: Option[String] = None)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
  import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.types.StructField

  private val log = CommitLog(spark, tableRoot)
  private val snap = version match {
    case Some(v) =>
      val s = log.snapshotAt(v)
      require(s.version == v, s"$tableRoot: version $v not in the log")
      s
    case None => tsMillis match {
      case Some(t) => log.snapshotAt(log.versionAtTime(t))
      case None => log.snapshot()
    }
  }
  private val snapSchema: StructType =
    snap.schema.getOrElse(new StructType())

  // r18: the spec every WHOLE-SCAN tag interpretation must use — the
  // SNAPSHOT'S OWN current spec, never the live table property. A
  // time-travel scan pinned after an evolution reads the pinned
  // registry's last entry (the property may have evolved further); a
  // pin BEFORE the first evolution has an empty registry even though
  // the table later evolved — its tags are create-time-spec tags, so
  // the LATEST registry's FIRST entry interprets them (all files in an
  // empty-registry snapshot predate the first evolve). Only a
  // never-evolved table falls back to the declared property.
  private lazy val effectivePartCol: Option[String] = {
    val declared = partCol.map(_.trim).filter(_.nonEmpty)
    if (snap.specs.nonEmpty) Some(snap.specs.last)
    else if (version.isEmpty && tsMillis.isEmpty) declared // snap IS latest
    // a pinned pre-evolve snapshot: one extra (checkpoint-hinted)
    // latest fold resolves the create-time spec. Only partitioned
    // catalog tables pay it — with no declared spec the tag machinery
    // was inactive anyway, and staying inactive is conservative.
    else if (declared.isEmpty) None
    else log.snapshot().specs.headOption.orElse(declared)
  }

  // ── column mapping at the scan boundary (r12) ───────────────────────
  // The inner V2 parquet builder resolves columns BY NAME, and a
  // renamed table's files carry the stable PHYSICAL names — so every
  // name crossing into the inner builder (pruned columns, pushed
  // predicates, the parquet table schema) is translated logical →
  // physical per the RELATION schema's mapping, and the built scan's
  // readSchema is translated back so V2 pushdown re-resolves it
  // against the relation's logical output. Identity-mapped tables
  // (every table that never saw a RENAME) skip all of it — byte-for-
  // byte the pre-r12 plan. A pinned version surfaces under the
  // relation's logical names by stable-physical-name match; a physical
  // column the pinned files lack reads null (additive-evolution
  // semantics, the same contract the retired V1 fallback gave).
  private def lcn(s: String) = s.toLowerCase(java.util.Locale.ROOT)
  private val logicalSchema: StructType =
    Option(relationSchema).filter(_.nonEmpty).getOrElse(snapSchema)
  private val mapped: Boolean =
    logicalSchema.fields.exists(f => CommitLog.physNameOf(f) != f.name
      || !CommitLog.identityType(f.dataType))
  // logical → physical (and back) under the RELATION's mapping;
  // physical names are unique by the commit log's assignPhys invariant
  private val l2p: Map[String, String] =
    logicalSchema.fields.map(f => lcn(f.name) -> CommitLog.physNameOf(f)).toMap
  private val p2l: Map[String, String] =
    logicalSchema.fields.map(f => lcn(CommitLog.physNameOf(f)) -> f.name).toMap
  // r13: mapping recurses into struct interiors (nested RENAME).
  // `sch` is a (possibly nested-pruned) SUBSET of the relation schema;
  // each level translates by matching the relation's logical names.
  private def toPhysType(pruned: DataType, rel: DataType): DataType =
    (pruned, rel) match {
      case (p: StructType, r: StructType) =>
        StructType(p.fields.map { pf =>
          r.fields.find(rf => lcn(rf.name) == lcn(pf.name)) match {
            case Some(rf) => StructField(CommitLog.physNameOf(rf),
              toPhysType(pf.dataType, rf.dataType), pf.nullable)
            case None => pf
          }
        })
      case (p: org.apache.spark.sql.types.ArrayType,
            r: org.apache.spark.sql.types.ArrayType) =>
        p.copy(elementType = toPhysType(p.elementType, r.elementType))
      case (p: org.apache.spark.sql.types.MapType,
            r: org.apache.spark.sql.types.MapType) =>
        p.copy(keyType = toPhysType(p.keyType, r.keyType),
          valueType = toPhysType(p.valueType, r.valueType))
      case _ => pruned
    }
  private def toPhysSchema(sch: StructType): StructType =
    StructType(sch.fields.map { f =>
      logicalSchema.fields.find(rf => lcn(rf.name) == lcn(f.name)) match {
        case Some(rf) => StructField(CommitLog.physNameOf(rf),
          toPhysType(f.dataType, rf.dataType), f.nullable)
        case None => StructField(l2p.getOrElse(lcn(f.name), f.name),
          f.dataType, f.nullable)
      }
    })
  /** Inverse: a built scan's (physical, possibly pruned) readSchema
    * re-presented under the relation's LOGICAL names, recursively. */
  private def toLogicalType(read: DataType, rel: DataType): DataType =
    (read, rel) match {
      case (p: StructType, r: StructType) =>
        StructType(p.fields.map { pf =>
          r.fields.find(rf => lcn(CommitLog.physNameOf(rf)) == lcn(pf.name)) match {
            case Some(rf) => StructField(rf.name,
              toLogicalType(pf.dataType, rf.dataType), pf.nullable)
            case None => pf
          }
        })
      case (p: org.apache.spark.sql.types.ArrayType,
            r: org.apache.spark.sql.types.ArrayType) =>
        p.copy(elementType = toLogicalType(p.elementType, r.elementType))
      case (p: org.apache.spark.sql.types.MapType,
            r: org.apache.spark.sql.types.MapType) =>
        p.copy(keyType = toLogicalType(p.keyType, r.keyType),
          valueType = toLogicalType(p.valueType, r.valueType))
      case _ => read
    }
  private def toLogicalSchema(read: StructType): StructType =
    StructType(read.fields.map { f =>
      logicalSchema.fields.find(rf =>
          lcn(CommitLog.physNameOf(rf)) == lcn(f.name)) match {
        case Some(rf) => StructField(rf.name,
          toLogicalType(f.dataType, rf.dataType), f.nullable)
        case None => f.copy(name = p2l.getOrElse(lcn(f.name), f.name))
      }
    })
  private def toPhysExpr(e: Expression): Expression = e.transform {
    case a: AttributeReference if l2p.get(lcn(a.name)).exists(_ != a.name) =>
      a.withName(l2p(lcn(a.name)))
  }
  private def toLogicalExpr(e: Expression): Expression = e.transform {
    case a: AttributeReference if p2l.get(lcn(a.name)).exists(_ != a.name) =>
      a.withName(p2l(lcn(a.name)))
  }

  /** The version this scan reads — the row-level write path pins its
    * conflict check to it. */
  private[sources] def snapshotVersion: Long = snap.version

  private def makeInner(files: Seq[String]): FileScanBuilder = {
    val absPaths = files.map(f =>
      if (CommitLog.isExternalEntry(f)) f else s"$tableRoot/$f").toList
    val userSchema = Some(if (mapped) toPhysSchema(logicalSchema) else snapSchema)
    // r19 (guide §6): the default FileTable.fileIndex existence-checks
    // every path on the driver and, past 32 paths, launches a
    // distributed LISTING JOB per scan build (a 96-task stage on a
    // well-populated partitioned table, re-paid on every pushFilters
    // rebuild). The manifest already knows the file set — override the
    // index with one built from cached/concurrently-fetched statuses
    // ([[CommitLog.seededIndex]]): zero metadata calls, no job.
    new ParquetTable(s"graft-log $tableRoot", spark, options, absPaths,
        userSchema, classOf[ParquetFileFormat]) {
      override lazy val fileIndex
          : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
        CommitLog.seededIndex(spark,
          new Path(tableRoot).getFileSystem(
            spark.sparkContext.hadoopConfiguration),
          absPaths, userSchema)
    }.newScanBuilder(options).asInstanceOf[FileScanBuilder]
  }

  private var selectedFiles: Seq[String] = snap.files
  private var innerOpt: Option[FileScanBuilder] = None
  // remembered so a rebuilt inner builder (pushFilters discards any
  // earlier one) replays the pruning instead of silently losing it —
  // correct under today's rule order (filters before pruning) AND under
  // any future reordering
  private var prunedSchema: Option[StructType] = None
  private def inner: FileScanBuilder = innerOpt.getOrElse {
    val b = makeInner(selectedFiles); innerOpt = Some(b); b
  }

  // DV'd snapshots read with NO parquet-level pushdown: the masking
  // reader counts row ordinals sequentially, and pushed filters would
  // skip rows (row-group/page pruning) and shift the count. Spark
  // re-evaluates the returned residual filters above the scan, so the
  // cost is row-group skipping on DV'd tables only — transient until
  // OPTIMIZE (or any rewrite) purges the vectors.
  private val dvActive: Boolean = snap.hasDvs

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // manifest-level FILE skipping happens here, before the parquet
    // builder (and its file index) is even constructed. The predicates
    // stay LOGICAL: candidateFilesForExprs translates names at its own
    // stats/bloom lookups (physOf), conservative when a pinned
    // version's logical view differs from the relation's.
    if (filters.nonEmpty) filtersWerePushed = true
    selectedFiles = log.candidateFilesForExprs(snap, filters)
    filtersExact = filters.nonEmpty && exactOnSelected(filters)
    val b = makeInner(selectedFiles)
    innerOpt = Some(b)
    prunedSchema.foreach(s =>
      b.pruneColumns(if (mapped) toPhysSchema(s) else s))
    if (groupGranularity) filters // file-only elimination; rows untouched
    else if (filtersExact)
      // every conjunct is provably TRUE on every row of every selected
      // file, so the scan needs no residual re-evaluation above it —
      // returning none is what unblocks aggregate/LIMIT pushdown under
      // partition filters (r15; Catalyst only pushes those when no
      // post-scan filter remains)
      Seq.empty
    else if (dvActive) filters
    else if (!mapped) b.pushFilters(filters)
    else {
      // push PHYSICAL-named predicates; hand Spark back the LOGICAL
      // originals for whatever must still evaluate above the scan.
      // r13 nested-mapping guard: toPhysExpr renames ATTRIBUTES only —
      // a predicate reaching INSIDE an interior-mapped struct would be
      // pushed under logical nested names, and a swap-rename could
      // make that match a DIFFERENT physical column (false row-group
      // pruning = silently wrong rows). Such predicates stay residual;
      // identity-interior columns keep full pushdown.
      val (pushable, held) = filters.partition(_.references.forall { a =>
        logicalSchema.fields.find(f => lcn(f.name) == lcn(a.name))
          .forall(f => CommitLog.identityType(f.dataType))
      })
      val phys = pushable.map(toPhysExpr)
      val back = new java.util.IdentityHashMap[Expression, Expression]()
      phys.zip(pushable).foreach { case (p, o) => back.put(p, o) }
      b.pushFilters(phys).map(p =>
        Option(back.get(p)).getOrElse(toLogicalExpr(p))) ++ held
    }
  }

  // r15 (VERDICT r14 #5): TRUE when every pushed conjunct is provably
  // satisfied by EVERY ROW of EVERY selected file — the case where a
  // partition-tag equality has already resolved the filter to an exact
  // file set. Aggregate and LIMIT pushdown stay sound over that set
  // (no residual row can drop): `WHERE part = x LIMIT n` scans a
  // covering prefix of x's files instead of all of them, and
  // `SELECT COUNT(*) ... WHERE part = x` folds from the manifest.
  private var filtersExact = false

  /** Provably-all-rows-true check: the table is fully tagged, and each
    * conjunct is one of
    *  - IsNotNull on a partition key column (the partitioned write
    *    refuses null partition values, so every tagged row has one);
    *  - an equality (or r15 IN-list) between a LOSSLESS partition key
    *    and literals whose tag components cover every selected file's
    *    component — an IDENTITY key, or the DATE source column of a
    *    days(date) key (the tag IS the value's own epoch-day,
    *    bijective);
    *  - (r15) a ts RANGE conjunct over a days(ts)/hours(ts) key whose
    *    bound every selected file's WHOLE tag unit provably satisfies
    *    (tag unit [tag·u, (tag+1)·u) inside the bound) — the
    *    time-scoped count, the reference's own per-day read shape:
    *    `WHERE CAST(ts AS DATE) = d` reaches pushdown as exactly this
    *    range pair (Catalyst unwraps the cast), and explicit
    *    month/week ranges fold the same way. Pure micros arithmetic —
    *    no session-TZ dependence (the unwrap already baked the TZ
    *    into the literal bounds).
    * Anything else — other columns, equality on a lossy transform
    * key, non-unit-aligned evidence — is not judgeable here and
    * refuses (the bound check itself refuses a bound cutting through
    * a selected file's unit). */
  private def exactOnSelected(filters: Seq[Expression]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, IsNotNull, Literal}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val sp = effectivePartCol
      .flatMap(p => scala.util.Try(PartSpec.parse(p)).toOption)
      .getOrElse(return false)
    if (selectedFiles.isEmpty || !selectedFiles.forall(snap.entry(_).partTag.isDefined))
      return false
    // r18: each file decodes (and judges) under ITS OWN spec — an
    // evolved table's older files carry tags of the spec that wrote
    // them; interpreting a day tag as an hour tag would falsely
    // certify exactness. Single-spec tables resolve to `sp` for all.
    val specOfFile: String => Option[PartSpec] =
      if (snap.specs.isEmpty) (_: String) => Some(sp)
      else {
        val parsed: Map[Int, Option[PartSpec]] =
          snap.specs.indices.map(i => i ->
            scala.util.Try(PartSpec.parse(snap.specs(i))).toOption).toMap
        (f: String) => parsed.getOrElse(snap.entry(f).specId, None)
      }
    lazy val decoded: Seq[(PartSpec, Seq[String])] = scala.util.Try(
      selectedFiles.map { f =>
        val fsp = specOfFile(f).getOrElse(return false)
        (fsp, fsp.decode(snap.entry(f).partTag.get))
      }).getOrElse(return false)
    def keyIdx(a: Attribute): Option[Int] = sp.keyIndexOf(a.name)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def litOf(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && !e.exists(_.isInstanceOf[Attribute]) =>
        scala.util.Try(Literal.create(e.eval(null), e.dataType)).toOption
      case _ => None
    }
    // ── the ONE transform-admission table (r16, ADVICE r15) ────────
    // For key i addressed through column `a` compared against literal
    // `l`, what a file's tag component provably says about the value:
    //  * `point` — defined exactly when tag ↔ value is a bijection
    //    (IDENTITY keys; the DATE column of days(date)): the component
    //    string the literal itself derives. The eq/IN judges compare
    //    file components against it.
    //  * `interval` — (unit, m): every row of a file with component c
    //    has its value in [c·unit, (c+1)·unit), and the literal folds
    //    to m in the same domain (epoch-MICROS for ts under days/hours
    //    keys; epoch-DAYS, unit 1, for the date column of days(date)).
    //    The range judges test bounds against it.
    // eq/IN and range previously derived their domains independently
    // and could drift as transforms were added — every judge now reads
    // from here, so a new transform/type/op lands in exactly one place.
    final case class KeyEvidence(point: Option[String],
        interval: Option[(Long, Long)])
    def keyEvidence(fsp: PartSpec, a: Attribute, i: Int, l: Literal)
        : KeyEvidence = {
      val tr = fsp.keys(i).transform
      // a string-shifted key column (float→double widening, r16) VOIDS
      // point evidence: a pre-widening tag is the FLOAT value's string,
      // and the widened literal's equal-looking string names a
      // DIFFERENT double value — equal strings would falsely certify
      // exactness (the one case where the fail-closed string compare
      // isn't closed). Interval evidence is unaffected (ts/date only).
      val shifted = logicalSchema.fields.exists(f =>
        lcn(f.name) == lcn(a.name) && CommitLog.strShifted(f))
      val lossless = !shifted && (tr == PartSpec.Identity ||
        (tr == PartSpec.Days && a.dataType == DateType))
      val point = if (lossless) fsp.componentOfLiteral(i, l) else None
      val interval: Option[(Long, Long)] =
        (tr, a.dataType, l.dataType, l.value) match {
          case (PartSpec.Days, _: TimestampType, _: TimestampType,
                m: java.lang.Long) =>
            Some((PartSpec.MicrosPerDay, m.longValue))
          case (PartSpec.Hours, _: TimestampType, _: TimestampType,
                m: java.lang.Long) =>
            Some((PartSpec.MicrosPerHour, m.longValue))
          case (PartSpec.Days, DateType, DateType, d: java.lang.Integer) =>
            Some((1L, d.longValue))
          case _ => None
        }
      KeyEvidence(point, interval)
    }
    // the op application, adjacent to the domain it judges: rows span
    // [lo, hi) — `<=` needs hi−1 (the greatest value a row can take)
    def intervalHolds(op: String, lo: Long, hi: Long, m: Long): Boolean =
      op match {
        case ">=" => lo >= m
        case ">"  => lo > m
        case "<"  => hi <= m
        case "<=" => hi - 1 <= m
        case _ => false
      }
    // every judge quantifies over (file spec, decoded components): a
    // conjunct is exact iff EVERY selected file, under ITS OWN spec,
    // provably satisfies it (r18 — specs may differ post-evolution)
    def eqExact(a: Attribute, v: Expression): Boolean =
      litOf(v).exists(l => decoded.forall { case (fsp, d) =>
        (for {
          i <- fsp.keyIndexOf(a.name)
          c <- keyEvidence(fsp, a, i, l).point
        } yield d(i) == c).getOrElse(false)
      })
    // key IN (...): every selected file's tag must name a listed
    // value. Null list values never make a row TRUE and drop out; an
    // unresolvable value refuses the conjunct.
    def inExact(a: Attribute, lits: Seq[Literal]): Boolean = {
      val nonNull = lits.filter(_.value != null)
      decoded.forall { case (fsp, d) =>
        fsp.keyIndexOf(a.name).exists { i =>
          val comps = nonNull.flatMap(l => keyEvidence(fsp, a, i, l).point)
          comps.length == nonNull.length && comps.toSet.contains(d(i))
        }
      }
    }
    def rangeExact(a: Attribute, op: String, v: Expression): Boolean =
      litOf(v).filter(_.value != null).exists(l =>
        decoded.forall { case (fsp, d) =>
          (for {
            i <- fsp.keyIndexOf(a.name)
            (u, m) <- keyEvidence(fsp, a, i, l).interval
          } yield scala.util.Try {
            val lo = Math.multiplyExact(d(i).toLong, u)  // row min (incl)
            val hi = Math.addExact(lo, u)                // row max (excl)
            intervalHolds(op, lo, hi, m)
          }.getOrElse(false)).getOrElse(false)
        })
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual}
    def inListExact(a: Attribute, list: Seq[Expression]): Boolean = {
      val lits = list.map(litOf)
      lits.forall(_.isDefined) && inExact(a, lits.flatten)
    }
    filters.flatMap(conjuncts).forall {
      case IsNotNull(a: Attribute) =>
        keyIdx(a).isDefined &&
          decoded.forall { case (fsp, _) => fsp.keyIndexOf(a.name).isDefined }
      case EqualTo(a: Attribute, v) => eqExact(a, v)
      case EqualTo(v, a: Attribute) => eqExact(a, v)
      case In(a: Attribute, list) => inListExact(a, list)
      case InSet(a: Attribute, hs) =>
        inExact(a, hs.toSeq.map(v => Literal(v, a.dataType)))
      case GreaterThanOrEqual(a: Attribute, v) => rangeExact(a, ">=", v)
      case GreaterThan(a: Attribute, v) => rangeExact(a, ">", v)
      case LessThan(a: Attribute, v) => rangeExact(a, "<", v)
      case LessThanOrEqual(a: Attribute, v) => rangeExact(a, "<=", v)
      case GreaterThanOrEqual(v, a: Attribute) =>
        rangeExact(a, PartSpec.flipOp(">="), v)
      case GreaterThan(v, a: Attribute) => rangeExact(a, PartSpec.flipOp(">"), v)
      case LessThan(v, a: Attribute) => rangeExact(a, PartSpec.flipOp("<"), v)
      case LessThanOrEqual(v, a: Attribute) =>
        rangeExact(a, PartSpec.flipOp("<="), v)
      case _ => false
    }
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    if (groupGranularity || dvActive) Array.empty else inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    prunedSchema = Some(requiredSchema)
    inner.pruneColumns(if (mapped) toPhysSchema(requiredSchema) else requiredSchema)
  }

  // ── r14: MANIFEST-ANSWERED AGGREGATE PUSHDOWN ──────────────────────
  // A global COUNT(*) / MIN / MAX over a logged table is answerable
  // from the manifest alone — per-file exact row counts (r14,
  // `FileEntry.rows`, DV-adjusted) and per-file exact footer min/max
  // (`FileEntry.colStats`) fold on the driver, and the built scan is a
  // [[org.apache.spark.sql.connector.read.LocalScan]] holding ONE row:
  // at 100 TB the query reads ZERO data files (the manifest replaces
  // the reference's DynamoDB item counts, /root/reference/index.js:305-314).
  // Every admission rule is conservative — any file whose evidence is
  // incomplete refuses the whole pushdown and Spark plans the normal
  // scan+aggregate:
  //  * COUNT(*): every selected file must carry a row count; the live
  //    count subtracts DV cardinalities (exact — sidecar position sets
  //    on one file are disjoint by construction, `Snapshot.maskedCount`).
  //  * MIN/MAX(col): every selected file must carry the column's
  //    footer min/max (a file provably EMPTY by its row count may lack
  //    it), no selected file may carry a DV (the mask could remove the
  //    extremal row), and the type must be one whose harvested stats
  //    are exact under Spark's own ordering: integral, float/double
  //    (NaN-poisoned chunks are never harvested), date, string
  //    (footer string stats are exact when present — graft's writers
  //    pin statistics truncation OFF, so harvested values are real
  //    values; `utf8Compare` matches UTF8String's unsigned byte
  //    order), and timestamps (r15: the harvest normalizes footer
  //    stats to Spark's internal epoch-micros and REFUSES any unit it
  //    cannot convert exactly — INT96 and NANOS files simply carry no
  //    timestamp stat, so min(ts)/max(ts) over them falls back to a
  //    real scan).
  //  * COUNT(DISTINCT key) over an IDENTITY partition key (r15): the
  //    number of distinct LIVE tag components — tags are non-null by
  //    the partitioned write's contract, live row counts drop masked-
  //    away partitions.
  //  * Anything else (SUM, AVG, other DISTINCTs, non-derivable GROUP
  //    BYs, value-filtered scans, row-level scans) refuses —
  //    correctness owns the boundary, Catalyst owns the fallback.
  // `spark.graft.aggPushdown.enabled=false` opts out.
  private var filtersWerePushed = false
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  /** Defensive boolean conf read: a malformed value (e.g. 'ture')
    * never throws mid-planning (ADVICE r14) — and it resolves to
    * FALSE, the feature-off side, regardless of the default: anyone
    * touching one of these flags is reaching for the correctness
    * escape hatch, and a typo'd opt-out must still opt out (review
    * r15). */
  private def boolConf(key: String, default: Boolean): Boolean =
    spark.conf.getOption(key).map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("true")  => true
      case Some(v) if v.equalsIgnoreCase("false") => false
      case Some(_) => false
      case None => default
    }
  // Catalyst calls supportCompletePushDown then pushAggregation with
  // the SAME Aggregation instance — memoize so the O(live files)
  // manifest fold runs once per aggregate query, not twice (ADVICE
  // r14). Reference-keyed: a different instance recomputes.
  private var aggMemo: Option[(AnyRef, Option[(StructType, Seq[Seq[Any]])])] = None

  private def answerFromManifestMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = aggMemo match {
    case Some((key, r)) if key eq agg => r
    case _ =>
      val r = answerFromManifest(agg)
      aggMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answerFromManifestMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val a = answerFromManifestMemo(agg)
    a.foreach(x => aggAnswer = Some(x))
    a.isDefined
  }

  private def answerFromManifest(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.types._
    // r15: partition-EXACT filters (every row of every selected file
    // provably matches) keep the fold sound over the selected set —
    // `SELECT COUNT(*) ... WHERE part = x` answers from the manifest
    if (groupGranularity || (filtersWerePushed && !filtersExact)) return None
    if (!boolConf("spark.graft.aggPushdown.enabled", default = true)) return None
    val funcs = agg.aggregateExpressions
    // empty aggregate list + group-by = SELECT DISTINCT part: the live
    // partition domain straight from the tags (group admission below)
    if (funcs.isEmpty && agg.groupByExpressions.isEmpty) return None

    def statType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType
           | FloatType | DoubleType | StringType
           | TimestampType | TimestampNTZType => true
      case _: DecimalType => true // r16: DecV-backed stats
      case _ => false
    }
    // manifest stat value (Long / Double / String) → Spark INTERNAL
    // value of the column's type
    def internal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (ByteType, l: Long)    => Some(java.lang.Byte.valueOf(l.toByte))
      case (ShortType, l: Long)   => Some(java.lang.Short.valueOf(l.toShort))
      case (IntegerType, l: Long) => Some(java.lang.Integer.valueOf(l.toInt))
      case (LongType, l: Long)    => Some(java.lang.Long.valueOf(l))
      case (DateType, l: Long)    => Some(java.lang.Integer.valueOf(l.toInt))
      // ONLY unit-normalized (r15+ harvested) timestamp stats are
      // trusted — a pre-r15 manifest's raw-unit long refuses here
      case (TimestampType, CommitLog.TsUs(l))    => Some(java.lang.Long.valueOf(l))
      case (TimestampNTZType, CommitLog.TsUs(l)) => Some(java.lang.Long.valueOf(l))
      // r16: decimal stats rescale EXACTLY to the column's type or
      // refuse — setScale throws on any rounding (a stat written at a
      // finer scale than the column can hold is not a value of the
      // column), and changePrecision rejects overflow
      case (dt: DecimalType, dv: CommitLog.DecV) =>
        scala.util.Try {
          val bd = dv.toBig.setScale(dt.scale)
          val d = org.apache.spark.sql.types.Decimal(scala.math.BigDecimal(bd))
          if (d.changePrecision(dt.precision, dt.scale)) d else null
        }.toOption.flatMap(Option(_))
      case (FloatType, d: Double) => Some(java.lang.Float.valueOf(d.toFloat))
      case (DoubleType, d: Double) => Some(java.lang.Double.valueOf(d))
      case (StringType, s: String) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
    def singleColumn(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        logicalSchema.fields.find(f => lcn(f.name) == lcn(nr.fieldNames()(0)))
      case _ => None
    }

    // ── GROUP BY identity partition-key columns (or none = global) ──
    // `SELECT part, count(*) … GROUP BY part` answers from the
    // manifest alone when every group column is an IDENTITY key of the
    // table's partition spec with an exactly-round-tripping type (the
    // SPJ rule) and every selected file carries a tag: group = decoded
    // tag components. A group whose live rows are all DV-masked does
    // not exist (SQL group semantics), so grouped answers always need
    // the row counts.
    val spec: Option[PartSpec] = effectivePartCol
      .flatMap(p => scala.util.Try(PartSpec.parse(p)).toOption)
    def keyOf(name: String): Option[(StructField, Int)] = for {
      sp <- spec
      f <- logicalSchema.fields.find(f => lcn(f.name) == lcn(name))
      i <- sp.keyIndexOf(f.name)
    } yield (f, i)
    // Admissible group keys: an IDENTITY partition column (the tag is
    // the value's own cast-to-string); the DATE source column of a
    // days() key (its tag IS the column's epoch-day, r15); or
    // `CAST(tsCol AS DATE)` over a days(tsCol) key — the day-level
    // rollup on a time-partitioned table (VERDICT r14 #4). The cast
    // case needs a UTC session: CAST timestamp→date is session-TZ-
    // local while the days() tag is the UTC epoch-day. Grouping by the
    // raw SOURCE timestamp of a days() key still refuses (the pinned
    // AggLimitPushdownSpec edge — the tag holds less than the value).
    // `daysTag` = the component string is an epoch-day ordinal, not a
    // cast-to-string value.
    // per-key value derivation from the decoded tag component: the
    // admission rule is "the group expression's value is a FUNCTION of
    // the partition tag" — identity columns, a days(date) key's own
    // column, CAST(ts AS DATE) over days/hours keys, and calendar
    // EXTRACTs (YEAR/MONTH) at or above the key's granularity
    // (r15: year/month rollups over days/hours/months/years layouts).
    case class GKey(name: String, idx: Int, outType: DataType,
        fromTag: String => Any)
    val utcSession =
      CommitLog.zoneIsUtc(spark.sessionState.conf.sessionLocalTimeZone)
    def compInternal(c: String, dt: DataType): Any = dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(c)
      case IntegerType => c.toInt
      case LongType => c.toLong
      case ShortType => c.toShort
      case ByteType => c.toByte
      case BooleanType => c.toBoolean
      case DateType => java.time.LocalDate.parse(c).toEpochDay.toInt
      case other => throw new IllegalStateException(
        s"graft-agg: unsupported group key type $other")
    }
    // the UTC calendar date a tag component pins down, when it does
    def tagDate(t: PartSpec.Transform, c: String): Option[java.time.LocalDate] =
      t match {
        case PartSpec.Days => Some(java.time.LocalDate.ofEpochDay(c.toLong))
        case PartSpec.Hours =>
          Some(java.time.LocalDate.ofEpochDay(Math.floorDiv(c.toLong, 24L)))
        case _ => None
      }
    // resolve the column under a group expression: a bare reference,
    // or one wrapped in CAST(ts AS DATE) (session-TZ-local — UTC only)
    def sourceRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(StructField, Int)] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 =>
        keyOf(r.fieldNames()(0)).filter(_._1.dataType == DateType)
      case c: org.apache.spark.sql.connector.expressions.Cast
          if c.dataType() == DateType && utcSession =>
        (c.expression() match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames().length == 1 => keyOf(r.fieldNames()(0))
          case _ => None
        }).filter(_._1.dataType.isInstanceOf[TimestampType])
      case _ => None
    }
    val groupKeys: Seq[GKey] = agg.groupByExpressions.toSeq.map {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        val (f, i) = keyOf(nr.fieldNames()(0)).getOrElse(return None)
        spec.get.keys(i).transform match {
          case PartSpec.Identity =>
            if (!GraftLogScanBuilder.spjKeyType(f.dataType)) return None
            GKey(f.name, i, f.dataType, c => compInternal(c, f.dataType))
          case PartSpec.Days if f.dataType == DateType =>
            // days(date): the tag IS the column's own epoch-day
            GKey(f.name, i, DateType, c => java.lang.Integer.valueOf(c.toInt))
          case _ => return None
        }
      case c: org.apache.spark.sql.connector.expressions.Cast =>
        // CAST(ts AS DATE): the day-level rollup — derivable from a
        // days(ts) or hours(ts) tag
        if (c.dataType() != DateType || !utcSession) return None
        val nr = c.expression() match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames().length == 1 => r
          case _ => return None
        }
        val (f, i) = keyOf(nr.fieldNames()(0)).getOrElse(return None)
        if (!f.dataType.isInstanceOf[TimestampType]) return None
        spec.get.keys(i).transform match {
          case PartSpec.Days =>
            GKey(f.name, i, DateType, c0 => java.lang.Integer.valueOf(c0.toInt))
          case PartSpec.Hours =>
            GKey(f.name, i, DateType, c0 =>
              java.lang.Integer.valueOf(Math.floorDiv(c0.toLong, 24L).toInt))
          case _ => return None
        }
      case ex: org.apache.spark.sql.connector.expressions.Extract =>
        // EXTRACT(YEAR|MONTH FROM <date-or-cast-ts>): derivable when
        // the partition granularity is at or below the field
        val field = ex.field().toUpperCase(java.util.Locale.ROOT)
        if (field != "YEAR" && field != "MONTH") return None
        val (f, i) = sourceRef(ex.source()).getOrElse(return None)
        val t = spec.get.keys(i).transform
        (field, t) match {
          case ("YEAR", PartSpec.Days | PartSpec.Hours) =>
            GKey(f.name, i, IntegerType, c =>
              java.lang.Integer.valueOf(tagDate(t, c).get.getYear))
          case ("MONTH", PartSpec.Days | PartSpec.Hours) =>
            GKey(f.name, i, IntegerType, c =>
              java.lang.Integer.valueOf(tagDate(t, c).get.getMonthValue))
          case ("YEAR", PartSpec.Months) =>
            GKey(f.name, i, IntegerType, c =>
              java.lang.Integer.valueOf(1970 + Math.floorDiv(c.toInt, 12)))
          case ("MONTH", PartSpec.Months) =>
            GKey(f.name, i, IntegerType, c =>
              java.lang.Integer.valueOf(Math.floorMod(c.toInt, 12) + 1))
          case ("YEAR", PartSpec.Years) =>
            GKey(f.name, i, IntegerType, c =>
              java.lang.Integer.valueOf(1970 + c.toInt))
          case _ => return None
        }
      case _ => return None
    }
    val files = selectedFiles
    if (groupKeys.nonEmpty && !files.forall(snap.entry(_).partTag.isDefined)) return None
    // r18: tag-derived groups need ONE tag namespace — a mid-evolution
    // mixed-spec file set refuses the fold (normal scan, correct)
    if (groupKeys.nonEmpty && !snap.allCurrentSpec(files)) return None
    // (DERIVED group values, the group's files) — grouping must use the
    // derived values, not the raw tag components: a coarser rollup
    // (YEAR over month tags) folds SEVERAL components into one group,
    // and complete pushdown means Spark never re-aggregates duplicates.
    // Sorted for a deterministic scan (plan/scan-reuse equality).
    val grouped: Seq[(Seq[Any], Seq[String])] =
      if (groupKeys.isEmpty) Seq((Nil, files))
      else scala.util.Try {
        files.groupBy { f =>
          val comps = spec.get.decode(snap.entry(f).partTag.get)
          groupKeys.map(gk => gk.fromTag(comps(gk.idx)))
        }.toSeq.sortBy(_._1.map(String.valueOf(_: Any)).mkString("/"))
          .map { case (k, fs) => (k, fs) }
      }.getOrElse(return None)

    def liveCount(fs: Seq[String]): Option[Long] =
      if (fs.forall(snap.entry(_).rows.isDefined))
        Some(fs.iterator.map(f => snap.entry(f).liveRows.get).sum)
      else None
    def extremum(fs: Seq[String], f: StructField, isMin: Boolean)
        : Option[Any] = {
      val phys = CommitLog.physNameOf(f)
      var acc: Any = null
      fs.foreach { fl =>
        snap.entry(fl).colStats.get(phys) match {
          case Some((mn, mx)) =>
            val v = if (isMin) mn else mx
            acc = if (acc == null) v
              else if (isMin) log.minAny(acc, v) else log.maxAny(acc, v)
          case None =>
            // only a provably-EMPTY file may lack the stat: an all-null
            // or pre-column or stats-poisoned file is indistinguishable
            // from unknown content here, so it refuses the pushdown
            if (!snap.entry(fl).rows.contains(0L)) return None
        }
      }
      if (acc == null) Some(null)
      else Some(internal(f.dataType, acc).getOrElse(return None))
    }

    // r17: a DV'd file's sum evidence (the restated live partials, the
    // live non-null counts) is admissible iff its accounting is
    // CURRENT — the cumulative masked total its entries exclude
    // ([[CommitLog.FileEntry.dvAcc]]) equals its live DV cardinality.
    // A DV a non-accounting writer committed leaves them unequal →
    // refuse.
    def dvUnaccounted(e: CommitLog.FileEntry): Boolean =
      e.maskedCount > 0L && !e.dvAccounted

    // COUNT(col) = Σ(rows − nulls(col)) per file; unknown null counts
    // refuse, provably-empty files contribute zero. A DV'd file (r17)
    // answers from its accounted live non-null entry instead (the
    // pre-mask null count can't see which masked rows were null);
    // pre-mask all-null/empty files still contribute zero either way.
    def countCol(fs: Seq[String], phys: String): Option[Long] = {
      var total = 0L
      fs.foreach { fl =>
        val e = snap.entry(fl)
        def preMaskZero: Boolean = e.rows.contains(0L) ||
          ((e.rows, e.nulls.get(phys)) match {
            case (Some(r), Some(n)) => n == r
            case _ => false
          })
        if (e.maskedCount > 0L) {
          if (dvUnaccounted(e)) return None
          e.liveNonNull.get(phys) match {
            case Some(n) => total += n
            case None => if (!preMaskZero) return None
          }
        } else e.nulls.get(phys) match {
          case Some(n) => e.rows match {
            case Some(r) => total += r - n
            case None => return None
          }
          case None => if (!e.rows.contains(0L)) return None
        }
      }
      Some(total)
    }

    // resolve the aggregate list once (schema + per-group evaluators)
    sealed trait Fn
    case object FnCount extends Fn
    final case class FnCountCol(f: StructField) extends Fn
    final case class FnExtremum(f: StructField, isMin: Boolean) extends Fn
    final case class FnDistinctKey(f: StructField, idx: Int) extends Fn
    final case class FnSum(f: StructField) extends Fn
    final case class FnAvg(f: StructField) extends Fn
    // r16: SUM/AVG fold from the per-file exact sums [[CommitLog
    // .withSumStats]] harvests. Only order-independent-exact types
    // admit (integrals, decimals) — r17 extends AVG to decimals too:
    // Spark's decimal AVG is Divide(sum, count) in the sum-buffer type
    // cast to DecimalType(p+4, s+4), and the fold REPLAYS exactly that
    // catalyst expression over the exact manifest sum (rounding,
    // including the divide-then-cast two-step, is Spark's own).
    def sumType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    }
    val resolved: Seq[Fn] = funcs.toSeq.map {
      case _: CountStar => FnCount
      case c: Count if !c.isDistinct =>
        FnCountCol(singleColumn(c.column).getOrElse(return None))
      case c: Count if c.isDistinct =>
        // r15: COUNT(DISTINCT key) of an IDENTITY partition key — the
        // number of distinct LIVE tag components ("how many partitions
        // does this corpus span", zero files opened). Sound because a
        // partitioned write refuses null key values (every tag is a
        // non-null value, matching COUNT DISTINCT's null-skipping) and
        // live row counts drop fully-masked partitions; global only
        // (a per-group distinct of a SECOND key needs nothing the tag
        // grid doesn't hold, but no declared query needs it yet).
        if (agg.groupByExpressions.nonEmpty) return None
        val (f, i) = keyOf(singleColumn(c.column)
          .getOrElse(return None).name).getOrElse(return None)
        if (spec.get.keys(i).transform != PartSpec.Identity) return None
        // the SPJ round-trip rule, same as the GROUP BY admission:
        // distinct TAGS only equal distinct VALUES when the type's
        // string form is injective under Spark's equality (a double
        // key's "0.0"/"-0.0" tags are two strings but ONE value;
        // a timestamp tag depends on the writer's session TZ)
        if (!GraftLogScanBuilder.spjKeyType(f.dataType)) return None
        FnDistinctKey(f, i)
      case m: Min =>
        val f = singleColumn(m.column).getOrElse(return None)
        if (!statType(f.dataType)) return None
        FnExtremum(f, isMin = true)
      case m: Max =>
        val f = singleColumn(m.column).getOrElse(return None)
        if (!statType(f.dataType)) return None
        FnExtremum(f, isMin = false)
      case su: Sum if !su.isDistinct =>
        val f = singleColumn(su.column).getOrElse(return None)
        if (!sumType(f.dataType)) return None
        FnSum(f)
      case av: Avg if !av.isDistinct =>
        val f = singleColumn(av.column).getOrElse(return None)
        if (!sumType(f.dataType)) return None
        FnAvg(f)
      case _ => return None
    }
    // the distinct-key fold needs every file's tag AND live row count
    // (a 0-row or fully-masked partition must not count)
    if (resolved.exists(_.isInstanceOf[FnDistinctKey])
        && !(files.forall(f =>
          snap.entry(f).partTag.isDefined && snap.entry(f).rows.isDefined)
          && snap.allCurrentSpec(files))) return None
    // a DV could mask any file's extremal row — min/max never answers
    // from pre-mask footer stats. SUM/AVG/COUNT(col) stopped refusing
    // blanketly in r17: their per-file admission checks each DV'd
    // file's sum-delta accounting ([[dvUnaccounted]]) instead — current
    // accounting means the entries ARE the live values; anything else
    // still refuses to a correct scan.
    if (resolved.exists(_.isInstanceOf[FnExtremum])
        && files.exists(snap.dvsOf(_).nonEmpty)) return None

    // r16: Σ per-file exact partials, in BigDecimal (never rounds).
    // Admissible absence of a file's partial: the file is provably
    // EMPTY, or the column provably ALL-null there (contributes
    // nothing to SQL SUM) — anything else refuses.
    def sumBig(fs: Seq[String], f: StructField)
        : Option[java.math.BigDecimal] = {
      val phys = CommitLog.physNameOf(f)
      var acc = java.math.BigDecimal.ZERO
      fs.foreach { fl =>
        val e = snap.entry(fl)
        // r17: a DV'd file's partial is its LIVE sum when — and only
        // when — the DV commit's delta accounting is current; an
        // unaccounted DV refuses exactly as before
        if (dvUnaccounted(e)) return None
        e.sums.get(phys) match {
          case Some(l: Long) => acc = acc.add(java.math.BigDecimal.valueOf(l))
          case Some(d: CommitLog.DecV) => acc = acc.add(d.toBig)
          case Some(_) => return None
          case None =>
            val allNull = (e.rows, e.nulls.get(phys)) match {
              case (Some(r), Some(n)) => n == r
              case _ => false
            }
            if (!(e.rows.contains(0L) || allNull)) return None
        }
      }
      Some(acc)
    }
    // the SUM value in Spark's OWN result type for the column — LongType
    // for integrals, DecimalType(min(38, p+10), s) for decimals — or
    // refuse on anything unrepresentable (the fallback scan then
    // applies Spark's own overflow behavior). SQL: SUM/AVG over zero
    // non-null values is NULL. Documented divergence (review r16): the
    // fold returns the EXACT sum whenever the FINAL value represents —
    // an ANSI scan may instead throw on an INTERMEDIATE overflow whose
    // occurrence is itself accumulation-order-dependent (Spark's own
    // partial aggregation makes "would the scan throw" nondeterministic
    // there). The fold's answer is never wrong, only more available.
    def sumValue(fs: Seq[String], f: StructField): Option[Any] = {
      val cnt = countCol(fs, CommitLog.physNameOf(f)).getOrElse(return None)
      if (cnt == 0L) return Some(null)
      val bd = sumBig(fs, f).getOrElse(return None)
      f.dataType match {
        case dt: DecimalType =>
          val rp = DecimalType(math.min(38, dt.precision + 10), dt.scale)
          scala.util.Try {
            val d = org.apache.spark.sql.types.Decimal(
              scala.math.BigDecimal(bd.setScale(rp.scale)))
            if (d.changePrecision(rp.precision, rp.scale)) d else null
          }.toOption.flatMap(Option(_)).map(x => x: Any)
        case _ =>
          if (bd.unscaledValue().bitLength() <= 63)
            Some(java.lang.Long.valueOf(bd.longValueExact()))
          else None
      }
    }
    def avgValue(fs: Seq[String], f: StructField): Option[Any] = {
      val cnt = countCol(fs, CommitLog.physNameOf(f)).getOrElse(return None)
      if (cnt == 0L) return Some(null)
      val bd = sumBig(fs, f).getOrElse(return None)
      f.dataType match {
        case dt: DecimalType =>
          // r17: replay Spark's OWN decimal AVG over the exact manifest
          // sum — Average plans Cast(Divide(sum: Decimal(p+10, s),
          // count: Decimal(20, 0)), Decimal(p+4, s+4)), so building the
          // very same catalyst expression reproduces its result bit for
          // bit, INCLUDING the divide-then-cast two-step rounding (a
          // hand-rolled single HALF_UP at scale s+4 could differ on
          // quotients that straddle the intermediate scale's boundary).
          // A sum the buffer type can't represent refuses (the scan
          // then applies Spark's own overflow behavior), as does a
          // cast overflow (legacy null here = ANSI throw on the scan).
          import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EvalMode, Literal}
          val sumT = DecimalType(math.min(38, dt.precision + 10), dt.scale)
          val d = org.apache.spark.sql.types.Decimal(
            scala.util.Try(scala.math.BigDecimal(bd.setScale(sumT.scale)))
              .getOrElse(return None))
          if (!d.changePrecision(sumT.precision, sumT.scale)) return None
          val resT = DecimalType(math.min(38, dt.precision + 4),
            math.min(38, dt.scale + 4))
          scala.util.Try(
            Cast(Divide(Literal(d, sumT),
              Literal(org.apache.spark.sql.types.Decimal(cnt),
                DecimalType(20, 0)), EvalMode.LEGACY), resT).eval(null))
            .toOption.flatMap(Option(_))
        case _ =>
          // the correctly-rounded quotient of the EXACT sum — at least
          // as accurate as a scan's double ACCUMULATION, whose
          // per-value rounding is partition-order noise (so ulp-level
          // divergence from a scan is possible even below 2^53; the
          // scan's own answer is not unique there either — review
          // r16). Past 2^53 the exact sum itself stops being
          // double-representable: refuse.
          if (bd.unscaledValue().bitLength() > 53) None
          else Some(java.lang.Double.valueOf(bd.doubleValue() / cnt))
      }
    }

    val outFields =
      groupKeys.map(gk =>
        StructField(gk.name, gk.outType, nullable = false)) ++
      resolved.map {
        case FnCount => StructField("count(*)", LongType, nullable = false)
        case FnCountCol(f) =>
          StructField(s"count(${f.name})", LongType, nullable = false)
        case FnExtremum(f, isMin) =>
          StructField(s"${if (isMin) "min" else "max"}(${f.name})",
            f.dataType, nullable = true)
        case FnDistinctKey(f, _) =>
          StructField(s"count(DISTINCT ${f.name})", LongType, nullable = false)
        case FnSum(f) =>
          val rt = f.dataType match {
            case dt: DecimalType =>
              DecimalType(math.min(38, dt.precision + 10), dt.scale)
            case _ => LongType
          }
          StructField(s"sum(${f.name})", rt, nullable = true)
        case FnAvg(f) =>
          val rt = f.dataType match {
            case dt: DecimalType => DecimalType(
              math.min(38, dt.precision + 4), math.min(38, dt.scale + 4))
            case _ => DoubleType
          }
          StructField(s"avg(${f.name})", rt, nullable = true)
      }
    val rows: Seq[Seq[Any]] = grouped.flatMap { case (comps, fs) =>
      val live: Option[Long] = liveCount(fs)
      if (groupKeys.nonEmpty && live.isEmpty) return None
      if (groupKeys.nonEmpty && live.contains(0L)) None // masked-away group
      else {
        val aggVals: Seq[Any] = resolved.map {
          case FnCount => live match {
            case Some(n) => java.lang.Long.valueOf(n)
            case None => return None
          }
          case FnCountCol(f) =>
            countCol(fs, CommitLog.physNameOf(f)) match {
              case Some(n) => java.lang.Long.valueOf(n)
              case None => return None
            }
          case FnExtremum(f, isMin) =>
            extremum(fs, f, isMin).getOrElse(return None)
          case FnDistinctKey(_, i) =>
            val n = scala.util.Try {
              fs.groupBy(fl => spec.get.decode(snap.entry(fl).partTag.get)(i))
                .count { case (_, pf) =>
                  pf.exists(fl => snap.entry(fl).liveRows.exists(_ > 0L)) }
            }.getOrElse(return None)
            java.lang.Long.valueOf(n.toLong)
          case FnSum(f) => sumValue(fs, f).getOrElse(return None)
          case FnAvg(f) => avgValue(fs, f).getOrElse(return None)
        }
        Some(comps ++ aggVals)
      }
    }
    Some((StructType(outFields), rows))
  }

  // ── r14: MANIFEST-BOUNDED LIMIT PUSHDOWN ───────────────────────────
  // An un-filtered LIMIT n needs only a file-list PREFIX whose
  // manifest-known live rows (row count minus DV cardinality — a
  // LOWER bound on what the masked read yields) reach n: on a
  // 100k-file table, `LIMIT 10` plans a one-file scan instead of a
  // full-table one. Always partial (Spark keeps its own Limit above,
  // so an over-estimate is impossible by construction); files with
  // unknown counts contribute zero to the bound — truncation happens
  // only when coverage is PROVEN. `spark.graft.limitPushdown
  // .enabled=false` opts out.
  override def pushLimit(limit: Int): Boolean = {
    // r15: a partition-exact filter set keeps the covering-prefix
    // bound sound (no residual row can drop from the counted prefix)
    if (groupGranularity || (filtersWerePushed && !filtersExact)
        || limit <= 0) return false
    if (!boolConf("spark.graft.limitPushdown.enabled", default = true)) return false
    var acc = 0L
    var n = 0
    val it = selectedFiles.iterator
    while (it.hasNext && acc < limit) {
      val f = it.next(); n += 1
      snap.entry(f).liveRows.foreach(acc += _)
    }
    if (acc < limit || n >= selectedFiles.size) return false
    selectedFiles = selectedFiles.take(n)
    val b = makeInner(selectedFiles)
    innerOpt = Some(b)
    prunedSchema.foreach(s =>
      b.pruneColumns(if (mapped) toPhysSchema(s) else s))
    true
  }

  override def isPartiallyPushed(): Boolean = true

  // ── r15: MANIFEST-BOUNDED TOP-N PUSHDOWN ───────────────────────────
  // `ORDER BY ts DESC LIMIT n` — "the latest n rows", the reference's
  // own hottest read shape (/root/reference/index.js:305-314) — needs
  // only the files that could hold a top-n row. A file F is provably
  // irrelevant when ≥ n rows in OTHER files strictly dominate every
  // row F could emit, judged entirely from manifest evidence:
  //  * footer min/max bound every row of F (pre-mask stats still bound
  //    the DV-surviving subset);
  //  * a dominator G's contribution is a LOWER bound on the non-null
  //    rows it will actually emit: rows − DVmasked − nulls (a masked
  //    row might BE a null row — subtracting it from both pools only
  //    undercounts, never overcounts);
  //  * domination is STRICT (min_G > max_F for DESC) so sort-key ties
  //    never decide an exclusion — any Spark-valid top-n of the kept
  //    files is a Spark-valid top-n of the table;
  //  * only the SQL-default null placements are judgeable: DESC keeps
  //    NULLS LAST soundness for free once n non-null dominators exist;
  //    ASC NULLS FIRST additionally requires an excluded file to have
  //    a KNOWN zero null count (its nulls would sort into the top-n)
  //    and credits every file's (nulls − DVmasked) toward the bound.
  // Exclusion witnesses can never themselves be excluded (the file
  // with the extremal boundary has no dominators), so computing all
  // exclusions against the full set is sound. Always partial — Spark
  // keeps its own TopN above, so the kept superset is re-sorted and
  // re-limited exactly as an unpruned scan would be. Files missing any
  // evidence are kept and contribute nothing: truncation happens only
  // when coverage is PROVEN. O(files·log files) driver work, zero data
  // files opened to decide. `spark.graft.topNPushdown.enabled=false`
  // opts out.
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    if (groupGranularity || (filtersWerePushed && !filtersExact)
        || limit <= 0 || orders.isEmpty) return false
    if (!boolConf("spark.graft.topNPushdown.enabled", default = true)) return false
    // only the FIRST key decides file exclusion (strict domination on
    // the head key beats any tiebreak), and it must be a bare column
    val head = orders(0)
    val colName = head.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        nr.fieldNames()(0)
      case _ => return false
    }
    val f = logicalSchema.fields.find(x => lcn(x.name) == lcn(colName))
      .getOrElse(return false)
    val desc = head.direction() == SortDirection.DESCENDING
    if (head.nullOrdering() !=
        (if (desc) NullOrdering.NULLS_LAST else NullOrdering.NULLS_FIRST))
      return false
    // a stat value is usable only in the column type's TRUSTED
    // representation — a pre-r15 manifest's raw-unit timestamp long is
    // not evidence (same policy as the aggregate fold's `internal`)
    def statRepr(v: Any): Boolean = (f.dataType, v) match {
      case (ByteType | ShortType | IntegerType | LongType | DateType,
            _: Long) => true
      case (FloatType | DoubleType, d: Double) => !d.isNaN
      case (StringType, _: String) => true
      case (TimestampType | TimestampNTZType, CommitLog.TsUs(_)) => true
      // r16: DecV at ANY scale — cmpAny compares DecV pairs value-
      // exactly, so cross-scale evidence still totally orders
      case (_: DecimalType, _: CommitLog.DecV) => true
      case _ => false
    }
    val phys = CommitLog.physNameOf(f)
    final case class Ev(file: String, mn: Any, mx: Any, hasStat: Boolean,
        live: Option[Long], nulls: Option[Long], masked: Long)
    val evs: Seq[Ev] = selectedFiles.map { fl =>
      val e = snap.entry(fl)
      val st = e.colStats.get(phys).filter {
        case (mn, mx) => statRepr(mn) && statRepr(mx)
      }
      Ev(fl, st.map(_._1).orNull, st.map(_._2).orNull, st.isDefined,
        e.liveRows, e.nulls.get(phys), e.maskedCount)
    }
    // lower bound on the non-null rows a file will emit
    def useful(e: Ev): Long = (e.live, e.nulls) match {
      case (Some(l), Some(n)) => math.max(0L, l - n)
      case _ => 0L
    }
    // total order within one trusted representation (None impossible
    // here — reprs are uniform and NaN is filtered; 0 is the safe tie)
    def cmp(a: Any, b: Any): Int = log.cmpAny(a, b).getOrElse(0)
    // (boundary stat, useful) per stat-carrying file, sorted ascending:
    // DESC dominates by its MIN, ASC by its MAX
    val dom: Array[(Any, Long)] = evs.iterator.filter(_.hasStat)
      .map(e => ((if (desc) e.mn else e.mx), useful(e))).toArray
      .sortWith((x, y) => cmp(x._1, y._1) < 0)
    val sums = new Array[Long](dom.length + 1)
    if (desc) { // sums(i) = Σ useful over dom(i until end)
      var i = dom.length - 1
      while (i >= 0) { sums(i) = sums(i + 1) + dom(i)._2; i -= 1 }
    } else { // sums(i) = Σ useful over dom(0 until i)
      var i = 0
      while (i < dom.length) { sums(i + 1) = sums(i) + dom(i)._2; i += 1 }
    }
    def usefulGreater(v: Any): Long = { // Σ useful where boundary > v
      var lo = 0; var hi = dom.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cmp(dom(m)._1, v) > 0) hi = m else lo = m + 1
      }
      sums(lo)
    }
    def usefulLess(v: Any): Long = { // Σ useful where boundary < v
      var lo = 0; var hi = dom.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cmp(dom(m)._1, v) < 0) lo = m + 1 else hi = m
      }
      sums(lo)
    }
    // ASC NULLS FIRST: every known null (minus what a DV might mask)
    // sorts before any excluded file's rows; null-carrying files can
    // never be excluded themselves (exclusion requires nulls == 0)
    val nullsTotal: Long = if (desc) 0L
      else evs.iterator.map(e =>
        e.nulls.fold(0L)(n => math.max(0L, n - e.masked))).sum
    val kept: Seq[String] = evs.filter { e =>
      if (!e.hasStat) true
      else if (desc) usefulGreater(e.mx) < limit
      else !(e.nulls.contains(0L) && nullsTotal + usefulLess(e.mn) >= limit)
    }.map(_.file)
    if (kept.size == selectedFiles.size) return false
    selectedFiles = kept
    val b = makeInner(selectedFiles)
    innerOpt = Some(b)
    prunedSchema.foreach(s =>
      b.pruneColumns(if (mapped) toPhysSchema(s) else s))
    true
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    aggAnswer.foreach { case (sch, vals) =>
      return GraftLogScanBuilder.ManifestAggScan(sch, vals, tableRoot,
        snap.version)
    }
    onScan(snap.version, selectedFiles)
    val s = inner.build()
    val base = if (!mapped) s
    else GraftLogScanBuilder.MappedScan(s, toLogicalSchema(s.readSchema()))
    // manifest-exact output cardinality: valid only when no pushed
    // filter can make the scan emit fewer rows than its files hold
    val exactRows: Option[Long] =
      if (filtersWerePushed || !selectedFiles.forall(snap.entry(_).rows.isDefined)) None
      else Some(selectedFiles.iterator.map(f => snap.entry(f).liveRows.get).sum)
    (spjInfo, rtInfo, dvInfo) match {
      case (None, None, None) => base
      case (spj, rt, dv) =>
        GraftLogScanBuilder.GraftScan(base, spj, rt, dv, exactRows)
    }
  }

  /** Deletion-vector surface: when any SELECTED file carries DVs, the
    * built scan masks its rows at read time ([[GraftLogScanBuilder
    * .DvReaderFactory]]). The refs (data only) key scan equality; the
    * loader reads+merges sidecar positions through [[CommitLog]]'s
    * process-wide immutable cache at reader-factory time. */
  private def dvInfo: Option[GraftLogScanBuilder.DvInfo] = {
    if (!dvActive) return None
    val sel = selectedFiles.filter(snap.dvsOf(_).nonEmpty)
    if (sel.isEmpty) None
    else {
      val refs: Map[String, Seq[String]] = sel.map(f =>
        baseName(f) -> snap.dvsOf(f).map(_.path)).toMap
      Some(GraftLogScanBuilder.DvInfo(refs, snap.version)(
        () => log.dvPositions(snap.dvsOf, sel)))
    }
  }

  /** Storage-partitioned-join surface (r12): when the session opts in
    * (`spark.graft.spj.preserveDataGrouping=true`, plus Spark's own
    * `spark.sql.sources.v2.bucketing.enabled` — default true in
    * Spark 4) and every selected file carries a manifest partition tag,
    * wrap the scan so it reports [[org.apache.spark.sql.connector.read
    * .partitioning.KeyGroupedPartitioning]] over the partition column
    * and plans input partitions that never mix tag values — Spark then
    * plans joins and aggregations keyed on that column WITHOUT an
    * Exchange on this side (the file-level analog of bucketed tables,
    * driven entirely by manifest metadata). The graft-side flag exists
    * because reported grouping is a TRADE, not a pure win: Spark groups
    * a reporting scan's tasks one-per-partition-value in EVERY plan, so
    * a plain scan of a coarsely partitioned table would lose
    * parallelism — same reason Iceberg defaults
    * `planning.preserve-data-grouping` to false; enable it for the
    * co-partitioned join/agg workloads it exists for. Conservative
    * bail-outs (any → the plain scan, today's plan exactly): flags off,
    * row-level group-granularity scans, untagged or zero files, a
    * pruned-away or non-round-trippable partition column. Correctness
    * never depends on the wrap — it only changes task grouping, and the
    * all-tagged invariant guarantees every row of a file matches its
    * tag. */
  private def spjInfo: Option[GraftLogScanBuilder.SpjInfo] = {
    val enabled = boolConf("spark.graft.spj.preserveDataGrouping", default = false) &&
      boolConf("spark.sql.sources.v2.bucketing.enabled", default = true)
    if (!enabled || groupGranularity) return None
    val spec = effectivePartCol
      .flatMap(s => scala.util.Try(PartSpec.parse(s)).toOption)
    spec match {
      case Some(sp) =>
        // every key must be round-trippable (tag string → internal key
        // EXACTLY) and every SOURCE column must survive column pruning
        // (Spark resolves the reported grouping against the scan output)
        val resolved: Seq[Option[GraftLogScanBuilder.SpjKey]] = sp.keys.map { k =>
          logicalSchema.fields.find(f => lcn(f.name) == lcn(k.column)).collect {
            case f if k.transform == PartSpec.Identity
                && GraftLogScanBuilder.spjKeyType(f.dataType) =>
              GraftLogScanBuilder.SpjKey(f.name, f.dataType, days = false)
            case f if k.transform == PartSpec.Days
                && (f.dataType == org.apache.spark.sql.types.DateType
                  || f.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType]) =>
              GraftLogScanBuilder.SpjKey(f.name, f.dataType, days = true)
            case f if k.transform.isInstanceOf[PartSpec.Bucket]
                && GraftLogScanBuilder.spjKeyType(f.dataType) =>
              // r15: bucket co-location — both sides of a join on the
              // source column grouped by the same md5 bucket function
              GraftLogScanBuilder.SpjKey(f.name, f.dataType, days = false,
                bucketN = Some(k.transform.asInstanceOf[PartSpec.Bucket].n))
          }
        }
        if (resolved.forall(_.isDefined)
            && selectedFiles.nonEmpty
            && selectedFiles.forall(snap.entry(_).partTag.isDefined)
            // r18: SPJ reports ONE grouping for the whole scan — on a
            // mixed-spec (mid-evolution) table the tags are not one
            // keyspace, so refuse the report (Spark plans the ordinary
            // Exchange, correct at worst-case cost; migrateSpec restores
            // the zero-Exchange plan)
            && snap.allCurrentSpec(selectedFiles)
            && prunedSchema.forall(ps => sp.sourceColumns.forall(c =>
              ps.fields.exists(pf => lcn(pf.name) == lcn(c))))) {
          val keyByName: Map[String, String] = selectedFiles.map { rel =>
            baseName(rel) -> snap.entry(rel).partTag.get
          }.toMap
          Some(GraftLogScanBuilder.SpjInfo(resolved.flatten, sp, keyByName,
            keyByName.values.toSet.size))
        } else None
      case None => None
    }
  }

  private def baseName(rel: String): String = {
    val abs = if (CommitLog.isExternalEntry(rel)) rel else s"$tableRoot/$rel"
    abs.substring(abs.lastIndexOf('/') + 1)
  }

  /** Runtime (dynamic) file pruning surface: when the table carries
    * ANY manifest layer that can judge an equality at execution time —
    * partition tags, per-file min/max stats, or a bloom index — the
    * built scan advertises those columns through [[org.apache.spark
    * .sql.connector.read.SupportsRuntimeV2Filtering]], and Spark's
    * dynamic-partition-pruning planner feeds it the other join side's
    * key values at RUNTIME (typically for free, re-reading a broadcast
    * the join built anyway). The scan then drops data files no
    * arriving key can hit — the fact⋈filtered-dim shape at 100 TB,
    * where the pruning predicate exists in no query text and only the
    * executed dim side knows which partitions matter. On by default
    * (pruning-only, never adds work to the scan itself);
    * `spark.graft.runtimeFiltering.enabled=false` opts out. Row-level
    * (group-granularity) scans are excluded — their file set IS the
    * write's rewrite unit and must not move after planning. */
  private def rtInfo: Option[GraftLogScanBuilder.RtInfo] = {
    if (groupGranularity) return None
    if (!boolConf("spark.graft.runtimeFiltering.enabled", default = true)) return None
    val rtSpec: Option[PartSpec] = effectivePartCol
      .flatMap(s => scala.util.Try(PartSpec.parse(s)).toOption)
    val statCols: Set[String] =
      snap.entries.valuesIterator.flatMap(_.colStats.keysIterator).toSet
    val bloomCols: Set[String] =
      snap.entries.valuesIterator.flatMap(_.blooms.keysIterator).toSet
    def atomic(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: StructType => false
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }
    // advertise ONLY columns the built scan actually OUTPUTS: Spark's
    // PartitionPruning resolves every advertised attribute against the
    // pruned scan output (V2ExpressionUtils.resolveRef throws on a
    // miss), so a stats-covered column that column pruning removed must
    // not be advertised — the same prunedSchema guard spjInfo applies
    // to its partition key
    val pruned: Option[Set[String]] =
      prunedSchema.map(_.fields.map(f => lcn(f.name)).toSet)
    val filterable = logicalSchema.fields.toSeq.filter { f =>
      atomic(f.dataType) &&
        pruned.forall(_.contains(lcn(f.name))) &&
        (rtSpec.exists(_.keyIndexOf(f.name).isDefined) ||
          statCols.contains(CommitLog.physNameOf(f)) ||
          bloomCols.contains(CommitLog.physNameOf(f)))
    }.map(_.name)
    if (filterable.isEmpty || selectedFiles.isEmpty) None
    else {
      val files = selectedFiles // the static (pushdown-time) selection
      Some(GraftLogScanBuilder.RtInfo(filterable, files.size, snap.version)(
        preds => {
          var keep = files
          preds.foreach { case (col, lits) =>
            keep = log.candidateFilesForInValues(snap, keep, col, lits,
              partKey = rtSpec.flatMap(sp => sp.keyIndexOf(col).map(sp -> _)))
          }
          keep.map(baseName).toSet
        }))
    }
  }
}

/** Plan-probe helper: graft's commit-log reads may wrap Spark's
  * vectorized parquet scan in delegating layers ([[GraftLogScanBuilder
  * .GraftScan]] for SPJ/runtime filtering, [[GraftLogScanBuilder
  * .MappedScan]] for column mapping) — any code that inspects the
  * inner [[org.apache.spark.sql.execution.datasources.v2.FileScan]]
  * (file index, read schema) must unwrap through them here instead of
  * casting the relation's scan directly. */
private[graft] object GraftScans {
  @annotation.tailrec
  def unwrapFileScan(s: org.apache.spark.sql.connector.read.Scan)
      : org.apache.spark.sql.execution.datasources.v2.FileScan = s match {
    case g: GraftLogScanBuilder.GraftScan => unwrapFileScan(g.inner)
    case m: GraftLogScanBuilder.MappedScan => unwrapFileScan(m.inner)
    case f: org.apache.spark.sql.execution.datasources.v2.FileScan => f
    case other => throw new IllegalStateException(
      s"not a graft-wrapped FileScan: ${other.getClass.getName}")
  }
}

private[sources] object GraftLogScanBuilder {
  /** The built scan of a column-mapped table: delegates everything to
    * the inner vectorized parquet scan (which reads and reports
    * PHYSICAL column names) while advertising the LOGICAL names in
    * `readSchema` — V2 pushdown re-resolves scan output against the
    * relation by name, and execution is positional, so the rename at
    * this boundary is the whole mapping. A case class so scan/exchange
    * reuse keeps working (equality delegates to the inner FileScan's
    * own equals). */
  /** The driver-local result of a manifest-answered aggregate
    * pushdown (r14): COUNT(*)/MIN/MAX (one row globally, one per
    * partition group under a pushed GROUP BY) folded from
    * `FileEntry.rows` / `FileEntry.colStats` — planned as a
    * LocalTableScan, zero data files opened. Values are Spark
    * INTERNAL representations, positionally aligned with `out`. */
  private[sources] final case class ManifestAggScan(out: StructType,
      values: Seq[Seq[Any]], root: String, version: Long)
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
      values.map(vs =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vs.toArray): org.apache.spark.sql.catalyst.InternalRow).toArray
    override def description(): String =
      s"graft-manifest-agg($root@v$version: ${out.fieldNames.mkString(", ")})"
  }

  private[sources] final case class MappedScan(
      inner: org.apache.spark.sql.connector.read.Scan, out: StructType)
      extends org.apache.spark.sql.connector.read.Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics
      with org.apache.spark.sql.internal.connector.SupportsMetadata {
    override def readSchema(): StructType = out
    override def description(): String = s"graft-mapped ${inner.description()}"
    override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
    override def columnarSupportMode()
        : org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics()
    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      inner.reportDriverMetrics()
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
      inner match {
        case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
          s.estimateStatistics()
        case _ => new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes() = java.util.OptionalLong.empty()
          override def numRows() = java.util.OptionalLong.empty()
        }
      }
    override def getMetaData(): Map[String, String] = inner match {
      case s: org.apache.spark.sql.internal.connector.SupportsMetadata =>
        s.getMetaData()
      case _ => Map.empty
    }
  }

  /** Partition-key types safe for SPJ: the manifest tag is the value's
    * `cast(string)`, so the type must round-trip string → internal
    * EXACTLY (both tables of a join must derive the identical key from
    * the identical value). Fractional floats and timestamps are out. */
  private[sources] def spjKeyType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType
           | BooleanType | DateType => true
      case _ => false
    }
  }

  /** The manifest tag string as an N-column [[InternalRow]] of the
    * partition keys' INTERNAL types — what [[org.apache.spark.sql
    * .connector.read.HasPartitionKey.partitionKey]] must return. A
    * `days` key's internal value is the epoch-day Int (the reported
    * transform's DateType result — [[GraftFunctions.DaysBound]]). */
  private[sources] def internalKey(tag: String, info: SpjInfo)
      : org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.types._
    val comps = info.spec.decode(tag)
    val vs: Array[Any] = info.keys.zip(comps).map { case (k, c) =>
      val v: Any =
        if (k.days) c.toLong.toInt
        else if (k.bucketN.isDefined) c.toInt // the bucket ordinal itself
        else k.srcType match {
          case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(c)
          case IntegerType => c.toInt
          case LongType => c.toLong
          case ShortType => c.toShort
          case ByteType => c.toByte
          case BooleanType => c.toBoolean
          case DateType => java.time.LocalDate.parse(c).toEpochDay.toInt
          case other => throw new IllegalStateException(
            s"graft-spj: unsupported partition key type $other")
        }
      v
    }.toArray
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
  }

  /** A [[FilePartition]] that also reports its manifest partition
    * key — the unit Spark's storage-partitioned-join planner groups
    * by. Plain subclass (not case-to-case): the reader factory only
    * needs the FilePartition shape. */
  private[sources] final class KeyedFilePartition(
      index0: Int,
      files0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      key: org.apache.spark.sql.catalyst.InternalRow)
      extends org.apache.spark.sql.execution.datasources.FilePartition(index0, files0)
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  }

  /** One reported partition key: the SOURCE column (post-mapping
    * logical name), its type, and whether the key is the `days(src)`
    * transform rather than identity. */
  private[sources] final case class SpjKey(
      name: String, srcType: org.apache.spark.sql.types.DataType,
      days: Boolean, bucketN: Option[Int] = None)

  /** SPJ surface the built scan advertises: the ordered partition keys
    * (r13: composite + days-transform), the spec that decodes the
    * manifest tags, and the basename → tag map over the statically
    * selected files. */
  private[sources] final case class SpjInfo(
      keys: Seq[SpjKey], spec: PartSpec,
      fileKeys: Map[String, String], distinctKeys: Int)

  /** Runtime-filtering surface: the logical columns the manifest can
    * judge at execution time, the static file count (for the pruning
    * metric), the snapshot version, and the pruning closure —
    * (col, IN-values) pairs in, surviving data-file BASENAMES out
    * (closes over the builder's log/snapshot/static selection so no
    * path-dependent snapshot type leaks into this signature). The
    * closure lives in the SECOND parameter list so case-class equality
    * covers only data — two scans of the same snapshot with the same
    * inner FileScan (which already pins file selection and pushdown)
    * stay equal, and scan/exchange reuse keeps deduplicating self-join
    * subtrees. */
  private[sources] final case class RtInfo(
      filterable: Seq[String], staticCount: Int, snapVersion: Long)(
      val prune: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Literal])]
        => Set[String])

  /** Deletion-vector surface of a built scan: `refs` (data-file
    * basename → its DV sidecar paths) keys case-class equality — two
    * scans of the same snapshot stay equal for scan/exchange reuse —
    * and the loader (second parameter list, excluded from equality)
    * materializes the merged positions at reader-factory time. */
  private[sources] final case class DvInfo(
      refs: Map[String, Seq[String]], snapVersion: Long)(
      val load: () => Map[String, Array[Long]])

  /** Masks DV'd row positions out of a delegate reader factory's
    * output. Clean partitions pass through untouched (columnar reads
    * included); a partition holding DV'd files reads ROW-WISE, one
    * inner reader per file so the sequential ordinal count restarts at
    * each file boundary. Correct only because DV'd scans push NO
    * parquet filters (the builder guarantees it) and DV'd files plan
    * as whole-file units (planInputPartitions guarantees it) — the
    * inner reader then emits every row of the file in order. */
  private[sources] final class DvReaderFactory(
      delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      positions: Map[String, Array[Long]])
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
    import org.apache.spark.sql.execution.datasources.FilePartition

    private def hasDv(p: InputPartition): Boolean = p match {
      case fp: FilePartition =>
        fp.files.exists(pf => positions.contains(pf.filePath.toPath.getName))
      case _ => false
    }

    // ALL partitions read row-wise: Spark refuses a scan mixing
    // columnar and row partitions (DataSourceV2ScanExecBase
    // .supportsColumnar), so the clean files of a DV'd snapshot pay
    // the row-path cost too — transient until OPTIMIZE purges the DVs
    override def supportColumnarReads(p: InputPartition): Boolean = false

    override def createColumnarReader(p: InputPartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      delegate.createColumnarReader(p)

    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      p match {
        case fp: FilePartition if hasDv(fp) => new PartitionReader[InternalRow] {
          private val files = fp.files
          private var i = -1
          private var cur: PartitionReader[InternalRow] = _
          private var mask: Array[Long] = _
          private var ord = -1L
          private var row: InternalRow = _

          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                i += 1
                if (i >= files.length) return false
                cur = delegate.createReader(FilePartition(i, Array(files(i))))
                mask = positions.getOrElse(
                  files(i).filePath.toPath.getName, null)
                ord = -1L
              }
              if (!cur.next()) { cur.close(); cur = null }
              else {
                ord += 1
                if (mask == null
                    || java.util.Arrays.binarySearch(mask, ord) < 0) {
                  row = cur.get()
                  return true
                }
              }
            }
            false // unreachable
          }
          override def get(): InternalRow = row
          override def close(): Unit = if (cur != null) cur.close()
        }
        case _ => delegate.createReader(p)
      }
  }

  private[sources] final class RtFilesKeptMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "graftRtFilesKept"
    override def description(): String =
      "graft: data files kept after runtime pruning"
  }
  private[sources] final class RtFilesPrunedMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "graftRtFilesPruned"
    override def description(): String =
      "graft: data files pruned by runtime filters"
  }
  private final case class RtTaskMetric(metricName: String, v: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }

  /** The graft-wrapped scan over a commit-log table — the single place
    * the two execution-time scan surfaces compose:
    *
    *  - `spj` (opt-in): advertises `KeyGroupedPartitioning` on the
    *    manifest partition column and re-plans the inner batch's
    *    bin-packed [[FilePartition]]s into single-tag pieces carrying
    *    [[HasPartitionKey]] — storage-partitioned joins/aggs plan with
    *    zero Exchange. Splits are subdivided per tag, never merged
    *    here (Spark's exec layer merges same-key pieces exactly when
    *    an SPJ plan needs it).
    *  - `rt` (default-on): implements [[SupportsRuntimeV2Filtering]] —
    *    Spark's dynamic-partition-pruning planner delivers the other
    *    join side's key values at execution time, and [[filter]] drops
    *    data files no arriving key can hit (partition tags exactly,
    *    min/max stats and blooms conservatively). Pruning composes
    *    with SPJ: files are dropped first, surviving ones tag-grouped
    *    (a fully pruned tag disappears — that is DPP working).
    *
    * Basenames key both maps (UUID-prefixed by the write path, unique
    * even across shallow-clone references). Mutable runtime state
    * (`survivors`, metric counters) lives on the driver only — the
    * scan object never ships to executors. */
  private[sources] final case class GraftScan(
      inner: org.apache.spark.sql.connector.read.Scan,
      spj: Option[SpjInfo], rt: Option[RtInfo],
      dv: Option[DvInfo] = None,
      // the manifest-EXACT live row count of the selected files (rows
      // minus DV cardinalities), reported to the optimizer when no
      // pushed filter makes the scan output smaller than its files —
      // CBO sees true cardinality instead of a bytes-derived guess
      exactRows: Option[Long] = None)
      extends org.apache.spark.sql.connector.read.Scan
      with org.apache.spark.sql.connector.read.Batch
      with org.apache.spark.sql.connector.read.SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
      with org.apache.spark.sql.connector.read.SupportsReportStatistics
      with org.apache.spark.sql.internal.connector.SupportsMetadata {
    import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
    import org.apache.spark.sql.execution.datasources.FilePartition

    // driver-side runtime-filter state: None = no runtime predicate
    // arrived; Some(basenames) = only these files survive. filter()
    // recomputes from the STATIC selection each call (idempotent under
    // AQE re-planning, never cumulative across plan attempts).
    @volatile private var survivors: Option[Set[String]] = None
    @volatile private var keptCount: Long = rt.map(_.staticCount.toLong).getOrElse(0L)
    @volatile private var prunedCount: Long = 0L

    override def readSchema(): StructType = inner.readSchema()
    override def description(): String = {
      val spjTok = spj.map(i => s"graft-spj(key=${i.spec.render}) ").getOrElse("")
      val rtTok = rt.map(i =>
        s"graft-rt(${i.filterable.mkString(",")}) ").getOrElse("")
      val dvTok = dv.map(i => s"graft-dv(${i.refs.size} files) ").getOrElse("")
      s"$spjTok$rtTok$dvTok${inner.description()}"
    }

    override def outputPartitioning()
        : org.apache.spark.sql.connector.read.partitioning.Partitioning =
      spj match {
        case Some(i) =>
          import org.apache.spark.sql.connector.expressions.Expressions
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            i.keys.map { k =>
              if (k.days) Expressions.days(k.name)
              else k.bucketN match {
                case Some(n) => Expressions.bucket(n, k.name)
                case None => Expressions.identity(k.name)
              }
            }.toArray[org.apache.spark.sql.connector.expressions.Expression],
            i.distinctKeys)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      }

    override def filterAttributes()
        : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      rt.map(_.filterable.map(
        org.apache.spark.sql.connector.expressions.Expressions.column).toArray)
        .getOrElse(Array.empty)

    override def filter(
        predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit = rt.foreach { info =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.connector.expressions.NamedReference
      val lcs = info.filterable.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
      val inSets: Seq[(String, Seq[Literal])] = predicates.toSeq.flatMap { p =>
        if (p.name() != "IN" || p.children().isEmpty) None
        else p.children()(0) match {
          case ref: NamedReference if ref.fieldNames().length == 1 =>
            lcs.get(ref.fieldNames()(0).toLowerCase(java.util.Locale.ROOT)).flatMap { col =>
              val lits = p.children().drop(1).toSeq.map {
                case lv: org.apache.spark.sql.connector.expressions.Literal[_] =>
                  Some(Literal(lv.value, lv.dataType))
                case _ => None
              }
              // any non-literal child → the set is unknown: skip (keep all)
              if (lits.contains(None)) None else Some(col -> lits.flatten)
            }
          case _ => None
        }
      }
      if (inSets.nonEmpty) {
        val keep = info.prune(inSets)
        survivors = Some(keep)
        keptCount = keep.size.toLong
        prunedCount = (info.staticCount - keep.size).toLong
      }
    }

    // the scan IS its batch (FileScan's own pattern): BatchScanExec
    // equality — what scan/exchange reuse keys on — compares
    // `scan.toBatch`, so returning a fresh anonymous Batch per call
    // would break self-join dedup via reference inequality
    override def toBatch: Batch = this
    override def createReaderFactory(): PartitionReaderFactory = {
      val delegate = inner.toBatch.createReaderFactory()
      dv match {
        case Some(i) => new DvReaderFactory(delegate, i.load())
        case None => delegate
      }
    }
    override def planInputPartitions(): Array[InputPartition] = {
      // runtime pruning first: drop files no arriving key can hit
      val rtPruned: Array[FilePartition] = inner.toBatch.planInputPartitions().flatMap {
        case fp: FilePartition => survivors match {
          case None => Some(fp)
          case Some(keep) =>
            val fs = fp.files.filter(pf => keep(pf.filePath.toPath.getName))
            if (fs.isEmpty) None else Some(FilePartition(fp.index, fs))
        }
        case other => throw new IllegalStateException(
          s"graft-scan: unexpected input partition ${other.getClass.getName}")
      }
      // DV'd files re-plan as WHOLE-FILE units: the masking reader
      // counts row ordinals from the file start, so a byte-range split
      // (maxPartitionBytes) would shift every position. Splits of one
      // file may sit in different partitions — merge globally.
      val dvNames: Set[String] = dv.map(_.refs.keySet).getOrElse(Set.empty)
      val pruned: Array[FilePartition] =
        if (dvNames.isEmpty) rtPruned
        else {
          val whole = scala.collection.mutable.LinkedHashMap
            .empty[String, org.apache.spark.sql.execution.datasources.PartitionedFile]
          val clean = rtPruned.flatMap { fp =>
            val (d, c) = fp.files.partition(pf =>
              dvNames(pf.filePath.toPath.getName))
            d.foreach { pf =>
              whole.getOrElseUpdate(pf.filePath.toPath.getName,
                pf.copy(start = 0, length = pf.fileSize))
            }
            if (c.isEmpty) None else Some(FilePartition(fp.index, c))
          }
          clean ++ whole.values.map(pf => FilePartition(0, Array(pf)))
        }
      var idx = -1
      spj match {
        case Some(i) =>
          pruned.flatMap { fp =>
            fp.files.groupBy { pf =>
              val p = pf.filePath.toPath.getName
              i.fileKeys.getOrElse(p, throw new IllegalStateException(
                s"graft-spj: no partition tag for data file $p"))
            }.toSeq.sortBy(_._1).map { case (tag, fs) =>
              idx += 1
              new KeyedFilePartition(idx, fs, internalKey(tag, i))
            }
          }
        case None =>
          pruned.map { fp => idx += 1; FilePartition(idx, fp.files) }
      }
    }

    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      inner.supportedCustomMetrics() ++ (if (rt.isDefined)
        Array[org.apache.spark.sql.connector.metric.CustomMetric](
          new RtFilesKeptMetric, new RtFilesPrunedMetric)
      else Array.empty[org.apache.spark.sql.connector.metric.CustomMetric])
    override def reportDriverMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      inner.reportDriverMetrics() ++ (if (rt.isDefined)
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric](
          RtTaskMetric("graftRtFilesKept", keptCount),
          RtTaskMetric("graftRtFilesPruned", prunedCount))
      else Array.empty[org.apache.spark.sql.connector.metric.CustomTaskMetric])

    override def columnarSupportMode()
        : org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
      val base = inner match {
        case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
          s.estimateStatistics()
        case _ => new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes() = java.util.OptionalLong.empty()
          override def numRows() = java.util.OptionalLong.empty()
        }
      }
      exactRows match {
        case Some(n) => new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes() = base.sizeInBytes()
          override def numRows() = java.util.OptionalLong.of(n)
        }
        case None => base
      }
    }
    override def getMetaData(): Map[String, String] = inner match {
      case s: org.apache.spark.sql.internal.connector.SupportsMetadata =>
        s.getMetaData()
      case _ => Map.empty
    }
  }
}

/** The group-based row-level operation behind SQL UPDATE / MERGE INTO:
  * scan = the commit-log snapshot scan (its version pins the conflict
  * check); write = Spark's V2 parquet [[org.apache.spark.sql.execution
  * .datasources.v2.parquet.ParquetWrite]] into `<root>/.rowlevel-*`
  * staging, whose driver-side commit moves the finished files into the
  * log as one `replace` ([[CommitLog.commitStagedReplace]]). Reusing
  * the stock FileWrite means the replacement rows go through Spark's
  * own codegen'd parquet writer — no hand-rolled row writer — and
  * task aborts/speculation are handled by the file commit protocol. */
private[sources] final class GraftRowLevelOperation(ident: String,
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    // merge.partcol for partition-tagged tables: the commit re-lands
    // the replacement content through the partitioned write so every
    // new file keeps a tag (None for untagged tables)
    partCol: Option[String],
    // full table properties — durable `constraint.*` CHECK constraints
    // must gate the replacement content this statement commits
    props: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
    LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}

  // every snapshot version any scan of this statement pinned — if a
  // commit lands between two scans (Spark planning the main scan and a
  // group-filter subquery scan separately), they see DIFFERENT
  // snapshots and the retire set mixes files from both; the commit
  // must then fail rather than let the single-version check pass
  // against the newer one while retiring the older one's files
  private val scanVersions =
    java.util.Collections.synchronizedSet(new java.util.HashSet[java.lang.Long]())
  // union over every scan this statement planned (the main scan, plus
  // any group-filter subquery scan) — the files whose rows may appear
  // in the replacement content, i.e. exactly what the commit retires
  private val scannedFiles =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  private def singleScanVersion(): Long = {
    import scala.jdk.CollectionConverters._
    val vs = scanVersions.asScala.map(_.longValue).toSet
    require(vs.nonEmpty, s"$ident: row-level write committed with no scan planned")
    require(vs.size == 1,
      s"$ident: the statement's scans saw different snapshot versions " +
        s"(${vs.toSeq.sorted.mkString(", ")}) — concurrent write detected, " +
        "retry the statement")
    vs.head
  }

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val b = new GraftLogScanBuilder(SparkSession.active, path, None, None, options,
      groupGranularity = true,
      onScan = (v, files) => { scanVersions.add(v); files.foreach(scannedFiles.add) })
    scanVersions.add(b.snapshotVersion)
    b
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder { override def build(): Write = buildWrite(info) }

  private def buildWrite(info: LogicalWriteInfo): Write = {
    // Column-mapped (renamed) tables are first-class since r12: the
    // row-level SCAN translates physical → logical at its boundary
    // (GraftLogScanBuilder's mapped mode), the replacement content is
    // computed and staged under LOGICAL names, and commitStagedReplace
    // re-lands a mapped table's staged batch through the library write
    // path (writeData → toPhys), so the files that land carry the
    // stable physical names. The r11 refusal that pointed mapped
    // tables at CommitLog.update/merge is gone.
    val spark = SparkSession.active
    val staging = s"$path/.rowlevel-${java.util.UUID.randomUUID()}"
    // exact (untruncated) footer stats — see GraftMergeTable.withExactStats
    val infoX = GraftMergeTable.withExactStats(info)
    val inner = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        s"$ident rowlevel", spark,
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
        List(staging), Some(infoX.schema()),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .newWriteBuilder(infoX).build()
    new Write {
      override def description(): String = s"graft-rowlevel $ident"
      override def toBatch: BatchWrite = new BatchWrite {
        private val delegate = inner.toBatch
        override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
          new GraftRowLevelOperation.StripOperationColumn(
            delegate.createBatchWriterFactory(pi), info.schema())
        override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          delegate.commit(messages) // files land under staging/
          import scala.jdk.CollectionConverters._
          CommitLog(SparkSession.active, path).withConstraintProps(props)
            .commitStagedReplace(
              staging, singleScanVersion(),
              retire = scannedFiles.asScala.toSet, partCol = partCol)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          try delegate.abort(messages)
          finally {
            val p = new Path(staging)
            val fsys = p.getFileSystem(
              SparkSession.active.sparkContext.hadoopConfiguration)
            fsys.delete(p, true)
          }
        }
      }
    }
  }
}

private[sources] object GraftRowLevelOperation {
  /** Spark's group-based rewrite plans prepend an INT `__row_operation`
    * column to the replacement rows (RowDeltaUtils.OPERATION_COLUMN)
    * and strips it with the ReplaceData row projection ONLY when the
    * operation also declares metadata attributes — with none declared
    * (this connector replaces whole tables, it needs no `_file`
    * grouping column), the raw (op, data...) rows reach the writer.
    * This factory wrapper applies the same projection the engine
    * would: drop leading field(s) so exactly the data columns land in
    * parquet. Adaptive on arity, so a plan that DOESN'T carry the op
    * column writes through unchanged. */
  private[sources] final class StripOperationColumn(
      delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
      dataSchema: StructType)
      extends org.apache.spark.sql.connector.write.DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long)
        : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
      val inner = delegate.createWriter(partitionId, taskId)
      new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
        private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
        override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
          if (row.numFields == dataSchema.length) inner.write(row)
          else {
            if (proj == null) {
              val skip = row.numFields - dataSchema.length
              // exactly ONE extra field — the __row_operation column.
              // Any other arity means a plan shape this projection was
              // not written for (it would silently discard a leading
              // DATA column); fail loudly instead.
              require(skip == 1, s"row-level write row has ${row.numFields} fields " +
                s"for ${dataSchema.length} data columns — expected exactly one " +
                "leading __row_operation column")
              proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
                dataSchema, (skip until row.numFields).toIndexedSeq)
            }
            proj.project(row)
            inner.write(proj)
          }
        override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
          inner.commit()
        override def abort(): Unit = inner.abort()
        override def close(): Unit = inner.close()
      }
    }
  }
}

object GraftCatalog {
  /** Loud parse/resolution gate for durable `constraint.*` properties:
    * each value must be a SQL boolean expression that resolves against
    * `schema`. Runs at CREATE/ALTER time so a typo'd column or broken
    * expression fails at the DDL statement, not on the first write
    * (the write-side validator deliberately skips non-resolving
    * constraints — batches legitimately omit columns). */
  private[sources] def checkConstraintExprs(spark: SparkSession,
      ident: String, schema: StructType, cs: Map[String, String]): Unit =
    cs.foreach { case (k, v) =>
      val name = k.stripPrefix(CommitLog.ConstraintPropPrefix)
      require(name.nonEmpty,
        s"$ident: '$k' needs a constraint name after the prefix")
      try {
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .filter(org.apache.spark.sql.functions.expr(v))
          .queryExecution.analyzed
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$ident: constraint '$name' expression '$v' does not " +
            s"parse/resolve against the table schema: ${e.getMessage}", e)
      }
      ()
    }
}

object GraftMergeTable {
  /** `info` with the writer option that pins parquet footer statistics
    * truncation OFF — every staged file a native V2 write produces is
    * later stat-harvested by the commit log as EXACT values (ADVICE
    * r14: a session-configured parquet.statistics.truncate.length
    * would turn string min/max into PARQUET-1685 bounds, undetectable
    * at read time). The library write path ([[CommitLog]]'s writeData)
    * pins the same option. */
  private[sources] def withExactStats(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.LogicalWriteInfo =
    new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = info.queryId()
      override def schema(): StructType = info.schema()
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
      override def options(): CaseInsensitiveStringMap = {
        val m = new java.util.HashMap[String, String](
          info.options().asCaseSensitiveMap())
        m.put("parquet.statistics.truncate.length", Int.MaxValue.toString)
        new CaseInsensitiveStringMap(m)
      }
    }

  /** sources.Filter → library Column, for the SQL DELETE path. None =
    * not expressible (the caller must then refuse the whole delete —
    * half-translating an AND would delete too much). */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Read a graft-catalog table's data (the V1 read side of the V1Write
    * bridge — parquet scan with full pushdown/pruning). Commit-log
    * tables (`merge.log=true`) are read at their latest committed
    * version — NEVER by directory listing, which would see retired and
    * in-flight files. */
  def read(spark: SparkSession, warehouse: String, table: String): DataFrame = {
    val root = s"$warehouse/$table"
    if (CommitLog.exists(spark, root)) CommitLog(spark, root).read()
    else spark.read.parquet(s"$root/data")
  }
}
