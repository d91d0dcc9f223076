package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.CommitLog
import graft.streaming.ResampleSync

/** The in-driver model of the `price_log` table: observations keyed by
  * (station, ts in epoch micros), replayed statement by statement with
  * the engine's documented semantics. Prices are exact milli-units. */
object PriceModel {
  final case class Obs(fuel: String, priceMilli: Long)
  type State = Map[Long, TreeMap[Long, Obs]]
  type Rec = (Long, Long, String, Long) // Id, ts, fuel, price milli

  val empty: State = Map.empty

  private def put(s: State, r: Rec): State =
    s.updated(r._1, s.getOrElse(r._1, TreeMap.empty[Long, Obs]).updated(r._2, Obs(r._3, r._4)))

  def has(s: State, id: Long, ts: Long): Boolean = s.get(id).exists(_.contains(ts))

  def upsertLastWins(s: State, rs: Seq[Rec]): State = rs.foldLeft(s)(put)
  def upsertInsertAbsent(s: State, rs: Seq[Rec]): State =
    rs.foldLeft(s)((acc, r) => if (has(acc, r._1, r._2)) acc else put(acc, r))
  def append(s: State, rs: Seq[Rec]): State = rs.foldLeft(s)(put)
  /** WHEN MATCHED UPDATE SET price = s.price, WHEN NOT MATCHED INSERT *. */
  def merge(s: State, rs: Seq[Rec]): State = rs.foldLeft(s) { (acc, r) =>
    acc.get(r._1).flatMap(_.get(r._2)) match {
      case Some(o) => put(acc, (r._1, r._2, o.fuel, r._4))
      case None => put(acc, r)
    }
  }
  /** UPDATE SET price = price + delta WHERE Id = id AND ts BETWEEN lo AND hi. */
  def update(s: State, id: Long, lo: Long, hi: Long, deltaMilli: Long): State =
    s.get(id).fold(s)(m => s.updated(id, m ++ m.range(lo, hi + 1).map { case (t, o) =>
      t -> o.copy(priceMilli = o.priceMilli + deltaMilli) }))
  /** DELETE WHERE Id = id AND ts BETWEEN lo AND hi. */
  def delete(s: State, id: Long, lo: Long, hi: Long): State =
    s.get(id).fold(s) { m =>
      val left = m -- m.range(lo, hi + 1).keys
      if (left.isEmpty) s - id else s.updated(id, left)
    }

  def rows(s: State): Seq[Rec] =
    s.toSeq.sortBy(_._1).flatMap { case (id, m) =>
      m.toSeq.map { case (t, o) => (id, t, o.fuel, o.priceMilli) } }

  def rowsOf(s: State, ids: Iterable[Long]): Seq[Rec] = rows(s.filter(e => ids.exists(_ == e._1)))

  /** Hold-last resample: for every station with an observation and every
    * grid point start, start+step, .., end, the last observation at or
    * before it (None before the first). */
  def ffill(s: State, start: Long, end: Long, step: Long)
      : Seq[(Long, Long, Option[(Long, String, Long)])] =
    s.toSeq.sortBy(_._1).flatMap { case (id, m) =>
      Iterator.iterate(start)(_ + step).takeWhile(_ <= end).map { g =>
        (id, g, m.rangeTo(g).lastOption.map { case (t, o) => (t, o.fuel, o.priceMilli) })
      }
    }
}

/** Seeded inputs of `price_log`: a base of hourly observations per
  * station, station choice zipf-skewed for the statements. */
object PriceGen {
  val Stations = 500
  val Hours = 100
  val ZipfS = 1.1
  /** Rows per write batch. */
  val Batch = 100
  val T0Micros: Long = java.time.Instant.parse("2023-01-01T00:00:00Z").toEpochMilli * 1000L
  val HourMicros: Long = 3600L * 1000000L
  val EndMicros: Long = T0Micros + Hours * HourMicros
  val Fuels = Seq("Gasoleo simples", "Gasolina simples 95", "Gasolina 98", "GPL Auto")

  /** Station `id`'s observation of hour `h` (minute offset fixed per station). */
  def ts(id: Long, h: Long): Long = T0Micros + h * HourMicros + (id * 7 % 60) * 60L * 1000000L
  def fuel(id: Long): String = Fuels((id % Fuels.size).toInt)

  def base(seed: Long): Seq[PriceModel.Rec] = {
    val g = new SplittableRandom(seed)
    for (id <- 1L to Stations.toLong; h <- 0L until Hours.toLong)
      yield (id, ts(id, h), fuel(id), 1400L + g.nextInt(600))
  }

  private val cdf: Array[Double] = {
    val w = (1 to Stations).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  /** A station id, zipf-distributed over ranks (rank = id). */
  def zipf(g: SplittableRandom): Long = {
    val i = java.util.Arrays.binarySearch(cdf, g.nextDouble())
    (if (i >= 0) i else -i - 1).min(Stations - 1).toLong + 1
  }
}

/** `price_log`: a `CommitLog` table of price observations keyed by
  * (Id, ts). A cycle holds six write statements and eight reads, a grid
  * catch-up and one maintenance pass (optimize, compact, prune,
  * vacuum). Every read and the final table
  * and grid are checked against [[PriceModel]]. */
final class PriceLog(ctx: Ctx) extends Workload {
  import PriceLog._
  import PriceGen._
  import PriceModel.{Rec, State}

  private val spark = ctx.spark
  private var g: SplittableRandom = _
  private var dir: String = _
  private var seed: Long = _
  private var root: String = _
  private var gridRoot: String = _
  private var log: CommitLog = _
  private var head = -1L
  private var state: State = PriceModel.empty
  private val versions = mutable.HashMap.empty[Long, State]
  private var gridApplied = -1L
  private var freshHour = 0L
  // per-layer probes (traced runs)
  private val candidateRatio = mutable.ArrayBuffer.empty[Double]
  private var writtenBytes = 0.0
  private var writtenRows = 0L

  def properties: Seq[(String, Any)] = Seq(
    "stations" -> Stations, "base_rows" -> Stations * Hours,
    "key_skew" -> s"zipf($ZipfS) over stations", "batch_rows" -> Batch,
    "statements_per_cycle" -> Cycle.size, "grid_step" -> "1 hour",
    "pipeline_probe" -> Json.Obj(FuelEtl.properties :+ ("rounds" -> PipelineRounds)))

  private val schema = StructType(Seq(
    StructField("Id", LongType), StructField("ts", TimestampType),
    StructField("fuel", StringType), StructField("price", DecimalType(10, 3))))

  private def df(rs: Seq[Rec]): DataFrame =
    spark.createDataFrame(rs.map { case (id, t, f, p) =>
      Row(id, new java.sql.Timestamp(t / 1000), f, java.math.BigDecimal.valueOf(p, 3))
    }.asJava, schema)

  private def tsLit(t: Long) = lit(new java.sql.Timestamp(t / 1000))

  private def startTs = new java.sql.Timestamp(T0Micros / 1000).toString.stripSuffix(".0")
  private def endTs = new java.sql.Timestamp(EndMicros / 1000).toString.stripSuffix(".0")

  def setup(d: String, s: Long): Unit = {
    dir = d
    seed = s
    g = new SplittableRandom(seed ^ 0x5DEECE66DL)
    root = s"$dir/prices"
    gridRoot = s"$dir/grid"
    log = CommitLog(spark, root)
    versions.clear(); candidateRatio.clear()
    writtenBytes = 0.0; writtenRows = 0L
    freshHour = Hours.toLong
    val base = PriceGen.base(seed)
    head = log.append(df(base))
    state = PriceModel.append(PriceModel.empty, base)
    versions(head) = state
    gridApplied = -1L
  }

  /** Builds the grid from the whole base, then runs one cycle. */
  def warm(): Unit = {
    catchUp()
    Cycle.foreach(run)
  }

  def cycle(): Unit = Cycle.foreach(run)

  private def committed(v: Long, s: State): Unit = {
    head = v
    state = s
    versions(v) = s
  }

  /** A batch of `batch` distinct keys: a share of existing keys (zipf
    * stations), the rest fresh hours; fresh prices throughout. */
  private def batch(existingShare: Double): Seq[Rec] = {
    val hour = freshHour
    freshHour += 1
    val out = mutable.LinkedHashMap.empty[(Long, Long), Rec]
    while (out.size < Batch) {
      val id = zipf(g)
      val t =
        if (g.nextDouble() < existingShare && state.contains(id)) {
          val m = state(id)
          m.keysIterator.drop(g.nextInt(m.size)).next()
        } else ts(id, hour)
      out((id, t)) = (id, t, fuel(id), 1400L + g.nextInt(600))
    }
    out.values.toSeq
  }

  /** A (station, ts range) covering a few of its observations. */
  private def span(): (Long, Long, Long) = {
    var id = zipf(g)
    while (!state.contains(id)) id = zipf(g)
    val ks = state(id).keys.toIndexedSeq
    val a = g.nextInt(ks.size)
    (id, ks(a), ks(math.min(ks.size - 1, a + 1 + g.nextInt(4))))
  }

  /** A retained version before the head (the head when there is none). */
  private def pastVersion(): Long = {
    val past = versions.keys.filter(_ < head).toIndexedSeq.sorted
    if (past.isEmpty) head else past(g.nextInt(past.size))
  }

  private def traced = ctx.tracer.active

  /** In traced runs, adds the bytes of the files `write` left under the
    * table root (the commit log excluded) to the write amplification.
    * The files are listed from the file system around the whole op, so
    * no engine call and no listing falls inside the op's time or span. */
  private def tracked(rows: Long)(write: => Long): Long = {
    if (!traced) return write
    val before = dataFiles()
    val v = write
    writtenBytes += (dataFiles() -- before.keySet).values.sum
    writtenRows += rows
    v
  }

  /** Size of each data file under the table root, by path. */
  private def dataFiles(): Map[java.nio.file.Path, Long] = {
    val logDir = Paths.get(root, "_graft_log")
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => !p.startsWith(logDir) && Files.isRegularFile(p))
      .map(p => p -> Files.size(p)).toMap
  }

  private def run(op: Stmt): Unit = op match {
    case ULW =>
      val b = batch(0.8)
      val v = tracked(b.size)(ctx.write("sources.upsert_last_wins", b.size.toLong) {
        log.upsert(df(b), Seq("Id", "ts"), CommitLog.LastWins) })
      committed(v, PriceModel.upsertLastWins(state, b))
    case UIA =>
      val b = batch(0.5)
      val v = tracked(b.size)(ctx.write("sources.upsert_insert_absent", b.size.toLong) {
        log.upsert(df(b), Seq("Id", "ts"), CommitLog.InsertIfAbsent) })
      committed(v, PriceModel.upsertInsertAbsent(state, b))
    case APP =>
      val b = batch(0.0)
      val v = tracked(b.size)(ctx.write("sources.append", b.size.toLong) { log.append(df(b)) })
      committed(v, PriceModel.append(state, b))
    case MRG =>
      val b = batch(0.5)
      val v = tracked(b.size)(ctx.write("sources.merge", b.size.toLong) {
        log.merge(df(b), Seq("Id", "ts"), Seq(
          CommitLog.WhenMatchedUpdate(Map("price" -> col("s.price"))),
          CommitLog.WhenNotMatchedInsert()))
      })
      committed(v, PriceModel.merge(state, b))
    case UPD =>
      val (id, lo, hi) = span()
      val n = state(id).range(lo, hi + 1).size
      val v = tracked(n)(ctx.write("sources.update", n.toLong) {
        log.update(col("Id") === id && col("ts") >= tsLit(lo) && col("ts") <= tsLit(hi),
          Map("price" -> (col("price") + lit(new java.math.BigDecimal("0.010")))))
      })
      committed(v, PriceModel.update(state, id, lo, hi, 10L))
    case DEL =>
      val (id, lo, hi) = span()
      val n = state(id).range(lo, hi + 1).size
      val v = tracked(n)(ctx.write("sources.delete", n.toLong) {
        log.delete(col("Id") === id && col("ts") >= tsLit(lo) && col("ts") <= tsLit(hi))
      })
      committed(v, PriceModel.delete(state, id, lo, hi))
    case RP =>
      val id = zipf(g)
      val got = ctx.read("sources.read_point") {
        log.readPoint("Id", java.lang.Long.valueOf(id)).collect() }
      checkRows(got, PriceModel.rowsOf(state, Seq(id)), s"readPoint($id)")
      if (traced) candidateRatio +=
        log.pointCandidateFiles("Id", java.lang.Long.valueOf(id)).size.toDouble /
          math.max(1, log.snapshot().files.size)
    case RR =>
      val lo = zipf(g)
      val hi = lo + 2
      val got = ctx.read("sources.read_range") {
        log.readRange("Id", java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi)).collect() }
      checkRows(got, PriceModel.rowsOf(state, lo to hi), s"readRange($lo, $hi)")
    case RV =>
      val v = pastVersion()
      val got = ctx.read("sources.read_version") {
        log.readVersion(v).agg(count(lit(1)), sum(col("price")), sum(col("Id")),
          sum(unix_seconds(col("ts")) - T0Micros / 1000000L)).collect()(0)
      }
      val want = PriceModel.rows(versions(v))
      ctx.check(got.getLong(0) == want.size &&
        (want.isEmpty || (got.getDecimal(1).movePointRight(3).longValueExact() == want.map(_._4).sum &&
          got.getLong(2) == want.map(_._1).sum && got.getLong(3) == want.map(r => (r._2 - T0Micros) / 1000000L).sum)),
        s"readVersion($v) aggregates $got, want ${want.size} rows")
      if (traced) {
        ctx.probe("sources.snapshot_head")(log.snapshot())
        ctx.probe("sources.snapshot_old")(log.snapshotAt(v))
      }
    case RC =>
      val from = versions.keys.filter(_ <= head - 3).maxOption
        .getOrElse(versions.keys.min)
      val got = ctx.read("sources.read_changes") {
        log.readChanges(from, head)
          .groupBy(col("Id"), col("ts"), col("fuel"), col("price"))
          .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("n"))
          .filter(col("n") =!= 0).collect()
      }
      val (a, b) = (PriceModel.rows(versions(from)).toSet, PriceModel.rows(state).toSet)
      val want = ((b -- a).map(_ -> 1L) ++ (a -- b).map(_ -> -1L)).toMap
      val gotMap = got.map(r => rec(r) -> r.getLong(4)).toMap
      ctx.check(gotMap == want, s"readChanges($from, $head): ${gotMap.size} net changes, want ${want.size}")
    case CU => catchUp()
    case OPT =>
      val v = ctx.write("sources.optimize", 0L) { log.optimize(4, Seq("Id", "ts")) }
      committed(v, state)
    case CMP =>
      val v = ctx.write("sources.compact", 0L) { log.compact() }
      committed(v, state)
      // the grid already holds this content; its next catch-up starts here
      gridApplied = v
    case PRN =>
      ctx.write("sources.prune", 0L) { log.prune(0L) }
      val retainedFrom = Files.list(Paths.get(root, "_graft_log")).iterator().asScala
        .map(_.getFileName.toString).filter(n => n.endsWith(".json") && !n.startsWith("."))
        .map(_.takeWhile(_ != '.').toLong).min
      versions.keys.filter(_ < retainedFrom).toSeq.foreach(versions.remove)
    case VAC =>
      ctx.write("sources.vacuum", 0L) { log.vacuum(0L, 0L) }
  }

  private def catchUp(): Unit = {
    gridApplied = ctx.write("streaming.catch_up", 0L) {
      ResampleSync.catchUp(spark, root, gridRoot, Seq("Id"), "ts", "price",
        startTs, endTs, expr("interval 1 hour"), interpolate = false,
        fromVersion = gridApplied)
    }
  }

  private def rec(r: Row): Rec =
    (r.getLong(0), r.getTimestamp(1).getTime * 1000L, r.getString(2),
      r.getDecimal(3).movePointRight(3).longValueExact())

  private def checkRows(got: Array[Row], want: Seq[Rec], what: String): Unit = {
    val gs = got.toSeq.map(rec).sorted
    ctx.check(gs == want.sorted, s"$what: got ${gs.size} rows, want ${want.size}")
  }

  def finish(traced: Boolean): Map[String, Double] = {
    checkRows(log.read().collect(), PriceModel.rows(state), "final table")
    val grid = CommitLog(spark, gridRoot).read()
      .select(col("Id"), col("grid_ts"), col("last_ts"), col("last_fuel"), col("last_price"))
      .collect().toSeq.map { r =>
        (r.getLong(0), r.getTimestamp(1).getTime * 1000L,
          if (r.isNullAt(2)) None
          else Some((r.getTimestamp(2).getTime * 1000L, r.getString(3),
            r.getDecimal(4).movePointRight(3).longValueExact())))
      }.sortBy(r => (r._1, r._2))
    val want = PriceModel.ffill(state, T0Micros, EndMicros, HourMicros)
    ctx.check(grid == want, s"resample grid: ${grid.size} rows, want ${want.size}")
    if (!traced) return Map.empty
    val pipeline = FuelEtl.probe(ctx, s"$dir/fuel", seed, PipelineRounds)
    val plain = s"$root-plain"
    log.read().coalesce(1).write.parquet(plain)
    val bytesPerRow = DiskUsage.bytes(plain) / math.max(1, PriceModel.rows(state).size)
    Map(
      "space_amp" -> DiskUsage.bytes(root) / DiskUsage.bytes(plain),
      "sources.versions" -> (head + 1).toDouble,
      "sources.live_files" -> log.snapshot().files.size.toDouble,
      "sources.log_bytes" -> DiskUsage.bytes(s"$root/_graft_log"),
      "sources.point_candidate_ratio" -> Stats.median(candidateRatio.toSeq),
      "sources.write_amp" -> (if (writtenRows == 0) 0.0
        else writtenBytes / (writtenRows * bytesPerRow))) ++ pipeline
  }
}

object PriceLog {
  /** Traced fuel ingest rounds that measure the `pipeline` layer, after
    * the loop of a traced run; not part of any end-to-end metric. */
  val PipelineRounds = 3

  sealed trait Stmt
  case object ULW extends Stmt
  case object UIA extends Stmt
  case object APP extends Stmt
  case object MRG extends Stmt
  case object UPD extends Stmt
  case object DEL extends Stmt
  case object RP extends Stmt
  case object RR extends Stmt
  case object RV extends Stmt
  case object RC extends Stmt
  case object CU extends Stmt
  case object OPT extends Stmt
  case object CMP extends Stmt
  case object PRN extends Stmt
  case object VAC extends Stmt

  /** Each write type once, a read after each; then the grid catches up
    * and maintenance runs, with a point and a range read after the
    * catch-up and after the optimize. Three in four reads are point or
    * range reads, so the read median falls inside that group rather
    * than on its edge. One cycle also serves as the warm-up: it holds
    * every statement type. */
  val Cycle: Seq[Stmt] = Seq(
    ULW, RP, UIA, RR, APP, RV, MRG, RC, UPD, RP, DEL, RR,
    CU, RP, OPT, RR, CMP, PRN, VAC)
}
