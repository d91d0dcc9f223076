package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.pipeline.{FileBackedSource, FuelIngest}

/** Seeded list and detail payloads for the fuel pipeline, one pair per
  * ingest round. Round `r` lists stations `1..stations + r*newPerRound`;
  * per round and station the detail lookup may be missing, or carry a
  * null required field, and a fuel entry may be repeated with a later
  * price (the reference's last-wins dedup case). */
final case class FuelGen(seed: Long) {
  import FuelGen._

  private def rng(r: Int, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + r * 1000003L + id)

  /** One round's payloads and what the pipeline must make of them. */
  def round(r: Int): Round = {
    val list = new StringBuilder("{\"resultado\": [\n")
    val details = new StringBuilder
    val filtered = mutable.LinkedHashMap.empty[Long, Seq[Entry]]
    var missing = 0
    val n = Stations + r * NewPerRound
    (1 to n).foreach { i =>
      val id = i.toLong
      val g = rng(r, id)
      list ++= s"""  {"Id": $id, "Nome": "Posto $id"}""" ++ (if (i < n) ",\n" else "\n")
      if (g.nextDouble() < MissingRate) missing += 1
      else {
        val nullField = if (g.nextDouble() < NullRate) g.nextInt(3) else -1
        val fuels = Fuels.indices.filter(_ => g.nextDouble() < 0.7) match {
          case Seq() => Seq(g.nextInt(Fuels.size))
          case fs => fs
        }
        val raw = fuels.flatMap { f =>
          val date = T0.plusHours(r.toLong).minusMinutes(g.nextInt(600).toLong).format(Fmt)
          val e = Entry(date, Fuels(f), 1400L + g.nextInt(600))
          if (g.nextDouble() < DupEntryRate) Seq(e, e.copy(priceMilli = 1400L + g.nextInt(600)))
          else Seq(e)
        }
        val nome = if (nullField == 0) "null" else s""""Posto $id""""
        val morada = if (nullField == 1) "null"
          else s"""{"Morada": "Rua ${id % 997} n ${id % 89}", "Localidade": "L${id % 50}", "CodPostal": "${1000 + id % 8999}-${100 + id % 899}"}"""
        val comb = if (nullField == 2) "null"
          else raw.map(e => s"""{"DataAtualizacao": "${e.date}", "Combustivel": "${e.fuel}", "Preco": ${price(e.priceMilli)}}""")
            .mkString("[", ", ", "]")
        details ++= s"""{"id": $id, "resultado": {"Nome": $nome, "Marca": "${Brands((id % Brands.size).toInt)}", "Utilizacao": "Publico", "Morada": $morada, "HorarioPosto": "24h", "Servicos": ["Loja"], "MeiosPagamento": ["Multibanco"], "Combustiveis": $comb}}""" += '\n'
        // last entry per (date, fuel) wins; the sink sorts the array
        if (nullField < 0)
          filtered(id) = raw.groupBy(e => (e.date, e.fuel)).values.map(_.last).toSeq
            .sortBy(e => (e.date, e.fuel, e.priceMilli))
      }
    }
    list ++= "]}\n"
    Round(r, list.toString, details.toString, n, n - missing, missing, filtered.toMap)
  }
}

object FuelGen {
  val Stations = 1000
  val NewPerRound = 10
  val MissingRate = 0.02
  val NullRate = 0.02
  val DupEntryRate = 0.1
  val T0: LocalDateTime = LocalDateTime.of(2023, 1, 1, 6, 0)
  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Fuels = Seq("Gasoleo simples", "Gasolina simples 95", "Gasolina 98", "GPL Auto")
  val Brands = Seq("GALP", "BP", "REPSOL", "PRIO", "CEPSA")

  final case class Entry(date: String, fuel: String, priceMilli: Long)
  final case class Round(r: Int, listJson: String, detailsJsonl: String,
      stubs: Int, fetched: Int, quarantined: Int, filtered: Map[Long, Seq[Entry]])

  def price(milli: Long): String = f"${milli / 1000}.${milli % 1000}%03d"
  def runTs(r: Int): String = T0.plusHours(r.toLong).format(Fmt)
}

/** The paper's periodic ETL through the `pipeline` module, run as a
  * traced probe of `price_log` (see README: why not a workload). A
  * round is one ingest (the write), then as-of price lookups for single
  * stations and one full as-of snapshot (the reads). */
object FuelEtl {
  import FuelGen._

  val ReadsPerRound = 6

  val properties: Seq[(String, Any)] = Seq(
    "stations" -> Stations, "new_stations_per_round" -> NewPerRound,
    "missing_rate" -> MissingRate, "null_rate" -> NullRate,
    "dup_entry_rate" -> DupEntryRate, "reads_per_round" -> ReadsPerRound,
    "key_skew" -> "uniform")

  /** Ingests one untraced round and warms every call once, then traces
    * `rounds` rounds, checking every answer against the generator.
    * Returns the `pipeline` layer's extras. */
  def probe(ctx: Ctx, dir: String, seed: Long, rounds: Int): Map[String, Double] = {
    val run = new Run(ctx, dir, seed)
    run.ingest()
    // the second round takes the upsert's conflict path
    run.ingestAndRead(1)
    ctx.tracer.active = true
    (0 until rounds).foreach(_ => run.ingestAndRead(ReadsPerRound))
    ctx.tracer.active = false
    run.extras()
  }

  private final class Run(ctx: Ctx, dir: String, seed: Long) {
    private val spark = ctx.spark
    private val gen = FuelGen(seed)
    private val rng = new SplittableRandom(seed)
    private val rounds = mutable.ArrayBuffer.empty[Round]
    private val known = mutable.LinkedHashSet.empty[Long]
    private val stationBytes = mutable.ArrayBuffer.empty[Double]

    private def stationsPath = s"$dir/stations"
    private def pricesPath = s"$dir/prices"

    def ingest(): Unit = {
      val r = rounds.size
      val in = gen.round(r)
      val rd = s"$dir/in/round-$r"
      Files.createDirectories(Paths.get(rd))
      Files.write(Paths.get(rd, "list.json"), in.listJson.getBytes(UTF_8))
      Files.write(Paths.get(rd, "details.jsonl"), in.detailsJsonl.getBytes(UTF_8))
      val before = known.size
      val report = ctx.write("pipeline.ingest", (in.stubs + in.fetched).toLong) {
        FuelIngest.run(spark, new FileBackedSource(s"$rd/list.json", s"$rd/details.jsonl"),
          stationsPath, pricesPath, java.sql.Timestamp.valueOf(runTs(r)),
          Some(s"$dir/quarantine"))
      }
      rounds += in
      known ++= in.filtered.keys
      ctx.check(report.nStubs == in.stubs && report.nFetched == in.fetched &&
        report.nQuarantined == in.quarantined && report.nFiltered == in.filtered.size &&
        report.nStationsBefore == before && report.nStationsAfter == known.size &&
        report.nPriceSnapshots == in.filtered.size,
        s"round $r report $report, expected stubs ${in.stubs} fetched ${in.fetched} " +
          s"quarantined ${in.quarantined} filtered ${in.filtered.size} " +
          s"stations $before -> ${known.size}")
      stationBytes += Files.walk(Paths.get(stationsPath)).filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .mapToLong(p => Files.size(p)).sum().toDouble
    }

    def ingestAndRead(reads: Int): Unit = {
      ingest()
      val r = rounds.size - 1
      val ids = known.toIndexedSeq
      (0 until reads).foreach { _ =>
        val id = ids(rng.nextInt(ids.size))
        val t = asOfTime(r)
        val got = ctx.read("pipeline.asof_station") {
          FuelIngest.latestPricesAsOf(spark, pricesPath, t)
            .filter(col("Id") === id).collect()
        }
        val want = expected(id, t)
        val gotEntries = got.toSeq.map { row =>
          (row.getTimestamp(row.fieldIndex("Timestamp")).toString.stripSuffix(".0"),
            row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("Combustiveis")).map(e =>
              Entry(e.getString(0), e.getString(1),
                e.getDecimal(2).movePointRight(3).longValueExact())))
        }
        ctx.check(gotEntries == want.toSeq, s"as-of($id, $t): got $gotEntries want $want")
      }
      val t = asOfTime(r)
      val all = ctx.read("pipeline.asof_all") {
        FuelIngest.latestPricesAsOf(spark, pricesPath, t)
          .select(col("Id"), explode(col("Combustiveis")).as("f"))
          .agg(countDistinct(col("Id")), count(lit(1)), sum(col("f.Preco")))
          .collect()(0)
      }
      val want = known.toSeq.flatMap(id => expected(id, t).map(_._2))
      val wantSum = want.flatten.map(_.priceMilli).sum
      ctx.check(all.getLong(0) == want.size && all.getLong(1) == want.map(_.size).sum &&
        (want.isEmpty || all.getDecimal(2).movePointRight(3).longValueExact() == wantSum),
        s"as-of snapshot at $t: got $all want ${want.size} stations, " +
          s"${want.map(_.size).sum} entries, sum $wantSum")
    }

    /** A lookup time within the ingested history, not on a round's tick. */
    private def asOfTime(r: Int): String =
      T0.plusMinutes(rng.nextInt((r + 1) * 60).toLong).format(Fmt)

    /** The latest ingested snapshot of `id` at or before `t`. */
    private def expected(id: Long, t: String): Option[(String, Seq[Entry])] =
      rounds.reverseIterator
        .find(rd => runTs(rd.r) <= t && rd.filtered.contains(id))
        .map(rd => (runTs(rd.r), rd.filtered(id)))

    def extras(): Map[String, Double] = {
      val plain = s"$dir/plain"
      spark.read.parquet(stationsPath).coalesce(1).write.parquet(s"$plain/stations")
      spark.read.parquet(pricesPath).coalesce(1).write.parquet(s"$plain/prices")
      Map(
        "pipeline.space_amp" -> (DiskUsage.bytes(stationsPath) + DiskUsage.bytes(pricesPath)) /
          DiskUsage.bytes(plain),
        "pipeline.stations_bytes_written" -> Stats.median(stationBytes.toSeq),
        "pipeline.ingest.parallelism" -> {
          val s = ctx.tracer.summary().get("pipeline.ingest")
          s.map(c => c.taskS * 1e3 / (c.ms * Runtime.getRuntime.availableProcessors()))
            .getOrElse(0.0)
        })
    }
  }
}

/** Byte counts of data under a directory. */
object DiskUsage {
  /** Bytes of the regular files under `dir`, checksum sidecars and
    * commit markers excluded. */
  def bytes(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else Files.walk(p).filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.endsWith(".crc") && n != "_SUCCESS"
    }.mapToLong(f => Files.size(f)).sum().toDouble
  }
}
