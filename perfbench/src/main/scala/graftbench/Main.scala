package graftbench

import graft.Sessions

/** The benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * One client thread runs a closed loop: each op starts when the
  * previous one has returned and its answer has been checked. The loop
  * runs whole cycles until `--seconds` have passed, so every run sees
  * the same mix of op types. The last line of stdout is the result:
  * end-to-end metrics untraced, per-layer metrics traced. */
object Main {

  /** Inputs are generated and seeded this many times, into fresh
    * directories; the loop runs on the last. `setup_s` is the median of
    * these plus the one warm-up that follows them. */
  val SetupReps = 3

  val Workloads: Map[String, Ctx => Workload] = Map(
    "price_log" -> (c => new PriceLog(c)),
    "corpus_dedup" -> (c => new CorpusDedup(c)))

  /** The end-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "rows_per_s" -> "rows/s",
    "write_p50_ms" -> "ms", "read_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    require(Workloads.contains(name), s"unknown workload $name")
    val cores = Runtime.getRuntime.availableProcessors()

    val s0 = System.nanoTime()
    val spark = Sessions.local("perfbench", cores.toString)
    graft.functions.SimHashMd5.register(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer)
    val wl = Workloads(name)(ctx)

    var code = 0
    val out = try {
      val seedS = (0 until SetupReps).map { r =>
        val t = System.nanoTime()
        wl.setup(s"$work/setup-$r", seed)
        (System.nanoTime() - t) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warm()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = Stats.median(seedS) + warmS
      ctx.timing = true
      tracer.active = traced
      val start = System.nanoTime()
      var cycles = 0
      while ((System.nanoTime() - start) / 1e9 < seconds) {
        wl.cycle()
        cycles += 1
      }
      val wallS = (System.nanoTime() - start) / 1e9
      tracer.active = false
      // A traced run then runs one more cycle without the tracer: the
      // reference for the tracing overhead. Its ops are checked but not
      // logged.
      val untracedCycleMs =
        if (!traced) 0.0
        else {
          tracer.detach()
          val n = ctx.ops.size
          wl.cycle()
          val ms = ctx.ops.drop(n).map(_.ms).sum
          ctx.ops.dropRightInPlace(ctx.ops.size - n)
          ms
        }
      ctx.timing = false
      val liveHeap = if (traced) liveHeapMb() else 0.0
      val extras = wl.finish(traced)
      val result =
        if (!traced) endToEnd(ctx, setupS, wallS)
        else perLayer(ctx, extras ++ Map(
          "trace.overhead_frac" -> (ctx.ops.map(_.ms).sum / cycles / untracedCycleMs - 1),
          "jvm.live_heap_mb" -> liveHeap,
          "setup.session_s" -> sessionS))
      val info = wl.properties ++ Seq("workload" -> name, "seed" -> seed,
        "cycles" -> cycles, "timed_s" -> wallS, "seed_runs_s" -> seedS,
        "warm_s" -> warmS,
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "local_cores" -> cores,
        "ops" -> Json.Obj(ctx.ops.groupBy(_.call).toSeq.sortBy(_._1).map { case (c, os) =>
          c -> Json.Obj(Seq("n" -> os.size, "p50_ms" -> Stats.median(os.map(_.ms).toSeq)))
        }))
      println(Json.obj(Seq("perfbench_info" -> Json.Obj(info))))
      if (!ctx.correct || ctx.failed > 0) code = 1
      resultLine(ctx.correct, ctx.attempted, ctx.failed, result)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
        null
    }
    try spark.stop() catch { case _: Throwable => }
    if (out != null) println(out)
    sys.exit(code)
  }

  private def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String =
    Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (k, (v, u)) =>
        k -> Json.Obj(Seq("value" -> v, "unit" -> u)) })))

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use after a full collection: the live set, which the fixed
    * heap size of the run does not hide as the resident set does. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private def endToEnd(ctx: Ctx, setupS: Double, wallS: Double)
      : Seq[(String, (Double, String))] = {
    val w = ctx.ops.filter(_.kind == Ctx.Write).map(_.ms).toSeq
    val r = ctx.ops.filter(_.kind == Ctx.Read).map(_.ms).toSeq
    val v = Map("setup_s" -> setupS, "rows_per_s" -> ctx.ops.map(_.rows).sum / wallS,
      "write_p50_ms" -> Stats.median(w), "read_p50_ms" -> Stats.median(r),
      "peak_rss_mb" -> peakRssMb())
    EndToEnd.map { case (n, u) => n -> (v(n), u) }
  }

  private def perLayer(ctx: Ctx, extras: Map[String, Double])
      : Seq[(String, (Double, String))] = {
    val calls = ctx.tracer.summary()
    val w = ctx.ops.filter(_.kind == Ctx.Write).map(_.ms).toSeq
    val r = ctx.ops.filter(_.kind == Ctx.Read).map(_.ms).toSeq
    val known = extras ++ Map(
      "write_p90_ms" -> Stats.p90(w), "read_p90_ms" -> Stats.p90(r),
      "write_n" -> w.size.toDouble, "read_n" -> r.size.toDouble,
      "error_rate" -> (if (ctx.attempted == 0) 0.0
        else ctx.failed.toDouble / ctx.attempted))
    Layers.all.map { case (name, unit) =>
      val v = known.getOrElse(name, Layers.callValue(calls, name))
      name -> (v, unit)
    }
  }
}

/** One workload: seeded inputs, set-up, one cycle of ops, final checks. */
trait Workload {
  /** Generate inputs from `seed` and seed the tables, under `dir`. */
  def setup(dir: String, seed: Long): Unit
  /** Run every call type once on the last set-up, before timing: the
    * first call of a type pays one-time JVM and planner costs. */
  def warm(): Unit
  /** One cycle of ops on the last set-up. */
  def cycle(): Unit
  /** Final checks after the loop; returns this workload's per-layer
    * extras (computed only when `traced`, except the checks). */
  def finish(traced: Boolean): Map[String, Double]
  /** Input properties recorded with every result. */
  def properties: Seq[(String, Any)]
}
