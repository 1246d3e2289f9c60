package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> [--spans <spans.jsonl>]
  * }}}
  *
  * Starts a `local[N]` session (N = min(4, cores)) with its scratch space
  * under `--work`, prepares and warms the workload, then measures a
  * closed loop for `--seconds`. The
  * result file carries the operation counts, the failures, and either
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`: an untraced half, then a traced half whose latency
  * difference is reported as the tracing overhead). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), m.get("spans"))
  }

  private def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(work: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.log.level", "ERROR")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val make = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val p0 = Proc.sample()
    val spark = session(o.work)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, o.work, o.seed, new Tracer(enabled = false), counters)
    val w = make(ctx)

    val prepareS = timed(w.prepare())
    val warmS = timed(w.warm())
    val setupSteal = Proc.stealShare(p0, Proc.sample())
    note(f"set-up: session $sessionS%.2f s, prepare $prepareS%.2f s, warm-up $warmS%.2f s, " +
      f"host steal ${100 * setupSteal}%.1f %% of runnable time")
    // set-up time net of steal (see Proc.stealShare)
    val setupS = (sessionS + prepareS + warmS) * (1 - setupSteal)

    if (!o.trace) {
      val (ledger, _, cost) = measure(w, o.seconds)
      finish(o, Seq(ledger), endToEnd(w, ledger, cost, setupS), w.extra)
    } else {
      // untraced half first (the baseline), then the traced half
      val (plain, _, _) = measure(w, o.seconds / 2)
      val on = new Tracer(enabled = true)
      ctx.tracer = on
      val c0 = (counters.tasks.get, counters.shuffleWriteBytes.get, counters.spillBytes.get)
      val (traced, tracedWall, cost) = measure(w, o.seconds / 2)
      ctx.drainEvents()
      val perOp = math.max(1L, traced.attempted).toDouble
      val overhead = w.opP50(traced) / w.opP50(plain) - 1.0
      val layer = w.layers(traced, on).toSeq ++ latencies(w, plain) ++ Seq(
        "spark.tasks" -> (counters.tasks.get - c0._1) / perOp,
        "spark.shuffle_write_bytes" -> (counters.shuffleWriteBytes.get - c0._2) / perOp,
        "spark.spill_bytes" -> (counters.spillBytes.get - c0._3) / perOp,
        "jvm.gc_ms" -> cost.gcMs / tracedWall,
        "jvm.jit_ms" -> cost.jitMs / tracedWall,
        "proc.cpu_util" -> cost.cpuUtil,
        "host.steal_frac" -> cost.stealShare,
        "trace.overhead_frac" -> overhead,
        "trace.spans" -> on.all.size.toDouble,
        "setup.session_s" -> sessionS,
        "setup.prepare_s" -> prepareS,
        "setup.warm_s" -> warmS)
      o.spans.foreach(p => on.write(java.nio.file.Paths.get(p)))
      finish(o, Seq(plain, traced), layer, w.extra)
    }
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed-loop measurement for `seconds`. Returns the ledger, the wall
    * seconds and the process costs over it. */
  def measure(w: Workload, seconds: Double): (Ledger, Double, Proc.Delta) = {
    val ledger = new Ledger
    val p0 = Proc.sample()
    val t0 = System.nanoTime()
    w.run(ledger, t0 + (seconds * 1e9).toLong)
    val wall = (System.nanoTime() - t0) / 1e9
    note(f"measured ${ledger.attempted} operations in $wall%.2f s")
    (ledger, wall, Proc.delta(p0, Proc.sample()))
  }

  /** The end-to-end metrics, then, for the summary, the latencies, the
    * host's steal and the throughput before its steal correction.
    * Throughput is counted per second of un-stolen time: the rate the
    * section would have reached had the hypervisor not held the virtual
    * CPUs back (see Proc.stealShare). Process CPU time excludes steal
    * already where the kernel accounts steal paravirtually. */
  def endToEnd(w: Workload, ledger: Ledger, cost: Proc.Delta, setupS: Double)
  : Seq[(String, Double)] = Seq(
      "setup_s" -> setupS,
      "cpu_ms_per_op" -> cost.cpuMs / math.max(1L, w.completed(ledger)),
      "throughput_per_s" -> w.throughput(ledger) / (1 - cost.stealShare),
      "heap_live_mb" -> Proc.liveHeapMb()) ++ latencies(w, ledger) ++ Seq(
      "throughput_wall_per_s" -> w.throughput(ledger),
      "host.steal_frac" -> cost.stealShare)

  /** Wall-clock latencies of an untraced section: reported per layer,
    * not bounded (see the README on host noise). */
  def latencies(w: Workload, ledger: Ledger): Seq[(String, Double)] = {
    val lat = w.primary.flatMap(ledger.of)
    Seq(
      "op.p50_ms" -> w.opP50(ledger),
      "op.aux_ms" -> w.aux(ledger),
      "op.samples" -> lat.size.toDouble)
  }

  private def finish(o: Opts, ledgers: Seq[Ledger], metrics: Seq[(String, Double)],
                     extra: Seq[(String, String)]): Unit = {
    val errors = ledgers.flatMap(_.errorLog)
    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    val samples = ledgers.flatMap(l => l.kinds.map(k => k -> l.count(k)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val json =
      s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},""" +
        s""""attempted":${ledgers.map(_.attempted).sum},""" +
        s""""failed":${ledgers.map(_.failed).sum},""" +
        s""""errors":[${errors.map(Json.str).mkString(",")}],""" +
        s""""samples":{${samples.toSeq.sorted.map { case (k, n) => s"${Json.str(k)}:$n" }.mkString(",")}},""" +
        s""""metrics":{${metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
        s""""extra":{${extra.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(o.out), json.getBytes("UTF-8"))
  }
}
