package perfbench

import org.apache.spark.sql.functions._
import graft.ingest.{Demux, IngestJob, ManifestStore, ParquetLogRpc}

/** `store_mixed`: one chain store used as reads beside writes.
  *
  * Preparation writes a seeded raw-log corpus ([[ChainUniverse]]) and
  * catches the store up over the first [[StoreMixed.PrefillFrac]] of the
  * chain in one `IngestJob.runAtomic` commit, reading through a counting
  * `ParquetLogRpc`. The measured section then
  * runs [[StoreMixed.Readers]] readers that issue
  *
  *  - point lookups by `transaction_hash` (Bloom-pruned `store.read`),
  *    70 % of the reads,
  *  - block-range reads (`store.readRange`, stat-pruned), 15 %, and
  *  - decode-through range reads (`readRange` filtered by
  *    `Demux.decodesOk`, the codec path), 15 %,
  *
  * beside one writer that follows the chain head: the head advances by
  * [[StoreMixed.TickBlocks]] blocks for every [[StoreMixed.TickEvery]]
  * reads completed, and the writer commits each advance as one tick
  * (`runAtomic`), one after the other. Tying the head to the reads keeps
  * the share of commit work in a read's cost fixed, whatever the speed of
  * the host; the writer still runs beside the readers, and commits owed
  * when the readers stop are made before the measurement ends,
  *
  * all over the pre-filled blocks, whose answers the ticks never change:
  * a lookup must return exactly its block's row, a range exactly one row
  * per block, and every decode-through row must decode. */
final class StoreMixed(ctx: Ctx) extends Workload {
  import StoreMixed._
  private val spark = ctx.spark
  private var u: ChainUniverse = _
  private var rpc: CountingRpc = _
  private var root = ""
  private var prefillHead = 0L
  @volatile private var head = 0L
  private val commits = new CommitStats
  private val lookupFiles = new java.util.concurrent.atomic.AtomicLong
  private val lookupTotal = new java.util.concurrent.atomic.AtomicLong
  private val rangeFiles = new java.util.concurrent.atomic.AtomicLong
  private var rpc0: Seq[Long] = Nil
  private val readsInWindow = new java.util.concurrent.atomic.AtomicLong
  /** One permit per read completed in the measured section. */
  private val readsDone = new java.util.concurrent.Semaphore(0)
  private var windowS = 1.0

  def primary: Seq[String] = Seq(LookupKind)

  def prepare(): Unit = {
    u = new ChainUniverse(ctx.seed, Contracts, EntriesPer, RowsPerDef, Replicas)
    rpc = new CountingRpc(new ParquetLogRpc(u.writeRaw(spark, ctx.dir("raw"), RawFiles)))
    root = ctx.dir("store")
    val store = new ManifestStore(root)
    prefillHead = u.firstBlock + (u.totalLogs * PrefillFrac).toLong - 1
    val scratch = new Ledger
    // two fetch ranges, so the catch-up writes from two tasks
    commit(scratch, "prefill", store, prefillHead, u.firstBlock - 1,
      (prefillHead - u.firstBlock) / 2 + 1)
    require(scratch.failed == 0, s"prefill failed: ${scratch.errorLog.mkString("; ")}")
    head = prefillHead
  }

  /** Commits the catch-up to `to` and checks the landed row count against
    * the dense corpus (one log per block). */
  private def commit(ledger: Ledger, kind: String, store: ManifestStore, to: Long,
                     from: Long, blocksStep: Long): Boolean =
    ledger.attempt(kind) {
      val tracing = ctx.tracer.enabled
      val files0 = if (tracing) store.currentFiles(spark).size else 0
      val jobMs0 = ctx.counters.jobMs(kind)
      val t0 = System.nanoTime()
      val n = ctx.tracer.span("ingest.commit") {
        ctx.tagged(kind)(IngestJob.runAtomic(spark, rpc, u.defs, None, store,
          u.firstBlock, to, blocksStep = blocksStep, maxLogs = MaxLogs))
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      if (tracing) {
        ctx.drainEvents()
        commits.add(wallMs, ctx.counters.jobMs(kind) - jobMs0,
          store.currentFiles(spark).size - files0, n)
      }
      if (n == to - from) None else Some(s"commit to $to landed $n rows, expected ${to - from}")
    }

  private def tick(store: ManifestStore, ledger: Ledger): Unit = {
    val next = math.min(u.lastBlock, head + TickBlocks)
    if (next > head && commit(ledger, TickKind, store, next, head, TickBlocks + 1))
      head = next
  }

  private def lookup(store: ManifestStore, block: Long): Option[String] = {
    val snap = ctx.tracer.span("store.snapshot")(store.read(spark).get)
    val df = snap.filter(col("transaction_hash") === lit(u.txHash(block)))
      .select("block_number", "table_name")
    val plan = ctx.tracer.span("store.plan")(df.queryExecution.executedPlan)
    val rows = ctx.tracer.span("store.exec")(df.collect())
    if (ctx.tracer.enabled) {
      lookupFiles.addAndGet(PlanWalk.filesRead(plan))
      lookupTotal.addAndGet(store.currentFiles(spark).size)
    }
    if (rows.length == 1 && rows(0).getLong(0) == block) None
    else Some(s"lookup of block $block returned blocks ${rows.map(_.getLong(0)).mkString(",")}")
  }

  /** Row count of [lo, hi], through the decode predicate when `decode`. */
  private def range(store: ManifestStore, lo: Long, hi: Long, decode: Boolean): Option[String] = {
    val snap = ctx.tracer.span("store.snapshot")(store.readRange(spark, lo, hi).get)
    val rows = if (decode) snap.filter(Demux.decodesOk(u.defs)) else snap
    val df = rows.groupBy().count()
    val plan = ctx.tracer.span("store.plan")(df.queryExecution.executedPlan)
    val n = ctx.tracer.span(if (decode) "codec.decode" else "store.exec")(df.collect())(0).getLong(0)
    if (ctx.tracer.enabled && !decode) rangeFiles.addAndGet(PlanWalk.filesRead(plan))
    if (n == hi - lo + 1) None
    else Some(s"${if (decode) "decode" else "range"} [$lo, $hi] returned $n rows")
  }

  /** One read of kind `kind`; keys and ranges are drawn from the reader's
    * seeded generator. */
  private def read(store: ManifestStore, rnd: scala.util.Random, kind: String,
                   ledger: Ledger): Unit = {
    val blocks = prefillHead - u.firstBlock + 1
    kind match {
      case LookupKind =>
        val b = u.firstBlock + (rnd.nextDouble() * blocks).toLong
        ledger.attempt(LookupKind)(lookup(store, b))
      case kind =>
        val lo = u.firstBlock + (rnd.nextDouble() * (blocks - RangeBlocks)).toLong
        ledger.attempt(kind)(range(store, lo, lo + RangeBlocks - 1, kind == DecodeKind))
    }
  }

  def warm(): Unit = {
    val scratch = new Ledger
    val store = new ManifestStore(root)
    val rnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
    // every read kind, each WarmRounds times, before anything is timed
    (0 until WarmRounds).foreach(_ => Cycle.distinct.foreach(k => read(store, rnd, k, scratch)))
    tick(store, scratch)
    require(scratch.failed == 0, s"warm-up failed: ${scratch.errorLog.mkString("; ")}")
  }

  def run(ledger: Ledger, deadlineNs: Long): Unit = {
    rpc0 = RpcCounters.snapshot()
    windowS = (deadlineNs - System.nanoTime()) / 1e9
    readsInWindow.set(0)
    readsDone.drainPermits()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reading = new java.util.concurrent.atomic.AtomicInteger(Readers)
    // each read takes a ticket; past the deadline, reads stop at the next
    // multiple of TickEvery tickets, so every read carries the same share
    // of the ticks
    val tickets = new java.util.concurrent.atomic.AtomicLong
    val lastTicket = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    def done(): Boolean = {
      if (System.nanoTime() >= deadlineNs)
        lastTicket.compareAndSet(Long.MaxValue, (tickets.get + TickEvery - 1) / TickEvery * TickEvery)
      stop.get || tickets.getAndIncrement() >= lastTicket.get
    }
    val readers = (0 until Readers).map { r =>
      new Thread(() => {
        try {
          val store = new ManifestStore(root)
          val rnd = new scala.util.Random(ctx.seed * 31 + r)
          // readers start at different points of the cycle
          var op = r.toLong * Cycle.size / Readers
          while (!done()) {
            ctx.tracer.beginOp((r + 1L) << 32 | op)
            read(store, rnd, Cycle((op % Cycle.size).toInt), ledger)
            if (System.nanoTime() <= deadlineNs) readsInWindow.incrementAndGet()
            readsDone.release()
            op += 1
          }
        } finally reading.decrementAndGet()
      }, s"perfbench-reader-$r")
    }
    readers.foreach(_.start())
    try {
      val store = new ManifestStore(root)
      var op = 0L
      // a tick for every TickEvery reads, until the readers have stopped
      // and no tick is owed
      while ((reading.get > 0 || readsDone.availablePermits >= TickEvery) && head < u.lastBlock) {
        if (readsDone.tryAcquire(TickEvery.toInt, 5, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          op += 1
          ctx.tracer.beginOp(op)
          tick(store, ledger)
        }
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join())
    }
  }

  /** Reads finished inside the measured window, per second of it (the
    * reads that round the count up to a multiple of TickEvery and the
    * ticks still owed run past the deadline and are not counted, so the
    * wait for them does not dilute the rate). */
  def throughput(ledger: Ledger): Double = readsInWindow.get / windowS

  /** Reads completed; the writer's work is part of their cost. */
  def completed(ledger: Ledger): Long =
    Seq(LookupKind, RangeKind, DecodeKind).map(ledger.count).sum.toLong

  def aux(ledger: Ledger): Double = Stats.median(ledger.of(RangeKind))

  def layers(ledger: Ledger, tracer: Tracer): Map[String, Double] = {
    val tot = tracer.selfMs
    val d = RpcCounters.snapshot().zip(rpc0).map { case (a, b) => a - b }
    val ticks = math.max(1, ledger.count(TickKind)).toDouble
    val reads = math.max(1, Seq(LookupKind, RangeKind, DecodeKind).map(ledger.count).sum).toDouble
    val lookups = math.max(1, ledger.count(LookupKind)).toDouble
    val decodes = ledger.count(DecodeKind)
    Map(
      "rpc.calls" -> d(0) / ticks,
      "rpc.estimate_calls" -> d(1) / ticks,
      "rpc.logs" -> d(2) / ticks,
      "rpc.fetch_ms" -> d(3) / 1e6 / ticks,
      "sources.plan_ms" -> d(4) / 1e6 / ticks,
      "demux.fanout" -> (if (d(2) == 0) 0.0 else commits.rows.toDouble / d(2)),
      "ingest.commit_job_ms" -> commits.jobMs,
      "ingest.commit_driver_ms" -> commits.driverMs,
      "ingest.files_per_commit" -> commits.filesPerCommit,
      "ingest.rows_per_file" -> commits.rowsPerFile,
      "ingest.manifest_bytes" ->
        Workloads.bytesUnder(new java.io.File(root, "_manifests")).toDouble,
      "store.bytes_per_row" ->
        Workloads.bytesUnder(new java.io.File(root)).toDouble / (head - u.firstBlock + 1),
      "store.snapshot_ms" -> tot.getOrElse("store.snapshot", 0.0) / reads,
      "store.plan_ms" -> tot.getOrElse("store.plan", 0.0) / reads,
      "store.exec_ms" -> tot.getOrElse("store.exec", 0.0) / reads,
      "lookup.files_opened" -> lookupFiles.get / lookups,
      "lookup.files_total" -> lookupTotal.get / lookups,
      "lookup.prune_frac" ->
        (if (lookupTotal.get == 0) 0.0 else 1.0 - lookupFiles.get.toDouble / lookupTotal.get),
      "range.files_opened" -> rangeFiles.get / math.max(1, ledger.count(RangeKind)).toDouble,
      "tick.p50_ms" -> Stats.median(ledger.of(TickKind)),
      "codec.decode_ms" -> tot.getOrElse("codec.decode", 0.0) / math.max(1, decodes),
      // every decode-through read that passed its check kept all its rows
      "codec.decoded_frac" -> (if (decodes == 0) 0.0
        else 1.0 - ledger.failedOf(DecodeKind).toDouble / decodes),
      "codec.decode_rows_per_s" -> decodes * RangeBlocks /
        math.max(1e-9, tot.getOrElse("codec.decode", 0.0) / 1e3))
  }
}

/** Per-commit breakdown gathered in traced runs. */
final class CommitStats {
  private val b = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int, Long)]
  def add(wallMs: Double, jobMs: Double, files: Int, rows: Long): Unit =
    synchronized { b += ((wallMs, jobMs, files, rows)) }
  private def all = synchronized(b.toList)
  def jobMs: Double = Stats.mean(all.map(_._2))
  def driverMs: Double = Stats.mean(all.map(x => math.max(0.0, x._1 - x._2)))
  def filesPerCommit: Double = Stats.mean(all.map(_._3.toDouble))
  def rows: Long = all.map(_._4).sum
  def rowsPerFile: Double = {
    val f = all.map(_._3).sum
    if (f == 0) 0.0 else rows.toDouble / f
  }
}

object StoreMixed {
  /** Chain shape: 4 contracts x 3 entries = 12 tables, 4 logs per table
    * per replica, so 48 logs per replica and 12,288 logs in all. */
  val Contracts = 4
  val EntriesPer = 3
  val RowsPerDef = 4
  val Replicas = 256
  val RawFiles = 4
  val MaxLogs = 10000L
  val PrefillFrac = 0.75
  val Readers = 3
  val RangeBlocks = 256L
  val TickBlocks = 48L
  val TickEvery = 40L
  val WarmRounds = 2
  val LookupKind = "lookup"
  val RangeKind = "range"
  val DecodeKind = "decode"
  val TickKind = "tick"
  /** Read kinds in the order each reader issues them: 14 point lookups,
    * 3 block-range and 3 decode-through reads in every 20 (70/15/15). */
  val Cycle: IndexedSeq[String] = {
    val L = LookupKind
    IndexedSeq(L, L, RangeKind, L, L, DecodeKind, L, L, L, RangeKind,
      L, L, DecodeKind, L, L, RangeKind, L, L, DecodeKind, L)
  }
}
