package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Shared state of one benchmark invocation. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                @volatile var tracer: Tracer, val counters: SparkCounters) {
  def dir(name: String): String = s"$work/$name"

  /** Run `body` with this thread's Spark jobs tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkCounters.TagKey)
    sc.setLocalProperty(SparkCounters.TagKey, tag)
    try body finally sc.setLocalProperty(SparkCounters.TagKey, prev)
  }

  /** Wait until the listener has seen every posted event. */
  def drainEvents(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** One workload: untimed preparation and warm-up, then a closed
  * measurement loop that records every operation in a [[Ledger]]. */
trait Workload {
  /** Builds this workload's inputs (data, stores, indexes). */
  def prepare(): Unit

  /** Runs every operation kind at least once, untimed; first-execution
    * costs (JIT, code generation, artifact builds) land here. */
  def warm(): Unit

  /** Runs operations until `deadlineNs` has passed (a workload may finish
    * its current round first). */
  def run(ledger: Ledger, deadlineNs: Long): Unit

  /** Ledger kinds whose latencies are the primary operation. */
  def primary: Seq[String]

  /** Workload-specific values of `throughput_per_s`, `op.p50_ms` and
    * `op.aux_ms`. */
  def throughput(ledger: Ledger): Double

  /** Operations the measured section completed (the base of
    * `cpu_ms_per_op`). */
  def completed(ledger: Ledger): Long
  /** Median latency of the primary operation; NaN below the percentile
    * rule's sample count ([[Stats.trusted]]). */
  def opP50(ledger: Ledger): Double = Stats.trusted(primary.flatMap(ledger.of), 0.5)
  def aux(ledger: Ledger): Double

  /** Per-layer metrics after a traced section. */
  def layers(ledger: Ledger, tracer: Tracer): Map[String, Double]

  /** Extra facts for the result file (e.g. what the oracle must check). */
  def extra: Seq[(String, String)] = Nil
}

object Workloads {
  /** Order-insensitive digest of a result: canonical row strings, sorted. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  def bytesUnder(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).toSeq.flatten.map(bytesUnder).sum

  val all: Map[String, Ctx => Workload] = Map(
    "warehouse_sql" -> (new WarehouseSql(_)),
    "store_mixed" -> (new StoreMixed(_)))
}

/** Runs independent set-up tasks on a few threads (Spark schedules their
  * jobs side by side on the local cores). */
object Parallel {
  val Threads = 3

  def run(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}
