package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.abi.{AbiJson, AbiSchema}
import graft.fixtures.UniverseFixture
import graft.ingest.{Demux, LogRpc, RawLog}

/** A seeded chain universe that needs no external ABI tree: `contracts`
  * contracts of `entriesPer` ABI entries each (events and state-changing
  * functions over static and dynamic parameter types), and a raw-log
  * corpus encoded through [[UniverseFixture.batch]] and replicated over
  * consecutive block spans.
  *
  * Every block holds exactly one log, so the corpus covers the block
  * interval [[firstBlock]], [[lastBlock]] densely: a block range holds
  * `hi - lo + 1` logs. Each log's `transaction_hash` is SHA-256 of
  * `"<seed>:<block>"`, unique per log, so a point lookup has exactly one
  * answer and [[txHash]] recomputes it without reading the corpus. */
final class ChainUniverse(seed: Long, contracts: Int, entriesPer: Int,
                          rowsPerDef: Int, replicas: Int) {

  private val staticTypes = Seq("address", "uint256", "bool", "bytes32", "uint64")
  private val allTypes = staticTypes ++ Seq("uint8", "int128", "string", "bytes")

  /** The ABI shapes depend on the contract count alone, so every seed
    * runs the same tables; the seed draws the logs' values. */
  val defs: Seq[AbiSchema.TableDef] = {
    val rnd = new scala.util.Random(contracts * 1000L + entriesPer)
    (0 until contracts).flatMap { c =>
      val entries = (0 until entriesPer).map { e =>
        val isEvent = rnd.nextDouble() < 0.6
        val inputs = (0 until 1 + rnd.nextInt(4)).map { i =>
          // indexed event params stay static: dynamic ones are hashed
          // into topics and cannot decode back to their values
          val indexed = isEvent && i < 3 && rnd.nextBoolean()
          val t = if (indexed) staticTypes(rnd.nextInt(staticTypes.size))
                  else allTypes(rnd.nextInt(allTypes.size))
          AbiJson.Param(s"p$i", t, indexed, Nil)
        }
        AbiJson.Entry(if (isEvent) "event" else "function",
          s"${if (isEvent) "Evt" else "act"}${c}n$e", inputs,
          if (isEvent) "" else "nonpayable", anonymous = false)
      }
      AbiSchema.tables(s"c$c", entries, schemaName = "bench")
    }
  }

  private val batch = UniverseFixture.batch(defs, rowsPerDef, seed)
  val span: Long = batch.lastBlock - batch.firstBlock + 1
  val firstBlock: Long = batch.firstBlock
  val lastBlock: Long = firstBlock + span * replicas - 1
  def totalLogs: Long = span * replicas

  def txHash(block: Long): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$seed:$block".getBytes("UTF-8"))

  /** Writes the raw-log corpus under `dir` as `files` block-ordered parquet
    * files and returns their paths. */
  def writeRaw(spark: SparkSession, dir: String, files: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val base = spark.createDataFrame(batch.rows.asJava, Demux.rawLogSchema)
    base.crossJoin(spark.range(replicas).select(col("id").as("_rep")))
      .withColumn("block_number", col("block_number") + col("_rep") * lit(span))
      .withColumn("transaction_hash", unhex(sha2(concat_ws(":", lit(seed.toString),
        col("block_number").cast("string")).cast("binary"), 256)))
      .drop("_rep")
      .repartitionByRange(files, col("block_number"))
      .sortWithinPartitions("block_number")
      .write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet")).sorted.toSeq
  }
}

/** Counters shared by every [[CountingRpc]] of the process (tasks run in
  * the driver JVM under `local[N]`). */
object RpcCounters {
  val calls = new AtomicLong
  val estimateCalls = new AtomicLong
  val logs = new AtomicLong
  val fetchNs = new AtomicLong
  val estimateNs = new AtomicLong

  def snapshot(): Seq[Long] =
    Seq(calls.get, estimateCalls.get, logs.get, fetchNs.get, estimateNs.get)
}

/** Delegating [[LogRpc]] that counts fetch calls, planning estimates and
  * delivered logs, and times both. Fetch time runs from the call until
  * the returned iterator is drained. */
final class CountingRpc(inner: LogRpc) extends LogRpc {
  override def estimateLogs(from: Long, to: Long,
                            address: Option[Array[Byte]]): Long = {
    val t0 = System.nanoTime()
    try inner.estimateLogs(from, to, address)
    finally {
      RpcCounters.estimateCalls.incrementAndGet()
      RpcCounters.estimateNs.addAndGet(System.nanoTime() - t0)
    }
  }

  override def getLogs(from: Long, to: Long,
                       address: Option[Array[Byte]]): Iterator[RawLog] = {
    RpcCounters.calls.incrementAndGet()
    val t0 = System.nanoTime()
    val it = inner.getLogs(from, to, address)
    new Iterator[RawLog] with AutoCloseable {
      private var done = false
      private def finish(): Unit = if (!done) {
        done = true
        RpcCounters.fetchNs.addAndGet(System.nanoTime() - t0)
      }
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) finish()
        h
      }
      override def next(): RawLog = {
        RpcCounters.logs.incrementAndGet()
        it.next()
      }
      override def close(): Unit = {
        finish()
        it match { case c: AutoCloseable => c.close(); case _ => () }
      }
    }
  }
}
