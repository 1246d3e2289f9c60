package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ops.{Curation, Dedup, IvfIndex, Similarity}

/** `warehouse_sql`: one closed-loop client running whole, seeded
  * shuffles of the read mix until the time is up:
  *
  *  - the [[WarehouseSql.Queries]] through [[SparkEntry.queries]]
  *    (Catalyst, the PG-dialect frontend for `pg_*`, parquet scans),
  *  - `curate`: [[Curation.curate]] over a seeded document batch, and
  *  - `ann_search`: [[IvfIndex.search]] for seeded query vectors over an
  *    IVF index built in preparation.
  *
  * Warm-up executes each operation once; its result is the reference.
  * Query references are written out for the DuckDB oracle check; every
  * timed repetition must reproduce its reference digest, and every
  * search must keep recall@10 against brute force at or above
  * [[WarehouseSql.MinRecall]]. */
final class WarehouseSql(ctx: Ctx) extends Workload {
  import WarehouseSql._
  private val spark = ctx.spark
  private val dataDir = ctx.dir("data")
  private val verified = ctx.dir("verified")
  private val ivfRoot = ctx.dir("ivf")
  private val ref = scala.collection.mutable.Map.empty[String, String]
  private var batch: DataFrame = _
  private var batchRows = 0L
  private var queryVecs: DataFrame = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var indexBuildMs = 0.0
  private var listings0 = 0L
  private val kept = new java.util.concurrent.atomic.AtomicLong
  private val recalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def primary: Seq[String] = Mix

  /** The tables themselves are generated before the JVM starts (see
    * `gen_tables.py`); preparation builds the IVF index and draws the
    * seeded document batch and query vectors. */
  def prepare(): Unit = {
    batch = graft.Tables.load(spark, dataDir, "documents")
      .filter(pmod(xxhash64(col("doc_id"), lit(ctx.seed)), lit(2)) === 0)
    batchRows = batch.count()
    val vecs = Similarity.rawVecs(graft.Tables.load(spark, dataDir, "embeddings"))
    val t0 = System.nanoTime()
    IvfIndex.build(vecs, ivfRoot, k = Clusters)
    indexBuildMs = (System.nanoTime() - t0) / 1e6
    val rnd = new scala.util.Random(ctx.seed)
    val n = vecs.count().toInt
    val ids = Seq.fill(SearchVectors)(rnd.nextInt(n).toLong).distinct
    queryVecs = vecs.filter(col("vec_id").isin(ids: _*))
    truth = bruteTop10(vecs, ids)
  }

  /** Exact top-10 neighbours by cosine, with the search's own rounding
    * (6 places) and tie-break (cosine desc, id asc), self excluded. */
  private def bruteTop10(vecs: DataFrame, ids: Seq[Long]): Map[Long, Set[Long]] = {
    val all = vecs.select("vec_id", "e", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    ids.map { q =>
      val (_, qe, qn) = all.find(_._1 == q).get
      q -> all.iterator.filter(_._1 != q).map { case (id, e, n) =>
        var dot = 0.0
        var i = 0
        while (i < e.length) { dot += qe(i) * e(i); i += 1 }
        (id, BigDecimal(dot / (qn * n)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
    }.toMap
  }

  /** Executes operation `op`, returning its rows. */
  private def execute(op: String): Array[Row] = op match {
    case Curate => ctx.tracer.span("curate")(Curation.curate(batch).collect())
    case AnnSearch => ctx.tracer.span("ann.search")(
      IvfIndex.search(queryVecs, ivfRoot, nProbe = Probes, topN = 10).collect())
    case q =>
      val df = ctx.tracer.span("sql.build")(SparkEntry.queries(q)(spark, dataDir))
      ctx.tracer.span("sql.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("sql.exec")(df.collect())
  }

  /** None when `rows` is a right answer for `op`. */
  private def check(op: String, rows: Array[Row]): Option[String] = {
    val recall = if (op != AnnSearch) 1.0 else {
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val r = Stats.mean(truth.toSeq.map { case (q, t) =>
        (got.getOrElse(q, Set.empty[Long]) intersect t).size / t.size.toDouble })
      recalls.add(r)
      r
    }
    if (op == Curate) kept.addAndGet(rows.length)
    if (recall < MinRecall) Some(f"$op recall@10 $recall%.3f below $MinRecall")
    else if (Workloads.digest(rows) != ref(op)) Some(s"$op returned a different result (${rows.length} rows)")
    else None
  }

  def warm(): Unit = {
    // first executions run side by side; each result is the reference
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    Parallel.run(Mix.map(op => () => { rows.put(op, execute(op)); () }))
    Mix.foreach { op =>
      ref(op) = Workloads.digest(rows.get(op))
      require(check(op, rows.get(op)).isEmpty, s"$op failed its check in warm-up")
    }
    Parallel.run(Mix.filter(SparkEntry.oracleSql.contains).map(op => () => {
      val schema = SparkEntry.queries(op)(spark, dataDir).schema
      spark.createDataFrame(rows.get(op).toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$verified/$op")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$verified/$op.sql"),
        SparkEntry.oracleSql(op).getBytes("UTF-8"))
      ()
    }))
  }

  def run(ledger: Ledger, deadlineNs: Long): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    listings0 = graft.ingest.ManifestVersionCache.listings
    kept.set(0)
    recalls.clear()
    var n = 0L
    var rotations = 0
    // whole rotations only, so every operation weighs the same
    while (rotations < MinRotations || System.nanoTime() < deadlineNs) {
      rnd.shuffle(Mix).foreach { op =>
        n += 1
        ctx.tracer.beginOp(n)
        ledger.attempt(op)(ctx.tracer.span("op")(check(op, execute(op))))
      }
      rotations += 1
    }
  }

  def throughput(ledger: Ledger): Double =
    Mix.map(ledger.count).sum / (Mix.flatMap(ledger.of).sum / 1e3)

  def completed(ledger: Ledger): Long = Mix.map(ledger.count).sum.toLong

  /** The median over the mix of each operation's mean latency: every
    * operation counts once, however many rotations ran. */
  override def opP50(ledger: Ledger): Double =
    Stats.median(Mix.map(op => Stats.mean(ledger.of(op))))

  /** Median over the SQL queries of their request-to-plan time (frontend
    * translation, analysis, optimisation, physical planning), sampled
    * after the measured section, apart from execution: the fastest of
    * PlanRounds plans, which interference from the rest of the process
    * can only slow. */
  def aux(ledger: Ledger): Double =
    Stats.median(Queries.map { q =>
      (0 until PlanRounds).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dataDir).queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      }.min
    })

  def layers(ledger: Ledger, tracer: Tracer): Map[String, Double] = {
    val tot = tracer.selfMs
    val queries = math.max(1, Queries.map(ledger.count).sum).toDouble
    val curates = math.max(1, ledger.count(Curate)).toDouble
    // translation time of the PG-dialect queries on their own SQL text
    val translate = PgText.map { sql =>
      Stats.median((0 until 15).map { _ =>
        val t0 = System.nanoTime()
        graft.frontend.PgDialect.translate(sql)
        (System.nanoTime() - t0) / 1e6
      })
    }
    // LSH candidate pairs and Jaccard-kept pairs of the batch, through the
    // public dedup operators (untimed)
    val candidates = Dedup.lshCandidates(Dedup.minhash(Dedup.shingles(batch))).count()
    val keptPairs = Dedup.minhashLsh(batch, DedupThreshold).count()
    Map(
      "sql.plan_ms" -> (tot.getOrElse("sql.build", 0.0) + tot.getOrElse("sql.plan", 0.0)) / queries,
      "sql.exec_ms" -> tot.getOrElse("sql.exec", 0.0) / queries,
      "frontend.translate_ms" -> Stats.mean(translate),
      "matview.listings" -> (graft.ingest.ManifestVersionCache.listings - listings0).toDouble,
      "curate.ms" -> tot.getOrElse("curate", 0.0) / curates,
      "curate.kept_frac" -> kept.get / (curates * batchRows),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.kept_pairs" -> keptPairs.toDouble,
      "ann.search_exec_ms" -> tot.getOrElse("ann.search", 0.0) /
        math.max(1, ledger.count(AnnSearch)),
      "ann.recall_at_10" -> Stats.mean(recalls.asScala.toSeq),
      "ann.index_build_ms" -> indexBuildMs
    ) ++ Mix.map(op => s"sql.$op.p50_ms" -> Stats.median(ledger.of(op)))
  }

  override def extra: Seq[(String, String)] = Seq(
    "oracle_dir" -> dataDir, "verified_dir" -> verified,
    "queries" -> Mix.filter(SparkEntry.oracleSql.contains).mkString(","))

  /** The PG-dialect source text of the `pg_*` queries in the mix. */
  private lazy val PgText: Seq[String] = {
    val obj = graft.queries.PgQueries
    Seq("tpchQ3Sql").flatMap { field =>
      obj.getClass.getDeclaredFields.find(_.getName.endsWith(field)).map { f =>
        f.setAccessible(true)
        f.get(obj).asInstanceOf[String]
      }
    }
  }
}

object WarehouseSql {
  /** `q17_assets_linear` is the flagship `assets_per_type` CTE and window
    * chain with its per-row 3-place rounding written engine-neutrally;
    * `q17_assets_shape` rounds doubles with Spark's ROUND, which differs
    * from DuckDB's on values at the half-way point, so its oracle check
    * fails on some generated inputs. */
  val Queries: Seq[String] = Seq("q17_assets_linear", "pg_tpch_q3", "store_sql_range")
  val Curate = "curate"
  val AnnSearch = "ann_search"
  val Mix: Seq[String] = Queries ++ Seq(Curate, AnnSearch)

  val MinRotations = 1
  val PlanRounds = 3
  val Clusters = 8
  val Probes = 4
  val SearchVectors = 8
  val MinRecall = 0.8
  val DedupThreshold = 0.8
}
