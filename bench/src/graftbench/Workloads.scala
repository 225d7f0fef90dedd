package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{CrawlRound, Crawler, FrontierGen}
import graft.plans.Model.{CrawlConfig, RoundMetrics}
import graft.sources.SnapshotStore

/** Attempted and failed operations of one run. An operation fails when it
  * throws or when its output differs from the recorded one. */
final class Checks(expected: Option[com.fasterxml.jackson.databind.JsonNode]) {
  var attempted = 0
  var failed = 0
  val notes = mutable.ArrayBuffer.empty[String]
  /** Outputs seen in this run, by key: written out for recording. */
  val observed = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = { failed += 1; notes += what }

  /** Compare `value` with the recorded output under `key`; with no recorded
    * output, with the first value this run saw under that key. */
  def output(key: String, value: String): Unit = {
    attempted += 1
    val want = expected.flatMap(e => Option(e.get(key))).map(_.asText)
      .orElse(observed.get(key))
    if (want.exists(_ != value)) fail(s"$key: got $value, want ${want.get}")
    observed.getOrElseUpdate(key, value)
  }

  /** Whether this run's outputs were recorded before. */
  def recorded: Boolean = expected.isDefined

  /** Run one operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch { case t: Throwable =>
      attempted += 1
      fail(s"$what threw ${t.getClass.getSimpleName}: ${t.getMessage}")
      None
    }
}

/** One workload: set-up, the timed operation, and the untimed work after it. */
trait Workload {
  /** Timed operations a run makes at least, the first one included. */
  def minOps: Int
  def setup(spark: SparkSession, rep: Int): Unit
  /** One timed operation; returns the units of work it did. */
  def op(spark: SparkSession): Double
  /** Rebind to a new session (another core count) and warm it, untimed. */
  def rebind(spark: SparkSession): Unit
  /** Untimed work after the timed local[cpus] operations. */
  def after(spark: SparkSession): Unit = ()
  /** Module calls timed only in a traced run. */
  def audit(spark: SparkSession): Unit = ()
  /** Named numbers for the printout and the run's report. */
  val report = mutable.LinkedHashMap.empty[String, Double]
}

object CrawlWorkload {
  def signature(m: RoundMetrics): String =
    s"due=${m.due},fetched=${m.fetched},new_urls=${m.new_urls}," +
      s"links_extracted=${m.links_extracted},frontier_size=${m.frontier_size}," +
      s"seen_size=${m.seen_size}"

  def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
}

/** The growth phase of a crawl: `FrontierGen.init` with the run's seed puts
  * `n` URLs in the frontier, all due at round 0; round 0 then grows the
  * frontier. Both are the set-up. The timed operation re-runs round 1 on the
  * same committed snapshot 1, so every timed round does identical work. */
final class CrawlWorkload(n: Long, seed: Long, work: Path, tracer: Tracer,
    checks: Checks) extends Workload {
  import CrawlWorkload._
  val minOps = 3
  private val cfg = CrawlConfig(hostBudget = 1000, roundCap = Int.MaxValue)
  checks.output("config", s"frontier_seeds=$n,host_budget=${cfg.hostBudget}")
  private var dir: Path = _
  private var store: SnapshotStore = _
  private val ratios = mutable.ArrayBuffer.empty[(Double, Double)]

  def setup(spark: SparkSession, rep: Int): Unit = {
    if (dir != null) Main.rmTree(dir)
    dir = work.resolve(s"store-$rep")
    store = new SnapshotStore(spark, dir.toString)
    val t0 = System.nanoTime()
    tracer.span("FrontierGen.init")(FrontierGen.init(spark, store, n, cfg, seed))
    report("FrontierGen.init_s") = (System.nanoTime() - t0) / 1e9
    val m = tracer.span("CrawlRound.run", Map("round" -> "0"))(
      CrawlRound.run(spark, store, 0, cfg).metrics)
    checks.output("round0", signature(m))
  }

  def op(spark: SparkSession): Double = {
    val m = tracer.span("CrawlRound.run", Map("round" -> "1"))(
      CrawlRound.run(spark, store, 1, cfg).metrics)
    checks.output("round1", signature(m))
    ratios += ((m.new_urls.toDouble / math.max(1L, m.links_extracted),
      m.fetched.toDouble / math.max(1L, m.due)))
    report("round1_due") = m.due.toDouble
    report("round1_fetched") = m.fetched.toDouble
    report("round1_new_urls") = m.new_urls.toDouble
    (m.fetched + m.new_urls).toDouble
  }

  def rebind(spark: SparkSession): Unit = {
    store = new SnapshotStore(spark, dir.toString)
    store.loadFrontier(1).count()
  }

  override def after(spark: SparkSession): Unit = {
    // snapshot 2 is what one committed round adds to the store
    val snap = dir.resolve("snapshot-2")
    val (bytes, files) = dirBytes(snap)
    report("store_mb_per_round") = bytes / 1048576.0
    report("SnapshotStore.files") = files.toDouble
    Seq("frontier" -> "frontier_mb", "seen_delta" -> "seen_mb", "pages" -> "pages_mb",
      "bloom.bin" -> "filter_mb").foreach { case (sub, key) =>
      report(s"SnapshotStore.$key") = dirBytes(snap.resolve(sub))._1 / 1048576.0
    }
    val t0 = System.nanoTime()
    checks.attempt("Crawler.seenDigest") {
      val (cnt, hsum, hxor) = tracer.span("Crawler.seenDigest")(Crawler.seenDigest(spark, store))
      report("Crawler.seenDigest_s") = (System.nanoTime() - t0) / 1e9
      checks.output("seen_digest", s"$cnt,$hsum,$hxor")
    }
    report("CrawlRound.new_per_link") = Main.median(ratios.map(_._1).toSeq)
    report("CrawlRound.fetch_per_due") = Main.median(ratios.map(_._2).toSeq)
  }

  /** The invariant report and the store's read calls, each timed once. */
  override def audit(spark: SparkSession): Unit = {
    def time(name: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      tracer.span(name)(body)
      report(s"${name}_s") = (System.nanoTime() - t0) / 1e9
    }
    checks.attempt("Crawler.invariantReport") {
      var rows = Array.empty[org.apache.spark.sql.Row]
      time("Crawler.invariantReport") { rows = Crawler.invariantReport(spark, store).collect() }
      val bad = rows.filter(_.getLong(2) != 0L).map(r => s"${r.getString(1)}=${r.getLong(2)}")
      checks.attempted += 1
      if (bad.nonEmpty) checks.fail(s"invariantReport violations: ${bad.mkString(",")}")
    }
    report("audit_s") = Seq("Crawler.invariantReport_s", "Crawler.seenDigest_s")
      .map(report.getOrElse(_, Double.NaN)).sum
    time("SnapshotStore.loadFrontier")(store.loadFrontier(1).count())
    time("SnapshotStore.loadSeen")(store.loadSeen(1).count())
    time("SnapshotStore.loadBloom")(store.loadBloom(1).get)
  }
}

/** The 15 headline queries of `graft.Bench` over a fixed dataset. One timed
  * operation is one pass over all 15. Where `graft.Bench` counts each
  * query's rows, this pass consumes every column of every row through an
  * order-independent content hash: no column can be pruned away, and the
  * hash is the query's output check. */
final class QueryWorkload(data: Path, tracer: Tracer, checks: Checks,
    plans: () => Option[QueryPlans], counters: () => Option[SparkCounters])
    extends Workload {
  // the cold pass and three warm ones
  val minOps = 4
  val names = Seq(
    "q_scan_filter", "q_agg_user", "q_window_rank", "q_join_agg",
    "q_anti_join", "q_rollup", "q_topk", "q_tokens",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_ann_brute", "q_ann_lsh", "q_lang_quality", "q_fingerprint")
  private val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  checks.output("config", s"dataset=${data.getFileName}")

  def setup(spark: SparkSession, rep: Int): Unit = warm(spark)

  /** The untimed warm-up scan of `graft.Bench`. */
  private def warm(spark: SparkSession): Unit =
    spark.read.parquet(data.resolve("lineitem.parquet").toString)
      .filter(col("l_quantity") >= 0).count()

  def op(spark: SparkSession): Double = {
    names.foreach { q =>
      val c0 = tracer.nowMs
      val t0 = System.nanoTime()
      checks.attempt(q) {
        val h = tracer.span(s"SparkEntry.$q")(
          QueryWorkload.contentHash(SparkEntry.queries(q)(spark, data.toString)))
        walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        checks.output(q, h)
      }
      counters().foreach { c =>
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        report(s"SparkEntry.$q.shuffle_mb") =
          c.summary("q", c0, tracer.nowMs, 1)("q.shuffle_write_mb")
      }
      plans().foreach { p =>
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        p.synchronized(p.exchanges.lastOption).foreach(e =>
          report(s"SparkEntry.$q.exchanges") = e.toDouble)
      }
    }
    names.size.toDouble
  }

  def rebind(spark: SparkSession): Unit = warm(spark)

  /** Per-query walls: the first pass is the cold one, the rest are warm. */
  override def after(spark: SparkSession): Unit =
    walls.foreach { case (q, ws) =>
      report(s"SparkEntry.${q}_cold_s") = ws.head
      report(s"SparkEntry.${q}_s") = Main.median(ws.drop(1).toSeq)
    }
}

object QueryWorkload {
  /** Row count, decimal sum and xor of xxhash64 over every column of every
    * row: independent of row order and partitioning. */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.indices.map(i => col(s"c$i"))
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(xxhash64(cols: _*).as(QueryPlans.HashColumn))
      .agg(count(lit(1)),
        sum(col(QueryPlans.HashColumn).cast("decimal(38,0)")).cast("string"),
        bit_xor(col(QueryPlans.HashColumn)))
      .head()
    val hxor = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)},${Option(r.getString(1)).getOrElse("0")},$hxor"
  }
}
