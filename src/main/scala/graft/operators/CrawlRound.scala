package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{Hashes, LinkExtract, Robots, SyntheticWeb, TextExtract, UrlCanon}
import graft.plans.Model._
import graft.sources.SnapshotStore

/** One crawl round as a typed Dataset pipeline (SURVEY.md §3.1; BASELINE.json
  * north_star: frontier dequeue → politeness gate → fetch/parse → text
  * extraction → link extraction/canonicalization → dedup → frontier re-enqueue).
  *
  * Scale design (the 1000-executor / 10^10-URL view, exercised at local[N]):
  *  - the fat `html` bytes exist only inside the fetch/parse `mapPartitions` —
  *    text+links are extracted executor-locally and html never shuffles;
  *  - all wide operations key on hashes (xxh64 for ordering/bloom, murmur128
  *    for exact identity), never raw URL strings;
  *  - robots rules are memoized per executor inside the gate projection — no
  *    robots job and no driver robots structure;
  *  - the URL-seen probe routes on a broadcast bloom filter: bloom-clear links
  *    are *definitely* new (bloom has no false negatives) and skip the exact
  *    join entirely; only bloom-hits (≈ seen + fpp·new) reach it, and the
  *    scan-form join (seenAntiJoinScan) broadcasts those suspect keys so the
  *    seen table itself is only SCANNED, never shuffled. The seen set stays
  *    exact — a false positive costs one wasted join probe, never a dropped
  *    URL (SURVEY.md §4.2 exactness backstop);
  *  - every host goes through a salted two-phase politeness top-k so a hot
  *    host (zipfian frontier) cannot skew the window shuffle (SURVEY.md §4.3);
  *  - the global round sequence is assigned with range-partition + per-partition
  *    offsets — a total order across files without a single-reducer sort.
  */
object CrawlRound {

  final case class RoundResult(round: Int, metrics: RoundMetrics)

  private val Trace = sys.env.contains("SPARK_GRAFT_TRACE")
  private def traced[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (Trace) System.err.println(f"[trace] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  private def childPriority(parent: Int): Int = math.max(parent - 1, 0)

  /** Per-executor robots cache for the politeness gate: rules are "fetched"
    * (SyntheticWeb — the sandbox's only network) and parsed at most once per
    * (executor, host), then shared by every task on that executor — the
    * Mercator robots cache moved executor-side, which is what lets the gate
    * run with no driver robots structure and no dedicated robots job. Rules
    * are a pure function of host, so cross-executor duplication is only
    * memory, never divergence; the size cap bounds a long-lived executor
    * crawling an unbounded host set (segment eviction, not clear-all — see
    * BoundedMemoCache: a >2^20-host executor degrades smoothly instead of
    * re-parsing its whole working set after each overflow). */
  private val hostRulesCache =
    new graft.core.BoundedMemoCache[String, Robots.Rules](1 << 20)
  private def hostRules(h: String): Robots.Rules =
    hostRulesCache.getOrCompute(h)(host => SyntheticWeb.robotsFor(host))

  /** xxh64 of a url, computed executor-side — the URL-seen filter key. */
  private val xxh64OfUrl = udf((u: String) => Hashes.xxh64(u))

  /** Per-shard bloom sizing, CLAMPED to Spark's BloomFilterAggregate limits.
    * BloomFilterAggregate silently clamps estimatedNumItems/numBits to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
    * (defaults 4e6 / 67108864); an unclamped `BloomFilter.create` for an
    * empty shard would then carry a different hash-function count and
    * `mergeInPlace` with the next round's clamped BloomAgg delta would
    * throw IncompatibleMergeException. Clamping BOTH constructions to the
    * session's limits keeps every build of a shard merge-compatible. At a
    * true 10^10-URL deployment, raise those two confs together with
    * `filterShards` so the clamp does not silently degrade the fpp. */
  private[operators] def shardSizing(spark: SparkSession,
      cfg: CrawlConfig): (Long, Long) = {
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val perShard = math.min(
      math.max(cfg.bloomExpectedItems / math.max(cfg.filterShards, 1), 1024L),
      maxItems)
    val numBits = math.min(
      BloomFilter.optimalNumOfBits(perShard, cfg.bloomFpp), maxBits)
    (perShard, numBits)
  }

  /** Distributed bloom build over any DataFrame with a `url` column. */
  private[operators] def bloomOfUrls(urls: org.apache.spark.sql.DataFrame,
      expectedItems: Long, fpp: Double): BloomFilter =
    urls.select(xxh64OfUrl(col("url")).as("h")).coalesce(4)
      .stat.bloomFilter("h", expectedItems, fpp)

  private def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def bloomOf(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Shard-local URL-seen probe (CrawlConfig.filterShards > 0): candidates
    * repartition by pmod(url_hash, n); each partition lazily loads the filter
    * file(s) of the shards hashed into it (≈1 when n ≥ partitions) from the
    * shared store and flags rows in place. No filter is ever broadcast or
    * held whole anywhere. */
  private def shardProbe(spark: SparkSession, store: SnapshotStore, k: Int,
      cand: org.apache.spark.sql.DataFrame, cfg: CrawlConfig)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val n = cfg.filterShards
    val paths = (0 until n).map(i => store.filterShardPath(k, i)).toArray
    val typed = cand
      .withColumn("shard", pmod(col("url_hash"), lit(n.toLong)).cast("int"))
      .select($"url", $"url_hash", $"url_hash_hi", $"url_hash_lo", $"host",
        $"priority", $"shard")
      .as[(String, Long, Long, Long, String, Int, Int)]
    typed.repartition(n, $"shard").mapPartitions { it =>
      val filters = scala.collection.mutable.Map.empty[Int, BloomFilter]
      it.map { case (url, h, hi, lo, host, prio, shard) =>
        val bf = filters.getOrElseUpdate(shard, {
          val in = java.nio.file.Files.newInputStream(
            java.nio.file.Paths.get(paths(shard)))
          try BloomFilter.readFrom(in) finally in.close()
        })
        (url, h, hi, lo, host, prio, bf.mightContainLong(h))
      }
    }.toDF("url", "url_hash", "url_hash_hi", "url_hash_lo", "host",
      "priority", "maybe_seen")
  }

  /** J1 exact URL-seen dedup, SHUFFLE form: plain left-anti join. Both sides
    * exchange on the 128-bit key — at 10^10 seen URLs that is a full seen-set
    * shuffle, so it serves only probes that no filter shrank: the probe side
    * is then O(candidates) (useBloom=false, shard cold path) and too large to
    * broadcast. */
  private[graft] def seenAntiJoinShuffle(seen: org.apache.spark.sql.DataFrame,
      suspects: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    suspects.join(seen.select(col("url_hash_hi"), col("url_hash_lo")),
      Seq("url_hash_hi", "url_hash_lo"), "left_anti")

  /** J1 exact URL-seen dedup, SCAN form, for filter-routed suspects: the seen
    * set is only ever SCANNED, never shuffled. The filter route shrank the
    * probe side to suspects ≈ true-dups + fpp·new — a small set by
    * construction — so:
    *   (1) semi-join seen ⋉ broadcast(suspect keys): a narrow projection
    *       scan of the seen table emitting only the keys that ARE seen
    *       (≤ |suspects| rows);
    *   (2) suspects anti-join broadcast(those hits).
    * Both joins broadcast the small side; the per-round cost against the
    * unbounded table drops from O(seen) shuffle to O(seen) narrow scan —
    * the asymptote a 10^10-URL seen set demands (the compacted base is read
    * with its 2-column projection pushed down; nothing wide moves). Output
    * is identical to the shuffle form (set algebra; equivalence-tested). */
  private[graft] def seenAntiJoinScan(seen: org.apache.spark.sql.DataFrame,
      suspects: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keys = Seq("url_hash_hi", "url_hash_lo")
    val keyCols = keys.map(col)
    val hits = seen.select(keyCols: _*)
      .join(broadcast(suspects.select(keyCols: _*)), keys, "left_semi")
    suspects.join(broadcast(hits), keys, "left_anti")
  }

  /** Build a FrontierEntry from a canonical URL (seeds + new links). */
  def entryFor(url: String, priority: Int, nextFetchTs: Long, round: Int): FrontierEntry = {
    val (hi, lo) = Hashes.murmur128(url)
    FrontierEntry(url, Hashes.xxh64(url), hi, lo, UrlCanon.hostOf(url),
      priority, nextFetchTs, round, 0)
  }

  /** Initialize snapshot 0 from a seed list (SURVEY.md §2.1 S3). */
  def initialize(spark: SparkSession, store: SnapshotStore, seedUrls: Seq[String],
      cfg: CrawlConfig): Unit = {
    import spark.implicits._
    val t0 = roundTs(cfg, 0)
    val seeds = seedUrls.flatMap(UrlCanon.canonical).distinct
      .map(u => entryFor(u, cfg.seedPriority, t0, 0))
    val pending = store.begin(0)
    val fr = spark.createDataset(seeds)
    orderedFrontierWrite(fr, pending.frontierPath)
    fr.map(e => SeenUrl(e.url_hash_hi, e.url_hash_lo, e.url, 0))
      .write.parquet(pending.seenDeltaPath)
    spark.emptyDataset[FetchResult].write.parquet(pending.pagesPath)
    spark.emptyDataset[LineageRow].write.parquet(pending.lineagePath)
    if (cfg.filterShards > 0) {
      // sharded config: write the per-shard files directly — never allocate
      // the monolithic expectedItems-sized filter (at the 10^10 design point
      // that is ~12 GB of driver heap to index a handful of seeds). One
      // shard is in memory at a time; shapes match the BloomAgg deltas the
      // lifecycle merges in later (shardSizing).
      val n = cfg.filterShards
      val (perShard, numBits) = shardSizing(spark, cfg)
      val byShard = seeds.groupBy(e => math.floorMod(e.url_hash, n.toLong).toInt)
      (0 until n).foreach { i =>
        val bf = BloomFilter.create(perShard, numBits)
        byShard.getOrElse(i, Nil).foreach(e => bf.putLong(e.url_hash))
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        pending.writeFilterShard(i, bos.toByteArray)
      }
    } else {
      val bf = BloomFilter.create(cfg.bloomExpectedItems, cfg.bloomFpp)
      seeds.foreach(e => bf.putLong(e.url_hash))
      pending.writeBloom(bf)
    }
    pending.commit(manifestJson(RoundMetrics(-1, 0, 0, 0, 0, 0, 0, 0, 0,
      seeds.size.toLong, seeds.size.toLong, seeds.size.toLong), cfg))
  }

  /** Run round k: consume snapshot k, commit snapshot k+1. */
  def run(spark: SparkSession, store: SnapshotStore, k: Int, cfg: CrawlConfig): RoundResult = {
    import spark.implicits._
    val rts = roundTs(cfg, k)
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // In the delta layout, loadFrontier returns a merge-on-read plan (delta
    // window + bloom route + 128-bit anti-join) that EVERY consumer of
    // due/notDue would otherwise re-execute — the gate, the gate count, the
    // frontier write — multiplying the reconstruction cost per round and
    // eroding the O(churn) win the layout buys. Persist the reconstruction
    // for the round; unpersisted with the round caches.
    val frontierRaw = store.loadFrontier(k)
    val frontier =
      if (store.hasFullFrontier(k)) frontierRaw else frontierRaw.persist()
    // F4 due filter — plain column predicate, pushed into the parquet scan
    val due = frontier.filter($"next_fetch_ts" <= rts)
    val notDue = frontier.filter($"next_fetch_ts" > rts)

    // J2 + F2 robots gate: rules are memoized per executor inside the gate
    // projection (hostRules) — no robots job at all (a dedicated
    // distinct-hosts pass was a measured ~0.7–1 s constant at every core
    // count — pure non-scaling round fraction). Denied URLs are dropped for
    // good (they stay in the seen set, so they are never re-enqueued
    // either). Pinned behavior. UDF justified: rules MUST come from the
    // pinned RFC 9309 parser, which parse_url/regex cannot express.
    val robotsOkU = udf { (host: String, url: String) =>
      hostRules(host).allowed(UrlCanon.pathOf(url))
    }
    val delayU = udf { (host: String) => hostRules(host).crawlDelayMs }
    // Persisted: the politeness/sequence pass materializes it, and the gate
    // count (launched with the writes) and the delta-layout removals reread
    // the cache instead of re-running the gate.
    val withRobots = due
      .withColumn("crawl_delay_ms", delayU($"host"))
      .withColumn("robots_ok", robotsOkU($"host", $"url"))
      .persist()
    val allowed = withRobots.filter($"robots_ok")

    // --- politeness (W1/W2 + §4.3 two-phase salted top-k) -------------------
    val ord: Seq[Column] =
      Seq($"priority".desc, $"next_fetch_ts".asc, $"url_hash".asc)
    // Every host is salted with a codegen pmod column — no UDF, no broadcast
    // map, no per-host counts barrier. Any row in a host's true top-budget is
    // in its salt bucket's local top-budget, so phase 1 never drops a row
    // phase 2 would keep: salting is semantics-neutral for every host (cold
    // hosts simply never overflow a bucket's top-budget).
    val w1 = Window.partitionBy($"host", $"salt").orderBy(ord: _*)
    val ranked = allowed
      .withColumn("salt", pmod($"url_hash", lit(cfg.saltBuckets.toLong)).cast("int"))
      .withColumn("srank", row_number().over(w1)).persist()
    val phase1Kept = ranked.filter($"srank" <= cfg.hostBudget).drop("salt", "srank")
    val phase1Dropped = ranked.filter($"srank" > cfg.hostBudget).drop("salt", "srank")
    val w2 = Window.partitionBy($"host").orderBy(ord: _*)
    val hostRanked = phase1Kept.withColumn("host_rank", row_number().over(w2)).persist()
    // opt-in adaptive backoff: hosts over the error-rate threshold in the
    // PREVIOUS round's pages get half budget (floor 1). The reduced-budget
    // host list is O(bad hosts) and joined (AQE broadcasts it while small);
    // phase 1 above still caps at the FULL budget, so its keep-proof is
    // unaffected (eff_budget <= hostBudget always).
    // every init path writes a (possibly empty) pages table, so a missing
    // dir is the only no-signal case — any other failure (corrupt parquet,
    // schema drift) must propagate, not silently disable the backoff
    val backoffHosts: Option[org.apache.spark.sql.DataFrame] =
      if (!cfg.adaptiveBackoff ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(store.pagesPath(k))))
        None
      else {
        val prev = store.loadPages(k).toDF()
        val reduced = math.max(cfg.hostBudget / 2, 1)
        Some(prev.groupBy($"host")
          .agg((sum(when($"status" =!= 200, 1.0).otherwise(0.0)) / count(lit(1)))
            .as("err_rate"))
          .filter($"err_rate" > cfg.backoffErrorRate)
          .select($"host", lit(reduced).as("eff_budget")))
      }
    val (budgetKept, budgetDropped) = backoffHosts match {
      case None =>
        (hostRanked.filter($"host_rank" <= cfg.hostBudget),
          hostRanked.filter($"host_rank" > cfg.hostBudget))
      case Some(bh) =>
        val withB = hostRanked.join(bh, Seq("host"), "left")
          .withColumn("eff_budget",
            coalesce($"eff_budget", lit(cfg.hostBudget)))
        (withB.filter($"host_rank" <= $"eff_budget").drop("eff_budget"),
          withB.filter($"host_rank" > $"eff_budget").drop("eff_budget"))
    }

    // W2 schedule + O3 round cap + §8.3 global sequence over gated rows
    val preTasks = budgetKept
      .withColumn("fetch_ts", lit(rts) + ($"host_rank" - 1) * $"crawl_delay_ms")
      .withColumn("seq", lit(-1L))
      .select($"url", $"url_hash", $"url_hash_hi", $"url_hash_lo", $"host",
        $"priority", $"next_fetch_ts", $"discovered_round", $"retries",
        $"host_rank", $"seq", $"fetch_ts")
      .as[FetchTask]
    // `sequenced`'s range partitions become the fetch mapPartitions tasks:
    // one per shuffle partition
    val (sequenced, seqParent) = assignGlobalSeq(spark, preTasks, shufflePartitions)
    val tasks = sequenced.filter($"seq" < cfg.roundCap)
    val capDropped = sequenced.filter($"seq" >= cfg.roundCap)

    // §8.5 re-enqueue: deferred = over-salt ∪ over-budget ∪ over-cap; bumped
    // past this round's schedule window, priority decayed by 1 (floor 0)
    val frontierCols = frontier.columns.map(col).toSeq
    val deferred = phase1Dropped.select(frontierCols: _*)
      .unionByName(budgetDropped.select(frontierCols: _*))
      .unionByName(capDropped.toDF().select(frontierCols: _*))
      .withColumn("next_fetch_ts", lit(rts + cfg.hostBudget * cfg.crawlDelayDefaultMs))
      .withColumn("priority", greatest($"priority" - 1, lit(0)))
      .withColumn("retries", $"retries" + 1)
      .as[FrontierEntry].persist()

    // --- fetch/parse (executor-local; html never leaves this stage) --------
    val round = k
    val fetched: Dataset[FetchResult] = tasks.mapPartitions { it =>
      it.map { t =>
        val f = SyntheticWeb.fetch(t.url)
        val (text, links) =
          if (f.status == 200) (TextExtract.extract(f.html), LinkExtract.extract(f.html, t.url))
          else ("", Vector.empty[String])
        FetchResult(t.url, t.url_hash, t.url_hash_hi, t.url_hash_lo, t.host,
          t.priority, t.next_fetch_ts, t.seq, t.fetch_ts, f.status, text,
          if (f.status == 200) Hashes.sha256Hex(text) else "", links, round)
      }
    }.persist()
    // ONE per-partition aggregation serves the round totals AND the S8
    // lineage rows: the dedicated lineage job used to re-scan the fat
    // fetched cache as a third concurrent reader beside the pages write and
    // the link shuffle — a measured 2.4 s (16c) / 4.0 s (4c) of pure cache-
    // bandwidth contention in the post-fetch phase. Partition ids are taken
    // from THIS synchronous scan (the cache's single materializer), never
    // from a downstream consumer (see assignGlobalSeq's warning).
    val partStats: Array[(Int, Long, Long, Long)] = traced("fetch+parse")(
      fetched.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"),
          sum(when($"status" =!= 200, 1L).otherwise(0L)).as("errors"),
          coalesce(sum(size($"links")), lit(0L)).as("links"))
        .as[(Int, Long, Long, Long)].collect())
    val nFetched = partStats.map(_._2).sum
    val nErrors = partStats.map(_._3).sum
    val nLinks = partStats.map(_._4).sum
    val lineageRows: Seq[LineageRow] = partStats.sortBy(_._1).toSeq
      .map { case (pid, nRows, errs, _) =>
        LineageRow(k, "fetch_parse", pid, nRows, nRows, errs, 0L) }

    // Snapshot staging opens HERE, and the two outputs that depend ONLY on
    // `fetched` (pages, lineage) start writing immediately, overlapped with
    // the link/dedup chain below. Motivation (round-3 job-timeline trace):
    // the write phase measured as a ~6.4 s wall CONSTANT at both local[4]
    // and local[16] — per-task/per-file fixed costs, not data volume — i.e.
    // pure non-scaling serial fraction. Overlapping the fetched-only writes
    // with real work removes that wall from both levels. Outputs unchanged;
    // only job start times move. Lineage coalesces to one task: it is
    // O(partitions) rows and was paying a 16-task write.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // every write and count future is tracked so a failure anywhere between
    // begin and commit can DRAIN them before dropping the tmp dir (Scala
    // Futures are not cancellable; aborting while a write still runs would
    // race a retry's begin(k+1) deleting the dir under it)
    val launched = scala.collection.mutable.ArrayBuffer.empty[Future[_]]
    def fut[T](body: => T): Future[T] = {
      val f = Future(scala.concurrent.blocking(body))
      launched.synchronized { launched += f }
      f
    }
    val pending = store.begin(k + 1)
    try {
    val earlyOutputs = Seq(
      fut(traced("write-pages")(fetched.write.parquet(pending.pagesPath))),
      // O(partitions) rows, already computed driver-side by the fetch agg
      fut(traced("write-lineage")(spark.createDataset(lineageRows).coalesce(1)
        .write.parquet(pending.lineagePath))))

    // --- link candidates: canonical (LinkExtract) + hash + in-batch merge ---
    val cand = fetched.filter($"status" === 200)
      .flatMap(r => r.links.map(l => (l, childPriority(r.priority))))
      .map { case (u, p) =>
        val (hi, lo) = Hashes.murmur128(u)
        (u, Hashes.xxh64(u), hi, lo, UrlCanon.hostOf(u), p)
      }
      .toDF("url", "url_hash", "url_hash_hi", "url_hash_lo", "host", "priority")
      // in-batch dedup on the exact 128-bit key; all non-key columns are
      // functions of the url so min() just picks the (single) value
      .groupBy($"url_hash_hi", $"url_hash_lo")
      .agg(min($"url").as("url"), min($"url_hash").as("url_hash"),
        min($"host").as("host"), max($"priority").as("priority"))
      .persist()
    // nCand is read AFTER the seen-dedup action below: the dedup job's first
    // scan of `cand` populates the cache (the flatMap + in-batch-merge
    // shuffle runs exactly once either way), so counting here first would
    // add a whole extra job barrier just to materialize — a measured slice
    // of the round's non-scaling serial fraction

    // --- dedup vs URL-seen: filter route (A3) + exact anti-join (J1) -------
    // filter-clear ⇒ definitely new (no false negatives) ⇒ skip the join;
    // filter-hit ⇒ maybe seen ⇒ exact anti-join.
    //
    // Cumulative filter: loaded from snapshot k, or — cold path, filter file
    // lost — rebuilt DISTRIBUTED from the exact seen set (xxh64(url)
    // recomputed executor-side, aggregated via stat.bloomFilter).
    // Never streamed through the driver: at the 10^10-URL design point a
    // driver-side iteration of the seen set would bottleneck exactly the
    // recovery path that matters. Kept as BYTES so the probe broadcast and
    // the persist-path merge each deserialize a private instance (merge
    // mutates; the broadcast copy must stay immutable).
    val seen = store.loadSeen(k)
    lazy val prevBloomBytes: Array[Byte] =
      store.loadBloom(k).map(bloomBytes).getOrElse(
        traced("bloom-cold-rebuild")(bloomBytes(
          bloomOfUrls(seen.toDF(), cfg.bloomExpectedItems, cfg.bloomFpp))))
    // filterShards > 0: the cumulative filter is SHARDED by
    // pmod(url_hash, n) — candidates route to their shard's partition and
    // probe a partition-local filter, so per-executor filter memory is
    // O(total/n) instead of the whole (≈12 GB at 10^10 keys, 1% fpp —
    // unbroadcastable). Exactness backstop unchanged.
    val sharded = cfg.useBloom && cfg.filterShards > 0
    // The join form follows from the probe side: filter-routed suspects are
    // a small fraction of candidates by construction and take the scan form;
    // unfiltered probes (useBloom=false, shard cold path) are O(candidates)
    // and take the shuffle form.
    def routed(flagged: org.apache.spark.sql.DataFrame, maybeSeen: Column) =
      seenAntiJoinScan(seen.toDF(), flagged.filter(maybeSeen))
        .unionByName(flagged.filter(!maybeSeen))
    val trulyNew =
      (if (sharded && store.filterShardsExist(k, cfg.filterShards))
        routed(shardProbe(spark, store, k, cand, cfg), $"maybe_seen")
          .drop("maybe_seen")
      else if (cfg.useBloom && !sharded) {
        val bfb = spark.sparkContext.broadcast(bloomOf(prevBloomBytes))
        val mightContain = udf((h: Long) => bfb.value.mightContainLong(h))
        routed(cand, mightContain($"url_hash"))
      }
      // unfiltered: useBloom=false, or the shard cold path (shard files
      // absent — e.g. round 0, whose snapshot only carries the monolithic
      // init filter; the lifecycle below writes the full shard set for k+1)
      else seenAntiJoinShuffle(seen.toDF(), cand)
      // n_new is counted AFTER the writes from the populated cache (like
      // nCand below), NOT via an Observation here: the first actions over
      // trulyNew are THREE concurrent write jobs racing to materialize the
      // cache, and Observation snapshots its metrics when the FIRST of them
      // completes — accumulator updates from another job's still-running
      // tasks would be missing, silently undercounting n_new (and with it
      // the frontier/seen manifest arithmetic every later round inherits).
      ).persist()

    val newEntries = trulyNew.select(
        $"url", $"url_hash", $"url_hash_hi", $"url_hash_lo", $"host", $"priority",
        lit(rts).as("next_fetch_ts"), lit(k + 1).as("discovered_round"),
        lit(0).as("retries"))
      .as[FrontierEntry]

    val deltaMode = cfg.frontierDeltas && {
      if (cfg.compactFrontierChurnRatio > 0) {
        // churn-driven cadence: delta while Σ delta rows since the last full
        // base < ratio × base size, else compact. Chain churn comes from the
        // manifests already on disk (snapshot r's manifest holds round r-1's
        // metrics; its delta rows = deferred + new upserts + fetched +
        // denied removals) — no jobs, O(chain length) driver string parses.
        // loadFrontier(k) above already failed unless a full base exists.
        val base = (k to 0 by -1).find(store.hasFullFrontier).get
        val chainChurn = ((base + 1) to k).map { r =>
          val m = metricsAt(store, r)
          m.deferred + m.new_urls + m.fetched + m.robots_denied
        }.sum
        chainChurn <
          (cfg.compactFrontierChurnRatio * metricsAt(store, base).frontier_size).toLong
      } else (k + 1) % math.max(cfg.compactFrontierEvery, 1) != 0
    }
    // U1: the three parts are disjoint by construction (new ⟂ seen ⊇ frontier;
    // notDue ⟂ deferred by the due filter) — plain union, no merge shuffle.
    // Persisted because the full-layout range write needs two passes
    // (boundary sampling + the shuffle itself) and must not recompute the
    // union branches; the delta layout never reads it, so nothing is cached.
    val nextFrontier =
      notDue.unionByName(deferred).unionByName(newEntries).persist()

    // --- commit snapshot k+1 ------------------------------------------------
    // The remaining snapshot outputs (frontier / seen delta / compaction /
    // filter) are INDEPENDENT targets over already-cached inputs and run as
    // CONCURRENT Spark jobs (pages + lineage are already in flight above).
    val newSeen = trulyNew.select($"url_hash_hi", $"url_hash_lo", $"url",
      lit(k + 1).as("first_seen_round")).as[SeenUrl]

    // A3 filter lifecycle: merge this round's new hashes into the running
    // filter (a fresh instance off prev*Bytes — never the broadcast probe
    // copy, which merge would mutate). Coalesce before the aggregate: each
    // input partition produces a partial filter of the FULL table size, so
    // fan-in = serialized megabytes.
    def writeFilter(): Unit = if (sharded) {
      // sharded bloom lifecycle: per-shard delta blooms in ONE distributed
      // groupBy aggregation (BloomAgg — stat.bloomFilter cannot group), then
      // each TASK merges its shard(s) with the previous snapshot's shard
      // file and writes the result straight into the staging dir — shard
      // bytes never pass through the driver. (The previous collect().toMap
      // held ALL shards at once ≈ the total filter size, ~12 GB at the
      // 10^10/1% design point — exactly the structure sharding exists to
      // avoid.) repartition(n, shard) puts ≈1 shard per task, so peak task
      // memory is O(total/n). Prev shards missing (cold / round 0) → the
      // same aggregation builds the full set from seen ∪ new.
      val n = cfg.filterShards
      val (perShard, numBits) = shardSizing(spark, cfg)
      val havePrev = store.filterShardsExist(k, n)
      val src =
        if (havePrev) trulyNew.select($"url_hash")
        else seen.toDF().unionByName(newSeen.toDF())
          .select(xxh64OfUrl($"url").as("url_hash"))
      val outDir = pending.filterShardsDir
      val prevPaths: Array[String] =
        if (havePrev) (0 until n).map(i => store.filterShardPath(k, i)).toArray
        else Array.empty
      traced("bloom-shard-build")(
        src.withColumn("shard", pmod($"url_hash", lit(n.toLong)).cast("int"))
          .groupBy($"shard")
          .agg(org.apache.spark.sql.graftexpr.BloomAgg($"url_hash", perShard,
            numBits).as("bytes"))
          .repartition(n, $"shard")
          .as[(Int, Array[Byte])]
          .foreachPartition { (it: Iterator[(Int, Array[Byte])]) =>
            it.foreach { case (i, delta) =>
              val bytes =
                if (prevPaths.isEmpty) delta
                else {
                  val in = java.nio.file.Files.newInputStream(
                    java.nio.file.Paths.get(prevPaths(i)))
                  val prev = try BloomFilter.readFrom(in) finally in.close()
                  prev.mergeInPlace(
                    BloomFilter.readFrom(new java.io.ByteArrayInputStream(delta)))
                  val bos = new java.io.ByteArrayOutputStream()
                  prev.writeTo(bos)
                  bos.toByteArray
                }
              graft.sources.SnapshotStore.writeShardFile(outDir, i, bytes)
            }
          })
      // shards that saw no delta row this round: carry the previous file
      // forward (byte copy — never deserialized) or write an empty filter;
      // driver-side, one shard in flight at a time
      (0 until n).foreach { i =>
        val out = java.nio.file.Paths.get(outDir, s"shard-$i.bin")
        if (!java.nio.file.Files.exists(out)) {
          if (havePrev)
            java.nio.file.Files.copy(java.nio.file.Paths.get(prevPaths(i)), out)
          else
            pending.writeFilterShard(i,
              bloomBytes(BloomFilter.create(perShard, numBits)))
        }
      }
    } else {
      // same (expectedItems, fpp) as the persistent filter — mergeInPlace
      // requires identical bit-array sizes. Fan-in: every scan partition
      // yields a FULL-size partial filter, so the coalesce caps the
      // serialized megabytes through the aggregate — but a fixed coalesce(4)
      // also capped the delta scan at 4 cores, a measured ~2–3 s CONSTANT
      // slice at high core counts (pure non-scaling F; at ≤4 cores the core
      // count is the cap anyway). 16 partials × ~10 MB (1% fpp, 2^23 items)
      // sit well inside driver headroom; at filter sizes where 16 partials
      // would not, the sharded path is the right config, not a tighter cap.
      val fanIn = math.max(1, math.min(shufflePartitions, 16))
      val deltaBloom = traced("bloom-build")(trulyNew.select($"url_hash")
        .coalesce(fanIn)
        .stat.bloomFilter("url_hash", cfg.bloomExpectedItems, cfg.bloomFpp))
      val prevBloom = bloomOf(prevBloomBytes)
      prevBloom.mergeInPlace(deltaBloom)
      pending.writeBloom(prevBloom)
    }

    val outputs = earlyOutputs ++ Seq(
      fut((traced("write-frontier")(
        if (deltaMode) {
          // churn only: upserts (deferred + newly discovered) and removals
          // (fetched this round + robots-denied). Each url appears at most
          // once (the sets are disjoint); no range shuffle — the full
          // rewrite happens on compaction rounds.
          val upserts = deferred.toDF().select(frontierCols: _*)
            .unionByName(newEntries.toDF().select(frontierCols: _*))
            .withColumn("op", lit("u"))
          val removals = tasks.toDF().select(frontierCols: _*)
            .unionByName(withRobots.filter(!$"robots_ok")
              .select(frontierCols: _*))
            .withColumn("op", lit("r"))
          upserts.unionByName(removals).write.parquet(pending.frontierDeltaPath)
        } else orderedFrontierWrite(nextFrontier, pending.frontierPath)))),
      fut((traced("write-seen")(
        newSeen.write.parquet(pending.seenDeltaPath)))),
      fut(writeFilter())) ++
      // periodic compaction: materialize the whole seen set hash-partitioned,
      // so loadSeen reads one clustered base + a few deltas (SURVEY.md §4.2)
      (if (cfg.compactSeenEvery > 0 && (k + 1) % cfg.compactSeenEvery == 0)
        Seq(fut((traced("compact-seen")(
          seen.unionByName(newSeen)
            .repartition(math.max(shufflePartitions, 1), $"url_hash_hi")
            .write.parquet(pending.seenFullPath)))))
      else Nil)
    // The manifest counts launch WITH the write jobs instead of after them:
    // FIFO queues their single-stage cached scans behind the write tasks, so
    // they complete inside the write wall instead of adding a measured
    // ~0.7–1 s serial tail AFTER it — a constant slice at every core count.
    // Each is a plain count over a persisted cache, exact no matter which
    // concurrent job materializes the cache first: whichever task computes a
    // partition does so once under the block lock, and every later reader
    // sees the cached rows. Observations are not: one on the gate read 0 at
    // spark.sql.shuffle.partitions=1, and one on trulyNew would undercount
    // (see n_new's history above).
    val gateF = fut(traced("gate-counts")(
      withRobots.agg(count(lit(1)), count(when($"robots_ok", 1)))
        .as[(Long, Long)].head()))
    val nNewF = fut(traced("n-new")(trulyNew.count()))
    val nCandF = fut(traced("link-candidates")(cand.count()))
    Await.result(Future.sequence(outputs), Duration.Inf)

    val (nDue, nAllowed) = Await.result(gateF, Duration.Inf)
    val nNew = Await.result(nNewF, Duration.Inf)
    val nCand = Await.result(nCandF, Duration.Inf)

    // deferred / frontier / seen sizes follow arithmetically — no extra jobs:
    // next_frontier = prev − due + deferred + new, deferred = allowed − gated
    val nDeferred = nAllowed - nFetched
    val prev = metricsAt(store, k)
    val metrics = RoundMetrics(k, nDue, nDue - nAllowed, nFetched,
      nDeferred, nFetched, nErrors, nLinks, nLinks - nCand, nNew,
      prev.frontier_size - nDue + nDeferred + nNew, prev.seen_size + nNew)
    pending.commit(manifestJson(metrics, cfg))

    Seq(withRobots, ranked, hostRanked, seqParent.toDF(), deferred.toDF(),
      fetched.toDF(), cand, trulyNew, nextFrontier.toDF(), frontier.toDF())
      .foreach(_.unpersist(blocking = false))
    RoundResult(k, metrics)
    } catch {
      case t: Throwable =>
        // drain every in-flight write future, then drop the staged snapshot:
        // leaving orphaned writes running into the tmp dir would race a
        // retry's begin(k+1) deleting that dir concurrently
        launched.synchronized(launched.toList)
          .foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
        scala.util.Try(pending.abort())
        throw t
    }
  }

  /** O1: materialize the frontier range-partitioned + sorted by the dequeue
    * order — next round's scan reads it near-sorted with minimal shuffle. */
  private[operators] def writeFrontier(fr: Dataset[FrontierEntry], path: String): Unit =
    orderedFrontierWrite(fr, path)

  private def orderedFrontierWrite(fr: Dataset[FrontierEntry], path: String): Unit = {
    val n = math.max(1, math.min(fr.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt, 64))
    fr.repartitionByRange(n, col("priority").desc, col("next_fetch_ts"), col("url_hash"))
      .sortWithinPartitions(col("priority").desc, col("next_fetch_ts"), col("url_hash"))
      .write.parquet(path)
  }

  /** Global 0-based sequence in (priority DESC, next_fetch_ts, url_hash) order
    * without a single-reducer sort: range-repartition, then add per-partition
    * offsets (two narrow passes over the persisted sorted data). Sort keys are
    * unique (url_hash distinct within a frontier), so the order — and hence the
    * sequence — is independent of where the range boundaries fall. */
  /** Returns (sequenced, cachedParent): the seq assignment is a cheap narrow
    * map over the cached range-sorted parent, so downstream actions recompute
    * it from cache instead of paying a dedicated materialization pass. The
    * caller unpersists `cachedParent` at round end.
    *
    * The per-partition offsets MUST be keyed by the parent RDD's OWN
    * partition index (`mapPartitionsWithIndex`), never by
    * `TaskContext.getPartitionId()`: the task partition id is the CONSUMING
    * stage's — inside a union (e.g. the deferred ∪ branches of the frontier
    * write) branch partitions are renumbered and the offsets would be
    * garbage. (Found as a real row-loss bug by SoakCheck's manifest
    * cross-check when the materialization pass was removed.) */
  private def assignGlobalSeq(spark: SparkSession, ds: Dataset[FetchTask],
      parts: Int): (Dataset[FetchTask], Dataset[FetchTask]) = {
    import spark.implicits._
    val sorted = ds
      .repartitionByRange(math.max(parts, 1), col("priority").desc,
        col("next_fetch_ts"), col("url_hash"))
      .sortWithinPartitions(col("priority").desc, col("next_fetch_ts"), col("url_hash"))
      .persist()
    // sorted.rdd reads the InMemoryRelation cache; its partition indices are
    // the range partitions, stable in any consuming plan
    val sortedRdd = sorted.rdd
    val counts = traced("politeness+sequence")(
      sortedRdd.mapPartitionsWithIndex { (pid, it) =>
        Iterator.single((pid, it.size.toLong))
      }.collect().sortBy(_._1))
    val starts = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) => (pid, acc + n) }
      .sliding(2).collect { case Array((_, st), (pid, _)) => pid -> st }.toMap
    val bc = spark.sparkContext.broadcast(starts)
    val out = spark.createDataset(sortedRdd.mapPartitionsWithIndex { (pid, it) =>
      var s = bc.value.getOrElse(pid, 0L)
      it.map { t => val u = t.copy(seq = s); s += 1; u }
    })
    (out, sorted)
  }

  /** The round metrics of a manifest written by [[manifestJson]]. A missing
    * field throws: read as 0 it would silently corrupt every size derived
    * from it in later rounds. */
  def parseManifest(json: String): RoundMetrics = {
    def field(f: String): Long = ("\"" + f + "\":(-?\\d+)").r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"manifest has no '$f': $json"))
      .group(1).toLong
    RoundMetrics(field("round").toInt, field("due"), field("robots_denied"),
      field("gated"), field("deferred"), field("fetched"), field("fetch_errors"),
      field("links_extracted"), field("links_deduped"), field("new_urls"),
      field("frontier_size"), field("seen_size"))
  }

  /** The round metrics in committed snapshot k's manifest. */
  def metricsAt(store: SnapshotStore, k: Int): RoundMetrics =
    parseManifest(store.manifest(k).getOrElse(
      throw new IllegalStateException(s"snapshot $k has no manifest")))

  /** Deterministic manifest: fixed key order, no wall-clock fields. */
  def manifestJson(m: RoundMetrics, cfg: CrawlConfig): String = {
    s"""{"round":${m.round},"due":${m.due},"robots_denied":${m.robots_denied},""" +
      s""""gated":${m.gated},"deferred":${m.deferred},"fetched":${m.fetched},""" +
      s""""fetch_errors":${m.fetch_errors},"links_extracted":${m.links_extracted},""" +
      s""""links_deduped":${m.links_deduped},"new_urls":${m.new_urls},""" +
      s""""frontier_size":${m.frontier_size},"seen_size":${m.seen_size},""" +
      s""""host_budget":${cfg.hostBudget},"round_cap":${cfg.roundCap},""" +
      s""""crawl_delay_default_ms":${cfg.crawlDelayDefaultMs}}"""
  }
}
