package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM runs one workload as a closed loop (one caller;
  * each operation starts when the previous one has returned) and writes
  * `result.json` to the output directory. Started by `bench/run.py`, which
  * builds the classes, sizes the heap and prints the final result line.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir> --data <dir> --expected <file>
  */
object Main {

  /** Frontier size of crawl_growth: with three set-ups and three timed
    * rounds a run stays inside the run budget of bench/README.md. */
  val GrowthSeeds = 400L
  val SetupReps = 3
  /** Cores of the measured session: local[4]. */
  val Cores = 4
  /** Most timed operations one run attempts, failed ones included. */
  val MaxOps = 20
  /** Least share of the run's seconds spent in timed operations at
    * local[cpus] (at least the workload's minimum) and, in a traced run, at
    * local[1] (at least one). */
  val HiShare = 0.5
  val LoShare = 0.2
  /** URL sample seed of the core probe on query_mix, whose input does not
    * depend on --seed. */
  val FixedSeed = 777L

  final case class Op(cores: Int, wall: Double, cpu: Double, units: Double, traced: Boolean) {
    def rate: Double = units / wall
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this process has used, on all its threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Guest-wide (busy, stolen) CPU jiffies from /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => rmTree(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** A session configured like `graft.Bench`'s, with every file it writes
    * inside the benchmark's work directory. */
  def session(cpus: Int, partitions: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full collection, which the benchmark forces after
    * each timed operation (untimed): what the operation left behind. The
    * second collection frees what Spark's cleaner released after the first. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    val data = Paths.get(need("data")).toAbsolutePath
    val cpus = Cores
    Files.createDirectories(work)
    Files.createDirectories(out)
    val recorded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(need("expected")).toFile)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var peakMb = 0.0
    val tracer = new Tracer(s"$workload-seed$seed-${System.currentTimeMillis()}")
    val counters = new SparkCounters
    val plans = new QueryPlans
    var tracing = false

    // query_mix reads a fixed dataset, so its recorded outputs do not depend
    // on the seed; crawl_growth records its outputs per seed
    val checks = new Checks(workload match {
      case "query_mix" => Option(recorded.path(workload).get("outputs"))
      case _ => Option(recorded.path(workload).path("seeds").get(seed.toString))
    })
    val w: Workload = workload match {
      case "crawl_growth" => new CrawlWorkload(GrowthSeeds, seed, work, tracer, checks)
      case "query_mix" => new QueryWorkload(data, tracer, checks,
        () => if (tracing) Some(plans) else None,
        () => if (tracing) Some(counters) else None)
      case other => sys.error(s"unknown workload '$other'")
    }
    val probeSeed = if (workload == "query_mix") FixedSeed else seed
    if (workload == "query_mix")
      println(s"[bench] query_mix reads the fixed dataset $data: --seed $seed does not change it")
    else if (!checks.recorded)
      println(s"[bench] seed $seed has no recorded outputs: checking that repeated " +
        "rounds agree, not against a record")

    val steal0 = stealJiffies()
    var spark = session(cpus, cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def traceOn(on: Boolean): Unit = if (on != tracing) {
      tracing = on
      val sc = spark.sparkContext
      if (on) {
        counters.reset(); sc.addSparkListener(counters); spark.listenerManager.register(plans)
      } else {
        sc.removeSparkListener(counters); spark.listenerManager.unregister(plans)
      }
    }
    val layerVals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def keep(m: Map[String, Double]): Unit = m.foreach { case (k, v) =>
      layerVals.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }

    // One timed operation at `cores`. In a traced run every second operation
    // at local[cpus] runs with the listeners on; the others give the
    // untraced walls the tracing overhead is measured against.
    val ops = mutable.ArrayBuffer.empty[Op]
    var tried = 0
    def timedOp(cores: Int): Unit = {
      tried += 1
      val traceThis = traced && cores == cpus && ops.count(_.cores == cores) % 2 == 1
      traceOn(traceThis)
      val c0 = tracer.nowMs
      val cpu0 = cpuS
      val s0 = System.nanoTime()
      val units = tracer.span("op", Map("cores" -> cores.toString))(
        checks.attempt(s"operation ${ops.size + 1}")(w.op(spark)))
      val wall = (System.nanoTime() - s0) / 1e9
      val cpu = cpuS - cpu0
      if (traceThis) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val c1 = tracer.nowMs
        counters.addSpans(tracer, c0, c1)
        keep(counters.summary("op", c0, c1, cores))
        keep(counters.phaseShares(c0, c1))
        counters.reset()
      }
      traceOn(false)
      peakMb = math.max(peakMb, heapAfterGcMb())
      units.foreach(u => ops += Op(cores, wall, cpu, u, traceThis))
    }
    def spent(cores: Int): Double = ops.filter(_.cores == cores).map(_.wall).sum

    // Each set-up is followed by one timed operation on what it built, so
    // repeating the set-up costs no extra operations.
    val setupReps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("setup", Map("rep" -> rep.toString))(w.setup(spark, rep))
      val s = (System.nanoTime() - t0) / 1e9
      timedOp(cpus)
      s
    }
    val setupS = sessionS + median(setupReps)
    while ((spent(cpus) < HiShare * seconds || ops.size < w.minOps + (if (traced) 1 else 0)) &&
        tried < MaxOps)
      timedOp(cpus)
    w.after(spark)
    if (traced) {
      w.audit(spark)
      // local[1] runs the same plan (same shuffle partitions) on one core
      spark.stop()
      spark = session(1, cpus, work)
      w.rebind(spark)
      do timedOp(1) while (spent(1) < LoShare * seconds && tried < MaxOps)
    }
    spark.stop()
    val hostRate = CoreProbe.kernelRate(CoreProbe.urls(probeSeed, 2000), 4)

    val hi = ops.filter(_.cores == cpus).toSeq
    val untraced = hi.filterNot(_.traced)
    val first = hi.headOption
    // The fastest operation is the one the shared host disturbed least; the
    // median across runs is taken by whoever compares runs.
    val thrHi = untraced.map(_.rate).maxOption.getOrElse(Double.NaN)
    val cpuPerItemMs = median(untraced.map(o => o.cpu / o.units * 1e3))
    val eff = ops.filter(_.cores == 1).map(_.rate).maxOption
      .map(lo => thrHi / lo / cpus).getOrElse(Double.NaN)
    val errorRate = checks.failed.toDouble / math.max(1, checks.attempted)

    // The metrics by the names bench/README.md defines them under, with units.
    val named = mutable.LinkedHashMap[String, (Double, String)]("setup_s" -> (setupS, "s"))
    w match {
      case _: CrawlWorkload =>
        named("crawl_urls_per_s") = (thrHi, "URLs/s")
        named("cpu_ms_per_url") = (cpuPerItemMs, "ms")
        named("store_mb_per_round") = (w.report("store_mb_per_round"), "MB")
        if (traced) named("audit_s") = (w.report("audit_s"), "s")
      case _: QueryWorkload =>
        named("query_cold_pass_s") = (first.map(_.wall).getOrElse(Double.NaN), "s")
        named("query_warm_pass_s") =
          (untraced.drop(1).map(_.wall).minOption.getOrElse(Double.NaN), "s")
        named("cpu_ms_per_query") = (cpuPerItemMs, "ms")
    }
    if (traced) named("scaling_eff_1to4") = (eff, "ratio")
    named("peak_heap_mb") = (peakMb, "MB")
    named("error_rate") = (errorRate, "fraction")

    val report = mutable.LinkedHashMap[String, Double](
      "session_s" -> sessionS, "setup_rep_median_s" -> median(setupReps),
      "timed_ops_local4" -> hi.size.toDouble,
      "timed_ops_local1" -> ops.count(_.cores == 1).toDouble,
      "op_wall_median_s" -> median(untraced.map(_.wall)),
      "op_cpu_median_s" -> median(untraced.map(_.cpu)),
      "op_wall_min_s" -> untraced.map(_.wall).minOption.getOrElse(Double.NaN),
      "host.steal_ratio" -> {
        val (b1, s1) = stealJiffies()
        (s1 - steal0._2).toDouble / math.max(1L, (b1 - steal0._1) + (s1 - steal0._2))
      },
      "host.kernel_pages_per_s_4t" -> hostRate) ++ w.report

    val metrics = if (!traced) Map(
      "setup_s" -> setupS,
      "throughput_per_s" -> thrHi,
      "cpu_ms_per_item" -> cpuPerItemMs,
      "peak_heap_mb" -> peakMb)
    else {
      val layer = layerVals.map { case (k, vs) => k -> median(vs.toSeq) }
      // the first operation is left out: on query_mix it is the cold pass
      val overhead = median(hi.filter(_.traced).map(_.wall)) /
        median(untraced.drop(1).map(_.wall)) - 1
      layer.filter(_._1.startsWith("share.")).foreach { case (k, v) => report(k) = v }
      report("trace.overhead_ratio") = overhead
      val core = CoreProbe.metrics(tracer, probeSeed)
      tracer.write(out.resolve("spans.jsonl"))
      val selfTimes = Tracer.writeSelfTimes(tracer, out.resolve("self_times.json"))
      println(f"[trace] ${"span"}%-36s ${"calls"}%6s ${"total_s"}%9s ${"self_s"}%9s")
      selfTimes.foreach { case (n, tot, slf, cnt) =>
        println(f"[trace] $n%-36s $cnt%6d $tot%9.3f $slf%9.3f") }
      core ++ layer.filter(_._1.startsWith("op.")) ++
        Map("trace.overhead_ratio" -> overhead, "scaling_eff_1to4" -> eff,
          "first_op_s" -> first.map(_.wall).getOrElse(Double.NaN))
    }

    named.foreach { case (k, (v, u)) => println(f"[metric] $k%-26s ${Json.num(v)}%s $u") }
    report.foreach { case (k, v) => println(f"[report] $k%-40s ${Json.num(v)}") }
    checks.notes.foreach(n => println(s"[check] FAILED $n"))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "attempted" -> checks.attempted.toString, "failed" -> checks.failed.toString,
      "metrics" -> Json.nums(metrics),
      "named" -> Json.obj(named.toSeq.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }),
      "report" -> Json.nums(report.toMap),
      "observed" -> Json.obj(checks.observed.toSeq.map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(out.resolve("result.json"), result + "\n")
  }
}
