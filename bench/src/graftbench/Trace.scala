package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run. Times are epoch milliseconds with a
  * sub-millisecond fraction, so driver spans and Spark's listener times share
  * one clock. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, String] = Map.empty) {
  def dur: Double = end - start
}

/** Spans kept in memory for the whole run and written once at the end. The
  * benchmark is a closed loop with one calling thread, so the open spans form
  * a stack. */
final class Tracer(val runId: String) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Long]
  private var nextId = 1L

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val id = newId()
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    val t0 = nowMs
    try body
    finally {
      open = open.tail
      add(Span(id, parent, name, t0, nowMs, attrs))
    }
  }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)},"attrs":{$attrs}}"""
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Length of the union of intervals: the part of a span its children cover
    * (children may overlap, as the concurrent snapshot writes do). */
  def covered(intervals: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Total and self time in seconds and the call count of each span name,
    * written to `path` and returned, largest total first. */
  def writeSelfTimes(tracer: Tracer, path: Path): Seq[(String, Double, Double, Int)] = {
    val spans = tracer.all
    val self = selfTimes(spans)
    val rows = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.dur).sum / 1e3, ss.map(s => self(s.id)).sum / 1e3, ss.size)
    }.sortBy(-_._2)
    Files.writeString(path, Json.obj(rows.map { case (n, tot, slf, cnt) =>
      n -> s"""{"total_s":${Json.num(tot)},"self_s":${Json.num(slf)},"calls":$cnt}"""
    }) + "\n")
    rows
  }

  /** Self time of every span: its duration minus what its children cover,
    * with children clipped to the parent's interval. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.dur - covered(cs))
    }.toMap
  }
}

/** Spark task counters, kept per stage, plus job intervals. Registered on the
  * benchmark's own session only while a traced call runs. */
final class SparkCounters extends SparkListener {
  final class StageAgg(val id: Int, val name: String, val details: String) {
    var submit = 0L
    var complete = 0L
    val taskMs = ArrayBuffer.empty[Long]
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var output = 0L
  }
  final case class JobRec(id: Int, start: Long, stageIds: Seq[Int], var end: Long)

  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
  val jobs = ArrayBuffer.empty[JobRec]

  private def stage(info: StageInfo): StageAgg =
    stages.getOrElseUpdate(info.stageId, new StageAgg(info.stageId, info.name, info.details))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, e.stageInfos.map(_.stageId), 0L)
    e.stageInfos.foreach(stage)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.submit = e.stageInfo.submissionTime.getOrElse(0L)
    s.complete = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId, "", ""))
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  def reset(): Unit = synchronized { stages.clear(); jobs.clear() }

  /** Jobs started inside [t0, t1] (epoch ms; listener times are whole ms). */
  private def jobsIn(t0: Double, t1: Double): List[JobRec] =
    jobs.filter(j => j.start >= t0 - 1 && j.start <= t1).toList

  /** A job's interval; one still running at t1 ends there. */
  private def interval(j: JobRec, t1: Double): (Double, Double) =
    (j.start.toDouble, if (j.end > 0) j.end.toDouble else t1)

  /** Counters of the jobs started inside [t0, t1] (epoch ms) — one traced
    * call — as per-layer metrics named `<prefix>.<counter>`. */
  def summary(prefix: String, t0: Double, t1: Double, cores: Int): Map[String, Double] =
    synchronized {
      val js = jobsIn(t0, t1)
      val ran = js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.taskMs.nonEmpty)
      val wallS = (t1 - t0) / 1e3
      val taskS = ran.map(_.runMs).sum / 1e3
      val busyS = Tracer.covered(js.map(interval(_, t1))) / 1e3
      val top = if (ran.isEmpty) None else Some(ran.maxBy(_.taskMs.sum))
      def mb(f: StageAgg => Long) = ran.map(f).sum / 1048576.0
      Map(
        "run_s" -> wallS,
        "jobs" -> js.size.toDouble,
        "stages" -> ran.size.toDouble,
        "tasks" -> ran.map(_.taskMs.size).sum.toDouble,
        "task_s" -> taskS,
        "task_cpu_s" -> ran.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ran.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> mb(_.shuffleWrite),
        "shuffle_read_mb" -> mb(_.shuffleRead),
        "spill_mb" -> mb(_.spill),
        "output_mb" -> mb(_.output),
        "busy_ratio" -> taskS / (wallS * cores),
        "driver_gap_s" -> (wallS - busyS),
        "top_stage_s" -> top.map(s => (s.complete - s.submit) / 1e3).getOrElse(0.0),
        "top_stage_skew" -> top.map { s =>
          val d = s.taskMs.sorted
          d.last.toDouble / math.max(1L, d(d.size / 2))
        }.getOrElse(0.0)
      ).map { case (k, v) => s"$prefix.$k" -> v }
    }

  /** The phase of a job: the job holding the stage with the largest summed
    * task time is "top-stage" (a crawl round's fetch+parse job); the others
    * are named by the engine method that submitted them (see [[Phases]]). */
  private def phaseOf(j: JobRec, topJob: Option[Int]): String =
    if (topJob.contains(j.id)) "top-stage"
    else j.stageIds.sorted.lastOption.flatMap(stages.get)
      .flatMap(s => Phases.of(s.details)).getOrElse("other")

  private def topJob(js: Seq[JobRec]): Option[Int] = {
    val ran = js.flatMap(j => j.stageIds.flatMap(stages.get).filter(_.taskMs.nonEmpty)
      .map(s => j.id -> s.taskMs.sum))
    if (ran.isEmpty) None else Some(ran.maxBy(_._2)._1)
  }

  /** Share of [t0, t1] during which jobs of each phase were running. */
  def phaseShares(t0: Double, t1: Double): Map[String, Double] = synchronized {
    val js = jobsIn(t0, t1)
    val f = topJob(js)
    js.groupBy(phaseOf(_, f)).map { case (p, jj) =>
      s"share.$p" -> Tracer.covered(jj.map(interval(_, t1))) / (t1 - t0)
    }
  }

  /** Job and stage records inside [t0, t1] as spans, each job a child of
    * the innermost driver span that was open when it started, so that a
    * span's self time is its driver time with no job running. */
  def addSpans(tracer: Tracer, t0: Double, t1: Double): Unit = synchronized {
    val js = jobsIn(t0, t1)
    val open = tracer.all.filter(s => s.start >= t0 && s.end <= t1)
    val f = topJob(js)
    js.foreach { j =>
      val jid = tracer.newId()
      val parent = open.filter(s => s.start <= j.start && j.start <= s.end)
        .maxByOption(_.start).map(_.id).getOrElse(0L)
      val ran = j.stageIds.flatMap(stages.get).filter(_.taskMs.nonEmpty)
      val site = j.stageIds.sorted.lastOption.flatMap(stages.get).map(_.name).getOrElse("")
      val (start, end) = interval(j, t1)
      tracer.add(Span(jid, parent, "spark.job", start, end,
        Map("job" -> j.id.toString, "call_site" -> site, "phase" -> phaseOf(j, f))))
      ran.foreach { s =>
        tracer.add(Span(tracer.newId(), jid, "spark.stage", s.submit.toDouble,
          s.complete.toDouble, Map("stage" -> s.id.toString, "name" -> s.name,
            "tasks" -> s.taskMs.size.toString, "task_s" -> (s.runMs / 1e3).toString)))
      }
    }
  }
}

/** Which part of a crawl round a Spark job belongs to, read from the stack
  * Spark records when the job is submitted. The names are the engine's own
  * methods, so a line-number change does not move a job to another phase. */
object Phases {
  private val rules = Seq(
    "orderedFrontierWrite" -> "frontier-write",
    "assignGlobalSeq" -> "politeness+sequence",
    "bloomFilter" -> "filter-build",
    "SnapshotStore.load" -> "store-read")
  def of(details: String): Option[String] =
    rules.collectFirst { case (m, p) if details.contains(m) => p }
}

/** Shuffle exchanges of each executed plan, in completion order. A plan
  * that consumes a query through the benchmark's content hash counts only
  * the exchanges below the hash projection: the query's own. */
final class QueryPlans extends QueryExecutionListener {
  val exchanges = ArrayBuffer.empty[Int]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val own = plan.collectFirst {
      case p: ProjectExec if p.output.exists(_.name == QueryPlans.HashColumn) => p
    }.getOrElse(plan)
    val n = own.collectWithSubqueries { case e: ShuffleExchangeLike => e }.size
    synchronized(exchanges += n)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def reset(): Unit = synchronized(exchanges.clear())
}

object QueryPlans {
  val HashColumn = "bench_content_hash"
}

/** Minimal JSON writing for the benchmark's own output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
