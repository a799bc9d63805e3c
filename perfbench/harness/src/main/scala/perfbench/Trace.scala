package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the traced run.
  *
  * Spans are opened by the harness around each call into the program
  * (`pipeline`, `sources`, `operators`, `streaming`, `queries`); a span's
  * layer is its name up to the first dot. Spark's public listeners
  * (SparkListener, QueryExecutionListener) record jobs, stages, tasks
  * and plan phases; each job carries the id of the span that launched it
  * as a local property, so its stages, tasks and SQL execution are
  * attributed exactly. Everything is kept in memory and reduced to
  * per-op numbers after the run ([[perOp]]).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var currentOp = -1
  private val counters = mutable.Map.empty[(Int, String), Double]

  // Listener state: written on the listener-bus thread, read after drain().
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val execStart = mutable.Map.empty[Long, Long]
  private val replans = mutable.Map.empty[Long, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = new Job(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(-1),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time,
        e.stageIds.max)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAgg(e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        if (e.stageInfo.attemptNumber() > 0) s.retried += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stages.get(e.stageId).foreach(_.add(e))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          replans(u.executionId) = replans.getOrElse(u.executionId, 0) + 1
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }
      val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(-1L)
      var files, bytes, commitMs = 0L
      planNodes(qe.executedPlan).foreach { n =>
        val m = n.metrics
        if (m.contains("numFiles")) {
          files += m("numFiles").value
          bytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
          commitMs += m.get("taskCommitTime").map(_.value).getOrElse(0L) +
            m.get("jobCommitTime").map(_.value).getOrElse(0L)
        }
      }
      lock.synchronized(qes += QeRec(qe.id, start, phases, files, bytes, commitMs))
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    Main.classic(spark).listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    Main.classic(spark).listenerManager.unregister(qeListener)
  }

  /** Open the root span of op `id`. */
  def op[T](id: Int)(body: => T): T = {
    currentOp = id
    try span("op")(body) finally currentOp = -1
  }

  /** Run `body` inside a span named `name` (layer = name up to the first dot). */
  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      spans += Span(id, name, parent, currentOp, n0, System.nanoTime(), m0, System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty(SpanKey, if (parent < 0) null else parent.toString)
    }
  }

  /** Add `v` to a per-op counter measured by the harness itself. */
  def count(name: String, v: Double): Unit =
    counters((currentOp, name)) = counters.getOrElse((currentOp, name), 0.0) + v

  /** Per-op metric maps, in op order. Call after [[stop]]. */
  def perOp(): Seq[(Int, Map[String, Double])] = lock.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): List[Span] =
      s :: byId.get(s.parent).map(ancestors).getOrElse(Nil)
    def within(s: Span, name: String) = ancestors(s).exists(_.name == name)
    // a job whose final stage wrote shuffle output is an AQE map-stage job
    def mapJob(j: Job) = stages.get(j.finalStage).exists(_.shWriteB > 0)
    val execSpan: Map[Long, Int] = jobs.values.filter(j => j.exec >= 0 && j.span >= 0)
      .map(j => j.exec -> j.span).toMap

    spans.filter(_.name == "op").sortBy(_.op).map { root =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = m(k) += v
      val opSpans = spans.filter(_.op == root.op).toSeq
      val ids = opSpans.map(_.id).toSet
      val opJobs = jobs.values.filter(j => ids(j.span)).toSeq
      val jobIds = opJobs.map(_.id).toSet
      val opStages = stages.values.filter(s => jobIds(s.job)).toSeq
      val spanOfJob = opJobs.map(j => j.id -> byId(j.span)).toMap
      def spanOfExec(exec: Long, t: Long): Option[Span] =
        execSpan.get(exec).flatMap(byId.get).filter(s => ids(s.id))
          .orElse(innermost(opSpans, t))

      // Time sweep at 1 ms: each cell takes the layer of the innermost
      // span over it; a cell under a running job counts as that job's
      // layer work, otherwise as driver gap. Map-stage jobs launched by
      // a parquet write compute the flatten/dedup side of the shuffle,
      // so they count for `operators`.
      val n = math.max(0, (root.endMs - root.startMs).toInt)
      val cellLayer = Array.fill(n)("op")
      opSpans.sortBy(s => ancestors(s).size).foreach { s =>
        for (t <- math.max(0, (s.startMs - root.startMs).toInt) until
               math.min(n, (s.endMs - root.startMs).toInt)) cellLayer(t) = s.layer
      }
      val covered = Array.fill(n)(false)
      var movedFromWrites = 0
      opJobs.sortBy(_.start).foreach { j =>
        val sp = spanOfJob(j.id)
        val flattenJob = mapJob(j) && sp.name == "sources.write_parquet"
        for (t <- math.max(0, (j.start - root.startMs).toInt) until
               math.min(n, (j.end - root.startMs).toInt)) {
          if (flattenJob && cellLayer(t) == "sources") {
            cellLayer(t) = "operators"
            movedFromWrites += 1
          }
          covered(t) = true
        }
      }
      for (t <- 0 until n) {
        if (covered(t)) add(s"self.${cellLayer(t)}_ms", 1) else add("spark.sched.driver_gap_ms", 1)
        if (cellLayer(t) == "operators") add("operators.flatten.wall_ms", 1)
      }
      add("trace.unaccounted_ms", root.ms - m.iterator.collect {
        case (k, v) if k.startsWith("self.") || k == "spark.sched.driver_gap_ms" => v }.sum)

      opSpans.foreach { s =>
        s.name match {
          case "pipeline.run_batch" | "pipeline.recount" | "sources.raw_read" |
               "sources.write_parquet" | "sources.archive" | "streaming.drain" =>
            add(s"${s.name}.wall_ms", s.ms)
          case q if q.startsWith("queries.") => add(s"${q}_ms", s.ms)
          case _ =>
        }
      }
      // the map-stage share of the writes was moved to operators above
      add("sources.write_parquet.wall_ms", -movedFromWrites)

      opJobs.foreach { j =>
        val sp = spanOfJob(j.id)
        add("spark.sched.jobs", 1)
        if (within(sp, "pipeline.run_batch")) add("pipeline.run_batch.jobs", 1)
        if (sp.name == "pipeline.recount") add("pipeline.recount.jobs", 1)
      }
      opStages.foreach { s =>
        val sp = spanOfJob(s.job)
        val mapOfWrite = sp.name == "sources.write_parquet" && mapJob(jobs(s.job))
        add("spark.sched.stages", 1)
        add("spark.sched.tasks", s.tasks)
        add("spark.sched.delay_ms", s.delayMs)
        add("spark.exec.run_ms", s.runMs)
        add("spark.exec.cpu_ms", s.cpuNs / 1e6)
        add("spark.exec.deser_ms", s.deserMs)
        add("spark.exec.result_ser_ms", s.resSerMs)
        add("spark.shuffle.write_mb", s.shWriteB / MB)
        add("spark.shuffle.read_mb", s.shReadB / MB)
        add("spark.shuffle.write_ms", s.shWriteNs / 1e6)
        add("spark.shuffle.fetch_wait_ms", s.fetchWaitMs)
        add("spark.io.input_mb", s.inB / MB)
        add("spark.io.output_mb", s.outB / MB)
        add("spark.mem.spill_mb", s.spillB / MB)
        add("spark.tasks.failed", s.failedTasks)
        add("spark.stages.retried", s.retried)
        if (sp.name == "sources.raw_read") add("sources.raw_read.input_mb", s.inB / MB)
        if (mapOfWrite) add("operators.flatten.shuffle_mb", s.shWriteB / MB)
      }
      val opExecs = execStart.filter { case (e, t) => spanOfExec(e, t).isDefined }
      add("spark.plan.executions", opExecs.size)
      add("spark.aqe.replans", opExecs.keys.map(e => replans.getOrElse(e, 0)).sum)
      qes.foreach { q =>
        spanOfExec(q.id, q.startMs).foreach { sp =>
          add("spark.plan.analysis_ms", q.phases.getOrElse("analysis", 0.0))
          add("spark.plan.optimization_ms", q.phases.getOrElse("optimization", 0.0))
          add("spark.plan.planning_ms", q.phases.getOrElse("planning", 0.0))
          if (sp.name == "sources.write_parquet") {
            add("sources.write_parquet.files", q.files)
            add("sources.write_parquet.output_mb", q.bytes / MB)
            add("sources.write_parquet.commit_ms", q.commitMs)
          }
        }
      }
      counters.foreach { case ((o, k), v) => if (o == root.op) add(k, v) }
      root.op -> m.toMap
    }.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, val span: Int, val exec: Long, val start: Long,
      val finalStage: Int) {
    var end: Long = start
  }

  final class StageAgg(val job: Int) {
    var tasks, failedTasks, retried = 0
    var runMs, cpuNs, deserMs, resSerMs, delayMs = 0.0
    var shWriteB, shWriteNs, shReadB, fetchWaitMs, inB, outB, spillB = 0.0

    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
      val tm = e.taskMetrics
      if (tm != null) {
        runMs += tm.executorRunTime
        cpuNs += tm.executorCpuTime
        deserMs += tm.executorDeserializeTime
        resSerMs += tm.resultSerializationTime
        val total = e.taskInfo.finishTime - e.taskInfo.launchTime
        delayMs += math.max(0L, total - tm.executorRunTime - tm.executorDeserializeTime -
          tm.resultSerializationTime)
        shWriteB += tm.shuffleWriteMetrics.bytesWritten
        shWriteNs += tm.shuffleWriteMetrics.writeTime
        shReadB += tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead
        fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
        inB += tm.inputMetrics.bytesRead
        outB += tm.outputMetrics.bytesWritten
        spillB += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }
  }

  final case class QeRec(id: Long, startMs: Long, phases: Map[String, Double],
      files: Long, bytes: Long, commitMs: Long)

  private def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs)

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(planNodes))
  }
}
