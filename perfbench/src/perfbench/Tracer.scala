package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's span recorder, attached from the benchmark's own files
  * around its calls into the program (no tracing inside the program).
  *
  * Spans nest workload → operation → step/phase → Spark job or streaming
  * batch. The driver thread opens workload/operation/step/phase spans; a
  * Spark job finds its parent through the `perfbench.span` local property
  * the job was submitted under (streaming threads inherit it), and its
  * operation through the job group, which is set to the operation's id.
  * Streaming batches carry no properties, so run.py parents them by time.
  * Everything stays in memory until [[finish]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val nextId = new AtomicLong
  private var stack: List[Long] = Nil // open span ids, driver thread only
  private var currentOp = 0L

  private val spans = mutable.ArrayBuffer.empty[Seq[Any]]
  private val opOfSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, op, start)
  private val opOfStage = new ConcurrentHashMap[Int, java.lang.Long]()

  private final class OpExec {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val opExec = mutable.Map.empty[Long, OpExec]
  private val opKind = mutable.Map.empty[Long, String]

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      spans.synchronized {
        spans += Seq(nextId.incrementAndGet(), -1L, "batch", p.runId.toString,
          start, start + p.batchDuration, Json.Obj(Seq(
            "trigger_ms" -> trigger, "state_rows" -> stateRows, "batch" -> p.batchId)))
      }
    }
  }

  sc.addSparkListener(this)
  spark.streams.addListener(streams)

  /** Runs `body` inside a span of `layer`; an "operation" span also sets
    * the job group so every job it submits is attributed to it. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanProp)
    val prevOp = currentOp
    if (layer == "operation") {
      currentOp = id
      opKind.synchronized(opKind(id) = name)
      sc.setJobGroup(s"op-$id", name)
    }
    opOfSpan.put(id, currentOp)
    stack ::= id
    // jobs outside any operation (those of the untraced twins) stay untraced
    if (layer != "workload") sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prevProp)
      if (layer == "operation") {
        sc.clearJobGroup()
        currentOp = prevOp
      }
      spans.synchronized(spans += Seq(id, parent, layer, name, t0, t1, Json.Obj(Nil)))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val op = Option(opOfSpan.get(span)).map(_.longValue).getOrElse(0L)
    jobStart.put(e.jobId, (span, op, e.time))
    e.stageIds.foreach(s => opOfStage.put(s, op))
    if (op != 0) exec(op)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).filter(_._1 != 0L).foreach { case (span, _, start) =>
      spans.synchronized {
        spans += Seq(nextId.incrementAndGet(), span, "job", s"job-${e.jobId}", start, e.time,
          Json.Obj(Nil))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    opFor(e.stageInfo.stageId).foreach(op => exec(op)(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    opFor(e.stageId).foreach { op =>
      exec(op) { x =>
        x.tasks += 1
        x.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          x.cpuNs += m.executorCpuTime
          x.gcMs += m.jvmGCTime
          x.shRead += m.shuffleReadMetrics.totalBytesRead
          x.shWrite += m.shuffleWriteMetrics.bytesWritten
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  private def opFor(stage: Int): Option[Long] =
    Option(opOfStage.get(stage)).map(_.longValue).filter(_ != 0L)

  private def exec(op: Long)(f: OpExec => Unit): Unit =
    opExec.synchronized(f(opExec.getOrElseUpdate(op, new OpExec)))

  /** Waits for the listener bus to deliver every event, detaches, and
    * moves spans and per-operation execution figures into `rec`. */
  def finish(rec: Recorder): Unit = {
    org.apache.spark.SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(this)
    spark.streams.removeListener(streams)
    val MB = 1024.0 * 1024.0
    opExec.synchronized {
      opKind.synchronized {
        opKind.toSeq.sortBy(_._1).foreach { case (op, kind) =>
          val x = opExec.getOrElse(op, new OpExec)
          // straggler ratio per stage that ran at least two tasks
          val skews = x.taskMs.values.filter(_.size >= 2).map { ds =>
            val sorted = ds.sorted
            sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
          }.toSeq
          rec.exec += Map("op" -> op, "kind" -> kind, "jobs" -> x.jobs,
            "stages" -> x.stages, "tasks" -> x.tasks, "task_cpu_s" -> x.cpuNs / 1e9,
            "task_gc_s" -> x.gcMs / 1e3, "shuffle_read_mb" -> x.shRead / MB,
            "shuffle_write_mb" -> x.shWrite / MB, "spill_mb" -> x.spill / MB,
            "task_skew" -> skews)
        }
      }
    }
    spans.synchronized(rec.spans ++= spans)
  }
}
