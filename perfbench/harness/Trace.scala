package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Raw span recorder for traced runs: Spark's own listener bus, nothing
  * sampled. Job spans (start, end, call site, stage ids), per-stage task
  * metrics and streaming progress are kept in memory and written out once,
  * when the run ends; all attribution (op → job → module, self time) is
  * computed from these raw spans by the benchmark's reporting side. */
final class Trace(spark: SparkSession) {
  import Trace._
  private val sc = spark.sparkContext

  /** The thread the ops run on: this recorder is built by it. */
  private val opThread = Thread.currentThread()

  private val jobs = ArrayBuffer[JobSpan]()
  private val stages = scala.collection.mutable.LinkedHashMap[Int, StageRec]()
  private val progress = ArrayBuffer[Progress]()
  private val propKeys = Seq("spark.jobGroup.id", "spark.job.tags")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).map { p =>
        propKeys.flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap
      }.getOrElse(Map.empty)
      // The result stage carries the job's call site: the submitting
      // thread's stack below the first non-Spark frame. Two kinds of job
      // lack a useful one, and for them the live stack of the thread that
      // waits for the job is read instead: every job of a streaming query
      // carries the call site of the query's start() (the waiting thread is
      // the query's micro-batch thread), and adaptive execution submits
      // shuffle stages from a pool thread with no caller frames (the
      // waiting thread is the op's own).
      val recorded = if (e.stageInfos.isEmpty) ""
                     else e.stageInfos.maxBy(_.stageId).details
      val waiter = props.get("spark.jobGroup.id").flatMap(streamThread)
        .orElse(if (hasCaller(recorded)) None else Some(opThread))
      val site = waiter.map(_.getStackTrace.mkString("\n")).getOrElse(recorded)
      Trace.this.synchronized {
        jobs += JobSpan(e.jobId, e.time, -1L, e.stageIds, site, props)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      Trace.this.synchronized {
        val s = stages.getOrElseUpdate(si.stageId,
          StageRec(si.stageId, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
        s.tasks += si.numTasks
        if (tm != null) {
          s.cpuNs += tm.executorCpuTime
          s.gcMs += tm.jvmGCTime
          s.inputBytes += tm.inputMetrics.bytesRead
          s.inputRecords += tm.inputMetrics.recordsRead
          s.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
          s.outputBytes += tm.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Trace.this.synchronized {
        progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("triggerExecution"), ms("addBatch"), p.numInputRows)
      }
    }
  }

  private var attached = false

  private def hasCaller(callSite: String): Boolean =
    callSite.contains("graft.") || callSite.contains("perfbench.")

  /** The micro-batch thread of the streaming run `runId`, if alive. */
  private val streamThreads = scala.collection.mutable.Map[String, Thread]()
  private def streamThread(runId: String): Option[Thread] = {
    val cached = streamThreads.get(runId).filter(_.isAlive)
    if (cached.isDefined) cached
    else {
      val t = Thread.getAllStackTraces.keySet.iterator.asScala
        .find(_.getName.contains(s"runId = $runId"))
      t.foreach(streamThreads(runId) = _)
      t
    }
  }

  /** Attach (true) or detach (false) both listeners. Detaching first drains
    * the bus so no event of the span just traced is lost. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      sc.addSparkListener(jobListener)
      spark.streams.addListener(progressListener)
    } else {
      PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(jobListener)
      spark.streams.removeListener(progressListener)
    }
    attached = on
  }

  def toJson: String = synchronized {
    Json(Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stageIds, "call_site" -> j.callSite,
        "props" -> j.props)),
      "stages" -> stages.values.map(s => Map("id" -> s.id, "tasks" -> s.tasks,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "input_records" -> s.inputRecords,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "output_bytes" -> s.outputBytes)),
      "progress" -> progress.map(p => Map("start_ms" -> p.startMs,
        "trigger_ms" -> p.triggerMs, "add_batch_ms" -> p.addBatchMs,
        "input_rows" -> p.inputRows))))
  }
}

object Trace {
  final case class JobSpan(id: Int, startMs: Long, var endMs: Long,
                           stageIds: Seq[Int], callSite: String,
                           props: Map[String, String])
  final case class StageRec(id: Int, var tasks: Int, var cpuNs: Long,
                            var gcMs: Long, var inputBytes: Long,
                            var inputRecords: Long, var shuffleWriteBytes: Long,
                            var spillBytes: Long, var outputBytes: Long)
  final case class Progress(startMs: Long, triggerMs: Long, addBatchMs: Long,
                            inputRows: Long)
}

/** Already-serialized JSON, embedded verbatim by [[Json]]. */
final case class RawJson(text: String)

/** Minimal JSON writer (maps, sequences, strings, numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case RawJson(text) => text
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
