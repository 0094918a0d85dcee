package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Traced runs only: records every Spark job, stage and SQL execution,
  * and every streaming trigger, in memory until `dump`. Nothing here runs
  * inside the program; the spans come from the engine's own listener bus.
  *
  * A job keeps the first program (`graft.`) frames of the call site Spark
  * records for it and the id of its SQL execution, whose physical plan is
  * kept too; `layers.py` attributes the job to a layer from them. Task
  * times are kept per stage for the skew ratio.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val progress = mutable.ArrayBuffer.empty[String]
  private val executions = mutable.ArrayBuffer.empty[String]
  private var failedTasks = 0L
  private var busyNs = 0L

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally busyNs += System.nanoTime() - t0
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val frames = e.stageInfos.headOption.toSeq
        .flatMap(_.details.split("\n"))
        .map(_.trim).filter(_.startsWith("graft.")).take(3)
      synchronized {
        jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time,
          "execution" -> Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-1"),
          "stages" -> e.stageIds.mkString("[", ",", "]"),
          "frames" -> frames.map(str).mkString("[", ",", "]"))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      synchronized {
        jobs.get(e.jobId).foreach { j =>
          j("end") = e.time
          j("ok") = e.jobResult == JobSucceeded
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      synchronized {
        if (e.reason != Success) failedTasks += 1
        else taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
        synchronized {
          executions += s"""{"id":${x.executionId},"plan":${str(x.physicalPlanDescription)}}"""
        }
      }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      val m = s.taskMetrics
      synchronized {
        val ts = taskMs.remove((s.stageId, s.attemptNumber())).map(_.sorted)
          .getOrElse(mutable.ArrayBuffer.empty[Long])
        val med = if (ts.isEmpty) 0L else ts(ts.size / 2)
        stages += Seq(
          "id" -> s.stageId, "attempt" -> s.attemptNumber(),
          "submit" -> s.submissionTime.getOrElse(0L),
          "complete" -> s.completionTime.getOrElse(0L),
          "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "task_max_ms" -> (if (ts.isEmpty) 0L else ts.last),
          "task_median_ms" -> med)
          .map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed { synchronized { progress += e.progress.json } }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)

  /** Writes the trace as one JSON object. */
  def dump(path: String): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    val out = synchronized {
      val js = jobs.values.map(_.map { case (k, v) => str(k) + ":" + v }
        .mkString("{", ",", "}"))
      "{\"jobs\":" + js.mkString("[", ",\n", "]") +
        ",\n\"stages\":" + stages.mkString("[", ",\n", "]") +
        ",\n\"progress\":" + progress.mkString("[", ",\n", "]") +
        ",\n\"executions\":" + executions.mkString("[", ",\n", "]") +
        s",\n\"failed_tasks\":$failedTasks,\"listener_busy_s\":${busyNs / 1e9}}"
    }
    Files.write(Paths.get(path), Seq(out).asJava)
  }
}
