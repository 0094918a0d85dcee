package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.ReplicationJob

/** The JVM half of the benchmark: a command server that drives the
  * program only through its public entry points (`ReplicationJob.start`
  * over `EventLogSource`, `graft.recon.Reconciler`, `SparkEntry.queries`).
  *
  * The Python side (`run.py`) owns the schedule, the inputs and the
  * correctness checks; this process owns the SparkSession. One command per
  * stdin line, one reply per stdout line (`OK <json>`), so `run.py` never
  * shares a seed or a clock-driven loop with the system under test.
  *
  * Commands:
  *   stream <dir>          start the continuous replication job over <dir>/log
  *   drain                 process everything landed, stop, dump progress
  *   reconcile <dir> <source> <tsLo> <tsHi>
  *                         run the Reconciler suite on <source> vs the target
  *   query <name> <fixtures> <outDir>
  *                         run one SparkEntry query, writing its result
  *   oracle <name> <file>  write the query's DuckDB oracle SQL to <file>
  *   exit <traceFile>      dump the trace (when tracing) and stop
  */
object Server {
  private def now(): Long = System.currentTimeMillis()

  private def json(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
      case other => other.toString
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(cores, workDir, traceFlag) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogHygiene.muteBoundedWindowWarn()
    val tracer = if (traceFlag == "1") Some(new Tracer(spark)) else None
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    def reply(s: String): Unit = { println("OK " + s); System.out.flush() }
    reply(json("jvm_start_ms" -> jvmStart, "ready_ms" -> now()))

    var live: Option[(StreamingQuery, String)] = None
    var line = in.readLine()
    while (line != null) {
      val cmd = line.trim.split("\\s+").toList
      cmd match {
        case "stream" :: dir :: Nil =>
          val q = ReplicationJob.start(spark, cdcConfig(dir), continuous = true)
          // land nothing until the first (empty) trigger has run: the
          // generator's schedule starts against a running query
          while (q.isActive && q.status.message != "Waiting for next trigger")
            Thread.sleep(10)
          live = Some((q, dir))
          reply(json("running_ms" -> now()))

        case "drain" :: Nil =>
          val (q, dir) = live.get
          q.processAllAvailable()
          q.stop()
          live = None
          dumpProgress(q, s"$dir/progress.jsonl")
          reply(json("stopped_ms" -> now()))

        case "reconcile" :: dir :: source :: tsLo :: tsHi :: Nil =>
          reply(reconcile(spark, source, cdcConfig(dir), tsLo.toLong, tsHi.toLong))

        case "query" :: name :: fixtures :: outDir :: Nil =>
          val t0 = now()
          val ok = try {
            graft.SparkEntry.queries(name)(spark, fixtures)
              .write.mode("overwrite").parquet(outDir)
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] query $name failed: $e")
              false
          } finally graft.util.Materialize.releaseTracked(spark)
          reply(json("start_ms" -> t0, "end_ms" -> now(), "ok" -> ok))

        case "oracle" :: name :: file :: Nil =>
          Files.writeString(Paths.get(file), graft.SparkEntry.oracleSql(name))
          reply(json("query" -> name))

        case "exit" :: traceFile :: Nil =>
          tracer.foreach { t =>
            Thread.sleep(500) // let the listener bus deliver the last events
            t.dump(traceFile)
          }
          reply(json("peak_rss_mb" -> peakRssMb(), "exit_ms" -> now()))
          spark.stop()
          return

        case other =>
          System.err.println(s"[perfbench] unknown command: $other")
          sys.exit(2)
      }
      line = in.readLine()
    }
    spark.stop()
  }

  /** The replication config over one run directory: defaults throughout,
    * fed from the commit log under <dir>/log with a row cap no trigger
    * reaches, so admission never splits what has landed.
    */
  private def cdcConfig(dir: String): ReplicationJob.Config =
    ReplicationJob.Config(
      sourceDir = s"$dir/log", targetDir = s"$dir/target",
      dlqDir = s"$dir/dlq", checkpointDir = s"$dir/checkpoint",
      eventLog = Some((s"$dir/log", 100000L)))

  /** Every progress the query reported, one JSON object per line. */
  private def dumpProgress(q: StreamingQuery, path: String): Unit =
    Files.write(Paths.get(path), q.recentProgress.map(_.json).toSeq.asJava)

  /** The Reconciler suite over the staged source table and the drained
    * target, each check timed around its call. The source table is the
    * generator's own latest-per-key state (soft deletes included), so
    * every check should report zero mismatches.
    */
  private def reconcile(spark: SparkSession, sourcePath: String,
      cfg: ReplicationJob.Config, tsLo: Long, tsHi: Long): String = {
    val source = spark.read.parquet(sourcePath)
    val target = ReplicationJob.targetState(spark, cfg)
    val hashCols = Seq("user_id", "event_id", "ts_us", "event_type", "value")
    val R = graft.recon.Reconciler
    val checks = Seq[(String, () => Long)](
      "rowcount" -> (() =>
        R.rowCountValidation(source, target).head().getAs[Long]("mismatch_count")),
      "checksum" -> (() =>
        R.checksumMismatches(source, target, "user_id", hashCols).count()),
      "ts_range" -> (() =>
        R.timestampRange(source, target, "user_id", hashCols, "ts_us", tsLo, tsHi).count()),
      "sample" -> (() =>
        R.sampleValidation(source, target, "user_id", hashCols, 7L).count()))
    checks.map { case (k, f) =>
      val t0 = now()
      val n = f()
      s""""recon_${k}_start_ms":$t0,"recon_${k}_end_ms":${now()},"recon_${k}_mismatches":$n"""
    }.mkString("{", ",", "}")
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
