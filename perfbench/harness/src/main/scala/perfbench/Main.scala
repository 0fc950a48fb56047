package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: `perfbench.Main <spec.json> <result.json>`.
  *
  * The runner (perfbench/run.py) writes the spec: workload kind (`catchup`
  * or `batch`), seed-derived
  * input files, run length, and whether to trace. This process sets up,
  * measures, reads the sinks back, and writes raw measurements; the runner
  * checks them and turns them into metrics. Timing is taken only around
  * calls into public functions of the program, plus what Spark reports
  * (listener events, `StreamingQueryProgress`). */
object Main {
  def main(args: Array[String]): Unit = {
    // The loopback servers' idle pool threads are not daemons: exit
    // explicitly instead of waiting out their keep-alive, on failure too.
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val spec = Json.read(args(0))
    val clock = new Clock
    val work = spec.path("work_dir").asText()
    val cpus = spec.path("cpus").asInt()
    val traced = spec.path("trace").asBoolean()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val sessionReady = clock.nowMs
    val sessionCpu = clock.cpuMs
    val body: Map[String, Any] = spec.path("kind").asText() match {
      case "catchup" => fanout(spark, spec, work, clock, traced)
      case "batch" => batch(spark, spec, work, clock, traced)
      case "train" => train(spark, spec, work, clock)
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }
    val trace = tracer.map { t =>
      PerfbenchBus.drain(spark.sparkContext)
      val es = Paths.get(work, "run-es").toString
      val dlq = Paths.get(work, "run-dlq").toString
      Map("jobs" -> t.jobRows(plan => sinkOf(plan, es, dlq)),
        "tasks" -> t.taskRows.map(_.toSeq))
    }
    Json.write(args(1), body ++ Map(
      "session_ready_ms" -> sessionReady,
      "session_cpu_ms" -> sessionCpu,
      "done_ms" -> clock.nowMs,
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> trace))
    spark.stop()
  }

  /** Names a streaming job's sink from its SQL execution's physical plan:
    * the insert target directory (ES or DLQ), a collect-limit (the DLQ
    * emptiness probe, `isEmpty`), or the HEC line projection (Splunk). */
  private def sinkOf(plan: String, esDir: String, dlqDir: String): String =
    if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(esDir)) "es"
    else if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(dlqDir)) "dlq_write"
    else if (plan.contains("CollectLimit")) "dlq_probe"
    else if (plan.contains("sourcetype")) "splunk"
    else "other"

  private def fanout(spark: SparkSession, spec: JsonNode, work: String,
      clock: Clock, traced: Boolean): Map[String, Any] = {
    val payloads = Fanout.readLines(spec.path("payload_file").asText())
    val warm = Fanout.readLines(spec.path("warmup_file").asText())
    val shards = spec.path("shards").asInt()
    val lpp = spec.path("limit_per_poll").asInt()
    val mpps = spec.path("max_polls_per_shard").asInt()
    val cycles = (0 until spec.path("setup_cycles").asInt()).map { c =>
      val (t0, c0) = (clock.nowMs, clock.cpuMs)
      val s = Fanout.setupCycle(spark, work, s"setup$c", warm, shards, lpp, mpps)
      Map("start_ms" -> t0, "end_ms" -> clock.nowMs, "s" -> s, "cpu_ms" -> (clock.cpuMs - c0))
    }
    val run = Fanout.catchup(spark, work, payloads, shards, lpp, mpps, clock)
    val decode =
      if (traced) Map("decode_us_per_record" -> Fanout.decodeMicros(spark, payloads, 3))
      else Map.empty
    run ++ decode ++ Map("setup_cycles" -> cycles)
  }

  private def batch(spark: SparkSession, spec: JsonNode, work: String,
      clock: Clock, traced: Boolean): Map[String, Any] = {
    val dir = spec.path("data_dir").asText()
    val queries = spec.path("queries").elements().asScala.map(_.asText()).toSeq
    val resultDir = Paths.get(work, "results").toString
    val (t0, c0) = (clock.nowMs, clock.cpuMs)
    val (warmS, warmFailed) = Batch.warmPass(spark, dir, queries, resultDir)
    val cycles = Seq(Map("start_ms" -> t0, "end_ms" -> clock.nowMs, "s" -> warmS,
      "cpu_ms" -> (clock.cpuMs - c0)))
    val passes = Batch.timedPasses(spark, dir, queries,
      spec.path("seconds").asDouble(), spec.path("min_passes").asInt(), clock)
    val kernels =
      if (traced) Map("kernel_ns_per_row" -> Batch.kernelNanos(spark, dir, 5))
      else Map.empty
    Map("setup_cycles" -> cycles, "warm_failed" -> warmFailed, "passes" -> passes,
      "result_dir" -> resultDir, "oracle_sql" -> Batch.oracleSql(queries)) ++ kernels
  }

  /** Runs every code path both workload kinds use once, on small inputs,
    * so the runner can dump the loaded classes into a class-data archive
    * at build time: later runs then skip most class loading and
    * verification, in set-up and in measurement alike. */
  private def train(spark: SparkSession, spec: JsonNode, work: String,
      clock: Clock): Map[String, Any] = {
    val payloads = Fanout.readLines(spec.path("payload_file").asText())
    val shards = spec.path("shards").asInt()
    Fanout.catchup(spark, work, payloads, shards, spec.path("limit_per_poll").asInt(),
      spec.path("max_polls_per_shard").asInt(), clock)
    Fanout.decodeMicros(spark, payloads, 1)
    val dir = spec.path("data_dir").asText()
    val queries = spec.path("queries").elements().asScala.map(_.asText()).toSeq
    Batch.warmPass(spark, dir, queries, Paths.get(work, "results").toString)
    Batch.timedPasses(spark, dir, queries, 0, 1, clock)
    Batch.kernelNanos(spark, dir, 1)
    Map("setup_cycles" -> Seq.empty)
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
