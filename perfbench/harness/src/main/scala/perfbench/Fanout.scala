package perfbench

import graft.pipeline.AuditPipeline
import graft.sources.LoopbackKinesisServer
import graft.streaming.{PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

/** The fan-out workload, driven through the production entry point
  * `StreamingFanOut.startKinesis` over `LoopbackKinesisServer`. Record i of
  * the payload file goes to shard `i % shards`, so its sequence number (the
  * loopback server's 0-based position) is `i / shards`; the runner relies
  * on that to match records to the trigger that committed them. */
object Fanout {
  private val stream = "perfbench"

  def shardId(s: Int): String = f"shardId-$s%012d"

  final case class Dirs(es: String, splunk: String, dlq: String, ckpt: String)

  private def dirs(work: String, tag: String): Dirs = {
    def d(n: String) = Paths.get(work, s"$tag-$n").toString
    Dirs(d("es"), d("splunk"), d("dlq"), d("ckpt"))
  }

  def readLines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toIndexedSeq

  private def byShard(payloads: IndexedSeq[String], shards: Int): Seq[(String, IndexedSeq[String])] =
    (0 until shards).map(s => shardId(s) -> payloads.indices.filter(_ % shards == s).map(payloads))

  /** One set-up: a fresh query on fresh directories over a small fixture
    * of the workload's record mix, started, drained and stopped. Returns
    * seconds. */
  def setupCycle(spark: SparkSession, work: String, tag: String,
      warm: IndexedSeq[String], shards: Int, lpp: Int, mpps: Int): Double = {
    val server = new LoopbackKinesisServer(s"$stream-$tag", byShard(warm, shards))
    val endpoint = server.start()
    val d = dirs(work, tag)
    try {
      val t0 = System.nanoTime()
      val q = StreamingFanOut.startKinesis(spark, endpoint, s"$stream-$tag",
        d.es, d.splunk, d.dlq, d.ckpt, PipelineConfig(), SinkMetrics(spark), lpp, mpps)
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    } finally server.stop()
  }

  /** Closed loop: a backlog already on the shards is drained under a fixed
    * per-trigger admission bound (`lpp` records per poll, `mpps` polls per
    * shard). */
  def catchup(spark: SparkSession, work: String, payloads: IndexedSeq[String],
      shards: Int, lpp: Int, mpps: Int, clock: Clock): Map[String, Any] = {
    val backlog = byShard(payloads, shards)
    val server = new LoopbackKinesisServer(stream, backlog)
    val endpoint = server.start()
    val d = dirs(work, "run")
    val metrics = SinkMetrics(spark)
    val (c0, j0) = (clock.cpuMs, clock.compileMs)
    val t0 = System.nanoTime()
    val q = StreamingFanOut.startKinesis(spark, endpoint, stream,
      d.es, d.splunk, d.dlq, d.ckpt, PipelineConfig(), metrics, lpp, mpps)
    q.processAllAvailable()
    val t1 = System.nanoTime()
    val (cpu, compile) = (clock.cpuMs - c0, clock.compileMs - j0)
    val progress = progressRows(q)
    q.stop()
    server.stop()
    Map(
      "t0_ms" -> clock.epochMs(t0),
      "drained_ms" -> clock.epochMs(t1),
      "drain_s" -> (t1 - t0) / 1e9,
      "cpu_ms" -> cpu,
      "compile_ms" -> compile,
      "progress" -> progress,
      "wire" -> wireStats(server, backlog.map { case (s, r) => s -> r.size }.toMap, lpp),
      "sinks" -> readSinks(spark, work, d, metrics))
  }

  private def progressRows(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val src = p.sources.headOption
      Map(
        "batch" -> p.batchId,
        "ts_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "dur_ms" -> p.batchDuration,
        "rows" -> p.numInputRows,
        "phases" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "start" -> src.map(_.startOffset).orNull,
        "end" -> src.map(_.endOffset).orNull)
    }

  /** GetRecords calls from the loopback server's call log, and the records
    * they returned. The backlog is static and every poll asks for `lpp`
    * records, so a call at position `pos` of a shard holding `size` records
    * returned `min(lpp, size - pos)` of them. */
  private def wireStats(server: LoopbackKinesisServer, sizes: Map[String, Int],
      lpp: Int): Map[String, Any] = {
    val gets = server.calls.filter(_._1 == "GetRecords")
    Map(
      "get_records_calls" -> gets.size,
      "records_returned" -> gets.map { case (_, shard, pos) =>
        math.max(0, math.min(lpp, sizes(shard) - pos.toInt)).toLong
      }.sum)
  }

  /** What each sink holds after the run, read back through the production
    * readers; the runner compares it with what the generator produced. */
  private def readSinks(spark: SparkSession, work: String, d: Dirs,
      m: SinkMetrics): Map[String, Any] = {
    import spark.implicits._
    val es = Sinks.readEsIndex(spark, d.es).select(col("_id"), col("index_date").cast("string"))
      .as[(String, String)].collect()
    writeLines(Paths.get(work, "es_ids.tsv").toString, es.map { case (i, day) => s"$i\t$day" })
    val splunk = spark.read.text(s"${d.splunk}/*.jsonl")
      .select(get_json_object(col("value"), "$.event.random_id")).as[String].collect()
    writeLines(Paths.get(work, "splunk_ids.txt").toString, splunk.toSeq.map(String.valueOf))
    val dlq =
      if (Files.exists(Paths.get(d.dlq)))
        spark.read.parquet(d.dlq).select("raw_payload").as[String].collect().toSeq
      else Nil
    writeLines(Paths.get(work, "dlq_raw.txt").toString, dlq)
    val esFiles = Files.walk(Paths.get(d.es)).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    Map("es_files" -> esFiles,
      "es_success" -> m.esSuccess.value, "es_total" -> m.esTotal.value,
      "splunk_success" -> m.splunkSuccess.value, "splunk_total" -> m.splunkTotal.value)
  }

  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)

  /** `pipeline` layer alone: the record path of one micro-batch
    * (decode → validity split → enrich → allowlist) over the workload's own
    * payloads as a cached batch frame. Returns microseconds per record,
    * median of `reps`. */
  def decodeMicros(spark: SparkSession, payloads: IndexedSeq[String], reps: Int): Double = {
    import spark.implicits._
    val raw = payloads.toDF("data").cache()
    raw.count()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val decoded = AuditPipeline.decodeKinesisWithRaw(raw, "data")
      val (valid, dead) = AuditPipeline.partitionValid(decoded)
      AuditPipeline.filterForEs(AuditPipeline.enrich(valid.drop("_raw")))
        .queryExecution.toRdd.count()
      dead.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e3 / payloads.size
    }
    raw.unpersist()
    Stats.median(times)
  }
}
