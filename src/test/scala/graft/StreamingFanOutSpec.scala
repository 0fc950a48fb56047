package graft

import java.nio.file.{Files, Paths}
import java.util.Base64

import graft.streaming.{PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end fan-out semantics (test_lambda_function.py:167-260 +
  * §2a error-semantics): ES gets the pruned projection, Splunk the full
  * record, both from one persisted batch; toggle skips Splunk; metrics
  * count success/total; ES `_id` is idempotent across redelivery; Splunk
  * chunks are ≤ maxBatchSize.
  */
class StreamingFanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def recJson(id: Int): String =
    s"""{"datetime": "2026-02-18T10:30:0${id % 10}", "random_id": "id-$id",
       |"kind_id": $id, "account_id": 1, "ip": "1.2.3.$id",
       |"request_url": "https://x/$id", "http_method": "GET"}"""
      .stripMargin.replace("\n", " ")

  /** A record carrying every [[graft.pipeline.AuditPipeline.auditSchema]]
    * field non-null, so the Splunk event's JSON keys show the full shape
    * (`to_json` omits null fields). */
  private def fullRecJson(id: Int): String =
    s"""{"datetime": "2026-02-18T10:30:0${id % 10}", "random_id": "id-$id",
       |"kind_id": $id, "account_id": 1, "performer_id": 2, "repository_id": 3,
       |"ip": "1.2.3.$id", "metadata": {"k": "v$id"},
       |"request_url": "https://x/$id", "http_method": "GET",
       |"performer_username": "u$id", "performer_email": "u$id@example.com",
       |"performer_kind": "user", "auth_type": "token", "user_agent": "ua/$id",
       |"request_id": "req-$id", "x_forwarded_for": "10.0.0.$id"}"""
      .stripMargin.replace("\n", " ")

  private def lines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .flatMap(f => Files.readAllLines(f).asScala).sorted

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming fan-out: pruned ES copy, full Splunk copy, checkpointed (lambda_function.py:140-148)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (esDir, splunkDir, ckpt) = (tmp("es"), tmp("splunk"), tmp("ckpt"))
    val metrics = SinkMetrics(spark)
    val stream = MemoryStream[String]
    val decoded = graft.pipeline.AuditPipeline.decodeKinesis(
      stream.toDF().withColumnRenamed("value", "data"), "data")

    val q = StreamingFanOut.start(decoded, esDir, splunkDir, ckpt,
      PipelineConfig(), metrics)
    stream.addData((1 to 7).map(i => b64(recJson(i))): _*)
    q.processAllAvailable()
    stream.addData((8 to 9).map(i => b64(recJson(i))): _*)
    q.processAllAvailable()
    q.stop()

    // ES copy: pruned to the allowlist + routing keys, daily-partitioned
    val es = Sinks.readEsIndex(spark, esDir)
    assert(es.count() == 9)
    assert(!es.columns.contains("request_url"), "ES must not see Splunk-only fields")
    assert(es.columns.contains("_id") && es.columns.contains("_index"))
    assert(es.select("_index").distinct().collect().map(_.getString(0)).toSet ==
      Set("audit-2026-02-18"))

    // Splunk copy: full record inside the HEC envelope
    val splunkLines = spark.read.json(s"$splunkDir/*.jsonl")
    assert(splunkLines.count() == 9)
    assert(splunkLines.select("sourcetype").distinct().collect().head.getString(0) == "json")
    val eventCols = splunkLines.select("event.*").columns
    assert(eventCols.contains("request_url"), "Splunk gets the FULL record")

    // metrics: success == total == 9 per sink (two micro-batches)
    assert(metrics.esTotal.value == 9 && metrics.esSuccess.value == 9)
    assert(metrics.splunkTotal.value == 9 && metrics.splunkSuccess.value == 9)
  }

  test("feature toggle skips Splunk entirely (lambda_function.py:106-108)") {
    import spark.implicits._
    val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1))).toDF("data"), "data")
    val config = PipelineConfig.fromSecrets(Map("splunk_disabled" -> "true"))
    assert(config.splunkDisabled)

    StreamingFanOut.processBatch(batch, esDir, splunkDir, config, metrics)
    assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    assert(Files.list(Paths.get(splunkDir)).iterator().asScala.isEmpty,
      "no Splunk posts when disabled")
    assert(metrics.splunkTotal.value == 0)
  }

  test("ES redelivery is idempotent via _id (lambda_function.py:81)") {
    import spark.implicits._
    val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1)), b64(recJson(2))).toDF("data"), "data")
    // same batch delivered twice (at-least-once upstream)
    StreamingFanOut.processBatch(batch, esDir, splunkDir, PipelineConfig(), metrics)
    StreamingFanOut.processBatch(batch, esDir, splunkDir, PipelineConfig(), metrics)
    assert(Sinks.readEsIndex(spark, esDir).count() == 2,
      "reader observes one doc per _id after redelivery")
  }

  test("ES partial bulk failure: flaky docs recover via retry, residuals logged not raised (lambda_function.py:84-86)") {
    import spark.implicits._
    val esDir = tmp("es_retry")
    val metrics = SinkMetrics(spark)
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      (1 to 10).map(i => b64(recJson(i))).toDF("data"), "data")
    val enriched = graft.pipeline.AuditPipeline.filterForEs(
      graft.pipeline.AuditPipeline.enrich(batch))

    // transport: id-3 / id-6 are rejected on their first two attempts
    // (recover on the in-retry third); id-9 always fails (residual).
    StreamingFanOutSpec.attempts.clear()
    val transport: Sinks.BulkTransport = ids => ids.filter { id =>
      val n: Int = StreamingFanOutSpec.attempts.merge(id, 1,
        (a: Integer, b: Integer) => Integer.valueOf(a + b))
      id == "id-9" || ((id == "id-3" || id == "id-6") && n <= 2)
    }

    val delivered = Sinks.writeEsBulk(enriched, esDir, "audit-", metrics,
      transport, maxRetries = 3)

    assert(delivered == 9, "id-9 dropped after exhausting retries")
    assert(metrics.esTotal.value == 10 && metrics.esSuccess.value == 9,
      s"reference-style success/total counters: ${metrics.summary}")
    val idx = Sinks.readEsIndex(spark, esDir)
    assert(idx.count() == 9)
    assert(idx.filter(col("_id") === "id-9").isEmpty, "failed doc must not be indexed")
    assert(idx.filter(col("_id").isin("id-3", "id-6")).count() == 2,
      "flaky docs delivered by the retry loop")
    // only the FAILED docs were re-sent, not the whole chunk
    assert(StreamingFanOutSpec.attempts.get("id-1") == 1)
    assert(StreamingFanOutSpec.attempts.get("id-3") == 3)
    assert(StreamingFanOutSpec.attempts.get("id-9") == 4, "initial + 3 retries")
  }

  test("dead-letter path: malformed payloads quarantined with raw payload, valid rows flow on (SURVEY §2a error semantics)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (esDir, splunkDir, dlqDir, ckpt) = (tmp("es"), tmp("splunk"), tmp("dlq"), tmp("ckpt"))
    val metrics = SinkMetrics(spark)
    val stream = MemoryStream[String]
    val q = StreamingFanOut.startRaw(
      stream.toDF().withColumnRenamed("value", "data"), "data",
      esDir, splunkDir, dlqDir, ckpt, PipelineConfig(), metrics)

    // 2 valid records + a non-JSON payload + a JSON record missing the
    // fields the reference reads unconditionally (datetime/random_id)
    val poison1 = b64("this is not json at all")
    val poison2 = b64("""{"kind_id": 42, "ip": "9.9.9.9"}""")
    val valid = Seq(b64(fullRecJson(1)), b64(fullRecJson(2)))
    stream.addData(valid(0), poison1, valid(1), poison2)
    q.processAllAvailable()
    q.stop()

    // valid rows reached both sinks
    assert(Sinks.readEsIndex(spark, esDir).count() == 2)
    val splunk = spark.read.json(s"$splunkDir/*.jsonl")
    assert(splunk.count() == 2)
    // the Splunk event is the decoded record plus @timestamp: the raw
    // payload column the quarantine needs never leaves the fan-out
    val eventCols = splunk.select("event.*").columns.toSet
    assert(!eventCols.contains("_raw"))
    assert(eventCols ==
      (graft.pipeline.AuditPipeline.auditSchema.fieldNames :+ "@timestamp").toSet)

    // the valid rows land exactly as the already-decoded path writes them
    val (esRef, splunkRef) = (tmp("es_ref"), tmp("splunk_ref"))
    StreamingFanOut.processBatch(
      graft.pipeline.AuditPipeline.decodeKinesis(valid.toDF("data"), "data"),
      esRef, splunkRef, PipelineConfig(), SinkMetrics(spark))
    def esRows(dir: String): Seq[String] =
      Sinks.readEsIndex(spark, dir).collect().map(_.toString).toSeq.sorted
    assert(esRows(esDir) == esRows(esRef))
    assert(Sinks.readEsIndex(spark, esDir).select("_id").collect().map(_.getString(0)).toSet ==
      Set("id-1", "id-2"))
    assert(lines(splunkDir) == lines(splunkRef))
    // poison pills are parked with their RAW payload, replayable
    val dead = spark.read.parquet(dlqDir)
    assert(dead.count() == 2)
    val raws = dead.select("raw_payload").collect().map(_.getString(0)).toSet
    assert(raws == Set(poison1, poison2),
      "dead letters must carry the original payload for replay")
    assert(dead.columns.contains("dl_batch"))
  }

  test("dead-letter write is idempotent per batch tag (foreachBatch retry semantics)") {
    import spark.implicits._
    // foreachBatch re-runs a whole epoch after a downstream sink failure;
    // the DLQ write for that epoch must replace its own partition, not
    // append the same quarantined payloads a second time.
    val dlq = tmp("dlq_idem")
    val dead = Seq("p1", "p2").toDF("_raw")
    assert(Sinks.writeDeadLetter(dead, dlq, "b000001") == 2)
    assert(Sinks.writeDeadLetter(dead, dlq, "b000001") == 2) // epoch retry
    assert(spark.read.parquet(dlq).count() == 2, "retry must not duplicate")
    // a different epoch lands alongside, untouched by later overwrites
    assert(Sinks.writeDeadLetter(Seq("p3").toDF("_raw"), dlq, "b000002") == 1)
    assert(spark.read.parquet(dlq).count() == 3)
    // a clean epoch never touches the directory — in particular it must
    // not overwrite an existing partition if its tag collides (b000001
    // here), because the DLQ retains payloads until replay
    assert(Sinks.writeDeadLetter(Seq.empty[String].toDF("_raw"), dlq, "b000001") == 0)
    assert(spark.read.parquet(dlq).count() == 3, "empty epoch must not destroy retained rows")
  }

  test("auth mode: secret with credentials selects basic, otherwise sigv4, recorded in sink transport metadata (lambda_function.py:61-74)") {
    import spark.implicits._
    val basic = PipelineConfig.fromSecrets(
      Map("master_user_name" -> "admin", "master_user_password" -> "s3cret"))
    assert(basic.esAuthMode == graft.streaming.AuthMode.Basic)
    val iam = PipelineConfig.fromSecrets(Map("es_index_prefix" -> "audit-"))
    assert(iam.esAuthMode == graft.streaming.AuthMode.SigV4)
    // one credential alone is not a basic-auth pair
    assert(PipelineConfig.fromSecrets(Map("master_user_name" -> "admin"))
      .esAuthMode == graft.streaming.AuthMode.SigV4)
    // Splunk chunk size: a positive integer is taken as given; anything
    // that cannot size a chunk (unparsable, zero, negative) keeps 500
    for ((raw, want) <- Seq("250" -> 250, "abc" -> 500, "0" -> 500, "-5" -> 500))
      assert(PipelineConfig.fromSecrets(Map("max_batch_size" -> raw)).maxBatchSize == want,
        s"max_batch_size $raw")

    // the sink simulator records the transport it would build the client with
    val batch = graft.pipeline.AuditPipeline.decodeKinesis(
      Seq(b64(recJson(1))).toDF("data"), "data")
    for ((config, expect) <- Seq((basic, "\"auth_mode\":\"basic\""),
        (iam, "\"auth_mode\":\"sigv4\""))) {
      val (esDir, splunkDir) = (tmp("es"), tmp("splunk"))
      StreamingFanOut.processBatch(batch, esDir, splunkDir, config, SinkMetrics(spark))
      val meta = Sinks.readTransportMeta(esDir)
      assert(meta.contains(expect), s"transport meta: $meta")
      assert(meta.contains("\"use_ssl\":true") && meta.contains("\"http_compress\":true"))
      // the marker must not leak into the index read (Hadoop `_` convention)
      assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    }
  }

  test("splunk chunks are <= maxBatchSize and preserve all events (lambda_function.py:115,128-134)") {
    import spark.implicits._
    val splunkDir = tmp("splunk")
    val metrics = SinkMetrics(spark)
    val n = 23
    val df = Seq.tabulate(n)(i => (s"id-$i", i)).toDF("random_id", "kind_id")
    Sinks.writeSplunk(df, splunkDir, "audit-splunk", metrics, maxBatchSize = 5)

    val files = Files.list(Paths.get(splunkDir)).iterator().asScala.toSeq
    val sizes = files.map(f => Files.readAllLines(f).size())
    assert(sizes.forall(_ <= 5), s"chunk over limit: $sizes")
    assert(sizes.sum == n)
    assert(metrics.splunkSuccess.value == n && metrics.splunkTotal.value == n)
    // envelope shape of the first line
    val first = spark.read.json(s"$splunkDir/*.jsonl")
    assert(first.columns.sorted.toSeq == Seq("event", "index", "sourcetype"))
  }
}

object StreamingFanOutSpec {
  /** Per-doc attempt counter for the fault-injecting transport: a JVM-wide
    * map because the transport closure runs in executor tasks (same JVM
    * under local[*]). */
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
