package graft

import java.util.Base64

import graft.pipeline.AuditPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift fidelity (Spark 4 VariantType path): the reference forwards
  * the FULL decoded record to Splunk, including keys no schema knows about
  * (lambda_function.py:147-148). The fixed-schema decode drops such keys;
  * decodeKinesisVariant must preserve them end-to-end while the ES
  * allowlist path still prunes to the 9 known fields. */
class VariantSchemaDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def b64(json: String): String =
    Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))

  test("unknown payload keys survive the variant path into the full-record JSON") {
    import spark.implicits._
    val payload =
      """{"datetime":"2026-02-18T10:30:00","random_id":"r-1","ip":"1.2.3.4",
        |"brand_new_field":"surprise","nested_extra":{"k":7}}""".stripMargin.replace("\n", "")
    val df = Seq(b64(payload)).toDF("data")
    val decoded = AuditPipeline.decodeKinesisVariant(df, "data")

    // known fields extracted for pipeline logic
    val row = decoded.select("datetime", "random_id", "ip").collect()(0)
    assert((row.getString(0), row.getString(1), row.getString(2)) ==
      ("2026-02-18T10:30:00", "r-1", "1.2.3.4"))

    // full-record JSON: extras intact + @timestamp merged at top level
    val full = decoded.select(AuditPipeline.fullRecordJson.as("j")).collect()(0).getString(0)
    val parsed = spark.read.json(Seq(full).toDS())
    val cols = parsed.columns.toSet
    assert(cols.contains("brand_new_field") && cols.contains("nested_extra"))
    val r = parsed.select("@timestamp", "brand_new_field", "nested_extra.k").collect()(0)
    assert(r.getString(0) == "2026-02-18T10:30:00")
    assert(r.getString(1) == "surprise")
    assert(r.getLong(2) == 7L)
  }

  test("full-fidelity fan-out: extras reach Splunk, never ES") {
    import spark.implicits._
    import graft.streaming.{PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
    val esDir = java.nio.file.Files.createTempDirectory("es_v").toString
    val splunkDir = java.nio.file.Files.createTempDirectory("splunk_v").toString
    val metrics = SinkMetrics(spark)
    val payloads = Seq(
      """{"datetime":"2026-02-18T10:30:00","random_id":"v-1","kind_id":5,"mystery":"m1"}""",
      """{"datetime":"2026-02-18T10:30:01","random_id":"v-2","kind_id":6,"mystery":"m2"}""")
    val raw = payloads.map(b64).toDF("data")

    StreamingFanOut.processBatchVariant(raw, "data", esDir, splunkDir,
      PipelineConfig(), metrics)

    val es = Sinks.readEsIndex(spark, esDir)
    assert(es.count() == 2)
    assert(!es.columns.contains("mystery"), "ES must stay allowlisted")
    assert(es.columns.contains("kind_id"))

    val splunk = spark.read.json(s"$splunkDir/*.jsonl")
    assert(splunk.count() == 2)
    val ev = splunk.select("event.mystery", "event.@timestamp", "event.kind_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(ev == Set(("m1", "2026-02-18T10:30:00", 5L), ("m2", "2026-02-18T10:30:01", 6L)))
    assert(metrics.esSuccess.value == 2 && metrics.splunkSuccess.value == 2)
  }

  test("variant fan-out escapes the Splunk index into valid HEC JSON") {
    import spark.implicits._
    import graft.streaming.{PipelineConfig, SinkMetrics, StreamingFanOut}
    // splunk_index comes from the secret; a quote or backslash in it must
    // be escaped in the envelope, as the fixed-schema path's to_json does
    val index = "a\"b\\c"
    val esDir = java.nio.file.Files.createTempDirectory("es_vidx").toString
    val splunkDir = java.nio.file.Files.createTempDirectory("splunk_vidx").toString
    val raw = Seq(b64("""{"datetime":"2026-02-18T10:30:00","random_id":"x-1"}""")).toDF("data")
    StreamingFanOut.processBatchVariant(raw, "data", esDir, splunkDir,
      PipelineConfig(splunkIndex = index), SinkMetrics(spark))
    val splunk = spark.read.json(s"$splunkDir/*.jsonl")
    assert(!splunk.columns.contains("_corrupt_record"), "invalid HEC JSON")
    assert(splunk.select("index", "event.random_id").collect().map(r =>
      (r.getString(0), r.getString(1))).toSeq == Seq((index, "x-1")))
  }

  test("strict Python-falsy ip drop on the variant path (lambda_function.py:48-49)") {
    import spark.implicits._
    // (payload-ip, expected extracted ip): JSON 0/false/""/null/0.0 all drop
    // like Python's `if not message["ip"]`; strings "0"/"false" are truthy.
    val cases = Seq(
      """"ip":0"""         -> null,
      """"ip":false"""     -> null,
      """"ip":"""""        -> null,
      """"ip":null"""      -> null,
      """"ip":0.0"""       -> null,
      """"ip":"0""""       -> "0",
      """"ip":"false""""   -> "false",
      """"ip":"1.2.3.4"""" -> "1.2.3.4")
    val df = cases.zipWithIndex.map { case ((ipJson, _), i) =>
      b64(s"""{"datetime":"2026-02-18T10:30:00","random_id":"f-$i",$ipJson}""")
    }.toDF("data")
    val got = AuditPipeline.decodeKinesisVariant(df, "data")
      .select("random_id", "ip").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((ipJson, want), i) =>
      assert(got(s"f-$i") == want, s"payload $ipJson")
    }
    // absent key: stays NULL (reference leaves the message untouched;
    // Spark's fixed-width schema models absent as NULL)
    val absent = AuditPipeline.decodeKinesisVariant(
      Seq(b64("""{"datetime":"2026-02-18T10:30:00","random_id":"f-a"}""")).toDF("data"), "data")
    assert(absent.select("ip").collect()(0).isNullAt(0))
  }

  test("fullRecordJson: escaping, @timestamp overwrite, minimal record") {
    import spark.implicits._
    // a pre-existing @timestamp must be OVERWRITTEN by the derived value
    // (the reference's dict assignment, lambda_function.py:46-47), and
    // special characters in values must serialize as valid JSON
    val payload =
      """{"datetime":"2026-02-18T10:30:00","random_id":"e-1",""" +
        """"@timestamp":"stale","note":"quote\" and back\\slash"}"""
    val decoded = AuditPipeline.decodeKinesisVariant(Seq(b64(payload)).toDF("data"), "data")
    val full = decoded.select(AuditPipeline.fullRecordJson.as("j")).collect()(0).getString(0)
    val parsed = spark.read.json(Seq(full).toDS())
    assert(parsed.schema.fieldNames.count(_ == "@timestamp") == 1)
    val r = parsed.select("@timestamp", "note").collect()(0)
    assert(r.getString(0) == "2026-02-18T10:30:00", "derived @timestamp must win")
    assert(r.getString(1) == "quote\" and back\\slash")

    // minimal record (only the required fields): still valid JSON, no
    // trailing-comma surgery artifacts
    val min = AuditPipeline.decodeKinesisVariant(
      Seq(b64("""{"datetime":"2026-02-18T10:30:01","random_id":"e-2"}""")).toDF("data"), "data")
    val minJson = min.select(AuditPipeline.fullRecordJson.as("j")).collect()(0).getString(0)
    val minParsed = spark.read.json(Seq(minJson).toDS())
    assert(!minParsed.columns.contains("_corrupt_record"), s"invalid JSON: $minJson")
    assert(minParsed.select("@timestamp").collect()(0).getString(0) == "2026-02-18T10:30:01")
  }

  test("the ES allowlist path still prunes unknown fields") {
    import spark.implicits._
    val payload = """{"datetime":"2026-02-18T10:30:00","random_id":"r-2","rogue":"x"}"""
    val df = Seq(b64(payload)).toDF("data")
    // fixed-schema decode: rogue key gone; allowlist keeps only known fields
    val pruned = AuditPipeline.filterForEs(
      AuditPipeline.enrich(AuditPipeline.decodeKinesis(df, "data")))
    assert(pruned.columns.toSet.subsetOf(AuditPipeline.EsAllowedFields.toSet))
    assert(!pruned.columns.contains("rogue"))
  }

  test("variant fan-out quarantines non-JSON payloads instead of failing the batch") {
    import spark.implicits._
    import graft.streaming.{PipelineConfig, SinkMetrics, Sinks, StreamingFanOut}
    // Strict parse_json would abort the whole micro-batch on the poison
    // payload BEFORE the dead-letter split could run — at-least-once
    // redelivery then re-poisons every retry. try_parse_json + the
    // validity split must park it and let the valid row flow on.
    val esDir = java.nio.file.Files.createTempDirectory("es_vdlq").toString
    val splunkDir = java.nio.file.Files.createTempDirectory("splunk_vdlq").toString
    val dlq = java.nio.file.Files.createTempDirectory("dlq_v").toString
    val metrics = SinkMetrics(spark)
    val poison = b64("definitely not json")
    val raw = Seq(
      b64("""{"datetime":"2026-02-18T10:30:00","random_id":"ok-1","kind_id":1}"""),
      poison).toDF("data")
    StreamingFanOut.processBatchVariant(raw, "data", esDir, splunkDir,
      PipelineConfig(), metrics, deadLetterDir = Some(dlq))
    assert(Sinks.readEsIndex(spark, esDir).count() == 1)
    val dead = spark.read.parquet(dlq)
    assert(dead.count() == 1)
    assert(dead.select("raw_payload").collect()(0).getString(0) == poison,
      "dead letter must carry the original payload for replay")
  }

  test("without a DLQ the variant path fails loudly on poison, never silently drops") {
    import spark.implicits._
    import graft.streaming.{PipelineConfig, SinkMetrics, StreamingFanOut}
    // The reference's posture (lambda_function.py:45,141): a malformed
    // record fails the batch. With no dead-letter sink configured, a
    // lenient parse would silently vanish the record through the
    // downstream null filters — undetected loss. Strict is the default.
    val esDir = java.nio.file.Files.createTempDirectory("es_strict").toString
    val splunkDir = java.nio.file.Files.createTempDirectory("splunk_strict").toString
    val raw = Seq(b64("definitely not json")).toDF("data")
    intercept[Exception] {
      StreamingFanOut.processBatchVariant(raw, "data", esDir, splunkDir,
        PipelineConfig(), SinkMetrics(spark))
    }
  }
}
