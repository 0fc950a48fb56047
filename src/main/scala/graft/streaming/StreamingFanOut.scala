package graft.streaming

import graft.pipeline.AuditPipeline
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's whole application (`handler`, lambda_function.py:140-148)
  * as one Structured Streaming pipeline:
  *
  * {{{
  * kinesis/memory/file source                      (one micro-batch = one Lambda invoke)
  *   → foreachBatch, one body (fanOut):
  *       decode base64+JSON                        (lambda_function.py:45; upstream for `start`)
  *       persist                                   (the trigger's one cache)
  *       DLQ       ← invalid split + raw payload   (raw and variant entries)
  *       enrich: @timestamp, empty-ip null-out     (lambda_function.py:46-49)
  *       ES sink   ← 9-field allowlist projection  (lambda_function.py:144-145)
  *       Splunk    ← full record, unless disabled  (lambda_function.py:147,106-108)
  *       unpersist
  * }}}
  *
  * [[processBatch]], [[processRawBatch]] and [[processBatchVariant]] differ
  * only in the decode, the dead-letter target and the Splunk event JSON.
  *
  * Delivery semantics as §2a: the checkpoint gives at-least-once redelivery
  * on restart; the ES side is idempotent via `_id`, the Splunk side is
  * at-most-once per chunk. Both sinks observe the SAME persisted batch —
  * the multi-sink fan-out the reference runs two list comprehensions for.
  */
object StreamingFanOut {

  /** One micro-batch through both sinks — also usable in pure batch mode
    * (a Lambda invocation is exactly one call of this). `batch` is already
    * decoded; nothing is quarantined. The fan-out itself is [[fanOut]]. */
  def processBatch(batch: DataFrame, esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L): Unit =
    fanOut(batch, None, Sinks.recordJson, esDir, splunkDir, config, metrics, batchId)

  /** One RAW micro-batch: decode keeping the raw payload, quarantine rows
    * whose payload did not yield the two fields the reference reads
    * unconditionally (`datetime`, `random_id`, lambda_function.py:80-81)
    * into the dead-letter sink WITH their raw payload for replay, and fan
    * the valid remainder out exactly as [[processBatch]] (see [[fanOut]]).
    *
    * This is the live wiring of [[AuditPipeline.partitionValid]]: the
    * reference lets one malformed record crash the whole Lambda invoke
    * (at-least-once redelivery re-poisons forever, lambda_function.py:45,
    * 141); here valid rows flow on and the poison pill is parked where an
    * operator can inspect and re-ingest it. */
  def processRawBatch(rawBatch: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L): Unit =
    fanOut(AuditPipeline.decodeKinesisWithRaw(rawBatch, dataCol),
      Some(DeadLetter(deadLetterDir, "_raw")), Sinks.recordJson,
      esDir, splunkDir, config, metrics, batchId)

  /** Full-fidelity micro-batch on the VariantType decode path: ES gets the
    * enriched 9-field allowlist projection exactly as [[processBatch]], but
    * Splunk gets the COMPLETE original record — unknown payload keys a
    * producer added yesterday included — with `@timestamp` merged at top
    * level. This is the reference's exact fan-out asymmetry
    * (lambda_function.py:144-148) preserved under schema drift, which the
    * fixed-schema path cannot do (it drops unknown keys at decode). With
    * `deadLetterDir` set, poison payloads are quarantined as in
    * [[processRawBatch]]. The fan-out itself is [[fanOut]].
    *
    * Deliberate divergence: the full-record JSON carries the ORIGINAL
    * payload verbatim (plus `@timestamp`) — the reference's falsy-`ip`
    * removal applies only to the extracted/ES side here, because verbatim
    * payload preservation is worth more in the archive copy than
    * reproducing a lossy in-place mutation. */
  def processBatchVariant(rawBatch: DataFrame, dataCol: String,
      esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics,
      batchId: Long = -1L, deadLetterDir: Option[String] = None): Unit =
    // Lenient decode ONLY when a DLQ consumes the invalid split; with no
    // dead-letter sink the strict default keeps the reference's loud
    // whole-batch failure instead of silently vanishing poison payloads.
    fanOut(AuditPipeline.decodeKinesisVariant(rawBatch, dataCol,
        strict = deadLetterDir.isEmpty),
      deadLetterDir.map(DeadLetter(_, dataCol)),
      // fullRecordJson needs non-null datetime (same validity pair as
      // partitionValid): a null event is skipped by the Splunk sink
      // instead of serializing as a literal "null" line in the HEC archive.
      when(col("datetime").isNotNull, AuditPipeline.fullRecordJson),
      esDir, splunkDir, config, metrics, batchId)

  /** Where a micro-batch's invalid rows go: the dead-letter directory, and
    * the column that holds each row's original payload. */
  private final case class DeadLetter(dir: String, rawCol: String)

  /** The one micro-batch fan-out every entry point runs: persist the decoded
    * batch (its only cache — every sink below reads it), quarantine the
    * invalid split when a dead-letter target is given, enrich, write the
    * ES allowlist projection, then wrap `splunkEvent` (evaluated over the
    * enriched, null-skipped rows) in the HEC envelope, and unpersist. */
  private def fanOut(decoded: DataFrame, deadLetter: Option[DeadLetter],
      splunkEvent: Column, esDir: String, splunkDir: String,
      config: PipelineConfig, metrics: SinkMetrics, batchId: Long): Unit = {
    val tag = batchTag(batchId)
    decoded.persist()
    try {
      // The dead-letter split reuses partitionValid for every decode —
      // same validity pair, same quarantine-with-raw semantics. Inside the
      // try: a DLQ write failure must still release the persisted batch.
      val valid = deadLetter match {
        case Some(DeadLetter(dir, rawCol)) =>
          val (ok, dead) = AuditPipeline.partitionValid(decoded)
          Sinks.writeDeadLetter(dead, dir, tag, rawCol)
          ok.drop(rawCol)
        case None => decoded
      }
      val enriched = AuditPipeline.enrich(valid)
      Sinks.writeEs(AuditPipeline.filterForEs(enriched), esDir,
        config.esIndexPrefix, metrics, config.esAuthMode)
      if (!config.splunkDisabled)
        Sinks.writeSplunkLines(
          AuditPipeline.skipNulls(enriched)
            .select(Sinks.hecEnvelope(splunkEvent, config.splunkIndex)),
          splunkDir, metrics, config.maxBatchSize, tag)
    } finally decoded.unpersist()
  }

  private def batchTag(batchId: Long): String =
    if (batchId >= 0) f"b$batchId%06d"
    else java.util.UUID.randomUUID().toString.take(8)

  /** Start the streaming query over an already-decoded source stream.
    * `source` must be a streaming DataFrame with the audit record shape
    * (use [[AuditPipeline.decodeKinesis]] upstream for raw base64 payloads). */
  def start(source: DataFrame, esDir: String, splunkDir: String, checkpointDir: String,
      config: PipelineConfig, metrics: SinkMetrics): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, esDir, splunkDir, config, metrics, batchId)
      }
      .start()

  /** Start the full reference pipeline over the REAL Kinesis wire
    * protocol: the [[graft.sources.KinesisMicroBatchSource]] DataSourceV2
    * stream (per-shard sequence-number offsets in the checkpoint,
    * executor-side record fetch) feeding the same dead-letter +
    * dual-sink fan-out as [[startRaw]]. This is the reference's actual
    * event-source contract (lambda_function.py:140-141: Kinesis
    * re-invokes the Lambda per poll batch, redelivering unacknowledged
    * records) carried by Spark's own checkpoint/replay machinery — the
    * third interchangeable source next to KinesisFileSource and
    * MemoryStream. */
  def startKinesis(spark: org.apache.spark.sql.SparkSession,
      endpoint: String, streamName: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig, metrics: SinkMetrics,
      limitPerPoll: Int = 500, maxPollsPerShard: Int = 100): StreamingQuery = {
    val raw = graft.sources.KinesisMicroBatchSource
      .readStream(spark, endpoint, streamName, limitPerPoll, maxPollsPerShard)
    startRaw(raw, "data", esDir, splunkDir, deadLetterDir, checkpointDir,
      config, metrics)
  }

  /** Start the streaming query over a RAW base64-payload stream, with the
    * dead-letter quarantine live: every micro-batch runs
    * [[processRawBatch]], so undecodable payloads land in `deadLetterDir`
    * (with raw payload, replayable) while valid rows reach both sinks. */
  def startRaw(rawSource: DataFrame, dataCol: String,
      esDir: String, splunkDir: String, deadLetterDir: String,
      checkpointDir: String, config: PipelineConfig,
      metrics: SinkMetrics): StreamingQuery =
    rawSource.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processRawBatch(batch, dataCol, esDir, splunkDir, deadLetterDir,
          config, metrics, batchId)
      }
      .start()
}
