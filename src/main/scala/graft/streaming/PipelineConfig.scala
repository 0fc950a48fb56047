package graft.streaming

/** ES transport authentication mode (lambda_function.py:61-66): the
  * reference uses HTTP basic auth when its secret carries master-user
  * credentials, and falls back to an AWS SigV4 request signer otherwise.
  * No network exists in this harness, so the mode is carried as sink
  * metadata (see [[Sinks.writeEs]]) rather than a live client. */
sealed trait AuthMode { def name: String }
object AuthMode {
  /** `(master_user_name, master_user_password)` basic-auth tuple. */
  case object Basic extends AuthMode { val name = "basic" }
  /** `AWSV4SignerAuth(credentials, region)` IAM request signing. */
  case object SigV4 extends AuthMode { val name = "sigv4" }
}

/** Driver-side configuration for the fan-out pipeline.
  *
  * Mirrors the reference's env + Secrets Manager lookup
  * (lambda_function.py:25-41,57-59,105-108): config is resolved once on the
  * driver before the query starts and closed over by the foreachBatch
  * function (tiny, so no broadcast needed). `splunkDisabled` is the
  * reference's feature toggle — its secret stores the string "true"/"false",
  * so the parse accepts the same shape.
  */
final case class PipelineConfig(
    esIndexPrefix: String = "audit-",
    splunkIndex: String = "audit-splunk",
    splunkDisabled: Boolean = false,
    maxBatchSize: Int = 500,
    esAuthMode: AuthMode = AuthMode.SigV4)

object PipelineConfig {

  /** Resolve config from a secrets map (the stand-in for Secrets Manager —
    * lambda_function.py:25-41; no network in this harness). Unknown keys are
    * ignored, missing keys keep defaults, like the reference's `.get(...)`. */
  def fromSecrets(secrets: Map[String, String]): PipelineConfig =
    PipelineConfig(
      esIndexPrefix = secrets.getOrElse("es_index_prefix", "audit-"),
      splunkIndex = secrets.getOrElse("splunk_index", "audit-splunk"),
      // reference: truthiness of the string "true" (lambda_function.py:106-108)
      splunkDisabled = secrets.get("splunk_disabled").exists(_.equalsIgnoreCase("true")),
      // a non-positive chunk size cannot chunk anything (`grouped(0)` would
      // throw in every Splunk task): treat it like an unparsable value
      maxBatchSize = secrets.get("max_batch_size").flatMap(_.toIntOption)
        .filter(_ > 0).getOrElse(500),
      // reference branch (lambda_function.py:61-66): a secret carrying the
      // master-user credential pair selects basic auth; otherwise the client
      // signs requests with ambient IAM credentials (SigV4).
      esAuthMode =
        if (secrets.contains("master_user_name") && secrets.contains("master_user_password"))
          AuthMode.Basic
        else AuthMode.SigV4)
}
