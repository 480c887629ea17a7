package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.SparkSession

/**
 * Layered engine configuration (reference: config.py:28-61 pydantic
 * ServerConfig with env > explicit > YAML > defaults, config.py:1-12).
 * The Spark-native layering mirrors that order exactly:
 * `spark.graft.*` session conf (the spark-submit --conf channel,
 * standing in for env vars) > an explicit config object > a YAML file
 * (`fromYaml`) > code defaults. Defaults mirror the reference's
 * documented values.
 */
final case class EngineConfig(
    /** reference security.max_file_size_mb = 5 (config.py:39) */
    maxFileSizeBytes: Long = 5L * 1024 * 1024,
    /** reference security.excluded_dirs analogue: url prefixes allowed in
     * (empty = everything) */
    allowedPrefixes: Seq[String] = Nil)

object EngineConfig {

  /** Conf-key prefix; e.g. `spark.graft.maxFileSizeBytes=1048576`. */
  val ConfPrefix = "spark.graft."

  /** Resolve the effective config: session conf overrides `explicit`
   * overrides defaults (reference precedence, config.py:1-12). */
  def resolve(spark: SparkSession, explicit: EngineConfig = EngineConfig()): EngineConfig = {
    def get(k: String): Option[String] = spark.conf.getOption(ConfPrefix + k)
    EngineConfig(
      maxFileSizeBytes = get("maxFileSizeBytes").map(_.toLong).getOrElse(explicit.maxFileSizeBytes),
      allowedPrefixes = get("allowedPrefixes")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(explicit.allowedPrefixes))
  }

  /**
   * Load the YAML layer (reference: load_config YAML files,
   * config.py:64-96 — flat `section.key: value` semantics), parsed with
   * Jackson's YAML tree reader. Unknown keys are ignored, like pydantic's
   * default.
   *
   * Recognized keys (reference names): security.max_file_size_mb,
   * security.allowed_prefixes (comma-separated).
   */
  def fromYaml(path: String, base: EngineConfig = EngineConfig()): EngineConfig = {
    val security = new ObjectMapper(new YAMLFactory()).readTree(new java.io.File(path))
      .path("security")
    def scalar(key: String): Option[String] =
      Option(security.get(key)).filterNot(_.isNull).map(_.asText)
    EngineConfig(
      // size may be fractional ("5.0", "0.5") — parse as double, then bytes
      maxFileSizeBytes = scalar("max_file_size_mb")
        .map(v => (v.toDouble * 1024 * 1024).toLong).getOrElse(base.maxFileSizeBytes),
      allowedPrefixes = scalar("allowed_prefixes")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(base.allowedPrefixes))
  }

  /** Effective-config report (reference: diagnose_config,
   * tools/registration.py:645-659): resolved values plus which layer won. */
  def describe(spark: SparkSession, explicit: EngineConfig = EngineConfig()): Map[String, (String, String)] = {
    val r = resolve(spark, explicit)
    val d = EngineConfig()
    def layer(k: String, eff: Any, exp: Any, dft: Any): (String, String) = {
      val from =
        if (spark.conf.getOption(ConfPrefix + k).isDefined) "session-conf"
        else if (exp != dft) "explicit" else "default"
      (eff.toString, from)
    }
    Map(
      "maxFileSizeBytes" -> layer("maxFileSizeBytes", r.maxFileSizeBytes, explicit.maxFileSizeBytes, d.maxFileSizeBytes),
      "allowedPrefixes" -> layer("allowedPrefixes", r.allowedPrefixes.mkString(","), explicit.allowedPrefixes, d.allowedPrefixes))
  }
}
