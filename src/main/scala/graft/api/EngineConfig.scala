package graft.api

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
   * config.py:64-96 — flat `section.key: value` semantics). Supported
   * subset (hand-rolled; the offline sandbox has no YAML dependency,
   * and the reference's config files are exactly this shape):
   * two-level `section:` blocks with `key: value` scalars, `#` comments.
   * Unknown keys are ignored, like pydantic's default.
   *
   * Recognized keys (reference names): security.max_file_size_mb,
   * security.allowed_prefixes (comma-separated).
   */
  def fromYaml(path: String, base: EngineConfig = EngineConfig()): EngineConfig = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8").linesIterator.toSeq
    var section = ""
    val kv = scala.collection.mutable.Map[String, String]()
    // '#' starts a comment only at line start or after whitespace — a '#'
    // inside a value (e.g. a url fragment in an allowed prefix) is literal
    def stripComment(raw: String): String = {
      var i = 0
      while (i < raw.length) {
        if (raw.charAt(i) == '#' && (i == 0 || raw.charAt(i - 1).isWhitespace))
          return raw.substring(0, i)
        i += 1
      }
      raw
    }
    lines.foreach { raw =>
      val noComment = stripComment(raw)
      val indented = noComment.startsWith(" ") || noComment.startsWith("\t")
      val line = noComment.trim
      if (line.nonEmpty && line.contains(':')) {
        val (k, v0) = line.splitAt(line.indexOf(':'))
        val v = v0.drop(1).trim.stripPrefix("\"").stripSuffix("\"")
        if (v.isEmpty && !indented) section = k.trim
        else kv(((if (indented && section.nonEmpty) section + "." else "") + k.trim)) = v
      }
    }
    EngineConfig(
      // size may be fractional ("5.0", "0.5") — parse as double, then bytes
      maxFileSizeBytes = kv.get("security.max_file_size_mb")
        .map(v => (v.toDouble * 1024 * 1024).toLong).getOrElse(base.maxFileSizeBytes),
      allowedPrefixes = kv.get("security.allowed_prefixes")
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
