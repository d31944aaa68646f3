package graft.restructure

import java.io.StringReader
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Properties-format configuration loader mirroring the reference's config
  * surface (config/RestructureConfig.kt: source/target/format/compression/
  * worker/cleaner/topics sections, per-topic deduplication overrides).
  *
  * ```properties
  * input=s3a://bucket/in
  * output=s3a://bucket/out
  * state=s3a://bucket/state/offsets.json
  * format=csv
  * compression=gzip            # gzip | zip | none | <codec class>
  * timeBinFormat=yyyyMMdd_HH'00'
  * excludeTopics=t1,t2
  * maxFilesPerTopic=100
  * minimumFileAgeMs=60000
  * dedup.enable=true           # format-level default
  * dedup.distinctFields=key.sourceId,value.time
  * topics.my_topic.dedup.enable=false        # per-topic override
  * topics.my_topic.dedup.ignoreFields=value.timeReceived
  * ```
  */
object ConfigLoader {

  def fromString(text: String): RestructureConfig = {
    val p = new Properties()
    p.load(new StringReader(text))
    fromProperties(p)
  }

  def fromFile(path: String): RestructureConfig = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try { val p = new Properties(); p.load(in); fromProperties(p) }
    finally in.close()
  }

  def fromProperties(p: Properties): RestructureConfig = {
    def req(k: String): String =
      Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(s"missing required config key: $k"))
    def opt(k: String): Option[String] =
      Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
    def list(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    def dedupAt(prefix: String, fallback: DedupConfig): DedupConfig = DedupConfig(
      enable = opt(s"$prefix.enable").map(_.toBoolean).getOrElse(fallback.enable),
      distinctFields = opt(s"$prefix.distinctFields").map(list).getOrElse(fallback.distinctFields),
      ignoreFields = opt(s"$prefix.ignoreFields").map(list).getOrElse(fallback.ignoreFields))

    val defaultDedup = dedupAt("dedup", DedupConfig())
    val topicNames = p.stringPropertyNames().asScala
      .filter(_.startsWith("topics."))
      .map(_.stripPrefix("topics.").split("\\.")(0))
      .toSeq.distinct.sorted
    val perTopic = topicNames.map { t =>
      t -> dedupAt(s"topics.$t.dedup", defaultDedup)
    }.toMap

    val format = opt("format").getOrElse("csv")
    if (format != "csv" && format != "json" && format != "parquet")
      throw new IllegalArgumentException(s"unknown format: $format")

    RestructureConfig(
      inputDir = req("input"),
      outputDir = req("output"),
      stateFile = req("state"),
      format = format,
      compression = opt("compression").filterNot(_ == "none"),
      timeBinFormat = opt("timeBinFormat").getOrElse(graft.functions.Times.DefaultBinFormat),
      excludeTopics = opt("excludeTopics").map(list(_).toSet).getOrElse(Set.empty),
      maxFilesPerTopic = opt("maxFilesPerTopic").map(_.toInt),
      minimumFileAgeMs = opt("minimumFileAgeMs").map(_.toLong).getOrElse(60000L),
      dedup = perTopic,
      dedupDefault = defaultDedup,
      maxRecordsPerFile = opt("maxRecordsPerFile").map(_.toLong))
  }
}
