package graft.model

import java.{util => ju}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Pipeline configuration — the YAML surface of the reference engine.
  *
  * Key set mirrors /root/reference/filefilter.py:283-312 (top-level
  * `inDelimiter, outDelimiter, sampleLines, reloadConfigEverySeconds,
  * filters[]`) and per-filter keys at filefilter.py:306-363 (`name,
  * actionType, disabled, filterThreads, chunkSize, code, actionConfig,
  * showSampleOnFinish`). `code` is accepted both top-level and nested
  * under `actionConfig` (the reference only reads the former,
  * filefilter.py:56, which makes examples/countries/countries.yml:20 a
  * silent no-op — we heal it).
  *
  * Divergences (SURVEY.md §7): `chunkSize` is parsed but ignored (Spark
  * partitions are the chunks). `reloadConfigEverySeconds` IS honored for
  * the one thing the reference actually reloads — per-filter
  * `filterThreads` (filefilter.py:144-171 setNewThreads): rest-stage
  * worker pools re-read the config between waves and resize (see
  * [[graft.operators.RestStage]]); `reloadConfigEvery` (the key the
  * reference's own fullExample.yml uses) is accepted as an alias.
  */
final case class StageConfig(
    name: String,
    actionType: String,
    disabled: Boolean,
    filterThreads: Int,
    chunkSize: Int,
    code: Option[String],
    actionConfig: Map[String, Any],
    showSampleOnFinish: Boolean)

final case class PipelineConfig(
    inDelimiter: String,
    outDelimiter: String,
    sampleLines: Long,
    reloadConfigEverySeconds: Int,
    filters: List[StageConfig])

object ConfigLoader {
  private val KnownActionTypes =
    Set("sql", "python", "rest", "pandas", "udf", "derive", "transform",
      "dedup", "decontaminate", "split", "mix", "score", "clean")

  def fromYaml(yaml: String): PipelineConfig = {
    val root = Option(new Yaml().load[ju.Map[String, Any]](yaml))
      .getOrElse(new ju.HashMap[String, Any]())
      .asScala
    val filters = root.get("filters") match {
      case Some(l: ju.List[_]) =>
        l.asScala.toList.zipWithIndex.map {
          case (m: ju.Map[_, _], i) => stage(m.asInstanceOf[ju.Map[String, Any]].asScala.toMap, i)
          case (other, i) => throw new IllegalArgumentException(s"filters[$i] is not a map: $other")
        }
      case _ => Nil
    }
    // Sources.load applies it as a Spark LIMIT, which takes an Int
    val sampleLines = num(root.toMap, "sampleLines", 0L)
    if (sampleLines > Int.MaxValue)
      throw new IllegalArgumentException(
        s"sampleLines: $sampleLines exceeds the maximum row limit ${Int.MaxValue}")
    PipelineConfig(
      // "" = not declared → Sources.load sniffs the delimiter, matching
      // the reference's read_csv_auto path (countries.yml declares none
      // but ships a ';' CSV)
      inDelimiter = str(root.toMap, "inDelimiter", ""),
      outDelimiter = str(root.toMap, "outDelimiter", ","),
      sampleLines = sampleLines,
      reloadConfigEverySeconds = num(root.toMap, "reloadConfigEverySeconds",
        num(root.toMap, "reloadConfigEvery", 0L)).toInt,
      filters = filters)
  }

  private def stage(m: Map[String, Any], i: Int): StageConfig = {
    val action = Option(m.getOrElse("actionType", null)).map(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"filters[$i]: missing actionType"))
    // Fail fast on unknown formats/actions — reference O4 semantics.
    if (!KnownActionTypes.contains(action))
      throw new IllegalArgumentException(
        s"filters[$i]: unsupported actionType '$action' (known: ${KnownActionTypes.toSeq.sorted.mkString(", ")})")
    val ac: Map[String, Any] = m.get("actionConfig") match {
      case Some(a: ju.Map[_, _]) => a.asInstanceOf[ju.Map[String, Any]].asScala.toMap
      case _ => Map.empty
    }
    // code may live top-level (reference behavior) or under actionConfig.
    val code = m.get("code").flatMap(Option(_))
      .orElse(ac.get("code").flatMap(Option(_))).map(_.toString)
    StageConfig(
      name = str(m, "name", s"filter$i"),
      actionType = action,
      disabled = bool(m, "disabled"),
      filterThreads = num(m, "filterThreads", 1L).toInt,
      chunkSize = num(m, "chunkSize", 10000L).toInt,
      code = code,
      actionConfig = ac,
      showSampleOnFinish = bool(m, "showSampleOnFinish"))
  }

  // snakeyaml yields Some(null) for "key:" with a blank value — every
  // accessor must treat that as absent, not NPE
  private def str(m: Map[String, Any], k: String, dflt: String): String =
    m.get(k).flatMap(Option(_)).map(_.toString).getOrElse(dflt)
  private def num(m: Map[String, Any], k: String, dflt: Long): Long =
    m.get(k).flatMap(Option(_)) match {
      case Some(n: Number) => n.longValue()
      case Some(s: String) if s.nonEmpty && s.forall(_.isDigit) => s.toLong
      case _ => dflt
    }
  private def bool(m: Map[String, Any], k: String): Boolean =
    m.get(k).flatMap(Option(_)) match {
      case Some(b: java.lang.Boolean) => b
      case Some(s: String) => s.equalsIgnoreCase("true")
      case _ => false
    }
}
