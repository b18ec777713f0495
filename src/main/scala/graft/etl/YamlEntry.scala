package graft.etl

import scala.jdk.CollectionConverters._

/** One mapping of a YAML list, whose errors name its position
  * ("job 1: missing 'url'"). */
private[etl] final class YamlEntry(label: String, m: collection.Map[String, Any]) {
  def bad(msg: String) = new IllegalArgumentException(s"$label: $msg")
  def opt(k: String): Option[String] = m.get(k).flatMap(Option(_)).map(_.toString)
  def str(k: String): String = opt(k).getOrElse(throw bad(s"missing '$k'"))
}

private[etl] object YamlEntry {
  /** The mappings listed under the document's top-level `key`, labeled
    * `noun` + index. An empty document (SnakeYAML loads it as null), a
    * missing list or a non-mapping entry throws an
    * IllegalArgumentException. */
  def list(yaml: String, key: String, noun: String): Seq[YamlEntry] = {
    val items = Option(new org.yaml.snakeyaml.Yaml().load[AnyRef](yaml)).collect {
      case root: java.util.Map[_, _] => root.get(key)
    } match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq
      case _ => throw new IllegalArgumentException(s"missing '$key' list")
    }
    items.zipWithIndex.map {
      case (m: java.util.Map[_, _], i) =>
        new YamlEntry(s"$noun $i", m.asScala.map { case (k, v) => s"$k" -> v })
      case (other, i) =>
        throw new IllegalArgumentException(s"$noun $i: not a mapping: $other")
    }
  }
}
