package graft.config

import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml => SnakeYaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.nodes.Tag
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver
import scala.jdk.CollectionConverters._

/**
 * Config YAML through the SnakeYAML that ships in Spark's jars (the reference
 * reads the same files with Jackson's YAML support — config/Config.java:15-19).
 * Every plain scalar stays its source string (`k: 1` is "1", `empty:` is "",
 * `yes` and `~` are unchanged); [[ConfigCodec]] does the typing.
 * `SafeConstructor` builds no classes, and the default `LoaderOptions` cap
 * aliases to collections (50), nesting depth (50) and document size (3 MB).
 * Result tree: `Map[String, Any]` | `List[Any]` | `String`.
 */
object Yaml {

  final case class YamlError(msg: String) extends RuntimeException(msg)

  def parse(yaml: String): Any = {
    val (opts, dump) = (new LoaderOptions, new DumperOptions)
    val loader = new SnakeYaml(new SafeConstructor(opts), new Representer(dump), dump, opts,
      new Resolver { // `<<` is the only implicitly resolved tag
        override protected def addImplicitResolvers(): Unit =
          addImplicitResolver(Tag.MERGE, Resolver.MERGE, "<")
      })
    try tree(loader.load[AnyRef](yaml), Nil)
    catch { case e: YAMLException => throw YamlError(e.getMessage) }
  }

  /** `open` holds the enclosing collections: an alias to one is a cycle. */
  private def tree(v: Any, open: List[AnyRef]): Any = v match {
    case null => ""
    case c: AnyRef if open.exists(_ eq c) => throw YamlError("recursive alias")
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => tree(k, open).toString -> tree(x, m :: open) }.toMap
    case l: java.util.List[_] => l.asScala.map(tree(_, l :: open)).toList
    case s => s.toString
  }
}
