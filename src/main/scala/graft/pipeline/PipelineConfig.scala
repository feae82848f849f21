package graft.pipeline

/**
 * Typed config mirroring the reference's YAML surface
 * (src/config.rs:123-256; examples in Release/ConfigExamples/). Parsed by
 * [[Yaml]], a dependency-free subset parser (block maps, scalars,
 * comments) sufficient for every shipped example config. Defaults match
 * the reference: cacheSize 500000 (src/collector.rs:91), maxThreads 50
 * (:299,309), retries 3 (:321), hoursToCollect 24 capped at 168
 * (src/config.rs:34-56), skipKnownLogs true, duplicate 1
 * (src/config.rs:147). Unknown keys are ignored; a malformed file fails
 * fast (the reference panics on parse errors, src/config.rs:19-27).
 */
case class CollectConfig(
  contentTypes: Seq[String] = Schemas.ContentTypes,
  filter: Seq[RoutingRule] = Nil,
  cacheSize: Int = 500000,
  maxThreads: Int = 50,
  retries: Int = 3,
  skipKnownLogs: Boolean = true,
  hoursToCollect: Int = 24,
  duplicate: Int = 1,
  workingDir: String = "./")

case class FileOutputConfig(enabled: Boolean = true, path: String = "output.csv",
  separateByContentType: Boolean = false, separator: String = ",")
case class GraylogOutputConfig(enabled: Boolean = true, address: String = "", port: Int = 0)
case class FluentdOutputConfig(enabled: Boolean = true, tenantName: String = "MyTenant",
  address: String = "", port: Int = 0)
case class OmsOutputConfig(enabled: Boolean = true, workspaceId: String = "")

case class OutputConfig(
  file: Option[FileOutputConfig] = None,
  graylog: Option[GraylogOutputConfig] = None,
  fluentd: Option[FluentdOutputConfig] = None,
  azureLogAnalytics: Option[OmsOutputConfig] = None)

case class CollectorConfig(
  collect: CollectConfig = CollectConfig(),
  output: OutputConfig = OutputConfig())

object CollectorConfig {

  def fromYaml(text: String): CollectorConfig = {
    val root = Yaml.parse(text)
    val collect = root.obj("collect").map(parseCollect).getOrElse(CollectConfig())
    val output = root.obj("output").map(parseOutput).getOrElse(OutputConfig())
    CollectorConfig(collect, output)
  }

  private def parseCollect(m: Yaml.Node): CollectConfig = {
    val base = CollectConfig()
    val types = m.obj("contentTypes").map(ct =>
      ct.fields.collect { case (k, v) if v.bool.contains(true) => k })
      .getOrElse(base.contentTypes)
    val rules = m.obj("filter").toSeq.flatMap(f =>
      f.fields.flatMap { case (ctype, kv) =>
        kv.fields.map { case (k, v) => RoutingRule(ctype, k, v.str.getOrElse("")) }
      })
    CollectConfig(
      contentTypes = types,
      filter = rules,
      cacheSize = m.int("cacheSize").getOrElse(base.cacheSize),
      maxThreads = m.int("maxThreads").getOrElse(base.maxThreads),
      retries = m.int("retries").getOrElse(base.retries),
      skipKnownLogs = m.boolAt("skipKnownLogs").getOrElse(base.skipKnownLogs),
      hoursToCollect = m.int("hoursToCollect").getOrElse(base.hoursToCollect),
      duplicate = m.int("duplicate").getOrElse(base.duplicate),
      workingDir = m.strAt("workingDir").getOrElse(base.workingDir))
  }

  private def parseOutput(m: Yaml.Node): OutputConfig = {
    def enabled(n: Yaml.Node) = n.boolAt("enabled").getOrElse(true)
    OutputConfig(
      file = m.obj("file").map(n => FileOutputConfig(enabled(n),
        n.strAt("path").getOrElse("output.csv"),
        n.boolAt("separateByContentType").getOrElse(false),
        n.strAt("separator").getOrElse(","))),
      graylog = m.obj("graylog").map(n => GraylogOutputConfig(enabled(n),
        n.strAt("address").getOrElse(""), n.int("port").getOrElse(0))),
      fluentd = m.obj("fluentd").map(n => FluentdOutputConfig(enabled(n),
        n.strAt("tenantName").getOrElse("MyTenant"),
        n.strAt("address").getOrElse(""), n.int("port").getOrElse(0))),
      azureLogAnalytics = m.obj("azureLogAnalytics").map(n =>
        OmsOutputConfig(enabled(n), n.strAt("workspaceId").getOrElse(""))))
  }

  /** Bridge to the runtime pipeline config. Output enablement is honored
    * (reference: only configured interfaces receive logs). */
  def toPipelineConfig(c: CollectorConfig): Pipeline.Config =
    Pipeline.Config(
      rules = c.collect.filter,
      skipKnownLogs = c.collect.skipKnownLogs,
      enabledTypes = c.collect.contentTypes,
      duplicate = c.collect.duplicate,
      output = Some(c.output))
}

/**
 * Minimal YAML-subset parser: nested block maps by indentation, scalar
 * values (quoted/plain/bool/int), full-line and trailing comments, empty
 * values. Covers the reference's shipped configs; not a general YAML
 * implementation (no sequences, anchors, multi-line scalars).
 */
object Yaml {

  case class Node(value: Option[String], fields: Seq[(String, Node)]) {
    def obj(key: String): Option[Node] = fields.find(_._1 == key).map(_._2)
    def str: Option[String] = value
    def strAt(key: String): Option[String] = obj(key).flatMap(_.value)
    def bool: Option[Boolean] = value.map(v => v.equalsIgnoreCase("true"))
    def boolAt(key: String): Option[Boolean] =
      obj(key).flatMap(_.value).map(_.equalsIgnoreCase("true"))
    def int(key: String): Option[Int] = obj(key).flatMap(_.value).map(_.toInt)
  }

  def parse(text: String): Node = {
    val lines = text.linesIterator.toVector
      .map(stripComment)
      .zipWithIndex
      .filter { case (l, _) => l.trim.nonEmpty }
    val (node, rest) = parseBlock(lines, 0)
    require(rest.isEmpty, s"unparsed trailing content at line ${rest.headOption.map(_._2 + 1).getOrElse(0)}")
    node
  }

  private def stripComment(line: String): String = {
    // YAML comment rules, not naive char scanning: a quote OPENS a quoted
    // scalar only at a value position (line start / after whitespace, ':',
    // ',' or '['), so an apostrophe inside a plain scalar (path: don't.csv)
    // is content, not a quote toggle; '#' starts a comment only at line
    // start or after whitespace, and never inside a quoted scalar.
    var inS = false; var inD = false
    var prev = ' '
    val sb = new StringBuilder
    for (c <- line) {
      val atValueStart = prev == ' ' || prev == '\t' || prev == ':' ||
        prev == ',' || prev == '['
      if (c == '\'' && !inD && (inS || atValueStart)) inS = !inS
      else if (c == '"' && !inS && (inD || atValueStart)) inD = !inD
      if (c == '#' && !inS && !inD &&
          (sb.isEmpty || prev == ' ' || prev == '\t')) return sb.toString
      sb.append(c); prev = c
    }
    sb.toString
  }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private def parseBlock(lines: Vector[(String, Int)], indent: Int): (Node, Vector[(String, Int)]) = {
    var rest = lines
    val fields = Vector.newBuilder[(String, Node)]
    while (rest.nonEmpty && indentOf(rest.head._1) == indent) {
      val (line, ln) = rest.head
      val t = line.trim
      val ci = t.indexOf(':')
      require(ci > 0, s"expected 'key: value' at line ${ln + 1}: '$t'")
      val key = unquote(t.substring(0, ci).trim)
      val after = t.substring(ci + 1).trim
      rest = rest.tail
      if (after.nonEmpty) {
        fields += key -> Node(Some(unquote(after)), Nil)
      } else if (rest.nonEmpty && indentOf(rest.head._1) > indent) {
        val (child, r2) = parseBlock(rest, indentOf(rest.head._1))
        fields += key -> child
        rest = r2
      } else {
        fields += key -> Node(None, Nil) // empty value (e.g. empty filter)
      }
    }
    require(rest.isEmpty || indentOf(rest.head._1) < indent,
      s"bad indentation at line ${rest.headOption.map(_._2 + 1).getOrElse(0)}")
    (Node(None, fields.result()), rest)
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && ((s.head == '\'' && s.last == '\'') || (s.head == '"' && s.last == '"')))
      s.substring(1, s.length - 1)
    else s
}
