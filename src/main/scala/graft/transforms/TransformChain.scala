package graft.transforms

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.sources.ConsumeOpt
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** One step of a transform chain: `{uses: <name>, with: {param: value}}`.
  *
  * Mirrors the reference's TransformationConfig shape
  * (`/root/reference/src/consume.rs:726-741`; examples
  * `/root/reference/examples/short.yaml`, `examples/jolt.yaml`). In the
  * reference each step names a server-side WASM SmartModule; here each step
  * names a registered Scala `DataFrame => DataFrame` transform.
  */
final case class TransformSpec(uses: String, params: Map[String, String])

object TransformChain {
  private val json = new ObjectMapper()
  private val yaml = new ObjectMapper(new YAMLFactory())

  /** Build the ordered chain from parsed consume options: `--smartmodule`
    * (single named module with `-e` params), or `--smartmodule-path` (the
    * module file's base name resolves through the registry, mirroring the
    * reference where a path loads the same module a name would —
    * `/root/reference/src/consume.rs:649-655`), or `--transform` inline
    * JSON strings, or `--transforms-file` YAML — mutually exclusive, like
    * the reference (`/root/reference/src/consume.rs:650-669`). */
  def fromOpt(opt: ConsumeOpt): Seq[TransformSpec] =
    opt.smartmodule.orElse(opt.smartmodulePath.map(pathToName)) match {
      case Some(name) => Seq(TransformSpec(name, opt.params.toMap))
      case None =>
        if (opt.transforms.nonEmpty) opt.transforms.map(parseInlineJson)
        else
          opt.transformsFile match {
            case Some(path) => parseYamlFile(path)
            case None       => Nil
          }
    }

  /** True when no step of `chain` can drop or add records, so the chain
    * commutes with the `--rows` cap: the cap can run first, as an offset
    * range. An empty chain is map-only. */
  def mapOnly(chain: Seq[TransformSpec]): Boolean =
    chain.forall(t => TransformRegistry.preservesCardinality(t.uses))

  /** `chain` applied to `df`, step by step. */
  def run(chain: Seq[TransformSpec], df: DataFrame): DataFrame =
    chain.foldLeft(df) { (d, t) => TransformRegistry(t.uses)(d, t.params) }

  /** `--smartmodule-path /modules/graft/map-uppercase.wasm` →
    * `graft/map-uppercase`: strip any extension, then try the last one or
    * two path segments as a registry name. Unknown modules fail loudly in
    * [[TransformRegistry.apply]] ("SmartModule not found") instead of
    * silently applying no transform. */
  private[transforms] def pathToName(path: String): String = {
    val segs = path.replace('\\', '/').split('/').filter(_.nonEmpty)
    require(segs.nonEmpty, s"empty --smartmodule-path: `$path`")
    val base = {
      val f = segs.last
      val dot = f.lastIndexOf('.')
      if (dot > 0) f.substring(0, dot) else f
    }
    val qualified = if (segs.length >= 2) s"${segs(segs.length - 2)}/$base" else base
    if (TransformRegistry.isRegistered(qualified)) qualified else base
  }

  /** `--transform '{"uses":"infinyon/jolt@0.1.0","with":{"spec":"..."}}'` */
  def parseInlineJson(spec: String): TransformSpec =
    nodeToSpec(json.readTree(spec))

  /** `--transforms-file <yaml>` with top-level `transforms:` list. */
  def parseYamlFile(path: String): Seq[TransformSpec] = {
    val root = yaml.readTree(new java.io.File(path))
    parseConfigNode(root)
  }

  def parseYamlString(content: String): Seq[TransformSpec] =
    parseConfigNode(yaml.readTree(content))

  private def parseConfigNode(root: JsonNode): Seq[TransformSpec] = {
    val transforms = root.get("transforms")
    require(transforms != null && transforms.isArray,
      "transformation file must contain a top-level `transforms` list")
    transforms.elements().asScala.map(nodeToSpec).toSeq
  }

  private def nodeToSpec(node: JsonNode): TransformSpec = {
    val uses = Option(node.get("uses")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException("transform step missing `uses`"))
    val params = Option(node.get("with")) match {
      case None => Map.empty[String, String]
      case Some(w) =>
        w.properties().asScala.map { e =>
          val v = e.getValue
          // non-scalar `with` values (e.g. a structured jolt spec) are
          // re-serialized to their JSON text, matching the reference where
          // params are string-valued (/root/reference/src/consume.rs:735-739)
          e.getKey -> (if (v.isTextual) v.asText() else json.writeValueAsString(v))
        }.toMap
    }
    TransformSpec(uses, params)
  }
}
