package graft.interop

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ingest.Writers
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.types.StructType

/** The ICEBERG VIEW SPEC (view metadata version 1), from the published
  * spec: a view is a directory holding versioned
  * `metadata/v%05d.metadata.json` files (the same commit layout as
  * [[Iceberg]] tables — atomic create-if-absent IS the commit), each
  * carrying `view-uuid`, the full `versions` list (one entry per
  * CREATE/REPLACE, never rewritten — REPLACE appends a new
  * view-version and moves `current-version-id`, so history stays
  * time-travel-stable), a `version-log`, the `schemas` list, and
  * `properties`. Each view version records its SQL `representations`
  * (dialect `spark` here), `default-catalog` and `default-namespace` —
  * what a reader needs to re-resolve the SQL's relation names exactly
  * as the definer saw them.
  *
  * A view directory is distinguished from an Iceberg TABLE directory by
  * content, not layout (`view-uuid` vs `format-version`+`schemas`) —
  * the spec's own tooling does the same, since both live as
  * `*.metadata.json` under `metadata/`.
  *
  * Everything metadata-side is O(versions) driver JSON — no data files,
  * no scan cost; at 100 TB a view costs exactly its SQL text. */
object IcebergView {

  private lazy val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  final case class ViewVersion(versionId: Int, schemaId: Int, timestampMs: Long,
      sql: String, dialect: String, defaultCatalog: Option[String],
      defaultNamespace: Seq[String], summary: Map[String, String])

  final case class ViewMeta(uuid: String, location: String, currentVersionId: Int,
      versions: Seq[ViewVersion], schemas: Map[Int, StructType],
      properties: Map[String, String]) {
    def current: ViewVersion = versions.find(_.versionId == currentVersionId)
      .getOrElse(throw new IllegalStateException(
        s"IcebergView: $location declares current-version-id $currentVersionId " +
          "but the versions list has no such entry"))
    def schema: StructType = schemas.getOrElse(current.schemaId,
      throw new IllegalStateException(
        s"IcebergView: $location version $currentVersionId references missing " +
          s"schema ${current.schemaId}"))
  }

  /** Newest metadata version on disk, or None when the directory holds
    * no view (or no) metadata. */
  private def newest(fs: FileSystem, root: HPath): Option[(Long, JsonNode)] =
    Iceberg.metaVersions(fs, root).maxOption.map { v =>
      val in = fs.open(Iceberg.metaFile(root, v))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (v, Json.readTree(text))
    }

  /** Content-based view detection: the newest metadata file declares a
    * `view-uuid` (tables declare `format-version` + `table-uuid`). */
  def isView(path: String): Boolean = {
    val (fs, root) = Writers.fsFor(path)
    try newest(fs, root).exists(_._2.hasNonNull("view-uuid"))
    catch { case _: Exception => false }
  }

  private def it(n: JsonNode): Iterator[JsonNode] =
    Option(n).map(x => scala.jdk.CollectionConverters.IteratorHasAsScala(x.elements()).asScala)
      .getOrElse(Iterator.empty)

  def load(path: String): ViewMeta = {
    val (fs, root) = Writers.fsFor(path)
    val (_, m) = newest(fs, root).getOrElse(throw new IllegalArgumentException(
      s"IcebergView: $path has no view metadata"))
    require(m.hasNonNull("view-uuid"),
      s"IcebergView: $path is not an Iceberg view (no view-uuid — a table?)")
    val schemas: Map[Int, StructType] = it(m.get("schemas")).map { sn =>
      sn.get("schema-id").asInt -> StructType(it(sn.get("fields")).map { f =>
        org.apache.spark.sql.types.StructField(f.get("name").asText,
          Iceberg.sparkType(f.get("type").asText), !f.get("required").asBoolean)
      }.toArray)
    }.toMap
    val versions = it(m.get("versions")).map { vn =>
      val reps = it(vn.get("representations")).toSeq
      val sqlRep = reps.find(r => r.get("type").asText == "sql" &&
          r.get("dialect").asText == "spark")
        .orElse(reps.find(_.get("type").asText == "sql"))
        .getOrElse(throw new IllegalArgumentException(
          s"IcebergView: $path version ${vn.get("version-id").asInt} carries no SQL representation"))
      ViewVersion(
        vn.get("version-id").asInt,
        vn.get("schema-id").asInt,
        vn.get("timestamp-ms").asLong,
        sqlRep.get("sql").asText,
        sqlRep.get("dialect").asText,
        Option(vn.get("default-catalog")).filterNot(_.isNull).map(_.asText),
        it(vn.get("default-namespace")).map(_.asText).toSeq,
        Option(vn.get("summary")).filterNot(_.isNull).map(s =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(s.properties().iterator()).asScala
            .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty))
    }.toSeq
    val props = Option(m.get("properties")).filterNot(_.isNull).map(p =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(p.properties().iterator()).asScala
        .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
    ViewMeta(m.get("view-uuid").asText, m.get("location").asText,
      m.get("current-version-id").asInt, versions, schemas, props)
  }

  private def writeSchema(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      schemaId: Int, schema: StructType): Unit = {
    val sn = arr.addObject()
    sn.put("type", "struct"); sn.put("schema-id", schemaId)
    val fields = sn.putArray("fields")
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1); fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.put("type", Iceberg.icebergType(f.dataType)): Unit
    }
  }

  private def writeVersion(arr: com.fasterxml.jackson.databind.node.ArrayNode,
      v: ViewVersion): Unit = {
    val vn = arr.addObject()
    vn.put("version-id", v.versionId)
    vn.put("schema-id", v.schemaId)
    vn.put("timestamp-ms", v.timestampMs)
    val sm = vn.putObject("summary")
    (if (v.summary.isEmpty) Map("engine-name" -> "spark") else v.summary)
      .foreach { case (k, s) => sm.put(k, s): Unit }
    val reps = vn.putArray("representations")
    val rep = reps.addObject()
    rep.put("type", "sql"); rep.put("sql", v.sql); rep.put("dialect", v.dialect)
    v.defaultCatalog.foreach(c => vn.put("default-catalog", c): Unit)
    val ns = vn.putArray("default-namespace")
    v.defaultNamespace.foreach(n => ns.add(n): Unit)
  }

  /** CREATE (replace = false) or CREATE OR REPLACE (replace = true).
    * Create refuses over an existing view; replace appends a new
    * view-version (and a new schema when it changed) under a bumped
    * `current-version-id` — prior versions and the version-log carry
    * verbatim, which is the spec's time-travel-stability contract. */
  def create(path: String, sql: String, schema: StructType,
      defaultCatalog: Option[String], defaultNamespace: Seq[String],
      properties: Map[String, String], replace: Boolean): Unit = {
    val (fs, root) = Writers.fsFor(path)
    val now = System.currentTimeMillis()
    val prior = if (isView(path)) Some(load(path)) else {
      require(Iceberg.metaVersions(fs, root).isEmpty,
        s"IcebergView: $path already holds an Iceberg TABLE")
      None
    }
    require(prior.isEmpty || replace,
      s"IcebergView: view $path already exists (use CREATE OR REPLACE)")
    val priorV = Iceberg.metaVersions(fs, root).maxOption.getOrElse(0L)
    val (uuid, versions0, schemas0, versionLog) = prior match {
      case Some(p) =>
        val (_, m) = newest(fs, root).get
        val log = it(m.get("version-log")).map(n =>
          (n.get("timestamp-ms").asLong, n.get("version-id").asInt)).toSeq
        (p.uuid, p.versions, p.schemas, log)
      case None => (java.util.UUID.randomUUID().toString,
        Seq.empty[ViewVersion], Map.empty[Int, StructType], Nil)
    }
    // schema reuse by equality, else a fresh schema-id
    val cleanedNew = StructType(schema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val schemaId = schemas0.collectFirst {
      case (id, s) if StructType(s.fields.map(f =>
        f.copy(metadata = org.apache.spark.sql.types.Metadata.empty))) == cleanedNew => id
    }.getOrElse(schemas0.keys.maxOption.map(_ + 1).getOrElse(0))
    val versionId = versions0.map(_.versionId).maxOption.map(_ + 1).getOrElse(1)
    val nv = ViewVersion(versionId, schemaId, now, sql, "spark",
      defaultCatalog, defaultNamespace,
      Map("engine-name" -> "spark", "operation" -> (if (prior.isEmpty) "create" else "replace")))
    val meta = Json.createObjectNode()
    meta.put("view-uuid", uuid)
    meta.put("format-version", 1)
    meta.put("location", root.toUri.getPath)
    meta.put("current-version-id", versionId)
    val va = meta.putArray("versions")
    (versions0 :+ nv).foreach(writeVersion(va, _))
    val la = meta.putArray("version-log")
    (versionLog :+ ((now, versionId))).foreach { case (ts, vid) =>
      val n = la.addObject(); n.put("timestamp-ms", ts); n.put("version-id", vid): Unit
    }
    val sa = meta.putArray("schemas")
    val allSchemas = if (schemas0.contains(schemaId)) schemas0
      else schemas0 + (schemaId -> cleanedNew)
    allSchemas.toSeq.sortBy(_._1).foreach { case (id, s) => writeSchema(sa, id, s) }
    val pn = meta.putObject("properties")
    properties.foreach { case (k, v2) => pn.put(k, v2): Unit }
    Iceberg.publishMetadata(fs, root, priorV + 1, meta)
  }

  /** ALTER VIEW SET/UNSET TBLPROPERTIES — a new metadata version with
    * updated properties; versions/schemas carry verbatim. */
  def setProperties(path: String, set: Map[String, String], remove: Set[String]): Unit = {
    val (fs, root) = Writers.fsFor(path)
    val (v, m) = newest(fs, root).getOrElse(throw new IllegalArgumentException(
      s"IcebergView: $path has no view metadata"))
    require(m.hasNonNull("view-uuid"), s"IcebergView: $path is not an Iceberg view")
    val nm = m.deepCopy[ObjectNode]()
    val props = Option(nm.get("properties")).filter(_.isObject)
      .map(_.asInstanceOf[ObjectNode]).getOrElse(nm.putObject("properties"))
    remove.foreach(k => props.remove(k): Unit)
    set.foreach { case (k, v2) => props.put(k, v2): Unit }
    Iceberg.publishMetadata(fs, root, v + 1, nm)
  }
}
