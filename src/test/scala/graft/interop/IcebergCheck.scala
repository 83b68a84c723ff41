package graft.interop

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import scala.jdk.CollectionConverters._

/** An Iceberg table's invariants, checked from its files alone (the
  * newest `metadata/v*.metadata.json`, the manifest lists and the
  * manifests), without the reader under test. [[verify]] returns every
  * violation it finds, empty for a sound table:
  *
  *  - every manifest list, manifest and live file a snapshot the head
  *    lists references exists, with its recorded length;
  *  - each list record's added/existing/deleted file and row counts
  *    match its manifest's entries;
  *  - sequence numbers rise along each parent chain, and the newest
  *    equals `last-sequence-number`;
  *  - a snapshot's `total-*` summary, when present, matches its live
  *    data files;
  *  - on v3, every snapshot from the first with `first-row-id` on has
  *    one, and the id ranges the data manifests assign neither overlap
  *    nor pass `next-row-id`;
  *  - `last-column-id` and `last-partition-id` bound every field id. */
object IcebergCheck {
  private val Json = new ObjectMapper()

  private def local(p: String): File =
    new File(if (p.contains(":")) new java.net.URI(p).getPath else p)

  private def elems(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq

  private def long(n: JsonNode, key: String): Option[Long] =
    Option(n.get(key)).filterNot(_.isNull).map(_.asText.toLong)

  /** The newest metadata document of the table at `path`. */
  def metadata(path: String): JsonNode = {
    val dir = new File(local(path), "metadata")
    val newest = dir.listFiles().map(_.getName).filter(_.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.drop(1).takeWhile(_.isDigit).toLong)
    Json.readTree(new File(dir, newest))
  }

  private def avro(p: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](local(p), new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  private def get[T](r: GenericRecord, field: String): Option[T] =
    if (r.getSchema.getField(field) == null) None else Option(r.get(field)).map(_.asInstanceOf[T])

  /** One manifest-list record's manifest with its entries. */
  private final case class Listed(record: GenericRecord, entries: Seq[GenericRecord]) {
    def content: Int = get[Int](record, "content").getOrElse(0)
    def live: Seq[GenericRecord] = entries.filter(_.get("status").asInstanceOf[Int] != 2)
  }

  private def dataFile(e: GenericRecord) = e.get("data_file").asInstanceOf[GenericRecord]

  /** The manifests of snapshot `sn` (a node of the metadata's
    * `snapshots`), entries included. */
  private def manifests(sn: JsonNode): Seq[Listed] =
    avro(sn.get("manifest-list").asText).map(r => Listed(r, avro(r.get("manifest_path").toString)))

  /** (files, records, bytes) of the live data files of snapshot `sn`. */
  def liveData(sn: JsonNode): (Long, Long, Long) = {
    val files = manifests(sn).filter(_.content == 0).flatMap(_.live).map(dataFile)
    (files.size.toLong, files.map(_.get("record_count").asInstanceOf[Long]).sum,
      files.map(_.get("file_size_in_bytes").asInstanceOf[Long]).sum)
  }

  def currentSnapshot(meta: JsonNode): Option[JsonNode] =
    long(meta, "current-snapshot-id").flatMap(id =>
      elems(meta.get("snapshots")).find(_.get("snapshot-id").asLong == id))

  def verify(path: String): Seq[String] = {
    val meta = metadata(path)
    val bad = Vector.newBuilder[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) bad += what
    def sized(p: String, len: Long, what: String): Unit = {
      val f = local(p)
      if (!f.isFile) bad += s"$what $p is missing"
      else check(f.length == len, s"$what $p is ${f.length} bytes, recorded $len")
    }
    val fv = meta.get("format-version").asInt
    val snaps = elems(meta.get("snapshots"))
    val seqOf = snaps.map(sn => sn.get("snapshot-id").asLong -> sn.get("sequence-number").asLong).toMap
    // an upgraded table's snapshots from before its first lineage one carry none
    val lineageFrom = snaps.filter(_.hasNonNull("first-row-id"))
      .map(_.get("sequence-number").asLong).minOption.getOrElse(Long.MaxValue)
    snaps.foreach { sn =>
      val id = sn.get("snapshot-id").asLong
      long(sn, "parent-snapshot-id").flatMap(seqOf.get).foreach(ps =>
        check(seqOf(id) > ps, s"snapshot $id has sequence ${seqOf(id)}, not above its parent's $ps"))
      if (fv == 3 && seqOf(id) >= lineageFrom)
        check(sn.hasNonNull("first-row-id"), s"v3 snapshot $id has no first-row-id")
    }
    check(seqOf.values.maxOption.forall(_ == meta.get("last-sequence-number").asLong),
      s"the newest snapshot's sequence ${seqOf.values.maxOption} is not " +
        s"last-sequence-number ${meta.get("last-sequence-number")}")

    val ranges = scala.collection.mutable.Map.empty[String, (Long, Long)]
    snaps.foreach { sn =>
      val id = sn.get("snapshot-id").asLong
      val list = sn.get("manifest-list").asText
      check(local(list).isFile, s"snapshot $id's manifest list $list is missing")
      if (local(list).isFile) {
        val listed = manifests(sn)
        listed.foreach { m =>
          val mPath = m.record.get("manifest_path").toString
          sized(mPath, m.record.get("manifest_length").asInstanceOf[Long], "manifest")
          Seq(1 -> "added", 0 -> "existing", 2 -> "deleted").foreach { case (status, name) =>
            val es = m.entries.filter(_.get("status").asInstanceOf[Int] == status)
            check(get[Int](m.record, s"${name}_files_count").contains(es.size),
              s"manifest $mPath lists ${m.record.get(s"${name}_files_count")} $name files, has ${es.size}")
            val rows = es.map(e => dataFile(e).get("record_count").asInstanceOf[Long]).sum
            check(get[Long](m.record, s"${name}_rows_count").contains(rows),
              s"manifest $mPath lists ${m.record.get(s"${name}_rows_count")} $name rows, has $rows")
          }
          m.live.map(dataFile).foreach(df => sized(df.get("file_path").toString,
            df.get("file_size_in_bytes").asInstanceOf[Long], s"snapshot $id's live file"))
          get[Long](m.record, "first_row_id").foreach { first =>
            val inherited = m.live.map(dataFile).filter(get[Long](_, "first_row_id").isEmpty)
              .map(_.get("record_count").asInstanceOf[Long]).sum
            ranges(mPath) = (first, first + inherited)
          }
        }
        val summary = sn.get("summary")
        if (summary != null && summary.hasNonNull("total-files-size")) {
          val (files, records, bytes) = liveData(sn)
          Seq("total-data-files" -> files, "total-records" -> records,
              "total-files-size" -> bytes).foreach { case (k, v) =>
            check(long(summary, k).contains(v), s"snapshot $id's $k is ${summary.get(k)}, live files give $v")
          }
        }
      }
    }
    if (fv == 3) {
      val next = meta.get("next-row-id").asLong
      val sorted = ranges.toSeq.sortBy(_._2)
      sorted.foreach { case (m, (_, end)) =>
        check(end <= next, s"manifest $m assigns row ids up to $end, next-row-id is $next")
      }
      sorted.zip(sorted.drop(1)).foreach { case ((a, (_, aEnd)), (b, (bStart, _))) =>
        check(aEnd <= bStart, s"manifests $a and $b assign overlapping row ids")
      }
      snaps.foreach(sn => long(sn, "first-row-id").foreach(f =>
        check(f <= next, s"snapshot ${sn.get("snapshot-id")} first-row-id $f is above next-row-id $next")))
    }

    def fieldIds(n: JsonNode): Seq[Int] = elems(n.get("fields")).flatMap { f =>
      f.get("id").asInt +: (if (f.get("type").isObject) fieldIds(f.get("type")) else Nil)
    }
    val lastColumn = meta.get("last-column-id").asInt
    elems(meta.get("schemas")).flatMap(fieldIds).foreach(i =>
      check(i <= lastColumn, s"field id $i is above last-column-id $lastColumn"))
    val lastPartition = Option(meta.get("last-partition-id")).map(_.asInt).getOrElse(999)
    elems(meta.get("partition-specs")).flatMap(s => elems(s.get("fields")))
      .map(_.get("field-id").asInt).foreach(i =>
        check(i <= lastPartition, s"partition field id $i is above last-partition-id $lastPartition"))
    bad.result()
  }
}
