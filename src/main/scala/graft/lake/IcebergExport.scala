package graft.lake

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** Iceberg-protocol snapshot export (the UniForm idea, Iceberg half): write
  * the PUBLIC Apache Iceberg format-v1 metadata — `metadata/v1.metadata
  * .json`, a manifest-list avro and a manifest avro with the spec's
  * field-ids — describing the table's committed snapshot in place, so any
  * Iceberg reader (pyiceberg, DuckDB's iceberg extension, Spark+iceberg,
  * Trino) can query it zero-copy. Complements [[LakeTable.generateDeltaLog]]
  * (Delta half) and `generateManifest` (symlink half): one committed
  * snapshot, three external-protocol views.
  *
  * Everything here follows the published spec (iceberg.apache.org/spec):
  *  - table metadata v1 with `schema`/`schemas`, identity `partition-spec`/
  *    `partition-specs`, snapshot + snapshot-log, sort-orders;
  *  - manifest list records `manifest_file` (field-ids 500–514);
  *  - manifest records `manifest_entry` (0/1/2) with `data_file`
  *    (100–105, partition struct field-ids from 1000) and the avro file
  *    metadata keys (`schema`, `partition-spec`, `partition-spec-id`,
  *    `format-version`, `content`) readers require.
  *
  * Deterministic: the snapshot id derives from (path, version), timestamps
  * from the commit log, the table uuid from the path — re-exporting the
  * same snapshot rewrites identical metadata (avro sync markers aside).
  */
private[graft] object IcebergExport {

  /** Spark → Iceberg primitive type names (v1). Nested types refuse: an
    * export that silently mistyped a column would corrupt every external
    * reader, and the lake schema here is flat. */
  private def icebergType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType | ShortType | ByteType => "int"
    case StringType => "string"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case _: TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg export cannot express type ${other.simpleString}")
  }

  /** Avro schema fragment for a partition VALUE of the given source type
    * (identity transform). Only types whose hive-dir string form
    * round-trips exactly are allowed. */
  private def avroPartitionType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case StringType => "\"string\""
    case DateType => "{\"type\":\"int\",\"logicalType\":\"date\"}"
    case other => throw new IllegalArgumentException(
      s"iceberg export cannot express a partition of type ${other.simpleString}")
  }

  private def partitionValueOf(dt: DataType, raw: String): Any = dt match {
    case LongType => java.lang.Long.valueOf(raw)
    case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(raw)
    case StringType => raw
    case DateType => // days since epoch, the iceberg/avro date representation
      java.lang.Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
    case other => throw new IllegalArgumentException(s"unreachable: $other")
  }

  def write(tbl: LakeTable, hconf: Configuration): String = {
    val spec = tbl.spec
    val schema = tbl.schema
    val live = tbl.liveFiles(None)
    require(!live.exists(_.log),
      "iceberg export needs a compacted table (MoR logs) — run compact() first")
    require(live.forall(_.dv.isEmpty),
      "iceberg export cannot express deletion vectors — compact() or reorgPurge() first")
    require(spec.columnMap.isEmpty,
      "iceberg export of a column-mapped table would mismatch physical names")
    require(live.forall(_.base.isEmpty),
      "iceberg export needs self-contained files (shallow clone/convert) — compact() first")
    require(!LakeTable.mixedPartitionEras(live, spec),
      "iceberg export needs a single partition layout — compact() after partition evolution")

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fsys = new Path(tbl.path).getFileSystem(hconf)
    val metaDir = new Path(tbl.path, "metadata")
    fsys.mkdirs(metaDir)
    // sweep a previous export: readers resolve ONE version-hint
    fsys.listStatus(metaDir).foreach(s => fsys.delete(s.getPath, false))

    val version = tbl.latestVersion
    val snapshotId = math.abs(java.util.UUID
      .nameUUIDFromBytes(s"${tbl.path}@$version".getBytes("UTF-8"))
      .getMostSignificantBits)
    val nowMs = LakeTable.commitTimeMillis(
      CommitLog.read(tbl.path, version, hconf).commitTime)
    val partField: Option[StructField] =
      spec.partition.map(p => schema.fields.find(_.name.equalsIgnoreCase(p))
        .getOrElse(throw new IllegalArgumentException(s"no partition column $p")))

    // ---- iceberg schema JSON (field ids 1..n, in declared order) ----
    val schemaNode = mapper.createObjectNode()
    schemaNode.put("type", "struct").put("schema-id", 0)
    val fieldsArr = schemaNode.putArray("fields")
    val fieldId: Map[String, Int] =
      schema.fields.zipWithIndex.map { case (f, i) => f.name -> (i + 1) }.toMap
    schema.fields.foreach { f =>
      val fn = fieldsArr.addObject()
      fn.put("id", fieldId(f.name)).put("name", f.name)
        .put("required", false).put("type", icebergType(f.dataType))
    }
    val schemaJson = mapper.writeValueAsString(schemaNode)

    // ---- partition spec JSON (identity transform, field-id 1000) ----
    val specFields = mapper.createArrayNode()
    partField.foreach { f =>
      specFields.addObject().put("name", f.name).put("transform", "identity")
        .put("source-id", fieldId(f.name)).put("field-id", 1000)
    }
    val specFieldsJson = mapper.writeValueAsString(specFields)

    // ---- manifest avro: one manifest_entry per live file ----
    val partRecordFields = partField.map { f =>
      s"""{"name":"${f.name}","type":["null",${avroPartitionType(f.dataType)}],""" +
        s""""default":null,"field-id":1000}"""
    }.toSeq.mkString(",")
    val manifestSchemaJson =
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partRecordFields]}},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |{"name":"block_size_in_bytes","type":"long","field-id":105}
         |]}}]}""".stripMargin
    val manifestSchema = new AvroSchema.Parser().parse(manifestSchemaJson)
    val dataFileSchema = manifestSchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()

    // one listing per parent dir for byte sizes (paranoia fallback when a
    // commit predates byte stats)
    val statCache = scala.collection.mutable.HashMap.empty[String, Map[String, Long]]
    def sizeOf(rel: String): Long = {
      val abs = new Path(s"${tbl.dataDir}/$rel")
      statCache.getOrElseUpdate(abs.getParent.toString,
        fsys.listStatus(abs.getParent).map(s => s.getPath.getName -> s.getLen).toMap)
        .getOrElse(abs.getName, 0L)
    }

    val manifestPath = new Path(metaDir, f"m-$snapshotId%d-0.avro")
    var totalRows = 0L
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](manifestSchema))
      w.setMeta("schema", schemaJson)
      w.setMeta("partition-spec", specFieldsJson)
      w.setMeta("partition-spec-id", "0")
      w.setMeta("format-version", "1")
      w.setMeta("content", "data")
      val out = fsys.create(manifestPath, true)
      w.create(manifestSchema, out)
      live.sortBy(_.path).foreach { a =>
        val entry = new GenericData.Record(manifestSchema)
        entry.put("status", Int.box(1)) // ADDED
        entry.put("snapshot_id", Long.box(snapshotId))
        val df = new GenericData.Record(dataFileSchema)
        df.put("file_path", s"${tbl.dataDir}/${a.path}")
        df.put("file_format", "PARQUET")
        val pr = new GenericData.Record(partSchema)
        partField.foreach { f =>
          a.partitionValue match {
            case Some("__HIVE_DEFAULT_PARTITION__") | None => pr.put(f.name, null)
            case Some(v) => pr.put(f.name, partitionValueOf(f.dataType, v))
          }
        }
        df.put("partition", pr)
        df.put("record_count", Long.box(a.rows))
        totalRows += a.rows
        df.put("file_size_in_bytes",
          Long.box(if (a.bytes > 0) a.bytes else sizeOf(a.path)))
        df.put("block_size_in_bytes", Long.box(64L * 1024 * 1024))
        entry.put("data_file", df)
        w.append(entry)
      }
      w.close()
    }
    val manifestLen = fsys.getFileStatus(manifestPath).getLen

    // ---- manifest list avro ----
    val listSchemaJson =
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string","field-id":500},
        |{"name":"manifest_length","type":"long","field-id":501},
        |{"name":"partition_spec_id","type":"int","field-id":502},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
        |{"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
        |{"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
        |{"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506},
        |{"name":"added_rows_count","type":["null","long"],"default":null,"field-id":512},
        |{"name":"existing_rows_count","type":["null","long"],"default":null,"field-id":513},
        |{"name":"deleted_rows_count","type":["null","long"],"default":null,"field-id":514}
        |]}""".stripMargin
    val listSchema = new AvroSchema.Parser().parse(listSchemaJson)
    val listPath = new Path(metaDir, f"snap-$snapshotId%d-1.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      w.setMeta("format-version", "1")
      val out = fsys.create(listPath, true)
      w.create(listSchema, out)
      val mf = new GenericData.Record(listSchema)
      mf.put("manifest_path", manifestPath.toString)
      mf.put("manifest_length", Long.box(manifestLen))
      mf.put("partition_spec_id", Int.box(0))
      mf.put("added_snapshot_id", Long.box(snapshotId))
      mf.put("added_data_files_count", Int.box(live.size))
      mf.put("existing_data_files_count", Int.box(0))
      mf.put("deleted_data_files_count", Int.box(0))
      mf.put("added_rows_count", Long.box(totalRows))
      mf.put("existing_rows_count", Long.box(0L))
      mf.put("deleted_rows_count", Long.box(0L))
      w.append(mf)
      w.close()
    }

    // ---- table metadata JSON v1 ----
    val root = mapper.createObjectNode()
    root.put("format-version", 1)
    root.put("table-uuid",
      java.util.UUID.nameUUIDFromBytes(tbl.path.getBytes("UTF-8")).toString)
    root.put("location", tbl.path)
    root.put("last-updated-ms", nowMs)
    root.put("last-column-id", schema.fields.length)
    root.set[com.fasterxml.jackson.databind.JsonNode]("schema", schemaNode)
    val schemas = root.putArray("schemas")
    schemas.add(schemaNode)
    root.put("current-schema-id", 0)
    root.set[com.fasterxml.jackson.databind.JsonNode]("partition-spec", specFields)
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.set[com.fasterxml.jackson.databind.JsonNode]("fields", specFields)
    root.put("default-spec-id", 0)
    root.put("last-partition-id", if (partField.isDefined) 1000 else 999)
    root.putObject("properties")
    root.put("current-snapshot-id", snapshotId)
    val snaps = root.putArray("snapshots")
    val snap = snaps.addObject()
    snap.put("snapshot-id", snapshotId)
    snap.put("timestamp-ms", nowMs)
    val summary = snap.putObject("summary")
    summary.put("operation", "append")
    summary.put("added-data-files", live.size.toString)
    summary.put("added-records", totalRows.toString)
    snap.put("manifest-list", listPath.toString)
    snap.put("schema-id", 0)
    val slog = root.putArray("snapshot-log")
    val sl = slog.addObject()
    sl.put("timestamp-ms", nowMs).put("snapshot-id", snapshotId)
    root.putArray("metadata-log")
    val orders = root.putArray("sort-orders")
    val so = orders.addObject()
    so.put("order-id", 0)
    so.putArray("fields")
    root.put("default-sort-order-id", 0)

    val metaPath = new Path(metaDir, "v1.metadata.json")
    val out = fsys.create(metaPath, true)
    out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8"))
    out.close()
    // HadoopTables-style pointer so path-based readers resolve v1
    val hint = fsys.create(new Path(metaDir, "version-hint.text"), true)
    hint.write("1".getBytes("UTF-8"))
    hint.close()
    metaPath.toString
  }
}
