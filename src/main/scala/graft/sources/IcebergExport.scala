package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** EXPORT a clean [[LogTable]] snapshot as REAL Apache Iceberg v2
  * table metadata — the interop half of the reference's headline
  * promise that its log table is "queryable by any Iceberg-compatible
  * engine" (reference README.md:26-30; its Trino catalog at
  * README.md:239-253 is exactly such a second engine). graft's own
  * manifest is Iceberg-SHAPED but proprietary; this writes the real
  * thing, per the public Iceberg table spec
  * (https://iceberg.apache.org/spec/), against the EXISTING parquet
  * data files — a zero-copy metadata projection:
  *
  *   dest/metadata/v1.metadata.json       table metadata (format v2)
  *   dest/metadata/snap-<id>-<uuid>.avro  manifest list (Avro)
  *   dest/metadata/<uuid>-m0.avro         manifest file (Avro)
  *   dest/metadata/version-hint.text      HadoopTables discovery hint
  *
  * Scope — EXACT-OR-REFUSE, like every graft translation seam:
  *   - MERGE-ON-READ state exports exactly: position marks (both
  *     encodings) become one spec-sorted position-delete parquet,
  *     equality tombstones export zero-copy as content=2 entries with
  *     their sequence numbers (Iceberg's strictly-below rule is
  *     graft's own). On partitioned tables the delete manifest binds
  *     to a dedicated UNPARTITIONED spec — spec-legal, since both
  *     delete forms match exactly (path+pos / key+seq) and partition
  *     scoping is only a pruning nicety. History mode carries the
  *     debt per snapshot: each dirty snapshot's manifest list links
  *     its own delete manifest, so foreign time travel sees exactly
  *     the MoR state graft's own timeTravel sees.
  *   - `bucket` layouts refuse: graft buckets by xxhash64, Iceberg by
  *     murmur3_x86_32 — exporting the transform would make a foreign
  *     engine prune with the WRONG hash and silently drop files from
  *     point lookups. day/hour/truncate transforms export as Iceberg
  *     `truncate[width]` over the µs-epoch long source (identical
  *     floor arithmetic on the non-negative epoch domain), identity
  *     partitions as `identity`.
  *   - schema evolution exports faithfully: stable field ids ride
  *     from the graft manifest, and RENAMED columns (whose old
  *     parquet files still store old physical names, with no field
  *     ids in the footers) are covered by writing Iceberg's standard
  *     `schema.name-mapping.default` property — current + historical
  *     names per field id, exactly how Iceberg reads id-less files.
  *
  * Data file paths are recorded ABSOLUTE (Iceberg allows absolute
  * URIs), so the export references graft's files in place; identity
  * partition values ride in each manifest entry's `partition` struct
  * (graft's hive-layout files don't store the column physically —
  * the Iceberg spec's identity-transform metadata rule covers
  * exactly this).
  *
  * [[IcebergRead]] below is the proof harness: an INDEPENDENT reader
  * that consumes ONLY the exported Iceberg metadata (never graft's
  * manifest) — metadata JSON → manifest-list Avro → manifest Avro →
  * parquet + partition struct + name mapping — so the `lake_iceberg`
  * oracle checks the whole projection round-trip hash-exact. (The
  * environment's DuckDB has no iceberg extension and there is zero
  * egress to install one, so a true foreign engine can't run here;
  * the reader is written strictly from the public spec instead.)
  */
object IcebergExport {

  /** Serializes the field-id-conf set/write/restore window in
    * [[landWithFieldIds]] (the conf is session-scoped, not a writer
    * option) — concurrent exports on one session can't restore each
    * other's stale value. */
  private[sources] val fieldIdConfLock = new Object

  /** [[DirectCommitProtocol.land]] with Iceberg parquet FIELD IDS
    * stamped in the footers (column metadata key `parquet.field.id`):
    * foreign engines project delete and stats files by field id. The
    * field-id conf is session-scoped (ParquetWriteSupport reads it from
    * the session's SQLConf, not from writer options), so the
    * set/write/restore window is serialized under a JVM-wide lock: two
    * concurrent exports can never restore each other's stale value. An
    * unrelated write on the same session that races the window merely
    * sees the conf enabled, a no-op for schemas that carry no
    * `parquet.field.id` column metadata. */
  private[sources] def landWithFieldIds(df: DataFrame, dir: Path,
      prefix: String)(shape: DataFrameWriter[Row] => DataFrameWriter[Row] =
        identity): Seq[(String, Path)] = {
    val sess = df.sparkSession
    val key = "spark.sql.parquet.fieldId.write.enabled"
    fieldIdConfLock.synchronized {
      val prev = sess.conf.getOption(key)
      sess.conf.set(key, "true")
      try DirectCommitProtocol.land(df, dir, prefix)(shape)
      finally prev match {
        case Some(v) => sess.conf.set(key, v)
        case None => sess.conf.unset(key)
      }
    }
  }

  /** (min, max) of `ss` as UTF-8 byte arrays under Iceberg's UNSIGNED
    * byte order — the order foreign engines apply to manifest-list
    * string bounds. Java's String order (UTF-16 code units) diverges
    * for supplementary-plane characters (an emoji is byte-GREATER but
    * UTF-16-LESS than U+E000–U+FFFF), so bounds picked with String
    * min/max could under-cover and let a foreign reader skip a
    * matching manifest. Extracted for unit testing. */
  private[sources] def utf8MinMax(ss: Seq[String]): (Array[Byte], Array[Byte]) = {
    def byteLt(a: Array[Byte], b: Array[Byte]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    val bs = ss.map(_.getBytes(StandardCharsets.UTF_8))
    (bs.reduce((a, b) => if (byteLt(a, b)) a else b),
      bs.reduce((a, b) => if (byteLt(a, b)) b else a))
  }

  /** Row count of a parquet file from its footer — metadata only,
    * no Spark job (the manifest entry's record_count source for the
    * sharded delete-parquet writes). */
  private[sources] def parquetRowCount(p: Path): Long = {
    val reader = HadoopConf.openParquet(new org.apache.hadoop.fs.Path(p.toUri))
    try reader.getRecordCount finally reader.close()
  }

  /** Footer min/max of a top-level BINARY(UTF8) column across the
    * file's row groups (metadata only, no data I/O); None when any
    * row group lacks stats for it. */
  private[sources] def parquetStringBounds(p: Path,
      column: String): Option[(String, String)] = {
    val reader = HadoopConf.openParquet(new org.apache.hadoop.fs.Path(p.toUri))
    try {
      val per = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(s => (
            new String(s.getMinBytes, StandardCharsets.UTF_8),
            new String(s.getMaxBytes, StandardCharsets.UTF_8)))
      }
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else Some((per.flatten.map(_._1).min, per.flatten.map(_._2).max))
    } finally reader.close()
  }

  /** Write Iceberg v2 metadata for `table` under `dest` — the CURRENT
    * snapshot by default, or (with `history = true`) EVERY live
    * snapshot as its own Iceberg snapshot with a snapshot-log, so a
    * foreign engine can TIME TRAVEL the exported table exactly as
    * graft does. Returns the path of the metadata JSON written.
    *
    * History export carries merge-on-read state PER SNAPSHOT: each
    * dirty snapshot gets its own delete manifest (position marks as a
    * spec-sorted delete parquet, cached per distinct mark-set;
    * equality tombstones re-encoded once per source file with their
    * sequence numbers), so a CDC-busy lineage time-travels in a
    * foreign engine without compacting first. Still exact-or-refuse
    * on one axis: the partition spec must be constant across the
    * lineage (spec evolution means mixed layouts — export current-only
    * or compact-migrate first). Schema evolution across history
    * exports for flat AND nested schemas: top-level ids are graft's
    * stable manifest ids, and nested member ids assign by CANONICAL
    * PATH through a cross-version registry (historical names resolve
    * through the per-field rename history), so the same logical field
    * carries the same id in every exported schema version. */
  def export(table: LogTable, dest: String, history: Boolean = false,
      formatVersion: Int = 2, partitionStats: Boolean = false): Path = {
    require(formatVersion == 2 || formatVersion == 3,
      s"only Iceberg format-version 2 or 3 can be written, got $formatVersion")
    val versions =
      if (history) table.versions.sorted else Seq(table.currentVersion)
    val snaps = versions.map(v => table.snapshot(v))
    val cur = snaps.last
    require(cur.schemaJson.nonEmpty,
      "cannot export a table with no declared schema")
    // MERGE-ON-READ state exports PER SNAPSHOT, history mode included:
    // each dirty snapshot gets its own delete manifest — position
    // marks as one spec-sorted delete parquet (cached per distinct
    // mark-set: lineage-adjacent snapshots usually share it), equality
    // tombstones re-encoded once per source file with their sequence
    // numbers (Iceberg's strictly-below rule is graft's own), so a
    // CDC-busy lineage time-travels in a foreign engine without
    // compacting first.
    require(!snaps.exists(_.transforms.exists(_.kind == "bucket")),
      "cannot export an xxhash64 bucket layout (in the current spec or " +
        "anywhere in an exported lineage): Iceberg buckets by " +
        "murmur3 — a foreign engine would prune with the wrong hash. " +
        "Declare the layout with Transform.mbucket (the Iceberg-spec " +
        "murmur3 bucket, which exports exactly) or migrate " +
        "(evolveSpec + compact) first")
    // spec EVOLUTION exports natively: Iceberg's metadata model is
    // multiple `partition-specs` + a per-manifest `spec-id`, so a
    // lineage that called evolveSpec mid-history writes one data
    // manifest per layout group per snapshot (specDefs below) instead
    // of refusing mixed layouts.

    // distinct schemas in appearance order → Iceberg schema ids
    val schemaJsons: Seq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      snaps.foreach(sn => if (sn.schemaJson.nonEmpty) seen += sn.schemaJson)
      seen.toSeq
    }
    val parsed = schemaJsons.map(LogTable.parseSchema)
    // variant columns are format-version 3+ in the Iceberg spec — a
    // v2 metadata file carrying one would be spec-invalid
    require(formatVersion >= 3 || !parsed.exists(st =>
        st.fields.exists(f => containsVariant(f.dataType))),
      "this table carries a variant column — variant is an Iceberg " +
        "format-version 3 type; export(formatVersion = 3)")
    val schemaIdOf: Map[String, Int] = schemaJsons.zipWithIndex.toMap
    val schema = LogTable.parseSchema(cur.schemaJson)
    // ONE id counter across every schema version of this export:
    // top-level ids are graft's stable manifest ids, nested member ids
    // assign by canonical path through the cross-version registry —
    // the same logical field gets the SAME id in every exported
    // version (Iceberg's contract for id-projecting time travel), so
    // nested+evolving lineages export exactly
    val idCounter = new IdCounter(parsed.flatMap(_.fields)
      .flatMap(LogTable.fieldId).foldLeft(0L)(math.max).toInt + 1)
    val ids = new FieldIds(schema, idCounter)
    val nestedIds = new NestedIdRegistry(idCounter)
    val metaDir = Paths.get(dest).resolve("metadata")
    Files.createDirectories(metaDir)

    // ---- partition specs (one per distinct layout in the lineage —
    // Iceberg spec evolution: multiple `partition-specs`, manifests
    // bind to theirs by spec-id) -----------------------------------------
    case class PField(name: String, transform: String, sourceId: Int,
        fieldId: Int, resultType: DataType, graftKey: String,
        toIceberg: String => Any)
    def parseLong(s: String): Any = java.lang.Long.valueOf(s.toLong)
    var nextPid = 1000
    // partition field ids are unique ACROSS specs and REUSED for the
    // identical field (Iceberg v2's rule): allocate per definition
    val pidOf = scala.collection.mutable.LinkedHashMap[(String, String, Int), Int]()
    def allocPid(name: String, transform: String, srcId: Int): Int =
      pidOf.getOrElseUpdate((name, transform, srcId),
        { val p = nextPid; nextPid += 1; p })
    def identityFieldsOf(partCols: Seq[String]) = partCols.map { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalStateException(s"partition column '$c' not in schema"))
      val conv: String => Any = f.dataType match {
        case LongType => parseLong
        case IntegerType => s => Integer.valueOf(s.toInt)
        case StringType => identity[String]
        case other => throw new IllegalArgumentException(
          s"cannot export identity partition column '$c' of type $other " +
            "(long/int/string export exactly; refuse-not-guess otherwise)")
      }
      PField(f.name, "identity", ids.of(f.name),
        allocPid(f.name, "identity", ids.of(f.name)), f.dataType, f.name, conv)
    }
    def transformFieldsOf(transforms: Seq[Transform]) = transforms.map { t =>
      val srcId = ids.of(t.source)
      val srcIsTs = schema.fields.find(_.name.equalsIgnoreCase(t.source))
        .exists(_.dataType == TimestampType)
      val (tr, rt, conv): (String, DataType, String => Any) = t.kind match {
        // a TIMESTAMP-sourced day/hour exports as Iceberg's NATIVE
        // day/hour transform: graft's stored index IS the spec's
        // days/hours-from-epoch int ordinal (same truncating division
        // on the non-negative epoch domain), so a foreign engine
        // prunes the real thing, not a truncate encoding
        case "day" if srcIsTs => ("day", IntegerType,
          s => Integer.valueOf(s.toInt))
        case "hour" if srcIsTs => ("hour", IntegerType,
          s => Integer.valueOf(s.toInt))
        // year/month are Iceberg's other two monotonic transforms
        // (years since 1970 / months since 1970-01): graft's stored
        // ordinal IS the spec's int ordinal — the SAME floor-based
        // proleptic-Gregorian arithmetic on the WHOLE domain, so no
        // non-negative-epoch guard applies. Spec-legal only over
        // date/timestamp sources; a µs-long-sourced layout has no
        // legal Iceberg encoding (they're not fixed-width, so no
        // truncate fallback exists) and refuses below.
        case "year" if srcIsTs => ("year", IntegerType,
          s => Integer.valueOf(s.toInt))
        case "month" if srcIsTs => ("month", IntegerType,
          s => Integer.valueOf(s.toInt))
        case k @ ("year" | "month") => throw new IllegalArgumentException(
          s"cannot export $k(${t.source}) over a µs-LONG source: " +
            "Iceberg's year/month transforms require a date/timestamp " +
            "source and have no fixed-width truncate encoding — " +
            "re-declare the layout over a TIMESTAMP column (exports as " +
            s"native $k), or migrate (evolveSpec + compact) first")
        // over a µs-LONG source there is no Iceberg day/hour (those
        // need a date/timestamp source); graft stores the day/hour
        // INDEX as the dir value and Iceberg truncate[W] stores
        // index*W — same grouping, same floor arithmetic on the
        // non-negative µs-epoch domain
        case "day" => ("truncate[86400000000]", LongType,
          s => java.lang.Long.valueOf(s.toLong * 86400000000L))
        case "hour" => ("truncate[3600000000]", LongType,
          s => java.lang.Long.valueOf(s.toLong * 3600000000L))
        case "truncate" =>
          // Iceberg's truncate[W] has NO timestamp source (the spec
          // defines it for int/long/decimal/string only) — exporting
          // one with a timestamptz source-id would be metadata a
          // spec-conformant reader rejects at parse time. Refuse like
          // the xxbucket case; graft-side truncate-over-timestamp
          // layouts keep working, they just don't cross the seam.
          require(!srcIsTs,
            s"cannot export truncate[${t.n}](${t.source}) over a " +
              "TIMESTAMP source: Iceberg's truncate transform has no " +
              "timestamp source type — re-declare the layout over a " +
              "µs-epoch LONG column, or use day/hour (which export as " +
              "Iceberg's native transforms), or migrate " +
              "(evolveSpec + compact) first")
          (s"truncate[${t.n}]", LongType, parseLong)
        // mbucket IS Iceberg's bucket (murmur3_x86_32 & MaxInt % n, the
        // spec hash) — the stored index exports verbatim as the spec's
        // int-typed bucket value, and a foreign engine prunes
        // identically. (xxhash64 `bucket` still refuses above.)
        case "mbucket" => (s"bucket[${t.n}]", IntegerType,
          s => Integer.valueOf(s.toInt))
        case other => throw new IllegalArgumentException(
          s"unsupported transform '$other' for Iceberg export")
      }
      val name = if (t.kind == "mbucket") s"${t.source}_bucket"
        else s"${t.source}_${t.kind}"
      PField(name, tr, srcId, allocPid(name, tr, srcId), rt, t.colName, conv)
    }
    // distinct specs in lineage-appearance order → Iceberg spec ids.
    // The FULL RETAINED lineage, not just the exported snapshots: a
    // CURRENT-ONLY export of a mid-evolution table still holds
    // pre-evolution files (evolveSpec is metadata-only — files keep
    // their layout), whose era spec must be in partition-specs for
    // per-file resolution even though no exported snapshot carries it
    // as ITS spec. An era expired out of the lineage entirely while
    // its files live on still refuses below (exact-or-refuse).
    val specDefs: Seq[(Seq[String], Seq[Transform])] = {
      val seen = scala.collection.mutable
        .LinkedHashSet[(Seq[String], Seq[Transform])]()
      table.versions.sorted.map(v => table.snapshot(v))
        .foreach(sn => seen += ((sn.partCols, sn.transforms)))
      snaps.foreach(sn => seen += ((sn.partCols, sn.transforms)))
      seen.toSeq
    }
    // the xxhash-bucket refusal again over the LINEAGE eras (the
    // snaps-level require above misses a lineage-only era whose files
    // survive into an exported snapshot)
    require(!specDefs.exists(_._2.exists(_.kind == "bucket")),
      "cannot export an xxhash64 bucket layout (a lineage era's spec): " +
        "Iceberg buckets by murmur3 — declare Transform.mbucket or " +
        "migrate (evolveSpec + compact) first")
    val specPFields: Seq[Seq[PField]] = specDefs.map { case (pc, tf) =>
      identityFieldsOf(pc) ++ transformFieldsOf(tf)
    }
    val curSpecId = specDefs.indexOf((cur.partCols, cur.transforms))
    // a FILE's spec is named by its directory-key set (identity columns
    // + transform key names). Two eras re-parameterizing the same
    // (source, kind) under a different n share a key set — ambiguous,
    // refuse (evolveSpec's guard makes this impossible while the old
    // era's files are live, so only an expired-then-re-bucketed lineage
    // can reach it).
    val specKeySets: Seq[Set[String]] = specDefs.map { case (pc, tf) =>
      (pc ++ tf.map(_.colName)).toSet }
    require(specKeySets.distinct.size == specKeySets.size,
      "two partition specs in the exported lineage share a directory-key " +
        "set (a re-parameterized transform era) — per-file spec " +
        "resolution would be ambiguous; export the current snapshot " +
        "only, or expire the old era first")
    def specIdxOfFile(f: DataFile): Int = {
      val ks = f.partitions.keySet
      val i = specKeySets.indexWhere(_ == ks)
      require(i >= 0, s"file ${f.path} carries layout keys " +
        s"[${ks.mkString(", ")}] matching no exported snapshot's " +
        "partition spec (its spec era expired) — compact-migrate the " +
        "layout before exporting history")
      i
    }
    val pfields = specPFields(curSpecId)

    // TRUNC-vs-FLOOR seam guard: graft's day/hour/truncate ordinals
    // truncate toward zero, Iceberg's floor — they agree ONLY on the
    // non-negative source domain. A file whose stored ordinal is
    // negative (rows strictly pre-1970) would export ordinals a
    // foreign engine's floor-based pruning silently mis-prunes; an
    // ordinal of exactly 0 ALSO covers (-(w-1), 0) under trunc-div, so
    // it exports only when the file's recorded footer min PROVES its
    // sources non-negative. Refuse-not-guess, per the seam's rule.
    locally {
      val monoKinds = Set("day", "hour", "truncate")
      specDefs.flatMap(_._2).distinct
          .filter(t => monoKinds(t.kind)).foreach { t =>
        snaps.foreach(sn => sn.files.foreach { f =>
          f.partitions.get(t.colName)
            .filter(_ != IcebergRead.NullDir)
            .flatMap(_.toLongOption).foreach { stored =>
              require(stored > 0L ||
                  (stored == 0L && f.ranges.get(t.source).exists(_._1 >= 0L)),
                s"cannot export ${t.kind}(${t.source}) exactly: file " +
                  s"${f.path} carries ordinal value $stored, which under " +
                  "graft's truncate-toward-zero arithmetic can cover " +
                  "pre-1970 (negative-epoch) rows that Iceberg's " +
                  "floor-based transform places in a DIFFERENT partition " +
                  "— a foreign engine would mis-prune. Exports are " +
                  "limited to the non-negative epoch domain (ordinal 0 " +
                  "needs a recorded footer min >= 0 to prove it)")
            }
        })
      }
    }

    // ---- shared Avro schemas -------------------------------------------
    def partAvroFieldsOf(pfs: Seq[PField]): String = pfs.map { pf =>
      val t = pf.resultType match {
        case LongType => "\"long\""
        case IntegerType => "\"int\""
        case StringType => "\"string\""
        case other => throw new IllegalArgumentException(s"unsupported partition type $other")
      }
      s"""{"name":"${pf.name}","type":["null",$t],"default":null,"field-id":${pf.fieldId}}"""
    }.mkString(",")
    val partAvroFields = partAvroFieldsOf(pfields)
    // format-v3 manifest entry additions: row lineage (first_row_id,
    // spec field-id 142) on every data file, and deletion-vector
    // coordinates (referenced_data_file 143, content_offset 144,
    // content_size_in_bytes 145) on delete entries
    val v3EntryFields =
      if (formatVersion < 3) ""
      else """,
        |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
        |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
        .stripMargin
    def manifestSchemaFor(partFields: String): Schema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |{"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
         |{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
         |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
         |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
         |{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}$v3EntryFields
         |]}}]}""".stripMargin)
    val manifestSchema = manifestSchemaFor(partAvroFields)
    val specManifestSchemas: Seq[Schema] =
      specPFields.map(pfs => manifestSchemaFor(partAvroFieldsOf(pfs)))
    // delete manifests bind to an UNPARTITIONED spec — an empty data
    // spec of the lineage if one exists, else a dedicated one appended
    // to partition-specs below: position deletes match by exact
    // (path, pos) and equality deletes by key + seq, so partition
    // scoping is a pruning nicety the spec does not require
    val emptySpecIdx = specDefs.indexWhere(d => d._1.isEmpty && d._2.isEmpty)
    val deleteSpecId = if (emptySpecIdx >= 0) emptySpecIdx else specDefs.size
    val deleteManifestSchema = manifestSchemaFor("")
    val deletePartSchema = deleteManifestSchema.getField("data_file")
      .schema().getField("partition").schema()
    // `partitions` (field-summary per partition field, in spec-field
    // order): the manifest-LIST level of Iceberg's pruning hierarchy —
    // a foreign engine skips whole manifests whose partition-value
    // ranges miss the predicate, before opening a single manifest.
    // Bounds are single-value serialized partition values.
    // v3 manifest-list addition: the manifest's first-row-id watermark
    // (spec field-id 520) — spec-expected on v3 data manifests so
    // readers can run first_row_id inheritance; this writer's entries
    // are all EXPLICIT, so the field is belt-and-braces for
    // spec-strict readers that validate the list schema
    val listV3Fields =
      if (formatVersion < 3) ""
      else """,
        |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}"""
        .stripMargin
    val listSchema = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string","field-id":500},
        |{"name":"manifest_length","type":"long","field-id":501},
        |{"name":"partition_spec_id","type":"int","field-id":502},
        |{"name":"content","type":"int","field-id":517},
        |{"name":"sequence_number","type":"long","field-id":515},
        |{"name":"min_sequence_number","type":"long","field-id":516},
        |{"name":"added_snapshot_id","type":"long","field-id":503},
        |{"name":"added_files_count","type":"int","field-id":504},
        |{"name":"existing_files_count","type":"int","field-id":505},
        |{"name":"deleted_files_count","type":"int","field-id":506},
        |{"name":"added_rows_count","type":"long","field-id":512},
        |{"name":"existing_rows_count","type":"long","field-id":513},
        |{"name":"deleted_rows_count","type":"long","field-id":514},
        |{"name":"partitions","type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
        |  {"name":"contains_null","type":"boolean","field-id":509},
        |  {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
        |  {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
        |  {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
        |]},"element-id":508}],"default":null,"field-id":507}$listV3Fields
        |]}""".stripMargin)

    /** Per-partition-field summaries for one data manifest's files
      * under spec fields `pfs` (spec-field order): contains_null +
      * single-value-serialized lower/upper bounds (int 4-byte LE,
      * long 8-byte LE, string exact UTF-8). A field null in EVERY
      * file carries only contains_null (no bounds). */
    def partitionSummaries(pfs: Seq[PField],
        files: Seq[DataFile]): Option[GenericData.Array[GenericRecord]] = {
      if (pfs.isEmpty || files.isEmpty) return None
      val arrSchema = listSchema.getField("partitions").schema()
        .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
      val arr = new GenericData.Array[GenericRecord](pfs.size, arrSchema)
      pfs.foreach { pf =>
        val raw = files.map(f => f.partitions.get(pf.graftKey) match {
          case None | Some(IcebergRead.NullDir) => None
          case Some(x) => Some(pf.toIceberg(x))
        })
        val r = new GenericData.Record(arrSchema.getElementType)
        r.put("contains_null", java.lang.Boolean.valueOf(raw.exists(_.isEmpty)))
        val vals = raw.flatten
        if (vals.nonEmpty) {
          def ser(v: Any): java.nio.ByteBuffer = v match {
            case l: java.lang.Long => java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).flip()
              .asInstanceOf[java.nio.ByteBuffer]
            case i: java.lang.Integer => java.nio.ByteBuffer.allocate(4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).flip()
              .asInstanceOf[java.nio.ByteBuffer]
            case s: String =>
              java.nio.ByteBuffer.wrap(s.getBytes(StandardCharsets.UTF_8))
            case other => throw new IllegalStateException(
              s"unexpected partition value type ${other.getClass}")
          }
          val (lo, hi) = vals.head match {
            case _: java.lang.Long =>
              val ls = vals.map(_.asInstanceOf[java.lang.Long].longValue())
              (ser(java.lang.Long.valueOf(ls.min)),
                ser(java.lang.Long.valueOf(ls.max)))
            case _: java.lang.Integer =>
              val is = vals.map(_.asInstanceOf[java.lang.Integer].intValue())
              (ser(java.lang.Integer.valueOf(is.min)),
                ser(java.lang.Integer.valueOf(is.max)))
            case _: String =>
              // foreign engines compare these bounds under Iceberg's
              // UNSIGNED UTF-8 BYTE order, which diverges from Java's
              // UTF-16 order for supplementary-plane characters — pick
              // min/max in the consumer's order, not String's
              val (mnB, mxB) = IcebergExport.utf8MinMax(
                vals.map(_.asInstanceOf[String]))
              (java.nio.ByteBuffer.wrap(mnB), java.nio.ByteBuffer.wrap(mxB))
            case other => throw new IllegalStateException(
              s"unexpected partition value type ${other.getClass}")
          }
          r.put("lower_bound", lo)
          r.put("upper_bound", hi)
        }
        arr.add(r)
        ()
      }
      Some(arr)
    }

    // ONE schema-node build per distinct schema, shared by every
    // consumer (manifest "schema" metadata, the table metadata JSON,
    // the name mapping). Nested member ids come from the CROSS-VERSION
    // registry (canonical-path memoization over one shared counter),
    // so the same logical nested field carries the same id in every
    // version's node — nested+evolving histories export exactly.
    val schemaNodes: Seq[ObjectNode] = parsed.zipWithIndex.map { case (st, i) =>
      val n = schemaNode(st,
        if (st == schema) ids else new FieldIds(st, idCounter),
        schema, nestedIds)
      n.put("schema-id", i)
      // INVARIANT: field ids are unique within one schema node —
      // duplicate ids are spec-invalid metadata a conformant reader
      // rejects; refuse at write time with the schema named
      locally {
        def idsOf(node: com.fasterxml.jackson.databind.JsonNode): Seq[Int] =
          node match {
            case o if o.isObject =>
              (Option(o.get("id")).filter(_.isInt).map(_.asInt()).toSeq) ++
                Seq("fields", "type", "element", "key", "value")
                  .flatMap(k => Option(o.get(k)).toSeq.flatMap(idsOf)) ++
                Seq("element-id", "key-id", "value-id")
                  .flatMap(k => Option(o.get(k)).filter(_.isInt)
                    .map(_.asInt()).toSeq)
            case a if a.isArray =>
              a.elements().asScala.toSeq.flatMap(idsOf)
            case _ => Nil
          }
        val all = idsOf(n)
        require(all.distinct.size == all.size,
          s"internal invariant violated: duplicate field ids in exported " +
            s"schema $i (${all.diff(all.distinct).distinct.mkString(", ")})")
      }
      n
    }
    val curSchemaNode = schemaNodes(schemaIdOf(cur.schemaJson))

    val partSchema = manifestSchema.getField("data_file").schema()
      .getField("partition").schema()

    /** Write `df` as `shards` Iceberg delete parquets under dest/data/
      * (each a spec-legal delete file — the spec permits any number of
      * `content=deletes` entries per manifest), with parquet FIELD IDS
      * in the footers ([[IcebergExport.landWithFieldIds]]):
      * `schema.name-mapping.default` is not reliably applied to delete
      * files, so id-less footers would make a real Iceberg engine fail
      * to read them. `arrange` pre-shapes
      * the frame per shard (the position path repartitions by
      * file_path and spec-sorts within each shard; the eq path is a
      * single pre-shaped file). Returns (path, rowCount) per written
      * file, counts from the parquet footers (metadata, no job). */
    def writeDeleteParquets(df: DataFrame, prefix: String,
        arrange: DataFrame => DataFrame): Seq[(Path, Long)] = {
      val landed = IcebergExport.landWithFieldIds(arrange(df),
        Paths.get(dest).resolve("data"), prefix)()
      require(landed.nonEmpty, "delete write landed no file")
      landed.flatMap { case (_, target) =>
        val rows = IcebergExport.parquetRowCount(target)
        // an empty shard (hash skew left it rowless) is not a delete
        // file — drop it rather than emit a 0-row manifest entry
        if (rows == 0L) { Files.delete(target); None }
        else Some((target, rows))
      }
    }
    def writeDeleteParquet(df: DataFrame, prefix: String): Path = {
      val one = writeDeleteParquets(df, prefix, _.coalesce(1))
      require(one.size == 1, s"expected one $prefix parquet, got ${one.size}")
      one.head._1
    }
    def withFieldId(c: Column, name: String, id: Long): Column =
      c.as(name, new MetadataBuilder().putLong("parquet.field.id", id).build())

    /** One snapshot's outstanding position-delete marks as Iceberg
      * position-delete parquets under dest/data/ (Nil when clean):
      * rows (file_path, pos), paths as recorded in the data manifest
      * entries, footers carrying the spec's reserved field ids
      * (file_path=2147483546, pos=2147483545). SHARDED like graft's
      * own delete writers (deleteMor / the import direction): one
      * delete parquet per ~8 referenced data files (cap 256),
      * RANGE-partitioned by file_path — each data file's marks land
      * wholly in ONE delete file (equal range keys share a partition,
      * so the one-delete-read-per-data-file property holds) and a
      * CDC-busy table's mark backlog writes in parallel instead of
      * funnelling through a single coalesce(1) task — spec-sorted
      * (file_path, pos) WITHIN each shard (the spec's sort is
      * per-file). Range, not hash, so each shard covers a CONTIGUOUS,
      * DISJOINT file_path interval — exported as file_path
      * lower/upper bounds on the delete manifest entry, which is how
      * a foreign engine matches delete files to data files without
      * opening them (hash shards would all span the whole path range,
      * making the bounds useless). Cached per distinct outstanding
      * mark-set: lineage-adjacent snapshots carry the same delete
      * files until a compact folds them, so a history export writes
      * each set once. (path, rows, file_path bounds) per shard. */
    val posDeleteCache = scala.collection.mutable
      .Map[Seq[String], Seq[(Path, Long, Option[(String, String)])]]()
    def positionDeleteParquets(sn: Snapshot)
        : Seq[(Path, Long, Option[(String, String)])] =
      if (sn.deletes.isEmpty) Nil
      else posDeleteCache.getOrElseUpdate(sn.deletes.map(_.path).sorted, {
        val refFiles = sn.deletes.flatMap(_.refPaths).toSet.size
        val shards = math.min(math.max((refFiles + 7) / 8, 1), 256)
        val marks = table.marksFrame(sn)
          .select(withFieldId(col("file_path"), "file_path", 2147483546L),
            withFieldId(col("pos"), "pos", 2147483545L))
        writeDeleteParquets(marks, "delete", df =>
          df.repartitionByRange(shards, col("file_path"))
            .sortWithinPartitions(col("file_path"), col("pos")))
          .map { case (p, rows) =>
            (p, rows, IcebergExport.parquetStringBounds(p, "file_path"))
          }
      })

    /** FORMAT-V3 position deletes: one `deletion-vector-v1` Puffin
      * blob per marked data file (v3 forbids new position-delete
      * parquets), SHARDED like the v2 parquet writer: marked data
      * files group into ~8-file shards (cap 256), each EXECUTOR task
      * serializes its shard's bitmaps AND writes its own
      * `*-deletes.puffin` (the spec permits any number of Puffin
      * files per snapshot), returning only (dataPath, puffinPath,
      * offset, size, cardinality) coordinate tuples — the driver
      * never sees a mark list OR a blob payload. (The prior shape
      * collected every per-file COMPRESSED payload for one
      * driver-side Puffin assembly: bounded by roaring compression,
      * not mark count, but still ~10^2-10^3 MB through one thread at
      * the 1M-marked-file design point, where the v2 path writes
      * range-sharded delete parquets fully distributed.) Executors
      * write into the export's metadata dir — the same shared data
      * plane Spark's own delete-parquet writes land on. Cached per
      * distinct outstanding mark-set like the v2 shard writer; blobs
      * stamp the first caching snapshot's ids (informational — the
      * manifest entry's own sequence is the authoritative scope).
      * One (puffinPath, per-file (dataPath, offset, size,
      * cardinality)) element per shard. */
    val dvCache = scala.collection.mutable
      .Map[Seq[String], Seq[(Path, Seq[(String, Long, Long, Long)])]]()
    def positionDeleteVectors(sn: Snapshot)
        : Seq[(Path, Seq[(String, Long, Long, Long)])] =
      if (sn.deletes.isEmpty) Nil
      else dvCache.getOrElseUpdate(sn.deletes.map(_.path).sorted, {
        val sess = table.spark
        import sess.implicits._
        val refFiles = sn.deletes.flatMap(_.refPaths).distinct.sorted
        val nShards = math.min(math.max((refFiles.size + 7) / 8, 1), 256)
        // contiguous sorted-path ranges per shard (the v2 range-shard
        // shape): a data file's marks land wholly in ONE shard task
        val shardOf: Map[String, Int] = refFiles.zipWithIndex.map {
          case (p, i) => p -> (i.toLong * nShards / refFiles.size).toInt
        }.toMap
        val metaDirStr = metaDir.toString
        val snapVer = sn.version
        val seqNum = math.max(sn.version,
          sn.files.map(_.seq).foldLeft(0L)(math.max))
        // (puffinPath, dataPath, offset, size, cardinality) per blob —
        // O(marked files) coordinate tuples are ALL the driver holds
        val coords: Array[(String, String, Long, Long, Long)] =
          table.marksFrame(sn)
            .select(col("file_path"), col("pos")).as[(String, Long)]
            .groupByKey(r => shardOf.getOrElse(r._1, 0))
            .flatMapGroups { (_, it) =>
              val byFile = scala.collection.mutable.LinkedHashMap
                .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
              it.foreach { case (f, p) =>
                byFile.getOrElseUpdate(f,
                  new scala.collection.mutable.ArrayBuilder.ofLong) += p
              }
              val blobs = byFile.toSeq.sortBy(_._1).map { case (f, ps) =>
                val sorted = ps.result().distinct.sorted
                (f, PuffinDv.serialize(sorted), sorted.length.toLong)
              }
              val pp = Paths.get(metaDirStr).resolve(
                s"${java.util.UUID.randomUUID()}-deletes.puffin")
              val (_, _, metas) = Puffin.write(pp,
                blobs.map { case (f, payload, card) =>
                  Puffin.Blob("deletion-vector-v1", Nil, snapVer, seqNum,
                    payload, Map("referenced-data-file" -> f,
                      "cardinality" -> card.toString))
                }, Map.empty)
              blobs.zip(metas).iterator.map { case ((f, _, card), m) =>
                (pp.toString, f, m.offset, m.length, card)
              }
            }.collect()
        coords.groupBy(_._1).toSeq.sortBy(_._1).map { case (pp, rows) =>
          (Paths.get(pp),
            rows.sortBy(_._2).map(r => (r._2, r._3, r._4, r._5)).toSeq)
        }
      })

    /** Equality tombstones re-encode under dest/data with the KEY
      * columns' schema field ids stamped in the footer, values read
      * through the historical-physical-name coalesce (a pre-rename
      * tombstone stores keys under the old column name). The graft
      * table keeps its own eq files untouched; the export is
      * self-contained. Cached per source file — a tombstone visible
      * from several history snapshots re-encodes once. Key columns
      * resolve through the CURRENT schema's rename history (field ids
      * are rename-stable), so a mid-history tombstone recorded under
      * a since-renamed key still maps to the right field id.
      * (rewrittenPath, bytes, equalityIds, rows, seq) */
    val eqExportCache =
      scala.collection.mutable.Map[String, (String, Long, Seq[Int], Long, Long)]()
    def eqFieldOf(c: String): StructField =
      schema.fields.find(f => f.name.equalsIgnoreCase(c) ||
          LogTable.prevNames(f).exists(_.equalsIgnoreCase(c)))
        .getOrElse(throw new IllegalStateException(
          s"equality-delete key column '$c' not in schema " +
            "(nor any field's rename history)"))
    /** The re-encode projection for one tombstone file, resolved from
      * its STORED physical columns: key values coalesce through the
      * rename history, output columns carry the current-schema field
      * ids. Shared by the per-file and batched paths. */
    def eqProjection(eq: EqDeleteFile, rawCols: Seq[String]): Seq[Column] =
      eq.cols.map { c =>
        val f = eqFieldOf(c)
        val cands = (f.name +: LogTable.prevNames(f))
          .filter(rawCols.contains(_))
        require(cands.nonEmpty,
          s"equality-delete file ${eq.path} stores no column for key '$c'")
        val v = if (cands.size == 1) col(cands.head)
          else coalesce(cands.map(col): _*)
        withFieldId(v, f.name, ids.of(f.name).toLong)
      }
    def eqExport(eq: EqDeleteFile): (String, Long, Seq[Int], Long, Long) =
      eqExportCache.getOrElseUpdate(eq.path, {
        val raw = table.spark.read.parquet(eq.path)
        val target = writeDeleteParquet(
          raw.select(eqProjection(eq, raw.columns.toSeq): _*), "eq-delete")
        (target.toString, Files.size(target),
          eq.cols.map(c => ids.of(eqFieldOf(c).name)), eq.rows, eq.seq)
      })

    /** BATCHED eq re-encode: ONE Spark job per GROUP of tombstone
      * files sharing (key columns, stored physical columns) — the
      * common shape, since a CDC upsert loop's per-commit tombstones
      * all look alike — instead of [[eqExport]]'s read + coalesce(1)
      * job per file. Every file's rows land in exactly one output
      * parquet: the union tags each source with a literal index,
      * repartitions on it (a source's rows always hash to one task)
      * and writes `partitionBy` the tag, so the tag itself is never
      * stored; each tag's single file is renamed to its final
      * eq-delete name (no tag directory stays behind) and lands in
      * [[eqExportCache]], from which
      * [[eqExport]] serves every manifest entry. A many-tombstone
      * history export re-encodes in O(groups) jobs, not O(files);
      * physical shapes come from driver-side footer reads (no job). */
    def eqExportBatch(eqs: Seq[EqDeleteFile]): Unit = {
      val misses = eqs.iterator
        .filterNot(e => eqExportCache.contains(e.path)).toSeq
        .distinctBy(_.path)
      if (misses.sizeIs <= 1) { misses.foreach(eqExport); return }
      val phys: Map[String, StructType] = misses.map(e =>
        e.path -> table.footerSparkSchema(e.path)).toMap
      misses.groupBy(e => (e.cols, phys(e.path).fields.map(_.name).toSeq))
          .values.foreach { group =>
        if (group.sizeIs == 1) { eqExport(group.head); () }
        else {
          val sess = table.spark
          val physSchema = phys(group.head.path)
          val proj = eqProjection(group.head,
            physSchema.fields.map(_.name).toSeq)
          val eqIds = group.head.cols.map(c => ids.of(eqFieldOf(c).name))
          val tagged = group.zipWithIndex.map { case (e, i) =>
            // explicit schema: the footers are already read driver-side
            // (`phys`), and a schema-less parquet read launches one
            // INFERENCE job per file — exactly the per-file job count
            // this batch exists to avoid
            sess.read.schema(phys(e.path)).parquet(e.path)
              .select(proj :+ lit(i).as("_graft_src"): _*)
          }.reduce(_ unionByName _)
          val landed = IcebergExport.landWithFieldIds(
            tagged.repartition(group.size, col("_graft_src")),
            Paths.get(dest).resolve("data"), "eq-delete")(
            _.partitionBy("_graft_src")).groupBy(_._1)
          group.zipWithIndex.foreach { case (e, i) =>
            landed.getOrElse(s"_graft_src=$i", Nil) match {
              case Seq((_, target)) =>
                eqExportCache(e.path) = (target.toString, Files.size(target),
                  eqIds, e.rows, e.seq)
              case Nil =>
                // a rowless tombstone file staged nothing — take the
                // per-file path (which shares its exact semantics)
                eqExport(e); ()
              case many => throw new IllegalStateException(
                s"eq batch export split source ${e.path} across " +
                  s"${many.size} files — repartition keyed on the tag " +
                  "must place one source in one task")
            }
          }
        }
      }
    }

    /** Write one snapshot's manifest + manifest list; returns the
      * manifest-list path. Entries carried from the parent snapshot
      * are EXISTING (status 0), this commit's own files ADDED (1).
      * The CURRENT snapshot's manifest list additionally carries the
      * delete manifest when merge-on-read marks are outstanding. */
    // FORMAT-V3 ROW LINEAGE (spec-required for v3 writers): a data
    // file gets a stable first_row_id when FIRST seen (in version
    // order, offset by its row count), snapshots record their
    // first-row-id watermark, the table records next-row-id. The
    // export's own reader ignores these; a v3-native foreign engine
    // reads them as written.
    // ADOPTED LINEAGE resumes, never restarts: an imported table's
    // files carry their foreign first_row_id (DataFile.firstRowId)
    // and the adopted next-row-id watermark lives in table props —
    // the export re-serves the foreign ids verbatim and assigns fresh
    // ids only from beyond the watermark, so `_row_id` continuity
    // survives the migration exactly.
    val firstRowIdOf = scala.collection.mutable.Map[String, Long]()
    val snapFirstRowId = scala.collection.mutable.Map[Long, Long]()
    var nextRowId = table.properties
      .get(LogTable.NextRowIdProp).map(_.toLong).getOrElse(0L)

    def writeSnapshot(sn: Snapshot, parentPaths: Set[String],
        schemaId: Int): Path = {
      val seqNum = math.max(sn.version,
        sn.files.map(_.seq).foldLeft(0L)(math.max))
      if (formatVersion >= 3) {
        snapFirstRowId(sn.version) = nextRowId
        sn.files.foreach(f => if (!firstRowIdOf.contains(f.path)) {
          f.firstRowId match {
            case Some(adopted) =>
              // imported file: the foreign assignment IS the id —
              // entries write it explicitly (field 142), overriding
              // inheritance, so re-serving is spec-exact; the
              // watermark only ever moves forward
              firstRowIdOf(f.path) = adopted
              nextRowId = math.max(nextRowId, adopted + f.rows)
            case None =>
              firstRowIdOf(f.path) = nextRowId
              nextRowId += f.rows
          }
        })
      }
      // one data manifest PER LAYOUT GROUP, each bound to its spec by
      // spec-id — Iceberg's encoding of spec evolution (a snapshot
      // after evolveSpec holds pre- and post-evolution files). A
      // file's group is named by its directory-key set; a snapshot
      // with no files writes one empty manifest under its OWN spec.
      val groups: Seq[(Int, Seq[DataFile])] = {
        val g = sn.files.groupBy(specIdxOfFile).toSeq.sortBy(_._1)
        if (g.nonEmpty) g
        else Seq((specDefs.indexOf((sn.partCols, sn.transforms)).max(0), Nil))
      }
      // (manifestPath, specIdx, added, existing, addedRows, existingRows)
      val dataManifests = groups.map { case (si, files) =>
        val mSchema = specManifestSchemas(si)
        val mPartSchema = mSchema.getField("data_file").schema()
          .getField("partition").schema()
        val pfs = specPFields(si)
        val manifestPath = metaDir.resolve(
          s"${java.util.UUID.randomUUID()}-m0.avro")
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](mSchema))
        w.setMeta("schema", schemaNodes(schemaId).toString)
        w.setMeta("partition-spec", specFieldsJson(pfs.map(pf =>
          (pf.name, pf.transform, pf.sourceId, pf.fieldId))))
        w.setMeta("partition-spec-id", si.toString)
        w.setMeta("format-version", formatVersion.toString)
        w.setMeta("content", "data")
        w.create(mSchema, manifestPath.toFile)
        try files.foreach { f =>
          val part = new GenericData.Record(mPartSchema)
          pfs.foreach { pf =>
            val v = f.partitions.get(pf.graftKey) match {
              case None | Some(IcebergRead.NullDir) => null
              case Some(x) => pf.toIceberg(x)
            }
            part.put(pf.name, v)
          }
          val df = new GenericData.Record(
            mSchema.getField("data_file").schema())
          df.put("content", 0)
          df.put("file_path", f.path)
          df.put("file_format", "PARQUET")
          df.put("partition", part)
          df.put("record_count", f.rows)
          df.put("file_size_in_bytes", f.bytes)
          // COLUMN STATS — what lets a FOREIGN engine data-skip on
          // non-partition predicates (Iceberg's min/max pruning, the
          // 100 TB seam requirement): graft's per-file footer stats
          // export as lower/upper_bounds in the spec's single-value
          // binary form (long = 8-byte little-endian, string = exact
          // UTF-8 — no truncation, so upper bounds stay exact), null
          // counts as null_value_counts, and value_counts = rows for
          // every stats-carrying TOP-LEVEL column (flat columns have
          // one value per row — what lets engines run the
          // all-null/no-null file checks). Columns without recorded
          // stats stay absent: absence never prunes.
          locally {
            val dfSchema = mSchema.getField("data_file").schema()
            def fid(name: String): Option[Int] =
              schema.fields.find(_.name.equalsIgnoreCase(name))
                .map(sf => ids.of(sf.name))
            def kvArr(field: String, m: Seq[(Int, AnyRef)]): Unit =
              if (m.nonEmpty) {
                val arrSchema = dfSchema.getField(field).schema()
                  .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
                val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
                m.sortBy(_._1).foreach { case (k, v) =>
                  val r = new GenericData.Record(arrSchema.getElementType)
                  r.put("key", k)
                  r.put("value", v)
                  arr.add(r)
                  ()
                }
                df.put(field, arr)
              }
            def le8(v: Long): java.nio.ByteBuffer = {
              val b = java.nio.ByteBuffer.allocate(8)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              b.putLong(v).flip()
              b
            }
            def le4(v: Long): java.nio.ByteBuffer = {
              val b = java.nio.ByteBuffer.allocate(4)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              b.putInt(v.toInt).flip()
              b
            }
            // single-value serialization width follows the field's
            // ICEBERG type (spec appendix D): `int`/`date` bounds are
            // 4-byte LE, `long`/`timestamp[tz]` 8-byte LE. f.ranges
            // holds INT32-physical columns too — writing those as 8
            // bytes makes spec-strict foreign readers reject or
            // misread the manifest.
            def leBound(c: String, v: Long): java.nio.ByteBuffer =
              schema.fields.find(_.name.equalsIgnoreCase(c))
                .map(_.dataType) match {
                case Some(IntegerType) | Some(DateType) => le4(v)
                case _ => le8(v)
              }
            def utf8(s: String): java.nio.ByteBuffer =
              java.nio.ByteBuffer.wrap(s.getBytes(StandardCharsets.UTF_8))
            val lo = f.ranges.toSeq.flatMap { case (c, (mn, _)) =>
                fid(c).map(_ -> (leBound(c, mn): AnyRef)) } ++
              f.strRanges.toSeq.flatMap { case (c, (mn, _)) =>
                fid(c).map(_ -> (utf8(mn): AnyRef)) }
            val hi = f.ranges.toSeq.flatMap { case (c, (_, mx)) =>
                fid(c).map(_ -> (leBound(c, mx): AnyRef)) } ++
              f.strRanges.toSeq.flatMap { case (c, (_, mx)) =>
                fid(c).map(_ -> (utf8(mx): AnyRef)) }
            val nulls = f.nulls.toSeq.flatMap { case (c, n) =>
              fid(c).map(_ -> (java.lang.Long.valueOf(n): AnyRef)) }
            val statCols = (lo.map(_._1) ++ nulls.map(_._1)).distinct
            kvArr("lower_bounds", lo)
            kvArr("upper_bounds", hi)
            kvArr("null_value_counts", nulls)
            kvArr("value_counts",
              statCols.map(_ -> (java.lang.Long.valueOf(f.rows): AnyRef)))
          }
          // v3 row lineage: EXPLICIT per-file assignment (null would
          // mean "inherit" and re-assign an existing entry wrongly)
          if (formatVersion >= 3)
            df.put("first_row_id", java.lang.Long.valueOf(firstRowIdOf(f.path)))
          val e = new GenericData.Record(mSchema)
          e.put("status", if (parentPaths.contains(f.path)) 0 else 1)
          e.put("snapshot_id", sn.version)
          e.put("sequence_number", f.seq)
          e.put("file_sequence_number", f.seq)
          e.put("data_file", df)
          w.append(e)
        } finally w.close()
        val (added, existing) = files.partition(f => !parentPaths.contains(f.path))
        // v3: the manifest's first-row-id watermark = the smallest id
        // assigned to its files (entries are explicit, so this is
        // informational for inheritance-running readers); a file-less
        // manifest reports the snapshot's own watermark
        val manifestFirstRowId: Long =
          if (formatVersion < 3) 0L
          else files.map(f => firstRowIdOf(f.path))
            .minOption.getOrElse(snapFirstRowId(sn.version))
        (manifestPath, si, added.size, existing.size,
          added.map(_.rows).sum, existing.map(_.rows).sum,
          partitionSummaries(pfs, files), manifestFirstRowId)
      }
      // THIS snapshot's delete manifest (merge-on-read marks),
      // sequence-stamped at the head so it covers every data file —
      // position deletes match by exact (path, pos), so the wide
      // scope is harmless and spec-conformant. Every exported
      // snapshot carries its own outstanding state (history mode
      // time-travels MoR debt exactly).
      // v2: range-sharded position-delete parquets; v3: deletion
      // vectors (one Puffin blob per marked file — v3 forbids new
      // position-delete parquets)
      val deleteShards =
        if (formatVersion >= 3) Nil else positionDeleteParquets(sn)
      val dvs = if (formatVersion >= 3) positionDeleteVectors(sn) else Nil
      eqExportBatch(sn.eqDeletes) // one job per group, cache-filling
      val eqExports = sn.eqDeletes.map(eqExport) // cache hits
      val deleteManifest: Option[Path] =
        if (deleteShards.isEmpty && dvs.isEmpty && eqExports.isEmpty) None
        else {
          val mp = metaDir.resolve(
            s"${java.util.UUID.randomUUID()}-d0.avro")
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](deleteManifestSchema))
          w.setMeta("schema", schemaNodes(schemaId).toString)
          w.setMeta("partition-spec", specFieldsJson(Nil))
          w.setMeta("partition-spec-id", deleteSpecId.toString)
          w.setMeta("format-version", formatVersion.toString)
          w.setMeta("content", "deletes")
          w.create(deleteManifestSchema, mp.toFile)
          try {
            def entry(path: String, content: Int, rows: Long, bytes: Long,
                seq: Long, eqIds: Seq[Int],
                pathBounds: Option[(String, String)],
                fileFormat: String = "PARQUET",
                dvCoords: Option[(String, Long, Long)] = None): Unit = {
              val dfSchema = deleteManifestSchema.getField("data_file").schema()
              val df = new GenericData.Record(dfSchema)
              df.put("content", content)
              df.put("file_path", path)
              df.put("file_format", fileFormat)
              // v3 DV coordinates: the spec-required targeting triple
              dvCoords.foreach { case (ref, off, len) =>
                df.put("referenced_data_file", ref)
                df.put("content_offset", java.lang.Long.valueOf(off))
                df.put("content_size_in_bytes", java.lang.Long.valueOf(len))
              }
              df.put("partition", new GenericData.Record(deletePartSchema))
              df.put("record_count", rows)
              df.put("file_size_in_bytes", bytes)
              // file_path bounds (reserved field id 2147483546): the
              // range-sharded delete parquets cover disjoint path
              // intervals, so a foreign engine matches delete files to
              // data files from the manifest alone
              pathBounds.foreach { case (mn, mx) =>
                def kv(field: String, v: String): Unit = {
                  val arrSchema = dfSchema.getField(field).schema()
                    .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
                  val arr = new GenericData.Array[GenericRecord](1, arrSchema)
                  val r = new GenericData.Record(arrSchema.getElementType)
                  r.put("key", 2147483546)
                  r.put("value", java.nio.ByteBuffer.wrap(
                    v.getBytes(StandardCharsets.UTF_8)))
                  arr.add(r)
                  df.put(field, arr)
                  ()
                }
                kv("lower_bounds", mn)
                kv("upper_bounds", mx)
              }
              if (eqIds.nonEmpty) {
                val arr = new java.util.ArrayList[Integer]()
                eqIds.foreach(i => arr.add(Integer.valueOf(i)))
                df.put("equality_ids", arr)
              }
              val e = new GenericData.Record(deleteManifestSchema)
              e.put("status", 1)
              e.put("snapshot_id", sn.version)
              e.put("sequence_number", seq)
              e.put("file_sequence_number", seq)
              e.put("data_file", df)
              w.append(e)
            }
            deleteShards.foreach { case (delPath, delRows, bounds) =>
              entry(delPath.toString, 1, delRows, Files.size(delPath),
                seqNum, Nil, bounds) // POSITION_DELETES cover every data seq
            }
            // v3 deletion vectors: one entry per marked data file —
            // record_count = cardinality, file size = the shard's
            // Puffin file
            dvs.foreach { case (pp, perFile) =>
              val ppSize = Files.size(pp)
              perFile.foreach { case (ref, off, len, card) =>
                entry(pp.toString, 1, card, ppSize, seqNum, Nil,
                  pathBounds = None, fileFormat = "PUFFIN",
                  dvCoords = Some((ref, off, len)))
              }
            }
            // equality tombstones keep their OWN sequence numbers —
            // the strictly-below rule is what scopes them
            eqExports.foreach { case (path, bytes, eqIds, rows, seq) =>
              entry(path, 2, rows, bytes, seq, eqIds, pathBounds = None)
            }
          } finally w.close()
          Some(mp)
        }
      val listPath = metaDir.resolve(
        s"snap-${sn.version}-${java.util.UUID.randomUUID()}.avro")
      locally {
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](listSchema))
        w.setMeta("format-version", formatVersion.toString)
        w.setMeta("snapshot-id", sn.version.toString)
        w.setMeta("sequence-number", seqNum.toString)
        w.create(listSchema, listPath.toFile)
        try {
          dataManifests.foreach { case (mp, si, nAdd, nEx, rAdd, rEx, psum,
              mFirstRowId) =>
            val m = new GenericData.Record(listSchema)
            m.put("manifest_path", mp.toString)
            m.put("manifest_length", Files.size(mp))
            m.put("partition_spec_id", si)
            m.put("content", 0)
            m.put("sequence_number", seqNum)
            m.put("min_sequence_number",
              sn.files.map(_.seq).foldLeft(seqNum)(math.min))
            m.put("added_snapshot_id", sn.version)
            m.put("added_files_count", nAdd)
            m.put("existing_files_count", nEx)
            m.put("deleted_files_count", 0)
            m.put("added_rows_count", rAdd)
            m.put("existing_rows_count", rEx)
            m.put("deleted_rows_count", 0L)
            psum.foreach(p => m.put("partitions", p))
            if (formatVersion >= 3)
              m.put("first_row_id", java.lang.Long.valueOf(mFirstRowId))
            w.append(m)
          }
          deleteManifest.foreach { mp =>
            val d = new GenericData.Record(listSchema)
            d.put("manifest_path", mp.toString)
            d.put("manifest_length", Files.size(mp))
            d.put("partition_spec_id", deleteSpecId)
            d.put("content", 1) // DELETES
            d.put("sequence_number", seqNum)
            d.put("min_sequence_number",
              sn.eqDeletes.map(_.seq).foldLeft(seqNum)(math.min))
            d.put("added_snapshot_id", sn.version)
            d.put("added_files_count", deleteShards.size +
              dvs.map(_._2.size).sum + sn.eqDeletes.size)
            d.put("existing_files_count", 0)
            d.put("deleted_files_count", 0)
            d.put("added_rows_count", deleteShards.map(_._2).sum
              + dvs.flatMap(_._2).map(_._4).sum
              + sn.eqDeletes.map(_.rows).sum)
            d.put("existing_rows_count", 0L)
            d.put("deleted_rows_count", 0L)
            w.append(d)
          }
        } finally w.close()
      }
      listPath
    }

    val exportedVersions = versions.toSet
    // pre-warm the eq re-encode cache across the WHOLE export in one
    // batched pass: the per-snapshot loop below runs oldest→newest, so
    // without this a history export of an N-tombstone lineage would
    // see one cache miss per snapshot — N single-file jobs instead of
    // one job per shape group
    eqExportBatch(snaps.flatMap(_.eqDeletes))
    val lists: Seq[(Snapshot, Path, Int)] = snaps.map { sn =>
      // parent context only when the parent is itself exported —
      // otherwise every file reads ADDED (a fresh-history shape)
      val parentPaths =
        if (exportedVersions.contains(sn.parent) && sn.parent != 0L)
          table.snapshot(sn.parent).files.map(_.path).toSet
        else Set.empty[String]
      val sid = schemaIdOf(
        if (sn.schemaJson.nonEmpty) sn.schemaJson else cur.schemaJson)
      (sn, writeSnapshot(sn, parentPaths, sid), sid)
    }

    // ---- table metadata JSON -------------------------------------------
    val lastSeq = math.max(cur.version,
      cur.files.map(_.seq).foldLeft(0L)(math.max))
    // prior metadata versions in dest (re-export = continuous-mirror
    // refresh): the NEXT vN chains after them, and the table-uuid
    // carries FORWARD — a real Iceberg reader (HadoopTables) validates
    // uuid stability across metadata refreshes, so regenerating per
    // export would fail a foreign reader's first refresh
    val MetaRe = "v(\\d+)\\.metadata\\.json".r
    val prior = scala.util.Using.resource(Files.list(metaDir)) { ls =>
      ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case MetaRe(n) => n.toLong }.toSeq.sorted
    }
    // the uuid carries forward ONLY from metadata for the SAME source
    // table (matched on the graft table root recorded in properties):
    // exporting a DIFFERENT table into a reused dest must refuse rather
    // than silently chain two unrelated tables under one uuid — a
    // foreign reader's refresh would accept the lineage as one table
    val tableUuid = prior.lastOption.map { n =>
      val pm = mapper.readTree(Files.readAllBytes(
        metaDir.resolve(s"v$n.metadata.json")))
      val priorRoot = Option(pm.get("properties"))
        .flatMap(p => Option(p.get("graft.table-root"))).map(_.asText())
      require(priorRoot.forall(_ == table.root),
        s"dest '$dest' already holds Iceberg metadata exported from " +
          s"graft table '${priorRoot.get}' — refusing to chain a " +
          s"different table ('${table.root}') under its uuid/metadata-" +
          "log; export to a fresh dest instead")
      Option(pm.get("table-uuid")).map(_.asText())
        .getOrElse(java.util.UUID.randomUUID().toString)
    }.getOrElse(java.util.UUID.randomUUID().toString)
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    root.put("table-uuid", tableUuid)
    root.put("location", dest)
    root.put("last-sequence-number", lastSeq)
    root.put("last-updated-ms", cur.timestampMs)
    root.put("last-column-id", ids.maxId)
    // v3 row lineage: the table-level high-water mark
    if (formatVersion >= 3) root.put("next-row-id", nextRowId)
    root.put("current-schema-id", schemaIdOf(cur.schemaJson))
    val schemasArr = mapper.createArrayNode()
    schemaNodes.foreach(schemasArr.add)
    root.set[ObjectNode]("schemas", schemasArr)
    root.put("default-spec-id", curSpecId)
    val specsArr = mapper.createArrayNode()
    specDefs.indices.foreach { i =>
      val spec = mapper.createObjectNode()
      spec.put("spec-id", i)
      spec.set[ObjectNode]("fields", mapper.readTree(specFieldsJson(
        specPFields(i).map(pf =>
          (pf.name, pf.transform, pf.sourceId, pf.fieldId)))))
      specsArr.add(spec)
      ()
    }
    if (emptySpecIdx < 0 &&
        snaps.exists(sn => sn.deletes.nonEmpty || sn.eqDeletes.nonEmpty)) {
      // the dedicated unpartitioned DELETE spec (no data spec is empty)
      val dspec = mapper.createObjectNode()
      dspec.put("spec-id", deleteSpecId)
      dspec.set[ObjectNode]("fields", mapper.createArrayNode())
      specsArr.add(dspec)
      ()
    }
    root.set[ObjectNode]("partition-specs", specsArr)
    root.put("last-partition-id", if (nextPid == 1000) 999 else nextPid - 1)
    // sort-order fidelity: graft's declared write sort order exports
    // as Iceberg sort order 1 (identity transform, asc, nulls-first —
    // the write-local sort graft performs); order 0 stays the
    // spec-required unsorted order
    val unsorted = mapper.createObjectNode()
    unsorted.put("order-id", 0)
    unsorted.set[ObjectNode]("fields", mapper.createArrayNode())
    val ordersArr = mapper.createArrayNode().add(unsorted)
    if (cur.sortCols.nonEmpty) {
      val so = mapper.createObjectNode()
      so.put("order-id", 1)
      val fs = so.putArray("fields")
      cur.sortCols.foreach { c =>
        val f = fs.addObject()
        f.put("transform", "identity")
        f.put("source-id", ids.of(c))
        f.put("direction", "asc")
        f.put("null-order", "nulls-first")
      }
      ordersArr.add(so)
      ()
    }
    root.put("default-sort-order-id", if (cur.sortCols.nonEmpty) 1 else 0)
    root.set[ObjectNode]("sort-orders", ordersArr)
    val props = mapper.createObjectNode()
    props.put("schema.name-mapping.default",
      nameMapping(curSchemaNode, schema).toString)
    // provenance marker consumed by the uuid carry-forward check above:
    // a re-export only adopts the prior uuid when this root matches
    props.put("graft.table-root", table.root)
    root.set[ObjectNode]("properties", props)
    root.put("current-snapshot-id", cur.version)
    val snapsArr = mapper.createArrayNode()
    val logArr = mapper.createArrayNode()
    lists.foreach { case (sn, listPath, sid) =>
      val node = snapsArr.addObject()
      node.put("snapshot-id", sn.version)
      if (exportedVersions.contains(sn.parent) && sn.parent != 0L)
        node.put("parent-snapshot-id", sn.parent)
      node.put("timestamp-ms", sn.timestampMs)
      node.put("sequence-number", math.max(sn.version,
        sn.files.map(_.seq).foldLeft(0L)(math.max)))
      // v3 row lineage: this snapshot's first-row-id watermark
      if (formatVersion >= 3)
        node.put("first-row-id", snapFirstRowId(sn.version))
      val summ = node.putObject("summary")
      summ.put("operation", sn.operation match {
        case "append" => "append"
        case "compact" | "recluster" => "replace"
        case _ => "overwrite"
      })
      // the conventional totals every Iceberg UI/inspector reads —
      // string-valued per the spec's summary map, from manifest
      // metadata only
      summ.put("total-records", sn.files.map(_.rows).sum.toString)
      summ.put("total-data-files", sn.files.size.toString)
      summ.put("total-files-size", sn.files.map(_.bytes).sum.toString)
      // count the EXPORTED delete files (position shards + eq
      // parquets), not graft-internal DV blobs — the summary must
      // agree with the delete manifest's own added_files_count
      summ.put("total-delete-files",
        ((if (formatVersion >= 3)
            positionDeleteVectors(sn).map(_._2.size).sum
          else positionDeleteParquets(sn).size)
          + sn.eqDeletes.size).toString)
      node.put("manifest-list", listPath.toString)
      node.put("schema-id", sid)
      val le = logArr.addObject()
      le.put("timestamp-ms", sn.timestampMs)
      le.put("snapshot-id", sn.version)
    }
    root.set[ObjectNode]("snapshots", snapsArr)
    root.set[ObjectNode]("snapshot-log", logArr)
    // REFS: graft's named refs (immutable tags) export as Iceberg
    // refs of type "tag" — a foreign engine resolves
    // `VERSION AS OF '<name>'` exactly as graft's readRef does —
    // plus the spec's `main` branch ref at the current snapshot.
    // Only tags whose pinned version is EXPORTED ride along (a
    // current-only export silently drops tags on older snapshots:
    // a ref to a snapshot the metadata doesn't carry would be
    // spec-invalid).
    locally {
      val refsNode = root.putObject("refs")
      val mainRef = refsNode.putObject("main")
      mainRef.put("snapshot-id", cur.version)
      mainRef.put("type", "branch")
      table.refs.foreach { case (name, v) =>
        if (exportedVersions.contains(v) && name != "main") {
          val r = refsNode.putObject(name)
          r.put("snapshot-id", v)
          r.put("type", "tag")
          ()
        }
      }
    }
    // PARTITION STATISTICS (the spec's partition-statistics files —
    // the per-partition rollup a CBO-driven foreign engine reads
    // instead of walking manifests): opt-in, one parquet for the
    // CURRENT snapshot with the spec's exact schema and reserved
    // field ids (partition=1, spec_id=2, data_record_count=3,
    // data_file_count=4, total_data_file_size_in_bytes=5; partition
    // members keep their partition-field ids). The partition struct
    // is the spec's UNIFIED type — every field of every exported
    // spec, sorted by field id; a file whose spec lacks a field
    // contributes null there. Opt-in keeps the default export
    // byte-identical to prior rounds. At scale the rollup is
    // O(files) driver metadata — the same order as the manifest
    // write itself.
    if (partitionStats) {
      require(specPFields.exists(_.nonEmpty),
        "partition statistics need a partitioned table — an " +
          "unpartitioned table's totals are already exported in the " +
          "snapshot summary (total-records / total-data-files)")
      val unified: Seq[PField] = specPFields.flatten
        .groupBy(_.fieldId).values.map(_.head).toSeq.sortBy(_.fieldId)
      val grouped = cur.files.groupBy { f =>
        val si = specIdxOfFile(f)
        (si, unified.map { pf =>
          if (!specPFields(si).exists(_.fieldId == pf.fieldId)) null
          else f.partitions.get(pf.graftKey) match {
            case None | Some(IcebergRead.NullDir) => null
            case Some(x) => pf.toIceberg(x)
          }
        })
      }.toSeq
      val statRows: Seq[Row] = grouped.map { case ((si, tuple), fs) =>
        Row(Row(tuple: _*), si, fs.map(_.rows).sum, fs.size,
          fs.map(_.bytes).sum)
      }.sortBy(_.toString)
      def fidMeta(id: Long) = new MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      val statsSchema = StructType(Seq(
        StructField("partition", StructType(unified.map(pf =>
          StructField(pf.name, pf.resultType, nullable = true,
            fidMeta(pf.fieldId.toLong)))), nullable = false, fidMeta(1L)),
        StructField("spec_id", IntegerType, nullable = false, fidMeta(2L)),
        StructField("data_record_count", LongType, nullable = false,
          fidMeta(3L)),
        StructField("data_file_count", IntegerType, nullable = false,
          fidMeta(4L)),
        StructField("total_data_file_size_in_bytes", LongType,
          nullable = false, fidMeta(5L))))
      val target = IcebergExport.landWithFieldIds(
        table.spark.createDataFrame(statRows.asJava, statsSchema).coalesce(1),
        metaDir, s"partition-stats-${cur.version}")() match {
          case Seq((_, one)) => one
          case other => throw new IllegalStateException(
            s"expected one partition-stats parquet, got ${other.size}")
        }
      val ps = root.putArray("partition-statistics").addObject()
      ps.put("snapshot-id", cur.version)
      ps.put("statistics-path", target.toString)
      ps.put("file-size-in-bytes", Files.size(target))
      ()
    }
    root.set[ObjectNode]("metadata-log", mapper.createArrayNode())
    // METADATA VERSIONING (HadoopTables convention): a re-export into
    // the same dest writes the NEXT vN.metadata.json and bumps the
    // hint — the continuous-mirror shape (each ingest batch refreshes
    // the Iceberg view of the table); prior metadata files stay
    // readable and are chained in metadata-log (`prior` scanned above,
    // where the carried-forward table-uuid is resolved)
    val mv = prior.lastOption.getOrElse(0L) + 1
    val logArr2 = root.withArray[ArrayNode]("metadata-log")
    prior.foreach { n =>
      val e = logArr2.addObject()
      // each entry carries ITS OWN metadata file's last-updated-ms
      // (the spec's meaning — when that version became current), not
      // this refresh's timestamp
      val pm = mapper.readTree(Files.readAllBytes(
        metaDir.resolve(s"v$n.metadata.json")))
      e.put("timestamp-ms",
        Option(pm.get("last-updated-ms")).map(_.asLong())
          .getOrElse(cur.timestampMs))
      e.put("metadata-file",
        metaDir.resolve(s"v$n.metadata.json").toString)
    }
    val metaPath = metaDir.resolve(s"v$mv.metadata.json")
    Files.write(metaPath, root.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(metaDir.resolve("version-hint.text"),
      mv.toString.getBytes(StandardCharsets.UTF_8))
    metaPath
  }

  private def specFieldsJson(
      fields: Seq[(String, String, Int, Int)]): String = {
    val arr = mapper.createArrayNode()
    fields.foreach { case (name, transform, sourceId, fieldId) =>
      val n = arr.addObject()
      n.put("name", name); n.put("transform", transform)
      n.put("source-id", sourceId); n.put("field-id", fieldId)
    }
    arr.toString
  }

  private val mapper = new ObjectMapper()

  /** Deterministic Iceberg field-id assignment: graft's stable
    * manifest field ids where present, fresh ids (max+1, DFS order)
    * for nested/list/map members graft doesn't number. */
  /** One shared id counter per export: every schema version's FieldIds
    * and the nested registry draw from it, so ids never collide across
    * a history export's schema set. */
  private final class IdCounter(start: Int) {
    private var next: Int = start
    def alloc(): Int = { val id = next; next += 1; id }
    def maxId: Int = next - 1
  }

  private final class FieldIds(schema: StructType, counter: IdCounter) {
    def this(schema: StructType) = this(schema,
      new IdCounter(schema.fields.flatMap(LogTable.fieldId)
        .foldLeft(0L)(math.max).toInt + 1))
    private val top: Map[String, Int] = schema.fields.map { f =>
      f.name.toLowerCase -> LogTable.fieldId(f).map(_.toInt)
        .getOrElse(counter.alloc())
    }.toMap
    def of(name: String): Int = top.getOrElse(name.toLowerCase,
      throw new IllegalStateException(s"no field id for column '$name'"))
    def maxId: Int = counter.maxId
  }

  /** CROSS-VERSION nested field ids — what makes a history export over
    * a nested+evolving lineage legal: graft's manifest stamps stable
    * ids on TOP-LEVEL fields only, so nested member ids are assigned
    * here by CANONICAL PATH, memoized across every schema version of
    * one export. A path starts at the top-level field's stable graft
    * id (`#id` — rename-proof), and each nested step uses the CURRENT
    * schema's member name when the member resolves there through the
    * per-field rename history (`prevNames`), else its own name (a
    * since-dropped member keeps one id across the versions that carry
    * it). The same logical nested field therefore gets the SAME id in
    * every exported schema version — Iceberg's requirement for
    * time-traveling reads that project by field id. */
  private final class NestedIdRegistry(counter: IdCounter) {
    private val assigned = scala.collection.mutable.Map[String, Int]()
    def idFor(canonPath: String): Int =
      assigned.getOrElseUpdate(canonPath, counter.alloc())
    /** Resolve one (possibly historical) struct's members against the
      * current schema's corresponding struct, as a WHOLE struct: exact
      * current-name matches claim their fields first, then rename
      * history matches among the UNCLAIMED — so one current member can
      * never canonize TWO historical members (duplicate canonical
      * paths would emit duplicate field ids inside one exported
      * schema, which a spec-conformant reader rejects). A residual
      * collision (a foreign mapping reusing a vacated name in a shape
      * graft's own rename machinery forbids) refuses loudly.
      * Returns (member, canonical name, current field) in order. */
    def resolveStruct(cur: Option[StructType], st: StructType,
        path: String): Seq[(StructField, String, Option[StructField])] = {
      val curFields = cur.map(_.fields.toSeq).getOrElse(Nil)
      val exact: Map[String, StructField] = st.fields.flatMap(f =>
        curFields.find(_.name.equalsIgnoreCase(f.name))
          .map(cf => f.name.toLowerCase -> cf)).toMap
      val claimed = scala.collection.mutable.Set[String](
        exact.values.map(_.name.toLowerCase).toSeq: _*)
      val resolved = st.fields.toSeq.map { f =>
        exact.get(f.name.toLowerCase) match {
          case Some(cf) => (f, cf.name.toLowerCase, Some(cf))
          case None =>
            curFields.find(cf => !claimed(cf.name.toLowerCase) &&
                LogTable.prevNames(cf).exists(_.equalsIgnoreCase(f.name))) match {
              case Some(cf) =>
                claimed += cf.name.toLowerCase
                (f, cf.name.toLowerCase, Some(cf))
              case None => (f, f.name.toLowerCase, None)
            }
        }
      }
      val canons = resolved.map(_._2)
      require(canons.distinct.size == canons.size,
        s"cannot export: two members of struct '$path' resolve to the " +
          s"same canonical nested path (${canons.diff(canons.distinct)
            .distinct.mkString(", ")}) — the rename history is ambiguous, " +
          "so stable cross-version field ids cannot be assigned; export " +
          "the current snapshot only")
      resolved
    }
  }

  private def icebergTypeName(dt: DataType): Option[String] = dt match {
    case LongType => Some("long")
    case IntegerType => Some("int")
    case StringType => Some("string")
    case DoubleType => Some("double")
    case FloatType => Some("float")
    case BooleanType => Some("boolean")
    case BinaryType => Some("binary")
    case DateType => Some("date")
    case TimestampType => Some("timestamptz")
    case TimestampNTZType => Some("timestamp")
    case d: DecimalType => Some(s"decimal(${d.precision}, ${d.scale})")
    // v3's variant — export() refuses it under formatVersion 2 BEFORE
    // schema building reaches here (variant is spec-illegal below v3)
    case _: VariantType => Some("variant")
    case _ => None
  }

  /** Does a type tree contain a variant anywhere? (v3-gating exports,
    * shared with import's adoption path.) */
  private[sources] def containsVariant(dt: DataType): Boolean = dt match {
    case _: VariantType => true
    case st: StructType => st.fields.exists(f => containsVariant(f.dataType))
    case at: ArrayType => containsVariant(at.elementType)
    case mt: MapType =>
      containsVariant(mt.keyType) || containsVariant(mt.valueType)
    case _ => false
  }

  /** A type as an Iceberg schema JSON value (string for primitives,
    * object for struct/list/map) — refusing types with no exact
    * Iceberg equivalent (byte/short would silently widen). Nested ids
    * come from the cross-version registry keyed by canonical path
    * (`cur` threads the CURRENT schema's corresponding type so
    * historical member names resolve through the rename history). */
  private def typeNode(dt: DataType, path: String, cur: Option[DataType],
      reg: NestedIdRegistry): Any = dt match {
    case st: StructType =>
      val curSt = cur.collect { case c: StructType => c }
      val n = mapper.createObjectNode()
      n.put("type", "struct")
      val fs = n.putArray("fields")
      reg.resolveStruct(curSt, st, path).foreach { case (f, canon, curF) =>
        val cpath = s"$path.$canon"
        val id = LogTable.fieldId(f).map(_.toInt).getOrElse(reg.idFor(cpath))
        fs.add(fieldNode(f, id, cpath, curF.map(_.dataType), reg))
      }
      n
    case at: ArrayType =>
      val curEl = cur.collect { case c: ArrayType => c.elementType }
      val n = mapper.createObjectNode()
      n.put("type", "list")
      n.put("element-id", reg.idFor(s"$path.element"))
      setType(n, "element", typeNode(at.elementType, s"$path.element", curEl, reg))
      n.put("element-required", !at.containsNull)
      n
    case mt: MapType =>
      val curM = cur.collect { case c: MapType => c }
      val n = mapper.createObjectNode()
      n.put("type", "map")
      n.put("key-id", reg.idFor(s"$path.key"))
      setType(n, "key", typeNode(mt.keyType, s"$path.key", curM.map(_.keyType), reg))
      n.put("value-id", reg.idFor(s"$path.value"))
      setType(n, "value",
        typeNode(mt.valueType, s"$path.value", curM.map(_.valueType), reg))
      n.put("value-required", !mt.valueContainsNull)
      n
    case prim => icebergTypeName(prim).getOrElse(
      throw new IllegalArgumentException(
        s"type $prim has no exact Iceberg equivalent — refusing export"))
  }

  private def setType(n: ObjectNode, key: String, t: Any): Unit = t match {
    case s: String => n.put(key, s); ()
    case o: ObjectNode => n.set[ObjectNode](key, o); ()
  }

  private def fieldNode(f: StructField, id: Int, path: String,
      cur: Option[DataType], reg: NestedIdRegistry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", id)
    n.put("name", f.name)
    n.put("required", !f.nullable)
    setType(n, "type", typeNode(f.dataType, path, cur, reg))
    n
  }

  /** One schema version's Iceberg schema node. Top-level ids are
    * graft's stable manifest ids; the nested-path prefix is `#<id>`
    * (rename-proof), and the current schema's matching field — found
    * by ID first, name history second — threads down so nested names
    * canonicalize version-independently. */
  private def schemaNode(st: StructType, ids: FieldIds,
      current: StructType, reg: NestedIdRegistry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", "struct")
    n.put("schema-id", 0)
    val fs = n.putArray("fields")
    st.fields.foreach { f =>
      val id = ids.of(f.name)
      val curF = current.fields.find(cf =>
          LogTable.fieldId(f).isDefined &&
            LogTable.fieldId(cf) == LogTable.fieldId(f))
        .orElse(current.fields.find(cf =>
          (cf.name +: LogTable.prevNames(cf)).exists(_.equalsIgnoreCase(f.name))))
      fs.add(fieldNode(f, id, s"#$id", curF.map(_.dataType), reg))
    }
    n
  }

  /** Iceberg name mapping (`schema.name-mapping.default`): per field,
    * the current name plus every historical physical name — how an
    * Iceberg reader resolves field ids in parquet files whose footers
    * carry none (ALL graft-written files; renamed columns still store
    * values under their old names in pre-rename files). Field ids are
    * READ BACK from the already-generated schema node (never
    * re-allocated) so nested mapping ids always equal the schema's. */
  private def nameMapping(schemaNode: ObjectNode, schema: StructType): ArrayNode = {
    def entries(fieldsNode: com.fasterxml.jackson.databind.JsonNode,
        st: StructType): ArrayNode = {
      val arr = mapper.createArrayNode()
      val nodes = fieldsNode.elements().asScala.toSeq
      st.fields.zip(nodes).foreach { case (f, n) =>
        val e = arr.addObject()
        e.put("field-id", n.get("id").asInt())
        val names = e.putArray("names")
        (f.name +: LogTable.prevNames(f)).foreach(names.add)
        (f.dataType, n.get("type")) match {
          case (nested: StructType, t) if t.isObject &&
              t.get("type").asText() == "struct" =>
            e.set[ObjectNode]("fields", entries(t.get("fields"), nested))
            ()
          case _ => ()
        }
      }
      arr
    }
    entries(schemaNode.get("fields"), schema)
  }
}

/** INDEPENDENT Iceberg v2 reader over an [[IcebergExport]]ed table:
  * consumes ONLY the Iceberg metadata (version-hint → metadata JSON →
  * manifest-list Avro → manifest Avro → parquet files + per-file
  * partition structs + name mapping), never graft's manifest — the
  * proof that the exported metadata is self-sufficient, checked
  * hash-exact by the `lake_iceberg` oracle. Identity-partition values
  * come from partition metadata (the files don't store the column,
  * per the spec's identity-transform rule); renamed columns resolve
  * through `schema.name-mapping.default` (current + historical
  * physical names coalesced, the standard id-less-footer path).
  *
  * Scale note: a production reader plans identity values as per-split
  * constant vectors (what graft's own DSv2 scan does); this harness
  * reader unions one scan per live partition tuple, which is O(tuples)
  * plan nodes — fine for a verification read, not the steady-state
  * scan path. */
object IcebergRead {
  private[sources] val NullDir = "__HIVE_DEFAULT_PARTITION__"
  private val mapper = new ObjectMapper()

  /** One parsed Iceberg v2 table: current schema (plain Spark types),
    * the raw schema node (field ids), the name mapping, the default
    * spec's fields, and every live data-file entry with its FULL
    * partition record (all spec fields, raw Avro values). */
  private[sources] final case class IceMeta(
      schemaNode: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType,
      mapping: Map[Int, Seq[String]],
      /** The DEFAULT spec's fields (what single-spec consumers read —
        * import refuses mixed-spec entries before trusting this). */
      specFields: Seq[com.fasterxml.jackson.databind.JsonNode],
      fieldNameById: Map[Int, String],
      entries: Seq[IceEntry],
      /** EVERY partition spec by id (spec evolution: entries carry the
        * spec their manifest bound to; the scan resolves each group's
        * identity columns through its own spec). */
      specsById: Map[Int, Seq[com.fasterxml.jackson.databind.JsonNode]],
      defaultSpecId: Int,
      /** Delete files from delete manifests (position content=1 /
        * equality content=2) — applied by readers, materialized by
        * import. */
      deleteFiles: Seq[IceDelete],
      /** Format-v3 `initial-default`s for TOP-LEVEL atomic columns
        * (name → Spark literal): a file written BEFORE the column
        * joined the schema reads this constant, not null. Only the
        * supported subset lands here — anything else refused at
        * parse. */
      defaults: Map[String, Any] = Map.empty,
      /** The table metadata's v3 `next-row-id` watermark (None on
        * v1/v2 or a v3 table predating its lineage epoch) — what
        * import adopts so post-import row-id assignment resumes
        * beyond every foreign-assigned range. */
      nextRowId: Option[Long] = None) {
    def fieldId(name: String): Int = schemaNode.get("fields").elements()
      .asScala.find(_.get("name").asText() == name).get.get("id").asInt()
    /** Candidate physical names for a top-level field, current first. */
    def namesOf(name: String): Seq[String] = namesAt(Seq(name))
    /** The schema-node field id at a dotted path of CURRENT names
      * (top-level field, then struct members). */
    private def idAt(path: Seq[String]): Option[Int] = {
      var fields = schemaNode.get("fields")
      var id = -1
      path.foreach { seg =>
        if (fields == null) return None
        val f = fields.elements().asScala
          .find(_.get("name").asText() == seg).getOrElse(return None)
        id = f.get("id").asInt()
        val t = f.get("type")
        fields =
          if (t != null && t.isObject && t.get("type").asText() == "struct")
            t.get("fields")
          else null
      }
      if (id < 0) None else Some(id)
    }
    /** Candidate physical names at any nesting depth (current first) —
      * the name mapping records nested entries recursively, so a
      * renamed struct member's historical name resolves here. */
    def namesAt(path: Seq[String]): Seq[String] =
      idAt(path).flatMap(mapping.get).filter(_.nonEmpty)
        .getOrElse(Seq(path.last))
  }
  private[sources] final case class IceEntry(path: String, rows: Long,
      bytes: Long, part: Map[String, Any], seq: Long,
      /** The partition spec the entry's manifest bound to (spec-id). */
      specId: Int = 0,
      /** Column stats when the manifest carries them (field id →
        * single-value binary / null count) — what import adopts into
        * graft's per-file ranges so stat pruning works on foreign
        * files immediately. Absent = unknown, never prunes. */
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      /** Format-v3 ROW LINEAGE: the stable `_row_id` of this file's
        * first row — explicit from the manifest entry (field 142), or
        * reconstructed by the spec's inheritance arithmetic when the
        * entry is null and the manifest list carries `first_row_id`.
        * None = the table records no lineage (v1/v2, or a v3 table
        * predating its lineage epoch) → null metadata columns. */
      firstRowId: Option[Long] = None)
  private[sources] final case class IceDelete(path: String, content: Int,
      seq: Long, equalityIds: Seq[Int], rows: Long,
      /** file_path bounds (reserved id 2147483546) when the delete
        * manifest recorded them: the shard covers only data files in
        * [lo, hi], so readers skip it for groups outside the interval.
        * None = unknown, always applies. */
      pathBounds: Option[(String, String)] = None,
      /** Format-v3 DELETION VECTOR coordinates when `path` is a Puffin
        * file instead of a position-delete parquet:
        * (referenced data file, blob offset, blob size). A DV targets
        * exactly ONE data file — the strongest targeting there is. */
      dv: Option[(String, Long, Long)] = None)

  /** Parse an Iceberg v2 table snapshot from its metadata directory —
    * the shared walk behind [[read]] and
    * [[IcebergImport.importTable]]. `snapshotId` picks a historical
    * snapshot (foreign time travel over a history export); default is
    * the current one. The schema is the SNAPSHOT's schema (per its
    * schema-id), exactly Iceberg's time-travel semantics. */
  private[sources] def load(dest: String,
      snapshotId: Option[Long] = None): IceMeta = {
    val metaDir = Paths.get(dest).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
    loadMeta(meta, snapshotId)
  }

  /** Parse from an already-fetched table-metadata node — the entry
    * point for metadata served over the REST catalog protocol
    * ([[IcebergRestCatalog]]), where the JSON arrives inline in the
    * LoadTableResult instead of from a version-hint file walk. */
  private[sources] def loadMeta(meta: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Option[Long] = None): IceMeta = {
    // format v2 is the native seam; format v1 FOREIGN tables read too
    // (the Hive-era installed base): no sequence numbers (all 0 — v1
    // has no row-level deletes, so ranking never matters), optional
    // legacy single-`schema`/`partition-spec` metadata shapes, and
    // the pre-manifest-list `manifests` snapshot array.
    // Format v3 FOREIGN tables read too: deletion vectors (Puffin
    // `deletion-vector-v1` blobs referenced per data file) apply
    // exactly; row-lineage metadata (`next-row-id`, snapshot
    // `first-row-id`, entry `first_row_id`) parses so read(withLineage)
    // can serve `_row_id` and importTable can ADOPT the assignment;
    // v3-only schema features with read-time
    // SEMANTICS (non-null `initial-default` column defaults, new
    // types) refuse loudly below — exact-or-refuse, never silent nulls
    val fv = meta.get("format-version").asInt()
    require(fv == 1 || fv == 2 || fv == 3,
      s"only Iceberg format-version 1, 2 or 3 is supported, got $fv")
    val snapId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong())
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $snapId in the exported table"))
    val schemaNode = Option(meta.get("schemas")) match {
      case Some(arr) =>
        val schemaId =
          if (snapNode.has("schema-id")) snapNode.get("schema-id").asInt()
          else meta.get("current-schema-id").asInt()
        arr.elements().asScala
          .find(_.get("schema-id").asInt() == schemaId)
          .getOrElse(throw new IllegalStateException("snapshot schema not found"))
      case None =>
        // v1's legacy single-schema shape (no `schemas` array)
        require(fv == 1, "format v2 metadata must carry 'schemas'")
        Option(meta.get("schema")).getOrElse(throw new IllegalStateException(
          "v1 metadata carries neither 'schemas' nor 'schema'"))
    }
    val schema = parseStruct(schemaNode, topLevel = true)
    val fieldNameById: Map[Int, String] = schemaNode.get("fields").elements()
      .asScala.map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val mapping: Map[Int, Seq[String]] = {
      val p = meta.get("properties")
      if (p == null || p.get("schema.name-mapping.default") == null) Map.empty
      else {
        // flatten RECURSIVELY: nested mapping entries (struct members)
        // carry their own field-ids and names — what nested rename
        // resolution reads
        def walk(arr: com.fasterxml.jackson.databind.JsonNode)
            : Seq[(Int, Seq[String])] =
          arr.elements().asScala.flatMap { e =>
            val self = e.get("field-id").asInt() ->
              e.get("names").elements().asScala.map(_.asText()).toSeq
            val kids = Option(e.get("fields")).map(walk).getOrElse(Nil)
            self +: kids
          }.toSeq
        walk(mapper.readTree(
          p.get("schema.name-mapping.default").asText())).toMap
      }
    }
    val (specId, specsById) = Option(meta.get("partition-specs")) match {
      case Some(arr) =>
        (meta.get("default-spec-id").asInt(),
          arr.elements().asScala.map(s =>
            s.get("spec-id").asInt() ->
              s.get("fields").elements().asScala.toSeq).toMap)
      case None =>
        // v1's legacy flat `partition-spec` shape (bare fields array)
        require(fv == 1, "format v2 metadata must carry 'partition-specs'")
        (0, Map(0 -> Option(meta.get("partition-spec")).toSeq
          .flatMap(_.elements().asScala)))
    }
    val specFields = specsById.getOrElse(specId,
      throw new IllegalArgumentException(
        s"default-spec-id $specId not in partition-specs"))
    // manifest-list record: path, content, the manifest's own sequence
    // number (v2 INHERITANCE source — Iceberg Java writes null entry
    // sequence numbers for ADDED entries), and its partition_spec_id.
    // A v1-WRITTEN list — a plain v1 table, OR the retained early
    // snapshots of a v1→v2 UPGRADED table (the upgrade keeps old
    // manifest lists; the spec says v2 readers default their missing
    // sequence numbers to 0) — simply LACKS content/sequence_number in
    // its Avro schema: every manifest is data at sequence 0; v1 wrote
    // no delete files, so inheritance ranking can never matter for
    // them. Only a v2-SCHEMA list with a NULL value refuses
    // (spec-invalid); schema ABSENCE is the v1-written signal.
    case class MF(path: String, content: Int, seq: Long, specId: Int,
        firstRowId: Option[Long])
    val manifests: Seq[MF] = Option(snapNode.get("manifest-list")) match {
      case Some(lp) =>
        val listPath = lp.asText()
        readAvro(listPath).map { r =>
          // GenericRecord.get THROWS on a schema-absent field — probe
          // the record's schema to distinguish v1-written (absent →
          // default) from v2-corrupt (present but null → refuse)
          def v1Default[T](name: String, v1: T)(get: AnyRef => T): T =
            Option(r.getSchema.getField(name)) match {
              case None => v1
              case Some(_) => Option(r.get(name)).map(get).getOrElse(
                throw new IllegalArgumentException(
                  s"manifest list $listPath carries a NULL '$name' — " +
                    "spec-invalid for a v2-written manifest list"))
            }
          MF(r.get("manifest_path").toString,
            v1Default("content", 0)(_.asInstanceOf[Int]),
            v1Default("sequence_number", 0L)(_.asInstanceOf[Long]),
            r.get("partition_spec_id").asInstanceOf[Int],
            // v3 row lineage: the manifest's first-row-id watermark
            // (field 520) — the inheritance base for null entry ids;
            // schema-absent or null = no manifest-level lineage
            Option(r.getSchema.getField("first_row_id"))
              .flatMap(_ => Option(r.get("first_row_id"))
                .map(_.asInstanceOf[Long])))
        }
      case None =>
        // the OLDEST v1 shape: the snapshot inlines its manifest paths
        require(fv == 1,
          "format v2 snapshots must reference a manifest-list file")
        Option(snapNode.get("manifests")).toSeq
          .flatMap(_.elements().asScala)
          .map(p => MF(p.asText(), 0, 0L, specId, None))
    }
    val (deleteManifests, dataManifests) = manifests.partition(_.content == 1)
    def liveEntries(mp: String): Seq[GenericRecord] =
      readAvro(mp).filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
    /** v2 sequence-number inheritance: a null entry sequence_number is
      * legal ONLY for ADDED (status 1) entries and means "inherit the
      * enclosing manifest-list record's sequence_number". A null on an
      * EXISTING (status 0) entry is spec-invalid — refuse rather than
      * guess (a wrong default of 0 would mis-rank the file below every
      * equality tombstone and silently over-delete). */
    def entrySeq(e: GenericRecord, mf: MF): Long =
      Option(e.getSchema.getField("sequence_number")) match {
        // a v1-WRITTEN manifest (plain v1 table or the early snapshots
        // of an upgraded one) has no sequence field in its schema at
        // all — every entry inherits the list record's (0)
        case None => mf.seq
        case Some(_) => Option(e.get("sequence_number"))
          .map(_.asInstanceOf[Long]).getOrElse {
            require(e.get("status").asInstanceOf[Int] == 1,
              s"manifest entry in ${mf.path} has null sequence_number " +
                "with EXISTING status — spec-invalid, refusing")
            mf.seq
          }
      }
    val entries = dataManifests.flatMap { mf =>
      // the partition struct parses with the MANIFEST's OWN spec's
      // field names (per-manifest spec-id — Iceberg's encoding of
      // spec evolution); an unknown spec-id refuses rather than
      // silently reading absent fields as null
      val pnames = specsById.getOrElse(mf.specId,
        throw new IllegalArgumentException(
          s"data manifest ${mf.path} uses partition spec ${mf.specId}, " +
            "which is not in the table metadata's partition-specs"))
        .map(_.get("name").asText())
      // v3 row-lineage inheritance: a NULL entry first_row_id on an
      // ADDED entry means "manifest first_row_id + the record counts
      // of preceding ADDED entries with null first_row_id" (the spec's
      // assignment arithmetic); explicit values consume no inheritance
      // space. An EXISTING entry with a null id under a
      // lineage-carrying manifest is spec-invalid (rewritten manifests
      // must preserve assigned ids) — refuse rather than re-assign.
      var inheritNext: Long = mf.firstRowId.getOrElse(0L)
      liveEntries(mf.path).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        require(df.get("file_format").toString == "PARQUET",
          "only PARQUET data files are supported")
        val firstRowId: Option[Long] =
          Option(df.getSchema.getField("first_row_id")) match {
            case None => None
            case Some(_) => Option(df.get("first_row_id"))
                .map(_.asInstanceOf[Long]) match {
              case some @ Some(_) => some
              case None => mf.firstRowId match {
                case Some(_) =>
                  require(e.get("status").asInstanceOf[Int] == 1,
                    s"manifest entry in ${mf.path} has null first_row_id " +
                      "with EXISTING status under a lineage-carrying " +
                      "manifest — spec-invalid, refusing")
                  val v = inheritNext
                  inheritNext += df.get("record_count").asInstanceOf[Long]
                  Some(v)
                case None => None // no lineage recorded → null metadata
              }
            }
          }
        val part = df.get("partition").asInstanceOf[GenericRecord]
        // the spec's k-v-array-encoded maps, when the manifest's own
        // schema carries them (absence = no stats recorded)
        def kvMap[T](name: String)(conv: AnyRef => T): Map[Int, T] =
          Option(df.getSchema.getField(name))
            .flatMap(_ => Option(df.get(name))).toSeq
            .flatMap(_.asInstanceOf[java.util.List[_]].asScala)
            .map { r0 =>
              val r = r0.asInstanceOf[GenericRecord]
              r.get("key").asInstanceOf[Int] -> conv(r.get("value"))
            }.toMap
        def bytesOf(v: AnyRef): Array[Byte] = {
          val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
          val out = new Array[Byte](bb.remaining())
          bb.get(out)
          out
        }
        IceEntry(df.get("file_path").toString,
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          pnames.map(p => p -> part.get(p)).toMap,
          entrySeq(e, mf), specId = mf.specId,
          lowerBounds = kvMap("lower_bounds")(bytesOf),
          upperBounds = kvMap("upper_bounds")(bytesOf),
          nullCounts = kvMap("null_value_counts")(_.asInstanceOf[Long]),
          firstRowId = firstRowId)
      }
    }
    val deleteFiles = deleteManifests.flatMap { mf =>
      liveEntries(mf.path).map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val content = df.get("content").asInstanceOf[Int]
        require(content == 1 || content == 2,
          "only POSITION/EQUALITY delete files are supported")
        // format-v3 DELETION VECTORS: a position delete whose file is
        // a Puffin blob (content 1, format PUFFIN) referencing exactly
        // one data file at (content_offset, content_size_in_bytes).
        // The three coordinates are spec-REQUIRED for DVs — refuse a
        // partial record rather than scanning the Puffin file blind.
        if (content == 1 && df.get("file_format").toString == "PUFFIN") {
          def reqField(name: String): AnyRef = {
            require(df.getSchema.getField(name) != null &&
              df.get(name) != null,
              s"deletion-vector entry in ${mf.path} lacks '$name' — " +
                "spec-required for Puffin DVs, refusing")
            df.get(name)
          }
          val refFile = reqField("referenced_data_file").toString
          val off = reqField("content_offset").asInstanceOf[Long]
          val sz = reqField("content_size_in_bytes").asInstanceOf[Long]
          IceDelete(df.get("file_path").toString, content,
            entrySeq(e, mf), Nil,
            df.get("record_count").asInstanceOf[Long],
            dv = Some((refFile, off, sz)))
        } else {
        require(df.get("file_format").toString == "PARQUET",
          "only PARQUET delete files are supported")
        val eqIds = Option(df.get("equality_ids")) match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.map(_.asInstanceOf[Number].intValue())
          case _ => Nil
        }
        // the file_path bounds (reserved id 2147483546) a range-sharded
        // writer records — what lets the reader skip whole shards per
        // layout group (schema-absent or un-recorded = always applies)
        def pathBound(field: String): Option[String] =
          Option(df.getSchema.getField(field))
            .flatMap(_ => Option(df.get(field))).toSeq
            .flatMap(_.asInstanceOf[java.util.List[_]].asScala)
            .map(_.asInstanceOf[GenericRecord])
            .find(_.get("key").asInstanceOf[Int] == 2147483546)
            .map { kv =>
              val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
                .duplicate()
              val out = new Array[Byte](bb.remaining()); bb.get(out)
              new String(out, StandardCharsets.UTF_8)
            }
        val bounds = for (lo <- pathBound("lower_bounds");
          hi <- pathBound("upper_bounds")) yield (lo, hi)
        IceDelete(df.get("file_path").toString, content,
          entrySeq(e, mf), eqIds,
          df.get("record_count").asInstanceOf[Long],
          pathBounds = bounds)
        }
      }
    }
    IceMeta(schemaNode, schema, mapping, specFields, fieldNameById,
      entries, specsById, specId, deleteFiles,
      defaults = parseDefaults(schemaNode),
      nextRowId = Option(meta.get("next-row-id")).map(_.asLong()))
  }

  /** TOP-LEVEL column names in a parquet file's footer — the per-file
    * presence check `initial-default` fill keys on (a file written
    * before the column joined the schema LACKS it physically; a file
    * written after may hold genuine nulls). Driver-side metadata read,
    * no Spark job. */
  private[sources] def footerTopLevelColumns(path: String): Set[String] = {
    val r = HadoopConf.openParquet(new org.apache.hadoop.fs.Path(path))
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally r.close()
  }

  /** The defaulted columns `path`'s footer does NOT carry (under any
    * historical physical name) — the columns whose values this file
    * reads as `initial-default`. Empty when the schema has no
    * defaults (no footer I/O then). */
  private[sources] def absentDefaultCols(path: String, m: IceMeta)
      : Set[String] =
    if (m.defaults.isEmpty) Set.empty
    else {
      val cols = footerTopLevelColumns(path)
      m.defaults.keySet.filterNot(c => m.namesOf(c).exists(cols.contains))
    }

  /** Does a position-delete shard with these recorded file_path bounds
    * possibly cover any of the (plain-normalized) group paths? Bounds
    * normalize with the same scheme strip as the compare keys — a
    * prefix strip shared by all of a shard's values is
    * order-preserving, and a foreign writer's TRUNCATED bounds only
    * widen the interval, so the test is always conservative. No
    * bounds = unknown coverage = always applies. */
  private[sources] def shardApplies(bounds: Option[(String, String)],
      plainGroupPaths: Seq[String]): Boolean = bounds match {
    case Some((lo, hi)) =>
      val plo = lo.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
      val phi = hi.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
      plainGroupPaths.exists(p => p >= plo && p <= phi)
    case None => true
  }

  /** `withLineage = true` (format-v3 tables) appends the spec's row
    * lineage metadata columns: `_row_id` (the row's table-stable id —
    * the file's first_row_id + the row's position) and
    * `_last_updated_sequence_number` (the data sequence number of the
    * file carrying the row). Rows from files without recorded lineage
    * read null in both — never a guessed id. */
  def read(spark: SparkSession, dest: String,
      versionAsOf: Option[Long] = None,
      withLineage: Boolean = false): DataFrame =
    readMeta(spark, load(dest, versionAsOf), withLineage)

  /** Resolve a named ref (tag or branch) from the table metadata's
    * `refs` map to its snapshot id — how a foreign engine answers
    * `VERSION AS OF '<name>'` over the export. */
  def refSnapshot(dest: String, name: String): Long = {
    val metaDir = Paths.get(dest).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
    val refs = meta.get("refs")
    require(refs != null && refs.get(name) != null,
      s"no ref '$name' in the Iceberg table at $dest (refs: " +
        (if (refs == null) "none"
         else refs.fieldNames().asScala.mkString(", ")) + ")")
    refs.get(name).get("snapshot-id").asLong()
  }

  /** [[read]] at a named ref — tag-addressed foreign time travel. */
  def readRef(spark: SparkSession, dest: String, name: String): DataFrame =
    read(spark, dest, Some(refSnapshot(dest, name)))

  /** The snapshot log of an Iceberg table as a DataFrame — one row
    * per snapshot (snapshot_id, parent_id, timestamp_ms, operation,
    * manifest_list, schema_id, is_current), in the metadata JSON's
    * snapshots-array order. Backs the
    * `iceberg_snapshots('<path>')` SQL table function (DuckDB's
    * convention) — the discovery step before a time-traveling
    * `iceberg_scan(path, id)`. Pure metadata: never opens a manifest
    * or data file. */
  def snapshots(spark: SparkSession, dest: String): DataFrame = {
    val metaDir = Paths.get(dest).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
    val rows = meta.get("snapshots").elements().asScala.map { s =>
      Row(s.get("snapshot-id").asLong(),
        Option(s.get("parent-snapshot-id")).map(_.asLong())
          .map(java.lang.Long.valueOf).orNull,
        s.get("timestamp-ms").asLong(),
        Option(s.get("summary")).flatMap(su =>
          Option(su.get("operation"))).map(_.asText()).orNull,
        // null for the oldest v1 shape (inline `manifests` array)
        Option(s.get("manifest-list")).map(_.asText()).orNull,
        Option(s.get("schema-id")).map(_.asInt())
          .map(Integer.valueOf).orNull,
        s.get("snapshot-id").asLong() ==
          meta.get("current-snapshot-id").asLong())
    }.toSeq
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("timestamp_ms", LongType, nullable = false),
      StructField("operation", StringType, nullable = true),
      StructField("manifest_list", StringType, nullable = true),
      StructField("schema_id", IntegerType, nullable = true),
      StructField("is_current", BooleanType, nullable = false))))
  }

  /** Read a table served over the Iceberg REST catalog protocol
    * ([[IcebergRestCatalog]] or any spec-conformant read endpoint):
    * GET the LoadTableResult and scan from the WIRE-carried metadata —
    * no version-hint walk, no graft manifest. Data and manifest access
    * stays direct file I/O, exactly as in a real REST-catalog
    * deployment (the catalog serves pointers, never data), so the
    * returned frame remains valid after the server goes away. */
  def readRest(spark: SparkSession, catalogUri: String, namespace: String,
      table: String, versionAsOf: Option[Long] = None,
      refAsOf: Option[String] = None,
      withLineage: Boolean = false): DataFrame = {
    val url = s"$catalogUri/v1/namespaces/$namespace/tables/$table"
    val resp = Http.client.send(
      Http.request(url).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"REST catalog answered ${resp.statusCode()} for $url: ${resp.body()}")
    val meta = mapper.readTree(resp.body()).get("metadata")
    require(meta != null && !meta.isNull,
      s"LoadTableResult from $url carries no inline metadata")
    // a named ref resolves from the WIRE metadata's refs map — no
    // second round trip, no path access
    val snapId = versionAsOf.orElse(refAsOf.map { r =>
      val refs = meta.get("refs")
      require(refs != null && refs.get(r) != null,
        s"no ref '$r' in the REST-served table $namespace.$table (refs: " +
          (if (refs == null) "none"
           else refs.fieldNames().asScala.mkString(", ")) + ")")
      refs.get(r).get("snapshot-id").asLong()
    })
    readMeta(spark, loadMeta(meta, snapId), withLineage)
  }

  /** The table's registered partition-statistics file for its CURRENT
    * snapshot, read back as a frame (the spec's schema: unified
    * `partition` struct, `spec_id`, `data_record_count`,
    * `data_file_count`, `total_data_file_size_in_bytes`). Refuses when
    * the metadata registers none — absence of statistics is a fact,
    * not an empty frame (a CBO consumer must fall back to manifests,
    * not trust a fabricated zero-row answer). */
  def partitionStats(spark: SparkSession, src: String): DataFrame = {
    val metaDir = Paths.get(src).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")),
      StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
    val curSnap = meta.get("current-snapshot-id").asLong()
    val entry = Option(meta.get("partition-statistics")).toSeq
      .flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == curSnap)
      .getOrElse(throw new IllegalArgumentException(
        s"table at $src registers no partition-statistics file for its " +
          s"current snapshot $curSnap — compute from manifests instead"))
    spark.read.parquet(entry.get("statistics-path").asText())
  }

  /** Read a VIEW served over the Iceberg REST catalog protocol: GET
    * the LoadViewResult, pick the current version's SQL representation
    * by dialect preference (exact-or-refuse — executing a dialect this
    * engine doesn't speak would silently compute something else), and
    * run it in the session. View SQL resolves relations against the
    * SESSION's catalog/temp views, exactly as the view spec intends
    * (a view stores TEXT plus the defaults to resolve it under — the
    * serving engine provides the relations). */
  def readRestView(spark: SparkSession, catalogUri: String,
      namespace: String, view: String,
      dialects: Seq[String] = Seq("spark")): DataFrame = {
    val url = s"$catalogUri/v1/namespaces/$namespace/views/$view"
    val resp = Http.client.send(
      Http.request(url).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"REST catalog answered ${resp.statusCode()} for $url: ${resp.body()}")
    val meta = mapper.readTree(resp.body()).get("metadata")
    require(meta != null && !meta.isNull,
      s"LoadViewResult from $url carries no inline metadata")
    val cur = meta.get("current-version-id").asInt()
    val version = meta.get("versions").elements().asScala
      .find(_.get("version-id").asInt() == cur)
      .getOrElse(throw new IllegalArgumentException(
        s"view $namespace.$view: current-version-id $cur not in versions"))
    // tolerate foreign catalogs' partial representations: only fully-
    // formed sql entries are candidates (a missing dialect/sql can
    // never be safely executed anyway)
    val reps = version.get("representations").elements().asScala
      .filter(r => Option(r.get("type")).exists(_.asText() == "sql") &&
        r.hasNonNull("dialect") && r.hasNonNull("sql"))
      .map(r => r.get("dialect").asText() -> r.get("sql").asText()).toSeq
    val sql = dialects.collectFirst {
      case d if reps.exists(_._1 == d) => reps.find(_._1 == d).get._2
    }.getOrElse(throw new IllegalArgumentException(
      s"view $namespace.$view has no SQL representation in dialects " +
        s"${dialects.mkString(", ")} (has: ${reps.map(_._1).mkString(", ")})" +
        " — refusing to execute a foreign dialect"))
    spark.sql(sql)
  }

  /** The scan half of [[read]], over an already-parsed [[IceMeta]] —
    * shared with the REST-catalog read path, where the metadata came
    * over HTTP rather than from the version-hint walk. */
  private[sources] def readMeta(spark: SparkSession, m: IceMeta,
      withLineage: Boolean = false): DataFrame =
    graft.Pins.scope(scanMeta(_, spark, m, withLineage))

  /** [[readMeta]]'s body: the returned plan reads equality-delete key
    * frames checkpointed in `pins`. */
  private def scanMeta(pins: graft.Pins, spark: SparkSession, m: IceMeta,
      withLineage: Boolean): DataFrame = {
    val schema = m.schema
    case class IdField(pname: String, column: String, dt: DataType)
    // identity columns resolve PER SPEC (spec evolution: each entry
    // group scans under the spec its manifest bound to — files written
    // before an identity column joined the spec store it physically,
    // files after read it from partition metadata)
    val identityCache =
      scala.collection.mutable.Map[Int, Seq[IdField]]()
    def identityOf(specId: Int): Seq[IdField] =
      identityCache.getOrElseUpdate(specId,
        m.specsById(specId)
          .filter(_.get("transform").asText() == "identity")
          .map { f =>
            val colName = m.fieldNameById(f.get("source-id").asInt())
            IdField(f.get("name").asText(), colName,
              schema.fields.find(_.name == colName).get.dataType)
          })
    val lineageFields = Seq(
      StructField("_row_id", LongType, nullable = true),
      StructField("_last_updated_sequence_number", LongType, nullable = true))
    if (m.entries.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        if (withLineage) StructType(schema.fields ++ lineageFields)
        else schema)

    // columns the FILES store (identity partition cols live only in
    // metadata); physical twins carry every mapped historical name —
    // at EVERY nesting depth: a struct's physical type unions its
    // members' current AND historical names, so pre-rename files fill
    // the old member and post-rename files the new one (the reader
    // coalesces below). Renames under array/map elements don't exist
    // (graft refuses them at DDL), so those pass through.
    // DELIBERATELY paralleling (not reusing) LogTable's own nested
    // machinery: this reader's proof value is its INDEPENDENCE — it
    // derives everything from the exported Iceberg metadata alone, so
    // a bug in graft's read path cannot hide by being shared here.
    def physType(dt: DataType, path: Seq[String]): DataType = dt match {
      case st: StructType => StructType(st.fields.flatMap(mf =>
        m.namesAt(path :+ mf.name).map(n =>
          StructField(n, physType(mf.dataType, path :+ mf.name),
            nullable = true))))
      case at: ArrayType => at.copy(elementType = physType(at.elementType, path))
      case mt: MapType => mt.copy(valueType = physType(mt.valueType, path))
      case other => other
    }
    def physSchemaOf(identity: Seq[IdField]): StructType = {
      val dataFields = schema.fields.filterNot(f =>
        identity.exists(_.column == f.name))
      StructType(dataFields.flatMap(f =>
        m.namesOf(f.name).map(n =>
          StructField(n, physType(f.dataType, Seq(f.name)), nullable = true))))
    }
    // rebuild a struct value under its CURRENT member names, coalescing
    // each member's historical physical twins (recursively); a null
    // struct stays null rather than becoming a struct of nulls. A
    // history-free struct passes through untouched.
    def needsRebuild(dt: DataType, path: Seq[String]): Boolean = dt match {
      case st: StructType => st.fields.exists(mf =>
        m.namesAt(path :+ mf.name).size > 1 ||
          needsRebuild(mf.dataType, path :+ mf.name))
      case at: ArrayType => needsRebuild(at.elementType, path)
      case mt: MapType => needsRebuild(mt.valueType, path)
      case _ => false
    }
    // the NULLABLE form of a type, deep: coalesced historical twins
    // are nullable by construction, and a cast onto a NOT NULL member
    // is refused outright
    def nullableDeep(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nullableDeep(a.elementType), containsNull = true)
      case mt: MapType => mt.copy(valueType = nullableDeep(mt.valueType),
        valueContainsNull = true)
      case o => o
    }
    def rebuildNested(c: Column, dt: DataType, path: Seq[String]): Column =
      dt match {
        case st: StructType if needsRebuild(st, path) =>
          val members = st.fields.toSeq.map { mf =>
            val ns = m.namesAt(path :+ mf.name)
            val raw = if (ns.size == 1) c.getField(ns.head)
              else coalesce(ns.map(c.getField): _*)
            rebuildNested(raw, mf.dataType, path :+ mf.name).as(mf.name)
          }
          val target = nullableDeep(st)
          org.apache.spark.sql.functions.when(c.isNull, lit(null).cast(target))
            .otherwise(org.apache.spark.sql.functions.struct(members: _*)
              .cast(target))
        case _ => c
      }

    // one scan per live partition tuple, identity values attached as
    // typed literals (null for __HIVE_DEFAULT_PARTITION__/absent)
    // position deletes (merge-on-read exports): anti-join each scan
    // on (normalized file path, row index) against the delete rows
    val posFiles = m.deleteFiles.filter(d => d.content == 1 && d.dv.isEmpty)
    // format-v3 DELETION VECTORS: one Puffin blob per data file —
    // decoded ON EXECUTORS (a DV can hold millions of positions; the
    // driver only ships (puffin path, offset, size, target) tuples)
    // and applied through the same (path, pos) anti-join as parquet
    // position deletes. Targeting is exact: a DV joins a scan group
    // only when its referenced data file is in the group.
    val dvFiles = m.deleteFiles.filter(_.dv.isDefined)
    def plainP(p: String): String =
      p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    // DELETE-FILE TARGETING: a shard whose recorded file_path bounds
    // miss every path in the group never opens (the manifest-level
    // matching a range-sharded writer enables — ours records exact
    // bounds; a foreign writer's TRUNCATED bounds only widen the
    // interval, so targeting stays conservative). Bounds normalize
    // with the same scheme-strip as the compare keys: a prefix strip
    // shared by all of a shard's values is order-preserving.
    // The delete rows' file_path values normalize EXACTLY like the
    // scan-side _ice_f below — a foreign writer records file:// URIs
    // in its position-delete parquets (Iceberg Java does) and a raw
    // compare would never match, silently resurrecting deleted rows
    def posDeletesFor(groupPaths: Seq[String]): Option[DataFrame] = {
      val gp = groupPaths.map(plainP)
      val hit = posFiles.filter(d => shardApplies(d.pathBounds, gp))
      val parquetSide =
        if (hit.isEmpty) None
        else Some(spark.read.parquet(hit.map(_.path): _*)
          .select(org.apache.spark.sql.functions.regexp_replace(
            col("file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/").as("_ice_f"),
            col("pos").as("_ice_p")))
      val gpSet = gp.toSet
      val dvHit = dvFiles.flatMap(d => d.dv.collect {
        case (ref, off, sz) if gpSet.contains(plainP(ref)) =>
          (d.path, off, sz, plainP(ref))
      })
      val dvSide =
        if (dvHit.isEmpty) None
        else Some(PuffinDv.marksFrame(spark, dvHit)
          .toDF("_ice_f", "_ice_p"))
      (parquetSide, dvSide) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }
    }
    // equality deletes: keys apply to data files whose sequence is
    // STRICTLY below the delete's (Iceberg's rule — identical to
    // graft's), resolved per row from a broadcast path→seq map
    val eqDeletes = m.deleteFiles.filter(_.content == 2)
    // the key frame of one eq-delete file, projected to its join
    // columns, MATERIALIZED ONCE (guide §5): the anti-join below runs
    // once per scan group — an identity-partitioned table plans one
    // group per live partition tuple, and the unmaterialized frame
    // re-read the tombstone parquet inside every group's
    // broadcast-build job (5 reads of the same file on lake_iceberg)
    val eqKeysCache = scala.collection.mutable.Map[String, DataFrame]()
    def eqKeysOf(path: String, cols: Seq[String],
        joinCols: Seq[String]): DataFrame =
      eqKeysCache.getOrElseUpdate(path, pins.escaping(spark.read.parquet(path)
        .select(cols.zip(joinCols).map { case (c, jc) => col(c).as(jc) }: _*),
        "the spec reader's lazy scan plan anti-joins this equality-delete key frame"))
    // keys normalized like _ice_f below, so foreign file:// URIs in
    // the manifest still hit the sequence join
    val fileSeq: Map[String, Long] = m.entries.map(e =>
      e.path.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/") -> e.seq).toMap
    def applyDeletes(df: DataFrame, groupPaths: Seq[String]): DataFrame = {
      val needsMeta =
        posFiles.nonEmpty || dvFiles.nonEmpty || eqDeletes.nonEmpty ||
          withLineage
      if (!needsMeta) return df
      var out = df.withColumn("_ice_f",
          org.apache.spark.sql.functions.regexp_replace(
            col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
        .withColumn("_ice_p", col("_metadata.row_index"))
      posDeletesFor(groupPaths).foreach { d =>
        out = out.join(d, Seq("_ice_f", "_ice_p"), "left_anti")
      }
      if (eqDeletes.nonEmpty) {
        // the per-row sequence split is only planned when some data
        // file could OUTRANK a tombstone — the common steady state
        // (every file older than every tombstone) stays one anti-join
        // per delete, no seq column, no dead union branch
        val needSeq = eqDeletes.exists(eq =>
          fileSeq.values.exists(_ >= eq.seq))
        if (needSeq) {
          val sess = spark
          import sess.implicits._
          val seqDf = org.apache.spark.sql.functions.broadcast(
            fileSeq.toSeq.toDF("_ice_f", "_ice_seq"))
          out = out.join(seqDf, Seq("_ice_f"), "left")
        }
        eqDeletes.foreach { eq =>
          val cols = eq.equalityIds.map(m.fieldNameById)
          // the spec forbids equality-delete keys on variant columns;
          // a variant equality join would coerce — refuse, never guess
          cols.foreach(c => require(
            !m.schema.fields.exists(f => f.name == c &&
              f.dataType.isInstanceOf[VariantType]),
            s"equality-delete key '$c' is a variant column — " +
              "spec-invalid, refusing"))
          // join on COALESCED key columns: a renamed key's values live
          // under the historical physical name in pre-rename files —
          // joining on the current name alone would read null there
          // and silently skip the tombstone
          val joinCols = cols.map(c => s"_ice_eqk_$c")
          var lhs = out
          cols.zip(joinCols).foreach { case (c, jc) =>
            val ns = m.namesOf(c)
            lhs = lhs.withColumn(jc,
              if (ns.size == 1) col(ns.head) else coalesce(ns.map(col): _*))
          }
          val keys = eqKeysOf(eq.path, cols, joinCols)
          val joined =
            if (fileSeq.values.forall(_ < eq.seq))
              lhs.join(org.apache.spark.sql.functions.broadcast(keys),
                joinCols, "left_anti")
            else {
              val older = lhs.filter(col("_ice_seq") < eq.seq)
                .join(org.apache.spark.sql.functions.broadcast(keys),
                  joinCols, "left_anti")
              older.unionByName(lhs.filter(col("_ice_seq") >= eq.seq))
            }
          out = joined.drop(joinCols: _*)
        }
        if (needSeq) out = out.drop("_ice_seq")
      }
      // ROW LINEAGE — the spec's uniform read rule: a row's `_row_id`
      // is the file's MATERIALIZED value when stored (a rewriting
      // writer preserves surviving rows' ids explicitly — this
      // reader's scan schema includes the reserved columns, so
      // non-materialized files read them as null), else the entry's
      // first_row_id plus the row's position. Positions survive the
      // delete anti-joins above because `_metadata.row_index` is the
      // PHYSICAL position (deleted rows leave id gaps, as the spec
      // requires). `_last_updated_sequence_number` likewise: stored
      // value, else inherited from the entry's data sequence. Files
      // without recorded lineage (v1/v2 metadata) read null.
      if (withLineage) {
        val sess = spark
        import sess.implicits._
        val lrows = m.entries.flatMap(e =>
          e.firstRowId.map(fr => (plainP(e.path), fr, e.seq)))
        if (lrows.nonEmpty)
          out = out.join(
              org.apache.spark.sql.functions.broadcast(
                lrows.toDF("_ice_f", "_g_frid", "_g_seq")),
              Seq("_ice_f"), "left")
            .withColumn("_row_id", coalesce(col("_row_id"),
              col("_g_frid") + col("_ice_p")))
            .withColumn("_last_updated_sequence_number",
              coalesce(col("_last_updated_sequence_number"),
                col("_g_seq")))
            .drop("_g_frid", "_g_seq")
        // lrows empty: the scanned (stored-or-null) columns stand
      }
      out.drop("_ice_f", "_ice_p")
    }
    // v3 `initial-default` fill keys on PER-FILE footer presence: a
    // file written before the column joined the schema lacks it and
    // reads the default; a file written after reads its stored values
    // (genuine nulls included). The absent-set joins the scan-group
    // key, so each sub-group plans one constant-filled scan — one
    // driver-side footer read per file, only when defaults exist
    // (this harness reader's O(files) planning convention).
    val absentCache = scala.collection.mutable.Map[String, Set[String]]()
    def absentOf(path: String): Set[String] =
      if (m.defaults.isEmpty) Set.empty
      else absentCache.getOrElseUpdate(path, absentDefaultCols(path, m))
    val groups = m.entries.groupBy(e => (e.specId,
      identityOf(e.specId).map(f =>
        f.pname -> e.part.getOrElse(f.pname, null)).toMap,
      absentOf(e.path)))
    groups.map { case ((specId, pvals, absent), es) =>
      val identity = identityOf(specId)
      // withLineage: the reserved lineage columns join the scan
      // schema so MATERIALIZED per-row ids read straight from the
      // files (explicit schema — files lacking them read null and
      // fall back to entry-level inheritance in applyDeletes)
      val scanSchema =
        if (!withLineage) physSchemaOf(identity)
        else StructType(physSchemaOf(identity).fields ++ lineageFields)
      val base = applyDeletes(
        spark.read.schema(scanSchema).parquet(es.map(_.path): _*),
        groupPaths = es.map(_.path))
      val cols: Seq[Column] = schema.fields.toSeq.map { f =>
        identity.find(_.column == f.name) match {
          case Some(idf) =>
            (pvals.getOrElse(idf.pname, null) match {
              case null => lit(null)
              case v => lit(v.toString)
            }).cast(f.dataType).as(f.name)
          case None if absent.contains(f.name) =>
            lit(m.defaults(f.name)).cast(f.dataType).as(f.name)
          case None =>
            val ns = m.namesOf(f.name)
            val raw = if (ns.size == 1) col(ns.head)
              else coalesce(ns.map(col): _*)
            rebuildNested(raw, f.dataType, Seq(f.name)).as(f.name)
        }
      }
      val outCols =
        if (withLineage)
          cols ++ lineageFields.map(lf =>
            col(lf.name).cast(LongType).as(lf.name))
        else cols
      base.select(outCols: _*)
    }.reduce(_.unionByName(_))
  }

  private def readAvro(path: String): Seq[GenericRecord] = {
    val r = DataFileReader.openReader(
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  private[sources] def parseType(n: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (n.isTextual) n.asText() match {
      case "long" => LongType
      case "int" => IntegerType
      case "string" => StringType
      case "double" => DoubleType
      case "float" => FloatType
      case "boolean" => BooleanType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case dec if dec.startsWith("decimal") =>
        val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      // format-v3 `variant`: Iceberg's variant IS the open Parquet
      // variant encoding (twin metadata/value binaries under a VARIANT
      // logical annotation), which Spark 4 reads natively as its own
      // VariantType — so foreign v3 variant columns map 1:1 and flow
      // through scans, DV/delete anti-joins, and variant_get untouched.
      // Physical-layout variations are the parquet reader's concern,
      // and the SHREDDED layout (per-field typed_value subcolumns, the
      // parquet variant-shredding spec) is PROVEN covered: Spark's
      // reader rebuilds exact values from a physically shredded
      // fixture through this seam, SQL, REST and import alike
      // (IcebergExportSpec "v3 SHREDDED variant"). Anything beyond
      // what the reader supports fails loudly at scan time — never
      // silently.
      case "variant" => VariantType
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    } else n.get("type").asText() match {
      case "struct" => parseStruct(n)
      case "list" => ArrayType(parseType(n.get("element")),
        !n.get("element-required").asBoolean())
      case "map" => MapType(parseType(n.get("key")), parseType(n.get("value")),
        !n.get("value-required").asBoolean())
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  /** Decode one field's v3 `initial-default` into a Spark literal —
    * supported for TOP-LEVEL atomic types whose JSON single-value form
    * decodes unambiguously (int/long/string/double/float/boolean);
    * None = unsupported (the caller refuses). `write-default` only
    * binds writers; reads tolerate it. */
  private def decodeDefault(f: com.fasterxml.jackson.databind.JsonNode)
      : Option[Any] = {
    val init = Option(f.get("initial-default")).filterNot(_.isNull)
      .getOrElse(return None)
    val t = f.get("type")
    if (!t.isTextual) return None
    t.asText() match {
      case "int" if init.isIntegralNumber => Some(init.asInt())
      case "long" if init.isIntegralNumber => Some(init.asLong())
      case "string" if init.isTextual => Some(init.asText())
      case "double" if init.isNumber => Some(init.asDouble())
      case "float" if init.isNumber => Some(init.asDouble().toFloat)
      case "boolean" if init.isBoolean => Some(init.asBoolean())
      case _ => None
    }
  }

  /** TOP-LEVEL `initial-default`s of a schema node (name → literal).
    * Unsupported shapes were already refused by [[parseStruct]]. */
  private[sources] def parseDefaults(
      schemaNode: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] =
    schemaNode.get("fields").elements().asScala.flatMap(f =>
      decodeDefault(f).map(f.get("name").asText() -> _)).toMap

  private def parseStruct(n: com.fasterxml.jackson.databind.JsonNode,
      topLevel: Boolean = false): StructType =
    StructType(n.get("fields").elements().asScala.map { f =>
      // v3 column DEFAULTS have read-time semantics: a file written
      // before the column existed must yield `initial-default`, not
      // null. TOP-LEVEL atomic defaults are implemented (read-time
      // constant fill, keyed on per-file footer presence); anything
      // else — nested members, or a type whose JSON single-value form
      // this reader doesn't decode (date/timestamp/decimal/uuid/
      // binary/nested) — still refuses: reading null instead would be
      // silently wrong data.
      val init = Option(f.get("initial-default")).filterNot(_.isNull)
      require(init.isEmpty || (topLevel && decodeDefault(f).isDefined),
        s"column '${f.get("name").asText()}' carries a non-null " +
          "initial-default this reader cannot apply exactly " +
          "(supported: top-level int/long/string/double/float/boolean) " +
          "— refusing rather than reading nulls")
      StructField(f.get("name").asText(), parseType(f.get("type")),
        nullable = !f.get("required").asBoolean())
    }.toSeq)
}

/** IMPORT an Iceberg v2 table as a graft [[LogTable]] — the other
  * direction of the interop seam: a table written in the Iceberg
  * format (by [[IcebergExport]] or any spec-conformant writer whose
  * feature set fits the supported subset) becomes a first-class graft
  * table in ONE metadata-only commit. The data files are adopted IN
  * PLACE by absolute path (zero copy, the [[LogTable.cloneTo]]
  * borrow shape — graft's retention can never reclaim them, the
  * own-root expire guard); the Iceberg schema's field ids become
  * graft field ids, the name mapping's historical names become
  * graft's per-field physical-name history (pre-rename files read
  * correctly through graft's normal coalescing read path), identity
  * spec fields become graft partition columns with per-file values
  * from the manifest entry partition structs, and `truncate[W]`
  * fields become graft truncate transforms (same floor arithmetic,
  * same stored values — graft's pruning applies to the imported
  * layout immediately). After import the table is fully graft-native:
  * every operator, DML surface, and maintenance op applies; writes
  * land under the NEW root.
  *
  * EXACT-OR-REFUSE: delete manifests, non-parquet files, non-v2
  * format, and transforms outside {identity, truncate} (Iceberg's
  * bucket hashes with murmur3, which graft does not reproduce; its
  * date/timestamp-typed day/hour transforms have no µs-long source
  * to prune on) all refuse loudly rather than import approximately. */
object IcebergImport {

  /** Foreign manifest column stats → graft DataFile ranges, adopting
    * only exactly-decodable, order-compatible cases (extracted for
    * unit testing — the guard is a pruning-correctness seam):
    *  - `long` bounds must be the full 8-byte LE form, `int` the
    *    4-byte LE form (the spec's single-value serialization);
    *  - STRING bounds adopt only when both ends pass the same
    *    asciiBounded guard parquetFooterMeta enforces (pure-ASCII,
    *    ≤64 bytes). graft's strRanges pruners compare in Java UTF-16
    *    order while Iceberg's bounds are UTF-8-byte-ordered and may be
    *    truncate(16)+incremented — the orders agree ONLY on ASCII,
    *    where truncation stays conservative (lower = prefix ≤ min,
    *    incremented upper ≥ max in both orders; a 0x7F increment
    *    leaves ASCII and is skipped). Anything else skips — absence
    *    never prunes. */
  private[sources] def adoptedStats(
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      fieldNameById: Map[Int, String],
      schema: StructType)
      : (Map[String, (Long, Long)], Map[String, (String, String)]) = {
    val statRanges = scala.collection.mutable.Map[String, (Long, Long)]()
    val statStrRanges = scala.collection.mutable.Map[String, (String, String)]()
    def asciiBounded(s: String): Boolean =
      s.length <= 64 && s.forall(_ < 128)
    for ((fidV, lo) <- lowerBounds; hi <- upperBounds.get(fidV);
         name <- fieldNameById.get(fidV)) {
      schema.fields.find(_.name == name).map(_.dataType) match {
        case Some(LongType) if lo.length == 8 && hi.length == 8 =>
          def le(b: Array[Byte]): Long =
            java.nio.ByteBuffer.wrap(b)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong()
          statRanges(name) = (le(lo), le(hi))
        case Some(IntegerType) if lo.length == 4 && hi.length == 4 =>
          def le4(b: Array[Byte]): Long =
            java.nio.ByteBuffer.wrap(b)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt().toLong
          statRanges(name) = (le4(lo), le4(hi))
        case Some(StringType) =>
          val ls = new String(lo, StandardCharsets.UTF_8)
          val hs = new String(hi, StandardCharsets.UTF_8)
          if (asciiBounded(ls) && asciiBounded(hs))
            statStrRanges(name) = (ls, hs)
        case _ => // other types: skip — absence never prunes
      }
    }
    (statRanges.toMap, statStrRanges.toMap)
  }

  def importTable(spark: SparkSession, src: String, destRoot: String): LogTable = {
    val m = IcebergRead.load(src)
    // v3 `variant` columns IMPORT as first-class graft columns:
    // graft's schema round-trips Spark's VariantType, its writers
    // annotate the parquet VARIANT logical type, and every stats/
    // pruning path is type-guarded (variant simply never prunes) —
    // so adoption is exact. Equality deletes keyed ON a variant
    // column still refuse at read (spec-invalid).
    // import adopts ONE spec (the default) — a spec-evolved foreign
    // snapshot whose manifests mix specs would need per-file layout
    // adoption graft's manifest doesn't model; the READER handles mixed
    // specs (IcebergRead.readMeta), import refuses-not-guesses
    require(m.entries.forall(_.specId == m.defaultSpecId),
      "cannot import a spec-evolved Iceberg snapshot (data manifests " +
        "bind to different partition specs) — compact/rewrite the " +
        "source to its current spec first, or read it via " +
        "IcebergRead/iceberg_scan instead")
    // schema: Iceberg field ids + name-mapping history → graft field
    // metadata. NESTED mapping history imports too: a renamed struct
    // member's historical names become nested PrevNames metadata, so
    // graft's own coalescing read path resolves pre-rename files'
    // values exactly (silently reading null there would be wrong data)
    def withNestedHistory(dt: org.apache.spark.sql.types.DataType,
        path: Seq[String]): org.apache.spark.sql.types.DataType = dt match {
      case st: StructType => StructType(st.fields.map { mf =>
        val prevs = m.namesAt(path :+ mf.name).drop(1)
        val g = mf.copy(dataType =
          withNestedHistory(mf.dataType, path :+ mf.name))
        if (prevs.isEmpty) g
        else g.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(g.metadata)
            .putStringArray(LogTable.PrevNamesKey, prevs.toArray).build())
      })
      case at: org.apache.spark.sql.types.ArrayType =>
        at.copy(elementType = withNestedHistory(at.elementType, path))
      case mt: org.apache.spark.sql.types.MapType =>
        mt.copy(valueType = withNestedHistory(mt.valueType, path))
      case other => other
    }
    val schema = StructType(m.schema.fields.map { f =>
      val id = m.fieldId(f.name).toLong
      val prevs = m.namesOf(f.name).drop(1)
      LogTable.withFieldMeta(
        f.copy(dataType = withNestedHistory(f.dataType, Seq(f.name))),
        id, prevs)
    })

    // spec: identity → partition columns; truncate[W] → graft
    // truncate transform (identical floor arithmetic and stored
    // values); anything else refuses
    val TruncRe = "truncate\\[(\\d+)\\]".r
    val BucketRe = "bucket\\[(\\d+)\\]".r
    case class SpecCol(pname: String, graftKey: String,
        partCol: Option[String], transform: Option[Transform])
    val specCols = m.specFields.flatMap { f =>
      // resolved lazily: a void field's source-id may reference a
      // column dropped from the current schema — legal, since void
      // never reads it
      def source = m.fieldNameById(f.get("source-id").asInt())
      val pname = f.get("name").asText()
      f.get("transform").asText() match {
        // void is Iceberg's always-null transform (spec-evolution
        // tombstone for a dropped partition field): it stores nothing
        // and prunes nothing, so skipping it IS the exact import
        case "void" => None
        case "identity" => Some(SpecCol(pname, source, Some(source), None))
        case TruncRe(w) =>
          val t = Transform(source, "truncate", w.toLong)
          Some(SpecCol(pname, t.colName, None, Some(t)))
        case k @ ("day" | "hour" | "year" | "month") =>
          // Iceberg's native day/hour over a TIMESTAMP source is
          // graft's day/hour over the same column: the stored int
          // ordinal (days/hours from epoch) equals graft's derived
          // index on the non-negative epoch domain (negative foreign
          // ordinals refuse below), so pruning applies immediately.
          // year/month ordinals are floor-based CALENDAR arithmetic on
          // both sides — exact on the whole domain, no guard needed.
          // date-sourced transforms (no time component to derive from)
          // refuse below.
          require(m.schema.fields.find(_.name == source)
              .exists(_.dataType == TimestampType),
            s"cannot import '$k' over non-timestamp source '$source' " +
              s"exactly (graft derives $k from µs timestamps) — refusing")
          val t = Transform(source, k, 0L)
          Some(SpecCol(pname, t.colName, None, Some(t)))
        case BucketRe(n) =>
          // Iceberg's bucket is murmur3_x86_32 & MaxInt % n — exactly
          // graft's mbucket, so the foreign layout imports EXACTLY:
          // the manifest's stored bucket indexes equal what graft
          // re-derives, and point-lookup pruning applies immediately.
          // long, string and timestamp sources import exactly (graft's
          // mbucket hashes all three per the spec — 8 LE bytes /
          // UTF-8 bytes / µs long); other source types (decimal/date/
          // uuid byte encodings) refuse rather than mis-prune
          require(m.schema.fields.find(_.name == source)
              .exists(f => f.dataType == LongType ||
                f.dataType == StringType || f.dataType == TimestampType),
            s"cannot import bucket[$n] over source '$source' exactly " +
              "(long/string/timestamp bucket sources are supported) — refusing")
          val t = Transform(source, "mbucket", n.toLong)
          Some(SpecCol(pname, t.colName, None, Some(t)))
        case other => throw new IllegalArgumentException(
          s"cannot import partition transform '$other' exactly " +
            "(identity, truncate[W], bucket[N] and void are supported) — refusing")
      }
    }
    def plain(p: String): String =
      p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    // v3 ROW LINEAGE ADOPTS: the foreign table's stable per-file
    // first_row_id assignments carry into graft metadata (and its
    // next-row-id watermark into table props below), so the `_row_id`
    // continuity the source served survives the migration exactly —
    // graft's v3 export re-serves the adopted ids verbatim and
    // assigns fresh ids only beyond the watermark. Exact-or-refuse:
    // a snapshot where only SOME entries carry lineage has no exact
    // adoption (ids are assigned at commit time, so a partial
    // assignment means metadata caught mid-upgrade) — refuse rather
    // than invent ids for the unassigned files.
    val nLineage = m.entries.count(_.firstRowId.isDefined)
    require(nLineage == 0 || nLineage == m.entries.size,
      s"cannot import row lineage exactly: $nLineage of " +
        s"${m.entries.size} data files carry first_row_id — a " +
        "partially-assigned lineage epoch has no exact adoption; " +
        "complete the source's lineage assignment (rewrite/upgrade) " +
        "first, or read it via IcebergRead/iceberg_scan instead")
    val adoptLineage = nLineage > 0
    val files0 = m.entries.map { e =>
      val parts = specCols.flatMap { sc =>
        e.part.get(sc.pname).flatMap(v => Option(v)) match {
          case Some(v) =>
            // TRUNC-vs-FLOOR seam guard (the export's dual): a foreign
            // floor-based day/hour/truncate ordinal that is NEGATIVE
            // covers pre-1970 rows graft's truncate-toward-zero derive
            // assigns a DIFFERENT ordinal — imported pruning would
            // silently drop matching files. Non-negative foreign
            // ordinals cover only non-negative sources, where the two
            // arithmetics agree exactly.
            sc.transform.filter(t =>
                Set("day", "hour", "truncate")(t.kind)).foreach { t =>
              require(v.toString.toLongOption.forall(_ >= 0L),
                s"cannot import ${t.kind}(${t.source}) exactly: file " +
                  s"${e.path} carries negative partition ordinal $v " +
                  "(pre-1970 rows) — Iceberg's floor arithmetic and " +
                  "graft's truncate-toward-zero disagree there, so " +
                  "graft's pruning would mis-skip. Imports are limited " +
                  "to the non-negative epoch domain")
            }
            // IDENTITY columns are not stored in the data files (the
            // hive convention this import adopts) — graft's scan
            // reconstructs them from the file's OWN path segments, so
            // the path must actually carry `col=value` agreeing with
            // the manifest, or reads would silently yield nulls.
            // Refuse-not-guess: a foreign identity layout without
            // derivable paths stays readable via IcebergRead/
            // iceberg_scan (which reconstruct from the manifest).
            if (sc.partCol.isDefined) {
              val derived = LogTable.partValsOfRel(plain(e.path))
                .get(sc.pname)
              require(derived.contains(v.toString),
                s"cannot import identity partition column " +
                  s"'${sc.pname}' exactly: file ${e.path} carries " +
                  s"manifest value '$v' but its path segments " +
                  s"${if (derived.isEmpty) "carry no such key"
                     else s"say '${derived.get}'"} — graft's scan " +
                  "derives identity values from hive-style path " +
                  "segments, so this layout would read nulls. Read " +
                  "it via IcebergRead/iceberg_scan instead, or " +
                  "rewrite the source hive-style first")
            }
            Some(sc.graftKey -> v.toString)
          case None =>
            // null identity values keep the hive null-dir encoding so
            // graft's null-aware pruning semantics apply; null
            // transform values stay unrecorded (absence never prunes)
            if (sc.partCol.isDefined) Some(sc.graftKey -> IcebergRead.NullDir)
            else None
        }
      }.toMap
      // foreign COLUMN STATS adopt too, so graft's stat pruner skips
      // imported files immediately instead of waiting for a compaction
      // to re-derive footer stats — see [[adoptedStats]] for the
      // exact-decode + ASCII-order guards (absence never prunes)
      val (statRanges, statStrRanges) = adoptedStats(
        e.lowerBounds, e.upperBounds, m.fieldNameById, m.schema)
      val statNulls = e.nullCounts.flatMap { case (fidV, n) =>
        m.fieldNameById.get(fidV).map(_ -> n) }
      // paths normalize to plain form so delete-blob keys, manifest
      // entries and scan-metadata paths all agree; the foreign data
      // SEQUENCE carries over — equality tombstones must keep
      // applying only to files strictly older than themselves
      DataFile(plain(e.path), e.rows, e.bytes, partitions = parts,
        ranges = statRanges, strRanges = statStrRanges,
        seq = e.seq, nulls = statNulls, firstRowId = e.firstRowId)
    }
    // v3 `initial-default` columns: a file written BEFORE the column
    // joined the schema must read the default, not null — but graft's
    // scan null-fills footer-absent columns, so such files cannot
    // adopt zero-copy. They REWRITE under the importing root with the
    // default materialized (the ONLY non-zero-copy import case,
    // bounded to the files predating the ADD COLUMN — one job per
    // affected file; a mass-migration importer would batch these with
    // the eqExportBatch partitionBy-tag pattern). Footer-complete
    // files adopt zero-copy as always. Refuses when a rewrite would
    // invalidate positional state (position deletes/DVs reference
    // (path, pos)) or an identity hive-path layout it cannot
    // reproduce — read those via IcebergRead/iceberg_scan instead.
    val files =
      if (m.defaults.isEmpty) files0
      else {
        val dvRefs = m.deleteFiles.flatMap(_.dv.map(d => plain(d._1))).toSet
        val hasPosParquets = m.deleteFiles.exists(d =>
          d.content == 1 && d.dv.isEmpty)
        val dataDir = Paths.get(destRoot).resolve("data")
        files0.map { f =>
          val miss = IcebergRead.absentDefaultCols(f.path, m)
          if (miss.isEmpty) f
          else {
            require(!hasPosParquets && !dvRefs.contains(f.path),
              s"cannot import defaulted column(s) ${miss.mkString(", ")} " +
                s"exactly: file ${f.path} lacks them and must rewrite, " +
                "but position deletes reference row positions that a " +
                "rewrite cannot be proven to preserve — read via " +
                "IcebergRead/iceberg_scan instead")
            require(specCols.forall(_.partCol.isEmpty),
              s"cannot import defaulted column(s) ${miss.mkString(", ")} " +
                s"exactly: file ${f.path} lacks them and must rewrite, " +
                "but the identity hive-path layout cannot be reproduced " +
                "for rewritten files — read via IcebergRead/iceberg_scan " +
                "instead")
            val raw = spark.read.parquet(f.path)
            val rawCols = raw.columns.toSet
            val outCols: Seq[Column] = m.schema.fields.toSeq.map { sf =>
              if (miss.contains(sf.name))
                lit(m.defaults(sf.name)).cast(sf.dataType).as(sf.name)
              else {
                val ns = m.namesOf(sf.name).filter(rawCols.contains)
                val raw0 =
                  if (ns.isEmpty) lit(null)
                  else if (ns.size == 1) col(ns.head)
                  else coalesce(ns.map(col): _*)
                raw0.cast(sf.dataType).as(sf.name)
              }
            }
            val target = DirectCommitProtocol.land(
              raw.select(outCols: _*).coalesce(1), dataDir, "default-fill")()
              .head._2
            f.copy(path = target.toString, bytes = Files.size(target))
          }
        }
      }
    // foreign POSITION deletes materialize as graft deletion-vector
    // blobs under the importing root (graft's native delete form —
    // robust to the engines' differing file-path URI renderings)
    // through the SAME sharded distributed writer every graft
    // deleteMor uses: executor tasks accumulate marks per data file
    // and write one blob per shard, the driver sees only per-shard
    // (path, count) summaries — never the marks themselves, so a huge
    // foreign backlog imports without driver materialization
    val posPaths = m.deleteFiles
      .filter(d => d.content == 1 && d.dv.isEmpty).map(_.path)
    // format-v3 DELETION VECTORS decode to the same (file_path, pos)
    // frame — on executors (the driver ships only blob coordinates),
    // through the identical normalization, then the one sharded
    // distributed writer materializes everything as graft DV blobs
    val dvCoords = m.deleteFiles.flatMap(d =>
      d.dv.map { case (ref, off, sz) => (d.path, off, sz, plain(ref)) })
    val dest = LogTable(spark, destRoot)
    val markFrames: Seq[DataFrame] = {
      val parquetSide =
        if (posPaths.isEmpty) Nil
        else Seq(spark.read.parquet(posPaths: _*).select(
          // pre-normalize with the SAME scheme-strip the manifest
          // entries use above, so DV keys and adopted file paths can
          // never disagree on a URI rendering
          org.apache.spark.sql.functions.regexp_replace(col("file_path"),
            "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/").as("file_path"),
          col("pos")))
      val dvSide =
        if (dvCoords.isEmpty) Nil
        else Seq(PuffinDv.marksFrame(spark, dvCoords))
      parquetSide ++ dvSide
    }
    val deletes: Seq[DeleteFile] =
      if (markFrames.isEmpty) Nil
      else dest.writeDeleteFiles(markFrames.reduce(_.unionByName(_)),
        candidateFiles = m.entries.size)
    // foreign EQUALITY deletes adopt ZERO-COPY: the key-tuple parquet
    // imports by reference, and Iceberg's strictly-below sequence rule
    // is exactly graft's — the seq numbers carry over verbatim
    val eqDeletes: Seq[EqDeleteFile] = m.deleteFiles.filter(_.content == 2)
      .map { d =>
        val cols = d.equalityIds.map(m.fieldNameById)
        require(cols.nonEmpty, "equality delete without equality_ids")
        EqDeleteFile(plain(d.path), Files.size(Paths.get(plain(d.path))),
          cols, d.rows, d.seq)
      }
    // the watermark: the source metadata's next-row-id when
    // recorded; otherwise (entries carry lineage but the root lacks
    // the counter — a non-conformant writer) the exact supremum of
    // the adopted ranges, which fresh assignment may resume from.
    // It rides the adoption commit ATOMICALLY: a crash can never
    // leave adopted files without the watermark (which would let a
    // later current-snapshot v3 export start nextRowId at 0 and
    // overlap an adopted range).
    val lineageProps =
      if (!adoptLineage) Map.empty[String, String]
      else Map(LogTable.NextRowIdProp -> m.nextRowId.getOrElse(
        files.map(f => f.firstRowId.get + f.rows).foldLeft(0L)(math.max))
        .toString)
    dest.commitAdoption("import", s"iceberg-import-of-$src",
      schema.json, specCols.flatMap(_.partCol), specCols.flatMap(_.transform),
      files, deletes, eqDeletes, props = lineageProps)
    // foreign Puffin NDV statistics (when recorded for this snapshot)
    // adopt into the manifest — CBO on the imported table starts
    // informed, mirroring the column-bounds adoption above
    val imported = LogTable(spark, destRoot)
    val ndvs = IcebergStatistics.ndvStats(src)
    if (ndvs.nonEmpty) { imported.recordNdvs(ndvs); () }
    LogTable(spark, destRoot)
  }
}
