package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import scala.collection.mutable.ArrayBuffer

/** Driver-side parquet read/write for SMALL metadata (manifest shards from
  * in-memory Seqs, shard lists, lineage rows) via parquet-mr's Group API —
  * no Spark job, no task scheduling, no coalesce(1) round-trip. Commit
  * metadata is a handful of rows; r2's per-commit Spark writes were ~40% of
  * the maintenance bench (VERDICT "What's wrong" #2). Files use the
  * standard 3-level LIST layout, so Spark reads them interchangeably with
  * its own shards (big shards — e.g. manifest rewrites of the live set —
  * are still written distributed by Spark).
  */
object MetaIO {

  private val entrySchema: MessageType = MessageTypeParser.parseMessageType(
    """message manifest_entry {
      |  optional binary file_path (UTF8);
      |  optional binary partition (UTF8);
      |  optional int64 record_count;
      |  optional int64 file_bytes;
      |  optional binary min_repo (UTF8);
      |  optional binary max_repo (UTF8);
      |  optional binary min_path (UTF8);
      |  optional binary max_path (UTF8);
      |  optional group langs (LIST) {
      |    repeated group list { optional binary element (UTF8); }
      |  }
      |  optional int64 min_z;
      |  optional int64 max_z;
      |  optional int64 min_rh;
      |  optional int64 max_rh;
      |  optional int64 digest;
      |  optional int64 nulls_repo;
      |  optional int64 nulls_path;
      |  optional int64 nulls_lang;
      |  optional int32 bucket;
      |}""".stripMargin)

  private val shardSchema: MessageType = MessageTypeParser.parseMessageType(
    """message manifest_shard {
      |  optional int32 seq;
      |  optional binary kind (UTF8);
      |  optional binary path (UTF8);
      |}""".stripMargin)

  private val removeSchema: MessageType = MessageTypeParser.parseMessageType(
    """message manifest_remove {
      |  optional binary file_path (UTF8);
      |}""".stripMargin)

  private val lineageSchema: MessageType = MessageTypeParser.parseMessageType(
    """message lineage_row {
      |  optional binary job_id (UTF8);
      |  optional binary phase (UTF8);
      |  optional int32 partition_id;
      |  optional group input_files (LIST) {
      |    repeated group list { optional binary element (UTF8); }
      |  }
      |  optional group output_files (LIST) {
      |    repeated group list { optional binary element (UTF8); }
      |  }
      |  optional int64 row_count;
      |  optional binary sha256_digest (UTF8);
      |  optional int64 ts_millis;
      |}""".stripMargin)

  private def writer(io: LakeIO, rel: String, schema: MessageType): ParquetWriter[Group] = {
    // copy of the seam's conf: setSchema mutates it, and the session's
    // spark.hadoop.* overrides must reach object-store writes (LakeConf)
    val conf = new Configuration(io.hadoopConf)
    GroupWriteSupport.setSchema(schema, conf)
    io.delete(rel) // overwrite semantics, matching Spark's mode("overwrite")
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(io.abs(rel), conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  /** append a string only when non-null: every string field is optional in
    * the schema, and stats like min_repo ARE null when a file's every value
    * is null — Group.append(null) would NPE and fail the commit. */
  private def appendOpt(g: Group, field: String, v: String): Group = {
    if (v != null) g.append(field, v)
    g
  }

  private def addList(g: Group, field: String, items: Seq[String]): Unit = {
    val lg = g.addGroup(field)
    if (items != null)
      items.foreach(it => if (it != null) lg.addGroup("list").append("element", it))
  }

  private def getList(g: Group, field: String): Seq[String] = {
    if (g.getFieldRepetitionCount(field) == 0) return Seq.empty
    val lg = g.getGroup(field, 0)
    (0 until lg.getFieldRepetitionCount("list")).map { i =>
      lg.getGroup("list", i).getString("element", 0)
    }
  }

  def writeEntries(io: LakeIO, rel: String, entries: Seq[ManifestEntry]): Unit = {
    val f = new SimpleGroupFactory(entrySchema)
    val w = writer(io, rel, entrySchema)
    try entries.foreach { e =>
      val g = f.newGroup()
      appendOpt(g, "file_path", e.file_path)
      appendOpt(g, "partition", e.partition)
      g.append("record_count", e.record_count).append("file_bytes", e.file_bytes)
      appendOpt(g, "min_repo", e.min_repo)
      appendOpt(g, "max_repo", e.max_repo)
      appendOpt(g, "min_path", e.min_path)
      appendOpt(g, "max_path", e.max_path)
      addList(g, "langs", e.langs)
      g.append("min_z", e.min_z).append("max_z", e.max_z)
        .append("min_rh", e.min_rh).append("max_rh", e.max_rh)
        .append("digest", e.digest)
      e.nulls_repo.foreach(v => g.append("nulls_repo", v))
      e.nulls_path.foreach(v => g.append("nulls_path", v))
      e.nulls_lang.foreach(v => g.append("nulls_lang", v))
      e.bucket.foreach(b => g.append("bucket", b))
      w.write(g)
    } finally w.close()
  }

  def writeShards(io: LakeIO, rel: String, shards: Seq[ManifestShard]): Unit = {
    val f = new SimpleGroupFactory(shardSchema)
    val w = writer(io, rel, shardSchema)
    try shards.foreach { s =>
      w.write(f.newGroup().append("seq", s.seq).append("kind", s.kind).append("path", s.path))
    } finally w.close()
  }

  def writeRemoves(io: LakeIO, rel: String, paths: Seq[String]): Unit = {
    val f = new SimpleGroupFactory(removeSchema)
    val w = writer(io, rel, removeSchema)
    try paths.foreach(p => w.write(f.newGroup().append("file_path", p))) finally w.close()
  }

  def writeLineage(io: LakeIO, rel: String, rows: Seq[Lineage.LineageRow]): Unit = {
    val f = new SimpleGroupFactory(lineageSchema)
    val w = writer(io, rel, lineageSchema)
    try rows.foreach { r =>
      val g = f.newGroup()
      g.append("job_id", r.job_id).append("phase", r.phase).append("partition_id", r.partition_id)
      addList(g, "input_files", r.input_files)
      addList(g, "output_files", r.output_files)
      g.append("row_count", r.row_count).append("sha256_digest", r.sha256_digest)
        .append("ts_millis", r.ts_millis)
      w.write(g)
    } finally w.close()
  }

  private def parquetFilesAt(io: LakeIO, rel: String): Seq[String] =
    if (!io.exists(rel)) Seq.empty
    else if (io.isDirectory(rel))
      io.list(rel).filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        .map(n => s"$rel/$n")
    else Seq(rel)

  /** total row count at rel from parquet FOOTERS only — driver-side, zero
    * Spark jobs (counting a freshly written shard used to cost a whole
    * metadata job). */
  def rowCount(io: LakeIO, rel: String): Long = {
    val conf = new Configuration(io.hadoopConf)
    parquetFilesAt(io, rel).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader
        .open(HadoopInputFile.fromPath(io.abs(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** every row of every parquet file at rel (a file, or a directory of
    * part files — Spark- and MetaIO-written alike). */
  private def readGroups(io: LakeIO, rel: String): Seq[Group] = {
    val files: Seq[String] = parquetFilesAt(io, rel)
    val out = ArrayBuffer.empty[Group]
    val conf = new Configuration(io.hadoopConf)
    files.foreach { f =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), io.abs(f))
        .withConf(conf)
        .build()
      try {
        var g = r.read()
        while (g != null) { out += g; g = r.read() }
      } finally r.close()
    }
    out.toSeq
  }

  private def optLong(g: Group, field: String): Option[Long] =
    if (g.getFieldRepetitionCount(field) == 0) None else Some(g.getLong(field, 0))

  private def optStr(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)

  // Bounded LRU over parsed shard files: scan/maintenance planning re-reads
  // the SAME shard (shards are uid-named and immutable once committed)
  // many times per pipeline; each hit is validated against the file's
  // (length, mtime) — one stat RPC instead of an open+read+parse. Small
  // shards only (the localManifest gate keeps them ≤ a few MiB anyway).
  private val entryCacheCap = 512
  private val entryCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Long, Seq[ManifestEntry])](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long, Seq[ManifestEntry])]): Boolean =
          size() > entryCacheCap
      })

  private def parseEntries(io: LakeIO, rel: String): Seq[ManifestEntry] =
    readGroups(io, rel).map { g =>
      ManifestEntry(
        optStr(g, "file_path"), optStr(g, "partition"),
        g.getLong("record_count", 0), g.getLong("file_bytes", 0),
        optStr(g, "min_repo"), optStr(g, "max_repo"),
        optStr(g, "min_path"), optStr(g, "max_path"),
        getList(g, "langs"),
        g.getLong("min_z", 0), g.getLong("max_z", 0),
        g.getLong("min_rh", 0), g.getLong("max_rh", 0),
        g.getLong("digest", 0),
        optLong(g, "nulls_repo"), optLong(g, "nulls_path"), optLong(g, "nulls_lang"),
        if (g.getFieldRepetitionCount("bucket") == 0) None
        else Some(g.getInteger("bucket", 0)))
    }

  /** manifest entries of one shard, read driver-side — the small-manifest
    * fast path that lets scan planning skip Spark jobs entirely. Reads both
    * MetaIO- and Spark-written shards (same 3-level LIST layout). */
  def readEntries(io: LakeIO, rel: String): Seq[ManifestEntry] = {
    val key = io.abs(rel).toString
    val fresh =
      try { if (io.isDirectory(rel)) null else io.sizeAndMtime(rel) }
      catch { case _: Exception => null }
    if (fresh == null) return parseEntries(io, rel) // dirs/missing: no cache
    val hit = entryCache.get(key)
    if (hit != null && hit._1 == fresh._1 && hit._2 == fresh._2) hit._3
    else {
      val entries = parseEntries(io, rel)
      entryCache.put(key, (fresh._1, fresh._2, entries))
      entries
    }
  }

  /** removed file paths of one remove shard, driver-side. */
  def readRemoves(io: LakeIO, rel: String): Seq[String] =
    readGroups(io, rel).map(g => g.getString("file_path", 0))

  private val shardCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Long, Seq[ManifestShard])](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long, Seq[ManifestShard])]): Boolean =
          size() > entryCacheCap
      })

  def readShards(io: LakeIO, rel: String): Seq[ManifestShard] = {
    def parse() = readGroups(io, rel).map { g =>
      ManifestShard(g.getInteger("seq", 0), g.getString("kind", 0), g.getString("path", 0))
    }
    // same (length, mtime)-validated LRU as readEntries: every snapshot
    // access re-reads its shard list, and the lists are immutable once
    // published — one stat RPC per hit
    val key = io.abs(rel).toString
    val fresh =
      try { if (io.isDirectory(rel)) null else io.sizeAndMtime(rel) }
      catch { case _: Exception => null }
    if (fresh == null) return parse()
    val hit = shardCache.get(key)
    if (hit != null && hit._1 == fresh._1 && hit._2 == fresh._2) hit._3
    else {
      val shards = parse()
      shardCache.put(key, (fresh._1, fresh._2, shards))
      shards
    }
  }

  /** drop every cached shard whose absolute path starts with `prefix`. */
  private[lake] def invalidate(prefix: String): Unit = {
    purge(entryCache, prefix)
    purge(shardCache, prefix)
  }

  private[lake] def purge(cache: java.util.Map[String, _], prefix: String): Unit =
    cache.synchronized { cache.keySet().removeIf(_.startsWith(prefix)); () }

  def readLineage(io: LakeIO, rel: String): Seq[Lineage.LineageRow] =
    readGroups(io, rel).map { g =>
      Lineage.LineageRow(g.getString("job_id", 0), g.getString("phase", 0),
        g.getInteger("partition_id", 0), getList(g, "input_files"),
        getList(g, "output_files"), g.getLong("row_count", 0),
        g.getString("sha256_digest", 0), g.getLong("ts_millis", 0))
    }
}
