package graft.pipeline

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Snapshot-versioned table catalog over a filesystem warehouse — the
  * Iceberg table contract (snapshot-per-commit, atomic metadata swap,
  * time travel, per-file lineage metrics) implemented directly, because the
  * Iceberg runtime jar does not exist in this offline sandbox.
  *
  * The layout mirrors Iceberg's HadoopCatalog commit protocol (public:
  * iceberg.apache.org/spec — "Hadoop tables" with `version-hint.text`):
  *
  * {{{
  *   <warehouse>/<table>/
  *     data/snap-<v>-<uuid>/part-*.parquet    immutable data files
  *     metadata/v<v>.metadata.json            snapshot manifest
  *     metadata/version-hint.text             latest committed version
  * }}}
  *
  * - A commit writes data files first, then publishes the manifest
  *   exclusively and atomically (a temp file hard-linked to
  *   `v<N>.metadata.json`) — the commit point — then swaps
  *   `version-hint.text`. The hint is only a starting point: the current
  *   version rolls forward past it while `v<hint+1>.metadata.json` exists.
  *   Readers only ever see fully-committed snapshots; a writer killed
  *   before its manifest leaves invisible orphan data files, and one killed
  *   after it but before the hint swap has committed.
  * - The manifest carries per-data-file lineage metrics (rows and bytes,
  *   read back from the parquet footers — no extra Spark pass), the schema,
  *   the parent version, and the operation — the north rule's
  *   "per-partition lineage and metrics written alongside Iceberg
  *   snapshots".
  * - `append` commits reference the parent's files plus the new ones
  *   (Iceberg fast-append); `overwrite` commits reference only the new
  *   files. Old snapshots stay readable (time travel) until expired.
  *
  * Swapping to real Iceberg on a cluster is mechanical: `commit` becomes
  * `df.writeTo(table).append()/overwritePartitions()`, `read(version)`
  * becomes `spark.read.option("snapshot-id", ...).table(table)`, and the
  * manifest metrics come from the `<table>.files` metadata table.
  */
final class SnapshotCatalog(spark: SparkSession, warehouse: String) {

  final case class DataFileMeta(path: String, rows: Long, bytes: Long)
  final case class Snapshot(table: String, version: Int, operation: String,
      parent: Int, files: Seq[DataFileMeta],
      properties: Map[String, String] = Map.empty, schemaJson: String = "") {
    def rows: Long = files.map(_.rows).sum
    def bytes: Long = files.map(_.bytes).sum
  }

  private def tableDir(table: String): JPath = Paths.get(warehouse, table)
  private def metaDir(table: String): JPath = tableDir(table).resolve("metadata")
  private def hintFile(table: String): JPath =
    metaDir(table).resolve("version-hint.text")
  private def manifestFile(table: String, version: Int): JPath =
    metaDir(table).resolve(s"v$version.metadata.json")

  /** Latest committed version, or 0 when the table does not exist: the
    * hinted version, rolled forward over manifests published after it.
    */
  def currentVersion(table: String): Int = {
    var v =
      if (Files.exists(hintFile(table)))
        new String(Files.readAllBytes(hintFile(table)), "UTF-8").trim.toInt
      else 0
    while (Files.exists(manifestFile(table, v + 1))) v += 1
    v
  }

  def exists(table: String): Boolean = currentVersion(table) > 0

  /** Commit `df` as the next snapshot of `table`. Optimistic concurrency:
    * two racing writers cannot both publish `v<N>.metadata.json` — the
    * second link fails with `FileAlreadyExistsException`, exactly Iceberg's
    * conflict semantics.
    *
    * @param properties caller key-values stored in the manifest (Iceberg
    *   snapshot summary): config fingerprints, incorporated input versions —
    *   anything a resume must validate atomically WITH the data it covers.
    */
  def commit(table: String, df: DataFrame,
      operation: String = "overwrite",
      properties: Map[String, String] = Map.empty): Snapshot = {
    require(operation == "overwrite" || operation == "append", operation)
    val parent = currentVersion(table)
    val version = parent + 1
    val snapId = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = tableDir(table).resolve("data").resolve(s"snap-$version-$snapId")
    Files.createDirectories(metaDir(table))

    // 1. immutable data files; footers are read back in parallel — a
    // serial loop over hundreds of files would add seconds per commit
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val newFiles = {
      import scala.collection.parallel.CollectionConverters._
      listParquet(dataDir).par.map(footerMeta).seq.toSeq
    }

    // 2. manifest: new files (+ the parent's files for an append)
    val carried =
      if (operation == "append" && parent > 0) snapshot(table, parent).files
      else Seq.empty
    val snap = Snapshot(table, version, operation, parent,
      carried ++ newFiles, properties, df.schema.json)
    // published whole and exclusively — the commit point: the link fails
    // if a racing writer already took version N
    val manifestTmp = metaDir(table).resolve(s".v$version-$snapId.tmp")
    Files.write(manifestTmp, manifestJson(snap).getBytes("UTF-8"))
    try Files.createLink(manifestFile(table, version), manifestTmp)
    finally Files.delete(manifestTmp)

    // 3. atomic hint swap (a kill before it is rolled forward on read)
    val tmp = metaDir(table).resolve(s".hint-$snapId.tmp")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    Files.move(tmp, hintFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  /** Read a specific snapshot (time travel). A snapshot with zero data
    * files still returns an empty DataFrame TYPED by the manifest's schema,
    * so downstream column selects keep working.
    */
  def read(table: String, version: Int): DataFrame = {
    val snap = snapshot(table, version)
    val files = snap.files.map(_.path)
    if (files.nonEmpty) spark.read.parquet(files: _*)
    else if (snap.schemaJson.isEmpty) spark.emptyDataFrame
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Read the latest snapshot, if the table exists. */
  def readLatest(table: String): Option[DataFrame] = {
    val v = currentVersion(table)
    if (v == 0) None else Some(read(table, v))
  }

  /** Parse the manifest of one snapshot. */
  def snapshot(table: String, version: Int): Snapshot = {
    val j = JsonMethods.parse(
      new String(Files.readAllBytes(manifestFile(table, version)), "UTF-8"))
    implicit val fmt: Formats = DefaultFormats
    val files = (j \ "files") match {
      case JArray(fs) => fs.map { f =>
        DataFileMeta((f \ "path").extract[String],
          (f \ "rows").extract[Long], (f \ "bytes").extract[Long])
      }
      case _ => Seq.empty
    }
    val props = (j \ "properties") match {
      case JObject(kvs) => kvs.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty[String, String]
    }
    val schemaJson = (j \ "schema") match {
      case JString(s) => s
      case _ => ""
    }
    Snapshot(table, version, (j \ "operation").extract[String],
      (j \ "parent").extract[Int], files, props, schemaJson)
  }

  /** All committed snapshots, oldest first. */
  def snapshots(table: String): Seq[Snapshot] =
    (1 to currentVersion(table)).map(snapshot(table, _))

  /** Snapshot expiration (Iceberg's `expireSnapshots`): drop all but the
    * newest `keepLast` snapshots and delete data files no surviving
    * snapshot references. Readers of surviving snapshots are unaffected
    * (their files are retained even if an expired snapshot also listed
    * them — fast-append shares files across versions).
    */
  def expireSnapshots(table: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val current = currentVersion(table)
    val cutoff = current - keepLast + 1
    if (cutoff <= 1) return
    val keepFiles = (cutoff to current)
      .flatMap(v => snapshot(table, v).files.map(_.path)).toSet
    (1 until cutoff)
      .filter(v => Files.exists(manifestFile(table, v)))
      .foreach { v => // earlier expirations may have removed a prefix already
        val snap = snapshot(table, v)
        snap.files.filterNot(f => keepFiles.contains(f.path)).foreach { f =>
          Files.deleteIfExists(Paths.get(f.path))
        }
        Files.deleteIfExists(manifestFile(table, v))
      }
    // sweep now-empty data dirs (each snap-<v>-<uuid> dir belongs to one
    // expired commit; survivors still hold files)
    val dataRoot = tableDir(table).resolve("data")
    if (Files.exists(dataRoot)) {
      import scala.jdk.CollectionConverters._
      val dirs = Files.list(dataRoot)
      try dirs.iterator().asScala.filter(Files.isDirectory(_)).foreach { d =>
        val ls = Files.list(d)
        val contents = try ls.iterator().asScala.toSeq finally ls.close()
        // only parquet payloads count as references; writer sidecars
        // (_SUCCESS, .crc) don't keep a dir alive
        if (!contents.exists(p => keepFiles.contains(p.toString))) {
          contents.foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(d)
        }
      } finally dirs.close()
    }
  }

  private def listParquet(dir: JPath): Seq[JPath] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Per-file lineage metrics from the parquet footer — row count comes
    * from block metadata, no data pages are read.
    */
  private def footerMeta(p: JPath): DataFileMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try DataFileMeta(p.toString, r.getRecordCount, Files.size(p))
    finally r.close()
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def manifestJson(s: Snapshot): String = {
    val files = s.files.map(f =>
      s"""    {"path": "${esc(f.path)}", "rows": ${f.rows}, "bytes": ${f.bytes}}""")
      .mkString("[\n", ",\n", "\n  ]")
    val props = s.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    s"""{
  "format-version": 1,
  "table": "${esc(s.table)}",
  "version": ${s.version},
  "parent": ${s.parent},
  "operation": "${s.operation}",
  "total-rows": ${s.rows},
  "total-bytes": ${s.bytes},
  "schema": "${esc(s.schemaJson)}",
  "properties": $props,
  "files": $files
}
"""
  }
}
