package graft.store

import graft.builder.Materialize
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JSON-file-backed store (reference `JSONStore`,
  * `stores/mongolike.py:606-791`): one or many JSON / JSONL / .gz files;
  * `\$date` / `\$oid` BSON-JSON wrappers surfaced as timestamp / string
  * columns; optional write-back when `readOnly = false`.
  *
  * Reading delegates entirely to Spark's JSON source (multiLine for
  * document arrays, native .gz codec, schema merge across files — the
  * heterogeneous-documents property of SURVEY §1.1 falls out of Spark's
  * JSON schema inference: absent keys become nulls).
  */
class JsonStore(
    val spark: SparkSession,
    val paths: Seq[String],
    val key: String = "task_id",
    override val lastUpdatedField: String = "last_updated",
    val multiLine: Boolean = true,
    val readOnly: Boolean = true)
  extends SnapshotStore {

  val name: String = s"json:${paths.mkString(",")}"

  private var overlay: Option[DataFrame] = None  // post-update contents
  // the overlay one write back, kept so a plan captured before a write
  // still reads (one generation, like ParquetStore's version GC)
  private var previous: Option[DataFrame] = None

  /** Durable write-back location (reference rewrites the source file on
    * every update when writable, `stores/mongolike.py:743-766`; we write
    * a JSONL sibling instead of mutating the input mid-lineage — a
    * reopened store reads it in preference to the originals). */
  private def overlayDir = paths.head + ".graft"

  private def overlayExists: Boolean =
    new java.io.File(overlayDir, "_SUCCESS").exists()

  // The JSON writer renders timestamps as ISO strings; schema inference on
  // re-read would demote them to plain strings (breaking lastUpdated /
  // newerIn). Persist the writer-side schema as an underscore-prefixed
  // sidecar (ignored by Spark's file listing, like _SUCCESS) and read the
  // overlay with it.
  private def overlaySchemaFile = new java.io.File(overlayDir, "_schema.json")

  private def raw: DataFrame =
    if (overlayExists) {
      if (overlaySchemaFile.exists()) {
        val schemaJson = new String(
          java.nio.file.Files.readAllBytes(overlaySchemaFile.toPath), "UTF-8")
        val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).json(overlayDir)
      } else spark.read.json(overlayDir)
    } else spark.read.option("multiLine", multiLine).json(paths: _*)

  /** Unwrap BSON extended-JSON: `{f: {"$date": iso}}` → timestamp column,
    * `{f: {"$oid": hex}}` → string (reference `stores/mongolike.py:719`,
    * `utils.py:81-103`). Detected structurally from the inferred schema. */
  def df: DataFrame = overlay.getOrElse {
    val d = raw
    d.schema.fields.foldLeft(d) { (acc, f) =>
      f.dataType match {
        case s: org.apache.spark.sql.types.StructType
          if s.fieldNames.sameElements(Array("$date")) =>
          acc.withColumn(f.name, to_timestamp(col(s"`${f.name}`.`$$date`")))
        case s: org.apache.spark.sql.types.StructType
          if s.fieldNames.sameElements(Array("$oid")) =>
          acc.withColumn(f.name, col(s"`${f.name}`.`$$oid`"))
        case _ => acc
      }
    }
  }

  // refuse before any plan is built: a read-only store never reads its
  // files on a write
  override protected def writing[T](body: => T): T = {
    require(!readOnly, s"JsonStore $name is read-only")
    body
  }

  // an empty JSON file reads with no columns: nothing is committed yet
  protected def snapshot: Option[DataFrame] = Some(df).filter(_.columns.contains(key))

  protected def commit(next: DataFrame): Unit = {
    val snap = Materialize.snapshot(next) // sever lineage from overlayDir
    // a long loop of writes holds two generations of blocks, not every
    // generation until a GC lets the ContextCleaner reap them
    previous.foreach(Materialize.release)
    previous = overlay
    overlay = Some(snap)
    snap.coalesce(1).write.mode(SaveMode.Overwrite).json(overlayDir)
    Store.writeFileAtomic(overlaySchemaFile.toPath, snap.schema.json)
  }
}

/** Read-only store over an arbitrary DataFrame or parquet path — the
  * adapter that lets every engine operator run over the TESTDATA tables
  * or any externally-produced DataFrame. `data` is by-name, re-read on
  * every access: a live view (a stream's current micro-batch, a frame
  * derived from a store that mutates between requests) stays live. */
class TableStore(
    val spark: SparkSession,
    data: => DataFrame,
    val name: String,
    val key: String,
    override val lastUpdatedField: String = "last_updated")
  extends ReadOnlyStore {
  def df: DataFrame = data
}

object TableStore {
  def parquet(spark: SparkSession, path: String, key: String,
              lastUpdated: String = "last_updated"): TableStore =
    new TableStore(spark, spark.read.parquet(path), s"parquet:$path", key, lastUpdated)
}
