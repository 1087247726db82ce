package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C6 `FileStore` (reference `stores/file_store.py:36-520`): a directory
  * tree as a queryable document collection — one doc per file with the
  * reference's record schema (`file_store.py:262-272`):
  * `{name, path, path_relative, parent, size, last_updated, hash,
  * file_id, orphan, contents?}` plus user metadata merged from a sidecar
  * JSON file.
  *
  * Spark mapping: `binaryFile` source supplies (path, modificationTime,
  * length, content); derived columns are expressions (md5, regexp path
  * algebra). The reference's "lazy contents read with size cap"
  * (`file_store.py:429-462`) maps to a size-guarded projection — column
  * pruning means the blob column is only scanned when asked for.
  *
  * Writes (like the reference, `file_store.py:366-405`) touch ONLY
  * metadata — file contents are never modified; metadata lands in the
  * sidecar and is merged on read by `file_id`. Orphaned metadata (its
  * file vanished) is flagged, not dropped (`file_store.py:307-329`).
  */
class FileStore(
    val spark: SparkSession,
    val root: String,
    val glob: String = "*",
    val maxDepth: Int = -1,
    val readContents: Boolean = false,
    val contentsSizeCap: Long = 4L * 1024 * 1024)
  extends SnapshotStore {

  val key: String = "file_id"
  override val lastUpdatedField: String = "last_updated"
  val name: String = s"file:$root"

  private def sidecarPath = s"$root/FileStore.json"
  private val protectedKeys = Set("name", "path", "path_relative", "parent",
    "size", "last_updated", "hash", "file_id", "orphan", "contents")

  /** File scan as a plan: no driver-side directory walking. */
  private def fileDf: DataFrame = {
    val raw = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)
      // the sidecar itself is not a document
      .filter(!col("path").endsWith("/FileStore.json"))
    val rootNorm = root.stripSuffix("/")
    val rel = regexp_replace(col("path"), java.util.regex.Pattern.quote(s"file:$rootNorm/"), "")
    val depthOk =
      if (maxDepth < 0) lit(true)
      else size(split(rel, "/")) <= maxDepth + 1
    raw.filter(depthOk).select(
      element_at(split(col("path"), "/"), -1).alias("name"),
      col("path"),
      rel.alias("path_relative"),
      // a file directly under root has NO slash in its relative path —
      // the strip-last-segment regex would return the name itself; its
      // parent is the empty string (the root)
      when(rel.contains("/"), regexp_replace(rel, "/[^/]+$", ""))
        .otherwise(lit("")).alias("parent"),
      col("length").alias("size"),
      col("modificationTime").alias("last_updated"),
      md5(col("content")).alias("hash"),
      md5(rel.cast("binary")).alias("file_id"),
      lit(false).alias("orphan"),
      (if (readContents)
        when(col("length") <= contentsSizeCap, col("content"))
          .otherwise(lit(null).cast("binary"))
      else lit(null).cast("binary")).alias("contents"))
  }

  private def sidecar: Option[DataFrame] = {
    val p = new java.io.File(new java.net.URI(s"file://$sidecarPath").getPath)
    // a sidecar emptied by removals reads with no columns: no metadata
    if (!p.exists()) None
    else Some(spark.read.option("multiLine", true).json(sidecarPath))
      .filter(_.columns.contains(key))
  }

  /** Files left-joined with sidecar metadata; metadata rows whose file is
    * gone surface as `orphan = true` docs (protected keys win from the
    * live file record). */
  def df: DataFrame = sidecar match {
    case None => fileDf
    case Some(meta0) =>
      val meta = meta0.columns.foldLeft(meta0)((d, c) =>
        if (protectedKeys.contains(c) && c != "file_id") d.withColumnRenamed(c, s"__m_$c") else d)
      val files = fileDf
      val joined = files.join(meta, Seq("file_id"), "full_outer")
      val fileCols = files.columns.filterNot(_ == "file_id")
      val metaOnly = meta.columns.filterNot(c => c == "file_id" || c.startsWith("__m_"))
      joined.select(
        (col("file_id") +:
          fileCols.map(c =>
            if (c == "orphan") col("path").isNull.alias("orphan") else col(c)) ++:
          metaOnly.map(col)): _*)
  }

  protected def snapshot: Option[DataFrame] = sidecar

  /** Replace the sidecar atomically (a torn one would fail every later
    * read); protected engine keys are stripped from every commit
    * (`file_store.py:389-398`). */
  protected def commit(m: DataFrame): Unit = {
    val meta = m.drop(m.columns.filter(c => protectedKeys.contains(c) && c != "file_id"): _*)
    val rows = meta.toJSON.collect()  // sidecar metadata is small by contract
    Store.writeFileAtomic(java.nio.file.Paths.get(
      new java.net.URI(s"file://$sidecarPath").getPath), rows.mkString("[", ",\n", "]"))
  }
}
