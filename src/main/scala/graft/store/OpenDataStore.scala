package graft.store

import graft.builder.Materialize
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** C10-C12 `OpenDataStore` (reference `stores/open_data.py:455-794`):
  * data laid out as compressed JSONL under Hive-style `field=value/`
  * partition paths (`object_grouping`, `open_data.py:615-620`), plus a
  * manifest index (`open_data.py:388-426`).
  *
  * Spark mapping — this backend is where the reference's hand-rolled
  * machinery becomes *native*:
  *  - the `field=value/` object layout IS Spark partition discovery;
  *    criteria on grouping fields prune partitions at planning time
  *    (the reference loops over groups and issues per-prefix reads,
  *    `open_data.py:600-613` — Catalyst's `PartitionFilters` does this)
  *  - per-partition read-merge-write updates (`open_data.py:511-546`)
  *    become dynamic partition overwrite of exactly the touched groups
  *  - `manifest.jsonl` is regenerated from the written layout
  *
  * gzip JSONL matches the reference's `.jsonl.gz` objects byte-format;
  * at cluster scale the same class works over `s3a://` paths unchanged.
  */
class OpenDataStore(
    val spark: SparkSession,
    val root: String,
    val objectGrouping: Seq[String],
    val key: String = "task_id",
    override val lastUpdatedField: String = "last_updated",
    val writeShards: Int = 8)
  extends SnapshotStore {

  require(objectGrouping.nonEmpty, "objectGrouping must name partition columns")
  val name: String = s"opendata:$root"

  private def dataPath = s"$root/data"
  private def manifestPath = s"$root/manifest.jsonl"

  // Hadoop FS, not java.io: the class contract says s3a:// roots work
  // unchanged, and local-FS probes would silently treat an object-store
  // instance as empty (the update path would then overwrite-lose data)
  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isEmpty: Boolean = {
    val path = new org.apache.hadoop.fs.Path(dataPath)
    val fs = hadoopFs(dataPath)
    // ignore marker files: a remove-all overwrite leaves only _SUCCESS,
    // and treating that as "non-empty" would make every later read fail
    // schema inference — the store must read as empty instead
    !fs.exists(path) || fs.listStatus(path).forall { s =>
      val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
    }
  }

  def df: DataFrame =
    if (isEmpty) spark.emptyDataFrame
    else readSchemaSidecar() match {
      // the sidecar (written on every mutation) turns the read into
      // listing + pruned scan — JSON schema INFERENCE is otherwise a
      // full parse of every object in the store before the first real
      // row is read, the classic JSONL-lake scale trap
      case Some(sch) => spark.read.schema(sch).json(dataPath)
      // legacy store without a sidecar: infer. inferTimestamp: the
      // JSONL round-trip writes timestamps as ISO strings; without it
      // last_updated re-reads as string and the watermark machinery
      // (lastUpdated/newerIn) breaks on types
      case None => spark.read.option("inferTimestamp", "true").json(dataPath)
    }

  /** Run the partitioned-data write and the (small) manifest
    * AGGREGATION as concurrent Spark actions: both consume the same
    * eagerly-checkpointed blocks, so they share no lineage with each
    * other or with the files being replaced — and sequencing them adds
    * the manifest job's full latency to every update. Only the
    * aggregation overlaps: the manifest FILE and the schema sidecar
    * commit strictly AFTER the data write succeeds, so a failed data
    * write leaves both untouched (a sidecar describing data that never
    * landed would make later reads silently null-fill columns instead
    * of failing). */
  private def writeDataAndManifest(next: DataFrame, overwriteMode: String,
                                   manifest: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val dataF = Future(writeData(next, overwriteMode))
    val manifestRowsF = Future(manifest.toJSON.collect()) // one line per partition: small
    val dataR = scala.util.Try(Await.result(dataF, Duration.Inf))
    val rowsR = scala.util.Try(Await.result(manifestRowsF, Duration.Inf))
    dataR.get // data failure → abort before any metadata commit
    // data is committed: the schema sidecar must commit too, EVEN IF the
    // manifest aggregation failed — new data + stale sidecar means later
    // reads silently null-fill the newly added columns (the exact hazard
    // the ordering comment above guards against in the other direction)
    writeSchemaSidecar(next.schema)
    storeManifest(rowsR.recover { case _ => manifest.toJSON.collect() }.get)
  }

  protected def snapshot: Option[DataFrame] = if (isEmpty) None else Some(df)

  /** Removals rewrite the whole layout: a static overwrite of the
    * checkpointed contents, whose lineage is severed from the files
    * being overwritten. */
  protected def commit(next: DataFrame): Unit = Materialize.scope {
    val keep = Materialize.checkpoint(next)
    writeDataAndManifest(keep, "static", manifestOf(keep))
  }

  /** Upserts merge only the partitions they touch (dynamic overwrite). */
  override protected def upsert(docs: DataFrame, keyFields: Seq[String],
                                batchUnique: Boolean): Unit = Materialize.scope {
    if (isEmpty) {
      // FIRST BUILD: nothing on disk is being replaced, so no lineage to
      // sever — when the batch plan is ORDER-STABLE (deterministic scan,
      // Store.orderStable) the data write and the (slim) manifest
      // aggregation each run scan+dedup as ONE concurrent job instead of
      // serializing a checkpoint write/read before both; winners agree
      // because dedupLastWins keys on monotonically_increasing_id over
      // identical scan splits. A batch carrying a shuffle loses that
      // guarantee (duplicate keys could resolve differently between the
      // data write and the manifest aggregation), so it deduplicates
      // ONCE and both consumers share the materialized result. (The
      // non-empty branch keeps its checkpoints — there the merged plan
      // reads files the dynamic overwrite replaces.)
      val deduped = Store.dedupLastWins(docs, keyFields)
      val next = if (Store.orderStable(docs)) deduped else Materialize.checkpoint(deduped)
      writeDataAndManifest(next, "dynamic", manifestOf(next))
    } else {
      // merge only the partitions the batch touches: the batch's own
      // grouping tuples PLUS the current partitions of the batch's
      // keys — a doc whose grouping value changed must have its OLD
      // copy rewritten out of its previous partition, or both copies
      // would survive (key-uniqueness corruption)
      val d = df
      val batchTouched = docs.select(objectGrouping.map(col): _*).distinct()
      val movedFrom = d.join(docs.select(col(key)), Seq(key), "left_semi")
        .select(objectGrouping.map(col): _*).distinct()
      // checkpointed: consumed by the merge below AND by the manifest
      // patch AFTER the overwrite, when its source files are gone
      val touched = Materialize.checkpoint(batchTouched.unionByName(movedFrom).distinct())
      val current = d.join(touched, objectGrouping, "left_semi")
      // sever lineage: the merged plan reads the files the dynamic
      // overwrite below replaces
      val next = Materialize.checkpoint(Store.upsertPlan(current, docs, keyFields))
      // incremental manifest: fresh rows for the touched partitions,
      // prior rows for the rest — O(batch partitions), never a re-read
      // of the whole store. The untouched rows come from the PRIOR
      // manifest file, which storeManifest collects fully before
      // truncating it — safe to overlap with the data write, which
      // never touches the manifest path.
      val fresh = manifestOf(next)
      val untouched = spark.read.schema(fresh.schema).json(manifestPath)
        .join(touched, objectGrouping, "left_anti")
      writeDataAndManifest(next, "dynamic", fresh.unionByName(untouched))
    }
  }

  /** `writeShards > 1` spreads each partition group over up to that many
    * objects (`part-*.jsonl.gz` files under the same `field=value/`
    * prefix): gzip streams are single-threaded, so one-object-per-group
    * — the AQE-coalesced default shape — serializes the write on the
    * number of GROUPS, a bottleneck both here (3 statuses = 3 cores)
    * and at 100 TB (one writer per group). The manifest is per-GROUP,
    * not per-file, so sharding is invisible to it and to readers
    * (partition discovery lists the prefix). */
  private def writeData(d: DataFrame, overwriteMode: String): Unit = {
    val sharded =
      if (writeShards > 1 && d.columns.contains(key))
        d.repartition(spark.sparkContext.defaultParallelism,
          objectGrouping.map(col) :+
            pmod(xxhash64(col(key)), lit(writeShards)): _*)
      else d
    sharded.write
      .mode(SaveMode.Overwrite)
      .partitionBy(objectGrouping: _*)
      // per-write scope: don't mutate the session-global overwrite mode
      .option("partitionOverwriteMode", overwriteMode)
      .option("compression", "gzip")
      .json(dataPath)
  }

  /** Manifest = one record per partition group: grouping values, doc
    * count, max last_updated (the reference's index docs,
    * `open_data.py:388-426`). */
  def manifest: DataFrame = manifestOf(df)

  private def manifestOf(d: DataFrame): DataFrame = {
    val luAgg: org.apache.spark.sql.Column =
      if (d.columns.contains(lastUpdatedField)) max(col(lastUpdatedField))
      // cast: a bare NullType column would poison the incremental-
      // manifest read-back (file sources reject NullType in a user
      // schema); toJSON omits null fields either way
      else first(lit(null).cast("string"))
    d.groupBy(objectGrouping.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).alias("n_docs"), luAgg.alias("last_updated"))
  }

  private def storeManifest(rows: Array[String]): Unit =
    writeAtomic(manifestPath, rows.mkString("", "\n", "\n"))

  private def schemaPath = s"$root/_schema.json"

  private def writeSchemaSidecar(schema: org.apache.spark.sql.types.StructType): Unit =
    writeAtomic(schemaPath, schema.json)

  /** Replace a sidecar through a `_…tmp` sibling and a Hadoop rename, so
    * a crash leaves the old or the new file, never a torn one. A file
    * system whose rename does not replace an existing target (HDFS,
    * object stores) gets a delete first, so there a crash between the
    * two can leave the sidecar missing. */
  private def writeAtomic(target: String, content: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(target)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      s"_${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val fs = hadoopFs(target)
    try {
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, dst) && !(fs.delete(dst, false) && fs.rename(tmp, dst)))
        throw new java.io.IOException(s"could not rename $tmp to $dst")
    } finally fs.delete(tmp, false)
  }

  private def readSchemaSidecar(): Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(schemaPath)
    val fs = hadoopFs(schemaPath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(org.apache.spark.sql.types.DataType
          .fromJson(bytes.toString("UTF-8"))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      } finally in.close()
    }
  }
}
