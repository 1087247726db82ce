package graft.store

import graft.query.{LocalFrame, MongoFilter, QueryParams}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType,
  MapType, StringType, StructField, StructType}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Durable keyed table over parquet with versioned-directory writes — the
  * engine's canonical store (role of the reference's `MongoStore`/
  * `MontyStore`, `stores/mongolike.py:35-433,794-938`).
  *
  * Layout: `root/v_<n>/part-*.parquet`; `root/_current` names the live
  * version. Upsert/delete write a new version then flip the pointer —
  * readers never see partial data (a poor man's Delta transaction log;
  * with Delta Lake on the cluster this class swaps to `MERGE INTO` /
  * `DELETE WHERE` with no interface change). Every data file is written
  * with the zstd codec at parquet's default level; the session's
  * `spark.sql.parquet.compression.codec` does not apply to store files.
  * Reads take each column chunk's codec from its footer, so a store
  * whose older generations are snappy reads, merges and compacts as
  * one.
  *
  * Scale notes: the upsert is a key anti-join (shuffles on the key — at
  * cluster scale bucketing the table by key makes it shuffle-free); reads
  * are plain parquet scans so filter/column pushdown apply.
  *
  * ==Delta writes (merge-on-read)==
  * The default upsert REWRITES the table (read + anti-join + new
  * version): right for build targets, wrong for an append-heavy index a
  * 100 TB incremental pipeline updates every batch — each batch would
  * pay an O(corpus) write. With `deltaWrites=true` an upsert instead
  * writes ONLY the batch as a delta dir (`root/v_n.d_k`) and flips the
  * manifest (`_current` = `v_n;d_1,…,d_k`) — O(batch) I/O. Readers
  * resolve last-write-wins per key across base ∪ deltas with ONE
  * hash aggregate (`max_by` on delta generation — map-side partials, no
  * sort; the Hudi merge-on-read snapshot-query trade). Once
  * `compactAfter` deltas accumulate the store COMPACTS: one merged
  * base (re-clustered by any [[ensureIndex]] keys, restoring row-group
  * pruning and shuffle-free reads), deltas deleted. Delete paths and
  * compound-key upserts always compact first — only the single-key
  * upsert (the index-build write shape) takes the delta path.
  *
  * ==Footer cache and driver reads==
  * Each immutable version or delta dir has its parquet footers read on
  * the driver and cached: the schema from one footer (as Spark's own
  * inference reads it), on first use each row group's row count, column
  * sizes, byte range and the min/max of the key and of the leading
  * [[ensureIndex]] field, and one parquet reader per read schema. A
  * commit clears the cache; a delta append drops only the new dir's
  * entry. Reads take their schema from it, so reading a fresh version
  * starts no schema-inference job; the no-criteria count and the delta
  * row bound sum its row counts.
  *
  * A [[query]] whose candidate row groups are small is a driver read:
  * `{f: v}` and `{f: {$in: […]}}` on the key keep the groups whose
  * statistics admit a value (on the leading index field, the base's
  * groups; the deltas are read whole), any other criteria keeps them
  * all. Spark's parquet reader decodes each candidate group on the
  * driver, only the key and the columns the query's criteria,
  * projection and sort read; the generations merge as [[df]] merges
  * them, and the rows come back as a local frame in df's column order,
  * on which the query's filter, sort, projection, skip and limit are
  * evaluated on the driver ([[graft.query.LocalFrame]]) — no Spark job.
  * A key read stops at the newest generation holding every key it
  * names. It falls back to the plan over [[df]] when a footer cannot be
  * read, two generations type a column differently, or the candidates
  * pass a ceiling (see `MaxScanReadRows`).
  */
object ParquetStore {
  /** Delta-row ceiling for the merge-on-read broadcast (see [[ParquetStore.df]]).
    * 4M keys ≈ tens of MB broadcast for long/short-string keys — far
    * inside Spark's broadcast-table and driver-memory comfort zone on
    * any executor profile; above it one compaction beats a pinned
    * broadcast on every read. */
  private[store] val MaxBroadcastDeltaRows: Long = 4000000L

  /** Ceilings of the driver read (see [[ParquetStore.query]]): the
    * candidate row groups are decoded on the driver, one thread, and a
    * read past a ceiling takes the plan. Measured on a 4-core host
    * (median of 7 warm reads, the read + fold + collect against the
    * plan's one-job collect of the same query):
    *  - a read of every row group (no statistics narrowed it) keeps 4096
    *    rows: 1000 and 4096 18-column docs take 53-69 ms and 84 ms
    *    against 97-114 ms and 125 ms, while 8192 took 137 ms against
    *    107 ms — past a few thousand wide rows the plan's parallel scan
    *    wins;
    *  - a read the key or index-field statistics narrowed to part of the
    *    row groups takes up to 65536 rows: its candidates are the rows a
    *    lookup index points at (BM25 postings: 4 narrow columns), and
    *    its membership test keeps only the matches before any frame is
    *    built, so 4096 to 65536 such rows take 55-70 ms against 95-143 ms;
    *  - bytes are the footer's uncompressed sizes of the columns read,
    *    so a few large payloads (a blob plane) bound the decode as well
    *    as many small rows: a blob fetch among 4 MiB of candidate payload
    *    takes 73-85 ms this way against 139-155 ms through the plan. */
  private val MaxScanReadRows: Long = 4096L
  private val MaxNarrowedReadRows: Long = LocalFrame.MaxRows
  private val MaxDriverReadBytes: Long = 4L << 20

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The writer of every store data file (a version commit, a delta
    * append, a compaction): zstd at parquet's default level, whatever
    * the session's `spark.sql.parquet.compression.codec`. A version is a
    * round's whole write, so its bytes are the write cost: zstd writes
    * about a quarter fewer than snappy (BM25 postings, already dictionary
    * encoded, about a seventh). Parquet records the codec per column
    * chunk, so files of any other codec keep reading, merging and
    * compacting next to these; `Overwrite` replaces a crash-orphaned dir
    * of an unflipped write. */
  private def writer(data: DataFrame): DataFrameWriter[Row] =
    data.write.mode(SaveMode.Overwrite).option("compression", "zstd")

  /** One row group: its row count, the uncompressed bytes of each
    * top-level column, its byte range in the file (a reader split of
    * exactly this range decodes this group alone), and per statistics
    * column whether its min/max admit a value (absent: cannot rule out). */
  private[store] final case class Group(rows: Long, bytes: Map[String, Long], start: Long,
                                        length: Long, stats: Map[String, Any => Boolean]) {
    def covers(column: String, v: Any): Boolean = stats.get(column).forall(_(v))
  }
  private[store] final case class FileFooter(status: FileStatus, groups: Seq[Group])
  /** One generation's decoded candidates: every key it holds (a newer
    * generation holding a key drops the key's older rows, matching or
    * not) and the rows a pruning criteria's membership test keeps. */
  private[store] final case class Gen(keys: Set[Any], rows: Seq[InternalRow])
  /** The footer facts of one version or delta dir: the schema, from one
    * footer as Spark's own inference (mergeSchema off) reads it, the row
    * groups of every file, read on first use, and one parquet reader per
    * read schema (building one broadcasts the Hadoop conf). */
  private[store] final class DirFooter(val schema: StructType, readFiles: () => Seq[FileFooter]) {
    lazy val files: Seq[FileFooter] = readFiles()
    def rows: Long = files.iterator.flatMap(_.groups).map(_.rows).sum
    private val readers =
      new java.util.concurrent.ConcurrentHashMap[StructType, PartitionedFile => Iterator[InternalRow]]()
    def reader(spark: SparkSession, read: StructType): PartitionedFile => Iterator[InternalRow] =
      readers.computeIfAbsent(read, r =>
        new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema, new StructType(), r,
          Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf()))
  }

  /** The footers of the parquet files under `dir`, on the driver: the
    * schema from the first (Spark's own footer conversion, so it equals
    * the inferred one), and on first use of [[DirFooter.files]] every
    * file's row groups with the `statsColumns`' statistics. */
  private[store] def readFooters(spark: SparkSession, dir: String,
                                 statsColumns: Seq[String]): DirFooter = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HPath(dir)
    val files = path.getFileSystem(conf).listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    def footer(f: FileStatus): ParquetMetadata = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getFooter finally r.close()
    }
    val first = files.headOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet file under $dir"))
    val firstMeta = footer(first)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, firstMeta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    new DirFooter(schema, () => files.map { f =>
      FileFooter(f, (if (f eq first) firstMeta else footer(f)).getBlocks.asScala.toSeq.map { b =>
        val chunks = b.getColumns.asScala.toSeq
        Group(b.getRowCount,
          chunks.groupMapReduce(_.getPath.toArray.head)(_.getTotalUncompressedSize)(_ + _),
          b.getStartingPos, b.getCompressedSize,
          statsColumns.distinct.flatMap { c =>
            chunks.find(_.getPath.toDotString == c).map(ch => c -> admits(ch.getStatistics, b.getRowCount))
          }.toMap)
      })
    })
  }

  /** Whether a row group with these column statistics may hold a value. */
  private def admits(stats: Statistics[_], rows: Long): Any => Boolean =
    if (stats == null || stats.isEmpty) _ => true
    else if (!stats.hasNonNullValue) _ => !(stats.isNumNullsSet && stats.getNumNulls == rows)
    else {
      val cmp = stats.comparator().asInstanceOf[Comparator[Any]]
      val (lo, hi) = (stats.genericGetMin: Any, stats.genericGetMax: Any)
      v => cmp.compare(lo, v) <= 0 && cmp.compare(hi, v) >= 0
    }

  /** `t` with every nullability flag set and field metadata dropped: two
    * generations' columns union without widening iff these are equal. */
  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType  => ArrayType(loose(a.elementType))
    case m: MapType    => MapType(loose(m.keyType), loose(m.valueType))
    case other         => other
  }

  /** The values `{f: v}` or `{f: {$in: [v, …]}}` admits on column `f` of
    * type `t`, as (Spark value, parquet statistics value); None for any other
    * criteria, a type the statistics test does not serve, or a literal
    * that does not cast to it (the row groups are then not pruned). */
  private def statValues(criteria: String, f: String, t: DataType): Option[Seq[(Any, Any)]] = {
    val n = scala.util.Try(mapper.readTree(criteria)).toOption.orNull
    if (n == null || !n.isObject || n.size != 1 || !n.has(f)) None
    else {
      val v = n.get(f)
      val vs =
        if (v.isObject && v.size == 1 && v.has("$in") && v.get("$in").isArray)
          v.get("$in").elements().asScala.toSeq
        else if (v.isValueNode) Seq(v)
        else Nil
      val out = vs.map(v => t match {
        case LongType if v.isIntegralNumber && v.canConvertToLong =>
          Some((v.asLong, java.lang.Long.valueOf(v.asLong)))
        case IntegerType if v.isIntegralNumber && v.canConvertToInt =>
          Some((v.asInt, java.lang.Integer.valueOf(v.asInt)))
        case StringType if v.isTextual => Some((v.asText, Binary.fromString(v.asText)))
        case _ => None
      })
      if (vs.nonEmpty && out.forall(_.isDefined)) Some(out.flatten) else None
    }
  }
}

class ParquetStore(
    val spark: SparkSession,
    val root: String,
    val key: String = "task_id",
    override val lastUpdatedField: String = "last_updated",
    val numPartitions: Int = 0,
    val deltaWrites: Boolean = false,
    val compactAfter: Int = 8)
  extends SnapshotStore {

  require(compactAfter >= 1, s"compactAfter must be >= 1, got $compactAfter")

  val name: String = s"parquet:$root"
  Files.createDirectories(Paths.get(root))

  private def currentFile: Path = Paths.get(root, "_current")

  /** Raw manifest: `v_n` or (delta mode) `v_n;d_1,d_2,…`. */
  private def currentVersion: Option[String] =
    if (Files.exists(currentFile)) Some(Files.readString(currentFile).trim).filter(_.nonEmpty)
    else None

  /** Base version dir name + delta suffixes, parsed from the manifest. */
  private def parsed: Option[(String, Seq[String])] = currentVersion.map { m =>
    val halves = m.split(";", 2)
    val deltas =
      if (halves.length < 2 || halves(1).isEmpty) Nil
      else halves(1).split(",").toSeq
    (halves(0), deltas)
  }

  private def dataPath: Option[String] =
    parsed.map { case (b, _) => s"$root/$b" }.filter(p => Files.exists(Paths.get(p)))

  def isEmpty: Boolean = dataPath.isEmpty

  // every committed write flips `_current` to a fresh version id (or
  // extends the delta manifest), so the manifest string IS the content
  // token (one small file read, no action)
  override private[graft] def contentToken: String = currentVersion.getOrElse("")

  // builder markers persist as sidecar files next to `_current`
  // (`_indexkeys` discipline): the marker must survive the process
  // exactly as long as the data it describes does. One small file per
  // key, driver-side only. LINEAGE caveat (shared with contentToken):
  // wiping and re-creating the root restarts version ids, so reusing a
  // root across unrelated datasets requires clearing sidecars too.
  private def metaPath(k: String): Path =
    Paths.get(root, "_meta_" + k.replaceAll("[^a-zA-Z0-9._-]", "_"))
  override private[graft] def putMeta(k: String, v: String): Unit =
    Store.writeFileAtomic(metaPath(k), v)
  override private[graft] def getMeta(k: String): Option[String] =
    if (Files.exists(metaPath(k))) Some(Files.readString(metaPath(k))) else None

  def df: DataFrame = (dataPath, parsed) match {
    case (Some(p), Some((base, deltas))) if deltas.nonEmpty =>
      // merge-on-read: later generations win per key. The base NEVER
      // shuffles — only the keys the deltas re-state need resolving, so
      // the read is (base ANTI-JOIN delta keys) ∪ (delta winners). The
      // anti-join's right side is the key-only projection of the deltas
      // (O(batch·compactAfter) longs/strings), broadcast explicitly:
      // auto-broadcast keys off ESTIMATED size and a silent fall-through
      // to sort-merge would shuffle every base row — for a blob plane
      // that is the whole payload column crossing the network per read.
      // The broadcast is GUARDED on a footer-stats row bound over the
      // delta dirs (driver-side metadata, zero jobs): one huge upsert
      // batch would otherwise pin its full key set in driver + every
      // executor's memory on every subsequent read. Above the bound the
      // store compacts instead — one O(corpus) merge restores the plain
      // base read, strictly better than paying an un-broadcastable join
      // per read forever. Winners resolve with one max_by hash agg over
      // the DELTAS ONLY (small by the delta-write contract); each
      // generation is already key-unique (dedupLastWins at write), so
      // max_by on generation is exact last-write-wins. The winners
      // subtree appears twice in the plan (anti-join build + union) —
      // bounded-small by the same guard, so recompute beats a
      // persist/unpersist lifecycle on a lazily-returned DataFrame.
      // READS NEVER MUTATE: an over-bound delta set reads via the
      // non-broadcast merge (Catalyst picks a shuffled join — slower,
      // correct). Compaction happens on the WRITE path only
      // (upsert), under the store's write lock — a read-triggered
      // compact raced concurrent writers (two commit calls
      // computing the same next version id from the same manifest) and
      // concurrent readers (GC deleting dirs a live plan references),
      // the exact serve-while-streaming-build pattern the class
      // documents. Over-bound states are transient anyway: the write
      // that created one compacts in the same update call.
      mergedRead(p, base, deltas,
        bcast = deltaRowBound(base, deltas).exists(_ <= ParquetStore.MaxBroadcastDeltaRows))
    case (Some(p), _) => readCached(p)
    case _            => spark.emptyDataFrame
  }

  /** Memoized read per version/delta dir. The schema comes from the
    * dir's footer cache, so a fresh read starts no Spark job (a plain
    * `spark.read.parquet` runs one schema-inference job per dir). Store
    * call chains read [[df]] several times per operation (coverage probe
    * + query, merge + manifest, …); version dirs are IMMUTABLE once the
    * manifest names them, so the analyzed relation stays valid until the
    * next commit, which clears the cache; a delta append only adds a dir
    * ([[commit]]/[[upsert]]). */
  private val readCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def readCached(p: String): DataFrame =
    readCache.computeIfAbsent(p, path =>
      scala.util.Try(footerOf(path).schema).toOption
        .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path)))

  /** One footer cache entry per immutable dir, on the driver: the schema,
    * (read on first use) each row group's row count, column sizes, byte
    * range and the min/max of the key and the leading index field, and
    * the dir's parquet readers. Feeds [[readCached]], [[footerRowCount]],
    * [[deltaRowBound]] and the driver read of [[query]]; cleared
    * with the read cache. */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, ParquetStore.DirFooter]()
  private def footerOf(dir: String): ParquetStore.DirFooter =
    footerCache.computeIfAbsent(dir, ParquetStore.readFooters(spark, _, key +: indexKeys.take(1)))

  /** Drop the cached reads and footers of `dirs`, or of every dir. */
  private def invalidateReadCache(dirs: String*): Unit =
    if (dirs.isEmpty) { readCache.clear(); footerCache.clear() }
    else dirs.foreach { d => readCache.remove(d); footerCache.remove(d) }

  /** The base∪deltas last-write-wins merge plan (see [[df]] doc).
    * `bcast=false` (the over-bound compaction path) drops the broadcast
    * hint so Catalyst picks a shuffled join for the one-off merge. */
  private def mergedRead(p: String, base: String, deltas: Seq[String],
                         bcast: Boolean = true): DataFrame = {
    val baseDf = readCached(p)
    val all = deltas.zipWithIndex.map { case (d, i) =>
      readCached(s"$root/$base.$d").withColumn("__gen", lit(i + 1))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val cols = all.columns.filter(_ != "__gen")
    val winners = all.groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*), col("__gen")).alias("__doc"))
      .select(col("__doc.*"))
    val keys = winners.select(col(key))
    baseDf.join(if (bcast) broadcast(keys) else keys, Seq(key), "left_anti")
      .unionByName(winners, allowMissingColumns = true)
  }

  /** Σ parquet footer record counts under `dir` — driver metadata only. */
  private def footerRowCount(dir: String): Long = footerOf(dir).rows

  /** Upper bound on pending-delta rows (≥ distinct delta keys) from
    * footer stats. None = unreadable, treat as over-bound. */
  private def deltaRowBound(base: String, deltas: Seq[String]): Option[Long] =
    scala.util.Try(deltas.map(d => footerRowCount(s"$root/$base.$d")).sum).toOption

  /** Fields from [[ensureIndex]]: writes lay data out range-partitioned +
    * sorted on these, so parquet row-group min/max statistics prune point
    * lookups to one group (the Mongo `_id`-index analogue). Restored
    * from the `_indexkeys` sidecar so a RESTARTED store (fresh instance
    * over the same root — every incremental builder run) knows the
    * on-disk layout without re-creating it. */
  @volatile private var indexKeys: Seq[String] = {
    val p = Paths.get(root, "_indexkeys")
    if (Files.exists(p)) Files.readString(p).split("\n").toSeq.filter(_.nonEmpty)
    else Nil
  }

  /** S8 on parquet: an "index" = key-clustered layout. Recorded fields
    * re-shape every subsequent write; existing data is re-laid-out once
    * immediately (like index creation on a populated collection). The
    * field set persists in the `_indexkeys` sidecar, so re-ensuring an
    * already-recorded field after a restart is a no-op — the old shape
    * re-laid-out the WHOLE table on every fresh instance's first
    * ensureIndex (O(corpus) per incremental-builder restart). The
    * sidecar is written only here, AFTER the re-layout commit: it only
    * ever describes data that is actually clustered this way, and a
    * commit that leaves the key set alone does not rewrite it. */
  override def ensureIndex(field: String, unique: Boolean = false): Boolean = writing {
    if (!indexKeys.contains(field)) {
      indexKeys = indexKeys :+ field
      if (!isEmpty) commit(df)
      Store.writeFileAtomic(Paths.get(root, "_indexkeys"), indexKeys.mkString("\n"))
    }
    true
  }

  /** Serializes every manifest mutation (commit/compact/delta
    * append) on this instance: two concurrent writers would otherwise
    * compute the same next version id from the same parsed manifest and
    * overwrite each other's output (and GC dirs the other still
    * references). Reads stay lock-free — they only parse the immutable
    * manifest string and scan immutable version dirs. JVM-local by
    * design: cross-process coordination is the cluster deployment's
    * transaction log (Delta Lake, per the class doc). */
  private val writeLock = new Object
  override protected def writing[T](body: => T): T = writeLock.synchronized(body)

  protected def snapshot: Option[DataFrame] = if (isEmpty) None else Some(df)

  /** Write `data` as the next version and flip `_current` to it. */
  protected def commit(data: DataFrame): Unit = writing {
    val next = "v_" + (parsed.map(_._1.drop(2).toLong + 1).getOrElse(0L))
    val out =
      if (indexKeys.nonEmpty) {
        // disjoint sorted ranges: one file/row-group holds any given key
        val parts =
          if (numPartitions > 0) numPartitions
          else spark.sessionState.conf.numShufflePartitions
        data.repartitionByRange(parts, indexKeys.map(col): _*)
          .sortWithinPartitions(indexKeys.map(col): _*)
      }
      else if (numPartitions > 0) data.repartition(numPartitions, col(key))
      else data
    val writer = ParquetStore.writer(out)
    // every indexed field also gets a parquet BLOOM filter: range
    // clustering prunes point lookups on the FIRST sort key via
    // row-group min/max, but a secondary indexed field is unsorted
    // within groups and its min/max spans everything — the bloom
    // filter restores row-group skipping for equality probes on it
    // (parquet-mr evaluates blooms during row-group filtering, so
    // Spark's pushed `=` predicates use them with no reader change).
    // ~1 bit/key-ish footprint at the default NDV, paid once per write.
    // parquet-mr skips the bloom for fully dictionary-encoded chunks —
    // the dictionary page already gives exact membership skipping — so
    // requesting it on every indexed field only materializes where it
    // adds value (high-cardinality columns that fall back to plain).
    indexKeys.filter(data.columns.contains).foreach { k =>
      writer.option(s"parquet.bloom.filter.enabled#$k", "true")
    }
    writer.parquet(s"$root/$next")
    val old = parsed
    // atomic: an empty `_current` would read as an empty store, and the
    // next write would commit only its own batch
    Store.writeFileAtomic(currentFile, next)
    invalidateReadCache() // prior version dirs are GC'd below
    // GC: keep the immediately-previous generation (base AND its deltas)
    // so plans captured before this write (and concurrent readers of it)
    // stay scannable; only the grandparent generation is deleted. A
    // long-lived plan two writes behind can still fail — snapshot with
    // localCheckpoint for that.
    // Files.list/walk return open directory streams — close them or every
    // versioned write leaks a descriptor (fatal for long-running drivers
    // doing many incremental builds)
    old.foreach { case (oldBase, _) =>
      val ls = Files.list(Paths.get(root))
      try ls.forEach { p =>
        val name = p.getFileName.toString
        val keep = name == next || name == oldBase ||
          name.startsWith(oldBase + ".")
        if (name.startsWith("v_") && !keep) {
          val walk = Files.walk(p)
          try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
          finally walk.close()
        }
      } finally ls.close()
    }
  }

  /** S3 estimated-count fast path (reference `stores/mongolike.py:281-285`
    * answers no-criteria counts with `estimated_document_count`, O(1)):
    * a no-criteria count is answered from the parquet FOOTER row counts —
    * driver-side metadata reads, zero Spark jobs, zero data scanned. With
    * criteria it falls back to the filtered scan. At 100 TB this is the
    * difference between a catalog lookup and a cluster-wide count job
    * (and the footer loop parallelizes trivially if the file count ever
    * warrants it). */
  override def count(criteria: Option[String] = None): Long = criteria match {
    case Some(_) => super.count(criteria)
    // pending deltas may re-state existing keys — footer row counts would
    // double-count them, so the fast path applies to a compacted base only
    case None if parsed.exists(_._2.nonEmpty) => super.count(None)
    case None => dataPath.map(footerRowCount).getOrElse(0L)
  }

  /** S1 `query`, served on the driver when it is small: the rows of
    * [[df]] the criteria can match are decoded from the candidate row
    * groups on the driver and come back as a local frame in df's column
    * order, holding the columns `params` reads, and `params` (filter,
    * sort, projection, skip, limit) run on it with the plan's own
    * semantics by the driver evaluator ([[graft.query.LocalFrame]]), and
    * the result is a local frame — no Spark job. Otherwise (see
    * [[driverRead]]) the plan over [[df]]. */
  override def query(params: QueryParams): DataFrame =
    driverRead(params).fold(super.query(params))(d => LocalFrame.fold(params(d)))

  /** What [[df]] holds that `params.criteria` can match, as a local frame
    * of the columns `params` reads, or None to take the plan. Each
    * generation (the deltas newest first, then the base) contributes its
    * candidate row groups: all of them, or for `{f: v}` / `{f: {$in: […]}}`
    * on the key those whose key statistics admit a value; on the leading
    * [[ensureIndex]] field the base's groups are pruned the same way,
    * while the deltas are read whole, because a delta row re-stating a
    * key drops that key's base rows whatever the field holds. A key read
    * stops at the generation where every key value it names has been
    * found: older rows of those keys lose the merge. None when a footer
    * cannot be read, two generations type a column differently, a
    * delta-write store has a binary key, or the candidates of the
    * generations read hold more than `MaxScanReadRows` rows
    * (`MaxNarrowedReadRows` once the statistics have excluded a row
    * group) or `MaxDriverReadBytes` bytes of the columns read. The
    * generations merge as df does ([[merged]]). */
  private def driverRead(params: QueryParams): Option[DataFrame] = try {
    for {
      (base, deltas) <- parsed
      if Files.exists(Paths.get(root, base))
      footers = (base +: deltas.map(d => s"$base.$d")).map(d => footerOf(s"$root/$d"))
      all <- dfSchema(footers.map(_.schema))
      keyField <- all.find(_.name == key)
      if deltas.isEmpty || keyField.dataType != BinaryType
      need = reads(params)
      target = StructType(all.filter(f => f.name == key || need(f.name)))
      gens <- candidateRows(footers, params.criteria, all, target)
    } yield LocalRows.frame(spark, target, merged(gens, target, target.fieldIndex(key)))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The candidates of each generation the read needs (see
    * [[driverRead]]), decoded, the oldest first; None over the ceilings. */
  private def candidateRows(footers: Seq[ParquetStore.DirFooter], criteria: Option[String],
                            all: StructType, target: StructType): Option[Seq[ParquetStore.Gen]] = {
    val prune = criteria.flatMap(c => (key +: indexKeys.take(1)).distinct.flatMap { f =>
      all.find(_.name == f).flatMap(t => ParquetStore.statValues(c, f, t.dataType)).map(f -> _)
    }.headOption)
    val keyValues = prune.collect { case (f, vs) if f == key => vs.map(_._1).toSet }
    // a pruning criteria is a membership test on its column (its values
    // are of the column's type); any other criteria is the query's own
    // filter, which the driver evaluator runs over the merged rows
    val matches = prune.flatMap { case (f, vs) =>
      Some(target.fieldNames.indexOf(f)).filter(_ >= 0).map { i =>
        val (t, want) = (target(i).dataType, vs.map(_._1).toSet)
        val conv = CatalystTypeConverters.createToScalaConverter(t)
        (r: InternalRow) => !r.isNullAt(i) && want(conv(r.get(i, t)))
      }
    }.getOrElse((_: InternalRow) => true)
    val found = scala.collection.mutable.Set[Any]()
    var (rows, bytes, scanned, groupsTotal) = (0L, 0L, 0, 0)
    var out = List.empty[ParquetStore.Gen]
    var gen = footers.size - 1
    while (gen >= 0 && !keyValues.exists(_.subsetOf(found))) {
      val footer = footers(gen)
      val files = prune.filter { case (f, _) => f == key || gen == 0 }.fold(footer.files) {
        case (f, vs) =>
          footer.files.map(ff => ff.copy(groups = ff.groups.filter(g => vs.exists(v => g.covers(f, v._2)))))
      }.filter(_.groups.nonEmpty)
      val groups = files.flatMap(_.groups)
      rows += groups.iterator.map(_.rows).sum
      bytes += groups.iterator.flatMap(_.bytes).collect { case (c, n) if target.names.contains(c) => n }.sum
      scanned += groups.size
      groupsTotal += footer.files.iterator.map(_.groups.size).sum
      val maxRows =
        if (scanned < groupsTotal) ParquetStore.MaxNarrowedReadRows else ParquetStore.MaxScanReadRows
      if (rows > maxRows || bytes > ParquetStore.MaxDriverReadBytes) return None
      val g = decode(footer, files, target, matches, keys = footers.size > 1 || keyValues.isDefined)
      found ++= g.keys
      out = g :: out
      gen -= 1
    }
    Some(out)
  }

  /** [[df]]'s schema from the generations' footer schemas (the base
    * first), or None where df's union would widen a column's type. A
    * plain base reads in file order; with deltas the merge puts the key
    * first (the anti-join's USING column), then the base's other
    * columns, then those only deltas carry, oldest delta first. */
  private def dfSchema(gens: Seq[StructType]): Option[StructType] = {
    val b = gens.head
    val fields =
      if (gens.size == 1) b.fields.toSeq
      else (b.filter(_.name == key) ++ b.filter(_.name != key) ++ gens.tail.flatten)
        .distinctBy(_.name)
    val agree = fields.forall { f =>
      gens.forall(_.find(_.name == f.name).forall(g =>
        ParquetStore.loose(g.dataType) == ParquetStore.loose(f.dataType)))
    }
    if (agree) Some(StructType(fields)) else None
  }

  /** Whether `params` reads the top-level column: every column without a
    * projection, else the key and the projected, sorted and criteria
    * fields' roots (matched case-insensitively, as the analyzer resolves
    * them); every column when the criteria names fields inside values. */
  private def reads(params: QueryParams): String => Boolean = {
    val criteriaFields = params.criteria.fold(Option(Seq.empty[String]))(MongoFilter.fieldsRead)
    val fields = params.properties ++ params.sort.map(_._1) ++ criteriaFields.getOrElse(Nil)
    if (params.properties.isEmpty || criteriaFields.isEmpty || fields.exists(_.contains('`')))
      _ => true
    else {
      val roots = (key +: fields).map(_.takeWhile(_ != '.').toLowerCase).toSet
      name => roots(name.toLowerCase)
    }
  }

  /** The rows of `files`' groups, decoded on the driver by the dir's
    * reader of the `target` columns it has, each group through a split of
    * exactly its byte range, laid out in `target`'s order (a column the
    * dir lacks is null: df's `allowMissingColumns` union): the keys of
    * them all (with `keys`) and the rows `matches` keeps. */
  private def decode(footer: ParquetStore.DirFooter, files: Seq[ParquetStore.FileFooter],
                     target: StructType, matches: InternalRow => Boolean,
                     keys: Boolean): ParquetStore.Gen = {
    val read = StructType(footer.schema.filter(f => target.names.contains(f.name)))
    val readFile = footer.reader(spark, read)
    val idx = target.fields.map(f => read.fieldNames.indexOf(f.name))
    val types = target.fields.map(_.dataType)
    val k = target.fieldIndex(key)
    val keyOf = CatalystTypeConverters.createToScalaConverter(types(k))
    val row = new GenericInternalRow(target.size)
    val (held, out) = (scala.collection.mutable.Set[Any](), Vector.newBuilder[InternalRow])
    for (f <- files; g <- f.groups) {
      val st = f.status
      val it = readFile(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st),
        g.start, g.length, Array.empty, st.getModificationTime, st.getLen, Map.empty))
      // rows are copied before the reader moves on (it reuses them)
      try it.foreach { r =>
        var i = 0
        while (i < idx.length) {
          row.update(i, if (idx(i) < 0 || r.isNullAt(idx(i))) null else r.get(idx(i), types(i)))
          i += 1
        }
        if (keys) held += keyOf(row.get(k, types(k)))
        if (matches(row)) out += row.copy()
      } finally it match { case c: java.io.Closeable => c.close(); case _ => }
    }
    ParquetStore.Gen(held.toSet, out.result())
  }

  /** [[df]]'s merge of the generations' matching rows (the oldest read
    * first): its rows whose key no newer generation holds (a null key
    * matches none, as in the anti-join), then per key the rows of the
    * newest generation holding it — if they match (the deltas are
    * key-unique, so one row). */
  private def merged(gens: Seq[ParquetStore.Gen], target: StructType, k: Int): Seq[InternalRow] =
    if (gens.size == 1) gens.head.rows
    else {
      val t = target(k).dataType
      val keyOf = CatalystTypeConverters.createToScalaConverter(t)
      val seen = scala.collection.mutable.Set[Any]()
      val winners = gens.tail.reverse.flatMap { g =>
        val first = g.keys.filterNot(seen)
        seen ++= first
        g.rows.filter(r => first(keyOf(r.get(k, t))))
      }
      gens.head.rows.filter(r => r.isNullAt(k) || !seen(keyOf(r.get(k, t)))) ++ winners
    }

  /** [[update]] for a batch the CALLER has already made key-unique (and
    * materialized — e.g. one shared [[Store.dedupLastWins]] feeding
    * several planes): the per-store dedup shuffle is skipped, so the
    * write is ONE job over the batch. The uniqueness contract is the
    * caller's. */
  private[store] def updateUnique(docs: DataFrame,
                                  keyFields: Seq[String] = Seq(key)): Unit =
    writing { upsert(docs, keyFields, batchUnique = true) }

  /** Single-key upserts into a populated delta-write store append the
    * batch as a delta; everything else takes the full rewrite. */
  override protected def upsert(docs: DataFrame, keyFields: Seq[String],
                                batchUnique: Boolean): Unit =
    if (deltaWrites && !isEmpty && keyFields == Seq(key)) {
      val (base, deltas) = parsed.get
      val d = "d_" + (deltas.size + 1)
      ParquetStore.writer(if (batchUnique) docs else Store.dedupLastWins(docs, keyFields))
        .parquet(s"$root/$base.$d")
      Store.writeFileAtomic(currentFile, s"$base;${(deltas :+ d).mkString(",")}")
      // the base and older deltas are untouched; a crash-orphaned
      // same-name delta dir may have been cached stale
      invalidateReadCache(s"$root/$base.$d")
      // compact on delta COUNT (the steady-state cadence) or on the
      // broadcast row bound — the write path owns compaction so reads
      // never mutate (see the df doc); a bound-exceeding batch compacts
      // here, in the same update call that created it
      if (deltas.size + 1 >= compactAfter ||
          deltaRowBound(base, deltas :+ d)
            .forall(_ > ParquetStore.MaxBroadcastDeltaRows)) compact()
    } else super.upsert(docs, keyFields, batchUnique)

  /** Fold pending deltas into one merged base (re-clustered on any
    * [[ensureIndex]] keys) and reset the manifest — restores shuffle-free
    * reads, row-group pruning and the footer count fast path. No-op
    * without deltas. */
  def compact(): Unit = writing { parsed.foreach { case (base, deltas) =>
    // builds the merge plan directly (NOT via df — df compacts when the
    // delta bound is exceeded, which would recurse back here forever)
    if (deltas.nonEmpty)
      commit(mergedRead(s"$root/$base", base, deltas,
        bcast = deltaRowBound(base, deltas)
          .exists(_ <= ParquetStore.MaxBroadcastDeltaRows)))
  } }
}
