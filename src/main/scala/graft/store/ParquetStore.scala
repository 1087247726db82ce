package graft.store

import graft.query.QueryParams
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
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
  * `DELETE WHERE` with no interface change).
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
  * ==Footer cache and point reads==
  * Each immutable version or delta dir has its parquet footers read on
  * the driver and cached: the schema from one footer (as Spark's own
  * inference reads it), and, on first use, each row group's row count,
  * column sizes and key min/max. A commit clears the cache; a delta
  * append drops only the new dir's entry. Reads take their schema from
  * it, so reading a fresh version starts no schema-inference job; the
  * no-criteria count and the delta row bound sum its row counts. A
  * key-equality [[query]] `{key: scalar}` is a point read: the deltas
  * newest first, then the base, keep only the row groups whose key
  * statistics cover the value; Spark's parquet reader decodes those on
  * the driver, only the columns the query reads, with `key = value`
  * pushed down; the first generation holding the key wins (the merge's
  * last-write-wins), and the rows come back as a local frame in [[df]]'s
  * column order, on which the query's own filter, sort, projection,
  * skip and limit run — no Spark job. It falls back to the plan over
  * [[df]] when the literal does not cast to the key type (or the key is
  * not an int, long or string column), a footer cannot be read, two
  * generations type a column differently, or the candidate row groups
  * of the generations it checks hold more than 4096 rows or 4 MiB of
  * the columns read (decoding more on the driver costs more than the
  * job it saves).
  */
object ParquetStore {
  /** Delta-row ceiling for the merge-on-read broadcast (see [[ParquetStore.df]]).
    * 4M keys ≈ tens of MB broadcast for long/short-string keys — far
    * inside Spark's broadcast-table and driver-memory comfort zone on
    * any executor profile; above it one compaction beats a pinned
    * broadcast on every read. */
  private[store] val MaxBroadcastDeltaRows: Long = 4000000L

  /** Ceilings of the point-read fast path (see [[ParquetStore.query]]):
    * the candidate row groups are decoded on the driver, one thread.
    * On a 4-core host 1000 to 4000 rows of 18-column docs decode in
    * 20-40 ms, against a 40-80 ms floor for one Spark job; beyond these
    * the decode grows past the job it saves. Bytes are the footer's
    * uncompressed sizes of the columns the query reads, so a few large
    * payloads (a blob plane) bound the decode as well as many small rows:
    * on the same host a blob fetch among 4 MiB of candidate payload
    * takes 73-85 ms this way against 139-155 ms through the plan. */
  private val MaxPointReadRows: Long = 4096L
  private val MaxPointReadBytes: Long = 4L << 20

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One row group: its row count, the uncompressed bytes of each
    * top-level column, and whether its key statistics admit a value
    * (true when the statistics cannot rule it out). */
  private[store] final case class KeyGroup(rows: Long, bytes: Map[String, Long],
                                           covers: Any => Boolean)
  private[store] final case class FileFooter(status: FileStatus, groups: Seq[KeyGroup])
  /** The footer facts of one version or delta dir: the schema, from one
    * footer as Spark's own inference (mergeSchema off) reads it, and the
    * row groups of every file, read on first use. */
  private[store] final class DirFooter(val schema: StructType, readFiles: () => Seq[FileFooter]) {
    lazy val files: Seq[FileFooter] = readFiles()
    def rows: Long = files.iterator.flatMap(_.groups).map(_.rows).sum
  }

  /** The footers of the parquet files under `dir`, on the driver: the
    * schema from the first (Spark's own footer conversion, so it equals
    * the inferred one), and on first use of [[DirFooter.files]] every
    * file's row groups with the `key` column's statistics. */
  private[store] def readFooters(spark: SparkSession, dir: String, key: String): DirFooter = {
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
        val stats: Statistics[_] =
          chunks.find(_.getPath.toDotString == key).map(_.getStatistics: Statistics[_]).orNull
        KeyGroup(b.getRowCount,
          chunks.groupMapReduce(_.getPath.toArray.head)(_.getTotalUncompressedSize)(_ + _),
          if (stats == null || stats.isEmpty) (_: Any) => true
          else if (!stats.hasNonNullValue)
            (_: Any) => !(stats.isNumNullsSet && stats.getNumNulls == b.getRowCount)
          else {
            val cmp = stats.comparator().asInstanceOf[Comparator[Any]]
            val (lo, hi) = (stats.genericGetMin: Any, stats.genericGetMax: Any)
            (v: Any) => cmp.compare(lo, v) <= 0 && cmp.compare(hi, v) >= 0
          })
      })
    })
  }

  /** `t` with every nullability flag set and field metadata dropped: two
    * generations' columns union without widening iff these are equal. */
  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType  => ArrayType(loose(a.elementType))
    case m: MapType    => MapType(loose(m.keyType), loose(m.valueType))
    case other         => other
  }

  /** A key-equality criteria `{key: scalar}` as the value in the key
    * column's type: (Spark value, parquet statistics value). None for any
    * other criteria, a key type the fast path does not serve, or a
    * literal that does not cast to the key type. */
  private def keyLiteral(criteria: String, key: String, keyType: DataType): Option[(Any, Any)] = {
    val n = scala.util.Try(mapper.readTree(criteria)).toOption.orNull
    if (n == null || !n.isObject || n.size != 1 || !n.has(key)) None
    else {
      val v = n.get(key)
      keyType match {
        case LongType if v.isIntegralNumber && v.canConvertToLong =>
          Some((v.asLong, java.lang.Long.valueOf(v.asLong)))
        case IntegerType if v.isIntegralNumber && v.canConvertToInt =>
          Some((v.asInt, java.lang.Integer.valueOf(v.asInt)))
        case StringType if v.isTextual =>
          Some((v.asText, Binary.fromString(v.asText)))
        case _ => None
      }
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
    * and (read on first use) each row group's row count, column sizes and
    * key min/max. Feeds [[readCached]], [[footerRowCount]],
    * [[deltaRowBound]] and the point-read fast path of [[query]]; cleared
    * with the read cache. */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, ParquetStore.DirFooter]()
  private def footerOf(dir: String): ParquetStore.DirFooter =
    footerCache.computeIfAbsent(dir, ParquetStore.readFooters(spark, _, key))

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
    val writer = out.write.mode(SaveMode.Overwrite)
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

  /** S1 `query` with a point-read fast path: a key-equality criteria
    * `{key: scalar}` is answered from the parquet footers and a driver-side
    * decode of the row groups whose key statistics cover the value — no
    * Spark job. The rows come back as a local frame in [[df]]'s column
    * order, holding the columns `params` reads (all of them without a
    * projection), and `params` (filter, sort, projection, skip, limit) run
    * on it, so the Mongo semantics are the plan's own. Any other criteria,
    * and the cases the fast path declines, take the plan over [[df]]. */
  override def query(params: QueryParams): DataFrame =
    pointRead(params).fold(super.query(params))(params(_))

  /** What [[df]] holds for the key value `params.criteria` names, or None
    * to take the plan: the criteria is not `{key: scalar}`, the literal
    * does not cast to the key type, a footer cannot be read, two
    * generations type a column differently, or the candidate row groups
    * of the generations checked hold more than `MaxPointReadRows` rows or
    * `MaxPointReadBytes` bytes of the columns read. Deltas are checked
    * newest first, then the base; the first generation holding the key
    * wins, which is df's last-write-wins merge. */
  private def pointRead(params: QueryParams): Option[DataFrame] = try {
    for {
      criteria <- params.criteria
      (base, deltas) <- parsed
      if Files.exists(Paths.get(root, base))
      dirs = deltas.reverse.map(d => s"$root/$base.$d") :+ s"$root/$base"
      all <- dfSchema(dirs.map(footerOf(_).schema))
      field <- all.find(_.name == key)
      (v, statV) <- ParquetStore.keyLiteral(criteria, key, field.dataType)
      need = reads(params)
      target = StructType(all.filter(f => need(f.name)))
      rows <- pointRows(dirs, v, statV, target)
    } yield spark.createDataFrame(rows.asJava, target)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** [[df]]'s schema from the generations' footer schemas (newest first,
    * the base last), or None where df's union would widen a column's
    * type. A plain base reads in file order; with deltas the merge puts
    * the key first (the anti-join's USING column), then the base's other
    * columns, then those only deltas carry, oldest delta first. */
  private def dfSchema(gens: Seq[StructType]): Option[StructType] = {
    val b = gens.last
    val fields =
      if (gens.size == 1) b.fields.toSeq
      else (b.filter(_.name == key) ++ b.filter(_.name != key) ++ gens.init.reverse.flatten)
        .distinctBy(_.name)
    val agree = fields.forall { f =>
      gens.forall(_.find(_.name == f.name).forall(g =>
        ParquetStore.loose(g.dataType) == ParquetStore.loose(f.dataType)))
    }
    if (agree) Some(StructType(fields)) else None
  }

  /** Whether `params` reads the top-level column: every column without a
    * projection, else the key and the projected and sorted fields' roots
    * (matched case-insensitively, as the analyzer resolves them). */
  private def reads(params: QueryParams): String => Boolean = {
    val fields = params.properties ++ params.sort.map(_._1)
    if (params.properties.isEmpty || fields.exists(_.contains('`'))) _ => true
    else {
      val roots = (key +: fields).map(_.takeWhile(_ != '.').toLowerCase).toSet
      name => roots(name.toLowerCase)
    }
  }

  /** The rows of the newest generation in `dirs` holding the key value,
    * as `target` rows; None when the candidate row groups of the
    * generations up to that one are over the fast path's ceilings. */
  private def pointRows(dirs: Seq[String], v: Any, statV: Any,
                        target: StructType): Option[Seq[Row]] = {
    val names = target.fieldNames.toSet
    // one reader per distinct schema (building one costs a broadcast)
    val readers = scala.collection.mutable.Map[StructType, PartitionedFile => Iterator[InternalRow]]()
    var (rows, bytes) = (0L, 0L)
    dirs.iterator.map { dir =>
      val footer = footerOf(dir)
      val files = footer.files.map(f => f.copy(groups = f.groups.filter(_.covers(statV))))
        .filter(_.groups.nonEmpty)
      val groups = files.flatMap(_.groups)
      rows += groups.map(_.rows).sum
      bytes += groups.iterator.flatMap(_.bytes).collect { case (c, n) if names(c) => n }.sum
      if (rows > ParquetStore.MaxPointReadRows || bytes > ParquetStore.MaxPointReadBytes) None
      else {
        val read = StructType(footer.schema.filter(f => names(f.name)))
        val readFile = readers.getOrElseUpdate(footer.schema, reader(footer.schema, read, v))
        Some(conform(decode(readFile, read, files, v), read, target))
      }
    }.find(_.forall(_.nonEmpty)).getOrElse(Some(Nil))
  }

  /** Spark's own parquet reader over a file of `schema`, run on the
    * driver, decoding the `read` columns with `key = v` pushed down
    * (parquet skips the row groups its statistics rule out). */
  private def reader(schema: StructType, read: StructType,
                     v: Any): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), read, Seq(EqualTo(key, v)),
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())

  /** The rows of `files` whose key equals `v`, decoded on the driver by `read`. */
  private def decode(read: PartitionedFile => Iterator[InternalRow], schema: StructType,
                     files: Seq[ParquetStore.FileFooter], v: Any): Seq[Row] = {
    val i = schema.fieldIndex(key)
    val hit: InternalRow => Boolean = v match {
      case s: String =>
        val u = UTF8String.fromString(s)
        r => !r.isNullAt(i) && r.getUTF8String(i) == u
      case l: Long => r => !r.isNullAt(i) && r.getLong(i) == l
      case n: Int  => r => !r.isNullAt(i) && r.getInt(i) == n
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    files.flatMap { f =>
      val st = f.status
      val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0,
        st.getLen, Array.empty, st.getModificationTime, st.getLen, Map.empty))
      // rows are converted before the reader moves on (it reuses them)
      try it.filter(hit).map(r => toRow(r).asInstanceOf[Row]).toList
      finally it match { case c: java.io.Closeable => c.close(); case _ => }
    }
  }

  /** `rows` of `from` re-laid in `to`'s column order; a column `from`
    * lacks is null (df's `allowMissingColumns` union). */
  private def conform(rows: Seq[Row], from: StructType, to: StructType): Seq[Row] = {
    val idx = to.fieldNames.toSeq.map(from.fieldNames.indexOf(_))
    rows.map(r => Row.fromSeq(idx.map(j => if (j < 0) null else r.get(j))))
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
      // Overwrite: a crash-orphaned dir from an unflipped write is replaced
      (if (batchUnique) docs else Store.dedupLastWins(docs, keyFields))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/$base.$d")
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
