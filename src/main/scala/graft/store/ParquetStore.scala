package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

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
  */
object ParquetStore {
  /** Delta-row ceiling for the merge-on-read broadcast (see [[ParquetStore.df]]).
    * 4M keys ≈ tens of MB broadcast for long/short-string keys — far
    * inside Spark's broadcast-table and driver-memory comfort zone on
    * any executor profile; above it one compaction beats a pinned
    * broadcast on every read. */
  private[store] val MaxBroadcastDeltaRows: Long = 4000000L
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
      if (deltaRowBound(base, deltas)
            .forall(_ > ParquetStore.MaxBroadcastDeltaRows))
        mergedRead(p, base, deltas, bcast = false)
      else mergedRead(p, base, deltas)
    case (Some(p), _) => readCached(p)
    case _            => spark.emptyDataFrame
  }

  /** Memoized `spark.read.parquet` per version/delta dir: every fresh
    * read pays a footer/listing job for schema + file-index creation,
    * and store call chains read [[df]] several times per operation
    * (coverage probe + query, merge + manifest, …). Version dirs are
    * IMMUTABLE once the manifest names them, so the analyzed relation
    * (schema + file listing) stays valid until the next write, which
    * clears the cache ([[commit]]/[[upsert]]). */
  private val readCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def readCached(p: String): DataFrame =
    readCache.computeIfAbsent(p, path => spark.read.parquet(path))
  private def invalidateReadCache(): Unit = readCache.clear()

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
  private def footerRowCount(dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

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
      // a crash-orphaned same-name delta dir may have been cached stale
      invalidateReadCache()
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
