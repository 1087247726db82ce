package graft.store

import graft.builder.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-memory writable store (reference `MemoryStore`,
  * `stores/mongolike.py:506-603`): the DataFrame-native equivalent of a
  * mongomock collection. Used for tests and as builder scratch targets.
  *
  * Writes rebuild the plan (upsert = anti-join + union) and cache the
  * result; an empty store starts with no schema and adopts the first
  * batch's schema (maggma stores are schema-on-write).
  */
class MemoryStore(
    val spark: SparkSession,
    val name: String = "memory",
    val key: String = "task_id",
    override val lastUpdatedField: String = "last_updated")
  extends SnapshotStore {

  private var current: Option[DataFrame] = None
  // true when `current` is a checkpoint THIS store created (mutation
  // paths) — only those are released on replacement; a load()ed frame
  // belongs to the caller, who may have persisted it themselves
  private var ownsCurrent: Boolean = false
  // the store-owned snapshot one write back (see swap)
  private var previous: Option[DataFrame] = None
  private val generation = new java.util.concurrent.atomic.AtomicLong(0)
  // lineage nonce: a bare generation counter restarts at small integers
  // on every fresh instance, so a DURABLE consumer of the token (the
  // CurateBuilder facts fingerprint, a clean-pair marker sidecar) could
  // collide a restarted store's token with the one it stamped under
  // different content (ADVICE r15). The per-instance nonce makes tokens
  // unique per store lineage — exactly the lifetime of the contents.
  private val nonce = java.util.UUID.randomUUID().toString.take(8)

  def df: DataFrame = current.getOrElse(spark.emptyDataFrame)

  override private[graft] def contentToken: String =
    s"$nonce:${generation.get()}"

  def isEmpty: Boolean = current.isEmpty

  /** Replace contents wholesale (connect-time load). */
  def load(data: DataFrame): this.type = { swap(data, owned = false); this }

  protected def snapshot: Option[DataFrame] = current

  /** Checkpoint `next` eagerly (a write must be visible to subsequent
    * reads and must not grow an unbounded lazy plan across many writes)
    * and swap it in. */
  protected def commit(next: DataFrame): Unit = swap(Materialize.snapshot(next), owned = true)

  /** Make `next` the contents, keeping the replaced store-owned snapshot
    * one write (a plan captured before a write still reads, as with
    * ParquetStore's version GC) and releasing the one before it: a long
    * loop of update() calls holds two generations of blocks, not every
    * generation until a GC. A frame handed out two writes back is invalid
    * (mongomock semantics: cursors don't span writes). */
  private def swap(next: DataFrame, owned: Boolean): Unit = {
    previous.foreach(Materialize.release)
    previous = current.filter(_ => ownsCurrent)
    current = Some(next)
    ownsCurrent = owned
    generation.incrementAndGet()
  }
}
