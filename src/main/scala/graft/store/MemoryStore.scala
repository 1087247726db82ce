package graft.store

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
  // paths) — only those may be unpersisted on replacement; a load()ed
  // frame belongs to the caller, who may have persisted it themselves
  private var ownsCurrent: Boolean = false
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
  def load(data: DataFrame): this.type = {
    if (ownsCurrent) current.foreach(_.unpersist())
    current = Some(data); ownsCurrent = false
    generation.incrementAndGet(); this
  }

  protected def snapshot: Option[DataFrame] = current

  /** Checkpoint `next` eagerly (a write must be visible to subsequent
    * reads and must not grow an unbounded lazy plan across many writes),
    * swap it in and free the replaced snapshot's blocks — a long
    * foreachBatch loop of update() calls must hold ONE generation of
    * blocks, not every generation until GC. Like
    * every durable store whose files rotate on write, a frame handed out
    * before a mutation is invalid after it (mongomock semantics: cursors
    * don't span writes). Only store-owned checkpoints are freed: a
    * `load`ed frame belongs to the caller. */
  protected def commit(next: DataFrame): Unit = {
    val old = if (ownsCurrent) current else None
    current = Some(next.localCheckpoint(true))
    ownsCurrent = true
    generation.incrementAndGet()
    old.foreach(_.unpersist())
  }
}
