package graft.builder

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** The one owner of intermediate state: every checkpoint, cache and
  * broadcast lives as long as the [[scope]] it was made in. Only run
  * boundaries open a scope (a builder run, a checkpointing store write,
  * `Runner.run`, a bench or verify query, a call that returns no frame);
  * an `ext` call that returns a lazy frame registers what it materializes
  * with the caller's scope and throws without one. A checkpoint is freed
  * by freeing the RDD under its `LogicalRDD` (`Rdds.free`): `Dataset.unpersist`
  * only consults the cache manager and leaves those blocks to the GC. */
object Materialize {
  private final class Owner {
    val frames = ArrayBuffer.empty[(Dataset[_], Option[RDD[_]])] // RDD: a checkpoint's
    val broadcasts = ArrayBuffer.empty[Broadcast[_]]
  }
  // plain, not inheritable: a thread started inside a scope is outside it
  private val owners = new ThreadLocal[List[Owner]] {
    override def initialValue(): List[Owner] = Nil
  }

  /** Run `body`; at its exit, by return or throw, free every frame it
    * still holds and destroy its broadcasts. */
  def scope[A](body: => A): A = {
    val o = new Owner
    owners.set(o :: owners.get)
    try body
    finally {
      owners.set(owners.get.tail)
      // a failed free must not mask the body's own exception
      o.frames.foreach { case (ds, rdd) => scala.util.Try(free(ds, rdd)) }
      o.broadcasts.foreach(b => scala.util.Try(b.destroy()))
    }
  }

  private def owner(): Owner = owners.get.headOption.getOrElse(throw new IllegalStateException(
    "materialization outside a Materialize.scope: open one at the run boundary that consumes the frame"))

  /** Eager materialization under `spark.graft.materialize`: `"local"`
    * (default) a [[checkpoint]] — fastest, but an executor loss fails the
    * job; `"reliable"` a checkpoint to the context's checkpoint dir, so
    * executor loss recomputes from durable files; `"persist"` a counted
    * [[cache]] that keeps lineage, sound while the run's sources do not
    * change under it. */
  def eager[T](ds: Dataset[T]): Dataset[T] =
    scala.util.Try(ds.sparkSession.conf.get("spark.graft.materialize")).getOrElse("local") match {
      case "local" => checkpoint(ds)
      case "reliable" =>
        require(ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "spark.graft.materialize=reliable requires a checkpoint dir " +
            "(sparkContext.setCheckpointDir / Runner spec \"checkpoint_dir\")")
        hold(owner(), ds.checkpoint(true))
      case "persist" =>
        val p = cache(ds)
        p.count()
        p
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize must be local|reliable|persist, got '$other'")
    }

  /** [[eager]], spread to core count when it carries fewer partitions: a
    * one-row-group scan materializes as 2 partitions, and the CPU-bound
    * per-doc kernels downstream would run on 2 of N cores. */
  def spread(df: DataFrame): DataFrame = {
    val raw = eager(df)
    val par = raw.sparkSession.sparkContext.defaultParallelism
    if (raw.rdd.getNumPartitions >= par) raw
    else try eager(raw.repartition(par)) finally release(raw)
  }

  /** Lineage-severing `localCheckpoint(true)`, owned by the open scope. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = hold(owner(), ds.localCheckpoint(true))

  /** Lazy MEMORY_AND_DISK persist, owned by the open scope. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    owner().frames += (ds -> None)
    ds.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** A `localCheckpoint(true)` no scope owns: a store's snapshot, which
    * the store frees with [[release]]. */
  def snapshot[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** A driver value broadcast for the open scope's life. */
  def broadcast[T: ClassTag](spark: SparkSession, value: T): Broadcast[T] = {
    val o = owner()
    val b = spark.sparkContext.broadcast(value)
    o.broadcasts += b
    b
  }

  /** Free `ds` now; no scope frees it again. */
  def release(ds: Dataset[_]): Unit = {
    val held = owners.get.flatMap { o =>
      val mine = o.frames.filter(_._1 eq ds)
      o.frames.filterInPlace(_._1 ne ds)
      mine
    }
    if (held.isEmpty) free(ds, checkpointRdd(ds)) else held.foreach { case (d, r) => free(d, r) }
  }

  private def hold[T](o: Owner, ds: Dataset[T]): Dataset[T] = {
    o.frames += (ds -> checkpointRdd(ds))
    ds
  }

  private def checkpointRdd(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => None
  }

  private def free(ds: Dataset[_], rdd: Option[RDD[_]]): Unit = rdd match {
    case Some(r) => org.apache.spark.graft.Rdds.free(r)
    case None => ds.unpersist(blocking = false)
  }
}
