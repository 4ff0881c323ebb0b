package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracks the frames materialized while composing a query so the composite
  * operator can free them once its result is materialized. Catalyst shares
  * nothing across join branches except identical exchanges, so the
  * intermediates MUST be materialized while the query is being assembled —
  * but they are garbage the moment the final result is checkpointed, and
  * without the release long sessions composing several near-dup queries
  * accumulate them until storage eviction kicks in (round-2 ADVICE).
  *
  * Every frame a scope hands out is an EAGER `localCheckpoint`: a one-node
  * `Scan ExistingRDD` leaf over MEMORY_AND_DISK blocks, not a persisted
  * `InMemoryRelation`. Both store the same rows at the same level; the
  * difference is the plan. An `InMemoryRelation` carries its whole cached
  * plan, and Spark re-renders it at every reference in every formatted
  * plan — after every AQE stage. Scoped frames nest (signals inside bucket
  * rows inside the plausible pairs inside the shingle cache), so an
  * allFileClusters job over 7k files rendered 208 MB of plan text, its
  * largest render 465k lines; over leaves it renders 0.4 MB. Eager
  * materialization also means no two consumers ever race to build the
  * same cached partitions.
  */
class PersistScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df` materialized as a lineage-cut leaf, freed by [[release]]. Under
    * [[PersistScope.LazyProp]] a plain (lazy, untracked) persist instead. */
  def persist(df: DataFrame): DataFrame =
    if (PersistScope.isLazy) PersistScope.unmanaged.persist(df)
    else {
      val leaf = df.localCheckpoint(true)
      frames.synchronized { frames += leaf }
      leaf
    }

  /** Free every tracked frame's blocks (non-blocking). Call only after the
    * composite's result is materialized (checkpointed / written): a freed
    * leaf cannot be recomputed. */
  def release(): Unit = frames.synchronized {
    frames.foreach(Blocks.free(_))
    frames.clear()
  }
}

object PersistScope {
  /** Persist without tracking — for direct stage-level calls where the
    * caller owns the cache lifetime. A plain lazy persist, so the frame's
    * full plan stays inspectable. */
  val unmanaged: PersistScope = new PersistScope {
    override def persist(df: DataFrame): DataFrame =
      df.persist(StorageLevel.MEMORY_AND_DISK)
    override def release(): Unit = ()
  }

  /** Set (e.g. by graft.Explain) to keep composite operators LAZY so their
    * full Catalyst plan stays inspectable — the default eager checkpoints
    * replace every scoped frame with a Scan ExistingRDD. Lazy mode also
    * skips the release (the un-materialized plan still references the
    * caches). */
  val LazyProp = "graft.scope.lazy"

  private def isLazy: Boolean = java.lang.Boolean.getBoolean(LazyProp)

  /** Run `body` with a fresh scope and release it when `body` returns: for
    * frames that die before the composite's result materializes (the body
    * must materialize whatever it returns that reads them). */
  def within[A](body: PersistScope => A): A = {
    val scope = new PersistScope
    try body(scope)
    finally scope.release()
  }

  /** Run `body` with a fresh scope; materialize its result with an EAGER
    * localCheckpoint, then release every frame the scope handed out. */
  def scoped(body: PersistScope => DataFrame): DataFrame =
    if (isLazy) body(unmanaged)
    else within(scope => body(scope).localCheckpoint(true))
}
