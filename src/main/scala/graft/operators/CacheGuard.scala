package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Reachable cleanup handle for operator-internal persisted frames whose
  * lifetime must ESCAPE the building function: the returned lazy plan reads
  * them more than once, so there is no safe in-function unpersist point,
  * and the caller holds no reference to unpersist either. Every such site
  * registers here at persist time ([[PersistTrackedOps.persistTracked]]).
  *
  * A caller that consumes those plans eagerly (a pipeline batch that lands
  * every result in the catalog) wraps the work in [[scoped]], which drops
  * exactly the frames registered during it — never a frame persisted
  * before, on another thread, or by someone else's still-live plan on a
  * shared session. Frames registered outside any scope belong to the
  * session (`spark.catalog.clearCache()` or teardown), the concrete
  * contract behind every "caller owns unpersist" scaladoc in this package.
  *
  * Frames a function unpersists itself (try/finally loops) do NOT register.
  */
object CacheGuard {

  /** The frames registered on one thread while this scope was the
    * innermost open one. Thread-confined: only its thread adds to it. */
  final class Scope private[CacheGuard] () {
    private[CacheGuard] val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Leave the scope and unpersist its frames (blocking = false; the block
      * drop proceeds asynchronously). Returns how many were released;
      * idempotent — a second close finds nothing. */
    def close(): Int = {
      open.set(open.get.filterNot(_ eq this))
      frames.foreach(_.unpersist(false))
      val n = frames.size
      frames.clear()
      n
    }
  }

  // this thread's open scopes, innermost first
  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  private[graft] def track(df: DataFrame): DataFrame = {
    open.get.headOption.foreach(_.frames += df)
    df
  }

  /** Open a scope on this thread; [[Scope.close]] ends it. */
  private[graft] def openScope(): Scope = {
    val s = new Scope
    open.set(s :: open.get)
    s
  }

  /** Run `body`, then unpersist the frames registered during it. */
  def scoped[T](body: => T): T = {
    val s = openScope()
    try body finally s.close(): Unit
  }

  implicit class PersistTrackedOps(private val df: DataFrame) extends AnyVal {
    /** `persist(lvl)` + register with [[CacheGuard]] — for frames the
      * returned plan reads but the function cannot unpersist. */
    def persistTracked(
        lvl: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      track(df.persist(lvl))
  }
}
