package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Session-scoped memo for build-once artifacts (bucketed tables, ANN
  * indexes, dedup signature snapshots): the session-lifetime analog of a
  * persisted index/layout artifact at 100 TB, so repeated queries measure
  * probe/steady-state cost instead of re-paying the build.
  *
  * Concurrency/identity discipline (round-2 and round-3 advice):
  *  - the map key is the (session, name) PAIR, compared by the session's
  *    reference identity (SparkSession does not override equals) — two live
  *    sessions can never share, evict, or thrash each other's entries, even
  *    on an identity-hash collision, and a stopped session's key cannot be
  *    adopted by a new session;
  *  - build-once is `putIfAbsent` of a lazy holder: concurrent first
  *    callers race on the insert, every caller forces the WINNER's lazy
  *    value, so exactly one build runs and no loser artifact is created
  *    just to leak unreleased;
  *  - entries of stopped sessions are evicted on every access, each through
  *    its release hook (unpersist etc.) — skipped if the build never ran —
  *    so cached DataFrames and their sessions are not retained for the JVM
  *    lifetime. Entries pin their session strongly until then, which is the
  *    point: the artifact must not outlive or be collected under its owner.
  */
object SessionMemo {

  private final class Holder(build0: () => Any, val release: Any => Unit) {
    @volatile private[this] var built = false
    lazy val value: Any = { val v = build0(); built = true; v }
    /** Release the artifact iff the build actually completed — forcing the
      * lazy here would run a fresh build on a stopped session.
      */
    def releaseIfBuilt(): Unit =
      if (built) scala.util.Try(release(value))
  }

  private val entries = TrieMap.empty[(SparkSession, String), Holder]

  /** Get or build the artifact for (session, key). `release` runs when the
    * entry is evicted after its session stops (best-effort: eviction happens
    * on the next SessionMemo access from any caller).
    */
  def getOrElseUpdate[T](session: SparkSession, key: String)(build: => T)(
      release: T => Unit): T = {
    evictStopped()
    val k = (session, key)
    val mine = new Holder(() => build, release.asInstanceOf[Any => Unit])
    val winner = entries.putIfAbsent(k, mine).getOrElse(mine)
    winner.value.asInstanceOf[T]
  }

  /** Release (session, key)'s entry now through its release hook, if
    * built; the next read builds it again. */
  def release(session: SparkSession, key: String): Unit =
    entries.remove((session, key)).foreach(_.releaseIfBuilt())

  /** Release every entry of `session` — what a harness calls before it
    * stops the session, since eviction otherwise waits for a later
    * access that may never come. */
  def releaseAll(session: SparkSession): Unit =
    entries.keys.foreach { case (s, key) => if (s eq session) release(s, key) }

  private def evictStopped(): Unit =
    entries.keys.foreach { case k @ (session, _) =>
      if (session.sparkContext.isStopped)
        entries.remove(k).foreach(_.releaseIfBuilt()) // remove is atomic: one releaser
    }
}
