package graft.queries

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** A named build-once session artifact: an index, signature snapshot,
  * trained model or written layout that many queries read and the session
  * pays for once. The ONE definition of it: the name is both the
  * [[graft.SessionMemo]] key (per corpus dir) and the `graft.Bench` build
  * line, and `needs` lists every artifact the build reads directly — the
  * twin of [[OracleQuery.needs]] — so a harness derives what to build, and
  * in which order, from the declarations instead of keeping its own
  * consumer lists.
  */
final class Artifact[T] private (val name: String,
    val needs: Seq[Artifact[_]], open: (SparkSession, String) => (T, () => Unit)) {

  /** The artifact over corpus dir `d`, built on the first read in `s`;
    * its release runs when the entry is evicted after `s` stops, or at
    * [[release]]. */
  def apply(s: SparkSession, d: String): T = {
    Artifact.noteRead(this)
    graft.SessionMemo.getOrElseUpdate(s, s"$name:$d")(
      Artifact.building(this)(open(s, d)))(_._2())._1
  }

  /** Release the artifact over `d` in `s` now, if built; a later read
    * builds it again. */
  private[graft] def release(s: SparkSession, d: String): Unit =
    graft.SessionMemo.release(s, s"$name:$d")
}

object Artifact {

  def apply[T](name: String, needs: Seq[Artifact[_]] = Nil)(
      build: (SparkSession, String) => T)(release: T => Unit): Artifact[T] =
    new Artifact[T](name, needs, { (s, d) =>
      val v = build(s, d)
      (v, () => release(v))
    })

  /** An artifact whose build writes a persisted layout into a fresh
    * temp directory named `prefix…`, passed to `build` as its third
    * argument. The artifact owns the directory: it is deleted after
    * `release` runs, and when the build fails. */
  def scratch[T](name: String, prefix: String, needs: Seq[Artifact[_]] = Nil)(
      build: (SparkSession, String, String) => T)(release: T => Unit): Artifact[T] =
    new Artifact[T](name, needs, { (s, d) =>
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      val v = try build(s, d, dir) catch { case e: Throwable => sweepScratch(s, dir); throw e }
      (v, () => try release(v) finally sweepScratch(s, dir))
    })

  /** Best-effort recursive delete of a scratch directory: a failed
    * delete must never fail the query or release that asked for it. */
  private[queries] def sweepScratch(s: SparkSession, dir: String): Unit =
    try {
      val (fs, root) = graft.operators.InvertedIndex.fsFor(s, dir)
      fs.delete(root, true)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  // ---- the undeclared-read guard: a read is charged to its DIRECT
  //      reader — the innermost build running on this thread, else the
  //      watched query — and checked against that reader's `needs`. A
  //      missing declaration then surfaces in the correctness record
  //      instead of as a build the bench silently stops billing ----

  /** Builds running on this thread, innermost first. */
  private val inBuild = ThreadLocal.withInitial[List[Artifact[_]]](() => Nil)

  private final class Watch(val needs: Seq[Artifact[_]]) {
    val undeclared = TrieMap.empty[String, Unit]
  }
  @volatile private var watched: Option[Watch] = None

  private def building[A](a: Artifact[_])(body: => A): A = {
    inBuild.set(a :: inBuild.get)
    try body finally inBuild.set(inBuild.get.tail)
  }

  private def noteRead(a: Artifact[_]): Unit = watched.foreach { w =>
    inBuild.get match {
      case b :: _ =>
        if (!b.needs.contains(a)) w.undeclared.put(s"${a.name} (in ${b.name})", ())
      case Nil =>
        if (!w.needs.contains(a)) w.undeclared.put(a.name, ())
    }
  }

  /** Run `body` as a query declaring `needs`; returns its result and the
    * reads that it, or a build it triggered, made without declaring them
    * (sorted). One query is watched at a time — the harnesses run queries
    * one after another.
    */
  private[graft] def watch[A](needs: Seq[Artifact[_]])(
      body: => A): (A, Seq[String]) = {
    val w = new Watch(needs)
    watched = Some(w)
    try { val out = body; (out, w.undeclared.keys.toSeq.sorted) }
    finally watched = None
  }
}
