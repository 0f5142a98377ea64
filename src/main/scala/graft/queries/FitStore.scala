package graft.queries

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Pin

/** The one store for the fits several queries share (LDA, LSH
  * candidates, SimHash pairs, LM scores, …): the reference fits a
  * model once per job and reuses it, and so do the query packs.
  *
  * Entries are keyed by (session, sfDir, slot). A [[FitStore.Slot]]
  * is a typed, identity-equal key that also carries its build, so
  * names cannot collide and call sites read `slot(s, dir)` with no
  * cast. Each key builds once — a repeat query in the same session is
  * warm, a fresh session (`newSession()` included) builds its own, and
  * a build that throws leaves no entry, so the next call rebuilds.
  *
  * The map holds a lazy holder and the holder is forced after the
  * insert, outside any map operation: a build may itself read another
  * slot (`dupComponents` reads `simhashPairs`), which a build run
  * inside a concurrent map's atomic compute cannot do (the JDK map
  * throws "Recursive update").
  *
  * Release is explicit and bounded by the session's lifetime — the
  * session scope of [[graft.ops.Pin]]: the first entry for a
  * `SparkContext` registers one listener whose `onApplicationEnd`
  * drops that context's entries and releases every pin handed to
  * [[FitStore.owned]], directly or through [[FitStore.pinned]]. The
  * keys are strong on purpose — weak keys cannot work here, because
  * every cached DataFrame strongly references its session, so a
  * weakly keyed session would never become unreachable while its
  * entry lives.
  */
private[queries] object FitStore {

  /** A shared fit: `build` runs at most once per (session, sfDir). */
  final class Slot[A](
      private[FitStore] val build: (SparkSession, String) => A) {
    def apply(s: SparkSession, dir: String): A = get(s, dir, this)
  }

  def slot[A](build: (SparkSession, String) => A): Slot[A] = new Slot(build)

  /** An eager [[Pin.cache]] of `df` (one `count`), released when its
    * context ends.
    */
  def pinned(df: DataFrame): DataFrame = owned(Pin.cache(df, eager = true))

  /** Session scope for a pin made elsewhere — a fit that pins its own
    * output, a lazy cache, a cut: released when its context ends.
    */
  def owned(pin: DataFrame): DataFrame = {
    pins.put(pin, pin.sparkSession.sparkContext)
    pin
  }

  private final case class Key(s: SparkSession, dir: String, slot: Slot[_])

  private final class Holder[A](build: => A) {
    lazy val value: A = build
  }

  private val entries = TrieMap.empty[Key, Holder[_]]
  private val pins = TrieMap.empty[DataFrame, SparkContext]
  private val watched = TrieMap.empty[SparkContext, Unit]

  private def get[A](s: SparkSession, dir: String, slot: Slot[A]): A = {
    val sc = s.sparkContext
    if (watched.putIfAbsent(sc, ()).isEmpty)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          release(sc)
          watched.remove(sc)
        }
      })
    val key = Key(s, dir, slot)
    val h = entries.getOrElseUpdate(key, new Holder(slot.build(s, dir)))
      .asInstanceOf[Holder[A]]
    try h.value
    catch {
      case e: Throwable =>
        entries.remove(key, h)
        throw e
    }
  }

  /** Drop every entry of `sc`'s sessions and release the pins they
    * own — what the application-end listener runs.
    */
  private[queries] def release(sc: SparkContext): Unit = {
    entries.keys.filter(_.s.sparkContext eq sc).foreach(entries.remove)
    pins.collect { case (df, c) if c eq sc => df }.foreach { df =>
      pins.remove(df)
      try Pin.release(df)
      catch { case NonFatal(_) => () } // the context may be stopping
    }
  }
}
