package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The engine's one per-session artifact registry: relations, corpus
  * indexes, trained ANN indexes and artifact roots that are built once
  * per (session, kind, key) and then shared by every query in the
  * session.
  *
  * A [[Slot]] names one kind of artifact and fixes its value type, so
  * callers never cast: `private val frames = SessionArtifacts.Slot[DataFrame]("...")`
  * then `frames(spark, dir) { build }`. Entries are distinguished by Slot
  * instance, so two slots never share entries even under the same name.
  *
  * What holds:
  *  - `build` runs at most once per (session, slot, key) while the entry
  *    lives; concurrent callers on one key wait for that build and all get
  *    the same instance. A build that throws leaves no value, so the next
  *    lookup builds again.
  *  - Sessions are keyed by instance: `spark.newSession()` gets its own
  *    entries.
  *  - Nothing is evicted. An entry lives until [[invalidateAll]] or the
  *    end of the JVM. Memoized DataFrames reference their session
  *    (DataFrame → QueryExecution → SparkSession), so the weak key does
  *    not by itself make an entry collectable.
  */
object SessionArtifacts {

  /** One kind of artifact with value type `V`. */
  final class Slot[V](val kind: String) {
    def apply(spark: SparkSession, key: String)(build: => V): V = {
      val session = entries(spark)
      val cell = session.getOrElseUpdate((this, key), new Cell(build))
      try cell.value.asInstanceOf[V]
      catch { case e: Throwable => session.remove((this, key), cell); throw e }
    }

    override def toString: String = s"Slot($kind)"
  }

  object Slot {
    def apply[V](kind: String): Slot[V] = new Slot[V](kind)
  }

  // The lazy val makes the build run once per cell: losers of the
  // getOrElseUpdate race drop their unforced cell.
  private final class Cell(build: => Any) {
    lazy val value: Any = build
  }

  private val bySession =
    new java.util.WeakHashMap[SparkSession, TrieMap[(Slot[_], String), Cell]]

  private def entries(spark: SparkSession): TrieMap[(Slot[_], String), Cell] =
    bySession.synchronized {
      bySession.computeIfAbsent(spark,
        _ => TrieMap.empty[(Slot[_], String), Cell])
    }

  /** Drops every entry of `spark`, so each next lookup builds afresh.
    * Other sessions keep theirs. Dropped checkpoint blocks are reclaimed
    * by Spark's context cleaner once unreferenced.
    */
  def invalidateAll(spark: SparkSession): Unit =
    bySession.synchronized { bySession.remove(spark); () }
}
