package graft.util

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Scoped SQL-conf overrides: set, run, then restore the value from
  * before the window (a key that was not set is unset again), so a job
  * does not leave the shared session altered after it returns.
  *
  * SQL confs are per-SparkSession state, so a conf window is scoped to
  * the session, not to the pipeline that opened it. Windows are
  * tracked per (session, key):
  *
  *  - windows nested on one thread form a stack: closing the inner one
  *    restores the outer one's value;
  *  - windows on different threads that set a key to the same value
  *    share it, and the last one to close restores the value from
  *    before the first one opened;
  *  - a window that would set a key to a different value than a window
  *    open on another thread throws IllegalStateException naming the
  *    key, and sets nothing: each would run under the other's value.
  *    Pipelines that need different values at once use isolated
  *    sessions (`spark.newSession()` shares the SparkContext but not
  *    SQL conf) and build their frames from that session's reads.
  */
object Confs {

  private final class Window(val thread: Thread, val value: String)

  /** The open windows on one (session, key), oldest first, and the
    * key's value before the first of them opened.
    */
  private final class Held(val before: Option[String]) {
    val windows = mutable.ArrayBuffer[Window]()
  }

  // guarded by `this`; an entry lives while a window on it is open
  private val held = mutable.HashMap[(SparkSession, String), Held]()

  def withConfs[T](spark: SparkSession)(pairs: (String, String)*)(body: => T): T = {
    val opened = open(spark, pairs)
    try body
    finally close(spark, opened)
  }

  private def open(spark: SparkSession, pairs: Seq[(String, String)]): Seq[(String, Window)] =
    synchronized {
      val me = Thread.currentThread()
      for ((k, v) <- pairs; h <- held.get((spark, k)); w <- h.windows)
        if ((w.thread ne me) && w.value != v) throw new IllegalStateException(
          s"conf $k is set to ${w.value} by a window open on thread ${w.thread.getName}; " +
            s"cannot set it to $v")
      lazy val explicit = spark.conf.getAll
      pairs.map { case (k, v) =>
        val w = new Window(me, v)
        held.getOrElseUpdate((spark, k), new Held(explicit.get(k))).windows += w
        spark.conf.set(k, v)
        k -> w
      }
    }

  private def close(spark: SparkSession, opened: Seq[(String, Window)]): Unit = synchronized {
    opened.reverseIterator.foreach { case (k, w) =>
      val h = held((spark, k))
      h.windows -= w
      h.windows.lastOption match {
        case Some(enclosing) => spark.conf.set(k, enclosing.value)
        case None =>
          held.remove((spark, k))
          h.before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }
}
