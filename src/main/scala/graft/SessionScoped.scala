package graft

import org.apache.spark.sql.SparkSession

/** Per-session state, weak-keyed on the session's `SharedState` OBJECT
  * (identityHashCode is not unique: a collected session's hash can
  * collide with a new one and serve state bound to a dead SparkContext).
  *
  * Values that hold DataFrames strongly reference their session and so
  * the weak key: such an entry would live for the JVM. An ApplicationEnd
  * listener, registered once per session, therefore frees the entry when
  * the context stops, and a session created after it starts empty.
  */
final class SessionScoped[V <: AnyRef](fresh: () => V) {
  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, V]())

  /** This session's value, created (and its release registered) on first use. */
  def apply(spark: SparkSession): V = bySession.synchronized {
    val key = spark.sharedState
    var v = bySession.get(key)
    if (v == null) {
      v = fresh()
      bySession.put(key, v)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            bySession.remove(key)
        })
    }
    v
  }

  /** Every live session's value (a snapshot). */
  def values: Seq[V] = bySession.synchronized {
    val out = Seq.newBuilder[V]
    bySession.values().forEach(v => out += v)
    out.result()
  }

  def clear(): Unit = bySession.clear()

  def size: Int = bySession.size()
}
