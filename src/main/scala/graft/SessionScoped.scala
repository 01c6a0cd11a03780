package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-session state: the one place that decides what lives per session
  * and when it dies. Every module that keeps state across statements
  * (catalog facts, variables, prepared statements, index registries,
  * plan and postings caches) holds it as one `State` object in a
  * `SessionScoped`, with its maps keyed without any session component.
  *
  *  - Scope: one value per `SharedState` OBJECT, weak-keyed, so sessions
  *    from `newSession()` share it (the scope graft has always had).
  *    Object identity, never `identityHashCode`: a hash is not unique,
  *    and a collected session's hash can collide with a new one and
  *    serve state bound to a dead SparkContext.
  *  - Release: values that hold DataFrames strongly reference their
  *    session and so the weak key, so weakness alone frees nothing. One
  *    ApplicationEnd listener per SparkContext drops that context's
  *    values from every instance; a session created after it starts
  *    empty.
  *  - Reset: [[SessionScoped.reset]] empties every instance's value for
  *    one session (a test harness that wants a fresh session without
  *    stopping the context).
  *  - Task threads: UDF bodies run on task threads from a serialized
  *    closure, so a captured `State` would be a copy. Such closures
  *    capture a [[SessionScoped.Handle]] and resolve it to the live value
  *    with `apply(handle)`.
  */
final class SessionScoped[V <: AnyRef](fresh: () => V) {
  // keyed on the session's SharedState (a type private to Spark)
  private val bySession = new java.util.WeakHashMap[AnyRef, V]()
  SessionScoped.instances.add(this)

  /** This session's value, created on first use. */
  def apply(spark: SparkSession): V = of(spark.sharedState, spark.sparkContext)

  /** The live value of the session a handle was taken from. */
  def apply(h: SessionScoped.Handle): V = {
    val (key, sc) = SessionScoped.resolve(h)
    of(key, sc)
  }

  private def of(key: AnyRef, sc: SparkContext): V = bySession.synchronized {
    var v = bySession.get(key)
    if (v == null) {
      v = fresh()
      bySession.put(key, v)
      SessionScoped.enter(key, sc)
    }
    v
  }

  /** Every live session's value (a snapshot). */
  def values: Seq[V] = bySession.synchronized {
    val out = Seq.newBuilder[V]
    bySession.values().forEach(v => out += v)
    out.result()
  }

  def clear(): Unit = bySession.synchronized(bySession.clear())

  def size: Int = bySession.synchronized(bySession.size())

  private def dropWhere(p: AnyRef => Boolean): Unit =
    bySession.synchronized(bySession.keySet().removeIf(k => p(k)))
}

object SessionScoped {

  /** Serializable stand-in for one session, for closures that run on
    * task threads.
    */
  final case class Handle(id: Long)

  // the context is held weakly: a map value must not pin its weak key
  private final class Session(context: SparkContext, val handle: Handle) {
    private val ref = new java.lang.ref.WeakReference(context)
    def sc: SparkContext = ref.get
  }

  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[SessionScoped[_ <: AnyRef]]()
  // SharedState → its context and handle
  private val sessions = new java.util.WeakHashMap[AnyRef, Session]()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Forget this session's value in every instance. */
  def reset(spark: SparkSession): Unit = {
    val key = spark.sharedState
    instances.forEach(_.dropWhere(_ eq key))
  }

  def handle(spark: SparkSession): Handle =
    enter(spark.sharedState, spark.sparkContext).handle

  /** Values held across every instance (test/monitoring hook). */
  private[graft] def liveValues: Int = {
    var n = 0
    instances.forEach(i => n += i.size)
    n
  }

  /** Record a session, and register, once per SparkContext, the
    * listener that frees the state of its sessions when it stops.
    */
  private def enter(key: AnyRef, sc: SparkContext): Session = synchronized {
    var s = sessions.get(key)
    if (s == null) {
      s = new Session(sc, Handle(nextId.incrementAndGet()))
      sessions.put(key, s)
      if (watched.add(sc))
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            release(sc)
        })
    }
    s
  }

  private def resolve(h: Handle): (AnyRef, SparkContext) = synchronized {
    val it = sessions.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.handle == h) return (e.getKey, e.getValue.sc)
    }
    throw new IllegalStateException("the session of this handle is gone")
  }

  private def release(sc: SparkContext): Unit = {
    val ended = new java.util.HashSet[AnyRef]()
    synchronized(sessions.forEach((k, s) => if (s.sc eq sc) ended.add(k)))
    instances.forEach(_.dropWhere(ended.contains))
  }
}
