package graft.plans

/** Per-thread query time range — the one channel through which a range
  * reaches [[TimeRangeRewrite]]. [[graft.Graft.query]] and
  * `PreparedQuery.run` set it around their analysis; nothing else does.
  *
  * Session conf cannot carry a per-query range safely: ANY derived
  * Dataset (limit/select inside head(), count(), ...) re-runs the
  * analyzer at action time on whatever thread touches it, re-applying
  * the rewrite under whatever state is live right then — so a range
  * set by one thread leaks into plans analyzed concurrently by others,
  * and no lock around the original analysis can cover those later
  * re-analyses. A thread-local scopes the range to exactly the code
  * inside [[within]] on the calling thread: re-analyses elsewhere see
  * no range and leave already-scoped plans untouched. This mirrors the
  * reference, which threads query_range through per-query context
  * (rust/analytics/src/lakehouse/query.rs) rather than mutating
  * session state.
  */
object QueryRange {
  private val tl = new ThreadLocal[(Option[Long], Option[Long])] {
    override def initialValue: (Option[Long], Option[Long]) = (None, None)
  }

  /** Runs `body` with `[beginMicros, endMicros)` as this thread's range,
    * restoring the previous range afterwards.
    */
  def within[A](beginMicros: Option[Long], endMicros: Option[Long])(body: => A): A = {
    val outer = tl.get()
    tl.set((beginMicros, endMicros))
    try body finally tl.set(outer)
  }

  /** This thread's (begin, end) in epoch micros; (None, None) outside
    * any [[within]].
    */
  def get: (Option[Long], Option[Long]) = tl.get()
}
