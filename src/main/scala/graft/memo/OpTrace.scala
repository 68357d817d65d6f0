package graft.memo

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** What ONE engine call decided and where its commit time went. A trace
  * is private to the call that opened it ([[OpTrace.traced]]): a route
  * or catch-up decision lands in the trace of the call that made it,
  * never in one another thread can read, so two serving clients on one
  * engine each see their own. Pooled legs of the call
  * ([[MemoEngine.legs]]) note into the same trace. Every field stays
  * None / empty when the call never reached that decision.
  *
  *  - `serveRoute`: the serving door's arm ("brute" | "ann" | "pq") and
  *    the survivor bound it decided on;
  *  - `filteredAnnProbe` / `batchWiden`: (final nprobe, widening
  *    retries) of the single-query and the batch filtered probe ladder;
  *  - `retractRoute`: the maintenance cost route, "retract(live=N
  *    touched=K)" | "rebuild(…)";
  *  - `countSource` / `statsSource`: "view:<name>" | "scan" for
  *    `analyzeCount` and the stats pairs;
  *  - `viewRefresh`: (mode, files the refresh scanned); `viewPublish` /
  *    `dupPublish`: (shards written, shards carried by reference);
  *  - `arms`: maintained family ("lexical" | "ivf" | "signatures" |
  *    "dupgroups") → the arm its walk took, "fresh" | "append" |
  *    "retract" | "rebuild";
  *  - `phases`: (commit phase, ms) in report order. */
private[graft] final class OpTrace {
  @volatile var serveRoute: Option[(String, Long)] = None
  @volatile var filteredAnnProbe: Option[(Int, Int)] = None
  @volatile var batchWiden: Option[(Int, Int)] = None
  @volatile var retractRoute: Option[String] = None
  @volatile var countSource: Option[String] = None
  @volatile var statsSource: Option[String] = None
  @volatile var viewRefresh: Option[(String, Seq[String])] = None
  @volatile var viewPublish: Option[(Int, Int)] = None
  @volatile var dupPublish: Option[(Int, Int)] = None
  val arms = new ConcurrentHashMap[String, String]()
  val phases = new ConcurrentLinkedQueue[(String, Double)]()

  def arm(family: String): Option[String] = Option(arms.get(family))
}

private[graft] object OpTrace {
  private val active = new ThreadLocal[OpTrace]

  /** Run `body` under a fresh trace and return it with the result. */
  private[graft] def traced[A](body: => A): (A, OpTrace) = {
    val t = new OpTrace
    (within(t)(body), t)
  }

  /** The calling thread's trace, null when no call is traced. */
  private[memo] def current: OpTrace = active.get

  /** Run `body` with `t` (null = none) as this thread's trace, and put
    * back the one before it after — a pooled thread goes back to none. */
  private[memo] def within[A](t: OpTrace)(body: => A): A = {
    val outer = active.get
    active.set(t)
    try body finally active.set(outer)
  }

  /** Record into the calling thread's trace; one null check when none. */
  private[memo] def note(f: OpTrace => Unit): Unit = {
    val t = active.get
    if (t != null) f(t)
  }
}
