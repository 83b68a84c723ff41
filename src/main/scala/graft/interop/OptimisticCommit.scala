package graft.interop

/** THE optimistic-commit loop every table format commits through
  * (Delta's `OptimisticTransaction`, Iceberg's `SnapshotProducer.commit`
  * shape): stage the commit against a base, publish it with a
  * create-if-absent, and when a rival published first, classify what
  * the rivals did, decide once whether this commit commutes with them,
  * and rebase onto the new head or refuse. A format supplies only its
  * staging, its publish step and its rebase gate (which rivals landed,
  * and the state to retry from); the attempt bound, the conflict table
  * and the refusal text live here. */
private[graft] object OptimisticCommit {

  /** Attempts one commit makes before it gives up. Each lost attempt
    * means a rival commit landed while this one was in flight, so the
    * bound is the number of rivals a writer waits out; the widest race
    * the writers are run under has six contenders, and a writer still
    * losing after this many rivals is livelocked and must surface
    * rather than spin. */
  val MaxAttempts = 16

  /** What the losing commit read — its side of the conflict table. */
  sealed trait Ours
  /** A blind append: reads nothing, so only a structural change can
    * invalidate it. */
  case object Append extends Ours
  /** A rewrite that read exactly `readSet` (file or partition keys in
    * the format's own key space). */
  final case class Rewrite(readSet: Set[String]) extends Ours
  /** A commit that read through a predicate or the whole table (an
    * overwrite, a data-changing rewrite, a create): a rival may have
    * changed what it read, so it never rebases. */
  final case class Pinned(why: String) extends Ours

  /** What one rival commit did — the other side of the table. Adding
    * files commutes with everything and needs no class. */
  sealed trait Rival
  /** Removed or rewrote rows of `keys` (None when they cannot be
    * named). */
  final case class Touched(who: String, keys: Option[Set[String]]) extends Rival
  /** Changed the schema, protocol or partition spec, or did something
    * the format cannot classify. */
  final case class Restructured(who: String, what: String) extends Rival

  /** The conflict table: the first reason `ours` cannot rebase over
    * `rivals`, None when it commutes with all of them. Append over
    * append (or over any row-set change) rebases; a rewrite rebases
    * only when no rival touched its read set; a structural change
    * refuses everything. */
  def conflict(ours: Ours, rivals: Iterator[Rival]): Option[String] = ours match {
    case Pinned(why) => Some(why)
    case _ => rivals.map {
      case Restructured(who, what) => Some(s"$who $what")
      case Touched(who, keys) => ours match {
        case Rewrite(readSet) => keys match {
          case None => Some(s"$who changed files it does not name, so its disjointness " +
            "from the read set cannot be proven")
          case Some(ks) =>
            val hit = ks.intersect(readSet)
            if (hit.isEmpty) None
            else Some(s"$who changed ${hit.size} entr${if (hit.size == 1) "y" else "ies"} " +
              s"of the read set, the scope this commit rewrites (${hit.toSeq.sorted.head})")
        }
        case _ => None
      }
    }.collectFirst { case Some(r) => r }
  }

  /** Run one commit: `stage` the commit for state `s`, `publish` it
    * (which throws ConcurrentModificationException when a rival took
    * its slot), and on a loss ask `rebase` which rivals landed and the
    * state to retry from. A successful retry counts in `rebases`; a
    * conflict refuses with the one refusal text, naming `what` and the
    * reason. */
  def run[S, P, R](what: String, ours: Ours, first: S,
      rebases: java.util.concurrent.atomic.AtomicLong)(stage: S => P)(
      publish: (S, P) => R)(rebase: S => (Iterator[Rival], S)): R = {
    var s = first
    var attempt = 1
    while (true) {
      val staged = stage(s)
      try {
        val r = publish(s, staged)
        if (attempt > 1) rebases.incrementAndGet()
        return r
      } catch {
        case lost: java.util.ConcurrentModificationException =>
          def noncommuting(why: String) = refusal(what,
            s"lost to a concurrent commit that does not commute with it ($why) — not rebasing",
            lost)
          if (attempt >= MaxAttempts) throw refusal(what,
            s"each of its $MaxAttempts attempts lost to a rival commit — giving up", lost)
          ours match { case Pinned(why) => throw noncommuting(why); case _ => }
          val (rivals, next) = rebase(s)
          conflict(ours, rivals).foreach(r => throw noncommuting(r))
          s = next
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** The one refusal: a conflict, or the attempt bound spent. It is a
    * ConcurrentModificationException, the type every caller's retry
    * contract matches on. */
  private def refusal(what: String, reason: String, cause: Throwable) =
    new java.util.ConcurrentModificationException(s"$what refused: $reason", cause)
}
