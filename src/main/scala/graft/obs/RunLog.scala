package graft.obs

import scala.collection.mutable

import graft.engine.SqlRunner.RunStats

/** Thread-scoped run statistics — the per-iteration log the reference keeps
  * beside the process that ran it (gmr.h:317-334), kept here beside the
  * thread that made the call. A runner records each run's own [[RunStats]]
  * and a query records named measures (b08's phase seconds, a streaming
  * drain's batch count); [[capture]] hands its body's result back together
  * with everything recorded on its thread while the body ran.
  *
  * Outside a [[capture]] a record is dropped: Verify's concurrent pool
  * captures nothing, so its workers pay nothing and share nothing, and a
  * run never leaves state behind for a later reader.
  */
object RunLog {

  /** What one [[capture]] saw, in recording order. */
  final case class Records(runs: Seq[RunStats], measures: Seq[(String, Double)]) {

    /** The single run `what` made; fails loudly on any other count, since a
      * sidecar that reads one of several runs would report the wrong one.
      */
    def onlyRun(what: String): RunStats = runs match {
      case Seq(r) => r
      case rs => throw new IllegalStateException(
        s"$what recorded ${rs.size} engine runs, expected exactly one")
    }

    /** The last value recorded under `name`. */
    def measure(name: String): Double =
      measures.reverseIterator.collectFirst { case (`name`, v) => v }
        .getOrElse(throw new NoSuchElementException(s"no measure $name recorded"))
  }

  private final class Open {
    val runs = mutable.ArrayBuffer.empty[RunStats]
    val measures = mutable.ArrayBuffer.empty[(String, Double)]
  }

  private val open = new ThreadLocal[Open]

  /** Runs `body` and returns its result with everything recorded on this
    * thread meanwhile. An enclosing capture sees the records too.
    */
  def capture[T](body: => T): (T, Records) = {
    val outer = open.get
    val mine = new Open
    open.set(mine)
    try {
      val out = body
      (out, Records(mine.runs.toList, mine.measures.toList))
    } finally {
      open.set(outer)
      if (outer != null) {
        outer.runs ++= mine.runs
        outer.measures ++= mine.measures
      }
    }
  }

  /** Records `stats` for the enclosing capture, if any, and returns it. */
  def run(stats: RunStats): RunStats = {
    val o = open.get
    if (o != null) o.runs += stats
    stats
  }

  /** Records `value` under `name` for the enclosing capture, if any. */
  def measure(name: String, value: Double): Unit = {
    val o = open.get
    if (o != null) o.measures += (name -> value)
  }
}
