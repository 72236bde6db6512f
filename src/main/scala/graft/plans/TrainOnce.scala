package graft.plans

/** Train-once memo for a learned artifact (the IVF quantizer, the PQ
  * codebooks, the BPE merge table, the quality classifier, the DSIR
  * weights), keyed by what it was trained on, plus the drift loop's one
  * refit rule.
  *
  * Locking: `train` runs OUTSIDE the lock, so no key ever waits on
  * another key's training. Two calls that train the same key at once
  * both train; the first to finish is kept and both callers get it
  * (every artifact here trains deterministically, so the duplicate is
  * wasted work, never a different answer). A training that throws
  * stores nothing. Entries live until evicted: driver-side model state,
  * not an executor cache. */
final class TrainOnce[K, V] {
  private val memo = scala.collection.mutable.Map[K, V]()

  def apply(key: K)(train: => V): V =
    memo.synchronized(memo.get(key)).getOrElse {
      val built = train
      memo.synchronized(memo.getOrElseUpdate(key, built))
    }

  /** Drop every entry whose key satisfies `p`. */
  def evict(p: K => Boolean): Unit =
    memo.synchronized { memo.filterInPlace((k, _) => !p(k)); () }

  def clear(): Unit = memo.synchronized(memo.clear())

  /** One maintenance leg: run `measure`, and when `drifted` reads its
    * result as a trip, evict the keys `p` selects that were memoized
    * BEFORE `measure` ran, then `retrain`. On a cold memo `measure` has
    * just trained on the corpus as it now stands, and that entry
    * survives the trip, so each artifact trains at most once per pass.
    * Returns what `measure` returned. */
  def refit[R](p: K => Boolean)(measure: => R)(drifted: R => Boolean)(
      retrain: => Unit): R = {
    val before = memo.synchronized(memo.keySet.filter(p).toSet)
    val r = measure
    if (drifted(r)) { evict(before); retrain }
    r
  }
}
