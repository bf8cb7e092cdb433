package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one memo for driver-derived per-corpus state: trained state (BPE
  * merges, unigram LM, quality-perceptron weights, bigram-LM scores,
  * dedup components, the Lloyd bank, RRF ranks) and the eager frames of
  * the actionful similarity/video builders (bitext_margin's scored pairs
  * and neighborhoods, kcenter_sample's picks, semdedup's ranked cells,
  * video_neardup's clip codes). Such state is derived once per corpus and
  * then reused by every consumer and every repetition.
  *
  * Rule: ONE entry per (name, dir). A lookup hits only when the entry was
  * trained in the same session (by reference — plans are session-bound)
  * on the same [[Tables.sourceFingerprint]] of `table` (the corpus can be
  * regenerated in place). A miss first drops the old entry and unpersists
  * every DataFrame it holds (directly or inside a tuple), then trains. So
  * the memo retains at most one session per (name, dir) and never grows
  * past one entry per operator and directory.
  *
  * The lock is the object monitor, which is reentrant: a trainer may look
  * up other trained state (rrfRanks trains inside its own entry and calls
  * bigramLogprob and trainQualityPerceptron; semdedupRanked calls
  * trainLloydBank). */
object TrainedState {
  private final case class Entry(session: SparkSession, fingerprint: String, value: Any)

  private val entries = scala.collection.mutable.HashMap.empty[(String, String), Entry]
  private val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]

  def apply[T](name: String, s: SparkSession, dir: String, table: String)(train: => T): T = {
    val fp = Tables.sourceFingerprint(dir, table)
    synchronized {
      val (hits, misses) = counts.getOrElse(name, (0L, 0L))
      entries.get((name, dir)) match {
        case Some(e) if (e.session eq s) && e.fingerprint == fp =>
          counts(name) = (hits + 1, misses)
          e.value.asInstanceOf[T]
        case stale =>
          counts(name) = (hits, misses + 1)
          // release BEFORE training: a frame retrained over the same path
          // has the same plan, so persisting it while the stale one is
          // still cached would serve the stale cached rows
          stale.foreach { e => entries.remove((name, dir)); release(e.value) }
          val v = train
          entries((name, dir)) = Entry(s, fp, v)
          v
      }
    }
  }

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => df.unpersist(blocking = false)
    case p: Product if !p.isInstanceOf[Iterable[_]] => p.productIterator.foreach(release)
    case _ => ()
  }

  /** `(hits, misses)` of every lookup under `name` so far, over all dirs. */
  def stats(name: String): (Long, Long) = synchronized(counts.getOrElse(name, (0L, 0L)))

  /** The session the (name, dir) entry was trained in, if any. */
  private[graft] def sessionOf(name: String, dir: String): Option[SparkSession] =
    synchronized(entries.get((name, dir)).map(_.session))
}
