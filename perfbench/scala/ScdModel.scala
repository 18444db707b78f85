package perfbench

import scala.collection.mutable

/** One supplier row as the pipeline's CSV, landing and master carry it. */
final case class Supp(key: Long, code: String, name: String, state: String) {
  def csv: String = s"$key,$code,$name,$state"
}

/** One history (staging) row; dates are epoch milliseconds, `end` is
  * absent while the version is open. */
final case class Version(s: Supp, start: Long, end: Option[Long], current: Boolean)

/** Independent in-memory SCD Type-2 model of one pipeline cycle in
  * faithful mode, written from the reference semantics in plain Scala
  * collections (no Spark):
  *
  *  - a batch carries each business key at most once;
  *  - landing: upsert by business key; a key is updated when any non-key
  *    column differs, never deleted;
  *  - the CDC delta is the diff of landing before and after: an update is
  *    a DELETE of the old image plus an INSERT of the new one;
  *  - staging: every DELETE image closes the history rows with the same
  *    (code, state), closed rows too (their end date is re-stamped); every
  *    INSERT image opens a version unless a row with the same (code,
  *    state) already exists. So a return to a prior state opens nothing,
  *    and a name-only change closes the current row without reopening it
  *    (the two documented quirks);
  *  - master: the current rows. */
final class ScdModel {
  val landing = mutable.LinkedHashMap[String, Supp]()
  private val history = mutable.HashMap[String, mutable.ArrayBuffer[Version]]()
  var cdcRows = 0L

  /** Applies one batch. */
  def cycle(batch: Seq[Supp], ts: Long): Unit = {
    require(batch.map(_.code).distinct.size == batch.size, "duplicate keys in a batch")
    val deletes = mutable.ArrayBuffer[Supp]()
    val inserts = mutable.ArrayBuffer[Supp]()
    batch.foreach { s =>
      landing.get(s.code) match {
        case None =>
          inserts += s
        case Some(old) if old != s =>
          deletes += old
          inserts += s
        case _ => ()
      }
    }
    cdcRows += deletes.size + inserts.size
    // the open-version anti-join reads the history as it was before
    // this cycle's closes
    val opened = inserts.filterNot(s => history.getOrElse(s.code, Nil).exists(_.s.state == s.state))
    deletes.map(d => (d.code, d.state)).distinct.foreach { case (code, state) =>
      history.get(code).foreach { vs =>
        for (i <- vs.indices if vs(i).s.state == state)
          vs(i) = vs(i).copy(end = Some(ts), current = false)
      }
    }
    opened.foreach { s =>
      history.getOrElseUpdate(s.code, mutable.ArrayBuffer()) += Version(s, ts, None, current = true)
    }
    batch.foreach(s => landing(s.code) = s)
  }

  def staging: Seq[Version] = history.values.flatten.toSeq

  def master: Seq[Supp] = staging.filter(_.current).map(_.s)

  /** Point-in-time lookup with `Scd2.pointInTime` semantics: every
    * version with start <= ts < end (open versions unbounded). */
  def asOf(code: String, ts: Long): Seq[Version] =
    history.getOrElse(code, Nil).filter(v => v.start <= ts && v.end.forall(ts < _)).toSeq
}
