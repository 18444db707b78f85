package graft.pipeline

import scala.collection.mutable

/** One supplier row as the pipeline's CSV, landing and master carry it;
  * a NULL value is an empty CSV field. */
final case class Supp(key: Long, code: String, name: String, state: String) {
  def csv: String = Seq(key.toString, code, name, state).map(v => Option(v).getOrElse("")).mkString(",")
}

/** One history (staging) row; dates are epoch milliseconds, `end` is
  * absent while the version is open. */
final case class Version(s: Supp, start: Long, end: Option[Long], current: Boolean)

/** Independent in-memory SCD Type-2 model of one pipeline cycle, written
  * from the reference semantics in plain Scala collections (no Spark). In
  * faithful mode a copy of the benchmark's model
  * (`perfbench/scala/ScdModel.scala`) with SQL NULL semantics added:
  *
  *  - a batch carries each business key at most once;
  *  - landing: upsert by business key, never deleted. A key is updated
  *    when some non-key column differs with both sides non-NULL
  *    (Snowflake's `!=` is UNKNOWN on a NULL, and UNKNOWN does not update);
  *  - the CDC delta is what that upsert changed: an update is a DELETE of
  *    the old image plus an INSERT of the new one, a new key an INSERT;
  *  - staging: every DELETE image closes the history rows with the same
  *    (code, state), closed rows too (their end date is re-stamped); every
  *    INSERT image opens a version unless a row with the same (code,
  *    state) already exists. Matching is SQL `=`, so a NULL state never
  *    matches: its DELETE closes nothing and its INSERT always opens. So a
  *    return to a prior state opens nothing, and a name-only change
  *    closes the current row without reopening it (the two documented
  *    quirks);
  *  - master: the current rows.
  *
  * Corrected mode (`faithful = false`) changes only the staging step:
  * only current rows close, matching is null-safe (a NULL state is one
  * value like any other), and an INSERT image opens a version unless a
  * row that was current before this cycle's closes has the same (code,
  * state). A return to a prior state therefore opens a version, and a
  * name-only change still closes its current row without reopening it
  * (the closed row was current before the merge). */
final class ScdModel(faithful: Boolean = true) {
  val landing = mutable.LinkedHashMap[String, Supp]()
  private val history = mutable.HashMap[String, mutable.ArrayBuffer[Version]]()

  /** SQL `=`, with UNKNOWN read as false. */
  private def sqlEq(a: Any, b: Any): Boolean = a != null && b != null && a == b

  /** Whether history row `v` matches an image with tracked value
    * `state`: faithful mode any row under SQL `=`, corrected mode only
    * current rows under null-safe equality. */
  private def hit(v: Version, state: String): Boolean =
    if (faithful) sqlEq(v.s.state, state) else v.current && v.s.state == state

  /** Snowflake's OR of `!=` over the non-key columns, UNKNOWN read as false. */
  private def changed(o: Supp, n: Supp): Boolean =
    Seq[(Any, Any)](o.key -> n.key, o.name -> n.name, o.state -> n.state)
      .exists { case (a, b) => a != null && b != null && a != b }

  /** Applies one batch. */
  def cycle(batch: Seq[Supp], ts: Long): Unit = {
    require(batch.map(_.code).distinct.size == batch.size, "duplicate keys in a batch")
    val deletes = mutable.ArrayBuffer[Supp]()
    val inserts = mutable.ArrayBuffer[Supp]()
    batch.foreach { s =>
      landing.get(s.code) match {
        case None =>
          inserts += s
        case Some(old) if changed(old, s) =>
          deletes += old
          inserts += s
        case _ => ()
      }
    }
    // the open-version anti-join reads the history as it was before
    // this cycle's closes
    val opened = inserts.filterNot(s =>
      history.getOrElse(s.code, Nil).exists(v => hit(v, s.state)))
    deletes.map(d => (d.code, d.state)).distinct.foreach { case (code, state) =>
      history.get(code).foreach { vs =>
        for (i <- vs.indices if hit(vs(i), state))
          vs(i) = vs(i).copy(end = Some(ts), current = false)
      }
    }
    opened.foreach { s =>
      history.getOrElseUpdate(s.code, mutable.ArrayBuffer()) += Version(s, ts, None, current = true)
    }
    inserts.foreach(s => landing(s.code) = s)
  }

  def staging: Seq[Version] = history.values.flatten.toSeq

  def master: Seq[Supp] = staging.filter(_.current).map(_.s)
}
