package graft.perfbench

import graft.ArchiverMain.RunReport

/** The archiver's invariants, as pure checks over what one cycle reported
  * and what Derby and the archive hold afterwards. Each returns the
  * violations it found; an empty result is a pass.
  */
object Invariants {

  /** What the row model predicts for one cycle. `overlap` is the number of
    * batch rows already archived by an earlier cycle that crashed before
    * its DELETE.
    */
  final case class Expect(extracted: Long, appended: Long,
      deleted: Map[String, Long], overlap: Long)

  def cycle(r: RunReport, e: Expect, deleteOn: Boolean, afterCrash: Boolean): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (r.extracted != e.extracted) v += s"extracted ${r.extracted}, model says ${e.extracted}"
    if (r.appended != e.appended) v += s"appended ${r.appended}, model says ${e.appended}"
    if (deleteOn) {
      if (r.deleted != e.deleted) v += s"deleted ${r.deleted}, model says ${e.deleted}"
      if (r.deleted.values.sum != r.extracted)
        v += s"deleted ${r.deleted.values.sum} != extracted ${r.extracted} on a delete cycle"
    } else if (r.deleted.nonEmpty) v += s"deleted ${r.deleted} with delete off"
    if (afterCrash) {
      if (!(r.appended < r.extracted))
        v += s"appended ${r.appended} is not below extracted ${r.extracted} after a crash"
      if (r.extracted - r.appended != e.overlap)
        v += s"overlap ${r.extracted - r.appended}, model says ${e.overlap}"
    }
    v.result()
  }

  /** State after a cycle, per table: every generated id, the ids the model
    * expects deleted, what Derby still holds and the archive's keys (with
    * repeats, so duplicates show).
    */
  def state(generated: Map[String, Set[Long]], deleted: Map[String, Set[Long]],
      derby: Map[String, Set[Long]], archive: Seq[(String, Long)],
      expectArchived: Map[String, Set[Long]]): Seq[String] = {
    val v = Seq.newBuilder[String]
    val dups = archive.groupBy(identity).collect { case (k, xs) if xs.size > 1 => k }
    if (dups.nonEmpty) v += s"${dups.size} (table_name, id) keys archived twice, e.g. ${dups.take(3)}"
    val archived = archive.groupMap(_._1)(_._2).map { case (t, ids) => t -> ids.toSet }
    generated.foreach { case (t, ids) =>
      val inDerby = derby.getOrElse(t, Set.empty)
      val inArchive = archived.getOrElse(t, Set.empty)
      val lost = ids -- inDerby -- inArchive
      if (lost.nonEmpty) v += s"$t: ${lost.size} rows in neither Derby nor the archive, e.g. ${lost.take(3)}"
      val gone = ids -- inDerby
      val unsafe = gone -- inArchive
      if (unsafe.nonEmpty) v += s"$t: ${unsafe.size} rows deleted from Derby but not archived"
      val wantGone = deleted.getOrElse(t, Set.empty)
      if (gone != wantGone) v += s"$t: Derby lost ${gone.size} rows, model deleted ${wantGone.size}"
      val want = expectArchived.getOrElse(t, Set.empty)
      if (inArchive != want) v += s"$t: archive holds ${inArchive.size} ids, model ${want.size}"
    }
    (archived.keySet -- generated.keySet).foreach(t => v += s"archive holds unknown table $t")
    v.result()
  }
}
