package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter

/** Row-level `UPDATE ... SET ... WHERE ...` over a GraftTable, copy-on-write
  * with stats pruning — the same two-tier split SQL DELETE (Delete.scala)
  * makes, minus the metadata-only tier (an update always materializes new
  * rows, so matching files must be rewritten):
  *
  *  1. **stats-pruned**: files whose manifest min/max stats EXCLUDE the
  *     predicate are never opened or rewritten — an update targeting one
  *     repo's slice of a 100-TB table touches that repo's files only;
  *  2. **copy-on-write rewrite**: candidate files are rewritten in one
  *     distributed pass with assignments applied to matching rows
  *     (`WHERE cond IS TRUE` semantics — null predicates leave the row
  *     unchanged, matching SQL UPDATE). The z clustering key is recomputed
  *     for the rewritten batch, so assignments to z-feeding columns
  *     (repo/path/lang) cannot silently corrupt the clustering.
  *
  * Everything flows through the ordinary commit protocol: time travel reads
  * the pre-update snapshot, concurrent pinned readers keep isolation, and
  * snapshot `rollback` undoes the update as a metadata-only commit.
  */
object Update {

  /** candidateFiles = rewritten (stats say MAY match); prunedFiles = never
    * opened; updatedRows = rows the predicate actually matched. */
  final case class UpdateResult(candidateFiles: Int, prunedFiles: Long,
                                updatedRows: Long)

  /** Execute the update against the table's current snapshot. Candidate
    * selection evaluates distributed over the manifest DataFrame; the
    * driver collects only the candidate files' (path, records) pairs. */
  def updateWhere(table: GraftTable, filters: Array[Filter],
                  set: Map[String, Column]): UpdateResult = {
    val spark = table.spark
    import spark.implicits._
    require(set.nonEmpty, "UPDATE with no assignments")
    // evolved columns are assignable too (dataColumnNames = base + extras)
    val assignable = table.dataColumnNames.toSet
    val bad = set.keySet.diff(assignable)
    require(bad.isEmpty, s"cannot assign columns $bad (z is derived; " +
      s"assignable: ${assignable.mkString(", ")})")

    // the CoW rewrite re-sequences files — materialize pending MoR deletes
    MorDelete.materializeIfPending(table)
    val snap = table.currentSnapshot.getOrElse(return UpdateResult(0, 0, 0L))
    val man = table.manifest(snap)
    val total = if (snap.fileCount >= 0) snap.fileCount else man.count()
    // stats predicate + bloom sidecars: a point update keyed on commit
    // rewrites only bloom-may-contain files, not the whole table
    val cand = BloomIndex.prunedManifest(table, man, filters)
      .filter(GraftScan.manifestPredicate(filters))
      .select(col("file_path"), col("record_count"))
      .as[(String, Long)].collect()
    if (cand.isEmpty) return UpdateResult(0, total, 0L)

    val pred = coalesce(Delete.rowPredicate(filters), lit(false))
    val src = table.readFiles(cand.map(_._1).toSeq)
    // bounded by the candidate files (page-cache warm for the rewrite pass
    // that follows); rows NOT matching are copied through unchanged
    val updatedRows = src.filter(pred).count()
    val projected = table.dataColumnNames.map { c =>
      set.get(c) match {
        case Some(v) => when(pred, v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }
    val added = table.writeDataFilesRouted(src.select(projected.toIndexedSeq: _*), "update-cow")
    table.commit(Commit("update", Commit.Exact(Some(snap)), added = added,
      removed = cand.map(_._1).toSet, removedRecords = cand.map(_._2).sum))
    UpdateResult(cand.length, total - cand.length, updatedRows)
  }
}
