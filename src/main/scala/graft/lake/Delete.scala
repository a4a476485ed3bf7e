package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** SQL `DELETE FROM` over a GraftTable (SupportsDelete on the DSv2 table):
  * the delete condition arrives as data-source filters and is executed in
  * two tiers, the same split Iceberg's metadata-delete makes —
  *
  *  1. **metadata-only drop**: files whose manifest stats PROVE every row
  *     matches the predicate (e.g. `repo = 'r'` against a file with
  *     `min_repo == max_repo == 'r'`) are removed from the manifest without
  *     ever being opened — a whole-partition delete at 100 TB costs one
  *     driver-side metadata commit, zero data jobs;
  *  2. **copy-on-write rewrite**: files the stats can only say MAY contain
  *     matching rows are rewritten keeping the non-matching rows (null
  *     predicate keeps the row, matching SQL DELETE's `WHERE cond IS TRUE`
  *     semantics). Files the stats EXCLUDE are never touched.
  *
  * Everything flows through the ordinary commit protocol, so time travel
  * (`VERSION AS OF`) still reads the pre-delete snapshot and concurrent
  * pinned readers keep isolation.
  */
object Delete {

  /** droppedFiles = removed by metadata alone; rewrittenFiles = CoW inputs. */
  final case class DeleteResult(droppedFiles: Int, rewrittenFiles: Int,
                                deletedRows: Long)

  private val dataCols = Set("repo", "path", "commit", "lang", "content", "z")

  /** can this filter be evaluated row-wise against the graft schema?
    * (Spark refuses the DELETE up front when any conjunct is untranslatable,
    * so canDeleteWhere must be exact, not optimistic.) */
  def translatable(f: Filter): Boolean = f match {
    case And(l, r) => translatable(l) && translatable(r)
    case Or(l, r) => translatable(l) && translatable(r)
    case Not(c) => translatable(c)
    case _: AlwaysTrue | _: AlwaysFalse => true
    case EqualTo(a, _) => dataCols(a)
    case EqualNullSafe(a, _) => dataCols(a)
    case GreaterThan(a, _) => dataCols(a)
    case GreaterThanOrEqual(a, _) => dataCols(a)
    case LessThan(a, _) => dataCols(a)
    case LessThanOrEqual(a, _) => dataCols(a)
    case In(a, _) => dataCols(a)
    case IsNull(a) => dataCols(a)
    case IsNotNull(a) => dataCols(a)
    case StringStartsWith(a, _) => dataCols(a)
    case StringEndsWith(a, _) => dataCols(a)
    case StringContains(a, _) => dataCols(a)
    case _ => false
  }

  /** the row-level delete predicate (conjunction of the pushed filters). */
  def rowPredicate(filters: Array[Filter]): Column =
    filters.map(toDataCol).foldLeft(lit(true))(_ && _)

  private def toDataCol(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case StringStartsWith(a, p) => col(a).startsWith(p)
    case StringEndsWith(a, p) => col(a).endsWith(p)
    case StringContains(a, p) => col(a).contains(p)
    case And(l, r) => toDataCol(l) && toDataCol(r)
    case Or(l, r) => toDataCol(l) || toDataCol(r)
    case Not(c) => !toDataCol(c)
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case _ => throw new IllegalArgumentException(s"untranslatable delete filter $f")
  }

  /** per-file predicate over manifest STATS that is true only when every row
    * of the file provably matches the delete condition. Conservative: any
    * doubt (unhandled shape, missing stats → null) keeps the file on the
    * copy-on-write path, never the metadata-drop path. */
  def fullMatchPredicate(filters: Array[Filter]): Column =
    filters.map(f => coalesce(full(f), lit(false))).foldLeft(lit(true))(_ && _)

  /** provably no nulls in `c` — required by EVERY stats-based full-match
    * proof on c: min/max/collect_set skip nulls, so a file can satisfy e.g.
    * min_repo == max_repo == 'r' and STILL hold a repo=null row, for which
    * the predicate is NULL and SQL DELETE must keep it. Null (pre-field
    * manifest) folds to false via the caller's coalesce → CoW path. */
  private def nullFree(c: String): Column = col(s"nulls_$c") === 0L

  private def full(f: Filter): Column = f match {
    case EqualTo("repo", v: String) =>
      col("min_repo") === v && col("max_repo") === v && nullFree("repo")
    case EqualTo("path", v: String) =>
      col("min_path") === v && col("max_path") === v && nullFree("path")
    case EqualTo("lang", v: String) =>
      size(col("langs")) === 1 && array_contains(col("langs"), v) && nullFree("lang")
    case GreaterThan("repo", v: String) => col("min_repo") > v && nullFree("repo")
    case GreaterThanOrEqual("repo", v: String) => col("min_repo") >= v && nullFree("repo")
    case LessThan("repo", v: String) => col("max_repo") < v && nullFree("repo")
    case LessThanOrEqual("repo", v: String) => col("max_repo") <= v && nullFree("repo")
    case GreaterThan("path", v: String) => col("min_path") > v && nullFree("path")
    case GreaterThanOrEqual("path", v: String) => col("min_path") >= v && nullFree("path")
    case LessThan("path", v: String) => col("max_path") < v && nullFree("path")
    case LessThanOrEqual("path", v: String) => col("max_path") <= v && nullFree("path")
    // a null test full-matches when the null count accounts for every row
    // (IsNull) or no row (IsNotNull) — the one proof shape stats CAN make
    // about nulls
    case IsNull(c) if c == "repo" || c == "path" || c == "lang" =>
      col(s"nulls_$c") === col("record_count")
    case IsNotNull(c) if c == "repo" || c == "path" || c == "lang" =>
      nullFree(c)
    // a file whose BOTH endpoints share the prefix contains only prefixed
    // strings (any row outside the prefix would order outside [min, max])
    case StringStartsWith("repo", p: String) =>
      col("min_repo").startsWith(p) && col("max_repo").startsWith(p) && nullFree("repo")
    case StringStartsWith("path", p: String) =>
      col("min_path").startsWith(p) && col("max_path").startsWith(p) && nullFree("path")
    case In("repo", vs) =>
      vs.toSeq.collect { case s: String => full(EqualTo("repo", s)) }
        .foldLeft(lit(false))(_ || _)
    case In("lang", vs) =>
      vs.toSeq.collect { case s: String => full(EqualTo("lang", s)) }
        .foldLeft(lit(false))(_ || _)
    case And(l, r) => coalesce(full(l), lit(false)) && coalesce(full(r), lit(false))
    case Or(l, r) => coalesce(full(l), lit(false)) || coalesce(full(r), lit(false))
    case _: AlwaysTrue => lit(true)
    case _ => lit(false)
  }

  /** Execute the delete against the table's current snapshot. Planning is
    * manifest-DataFrame-side (candidate selection AND the full-match
    * classification evaluate distributed); the driver collects only the
    * candidate files' (path, records, full?) triples — files the stats
    * exclude never reach the driver at all. */
  def deleteWhere(table: GraftTable, filters: Array[Filter]): DeleteResult = {
    val spark = table.spark
    import spark.implicits._
    // the CoW rewrite re-sequences files — materialize pending MoR deletes
    MorDelete.materializeIfPending(table)
    val snap = table.currentSnapshot.getOrElse(return DeleteResult(0, 0, 0L))
    // candidate selection: stats predicate + bloom sidecars (a point delete
    // on commit would otherwise rewrite EVERY file — stats can't exclude a
    // hash-distributed key, the per-file bloom can)
    val cand = BloomIndex.prunedManifest(table, table.manifest(snap), filters)
      .filter(GraftScan.manifestPredicate(filters))
      .select(col("file_path"), col("record_count"),
        fullMatchPredicate(filters).as("full"))
      .as[(String, Long, Boolean)].collect()
    if (cand.isEmpty) return DeleteResult(0, 0, 0L)

    val (fullFiles, partial) = cand.partition(_._3)
    val added =
      if (partial.isEmpty) Seq.empty[ManifestEntry]
      else {
        // keep rows where the predicate is NOT TRUE (false or null)
        val kept = table.readFiles(partial.map(_._1).toSeq)
          .filter(!coalesce(rowPredicate(filters), lit(false)))
        table.writeDataFilesRouted(kept, "delete-cow")
      }
    val removedRecords = cand.map(_._2).sum
    val deleted = removedRecords - added.map(_.record_count).sum
    table.commit(Commit("delete", Commit.Exact(Some(snap)), added = added,
      removed = cand.map(_._1).toSet, removedRecords = removedRecords))
    DeleteResult(fullFiles.length, partial.length, deleted)
  }
}
