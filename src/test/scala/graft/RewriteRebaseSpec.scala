package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._

/** Validated rebase for rewrite commits (Commit.Rewrite — the
  * Iceberg RewriteFiles stance): a compaction/clustering planned against
  * snapshot S commits at S+k when every interleaved commit is compatible
  * (adds, removes/posdels disjoint from the replaced files), and conflicts
  * only on genuine overlap — so maintenance can land on a table under
  * continuous ingest instead of re-planning on every interleaved append. */
class RewriteRebaseSpec extends SparkTestBase {
  import spark.implicits._

  private def synthDf(n: Int, seed: Long = 42) = SourceFiles.generate(n, seed).toDF()
  private def fresh(): GraftTable =
    new GraftTable(spark, Files.createTempDirectory("graft-rebase").toString)

  /** plan a rewrite of `paths` at the current head: same rows, new files. */
  private def planRewrite(t: GraftTable, paths: Seq[String]) =
    t.writeDataFiles(t.readFiles(paths), "compact")

  /** commit a compaction of `replaced` into `added` planned at `basis`. */
  private def commitRewrite(t: GraftTable, basis: Option[Snapshot],
                            added: Seq[ManifestEntry], replaced: Set[String],
                            removedRecords: Long): Snapshot =
    t.commit(Commit("compact", Commit.Rewrite(basis), added = added,
      removed = replaced, removedRecords = removedRecords))

  test("rewrite rebases over an interleaved append instead of conflicting") {
    val t = fresh()
    t.append(synthDf(200, seed = 7).repartition(4))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    t.append(synthDf(30, seed = 8)) // interleaved ingest while the rewrite ran
    val snap = commitRewrite(t, basis, added, paths.toSet, 200L)
    assert(snap.operation == "compact")
    assert(snap.parent > basis.get.version) // rebased onto the append's head
    assert(t.currentSnapshot.get.recordCount == 230L)
    assert(t.scan().count() == 230L)
    // the interleaved rows survived the rewrite
    assert(t.scan().join(synthDf(30, seed = 8),
      Seq("repo", "path", "commit"), "left_semi").count() == 30L)
    // counts stayed arithmetic through the rebase
    assert(t.currentSnapshot.get.fileCount ==
      t.manifest(t.currentSnapshot.get).count())
  }

  test("rewrite rebases over several interleaves incl. a disjoint rewrite") {
    val t = fresh()
    t.append(synthDf(120, seed = 11).repartition(3))
    val aPaths = t.manifestEntries(t.currentSnapshot.get).map(_.file_path)
    t.append(synthDf(60, seed = 12).repartition(2))
    val basis = t.currentSnapshot
    val bPaths = t.manifestEntries(basis.get).map(_.file_path)
      .filterNot(aPaths.contains)
    val addedA = planRewrite(t, aPaths)
    // interleave 1: an append; interleave 2: a DISJOINT rewrite of B's files
    t.append(synthDf(25, seed = 13))
    val addedB = planRewrite(t, bPaths)
    commitRewrite(t, t.currentSnapshot, addedB, bPaths.toSet, 60L)
    // the A rewrite walks both interleaves and rebases
    val snap = commitRewrite(t, basis, addedA, aPaths.toSet, 120L)
    assert(snap.operation == "compact")
    assert(t.scan().count() == 205L)
    assert(t.currentSnapshot.get.recordCount == 205L)
  }

  test("conflict when an interleaved rewrite removed a replaced file") {
    val t = fresh()
    t.append(synthDf(100, seed = 21).repartition(2))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val mine = planRewrite(t, paths)
    // a concurrent rewrite of the SAME files wins first
    val theirs = planRewrite(t, paths)
    commitRewrite(t, basis, theirs, paths.toSet, 100L)
    val e = intercept[CommitConflictException] {
      commitRewrite(t, basis, mine, paths.toSet, 100L)
    }
    assert(e.getMessage.contains("removed a file this rewrite replaces"))
    assert(t.scan().count() == 100L) // table intact
  }

  test("conflict on a pending equality delete (resurrection guard)") {
    val t = fresh()
    t.append(synthDf(80, seed = 31))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    val k = t.scan().select($"repo", $"path", $"commit").head()
    assert(MorDelete.deleteWhere(t,
      $"repo" === k.getString(0) && $"path" === k.getString(1) &&
        $"commit" === k.getString(2)) >= 1L)
    val e = intercept[CommitConflictException] {
      commitRewrite(t, basis, added, paths.toSet, 80L)
    }
    assert(e.getMessage.contains("pending equality-delete"))
  }

  test("disjoint positional delete stays pending and valid across a rebase") {
    val t = fresh()
    t.append(synthDf(100, seed = 41).repartition(2))
    val aPaths = t.manifestEntries(t.currentSnapshot.get).map(_.file_path)
    t.append(synthDf(50, seed = 42).repartition(1))
    val basis = t.currentSnapshot
    val added = planRewrite(t, aPaths) // rewrite A's files only
    // interleave: position-delete ONE row that lives in B's file
    val bKey = synthDf(50, seed = 42).select($"repo", $"path", $"commit").head()
    val deleted = MorDelete.deleteWherePositional(t,
      $"repo" === bKey.getString(0) && $"path" === bKey.getString(1) &&
        $"commit" === bKey.getString(2))
    assert(deleted == 1L)
    val snap = commitRewrite(t, basis, added, aPaths.toSet, 100L)
    assert(snap.operation == "compact")
    assert(t.scan().count() == 149L) // the posdel still applies post-rebase
    assert(t.currentSnapshot.get.recordCount == 149L)
  }

  test("conflict when a pending positional delete addresses a replaced file") {
    val t = fresh()
    t.append(synthDf(60, seed = 51))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    val k = t.scan().select($"repo", $"path", $"commit").head()
    assert(MorDelete.deleteWherePositional(t,
      $"repo" === k.getString(0) && $"path" === k.getString(1) &&
        $"commit" === k.getString(2)) >= 1L)
    val e = intercept[CommitConflictException] {
      commitRewrite(t, basis, added, paths.toSet, 60L)
    }
    assert(e.getMessage.contains("positional-delete shard addresses a file"))
  }

  test("conflict when an interleave restructured the manifest list") {
    val t = fresh()
    t.append(synthDf(40, seed = 61))
    t.append(synthDf(40, seed = 62))
    val basis = t.currentSnapshot
    val paths = t.manifestEntries(basis.get).map(_.file_path)
    val added = planRewrite(t, paths)
    t.rewriteManifests() // rebases the shard list onto one shard
    val e = intercept[CommitConflictException] {
      commitRewrite(t, basis, added, paths.toSet, 80L)
    }
    assert(e.getMessage.contains("restructured the manifest list"))
  }

  test("Maintenance.compact lands while appends race it") {
    val t = fresh()
    // many small files so compaction has real work
    t.append(synthDf(200, seed = 71).repartition(8))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val appends = (0 until 3).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          new GraftTable(spark, t.location).append(synthDf(20, seed = 80L + i))
        }
      })
    }
    val compaction = pool.submit(new java.util.concurrent.Callable[Maintenance.CompactionResult] {
      def call(): Maintenance.CompactionResult = {
        start.await()
        Maintenance.compact(new GraftTable(spark, t.location), "race-job")
      }
    })
    start.countDown()
    appends.foreach(_.get(300, TimeUnit.SECONDS))
    val res = compaction.get(300, TimeUnit.SECONDS)
    pool.shutdown()
    assert(res.inputFiles >= 8) // ≥: appends landing pre-plan join the pack
    assert(t.scan().count() == 260L)
    assert(t.currentSnapshot.get.recordCount == 260L)
    // single linear chain — racing never forked the table
    val chain = t.ancestorsOf(t.currentVersion)
    assert(t.listSnapshots().forall(s => chain(s.version)))
  }
}
