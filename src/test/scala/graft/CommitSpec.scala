package graft.lake

import graft.SparkTestBase
import graft.synth.SourceFiles
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The one commit primitive (GraftTable.commit): the arithmetic counts stay
  * exact across every kind of commit, and each concurrency rule treats an
  * interleaved append the way its contract says. */
class CommitSpec extends SparkTestBase {
  import spark.implicits._

  private def synthDf(n: Int, seed: Long) = SourceFiles.generate(n, seed).toDF()
  private def fresh(): GraftTable =
    new GraftTable(spark, Files.createTempDirectory("graft-commit").toString)

  /** recordCount is the live row count; fileCount the live manifest entries. */
  private def assertCounts(t: GraftTable, step: String): Unit = {
    val s = t.currentSnapshot.get
    assert(s.recordCount == t.scan().count(), s"after $step: recordCount")
    assert(s.fileCount == t.manifest(s).count(), s"after $step: fileCount")
  }

  private def keyIs(k: (String, String, String)) =
    $"repo" === k._1 && $"path" === k._2 && $"commit" === k._3

  test("counts stay exact through every kind of commit on one table") {
    val t = fresh()
    def step(name: String)(op: => Any): Unit = { op; assertCounts(t, name) }

    step("append")(t.append(synthDf(200, seed = 1).repartition(4)))
    val keys = t.scan().select("repo", "path", "commit")
      .as[(String, String, String)].collect().sorted.toSeq
    step("eq-delete")(assert(MorDelete.deleteWhere(t, keyIs(keys(0))) == 1L))
    step("pos-delete")(assert(MorDelete.deleteWherePositional(t, keyIs(keys(1))) == 1L))
    step("upsert") {
      // one live key re-written, one new key inserted
      val batch = t.scan().filter(keyIs(keys(2)))
        .select($"repo", $"path", $"commit", $"lang", lit("<u/>").as("content"))
        .unionByName(synthDf(1, seed = 2).withColumn("path", lit("new/p")))
      val r = MorUpdate.upsertBatch(t, batch)
      assert(r.retracted == 1L && r.inserted == 2L)
    }
    step("mor-update") {
      assert(MorUpdate.updateWhereMor(t, keyIs(keys(3)),
        Map("content" -> lit("<v/>"))).updatedRows == 1L)
    }
    step("apply-deletes")(MorDelete.applyDeletes(t))
    step("compact")(Maintenance.compact(t, "chain-compact", smallBytes = Long.MaxValue))
    step("cluster")(Maintenance.cluster(t, "chain-cluster", numFiles = 3))
    step("bucketize")(Maintenance.bucketize(t, 4))
    step("rewrite-manifests")(t.rewriteManifests())
    val before = t.currentVersion
    step("append")(t.append(synthDf(20, seed = 3)))
    val appended = t.currentVersion
    step("rollback")(t.rollback(before))
    step("cherry-pick")(t.cherryPick(appended))
    step("wap-publish")(t.publishStaged(t.stageAppend(synthDf(15, seed = 4))))
    step("evolve-schema")(t.evolveSchema("stars INT"))
    assert(t.currentSnapshot.get.recordCount == 200L - 2L + 1L + 20L + 15L)
  }

  test("one interleaved append per rule: Append lands on it, Rewrite rebases, Exact conflicts") {
    // (rule, live rows after the commit — None = the commit must conflict)
    val rules: Seq[(String, Option[Snapshot] => Commit.Rule, Option[Long])] = Seq(
      ("Append", _ => Commit.Append, Some(150L)),
      ("Rewrite", b => Commit.Rewrite(b), Some(130L)),
      ("Exact", b => Commit.Exact(b), None))
    rules.foreach { case (name, rule, rows) =>
      val t = fresh()
      t.append(synthDf(100, seed = 5).repartition(2))
      val basis = t.currentSnapshot
      val c = rule(basis) match {
        case Commit.Append =>
          Commit("append", Commit.Append,
            added = t.writeDataFiles(synthDf(20, seed = 6), "append"))
        case r =>
          val paths = t.manifestEntries(basis.get).map(_.file_path)
          Commit("compact", r, added = t.writeDataFiles(t.readFiles(paths), "compact"),
            removed = paths.toSet, removedRecords = 100L)
      }
      t.append(synthDf(30, seed = 7)) // the interleaved commit
      val head = t.currentSnapshot.get
      rows match {
        case Some(n) =>
          val snap = t.commit(c)
          assert(snap.parent == head.version, s"$name must land on the interleaved head")
          assert(t.scan().count() == n, name)
          assertCounts(t, name)
        case None =>
          intercept[CommitConflictException](t.commit(c))
          assert(t.currentSnapshot.get == head, s"$name: the table is untouched")
      }
    }
  }
}
