package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.lake.{Bucketing, Commit, GraftTable, Maintenance}

/** Storage-partitioned joins: bucket-clustered tables whose joins on the
  * bucket column need no shuffle on either side. */
class SpjSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private def rows(n: Int, commit: String): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).toDF("i").select(
      concat(lit("repo_"), ($"i" % 13).cast("string")).as("repo"),
      concat(lit("f/"), $"i".cast("string")).as("path"),
      lit(commit).as("commit"),
      element_at(typedLit(Seq("scala", "c", "rust")), ($"i" % 3) + 1).as("lang"),
      concat(lit("content "), $"i".cast("string")).as("content"))
  }

  test("route places every bucket in its own task, files come out pure") {
    val df = rows(500, "c0")
    val n = 8
    val routed = Bucketing.route(df, "repo", n)
    val s = spark
    import s.implicits._
    val perPart = routed
      .withColumn("b", Bucketing.bucketCol("repo", n))
      .withColumn("p", spark_partition_id())
      .groupBy($"p").agg(countDistinct($"b").as("nb"), first($"b").as("b"))
      .collect()
    assert(perPart.forall(_.getLong(1) == 1L), "each task must hold exactly one bucket")
    assert(perPart.map(r => (r.getInt(0), r.getInt(2))).forall { case (p, b) => p == b },
      "task index must equal bucket id (exact routing)")
  }

  test("bucketize commits bucket-pure files; appends stay routed") {
    val wh = Files.createTempDirectory("graft-spj-b").toString
    val t = new GraftTable(spark, s"$wh/t")
    t.append(rows(300, "c0"))
    assert(t.bucketSpec.isEmpty)
    val total = Maintenance.bucketize(t, 8)
    assert(total == 300)
    assert(t.bucketSpec.contains(("repo", 8)))
    val entries = t.manifestEntries(t.currentSnapshot.get)
    assert(entries.forall(_.bucket.isDefined), "every rewritten file carries its bucket")
    assert(entries.map(_.bucket.get).distinct.sorted == entries.map(_.bucket.get).distinct.sorted)
    // append after bucketize: new files still bucket-pure
    t.append(rows(100, "c1"))
    val e2 = t.manifestEntries(t.currentSnapshot.get)
    assert(e2.forall(_.bucket.isDefined), "appends to a bucketed table stay bucketed")
    assert(t.scan().count() == 400)
  }

  test("point lookup on a bucketed table opens only that bucket's files") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft-spj-prune").toString
    val t = new GraftTable(spark, s"$wh/t")
    t.append(rows(400, "c0"))
    Maintenance.bucketize(t, 8)
    val total = t.currentSnapshot.get.fileCount
    assert(total >= 4 && total <= 8, s"expected about one file per non-empty bucket, got $total")

    val df = s.read.format("graft").load(t.location).filter($"repo" === "repo_5")
    val expected = rows(400, "c0").filter($"repo" === "repo_5").count()
    assert(df.count() === expected)
    val desc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc.contains(s"files=1/$total"),
      s"bucket pruning must keep exactly the one candidate bucket's file:\n$desc")

    // IN over two repos that land in different buckets → two files
    val b5 = Bucketing.BucketBound.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(8,
        org.apache.spark.unsafe.types.UTF8String.fromString("repo_5")))
    val other = (0 to 12).map(i => s"repo_$i").find { r =>
      Bucketing.BucketBound.produceResult(org.apache.spark.sql.catalyst.InternalRow(8,
        org.apache.spark.unsafe.types.UTF8String.fromString(r))) != b5
    }.get
    val df2 = s.read.format("graft").load(t.location)
      .filter($"repo".isin("repo_5", other))
    val exp2 = rows(400, "c0").filter($"repo".isin("repo_5", other)).count()
    assert(df2.count() === exp2)
    val desc2 = df2.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc2.contains(s"files=2/$total"), s"IN over two buckets must keep two files:\n$desc2")

    // unbucketed entries are never pruned away: append through a NON-routed
    // path (simulating a pre-bucketing file) must stay visible
    val extra = rows(50, "c9")
    val added = t.writeDataFiles(extra, "legacy") // no bucket stats
    t.commit(Commit("append", Commit.Append, added = added))
    val df3 = s.read.format("graft").load(t.location).filter($"repo" === "repo_5")
    val exp3 = expected + extra.filter($"repo" === "repo_5").count()
    assert(df3.count() === exp3, "rows in unbucketed files must survive bucket pruning")
  }

  test("SQL join of two bucketed tables on the bucket column runs with zero exchanges") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft-spj-wh").toString
    val a = new GraftTable(spark, s"$wh/ns/a")
    val b = new GraftTable(spark, s"$wh/ns/b")
    a.append(rows(400, "c0"))
    b.append(rows(150, "c1").withColumn("content", concat(lit("dim "), $"content")))
    Maintenance.bucketize(a, 8)
    Maintenance.bucketize(b, 8)

    spark.conf.set("spark.sql.catalog.spjcat", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjcat.warehouse", wh)
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // MERGE hint keeps the small side from broadcasting so the pin below
      // proves the absence of a SHUFFLE, not the presence of a broadcast
      val joined = spark.sql(
        """SELECT /*+ MERGE(b) */ a.repo, a.path, a.commit, b.commit AS bcommit
          |FROM spjcat.ns.a a JOIN spjcat.ns.b b ON a.repo = b.repo""".stripMargin)
      val cnt = joined.count()
      // expected: every a row joins every b row of the same repo
      val expected = {
        val ar = rows(400, "c0").groupBy("repo").count().withColumnRenamed("count", "an")
        val br = rows(150, "c1").groupBy("repo").count().withColumnRenamed("count", "bn")
        ar.join(br, "repo").agg(sum($"an" * $"bn")).head().getLong(0)
      }
      assert(cnt == expected, s"join must be correct: $cnt vs $expected")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle or broadcast either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      // bucketize sorted every bucket by repo and the scan REPORTS that
      // ordering — the sort-merge join needs no SortExec on either side
      assert(!plan.contains("Sort ["),
        s"reported per-bucket ordering must eliminate both join sorts:\n$plan")

      // groupBy on the bucket column over ONE bucketed table: the key-grouped
      // partitioning also satisfies the aggregation's clustering — no exchange
      val agg = spark.sql(
        "SELECT repo, count(*) AS n FROM spjcat.ns.a GROUP BY repo")
      agg.collect()
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"groupBy(bucket column) over a bucketed table must not shuffle:\n$aplan")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  test("SPJ with MISMATCHED bucket counts: 16-bucket fact joins 8-bucket dim, no shuffle") {
    val s = spark
    import s.implicits._
    val wh = Files.createTempDirectory("graft-spj-mm").toString
    val a = new GraftTable(spark, s"$wh/ns/a")
    val b = new GraftTable(spark, s"$wh/ns/b")
    a.append(rows(400, "c0"))
    b.append(rows(150, "c1"))
    Maintenance.bucketize(a, 16)
    Maintenance.bucketize(b, 8)

    spark.conf.set("spark.sql.catalog.spjmm", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjmm.warehouse", wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "true"))
    try {
      val joined = spark.sql(
        """SELECT /*+ MERGE(b) */ a.repo, a.path, b.path AS bpath
          |FROM spjmm.ns.a a JOIN spjmm.ns.b b ON a.repo = b.repo""".stripMargin)
      val cnt = joined.count()
      val expected = {
        val ar = rows(400, "c0").groupBy("repo").count().withColumnRenamed("count", "an")
        val br = rows(150, "c1").groupBy("repo").count().withColumnRenamed("count", "bn")
        ar.join(br, "repo").agg(sum($"an" * $"bn")).head().getLong(0)
      }
      assert(cnt == expected, s"mismatched-bucket join must be correct: $cnt vs $expected")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"16-vs-8-bucket join must reduce the finer side, not shuffle:\n$plan")
      // the reduced side concatenates buckets, so the scan must NOT have
      // claimed per-bucket ordering here — the merge join needs its sorts
      assert(plan.contains("Sort ["),
        s"reduction-compatible mode must keep the join sorts (ordering suppressed):\n$plan")

      // hash join needs no ordering at all: same reduced grouping, no sorts
      val hj = spark.sql(
        """SELECT /*+ SHUFFLE_HASH(b) */ a.repo, a.path, b.path AS bpath
          |FROM spjmm.ns.a a JOIN spjmm.ns.b b ON a.repo = b.repo""".stripMargin)
      assert(hj.count() == expected, "hash join over reduced grouping must be correct")
      val hjPlan = hj.queryExecution.executedPlan.toString
      assert(!hjPlan.contains("Exchange") && hjPlan.contains("ShuffledHashJoin"),
        s"hash join must also run shuffle-free on reduced partitions:\n$hjPlan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
