package graft

import java.nio.file.Files

import graft.operators.{AnnIndex, DedupIndex, IvfPqIndex, JaccardIndex, NearDupIndex,
  PqIndex, SimHashIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The job budget of every standing-index serve: the Spark jobs one warm
  * serve (the call plus the collect of its answer) runs on the sf0.001
  * fixtures, pinned at the measured count. A change that adds a job to
  * a serve path fails here; a change that removes one lowers its pin.
  *
  * Batches are what a serving caller holds: the document batch is a
  * local relation of 40 documents (20 indexed, 20 not), the probe batch
  * a 50-vector parquet read, as in serve_ingest. */
class JobBudgetSpec extends SparkSpec {

  private lazy val docs: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")

  /** Indexed: the even doc_ids. The batch: 20 indexed and 20 unindexed
    * documents, collected into a local relation. */
  private lazy val corpus = docs.filter(col("doc_id") % 2 === 0)
  private lazy val batch: DataFrame = {
    val rows = docs.orderBy("doc_id").limit(40).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), docs.schema)
  }

  private def probes(dir: String): DataFrame =
    spark.read.parquet(s"$dir/vectors").filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))

  /** Jobs of one warm serve: `serve` runs once to warm caches, then once
    * measured. */
  private def warmJobs(serve: => Array[Row]): JobAttribution.Record = {
    assert(serve.nonEmpty, "the fixture serve answered nothing")
    JobAttribution.of(spark)(serve)._2
  }

  private def pin(path: String, want: Int)(serve: => Array[Row]): Unit = {
    val rec = warmJobs(serve)
    assert(rec.jobs.size == want,
      s"$path: ${rec.jobs.size} jobs per warm serve, pinned at $want\n${rec.summary}")
  }

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    try { spark.conf.set(k, v); body }
    finally saved match {
      case Some(s) => spark.conf.set(k, s)
      case None => spark.conf.unset(k)
    }
  }

  test("DedupIndex.newAgainst: jobs per warm serve") {
    val dir = tmp("budget-dedup")
    DedupIndex.build(spark, corpus, dir)
    pin("dedup", 3)(DedupIndex.newAgainst(spark, dir, batch).collect())
  }

  test("JaccardIndex.pairsAgainst: jobs per warm serve") {
    val dir = tmp("budget-jaccard")
    JaccardIndex.build(spark, corpus, dir)
    // resident: the sized shingle checkpoint and the batch collect (the
    // distributed kernel ran 7 at the default threshold)
    pin("jaccard, resident", 2)(JaccardIndex.pairsAgainst(spark, dir, batch).collect())
    // the distributed kernel, with every join shuffled: the checkpoint
    // and 11 for the screen
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      pin("jaccard, distributed", 12)(JaccardIndex.pairsAgainst(spark, dir, batch).collect())
    }
  }

  test("SimHashIndex.neighborsAgainst: jobs per warm serve") {
    val dir = tmp("budget-simhash")
    SimHashIndex.build(spark, corpus, dir)
    pin("simhash", 3)(SimHashIndex.neighborsAgainst(spark, dir, batch).collect())
  }

  test("NearDupIndex.candidatesAgainst: jobs per warm serve") {
    val dir = tmp("budget-neardup")
    NearDupIndex.build(spark, corpus, dir)
    pin("neardup", 3)(NearDupIndex.candidatesAgainst(spark, dir, batch).collect())
  }

  test("AnnIndex.queryProbes, flat arm: resident, and distributed at threshold -1") {
    val dir = tmp("budget-ann-flat")
    AnnIndex.build(spark, sfDir, dir)
    assert(AnnIndex.chosenArm(spark, dir) == "flat")
    val ps = probes(dir)
    pin("ann flat, resident", 1)(AnnIndex.queryProbes(spark, dir, ps, 5).collect())
    // auto-broadcast off also plans the vectors join as a sort-merge
    // join: one job more than the 9 the distributed arm runs at the
    // default threshold
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      pin("ann flat, distributed", 10)(AnnIndex.queryProbes(spark, dir, ps, 5).collect())
    }
  }

  test("AnnIndex.queryProbes, ivfpq arm: jobs per warm serve") {
    val dir = tmp("budget-ann-ivfpq")
    withConf(AnnIndex.FlatMaxBucketRowsKey, "0") {
      AnnIndex.build(spark, sfDir, dir)
      assert(AnnIndex.chosenArm(spark, dir, 50) == "ivfpq")
      val ps = probes(dir)
      pin("ann ivfpq", 10)(AnnIndex.queryProbes(spark, dir, ps, 5).collect())
    }
  }

  test("PqIndex.queryProbes: jobs per warm serve") {
    val dir = tmp("budget-pq")
    PqIndex.build(spark, sfDir, dir)
    val ps = probes(dir)
    pin("pq", 8)(PqIndex.queryProbes(spark, dir, ps, 5).collect())
  }

  test("IvfPqIndex.queryProbes: jobs per warm serve") {
    val dir = tmp("budget-ivfpq")
    IvfPqIndex.build(spark, sfDir, dir)
    val ps = probes(dir)
    pin("ivfpq", 10)(IvfPqIndex.queryProbes(spark, dir, ps, 5).collect())
  }
}
