package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Standing decontamination index: store-served screen ≡ recomputed
  * screen, crash-window fallback, curation verb, plan provenance. */
class DecontamIndexSpec extends SparkSpec {

  private def docs = graft.Tables.t(spark, sfDir, "documents")
    .select("doc_id", "text")

  private def buildModel(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("decontam-spec").toString
    DecontamIndex.build(spark, docs.filter(col("doc_id") < 50), dir)
    dir
  }

  /** The unscreened formulation (l26's shape) as ground truth. */
  private def direct(): Set[(Long, Long)] = {
    val evalSh = LlmOps.shingles8(docs.filter(col("doc_id") < 50))
      .select("sh").distinct()
    LlmOps.shingles8(docs.filter(col("doc_id") >= 50)).distinct()
      .join(evalSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("store-served screen ≡ recomputing the eval side (bloom FPs erased)") {
    val dir = buildModel()
    val served = DecontamIndex
      .screen(spark, dir, docs.filter(col("doc_id") >= 50))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(served.length == docs.filter(col("doc_id") >= 50).count())
    val hits = served.filter(_._2 > 0).map(t => (t._1, t._2)).toSet
    assert(hits == direct(), "served overlap counts diverge from recompute")
    assert(served.forall(t => (t._2 > 0) == t._3), "flag must mirror count")
  }

  test("missing bloom sidecar (build crashed after rows): same answer, no prefilter") {
    val dir = buildModel()
    val withBloom = DecontamIndex
      .screen(spark, dir, docs.filter(col("doc_id") >= 50))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // what such a build leaves: the rows, and neither bloom nor manifest
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "bloom.bin"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir, "_gen"))
    val without = DecontamIndex
      .screen(spark, dir, docs.filter(col("doc_id") >= 50))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(without == withBloom,
      "prefilter must be a pure optimization — identical without the sidecar")
  }

  test("dropContaminated keeps exactly the zero-overlap docs") {
    val dir = buildModel()
    val corpus = docs.filter(col("doc_id") >= 50)
    val clean = DecontamIndex.dropContaminated(spark, dir, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminatedIds = direct().map(_._1)
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == all -- contaminatedIds)
  }

  test("the serve plan reads the persisted model, not the eval corpus") {
    val dir = buildModel()
    val files = DecontamIndex
      .screen(spark, dir, docs.filter(col("doc_id") >= 50)).inputFiles
    assert(files.exists(_.contains(dir)),
      "screen must scan the stored shingles/ table")
  }

  test("rebuild retires the prior bloom BEFORE the rows change (stale-prefilter window)") {
    import graft.SparkSpec.spark.implicits._
    val dir = buildModel() // rows + bloom, committed
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bloom.bin")))
    // A rebuild into the SAME dir that crashes after its row write but
    // before its bloom and its commit — simulated by doing exactly what
    // build() does up to that point: clear the index, write the rows.
    // The OLD bloom must already be gone; if it survived, it would
    // wrongly prefilter gen-2 shingles it has never seen and screen()
    // would silently miss contamination.
    val gen2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
    val sh2 = LlmOps.shingles8(gen2).select("sh").distinct()
      .withColumn("h", xxhash64(col("sh")))
    IndexGenerations.clear(spark, dir, Set("shingles", "bloom.bin"))
    sh2.write.mode("overwrite").parquet(s"$dir/shingles")
    // crash here: rows are gen-2, bloom.bin must NOT exist
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bloom.bin")),
      "crash window left a stale gen-1 bloom over gen-2 rows")
    // and the crashed-state screen answers exactly (no prefilter at all)
    val probe = gen2.limit(5)
    val screened = DecontamIndex.screen(spark, dir, probe)
      .filter(col("contaminated")).count()
    assert(screened == probe.count(),
      "gen-2 docs must screen as contaminated against the gen-2 rows")
    // an unshingleable rebuild commits rows only: no bloom, and the
    // prior one is gone, not left beside the new rows
    DecontamIndex.build(spark, docs.filter(col("doc_id") < 50), dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bloom.bin")))
    val n = DecontamIndex.build(spark,
      Seq((1L, "short")).toDF("doc_id", "text"), dir)
    assert(n == 0 &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bloom.bin")),
      "empty rebuild must retire the prior bloom, not leave it dangling")
    assert(DecontamIndex.screen(spark, dir, gen2).filter(col("contaminated")).count() == 0)
  }

  test("unshingleable eval corpus: empty model, nothing contaminated") {
    import graft.SparkSpec.spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("decontam-empty").toString
    val n = DecontamIndex.build(spark,
      Seq((1L, "too short for shingles")).toDF("doc_id", "text"), dir)
    assert(n == 0)
    val out = DecontamIndex.screen(spark, dir,
      Seq((50L, ("w " * 20).trim)).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out.head.getLong(1) == 0 &&
      !out.head.getBoolean(2))
  }
}
