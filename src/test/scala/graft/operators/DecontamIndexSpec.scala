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
    // what such a build from before the log left: the rows at the fixed
    // path, and neither bloom nor manifest
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "g1/shingles"),
      java.nio.file.Paths.get(dir, "shingles"))
    Seq("g1", "_gen").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir, d)))
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

  private def bloomFiles(dir: String): Seq[java.nio.file.Path] = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try all.filter(_.getFileName.toString == "bloom.bin").toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    finally all.close()
  }

  test("rebuild retires the prior bloom BEFORE the rows change (stale-prefilter window)") {
    // a crashed rebuild leaves the previous generation serving: its bloom
    // only ever prefilters the rows it was built over
    val dir = buildModel() // generation 1: rows + bloom, committed
    val corpus = docs.filter(col("doc_id") >= 50)
    def served(): Set[(Long, Long)] = DecontamIndex.screen(spark, dir, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gen1 = served()
    // A rebuild into the SAME dir that crashes after its row write but
    // before its bloom and its commit — simulated by doing exactly what
    // build() does up to that point: write generation 2's rows into its
    // own directory. No reader looks there, so generation 1's rows and
    // bloom keep serving together: a bloom never prefilters rows it was
    // not built over.
    val gen2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
    LlmOps.shingles8(gen2).select("sh").distinct()
      .withColumn("h", xxhash64(col("sh")))
      .write.parquet(s"$dir/g2/shingles")
    ServeModelCache.clear()
    assert(served() == gen1, "a crashed rebuild changed what the index serves")
    // the re-run commits past the crashed files, and its gen-2 docs screen
    // as contaminated against the gen-2 rows
    DecontamIndex.build(spark, gen2, dir)
    val probe = gen2.limit(5)
    assert(DecontamIndex.screen(spark, dir, probe).filter(col("contaminated")).count() ==
      probe.count(), "gen-2 docs must screen as contaminated against the gen-2 rows")
    // an unshingleable rebuild commits rows only: its manifest names no
    // bloom, and the blooms of generations before the one it replaced
    // are reclaimed
    import graft.SparkSpec.spark.implicits._
    val n = DecontamIndex.build(spark, Seq((1L, "short")).toDF("doc_id", "text"), dir)
    val g = IndexGenerations.latest(spark, dir).get
    assert(n == 0 && g("bloom").isEmpty, s"empty rebuild must commit no bloom: $g")
    assert(bloomFiles(dir).size == 1, s"blooms left behind: ${bloomFiles(dir)}")
    assert(DecontamIndex.screen(spark, dir, gen2).filter(col("contaminated")).count() == 0)
  }

  test("a rebuild torn mid-way through its bloom write leaves the previous generation serving") {
    val dir = buildModel()
    val corpus = docs.filter(col("doc_id") >= 50)
    def served(): Set[(Long, Long)] = DecontamIndex.screen(spark, dir, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gen1 = served()
    val full = java.nio.file.Files.size(bloomFiles(dir).head)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.tearbloom.impl", classOf[TearingBloomFileSystem].getName)
    hc.setBoolean("fs.tearbloom.impl.disable.cache", true)
    try intercept[java.io.IOException](DecontamIndex.build(spark,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 120), s"tearbloom://$dir"))
    finally {
      hc.unset("fs.tearbloom.impl")
      hc.unset("fs.tearbloom.impl.disable.cache")
    }
    assert(bloomFiles(dir).exists(f => java.nio.file.Files.size(f) < full),
      s"no torn bloom on disk: ${bloomFiles(dir)}")
    ServeModelCache.clear()
    assert(served() == gen1, "a torn rebuild changed what the index serves")
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

/** The local filesystem on the `tearbloom` scheme: a `bloom.bin` created
  * through it receives half of the bytes of its first write, which then
  * throws — a process killed mid-way through writing a bloom. */
class TearingBloomFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("tearbloom:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.getName != "bloom.bin") out
    else new org.apache.hadoop.fs.FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len / 2)
        out.close()
        throw new java.io.IOException(s"torn write of $f")
      }
      override def close(): Unit = out.close()
    }, null)
  }
}
