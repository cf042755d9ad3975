package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** PqIndex, IvfPqIndex and DecontamIndex commit by generation
  * ([[IndexGenerations]]): a serve reads the newest manifest and the
  * files it names, and keeps its model resident on their identity. */
class ModelGenerationSpec extends SparkSpec {

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  /** `dir` as a build from before the log left it: the same tables at
    * the fixed paths (a build that committed them under `g1/` moves
    * them there), no `_gen/`. */
  private def toPreLog(dir: String): String = {
    val pre = s"${tmp("model-gen-pre")}/pre"
    copyTree(dir, pre)
    val g1 = new java.io.File(pre, "g1")
    if (g1.isDirectory) {
      g1.listFiles().foreach(f => Files.move(f.toPath, Paths.get(pre, f.getName)))
      org.apache.commons.io.FileUtils.deleteDirectory(g1)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pre, "_gen"))
    pre
  }

  /** A local relation: its rows are collected before any serve runs. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def embeddings = graft.Tables.t(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")

  private lazy val probes: DataFrame = local(embeddings.filter(col("vec_id") < 10)
    .select(col("vec_id").as("probe_id"), col("embedding").as("pv")))

  /** Exact copies of vectors 0..4 under ids shifted by 900000. */
  private lazy val dups: DataFrame = local(embeddings.filter(col("vec_id") < 5)
    .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def pq(dir: String): Seq[Row] = rows(PqIndex.queryProbes(spark, dir, probes, 5))
  private def ivfpq(dir: String): Seq[Row] = rows(IvfPqIndex.queryProbes(spark, dir, probes, 5))

  private def evalDocs = graft.Tables.t(spark, sfDir, "documents")
    .select("doc_id", "text").filter(col("doc_id") < 50)
  private lazy val corpus: DataFrame = local(graft.Tables.t(spark, sfDir, "documents")
    .select("doc_id", "text").filter(col("doc_id") >= 50))
  private def decontam(dir: String): Set[Long] =
    DecontamIndex.dropContaminated(spark, dir, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private def withCountingFs(body: => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countopen.impl", classOf[CountingOpenFileSystem].getName)
    hc.setBoolean("fs.countopen.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.countopen.impl")
      hc.unset("fs.countopen.impl.disable.cache")
    }
  }

  test("a warm PqIndex, IvfPqIndex or DecontamIndex serve opens no model file and lists no table directory") {
    val pqDir = tmp("model-gen-warm-pq")
    PqIndex.build(spark, sfDir, pqDir)
    val ivfDir = tmp("model-gen-warm-ivfpq")
    IvfPqIndex.build(spark, sfDir, ivfDir)
    val dcDir = tmp("model-gen-warm-decontam")
    DecontamIndex.build(spark, evalDocs, dcDir)
    def isModel(f: String) = Seq("/codebooks/", "/centroids/").exists(f.contains) ||
      f.endsWith("/bloom.bin")
    withCountingFs {
      for ((dir, serve) <- Seq[(String, String => Any)](pqDir -> pq, ivfDir -> ivfpq,
          dcDir -> decontam)) {
        val url = s"countopen://$dir"
        val (coldOpened, _) = CountingOpenFileSystem.during(assert(serve(url) == serve(dir)))
        assert(coldOpened.exists(isModel), s"$dir: a cold serve opened no model file")
        val (opened, listed) = CountingOpenFileSystem.during(assert(serve(url) == serve(dir)))
        assert(!opened.exists(isModel), s"$dir: a warm serve opened ${opened.filter(isModel)}")
        assert(listed.forall(_.endsWith("/_gen")), s"$dir: a warm serve listed $listed")
      }
    }
  }

  test("a PQ append that crashes before its commit, then runs again, serves as a clean run") {
    val idx = tmp("model-gen-crash")
    PqIndex.build(spark, sfDir, idx)
    val twin = s"${tmp("model-gen-twin")}/twin"
    copyTree(idx, twin)
    val before = pq(idx)
    object Boom extends RuntimeException("crash before the commit")
    PqIndex.crashProbe = p => if (p == "before_commit") throw Boom
    try intercept[Boom.type](PqIndex.append(spark, idx, dups))
    finally PqIndex.crashProbe = _ => ()
    // the crashed run wrote generation 2's files, and no serve sees them
    assert(Files.exists(Paths.get(s"$idx/g2/codes")))
    assert(PqIndex.generation(spark, idx).number == 1 && pq(idx) == before)
    PqIndex.append(spark, idx, dups)
    PqIndex.append(spark, twin, dups)
    assert(PqIndex.generation(spark, idx).number == 2)
    val rerun = pq(idx)
    assert(rerun == pq(twin), "the re-run must serve what a clean append serves")
    (0L until 5L).foreach(p => assert(rerun.exists(r =>
      r.getLong(0) == p && r.getInt(1) == 1 && r.getLong(2) == p + 900000L),
      s"the appended copy of $p is not its top neighbour"))
  }

  test("generation-0 PqIndex, IvfPqIndex and DecontamIndex directories serve unchanged answers") {
    val pqDir = tmp("model-gen-legacy-pq")
    PqIndex.build(spark, sfDir, pqDir)
    val ivfDir = tmp("model-gen-legacy-ivfpq")
    IvfPqIndex.build(spark, sfDir, ivfDir)
    val dcDir = tmp("model-gen-legacy-decontam")
    DecontamIndex.build(spark, evalDocs, dcDir)
    val (pqPre, ivfPre, dcPre) = (toPreLog(pqDir), toPreLog(ivfDir), toPreLog(dcDir))
    assert(PqIndex.generation(spark, pqPre).number == 0)
    assert(pq(pqPre) == pq(pqDir))
    assert(ivfpq(ivfPre) == ivfpq(ivfDir))
    assert(decontam(dcPre) == decontam(dcDir))
    // the first append commits generation 1 over the fixed tables
    PqIndex.append(spark, pqPre, dups)
    PqIndex.append(spark, pqDir, dups)
    assert(PqIndex.generation(spark, pqPre).number == 1)
    assert(pq(pqPre) == pq(pqDir))
    IvfPqIndex.append(spark, ivfPre, dups)
    IvfPqIndex.append(spark, ivfDir, dups)
    assert(Files.exists(Paths.get(s"$ivfPre/_gen/1")))
    assert(ivfpq(ivfPre) == ivfpq(ivfDir))
  }
}
