package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files => JF, Paths => JP, Path}

/** Kill-the-JVM e2e for the four SINGLE-index ingest paths (VERDICT r10
  * #2): curateIngest's crash windows are observed in CrashRecoverySpec;
  * this spec observes the replay-safety argument each single-index
  * ingest's scaladoc makes — one REAL SIGKILL per family in the
  * append-landed-marker-missing window (the subtle case: the restart
  * replays the batch against an index that already holds the batch's own
  * rows, and must admit the identical set via self-match exclusion /
  * pairwise-below-threshold survivors, rewriting accepted/ byte-stably).
  * Families: exact-hash (DedupIndex), MinHash (NearDupIndex), SimHash
  * (SimHashIndex), exact-Jaccard (JaccardIndex). Reference state comes
  * from an in-process crash-free run of the same stream over the same
  * batch files. */
class CrashIngestSpec extends SparkSpec {

  private def doc(prefix: String): String =
    (1 to 40).map(i => s"$prefix$i").mkString(" ")

  private val docA = doc("alpha")
  private val docB = doc("bravo")
  private val docC = doc("civic")
  private val b0 = Seq(10L -> docA, 15L -> docB)
  // 20 = exact dup of 10 (all four families drop it); 21 = one-token
  // tweak of 10 (the near-dup families drop it, exact-hash accepts —
  // the reference run defines each family's expectation); 22 = novel
  private val b1 = Seq(
    20L -> docA,
    21L -> docA.replace("alpha17", "changed"),
    22L -> docC)

  private lazy val root = JF.createTempDirectory("crash-ingest")

  /** One parquet file per batch with pinned mtime (file-source batch
    * order under maxFilesPerTrigger=1). */
  private def writeBatchFile(rows: Seq[(Long, String)], dir: Path,
      name: String, mtimeMs: Long): Unit = {
    import graft.SparkSpec.spark.implicits._
    val stage = JF.createTempDirectory("ingest-batch-stage")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = JF.list(stage).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    JF.createDirectories(dir)
    val dst = dir.resolve(name)
    JF.move(part, dst)
    JF.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  private def accepted(indexDir: String): Set[Long] =
    spark.read.parquet(s"$indexDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet

  /** Family-specific post-state probe: screen fresh docs against the
    * final index and canonicalize — equal probes = converged index. */
  private def screenProbe(family: String, dir: String): Set[(Long, Long)] = {
    import graft.SparkSpec.spark.implicits._
    family match {
      case "dedup" =>
        val probes = Seq(90L -> docA, 91L -> docC, 93L -> doc("delta"))
          .toDF("doc_id", "text")
        graft.operators.DedupIndex.newAgainst(spark, dir, probes)
          .select("doc_id").collect().map(r => (r.getLong(0), 0L)).toSet
      case "neardup" =>
        val probe = Seq(95L -> docA.replace("alpha7", "tweaked"))
          .toDF("doc_id", "text")
        graft.operators.NearDupIndex.candidatesAgainst(spark, dir, probe)
          .select("new_id", "index_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      case "simhash" =>
        val probe = Seq(95L -> docA).toDF("doc_id", "text")
        graft.operators.SimHashIndex.neighborsAgainst(spark, dir, probe)
          .select("new_id", "index_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      case "jaccard" =>
        val probe = Seq(95L -> docA.replace("alpha7", "tweaked"))
          .toDF("doc_id", "text")
        graft.operators.JaccardIndex.pairsAgainst(spark, dir, probe)
          .select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
  }

  /** Crash-free reference: run the same family ingest IN-PROCESS over
    * the same two batch files. */
  private def referenceRun(family: String): (Set[Long], Set[(Long, Long)]) = {
    val inRef = root.resolve(s"in-ref-$family")
    val idxRef = s"$root/idx-ref-$family"
    val t0 = System.currentTimeMillis() - 60000
    writeBatchFile(b0, inRef, "b0.parquet", t0)
    writeBatchFile(b1, inRef, "b1.parquet", t0 + 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inRef.toString)
    val writer = family match {
      case "dedup" => graft.streaming.StreamJobs.dedupIngest(src, idxRef)
      case "neardup" => graft.streaming.StreamJobs.nearDedupIngest(src, idxRef)
      case "simhash" => graft.streaming.StreamJobs.simhashDedupIngest(src, idxRef)
      case "jaccard" => graft.streaming.StreamJobs.exactDedupIngest(src, idxRef)
    }
    val q = writer
      .option("checkpointLocation", s"$root/ckpt-ref-$family").start()
    q.processAllAvailable()
    q.stop()
    (accepted(idxRef), screenProbe(family, idxRef))
  }

  /** SIGKILL a child mid-batch-0 in the after-append window, assert the
    * window (marker missing, index advanced), restart with batch 1
    * present, assert convergence to the crash-free reference. */
  private def crashAndRecover(family: String): Unit = {
    val inDir = root.resolve(s"in-$family")
    val idx = s"$root/idx-$family"
    val ckpt = s"$root/ckpt-$family"
    val t0 = System.currentTimeMillis() - 60000
    writeBatchFile(b0, inDir, "b0.parquet", t0)
    val sentinel = root.resolve(s"kill-$family")
    val log1 = root.resolve(s"child1-$family.log")
    val child = ChildJvm.start("graft.CrashIngestChild",
      Seq(family, inDir.toString, idx, ckpt, "after_index_append",
        sentinel.toString), log1)
    try {
      assert(ChildJvm.awaitFile(sentinel),
        s"child never reached the crash point — log:\n${ChildJvm.logTail(log1)}")
    } finally {
      child.destroyForcibly() // SIGKILL — no shutdown hooks, no finally
      child.waitFor()
    }
    // the window: index rows landed, the batch-0 marker did not
    assert(!JF.exists(JP.get(s"$idx/commits/0")),
      "batch marker exists — the kill landed after commit")
    val indexTable = family match {
      case "dedup" => "_gen/1" // the bootstrap append's committed generation
      case "neardup" => "sigs"
      case "simhash" => "sigs"
      case "jaccard" => "shingles"
    }
    assert(JF.exists(JP.get(s"$idx/$indexTable")),
      s"index append had not landed before the kill ($indexTable)")
    writeBatchFile(b1, inDir, "b1.parquet", t0 + 60000)
    ChildJvm.run("graft.CrashIngestChild",
      Seq(family, inDir.toString, idx, ckpt, "none",
        s"$root/unused-$family"), root.resolve(s"child2-$family.log"))
    val (refAcc, refProbe) = referenceRun(family)
    assert(accepted(idx) == refAcc,
      s"$family accepted diverged: ${accepted(idx)} vs $refAcc")
    assert(screenProbe(family, idx) == refProbe,
      s"$family index state diverged from the crash-free run")
  }

  test("dedupIngest: SIGKILL after index append converges on restart") {
    crashAndRecover("dedup")
  }
  test("nearDedupIngest: SIGKILL after index append converges on restart") {
    crashAndRecover("neardup")
  }
  test("simhashDedupIngest: SIGKILL after index append converges on restart") {
    crashAndRecover("simhash")
  }
  test("exactDedupIngest (Jaccard): SIGKILL after index append converges on restart") {
    crashAndRecover("jaccard")
  }
}
