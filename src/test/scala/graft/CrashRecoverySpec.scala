package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files => JF, Paths => JP, Path}

/** Kill-the-JVM curation e2e (VERDICT r9 #2): a REAL child process runs
  * the full streaming pipeline (file source → curateIngest → checkpoint),
  * gets SIGKILLed at a chosen commit window, and a restarted process must
  * converge to exactly the state a crash-free run produces: same
  * accepted/ rows, same exact-screen behavior, same near-dup-screen
  * behavior. Two windows are observed for real (the in-process replay
  * matrix in StreamingSpec simulates the rest by state surgery):
  *   - after_accepted_write: accepted/ landed, NEITHER index advanced;
  *   - after_jaccard_append: the window the append ORDER exists for —
  *     Jaccard advanced, the exact index (the replay fuse) did not.
  * One crash-free reference run is shared by both tests. */
class CrashRecoverySpec extends SparkSpec {

  private def doc(prefix: String): String =
    (1 to 40).map(i => s"$prefix$i").mkString(" ")

  private val docA = doc("alpha")
  private val docB = doc("bravo")
  private val docC = doc("civic")
  private val evalDoc = "exam question secret alpha bravo charlie delta " +
    "echo foxtrot golf hotel"
  // carries the eval doc's 8-gram run → must be decontaminated out
  private val docDirty = ("padding " * 12).trim + " " + evalDoc
  private val b0 = Seq(10L -> docA, 15L -> docB)
  private val b1 = Seq(
    20L -> docA,                               // exact dup of indexed 10
    // "alpha17" matches exactly one token (unlike e.g. "alpha3", which
    // also rewrites alpha30..alpha39 and sinks Jaccard below τ)
    21L -> docA.replace("alpha17", "changed"), // near dup of indexed 10
    22L -> docC,                               // novel → accepted
    23L -> docDirty)                           // contaminated → dropped

  private lazy val root = {
    val r = JF.createTempDirectory("crash-e2e")
    import graft.SparkSpec.spark.implicits._
    graft.streaming.StreamJobs.buildDecontamModel(
      Seq((1L, evalDoc)).toDF("doc_id", "text"), s"$r/eval-model")
    r
  }
  private def modelDir = s"$root/eval-model"

  /** Write rows as ONE parquet file named `name` in `dir` with a chosen
    * mtime — the file streaming source orders new files by timestamp, so
    * explicit mtimes pin batch order under maxFilesPerTrigger=1. */
  private def writeBatchFile(rows: Seq[(Long, String)], dir: Path,
      name: String, mtimeMs: Long): Path = {
    import graft.SparkSpec.spark.implicits._
    val stage = JF.createTempDirectory("crash-batch-stage")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = JF.list(stage).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    JF.createDirectories(dir)
    val dst = dir.resolve(name)
    JF.move(part, dst)
    JF.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    dst
  }

  private def accepted(pipe: String): Set[Long] =
    spark.read.parquet(s"$pipe/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private def exactNovel(pipe: String): Set[Long] = {
    import graft.SparkSpec.spark.implicits._
    val probes = Seq(90L -> docA, 91L -> docB, 92L -> docC,
      93L -> doc("delta")).toDF("doc_id", "text")
    graft.operators.DedupIndex.newAgainst(spark, s"$pipe/exact", probes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  private def ndMatches(pipe: String): Set[(Long, Long)] = {
    import graft.SparkSpec.spark.implicits._
    val ndProbe = Seq(95L -> docA.replace("alpha7", "tweaked"))
      .toDF("doc_id", "text")
    graft.operators.JaccardIndex
      .pairsAgainst(spark, s"$pipe/jaccard", ndProbe)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** The crash-free reference run — one child JVM over both batches,
    * computed once and shared by both crash tests. */
  private lazy val reference: (Set[Long], Set[Long], Set[(Long, Long)]) = {
    val inRef = root.resolve("in-ref")
    val pipeRef = s"$root/pipe-ref"
    val t0 = System.currentTimeMillis() - 60000
    writeBatchFile(b0, inRef, "b0.parquet", t0)
    writeBatchFile(b1, inRef, "b1.parquet", t0 + 60000)
    ChildJvm.run("graft.CrashCurateChild",
      Seq(inRef.toString, modelDir, pipeRef, s"$root/ckpt-ref",
        "none", s"$root/unused-ref"), root.resolve("child-ref.log"))
    val r = (accepted(pipeRef), exactNovel(pipeRef), ndMatches(pipeRef))
    assert(r._1 == Set(10L, 15L, 22L), s"reference accepted ${r._1}")
    assert(r._2 == Set(93L), s"reference exact screen ${r._2}")
    assert(r._3 == Set((10L, 95L)), s"reference near-dup screen ${r._3}")
    r
  }

  /** SIGKILL a child at `crashPoint` mid-batch-0, run the window-specific
    * post-mortem assertions, then restart with batch 1 present and assert
    * full convergence to the reference. */
  private def crashAndRecover(crashPoint: String)
      (postKill: String => Unit): Unit = {
    val tag = crashPoint.replace('_', '-')
    val inDir = root.resolve(s"in-$tag")
    val pipe = s"$root/pipe-$tag"
    val ckpt = s"$root/ckpt-$tag"
    val t0 = System.currentTimeMillis() - 60000
    writeBatchFile(b0, inDir, "b0.parquet", t0)
    val sentinel = root.resolve(s"kill-$tag")
    val log1 = root.resolve(s"child1-$tag.log")
    val child = ChildJvm.start("graft.CrashCurateChild",
      Seq(inDir.toString, modelDir, pipe, ckpt, crashPoint,
        sentinel.toString), log1)
    // finally-kill: if awaitFile (or anything after it) fails, the child
    // is parked in Thread.sleep holding a 3 GB heap — without this it
    // would leak for up to 10 minutes and starve subsequent suites
    try {
      assert(ChildJvm.awaitFile(sentinel),
        s"child never reached $crashPoint — log:\n${ChildJvm.logTail(log1)}")
    } finally {
      child.destroyForcibly() // SIGKILL — no shutdown hooks, no finally
      child.waitFor()
    }
    assert(!JF.exists(JP.get(s"$pipe/commits/0")),
      "batch marker exists — the kill landed after commit")
    postKill(pipe)
    writeBatchFile(b1, inDir, "b1.parquet", t0 + 60000)
    ChildJvm.run("graft.CrashCurateChild",
      Seq(inDir.toString, modelDir, pipe, ckpt,
        "none", s"$root/unused-$tag"), root.resolve(s"child2-$tag.log"))
    val (refAcc, refExact, refNd) = reference
    assert(accepted(pipe) == refAcc,
      s"accepted diverged: ${accepted(pipe)} vs $refAcc")
    assert(exactNovel(pipe) == refExact, "exact index diverged")
    assert(ndMatches(pipe) == refNd, "Jaccard index diverged")
  }

  test("SIGKILL between the appends: restart converges to the crash-free run") {
    crashAndRecover("after_jaccard_append") { pipe =>
      // the kill landed in the between-appends window: Jaccard rows are
      // on disk, the exact index (the replay fuse) is not yet built
      assert(JF.exists(JP.get(s"$pipe/jaccard/shingles")),
        "Jaccard append had not landed before the kill")
      assert(!JF.exists(JP.get(s"$pipe/exact/_gen")),
        "exact append already landed — wrong window")
    }
  }

  test("SIGKILL after accepted/ lands, before ANY append: restart converges") {
    crashAndRecover("after_accepted_write") { pipe =>
      // accepted/ is on disk; neither index advanced — the replay must
      // recompute the whole flow and rewrite the partition byte-stably
      assert(JF.exists(JP.get(s"$pipe/accepted")),
        "accepted/ had not landed before the kill")
      assert(!JF.exists(JP.get(s"$pipe/jaccard/shingles")),
        "Jaccard append already landed — wrong window")
      assert(!JF.exists(JP.get(s"$pipe/exact/_gen")),
        "exact append already landed — wrong window")
    }
  }
}
