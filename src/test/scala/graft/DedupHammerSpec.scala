package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files => JF}

/** Two-PROCESS DedupIndex append hammer (VERDICT r9 #3): the append lock
  * is a JVM monitor + an OS file lock, and the existing 4-thread hammer
  * exercises only the monitor half. Here two real JVMs append disjoint
  * batches to ONE index concurrently — four interleaved sub-batch appends
  * each, entered together via a rendezvous file so the lock is genuinely
  * contended — and the final index must hold every row and every bloom
  * bit: screening the union of both batches afterwards must find ZERO
  * novel rows (a lost bloom bit cannot cause a false-new because the
  * exact confirm backs the bloom, but a lost hashes/ row WOULD — and a
  * clobbered bloom write surfaces as either a corrupt read or a changed
  * screen decision downstream; both are asserted here). */
class DedupHammerSpec extends SparkSpec {

  test("two concurrent appender processes lose no rows and no bloom bits") {
    import graft.SparkSpec.spark.implicits._
    val root = JF.createTempDirectory("dedup-hammer")
    val indexDir = s"$root/idx"
    // seed the index so both children take the merge path, not the
    // bootstrap publish
    val seed = (0L until 20L).map(i => (i, s"seed document number $i"))
      .toDF("doc_id", "text")
    graft.operators.DedupIndex.build(spark, seed, indexDir)

    // disjoint novel batches, ids spread across the %4 sub-batches and
    // contents spread across all 16 shards
    val batchA = (100L until 260L).map(i => (i, s"alpha payload $i"))
    val batchB = (300L until 460L).map(i => (i, s"bravo payload $i"))
    val aPath = s"$root/batchA"
    val bPath = s"$root/batchB"
    batchA.toDF("doc_id", "text").write.parquet(aPath)
    batchB.toDF("doc_id", "text").write.parquet(bPath)

    val go = root.resolve("go")
    val readyA = root.resolve("readyA")
    val readyB = root.resolve("readyB")
    val logA = root.resolve("childA.log")
    val logB = root.resolve("childB.log")
    val pa = ChildJvm.start("graft.DedupAppendChild",
      Seq(indexDir, aPath, readyA.toString, go.toString), logA)
    val pb = ChildJvm.start("graft.DedupAppendChild",
      Seq(indexDir, bPath, readyB.toString, go.toString), logB)
    assert(ChildJvm.awaitFile(readyA) && ChildJvm.awaitFile(readyB),
      s"children not ready — A:\n${ChildJvm.logTail(logA)}\nB:\n${ChildJvm.logTail(logB)}")
    JF.writeString(go, "go") // both enter the append window together
    val doneA = pa.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    val doneB = pb.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!doneA) pa.destroyForcibly()
    if (!doneB) pb.destroyForcibly()
    assert(doneA && pa.exitValue() == 0,
      s"child A failed — log:\n${ChildJvm.logTail(logA)}")
    assert(doneB && pb.exitValue() == 0,
      s"child B failed — log:\n${ChildJvm.logTail(logB)}")

    // every appended row is present exactly once (no clobbered parquet
    // commit staging), and each of the 8 appends committed its own
    // generation over the build's
    val g = graft.operators.DedupIndex.generation(spark, indexDir)
    assert(g.number == 9, s"generations: $g")
    val rows = spark.read.parquet(g.hashes: _*)
    assert(rows.count() == 20 + 160 + 160, "row count drifted")
    assert(rows.select("sha").distinct().count() == 340,
      "duplicate or lost content hashes")

    // screening the union finds ZERO false-new: every content is known
    // to the index (exact rows) — and the bloom layer still loads and
    // screens consistently (a torn bloom write would throw or misroute)
    val union = (seed.collect().map(r => (r.getLong(0), r.getString(1))) ++
      batchA ++ batchB).toSeq.toDF("doc_id", "text")
    val novel = graft.operators.DedupIndex.newAgainst(spark, indexDir, union)
    assert(novel.count() == 0,
      s"lost rows/bits: ${novel.collect().map(_.getLong(0)).mkString(",")}")

    // and genuinely-new content still screens as new (the index did not
    // degenerate into answering "seen" for everything)
    val fresh = Seq((999L, "charlie payload unseen")).toDF("doc_id", "text")
    assert(graft.operators.DedupIndex
      .newAgainst(spark, indexDir, fresh).count() == 1)
  }
}
