package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Persisted cross-run NEAR-dup index — the operational form of l2, and
  * DedupIndex's fuzzy sibling: a 100 TB corpus has its banded MinHash
  * signatures computed ONCE and stored; each day's arrivals are screened
  * for near-duplicates against the standing corpus by a bucket join on
  * (band, signature) — O(batch) signature work plus one equi join, the
  * corpus text is never re-shingled.
  *
  * Layout at `indexDir`:
  *   sigs/  parquet (doc_id, b, sig) — 4 banded minhash rows per doc,
  *          bit-identical to the inline l2 lane (shared LlmOps.minhashSigs),
  *          so screening composes exactly with inline discovery:
  *          pairs(old ∪ batch) = pairs(old) ∪ pairsWithin(batch)
  *                               ∪ candidatesAgainst(index, batch)
  *          (DedupIndexSpec pins that identity on two generations).
  *
  * At scale: the stored side is hash-partitioned parquet keyed by the
  * bucket; the batch side shuffles only its own 4·|batch| signature rows.
  * Unlike the exact DedupIndex there is no Bloom screen — LSH is already
  * the screen (a bucket collision IS the "maybe" signal), and the exact
  * confirm (Jaccard on the candidate pairs, l12's two-phase verify) stays
  * a downstream choice because near-dup candidates, unlike sha equality,
  * are policy: callers pick the verify threshold.
  */
object NearDupIndex {

  /** Signature the corpus and persist the index. Returns indexed-doc count. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Long = {
    val sigs = LlmOps.minhashSigs(docs).persist()
    try {
      sigs.write.mode("overwrite").parquet(s"$indexDir/sigs")
      sigs.select("doc_id").distinct().count()
    } finally { sigs.unpersist(); () }
  }

  /** Near-dup candidate pairs between `docs` (new batch) and the standing
    * index: (new_id, index_id), deduped across bands. Batch-internal pairs
    * are NOT included — compose with `pairsWithin` when the batch itself
    * needs deduping before append. */
  def candidatesAgainst(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    val batch = LlmOps.minhashSigs(docs)
      .select(col("b"), col("sig"), col("doc_id").as("new_id"))
    // an index that hasn't been built yet screens nothing (first batch of
    // a streaming ingest). Resolve existence through the Hadoop FileSystem
    // so non-local indexDirs (hdfs://, pufs://) are probed correctly — a
    // java.nio check would always report absent for those schemes and
    // silently admit near-duplicates.
    val sigsPath = new org.apache.hadoop.fs.Path(s"$indexDir/sigs")
    val fs = sigsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(sigsPath))
      return batch.select(col("new_id"), col("new_id").as("index_id")).limit(0)
    // pinned physical layout (r20): explicit read schema skips the
    // per-screen parquet footer inference on the standing side
    val sigsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("sig",
        org.apache.spark.sql.types.StringType)))
    val stored = spark.read.schema(sigsSchema).parquet(s"$indexDir/sigs")
      .select(col("b").as("b2"), col("sig").as("sig2"),
        col("doc_id").as("index_id"))
    // Join-side choice by COST (r20, the SimHashIndex corpus-floor
    // discipline). Past the floor, broadcast the BATCH side: the
    // standing signature table must never shuffle or broadcast — it
    // streams scan→BHJ→partial-agg, so screen cost tracks the corpus
    // scan, not a corpus-wide exchange the planner would otherwise pick
    // once the stored side outgrows the auto-broadcast estimate. Below
    // the floor the OPPOSITE shape is measurably cheaper: broadcasting
    // the tiny stored table lets the batch subtree (shingle explode +
    // signature agg) pipeline straight into the join stage AND leaves
    // the join output partitioned by the batch's own exchange, which
    // the candidate distinct then reuses (hash(new_id) co-locates every
    // (new_id, index_id) group) — broadcasting the batch instead costs
    // a separate broadcast-build job on the expensive subtree plus a
    // fresh exchange for the distinct (measured +0.2 s per screen at
    // sf0.1, plans/r20/idx_neardup_screen_*.txt).
    // an unreadable size falls back to the corpus-streaming shape; a
    // fatal JVM error propagates instead of becoming a join-side choice
    val storedLen =
      try fs.getContentSummary(sigsPath).getLength
      catch { case NonFatal(_) => Long.MaxValue }
    val joined =
      if (storedLen < BatchBcastMinSigsBytes)
        batch.join(broadcast(stored),
          col("b") === col("b2") && col("sig") === col("sig2") &&
            col("new_id") =!= col("index_id"))
      else
        broadcast(batch).join(stored,
          col("b") === col("b2") && col("sig") === col("sig2") &&
            col("new_id") =!= col("index_id"))
    joined.select(col("new_id"), col("index_id")).distinct()
  }

  /** Corpus floor for batch-broadcast serving: below this sigs/ size
    * the stored table broadcasts (pipelined batch, reused exchange —
    * see candidatesAgainst); above it the batch broadcasts and the
    * corpus streams. 32 MiB of sigs ≈ 10⁶ docs — far below any corpus
    * whose screen cost could matter, far above every test fixture. */
  private[graft] val BatchBcastMinSigsBytes: Long = 32L << 20

  /** Near-dup candidate pairs WITHIN a frame (a < b), deduped — exactly
    * the l2 screen, so it delegates to LlmOps.minhashPairsOf (r20): the
    * one-shuffle in-bucket expansion replaces the former signature
    * self-join here too, which also retires this path's eager
    * localCheckpoint job (the pair stage consumes the signatures once). */
  def pairsWithin(docs: DataFrame): DataFrame =
    LlmOps.minhashPairsOf(docs.select(col("doc_id"), col("text")))

  /** Add a batch's signatures to the index (signature-append only; the
    * caller decides which batch docs survive its dedup policy first).
    * Serialized under the shared AppendLock — concurrent appenders to
    * one directory clobber each other's _temporary commit staging. */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    AppendLock.withLock(spark, indexDir) {
      LlmOps.minhashSigs(docs).write.mode("append").parquet(s"$indexDir/sigs")
    }
    ()
  }
}
