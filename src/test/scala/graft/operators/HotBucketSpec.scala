package graft.operators

import org.apache.spark.sql.functions._

/** Degenerate-bucket guard for the shared in-bucket pair expansion
  * (LlmOps.pairsInBucket — VERDICT r19 #2): a single LSH bucket / hash
  * collision group holding N members must STREAM its N·(N−1)/2 pairs,
  * never materialize them as one array value. The r19
  * flatten(transform(transform)) shape built the whole pair array in one
  * value — at N = 20 000 that is 2·10⁸ boxed struct rows (many GiB) in a
  * single task, an OOM in this JVM, where the two-Generate shape
  * completes in seconds holding only the O(N) ids array per row.
  * (N = 10⁵ would prove the same point but spend minutes just counting
  * the 5·10⁹ streamed pairs; 2·10⁴ already kills the old shape.) */
class HotBucketSpec extends graft.SparkSpec {

  test("one hot bucket of 20k ids streams its 2e8 pairs without OOM") {
    val n = 20000L
    // no bucket key: the whole range is one bucket
    val pairs = LlmOps.pairsInBucket(spark.range(n).toDF(), Seq.empty, col("id"))
    // plan shape: two Generates, no flatten — the streaming property
    val plan = pairs.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("flatten"), plan)
    assert(pairs.count() === n * (n - 1) / 2)
  }

  test("pair semantics: sorted a<b tail expansion, no self or dup pairs") {
    val got = LlmOps.pairsInBucket(spark.range(5).toDF(), Seq.empty, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    assert(got === want)
  }
}
