package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast Bloom-filter membership as a codegen'd predicate.
  *
  * Spark ships `BloomFilterMightContain` for its own runtime row-level
  * filtering but does not register it as a SQL function; we register it as
  * `graft_might_contain(bloomBytes, hash)` so set-membership screens stay
  * inside whole-stage codegen (no Scala UDF in the hot path).
  *
  * The 100 TB pattern this enables: build a Bloom filter over the SMALL
  * side of a semi/anti-join (an eval benchmark's shingle set, a blocklist,
  * a tombstone set), embed it in the plan as a byte literal, and screen the
  * BIG side with a shuffle-free scan predicate. Only the ~fpp fraction of
  * surviving rows reaches the exact confirm join, so the shuffle carries
  * ~1% of the corpus instead of all of it. At 9.6 bits/key (1% fpp) a
  * 10^8-key eval set is a ~120 MB broadcast — the same order as a
  * broadcast-hash-join build side, but O(1)-sized per probe and mergeable.
  *
  * The screen is a pure optimization: callers MUST re-verify survivors with
  * an exact join (Bloom false positives), which is what keeps l29's result
  * hash-identical to the unscreened anti-join formulation.
  */
object BloomMembership {

  /** Registers `graft_might_contain(bloom BINARY, h BIGINT) -> BOOLEAN`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)),
      "built-in")

  /** Builds a Bloom filter over `df.col(hashCol)` (LongType, typically
    * `xxhash64(...)`) via a distributed treeAggregate and returns it as a
    * plan-embeddable byte-array literal. `expectedItems` sizes the filter;
    * the driver only ever holds the filter, never the rows. */
  def buildBloomLiteral(df: DataFrame, hashCol: String,
                        expectedItems: Long, fpp: Double = 0.01): Column = {
    val bf = df.stat.bloomFilter(hashCol, math.max(expectedItems, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    lit(bos.toByteArray)
  }

  /** One-pass variant (r20): builds the filter AND counts the keys in a
    * single treeAggregate job, so callers that previously paid a count()
    * just to size the filter (l29's eval side) pay one distributed pass,
    * not two. `capacityHint` sizes the filter up front; when the true
    * count exceeds the hint the filter is REBUILT at the exact count
    * (one extra pass over the — typically persisted — frame), so the
    * fpp guarantee never silently degrades. The filter's bit pattern is
    * an implementation detail: callers re-verify survivors exactly, so
    * any capacity yields identical results. */
  def buildBloomLiteralCounting(df: DataFrame, hashCol: String,
      capacityHint: Long, fpp: Double = 0.01): (Column, Long) = {
    val cap = math.max(capacityHint, 1L)
    val (bf0, n) = df.select(col(hashCol)).rdd
      .treeAggregate((null: BloomFilter, 0L))(
        (acc, row) => {
          val b = if (acc._1 == null) BloomFilter.create(cap, fpp) else acc._1
          b.putLong(row.getLong(0))
          (b, acc._2 + 1)
        },
        (a, b) => {
          val bf =
            if (a._1 == null) b._1
            else if (b._1 == null) a._1
            else { a._1.mergeInPlace(b._1); a._1 }
          (bf, a._2 + b._2)
        })
    val bf =
      if (n > cap || bf0 == null) // under-hinted (or empty): exact resize
        df.stat.bloomFilter(hashCol, math.max(n, 1L), fpp)
      else bf0
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    (lit(bos.toByteArray), n)
  }

  /** `graft_might_contain(bloom, h)` as a Column (registers on the way). */
  def mightContain(spark: SparkSession, bloom: Column, h: Column): Column = {
    register(spark)
    call_function("graft_might_contain", bloom, h)
  }

  /** Literal-embedding ceiling (4 MiB). Below it, `lit(bytes)` is the
    * cheapest transport: the literal rides the one task-binary broadcast
    * each stage already pays, with zero extra fetch hops. Above it, the
    * bytes must NOT live in the plan — every stage that references the
    * predicate re-broadcasts its whole task binary, the driver holds the
    * array in every optimized copy of the plan, and plan-string/explain
    * machinery drags it around — so large filters ride a real Broadcast
    * variable instead (fetched once per EXECUTOR, reused by every stage
    * and every query against the same model). At the documented
    * eval-suite ceiling (10^8 keys / 1% fpp ≈ 114 MiB) the literal path
    * would put ~114 MiB into each referencing stage's task binary; the
    * broadcast path ships a handle of a few hundred bytes. */
  val LiteralMaxBytes: Long = 4L << 20

  /** Broadcast-backed membership predicate for blooms too big to embed:
    * the Column evaluates `mightContainLong(h)` against the
    * executor-cached deserialized filter of `bcast`, the serialized
    * filter bytes. The caller owns the Broadcast — a serve keeps one per
    * committed model resident (ServeModelCache), which unpersists it once
    * a new generation replaces it. Registered as a uniquely-named temp
    * function because the Broadcast handle has no SQL-text form — the
    * registry builder closes over it (the same createOrReplaceTempFunction
    * channel `register` uses, so no private Column constructors are
    * touched). */
  def mightContainBroadcast(spark: SparkSession, bcast: Broadcast[Array[Byte]],
      h: Column): Column = {
    val name = s"graft_might_contain_bcast_${bcast.id}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => BloomMightContainBcast(bcast, exprs(0)), "built-in")
    call_function(name, h)
  }
}

/** Per-executor deserialized-filter cache: `BloomFilter.readFrom` copies
  * the byte payload into the filter's long words, so deserializing per
  * TASK would multiply a ~12-114 MiB model by the task count. Keyed by
  * broadcast id (unique per SparkContext), LRU-bounded so a long-lived
  * executor serving many models holds at most 8 resident filters. */
private[functions] object BloomBcastCache {
  private val cache =
    new java.util.LinkedHashMap[Long, BloomFilter](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, BloomFilter]): Boolean = size() > 8
    }
  def get(b: Broadcast[Array[Byte]]): BloomFilter = cache.synchronized {
    val hit = cache.get(b.id)
    if (hit != null) hit
    else {
      val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b.value))
      cache.put(b.id, bf)
      bf
    }
  }
}

/** `mightContainLong(child)` against a Broadcast-carried Bloom filter.
  * The expression serializes as the tiny Broadcast HANDLE (TorrentBroadcast
  * keeps its value transient); executors fetch the bytes once and share
  * the deserialized filter via [[BloomBcastCache]]. Codegen references
  * the expression instance itself, so the generated code stays a single
  * virtual call — the same whole-stage-codegen shape as Spark's own
  * BloomFilterMightContain, minus the plan-resident byte literal. */
case class BloomMightContainBcast(bcast: Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression with Predicate {

  override def prettyName: String = "graft_might_contain_bcast"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a BIGINT hash input, got ${child.dataType.sql}")

  @transient private lazy val bloom: BloomFilter = BloomBcastCache.get(bcast)

  def mightContainLong(h: Long): Boolean = bloom.mightContainLong(h)

  override def nullSafeEval(h: Any): Any =
    mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBcast", this,
      classOf[BloomMightContainBcast].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.mightContainLong($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainBcast =
    copy(child = newChild)
}
