package graft

import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

/** dot_f32 codegen expression: bit-identical to the higher-order fold
  * formulation (same float op order), null-safe, and actually codegen'd. */
class VectorExprSpec extends SparkSpec {

  /** The relational formulation of LlmOps.simhash64Of — explode tokens →
    * explode 64 bit positions → two partial-agg groupBys, signature
    * assembled by bit_or (additive assembly would overflow at bit 63 —
    * 2^63 is Long.MinValue and sum() wraps; OR of disjoint bits is
    * exact). The independent parity mirror the kernel is pinned
    * against: two formulations from different primitives (built-in
    * split/lower/xxhash64 vs the byte-scanning kernel) agreeing
    * bit-for-bit is the no-DuckDB-twin substitute for an oracle. */
  private def simhash64OfRelational(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(63))).as("k"))
      .withColumn("contrib",
        when(expr("(shiftright(h, k) & 1)") === 1, 1).otherwise(-1))
      .groupBy("doc_id", "k")
      .agg(sum(col("contrib")).as("s"))
      .groupBy("doc_id")
      .agg(expr("bit_or(CASE WHEN s > 0 " +
        "THEN shiftleft(CAST(1 AS BIGINT), k) ELSE CAST(0 AS BIGINT) END)")
        .as("simhash"))
  }

  test("dot_f32 equals aggregate(zip_with(...)) bit-for-bit") {
    VectorExpressions.register(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val l = e.select(col("vec_id").as("a"), col("embedding").as("va")).limit(20)
    val r = e.select(col("vec_id").as("b"), col("embedding").as("vb")).limit(20)
    val pairs = l.crossJoin(r)
      .withColumn("native", expr("dot_f32(va, vb)"))
      .withColumn("fold", aggregate(
        zip_with(col("va"), col("vb"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x))
    val diff = pairs.filter(col("native") =!= col("fold")).count()
    assert(diff == 0, s"$diff pairs differ between codegen and fold")
  }

  test("cosine_f32 equals dot/(norm*norm) fold formulation bit-for-bit") {
    VectorExpressions.register(spark)
    def fold(c: org.apache.spark.sql.Column) = aggregate(c, lit(0.0), (a, x) => a + x)
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(fold(transform(c, x => x.cast("double") * x.cast("double"))))
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val l = e.select(col("vec_id").as("a"), col("embedding").as("va")).limit(20)
    val r = e.select(col("vec_id").as("b"), col("embedding").as("vb")).limit(20)
    val pairs = l.crossJoin(r)
      .withColumn("fused", expr("cosine_f32(va, vb)"))
      .withColumn("threepass",
        fold(zip_with(col("va"), col("vb"), (x, y) => x.cast("double") * y.cast("double")))
          / (nrm(col("va")) * nrm(col("vb"))))
    val diff = pairs.filter(col("fused") =!= col("threepass")).count()
    assert(diff == 0, s"$diff pairs differ between fused cosine and 3-pass")
  }

  test("null inputs yield null") {
    VectorExpressions.register(spark)
    import graft.SparkSpec.spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
    val out = df.selectExpr("dot_f32(a, b) AS d").collect()
    assert(out.head.isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    VectorExpressions.register(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = e.selectExpr("dot_f32(embedding, embedding) AS n2")
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [dot_f32"), s"no codegen span:\n$plan")
  }

  test("simhash64 kernel ≡ relational formulation on tokenization edge cases") {
    // the kernel byte-scans for token boundaries; the relational mirror
    // uses built-in split/lower/xxhash64 — agreement on empties (interior,
    // leading, trailing, whole-string), case folding, and multi-byte
    // UTF-8 pins the boundary semantics bit-for-bit
    import graft.SparkSpec.spark.implicits._
    val texts = Seq(
      "", "a", "a ", " a", "a  b", "a   ", "ALPHA Beta GAMMA",
      "héllo wörld  mixé", "日本語 テスト x", "tab\tis one token",
      "many words " + (1 to 50).map(i => s"w$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kernel = graft.operators.LlmOps.simhash64Of(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val relational = simhash64OfRelational(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == relational,
      s"kernel-only=${kernel -- relational} relational-only=${relational -- kernel}")
  }

  test("simhash64 kernel ≡ relational formulation on the corpus; codegen; null") {
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text")
    val kernel = graft.operators.LlmOps.simhash64Of(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val relational = simhash64OfRelational(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == relational)
    val plan = graft.operators.LlmOps.simhash64Of(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash64"), plan)
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    // null text → dropped, matching the relational form (no tokens)
    import graft.SparkSpec.spark.implicits._
    val withNull = Seq((1L, Some("a b")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    assert(graft.operators.LlmOps.simhash64Of(withNull)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
