package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.udaf

import graft.functions.{Interval, IntervalUnion}

/** One-call session attach — the "switch to this engine" surface for a
  * SQL-first user: after `GraftSession.attach(spark, dir)` every testdata
  * table is a view and the full custom-function surface is callable from
  * plain `spark.sql`:
  *
  *   - `dot_f32(a, b)`, `cosine_f32(a, b)`, `sign_lsh(v, bands, bits)` —
  *     codegen'd vector kernels (functions/VectorExpressions.scala)
  *   - `range_chunks(size, chunk)` — generator splitting a byte range into
  *     fetch units (plans/RangeChunks.scala, reference B5)
  *   - `graft_might_contain(bloom, h)` — broadcast Bloom-filter membership
  *     probe (functions/BloomMembership.scala)
  *   - `interval_union(start, end)` — aggregate covered length over
  *     [start, end) intervals (functions/IntervalUnion.scala, reference B6)
  *
  * DataFrame users get the same things from the operator objects; this
  * facade only wires names, it owns no logic.
  */
object GraftSession {
  /** The local session every main runs on: `local[cpus]`, one shuffle
    * partition per core, a UTC session time zone (the oracle's and the
    * testdata's), and no UI. */
  def local(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def attach(spark: SparkSession, sfDir: String): Unit = {
    Tables.registerViews(spark, sfDir)
    graft.functions.VectorExpressions.register(spark)
    graft.functions.BloomMembership.register(spark)
    graft.functions.ZOrder.register(spark)
    graft.plans.RangeChunks.register(spark)
    // the banded range-join rewrite binds to no data path — attach must
    // expose the same engine surface as the extensions route, or a
    // SQL-first user setting spark.graft.rangeJoin.bandWidth would
    // silently keep the nested-loop plan with nothing signalling why
    graft.plans.BandedRangeJoinRule.register(spark)
    spark.udf.register("interval_union",
      udaf(new IntervalUnion, Encoders.product[Interval]))
  }
}

/** `spark.sql.extensions`-compatible injector — the zero-code deployment
  * path for clusters: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes the engine's expression surface (dot_f32 / cosine_f32 /
  * sign_lsh / range_chunks) native in every session built on the context,
  * no attach() call required. Views and UDAFs stay session-scoped
  * (GraftSession.attach) because they bind to data paths. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def info(name: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, name)
    ext.injectFunction((FunctionIdentifier("dot_f32"), info("dot_f32"),
      (es: Seq[Expression]) => graft.functions.DotProductF32(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("cosine_f32"), info("cosine_f32"),
      (es: Seq[Expression]) => graft.functions.CosineF32(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("sign_lsh"), info("sign_lsh"),
      (es: Seq[Expression]) => graft.functions.SignLsh(es(0),
        graft.functions.VectorExpressions.intArg(es(1), "bands"),
        graft.functions.VectorExpressions.intArg(es(2), "bits"))))
    ext.injectFunction((FunctionIdentifier("range_chunks"), info("range_chunks"),
      (es: Seq[Expression]) => graft.plans.RangeChunks(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain"),
      (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("zorder2"), info("zorder2"),
      (es: Seq[Expression]) => graft.functions.ZOrder2(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("zorder3"), info("zorder3"),
      (es: Seq[Expression]) =>
        graft.functions.ZOrder3(es(0), es(1), es(2))))
    ext.injectFunction((FunctionIdentifier("zordern"), info("zordern"),
      (es: Seq[Expression]) => graft.functions.ZOrder.dispatch(es)))
    // optimizer rule: theta range joins -> banded equi joins (off unless
    // spark.graft.rangeJoin.bandWidth is set; the broader interval-OVERLAP
    // rewrite gates separately on spark.graft.rangeJoin.overlapBandWidth;
    // plans/BandedRangeJoinRule)
    ext.injectOptimizerRule(s => graft.plans.BandedRangeJoinRule(s))
  }
}
