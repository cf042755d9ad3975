package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** AnnIndex's driver-resident flat arm: a committed generation whose flat
  * tables fit `spark.sql.autoBroadcastJoinThreshold` serves from a model
  * loaded once per manifest, and answers row for row what the
  * distributed plan (`flatQueryProbes`) answers — sims bit-identical. */
class AnnResidentSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def probes(dir: String, n: Int): DataFrame =
    spark.read.parquet(s"$dir/vectors").filter(col("vec_id") < n)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))

  /** One serve's rows, the jobs it ran, and whether the resident arm
    * answered (a local relation: its plan's every leaf is a local scan). */
  private def serve(dir: String, ps: DataFrame, excludeSelf: Boolean = true)
      : (Seq[Row], Int, Boolean) = {
    val ((rows, resident), rec) = graft.JobAttribution.of(spark) {
      val df = AnnIndex.queryProbes(spark, dir, ps, 5, excludeSelf)
      (df.collect().toSeq, df.queryExecution.executedPlan.collectLeaves()
        .forall(_.nodeName == "LocalTableScan"))
    }
    (rows, rec.jobs.size, resident)
  }

  /** The resident arm served, running at most the probe collect, and
    * its rows equal the distributed plan's, which are returned. */
  private def assertParity(dir: String, ps: DataFrame,
      excludeSelf: Boolean = true): Seq[Row] = {
    AnnIndex.queryProbes(spark, dir, ps, 5, excludeSelf).collect() // load
    val (resident, jobs, onResident) = serve(dir, ps, excludeSelf)
    assert(onResident && jobs <= 1, s"a warm serve ran $jobs jobs, resident: $onResident")
    val distributed = AnnIndex.flatQueryProbes(spark, dir, ps, 5, excludeSelf)
      .collect().toSeq
    assert(resident == distributed,
      s"resident-only=${resident.diff(distributed)} " +
        s"distributed-only=${distributed.diff(resident)}")
    assert(resident.nonEmpty)
    resident
  }

  test("resident flat arm equals the distributed plan: float32 and sq8, excludeSelf on and off") {
    for (sq8 <- Seq(false, true)) withConf(AnnIndex.ServeSq8Key -> sq8.toString) {
      val dir = Files.createTempDirectory("ann-resident").toString
      AnnIndex.build(spark, sfDir, dir)
      assert(AnnIndex.serveMode(spark, dir) == (if (sq8) "sq8" else "float32"))
      assert(AnnIndex.chosenArm(spark, dir) == "flat")
      val ps = probes(dir, 50)
      val self = assertParity(dir, ps, excludeSelf = false)
      assert(self.exists(r => r.getLong(0) == r.getLong(2)),
        "excludeSelf = false must let a corpus probe find itself")
      val others = assertParity(dir, ps)
      assert(!others.exists(r => r.getLong(0) == r.getLong(2)))
    }
  }

  test("a probe with no candidates emits no rows on either arm") {
    val dir = Files.createTempDirectory("ann-resident-empty").toString
    val v = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    // every plane's sign flips for -v: its buckets lie 8 bits from v's
    AnnIndex.buildFrom(spark, Seq((1L, v), (2L, v.map(_ * 2))).toDF("vec_id", "embedding"), dir)
    val ps = Seq((10L, v), (11L, v.map(x => -x))).toDF("probe_id", "pv")
    val rows = assertParity(dir, ps, excludeSelf = false)
    assert(rows.map(_.getLong(0)).toSet == Set(10L))
  }

  test("an id appended twice scores twice on the resident arm, as in the join") {
    val dir = Files.createTempDirectory("ann-resident-twice").toString
    AnnIndex.build(spark, sfDir, dir)
    val copy0 = spark.read.parquet(s"$dir/vectors").filter(col("vec_id") === 0L)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    AnnIndex.append(spark, dir, copy0)
    AnnIndex.append(spark, dir, copy0)
    val rows = assertParity(dir, probes(dir, 20))
    val top2 = rows.filter(r => r.getLong(0) == 0L && r.getInt(1) <= 2)
    assert(top2.map(_.getLong(2)) == Seq(99999L, 99999L), s"$top2")
  }

  test("an index on a pufs:// mount serves the resident arm with equal rows") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[graft.sources.PufsFileSystem].getName)
    hc.set("fs.pufs.backing", Files.createTempDirectory("ann-res-backing").toString)
    hc.set("fs.pufs.cache", Files.createTempDirectory("ann-res-cache").toString)
    hc.set("fs.pufs.impl.disable.cache", "true")
    val remote = "pufs:///ann-resident"
    val local = Files.createTempDirectory("ann-resident-local").toString
    AnnIndex.build(spark, sfDir, remote)
    AnnIndex.build(spark, sfDir, local)
    val ps = probes(local, 30)
    assert(assertParity(remote, ps) == assertParity(local, ps))
  }

  test("buildFrom over a served dir recommits generation 1, and the next serve answers from the new data") {
    val dir = Files.createTempDirectory("ann-resident-rebuild").toString
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    AnnIndex.buildFrom(spark, src.filter(col("vec_id") < 300), dir)
    val ps = src.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val before = assertParity(dir, ps, excludeSelf = false)
    // same number, new files and rows: a cache keyed by the number alone
    // would keep serving the first build
    AnnIndex.buildFrom(spark, src.filter(col("vec_id") >= 200)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")), dir)
    assert(AnnIndex.generation(spark, dir).number == 1)
    val after = assertParity(dir, ps, excludeSelf = false)
    assert(after != before)
    assert(after.forall(_.getLong(2) >= 1000000L), "served a row of the first build")
  }

  test("rows written into the flat tables outside a commit are never served by the resident arm") {
    val dir = Files.createTempDirectory("ann-resident-stray").toString
    AnnIndex.build(spark, sfDir, dir)
    val ps = probes(dir, 20)
    val before = assertParity(dir, ps)
    for (t <- Seq("signatures", "vectors"))
      spark.read.parquet(s"$dir/$t").filter(col("vec_id") === 0L)
        .withColumn("vec_id", lit(900000L))
        .write.mode("append").parquet(s"$dir/$t")
    assert(serve(dir, ps)._1 == before, "stray rows served by the warm model")
    ServeModelCache.clear() // the model reloads from the manifest's files
    assert(serve(dir, ps)._1 == before, "stray rows served by a reloaded model")
  }

  test("at threshold -1, or a generation over the bound, the same probes serve on the distributed arm") {
    val dir = Files.createTempDirectory("ann-resident-off").toString
    AnnIndex.build(spark, sfDir, dir)
    val ps = probes(dir, 50)
    val resident = assertParity(dir, ps)
    for (threshold <- Seq("-1", "1024")) withConf(ThresholdKey -> threshold) {
      AnnIndex.queryProbes(spark, dir, ps, 5).collect() // warm-up
      val (rows, jobs, onResident) = serve(dir, ps)
      assert(rows == resident, s"threshold $threshold changed the answers")
      assert(!onResident && jobs > 1,
        s"threshold $threshold: $jobs jobs, resident: $onResident")
    }
    // back under the bound, the remembered over-bound verdict gives way
    assert(serve(dir, ps) == ((resident, 1, true)))
  }
}
