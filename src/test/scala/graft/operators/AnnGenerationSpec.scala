package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AnnIndex's generation log ([[IndexGenerations]]): serving reads the
  * newest complete manifest and exactly the files it lists. */
class AnnGenerationSpec extends SparkSpec {

  private def routed[T](body: => T): T = {
    val key = AnnIndex.FlatMaxBucketRowsKey
    val saved = spark.conf.getOption(key)
    try { spark.conf.set(key, "0"); body }
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  /** Near-dups of corpus vectors `ids` under ids shifted by `shift`. */
  private def dups(dir: String, ids: Range, shift: Long): DataFrame =
    spark.read.parquet(s"$dir/vectors").filter(col("vec_id").isin(ids.map(_.toLong): _*))
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))

  private def probes(dir: String, n: Int): DataFrame =
    spark.read.parquet(s"$dir/vectors").filter(col("vec_id") < n)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))

  private def served(dir: String, n: Int = 20): Seq[(Long, Int, Long)] =
    AnnIndex.queryProbes(spark, dir, probes(dir, n), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  private def top1(rows: Seq[(Long, Int, Long)]): Map[Long, Long] =
    rows.filter(_._2 == 1).map(r => r._1 -> r._3).toMap

  test("a half-written manifest with no trailer is skipped: the previous generation serves") {
    routed {
      val root = Files.createTempDirectory("ann-gen-torn")
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      val gen1 = served(idx)
      // a twin commits generation 2; idx receives its tables and a copy
      // of its manifest cut before the trailer — a commit torn mid-write
      val twin = s"$root/twin"
      copyTree(idx, twin)
      AnnIndex.append(spark, twin, dups(twin, 0 until 10, 900000L))
      copyTree(s"$twin/g2", s"$idx/g2")
      val lines = Files.readAllLines(Paths.get(s"$twin/_gen/2"))
      assert(lines.get(lines.size - 1) == "end\t2")
      Files.write(Paths.get(s"$idx/_gen/2"), lines.subList(0, lines.size - 1))

      assert(AnnIndex.generation(spark, idx).number == 1)
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")
      assert(served(idx) == gen1, "a torn manifest must not be served")
      // the next commit takes the number after the torn one, never over it
      AnnIndex.append(spark, idx, dups(idx, 0 until 10, 900000L))
      assert(AnnIndex.generation(spark, idx).number == 3)
      assert(served(idx) == served(twin),
        "generation 3 must serve what the twin's generation 2 serves")
    }
  }

  test("two threads appending to one index at once commit two generations, and both batches serve") {
    routed {
      val idx = Files.createTempDirectory("ann-gen-race").toString
      AnnIndex.build(spark, sfDir, idx)
      val a = dups(idx, 0 until 10, 900000L)
      val b = dups(idx, 10 until 20, 800000L)
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(a, b).map { batch =>
        val t = new Thread(() => { start.await(); AnnIndex.append(spark, idx, batch) })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      val g = AnnIndex.generation(spark, idx)
      assert(g.number == 3 && g.rows == 520, s"generation ${g.number}, n ${g.rows}")
      assert(Seq(2, 3).forall(n => Files.exists(Paths.get(s"$idx/_gen/$n"))))
      assert(spark.read.parquet(g.vectors: _*).count() == 520 &&
        spark.read.parquet(g.ivfpq.get._2.vectors: _*).count() == 520)
      val top = top1(served(idx))
      (0L until 20L).foreach { p =>
        val want = if (p < 10) p + 900000L else p + 800000L
        assert(top(p) == want, s"probe $p: top-1 ${top(p)}, want $want")
      }
    }
  }

  test("rows written straight into a data directory, outside a commit, are never served") {
    routed {
      val idx = Files.createTempDirectory("ann-gen-stray").toString
      AnnIndex.build(spark, sfDir, idx)
      val routedBefore = served(idx)
      val g = AnnIndex.generation(spark, idx)
      // copies of vector 0's rows under a fresh id, in every table of
      // both arms: read by directory listing, the copy would tie probe 0
      // at cosine 1
      for (t <- Seq("signatures", "vectors", "ivfpq/cells", "ivfpq/codes", "ivfpq/vectors"))
        spark.read.parquet(s"$idx/$t").filter(col("vec_id") === 0L)
          .withColumn("vec_id", lit(900000L))
          .write.mode("append").parquet(s"$idx/$t")
      assert(AnnIndex.generation(spark, idx) == g)
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")
      assert(served(idx) == routedBefore, "stray rows served on the routed arm")
      val flat = AnnIndex.flatQueryProbes(spark, idx, probes(idx, 20), 5)
        .select("neighbor_id").collect().map(_.getLong(0))
      assert(!flat.contains(900000L), "stray rows served on the flat arm")
    }
  }

  test("a directory with no _gen/ serves as generation 0, and its next append commits generation 1") {
    routed {
      val idx = Files.createTempDirectory("ann-gen-legacy").toString
      AnnIndex.build(spark, sfDir, idx)
      val built = served(idx)
      // what a build from before the log left: the same tables, no log
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$idx/_gen"))
      val g0 = AnnIndex.generation(spark, idx)
      assert(g0.number == 0 && g0.rows == 500 && g0.ivfpq.isDefined)
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")
      assert(served(idx) == built, "generation 0 must serve the fixed paths")
      AnnIndex.append(spark, idx, dups(idx, 0 until 10, 900000L))
      assert(Files.exists(Paths.get(s"$idx/_gen/1")))
      val g1 = AnnIndex.generation(spark, idx)
      assert(g1.number == 1 && g1.rows == 510)
      assert(g1.vectors.exists(_.startsWith(s"$idx/vectors/")) &&
        g1.vectors.exists(_.startsWith(s"$idx/g1/vectors/")),
        "generation 1 must list the fixed paths and the batch")
      val top = top1(served(idx))
      (0L until 10L).foreach(p => assert(top(p) == p + 900000L,
        s"generation 1 missed the appended dup of $p: ${top(p)}"))
    }
  }
}
