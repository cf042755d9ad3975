package graft

import graft.operators.AnnIndex
import org.apache.spark.sql.functions.col

/** Measurement harness for the ANN flat arm's resident/distributed
  * switch: for each corpus size it times a warm probe-batch serve on the
  * resident arm (`queryProbes`) and on the distributed plan
  * (`flatQueryProbes`), the first serve of the manifest (the model load),
  * the heap the loaded model holds, and then a serve after each of a few
  * appends, where every serve meets a fresh generation. Corpora are
  * SynthVectors' clusterless 64-d unit vectors; the probes are the
  * first `probes` of them. `threshold` (bytes) is set as
  * `spark.sql.autoBroadcastJoinThreshold`, so a run with a raised
  * threshold also shows the resident arm past the default bound (the
  * distributed plan then broadcasts what it would otherwise shuffle).
  *
  * Usage: Test/runMain graft.AnnServeProbe <sizes,...> [probes] [appends] [threshold]
  *   e.g. Test/runMain graft.AnnServeProbe 3000,15000,30000 500 3
  */
object AnnServeProbe {
  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.toLong)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val probes = if (args.length > 1) args(1).toInt else 500
    val appends = if (args.length > 2) args(2).toInt else 3
    if (args.length > 3) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", args(3))
    def secs[T](f: => T): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def heapMb(): Double = {
      for (_ <- 1 to 3) System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    val conf = spark.sparkContext.hadoopConfiguration
    def bytes(files: Seq[String]): Long = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    for (n <- sizes) {
      val dir = java.nio.file.Files.createTempDirectory("ann-serve-probe").toString
      AnnIndex.buildFrom(spark, SynthVectors.corpus(spark, n), dir)
      val g = AnnIndex.generation(spark, dir)
      val pv = spark.read.parquet(g.vectors: _*).filter(col("vec_id") < probes)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val resident = () => AnnIndex.queryProbes(spark, dir, pv, 5).collect()
      val distributed = () => AnnIndex.flatQueryProbes(spark, dir, pv, 5).collect()
      val before = heapMb()
      val cold = secs(resident())
      val model = heapMb() - before
      assert(resident().toSeq == distributed().toSeq, s"n=$n: the arms disagree")
      val r = (1 to 5).map(_ => secs(resident()))
      val d = (1 to 5).map(_ => secs(distributed()))
      println(f"ANNPROBE n=$n probes=$probes flat_mb=${bytes(g.signatures ++ g.vectors) / 1048576.0}%.2f " +
        f"model_heap_mb=$model%.1f first_serve_s=$cold%.3f " +
        f"resident_s=${median(r)}%.3f distributed_s=${median(d)}%.3f")
      // a serve after each append: every resident serve loads a new model
      for (i <- 1 to appends) {
        AnnIndex.append(spark, dir, SynthVectors.corpus(spark, 50).select(
          (col("vec_id") + n + 1000L * i).as("vec_id"), col("embedding")))
        val dt = secs(distributed())
        val rt = secs(resident())
        println(f"ANNPROBE n=$n append=$i fresh_resident_s=$rt%.3f distributed_s=$dt%.3f")
      }
    }
    spark.stop()
  }
}
