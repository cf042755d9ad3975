package graft.operators

import org.apache.spark.sql.functions._

/** ServeModelCache keys a committed model on the identity its manifest
  * gives it: a rebuild commits files of new names, so even one that
  * reuses the directory, the row count and the generation number
  * invalidates the resident model. */
class ServeModelCacheSpec extends graft.SparkSpec {

  test("a PQ rebuild at generation 1 again serves the new codebooks") {
    val emb = graft.Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    // the same row count, another corpus: every vector reversed
    val reversed = emb.select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    def answers(dir: String) = PqIndex.queryProbes(spark, dir, probes, 5, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val ref = java.nio.file.Files.createTempDirectory("smc-pq-ref").toString
    PqIndex.buildFrom(spark, reversed, ref)
    val dir = java.nio.file.Files.createTempDirectory("smc-pq").toString
    PqIndex.buildFrom(spark, emb, dir)
    val before = answers(dir) // the first corpus's codebooks, now resident
    val g1 = PqIndex.generation(spark, dir)
    PqIndex.buildFrom(spark, reversed, dir)
    val g = PqIndex.generation(spark, dir)
    assert(g.number == 1 && g1.number == 1)
    assert(spark.read.parquet(g("vectors"): _*).count() == emb.count())
    // what tells the two models apart: the data files' names
    assert(g("codebooks") != g1("codebooks"))
    val after = answers(dir)
    assert(after == answers(ref), "the rebuilt index served a stale model")
    assert(after != before, "the two corpora must differ in their answers")
  }

  private def withDir(name: String)(body: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toFile
    ServeModelCache.clear()
    try body(dir)
    finally {
      ServeModelCache.clear()
      dir.listFiles().foreach(_.delete()); dir.delete()
      ()
    }
  }

  test("a replaced or evicted broadcast is unpersisted and stays readable") {
    withDir("smc-bcast") { dir =>
      def bc(tag: String) = new RecordingBroadcast(spark.sparkContext.broadcast(tag))
      def committed(d: String, identity: String)(b: => RecordingBroadcast[String]) =
        ServeModelCache.committed(d, identity)((_: RecordingBroadcast[String]) => true)(b)
      val first = committed(dir.getPath, "1")(bc("first"))
      val second = committed(dir.getPath, "2")(bc("second"))
      assert(first.unpersists == 1 && second.unpersists == 0)
      // a query still holding the replaced handle reads it in its tasks
      assert(spark.sparkContext.parallelize(1 to 4, 2).map(_ => first.value)
        .collect().toSet == Set("first"))
      // filling the LRU past its bound evicts the least recently used
      // entry — `second` — and unpersists it too
      val others = (1 to 32).map(i =>
        java.nio.file.Files.createTempDirectory(s"smc-lru$i").toFile)
      try {
        others.foreach(d => committed(d.getPath, "1")(bc(d.getName)))
        assert(second.unpersists == 1 && second.value == "second")
      } finally others.foreach(_.delete())
    }
  }
}

/** A broadcast that counts its unpersist calls and otherwise is `inner`. */
class RecordingBroadcast[T: scala.reflect.ClassTag](
    inner: org.apache.spark.broadcast.Broadcast[T])
    extends org.apache.spark.broadcast.Broadcast[T](inner.id) {
  @volatile var unpersists = 0
  override def getValue(): T = inner.value
  override def doUnpersist(blocking: Boolean): Unit = {
    unpersists += 1
    inner.unpersist(blocking)
  }
  override def doDestroy(blocking: Boolean): Unit = inner.destroy()
}
