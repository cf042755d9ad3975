package graft.operators

/** Pins the r20 staleness fix (VERDICT r19 #3): a rebuild producing
  * same-named, same-length files within one mtime granule must still
  * invalidate the resident model — the r19 name:len:mtime signature
  * served stale state in exactly that case. */
class ServeModelCacheSpec extends graft.SparkSpec {

  test("same-name same-length same-mtime rebuild invalidates the entry") {
    val dir = java.nio.file.Files.createTempDirectory("smc-spec").toFile
    try {
      val f = new java.io.File(dir, "model.bin")
      def write(content: String, mtime: Long): Unit = {
        java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
        assert(f.setLastModified(mtime))
      }
      val t0 = (System.currentTimeMillis() / 1000) * 1000 // whole granule
      var loads = 0
      def load() = { loads += 1; java.lang.Integer.valueOf(loads) }

      write("AAAA", t0)
      assert(ServeModelCache.cached(spark, dir.getPath)(load()) == 1)
      assert(ServeModelCache.cached(spark, dir.getPath)(load()) == 1,
        "unchanged content must stay a cache hit")

      write("BBBB", t0) // same name, same length, same mtime
      assert(ServeModelCache.cached(spark, dir.getPath)(load()) == 2,
        "content change with identical name/len/mtime must reload")
      assert(loads == 2)
    } finally {
      ServeModelCache.clear()
      dir.listFiles().foreach(_.delete()); dir.delete()
      ()
    }
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

  private def write(f: java.io.File, content: String): Unit = {
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8")); ()
  }

  test("an in-flight .tmp-* publish file does not force a reload") {
    withDir("smc-tmp") { dir =>
      write(new java.io.File(dir, "shard-0.bin"), "AAAA")
      var loads = 0
      def load() = { loads += 1; java.lang.Integer.valueOf(loads) }
      assert(ServeModelCache.cached(spark, dir.getPath)(load()) == 1)
      // a concurrent republish stages its bytes under a temp name
      write(new java.io.File(dir, "shard-0.bin.tmp-7f3e"), "BBBB")
      write(new java.io.File(dir, ".bloom.bin.tmp-9c1d"), "CCCC")
      assert(ServeModelCache.cached(spark, dir.getPath)(load()) == 1,
        "a temp publish file is not model state")
      assert(loads == 1)
    }
  }

  test("a file that vanishes between list and open does not throw") {
    withDir("smc-vanish") { dir =>
      write(new java.io.File(dir, "shard-0.bin"), "AAAA")
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.ghostlist.impl", classOf[GhostListingFileSystem].getName)
      hc.setBoolean("fs.ghostlist.impl.disable.cache", true)
      try {
        var loads = 0
        def load() = { loads += 1; java.lang.Integer.valueOf(loads) }
        val url = s"ghostlist://${dir.getPath}"
        assert(ServeModelCache.cached(spark, url)(load()) == 1)
        assert(ServeModelCache.cached(spark, url)(load()) == 1,
          "a listed-but-gone file must not destabilise the fingerprint")
      } finally {
        hc.unset("fs.ghostlist.impl")
        hc.unset("fs.ghostlist.impl.disable.cache")
      }
    }
  }

  test("a replaced or evicted broadcast is unpersisted and stays readable") {
    withDir("smc-bcast") { dir =>
      val f = new java.io.File(dir, "blooms.bin")
      def bc(tag: String) = new RecordingBroadcast(spark.sparkContext.broadcast(tag))
      write(f, "AAAA")
      val first = ServeModelCache.cached(spark, dir.getPath)(bc("first"))
      write(f, "BBBB")
      val second = ServeModelCache.cached(spark, dir.getPath)(bc("second"))
      assert(first.unpersists == 1 && second.unpersists == 0)
      // a query still holding the replaced handle reads it in its tasks
      assert(spark.sparkContext.parallelize(1 to 4, 2).map(_ => first.value)
        .collect().toSet == Set("first"))
      // filling the LRU past its bound evicts the least recently used
      // entry — `second` — and unpersists it too
      val others = (1 to 32).map(i =>
        java.nio.file.Files.createTempDirectory(s"smc-lru$i").toFile)
      try {
        others.foreach(d => ServeModelCache.cached(spark, d.getPath)(bc(d.getName)))
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

/** The local filesystem on the `ghostlist` scheme, except that every
  * listing also reports a file that does not exist — a file deleted
  * between a reader's listStatus and its open. */
class GhostListingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("ghostlist:///")
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f) :+ new org.apache.hadoop.fs.FileStatus(4L, false, 1,
      4096L, 0L, new org.apache.hadoop.fs.Path(makeQualified(f), "ghost.bin"))
}
