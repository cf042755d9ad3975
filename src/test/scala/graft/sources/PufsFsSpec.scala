package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** pufs:// FileSystem: stress differential (byte-equality vs ground truth,
  * the reference's core correctness idea — benchmark/stress.go:44-152),
  * laziness (partial reads pull less than the file), IO dedup, and
  * Spark-read integration (parquet over pufs:// with column pruning). */
class PufsFsSpec extends SparkSpec {

  private def newFs(backing: String, cache: String,
      chunk: Long = 8192, ra: Long = 0): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    conf.set("fs.pufs.backing", backing)
    conf.set("fs.pufs.cache", cache)
    conf.setLong("fs.pufs.chunk.size", chunk)
    conf.setLong("fs.pufs.readahead", ra)
    conf.setBoolean("fs.pufs.impl.disable.cache", true)
    FileSystem.get(java.net.URI.create("pufs:///"), conf)
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("stress differential: random + sequential reads match ground truth") {
    val backing = tmpDir("pufs-backing")
    val rnd = new scala.util.Random(99) // reference seed (stress.go:144)
    val data = new Array[Byte](700 * 1024)
    rnd.nextBytes(data)
    Files.write(Paths.get(backing, "blob.bin"), data)
    val fs = newFs(backing, tmpDir("pufs-cache"))
    val in = fs.open(new Path("/blob.bin"))
    // log-uniform read sizes 1 B..64 KiB (stress.go:71 shape), random offsets
    (1 to 200).foreach { i =>
      val len = math.max(1, math.exp(rnd.nextDouble() * math.log(64 * 1024)).toInt)
      val off = rnd.nextInt(data.length)
      val n = math.min(len, data.length - off)
      val buf = new Array[Byte](n)
      in.readFully(off.toLong, buf, 0, n)
      assert(java.util.Arrays.equals(buf, java.util.Arrays.copyOfRange(data, off, off + n)),
        s"mismatch at read $i off=$off len=$n")
    }
    // sequential tail read across chunk boundaries
    in.seek(data.length - 30000L)
    val tail = new Array[Byte](30000)
    var got = 0
    while (got < tail.length) {
      val n = in.read(tail, got, tail.length - got)
      assert(n > 0); got += n
    }
    assert(java.util.Arrays.equals(tail,
      java.util.Arrays.copyOfRange(data, data.length - 30000, data.length)))
    in.close(); fs.close()
  }

  test("stress differential under readahead: concurrent threads, background pulls") {
    val backing = tmpDir("pufs-ra-stress")
    val rnd = new scala.util.Random(99)
    val data = new Array[Byte](700 * 1024)
    rnd.nextBytes(data)
    Files.write(Paths.get(backing, "blob.bin"), data)
    // readahead ON: background copies race the foreground reads — the
    // reference's stress shape runs N threads against a live readahead
    // scheduler (benchmark/stress.go:164-179 + region/pending.go)
    val fs = newFs(backing, tmpDir("pufs-ra-stress-cache"), chunk = 8192, ra = 64 * 1024)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        try {
          val r = new scala.util.Random(99 + t)
          val in = fs.open(new Path("/blob.bin"))
          (1 to 100).foreach { i =>
            val len = math.max(1, math.exp(r.nextDouble() * math.log(64 * 1024)).toInt)
            val off = r.nextInt(data.length)
            val n = math.min(len, data.length - off)
            val buf = new Array[Byte](n)
            in.readFully(off.toLong, buf, 0, n)
            if (!java.util.Arrays.equals(buf,
              java.util.Arrays.copyOfRange(data, off, off + n)))
              errs.add(s"thread $t read $i off=$off len=$n mismatch")
          }
          in.close()
        } catch { case e: Throwable => errs.add(s"thread $t: $e") }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    fs.close()
    assert(errs.isEmpty, errs.toString)
  }

  test("laziness: a small ranged read pulls only chunk-aligned bytes") {
    val backing = tmpDir("pufs-backing2")
    val data = new Array[Byte](1024 * 1024)
    new scala.util.Random(7).nextBytes(data)
    Files.write(Paths.get(backing, "big.bin"), data)
    val fs = newFs(backing, tmpDir("pufs-cache2"), chunk = 8192)
    PufsFileSystem.resetStats()
    val in = fs.open(new Path("/big.bin"))
    val buf = new Array[Byte](100)
    in.readFully(500000L, buf, 0, 100) // 100 bytes mid-file
    val pulled = PufsFileSystem.bytesPulled.get()
    assert(pulled >= 100 && pulled <= 16384,
      s"expected one-or-two 8 KiB chunks, pulled $pulled")
    assert(pulled < data.length / 10, "pulled a large fraction — not lazy")
    in.close(); fs.close()
  }

  test("vectored read: scatter-gather ranges match ground truth, stay lazy") {
    val backing = tmpDir("pufs-vectored")
    val data = new Array[Byte](1024 * 1024)
    new scala.util.Random(13).nextBytes(data)
    Files.write(Paths.get(backing, "cols.bin"), data)
    val fs = newFs(backing, tmpDir("pufs-vectored-cache"), chunk = 8192)
    PufsFileSystem.resetStats()
    val in = fs.open(new Path("/cols.bin"))
    // parquet-reader shape: footer tail + a few disjoint column chunks
    import scala.jdk.CollectionConverters._
    val ranges = Seq(
      org.apache.hadoop.fs.FileRange.createFileRange(data.length - 4096L, 4096),
      org.apache.hadoop.fs.FileRange.createFileRange(10000L, 30000),
      org.apache.hadoop.fs.FileRange.createFileRange(500000L, 20000),
      // overlapping with the previous range: chunk dedup must keep this safe
      org.apache.hadoop.fs.FileRange.createFileRange(505000L, 20000)).asJava
    in.readVectored(ranges, (n: Int) => java.nio.ByteBuffer.allocate(n))
    ranges.asScala.foreach { r =>
      val buf = r.getData.get(30, java.util.concurrent.TimeUnit.SECONDS)
      val arr = new Array[Byte](r.getLength)
      buf.get(arr)
      val off = r.getOffset.toInt
      assert(java.util.Arrays.equals(arr,
        java.util.Arrays.copyOfRange(data, off, off + r.getLength)),
        s"vectored range at ${r.getOffset}+${r.getLength} mismatched")
    }
    // lazy: only the requested ranges' chunks pulled, no readahead waste
    val pulled = PufsFileSystem.bytesPulled.get()
    assert(pulled < data.length / 4, s"vectored read pulled $pulled — not lazy")
    // EOF validation: a range past the end fails fast
    intercept[java.io.EOFException] {
      in.readVectored(Seq(org.apache.hadoop.fs.FileRange
        .createFileRange(data.length - 100L, 200)).asJava,
        (n: Int) => java.nio.ByteBuffer.allocate(n))
    }
    in.close(); fs.close()
  }

  test("IO dedup: concurrent readers of one range fetch each chunk once") {
    val backing = tmpDir("pufs-backing3")
    val data = new Array[Byte](256 * 1024)
    new scala.util.Random(3).nextBytes(data)
    Files.write(Paths.get(backing, "c.bin"), data)
    val fs = newFs(backing, tmpDir("pufs-cache3"), chunk = 8192)
    PufsFileSystem.resetStats()
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val in = fs.open(new Path("/c.bin"))
        val buf = new Array[Byte](data.length)
        in.readFully(0L, buf, 0, data.length)
        assert(java.util.Arrays.equals(buf, data))
        in.close()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val chunks = (data.length + 8191) / 8192
    assert(PufsFileSystem.fetchCount.get() == chunks,
      s"expected exactly $chunks fetches, got ${PufsFileSystem.fetchCount.get()}")
    fs.close()
  }

  test("region log replay: partial population survives restart, zero re-fetches") {
    val backing = tmpDir("pufs-backing6")
    val cache = tmpDir("pufs-cache6")
    val data = new Array[Byte](512 * 1024)
    new scala.util.Random(11).nextBytes(data)
    Files.write(Paths.get(backing, "r.bin"), data)
    val fs = newFs(backing, cache, chunk = 8192)
    val in = fs.open(new Path("/r.bin"))
    val buf = new Array[Byte](20000)
    in.readFully(100000L, buf, 0, 20000)
    in.close(); fs.close()
    val before = PufsFileSystem.bytesPulled.get()
    assert(before > 0)
    // "restart": wipe all in-memory state; arena + region logs stay on disk
    PufsFileSystem.simulateRestart()
    val fs2 = newFs(backing, cache, chunk = 8192)
    val in2 = fs2.open(new Path("/r.bin"))
    val buf2 = new Array[Byte](20000)
    in2.readFully(100000L, buf2, 0, 20000)
    assert(java.util.Arrays.equals(buf2,
      java.util.Arrays.copyOfRange(data, 100000, 120000)))
    assert(PufsFileSystem.bytesPulled.get() == 0,
      s"re-fetched ${PufsFileSystem.bytesPulled.get()} bytes after restart (log replay failed)")
    in2.close(); fs2.close()
  }

  test("read-after-create through pufs:// returns the written bytes") {
    val backing = tmpDir("pufs-backing7")
    val fs = newFs(backing, tmpDir("pufs-cache7"))
    val out = fs.create(new Path("/w/x.bin"))
    val payload = Array.tabulate[Byte](10000)(i => (i * 13).toByte)
    out.write(payload); out.close()
    val in = fs.open(new Path("/w/x.bin"))
    val back = new Array[Byte](10000)
    in.readFully(0L, back, 0, 10000)
    assert(java.util.Arrays.equals(back, payload),
      "create->open round trip corrupted (mask/arena inconsistency)")
    in.close(); fs.close()
  }

  test("blockStats exposes populated bytes per block (M2 surface)") {
    val backing = tmpDir("pufs-backing8")
    val data = new Array[Byte](100 * 1024)
    Files.write(Paths.get(backing, "s.bin"), data)
    PufsFileSystem.simulateRestart()
    val fs = newFs(backing, tmpDir("pufs-cache8"), chunk = 8192)
    val in = fs.open(new Path("/s.bin"))
    in.readFully(0L, new Array[Byte](10), 0, 10)
    val stats = PufsFileSystem.blockStats
    assert(stats.nonEmpty)
    val (_, pop, rc) = stats.maxBy(_._2)
    assert(pop == 8192 && rc == 1, s"expected one 8KiB region, got $stats")
    in.close(); fs.close()
  }

  test("background readahead populates ahead of the request and self-cancels") {
    val backing = tmpDir("pufs-backing9")
    val data = new Array[Byte](256 * 1024)
    new scala.util.Random(5).nextBytes(data)
    Files.write(Paths.get(backing, "ra.bin"), data)
    PufsFileSystem.simulateRestart()
    val fs = newFs(backing, tmpDir("pufs-cache9"), chunk = 8192, ra = 64 * 1024)
    val in = fs.open(new Path("/ra.bin"))
    val buf = new Array[Byte](100)
    in.readFully(0L, buf, 0, 100) // sync: first 8 KiB chunk only
    // poll: background window should extend population to ~8KiB+64KiB
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (PufsFileSystem.bytesPulled.get() < 8192 + 64 * 1024 &&
           System.nanoTime() < deadline) Thread.sleep(20)
    val pulled = PufsFileSystem.bytesPulled.get()
    assert(pulled >= 8192 + 64 * 1024, s"readahead did not run: pulled=$pulled")
    assert(pulled < data.length, s"readahead overran its window: pulled=$pulled")
    // and the readahead bytes are genuinely populated (next read: no fetch)
    val before = PufsFileSystem.fetchCount.get()
    in.readFully(8192L + 1000, new Array[Byte](4000), 0, 4000)
    assert(PufsFileSystem.fetchCount.get() == before, "read within window re-fetched")
    in.close(); fs.close()
  }

  test("fetch stats report percentiles (B15 surface)") {
    val backing = tmpDir("pufs-backing10")
    Files.write(Paths.get(backing, "p.bin"), new Array[Byte](64 * 1024))
    PufsFileSystem.simulateRestart()
    val fs = newFs(backing, tmpDir("pufs-cache10"), chunk = 8192)
    val in = fs.open(new Path("/p.bin"))
    in.readFully(0L, new Array[Byte](40000), 0, 40000)
    in.close(); fs.close()
    assert(PufsFileSystem.latencySamples.count >= 5)
    val report = PufsFileSystem.statsReport
    assert(report.contains("fetches=") && report.contains("latency_us"), report)
    val Seq(p50, p90, p99) = PufsFileSystem.sizeSamples.percentiles(Seq(0.5, 0.9, 0.99))
    assert(p50 == 8192 && p99 == 8192, s"unexpected size percentiles $p50/$p90/$p99")
  }

  test("write-once: create stages + freezes to CAS; append refused") {
    val backing = tmpDir("pufs-backing4")
    val cache = tmpDir("pufs-cache4")
    val fs = newFs(backing, cache)
    val out = fs.create(new Path("/out/hello.txt"))
    out.write("hello pufs".getBytes("UTF-8"))
    out.close()
    assert(new String(Files.readAllBytes(Paths.get(backing, "out/hello.txt"))) == "hello pufs")
    val sha = PufsFileSystem.sha256Bytes("hello pufs".getBytes("UTF-8"))
    assert(new File(new File(cache, "chunks"), sha).exists(), "content not frozen to CAS")
    intercept[UnsupportedOperationException] {
      fs.append(new Path("/out/hello.txt"))
    }
    fs.close()
  }

  test("delete-recreate with identical size+mtime serves fresh bytes (generation)") {
    val backing = tmpDir("pufs-gen")
    val fs = newFs(backing, tmpDir("pufs-gen-cache"))
    val mt = 1700000000000L
    Files.write(Paths.get(backing, "g.bin"), "0123456789".getBytes)
    new File(backing, "g.bin").setLastModified(mt)
    val b1 = new Array[Byte](10)
    val in1 = fs.open(new Path("/g.bin"))
    in1.readFully(0L, b1, 0, 10); in1.close()
    assert(new String(b1) == "0123456789")
    // delete, then recreate with the SAME size and a forced-identical
    // mtime — the (path,size,mtime) identity collides; only the mutation
    // generation distinguishes the two objects (ADVICE r2)
    fs.delete(new Path("/g.bin"), false)
    Files.write(Paths.get(backing, "g.bin"), "abcdefghij".getBytes)
    new File(backing, "g.bin").setLastModified(mt)
    val b2 = new Array[Byte](10)
    val in2 = fs.open(new Path("/g.bin"))
    in2.readFully(0L, b2, 0, 10); in2.close()
    assert(new String(b2) == "abcdefghij",
      "stale cache served the deleted object's bytes")
    fs.close()
  }

  test("out-of-band backing mutation under an open reader is a torn read (B9)") {
    val backing = tmpDir("pufs-pin")
    val data = new Array[Byte](64 * 1024)
    new scala.util.Random(7).nextBytes(data)
    Files.write(Paths.get(backing, "obj.bin"), data)
    val fs = newFs(backing, tmpDir("pufs-pin-cache"), chunk = 8192)
    val in = fs.open(new Path("/obj.bin"))
    val head = new Array[Byte](1000)
    in.readFully(0L, head, 0, 1000) // populates chunk 0 only
    // replace the object OUT OF BAND (no pufs mutation → no generation
    // bump; different size so the open-time pin must trip)
    Files.write(Paths.get(backing, "obj.bin"), new Array[Byte](64 * 1024 + 1))
    // already-populated region still serves the pinned generation's bytes
    in.readFully(0L, head, 0, 1000)
    assert(java.util.Arrays.equals(head, java.util.Arrays.copyOfRange(data, 0, 1000)))
    // an uncached chunk must fail loudly, not mix two generations' bytes
    // (reference GCS GenerationMatch precondition, remote/gcs.go:302-331)
    val tail = new Array[Byte](100)
    val ex = intercept[Exception] { in.readFully(40000L, tail, 0, 100) }
    def isTorn(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[TornReadException] || isTorn(t.getCause))
    assert(isTorn(ex), s"expected TornReadException, got $ex")
    in.close(); fs.close()
  }

  test("authority routing: two backing dirs coexist in one session") {
    val dirA = tmpDir("pufs-authA")
    val dirB = tmpDir("pufs-authB")
    Files.write(Paths.get(dirA, "t.bin"), "AAAA".getBytes)
    Files.write(Paths.get(dirB, "t.bin"), "BBBB-longer".getBytes)
    val conf = new Configuration()
    conf.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    conf.set("fs.pufs.cache", tmpDir("pufs-auth-cache"))
    // no fs.pufs.backing in conf: the authority token alone must resolve
    val pa = PufsFileSystem.registerBacking("ta", dirA)
    val pb = PufsFileSystem.registerBacking("tb", dirB)
    val fsA = FileSystem.get(java.net.URI.create(pa + "/"), conf)
    val fsB = FileSystem.get(java.net.URI.create(pb + "/"), conf)
    def readAll(fs: FileSystem, n: Int): String = {
      val in = fs.open(new Path("/t.bin"))
      val buf = new Array[Byte](n)
      in.readFully(0L, buf, 0, n); in.close()
      new String(buf)
    }
    assert(readAll(fsA, 4) == "AAAA")
    assert(readAll(fsB, 11) == "BBBB-longer",
      "authority tb resolved against the wrong backing store")
    fsA.close(); fsB.close()
  }

  test("close() cancels in-flight readahead (request cancellation)") {
    // slow remote: each chunk fetch takes 30 ms, readahead window = 32
    // chunks; closing right after the first sync read must stop the
    // background walk long before the window is exhausted
    val data = new Array[Byte](512 * 1024)
    new scala.util.Random(13).nextBytes(data)
    val slow = new RemoteStore {
      private val inner = {
        val d = tmpDir("pufs-slow")
        Files.write(Paths.get(d, "s.bin"), data)
        new LocalStore(new File(d, "s.bin"))
      }
      def read(start: Long, len: Int): Array[Byte] = {
        Thread.sleep(30); inner.read(start, len)
      }
    }
    PufsFileSystem.simulateRestart()
    val entry = PufsFileSystem.cacheEntry(tmpDir("pufs-slow-cache"), "slow-block", data.length)
    val in = new LazyPullInputStream(entry, slow, data.length, 8192, 32 * 8192)
    in.readFully(0L, new Array[Byte](100), 0, 100)
    in.close() // cancel while the 32-chunk readahead window is mid-flight
    Thread.sleep(800) // give a cancelled walk time to (wrongly) continue
    val pulled = PufsFileSystem.bytesPulled.get()
    // sync chunk + at most a few chunks that were already past the check
    assert(pulled <= 5 * 8192,
      s"readahead kept running after close(): pulled $pulled bytes")
  }

  test("per-read cancel: closed or interrupted reader stops mid-range") {
    // the per-request half of cancellation (reference FUSE Interrupt →
    // pending-fetch cancel): a multi-chunk synchronous pull must observe
    // close()/interrupt BETWEEN chunks and abort, keeping what it pulled
    val data = new Array[Byte](64 * 8192)
    new scala.util.Random(17).nextBytes(data)
    val d = tmpDir("pufs-cancel")
    Files.write(Paths.get(d, "c.bin"), data)
    val store = new LocalStore(new File(d, "c.bin"))
    PufsFileSystem.simulateRestart()
    val entry = PufsFileSystem.cacheEntry(tmpDir("pufs-cancel-cache"),
      "cancel-block", data.length)
    val in = new LazyPullInputStream(entry, store, data.length, 8192, 0)
    // pull one chunk normally, then close: the next multi-chunk read must
    // abort with InterruptedIOException without fetching anything new
    in.readFully(0L, new Array[Byte](100), 0, 100)
    val before = PufsFileSystem.bytesPulled.get()
    in.close()
    intercept[java.io.InterruptedIOException] {
      in.readFully(8192L, new Array[Byte](8 * 8192), 0, 8 * 8192)
    }
    assert(PufsFileSystem.bytesPulled.get() == before,
      "closed stream kept pulling chunks")
    // interrupt flag on the reader thread cancels too (Spark task kill)
    val in2 = new LazyPullInputStream(entry, store, data.length, 8192, 0)
    Thread.currentThread().interrupt()
    try intercept[java.io.InterruptedIOException] {
      in2.readFully(16 * 8192L, new Array[Byte](8 * 8192), 0, 8 * 8192)
    } finally { Thread.interrupted(); () } // clear the flag for the suite
    assert(PufsFileSystem.bytesPulled.get() == before,
      "interrupted reader kept pulling chunks")
    // cancellation never loses committed work: the first chunk reads back
    // from cache with no new fetch
    val ok = new Array[Byte](100)
    in2.readFully(0L, ok, 0, 100)
    assert(ok.sameElements(data.take(100)))
    in2.close()
  }

  test("transfer stats: live rate ring and active-transfer count (B15)") {
    val backing = tmpDir("pufs-rate")
    Files.write(Paths.get(backing, "r.bin"), new Array[Byte](256 * 1024))
    PufsFileSystem.simulateRestart()
    val fs = newFs(backing, tmpDir("pufs-rate-cache"), chunk = 8192)
    val in = fs.open(new Path("/r.bin"))
    in.readFully(0L, new Array[Byte](100000), 0, 100000)
    in.close(); fs.close()
    val rate = PufsFileSystem.transferRing.rate(5L * 1000 * 1000 * 1000, System.nanoTime())
    assert(rate > 0, "trailing-window transfer rate is zero after pulls")
    assert(PufsFileSystem.activeTransfers.get() == 0, "transfers leaked the active counter")
    val report = PufsFileSystem.statsReport
    assert(report.contains("active=0") && report.contains("rate_5s="), report)
  }

  test("PufsMetricsListener attributes cache pulls to completed stages (B15)") {
    val backing = tmpDir("pufs-metrics")
    graft.Tables.t(spark, sfDir, "nation")
      .write.mode("overwrite").parquet(s"$backing/nation.parquet")
    val listener = new PufsMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val token = PufsFileSystem.registerBacking("metrx", backing)
      // fresh cache root so the read actually pulls
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
      hc.set("fs.pufs.cache", tmpDir("pufs-metrics-cache"))
      val n = spark.read.parquet(s"$token/nation.parquet").count()
      assert(n > 0)
      // the listener bus is async — poll briefly for the stage snapshot
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!listener.snapshots.exists(_.bytesPulled > 0) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val hot = listener.snapshots.filter(_.bytesPulled > 0)
      assert(hot.nonEmpty, s"no stage attributed any pulls: ${listener.snapshots}")
      val df = listener.asDataFrame(spark)
      assert(df.columns.toSeq ==
        Seq("stageId", "bytesPulled", "fetches", "activeTransfers"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // --- HTTP remote connector (B10 analog: Range GET + If-Match + retry) ---

  /** In-process HTTP object server: Range + If-Match semantics, injectable
    * ETag flips and transient failures; `ignoreRange` answers every GET
    * with the whole object as a 200, like a server without Range support. */
  private class ObjServer(data: Array[Byte], ignoreRange: Boolean = false) {
    @volatile var etag: String = "\"v1\""
    val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/obj", { (ex: com.sun.net.httpserver.HttpExchange) =>
      try {
        if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          ex.sendResponseHeaders(500, -1)
        } else {
          val ifMatch = ex.getRequestHeaders.getFirst("If-Match")
          if (ifMatch != null && ifMatch != etag) {
            ex.sendResponseHeaders(412, -1)
          } else {
            val range =
              if (ignoreRange) None
              else Option(ex.getRequestHeaders.getFirst("Range"))
            val (s, e) = range match {
              case Some(r) =>
                val Array(a, b) = r.stripPrefix("bytes=").split("-")
                (a.toLong, math.min(b.toLong, data.length - 1L))
              case None => (0L, data.length - 1L)
            }
            val slice = java.util.Arrays.copyOfRange(data, s.toInt, e.toInt + 1)
            ex.getResponseHeaders.set("ETag", etag)
            ex.sendResponseHeaders(if (ignoreRange) 200 else 206, slice.length)
            ex.getResponseBody.write(slice)
          }
        }
      } finally ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/obj"
    def stop(): Unit = server.stop(0)
  }

  test("HTTP remote: lazy pulls over Range GET match ground truth") {
    val data = new Array[Byte](300 * 1024)
    new scala.util.Random(17).nextBytes(data)
    val srv = new ObjServer(data)
    try {
      val cache = tmpDir("pufs-http-cache")
      val store = new HttpStore(srv.url, Some("\"v1\""))
      val entry = PufsFileSystem.cacheEntry(cache, "http-diff-block", data.length)
      val in = new LazyPullInputStream(entry, store, data.length, 8192, 0)
      val rnd = new scala.util.Random(99)
      (1 to 60).foreach { i =>
        val len = math.max(1, math.exp(rnd.nextDouble() * math.log(32 * 1024)).toInt)
        val off = rnd.nextInt(data.length)
        val n = math.min(len, data.length - off)
        val buf = new Array[Byte](n)
        in.readFully(off.toLong, buf, 0, n)
        assert(java.util.Arrays.equals(buf,
          java.util.Arrays.copyOfRange(data, off, off + n)),
          s"HTTP differential mismatch at read $i off=$off len=$n")
      }
    } finally srv.stop()
  }

  test("addRemoteUrl links an HTTP object into the tree; reads are lazy (M9/M10)") {
    val data = new Array[Byte](200 * 1024)
    new scala.util.Random(41).nextBytes(data)
    val srv = new ObjServer(data)
    try {
      val backing = tmpDir("pufs-link")
      val fs = newFs(backing, tmpDir("pufs-link-cache"), chunk = 8192)
        .asInstanceOf[PufsFileSystem]
      fs.addRemoteUrl(new Path("/ext/obj.bin"), srv.url, "\"v1\"", data.length)
      // stat + listing surface the linked object under its target name
      val st = fs.getFileStatus(new Path("/ext/obj.bin"))
      assert(!st.isDirectory && st.getLen == data.length)
      val names = fs.listStatus(new Path("/ext")).map(_.getPath.getName).toSeq
      assert(names == Seq("obj.bin"), names.toString)
      // ranged read through the lazy cache: bytes match, pull < object size
      val pulled0 = PufsFileSystem.bytesPulled.get()
      val in = fs.open(new Path("/ext/obj.bin"))
      val buf = new Array[Byte](5000)
      in.readFully(100000L, buf, 0, 5000)
      in.close()
      assert(java.util.Arrays.equals(buf,
        java.util.Arrays.copyOfRange(data, 100000, 105000)))
      val pulled = PufsFileSystem.bytesPulled.get() - pulled0
      assert(pulled > 0 && pulled < data.length,
        s"linked read pulled $pulled of ${data.length} bytes — not lazy")
      // unlink (M6 over a remote node), then the path is gone
      assert(fs.delete(new Path("/ext/obj.bin"), false))
      intercept[java.io.FileNotFoundException] {
        fs.getFileStatus(new Path("/ext/obj.bin"))
      }
      fs.close()
    } finally srv.stop()
  }

  test("HTTP remote: transient failures retry within the <=10 budget") {
    val data = new Array[Byte](64 * 1024)
    new scala.util.Random(23).nextBytes(data)
    val srv = new ObjServer(data)
    try {
      srv.failNext.set(3) // three 500s, then healthy
      val store = new HttpStore(srv.url, Some("\"v1\""))
      val got = store.read(1000, 500)
      assert(java.util.Arrays.equals(got,
        java.util.Arrays.copyOfRange(data, 1000, 1500)))
      // a permanently failing object exhausts the budget with an IOException
      srv.failNext.set(1000)
      val t0 = intercept[java.io.IOException] {
        new HttpStore(srv.url, Some("\"v1\""), maxRetries = 2).read(0, 10)
      }
      assert(t0.getMessage.contains("after 2 retries"), t0.getMessage)
    } finally srv.stop()
  }

  test("HTTP remote: an endpoint that ignores Range is an error, not silent wrong bytes") {
    // a 200 body always starts at offset 0; reading it as if it were the
    // requested range would hand back the wrong region of the object
    val data = (0 until 4096).map(_.toByte).toArray
    val srv = new ObjServer(data, ignoreRange = true)
    try {
      val store = new HttpStore(srv.url, Some("\"v1\""))
      val ex = intercept[java.net.ProtocolException] { store.read(100, 64) }
      assert(ex.getMessage.contains("did not honor Range"))
      // start == 0 with a full-object 200 is still a correct read
      assert(store.read(0, 64).sameElements(data.take(64)))
    } finally srv.stop()
  }

  test("HTTP remote: ETag flip under an open reader is a detected torn read") {
    val data = new Array[Byte](128 * 1024)
    new scala.util.Random(29).nextBytes(data)
    val srv = new ObjServer(data)
    try {
      val cache = tmpDir("pufs-http-cache2")
      val store = new HttpStore(srv.url, Some("\"v1\"")) // pinned at open
      val entry = PufsFileSystem.cacheEntry(cache, "http-torn-block", data.length)
      val in = new LazyPullInputStream(entry, store, data.length, 8192, 0)
      in.readFully(0L, new Array[Byte](100), 0, 100) // healthy pull
      srv.etag = "\"v2\"" // object replaced behind the reader
      // already-cached region still serves (snapshot semantics)...
      in.readFully(50L, new Array[Byte](10), 0, 10)
      // ...but pulling an unpopulated region MUST fail loudly, not mix bytes
      intercept[TornReadException] {
        in.readFully(64 * 1024L, new Array[Byte](100), 0, 100)
      }
    } finally srv.stop()
  }

  test("Spark reads parquet through pufs:// and pruning cuts bytes pulled") {
    val backing = tmpDir("pufs-backing5")
    Files.copy(Paths.get("/root/testdata/sf0.01/lineitem.parquet"),
      Paths.get(backing, "lineitem.parquet"))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing", backing)
    hc.set("fs.pufs.cache", tmpDir("pufs-cache5"))
    hc.setLong("fs.pufs.chunk.size", 64 * 1024)
    hc.setLong("fs.pufs.readahead", 0)
    val direct = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    PufsFileSystem.resetStats()
    val viaPufs = spark.read.parquet("pufs:///lineitem.parquet")
    val pruned = viaPufs.select("l_orderkey").count()
    val prunedBytes = PufsFileSystem.bytesPulled.get()
    assert(pruned == direct.count())
    val fileSize = new File(backing, "lineitem.parquet").length()
    assert(prunedBytes < fileSize,
      s"single-column read pulled $prunedBytes of $fileSize — pruning not reaching IO")
    // full-width read agrees row-for-row with the direct read
    val a = viaPufs.orderBy("l_orderkey", "l_linenumber").collect()
    val b = direct.orderBy("l_orderkey", "l_linenumber").collect()
    assert(a.sameElements(b))
  }

  test("Parquet vectored IO drives readVectored through pufs://") {
    val backing = tmpDir("pufs-backing-vio")
    Files.copy(Paths.get("/root/testdata/sf0.01/lineitem.parquet"),
      Paths.get(backing, "lineitem.parquet"))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing", backing)
    hc.set("fs.pufs.cache", tmpDir("pufs-cache-vio"))
    hc.setLong("fs.pufs.chunk.size", 64 * 1024)
    hc.setLong("fs.pufs.readahead", 0)
    // parquet-hadoop's scatter-gather path (column chunks batched into one
    // readVectored call per row group) — prove the reader actually drives
    // our implementation, not the sequential fallback
    hc.setBoolean("parquet.hadoop.vectored.io.enabled", true)
    try {
      PufsFileSystem.resetStats()
      val viaPufs = spark.read.parquet("pufs:///lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val direct = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      assert(viaPufs.orderBy("l_orderkey", "l_quantity").collect()
        .sameElements(direct.orderBy("l_orderkey", "l_quantity").collect()))
      assert(PufsFileSystem.vectoredRanges.get() > 0,
        "parquet read did not reach readVectored — sequential fallback used")
    } finally hc.unset("parquet.hadoop.vectored.io.enabled")
  }

  test("directory rename/delete bumps every DESCENDANT file's generation") {
    // the staleness trap: replace /tbl wholesale with same-size same-mtime
    // files (rename preserves mtime) — if only the DIRECTORY path's
    // generation moves, each file's synthetic block id is unchanged and a
    // reader is served the old file's cached chunks
    val backing = tmpDir("pufs-genb")
    Files.createDirectories(Paths.get(backing, "tbl"))
    Files.write(Paths.get(backing, "tbl/f.bin"), "v1".getBytes)
    val fs = newFs(backing, tmpDir("pufs-genc"))
    try {
      val g0 = PufsFileSystem.generationOf(backing, "tbl/f.bin")
      assert(fs.rename(new org.apache.hadoop.fs.Path("/tbl"),
        new org.apache.hadoop.fs.Path("/bak")))
      assert(PufsFileSystem.generationOf(backing, "tbl/f.bin") > g0,
        "rename-away did not bump the descendant's generation")
      val gBak = PufsFileSystem.generationOf(backing, "bak/f.bin")
      assert(fs.rename(new org.apache.hadoop.fs.Path("/bak"),
        new org.apache.hadoop.fs.Path("/tbl")))
      assert(PufsFileSystem.generationOf(backing, "bak/f.bin") > gBak)
      // recursive delete bumps descendants too
      val gDel = PufsFileSystem.generationOf(backing, "tbl/f.bin")
      assert(fs.delete(new org.apache.hadoop.fs.Path("/tbl"), true))
      assert(PufsFileSystem.generationOf(backing, "tbl/f.bin") > gDel,
        "recursive delete did not bump the descendant's generation")
    } finally fs.close()
  }
}
