package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-JVM cache of COLLECTED broadcast-sized index MODEL tables (PQ
  * codebooks, IVF coarse centroids) for the serving paths: the serving
  * process keeps the k·d-bounded model resident — the standard ANN
  * serving contract — instead of re-reading and re-collecting the same
  * parquet model on every probe batch (measured r19: each re-read +
  * collect/count was a separate driver-blocking job, and the model jobs
  * were ~half the per-batch serve latency at bench scale).
  *
  * Correctness does NOT lean on the write-once convention: entries are
  * keyed by directory and guarded by a CONTENT fingerprint — an MD5 over
  * every model file's bytes (plus names/lengths) — so a rebuild, even by
  * another process, even one producing same-named same-length files
  * within the filesystem's mtime granularity (the r19 signature's blind
  * spot, VERDICT r19 #3), invalidates the entry on the next serve.
  * Hashing is affordable precisely because only k·d-bounded model state
  * ever lands here; corpus-sized tables (cells/ codes/ vectors/) are
  * read from parquet on every serve. Files past [[HashMaxBytes]] fall
  * back to name:length:mtime (a model dir should never contain one; the
  * guard keeps a misuse from turning every serve into a bulk re-read).
  *
  * An index that commits by generation ([[IndexGenerations]]) needs no
  * fingerprint: its entries ([[committed]]) are keyed by the index
  * directory and checked against the identity of the manifest the
  * caller read — the puFS key discipline (a block's cache identity
  * includes its generation, PAPER.md §1.1). That is what lets AnnIndex
  * keep a whole small generation resident, corpus tables included, and
  * DedupIndex its shard blooms.
  *
  * The cache is LRU-bounded at [[MaxEntries]] so a long-lived serving
  * process touching many index dirs does not accumulate one resident
  * model per dir forever (ADVICE r19). A Broadcast value is unpersisted
  * when its entry is replaced or evicted (see [[release]]). */
private[operators] object ServeModelCache {

  private val MaxEntries = 32
  private val HashMaxBytes = 8L << 20

  // access-ordered: iteration starts at the least recently used entry
  private val cache = new java.util.LinkedHashMap[String, (String, AnyRef)](
    16, 0.75f, true)

  /** In-flight publish files — the `shard-<i>.bin.tmp-<uuid>` a writer
    * from before DedupIndex's generation log stages in a generation-0
    * blooms/, DecontamIndex's `.bloom.bin.tmp-<uuid>` — are not model
    * state yet: fingerprinting them would flip the signature (and force
    * a reload) for every publish in progress. */
  private def isPublishTemp(name: String): Boolean = name.contains(".tmp-")

  /** Name:length:content-hash of every listed file. A listed file can
    * vanish before its open (a rebuild rewriting the directory), so the
    * open+hash gets FsRetry's bounded wait; a file still gone after it
    * is left out, as the next listing would. */
  private def signature(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filterNot(s => isPublishTemp(s.getPath.getName)).flatMap { s =>
      val tail =
        if (s.isDirectory) Some("dir")
        else if (s.getLen > HashMaxBytes) Some(s"mtime:${s.getModificationTime}")
        else FsRetry.retryFnf(md5Of(fs, s.getPath))
      tail.map(t => s"${s.getPath.getName}:${s.getLen}:$t")
    }.sorted.mkString(",")
  }

  private def md5Of(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Cached `load` keyed by `dir`, revalidated against the dir's content
    * fingerprint on every call (one local listStatus + re-read of the
    * small model files, no Spark job). The benign race — two threads
    * loading the same dir — both reach the same value; last put wins. */
  def cached[T <: AnyRef](spark: SparkSession, dir: String)(load: => T): T =
    cachedKeyed(spark, dir, "")(load)

  /** As [[cached]], with an extra key component for values whose
    * validity is narrower than the dir's content — e.g. a Broadcast
    * handle dies with its SparkContext, so callers caching one pass the
    * applicationId and a context restart misses cleanly (the dead
    * entry LRU-evicts). */
  def cachedKeyed[T <: AnyRef](spark: SparkSession, dir: String,
      extraKey: String)(load: => T): T =
    lookup(if (extraKey.isEmpty) dir else s"$extraKey:$dir",
      signature(spark, dir), (_: T) => true)(load)

  /** Cached `load` for an index directory whose state is a committed
    * generation: keyed by `dir` and checked against the manifest's
    * `identity` (its number and file list), which the caller has already
    * read — no listing, no hashing, because a committed generation's
    * files never change. The identity, not the number alone: a rebuild
    * clears the log and commits generation 1 again. One entry per dir: a
    * newer manifest replaces and releases the old entry. `keep` can
    * reject a hit whose value no longer suits the caller (AnnIndex keeps
    * an over-bound verdict only while the bound still excludes it). */
  def committed[T <: AnyRef](dir: String, identity: String)(keep: T => Boolean)
      (load: => T): T =
    lookup(s"manifest:$dir", identity, keep)(load)

  private def lookup[T <: AnyRef](key: String, sig: String, keep: T => Boolean)
      (load: => T): T = {
    val hit = cache.synchronized(cache.get(key))
    if (hit != null && hit._1 == sig && keep(hit._2.asInstanceOf[T]))
      hit._2.asInstanceOf[T]
    else {
      val v = load
      val dropped = cache.synchronized {
        val replaced = Option(cache.put(key, (sig, v))).toList
        val evicted = List.newBuilder[(String, AnyRef)]
        val lru = cache.values().iterator()
        while (cache.size() > MaxEntries) { evicted += lru.next(); lru.remove() }
        replaced ++ evicted.result()
      }
      dropped.foreach(d => release(d._2))
      v
    }
  }

  /** Frees what the cache no longer holds. A Broadcast is unpersisted,
    * not destroyed: its executor copies go now instead of after the next
    * driver GC, while a query still running on it re-fetches from the
    * driver's copy, which ContextCleaner frees once nothing references
    * the handle. (A dead context's handle only drops executor copies of
    * whatever live broadcast reuses its id — they re-fetch too.) */
  private def release(value: AnyRef): Unit = value match {
    case b: org.apache.spark.broadcast.Broadcast[_] => b.unpersist(blocking = false)
    case _ => ()
  }

  /** Test hook: drop everything (e.g. after deleting temp dirs). */
  private[graft] def clear(): Unit = cache.synchronized(cache.clear())
}
