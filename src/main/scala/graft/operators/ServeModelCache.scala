package graft.operators

/** Per-JVM cache of the state a serving path derives from a standing
  * index and would otherwise re-derive per call: collected model tables
  * (PQ codebooks, IVF coarse centroids), DedupIndex's shard blooms and
  * DecontamIndex's bloom (as Broadcasts), AnnIndex's driver-resident flat
  * arm, JaccardIndex's driver-resident postings. The serving process
  * keeps the bounded model resident — the standard ANN serving
  * contract — instead of re-reading and
  * re-collecting it on every probe batch (measured r19: each re-read +
  * collect/count was a separate driver-blocking job, and the model jobs
  * were ~half the per-batch serve latency at bench scale).
  *
  * An index commits by generation ([[IndexGenerations]]), so an entry
  * ([[committed]]) is keyed by a directory and checked against an
  * identity the caller has already read from the manifest — its
  * generation's files, or the model's — with no listing and no hashing,
  * because a committed generation's files never change and a rebuild
  * writes files of new names. That is the puFS key discipline: a cached
  * block's identity is its source and generation, never a hash of its
  * bytes (PAPER.md §1.1). A generation-0 directory (no log) has no
  * immutable identity and loads on each call ([[resident]]).
  *
  * The cache is LRU-bounded at [[MaxEntries]] so a long-lived serving
  * process touching many index dirs does not accumulate one resident
  * model per dir forever (ADVICE r19). A Broadcast value is unpersisted
  * when its entry is replaced or evicted (see [[release]]). */
private[graft] object ServeModelCache {

  private val MaxEntries = 32

  // access-ordered: iteration starts at the least recently used entry
  private val cache = new java.util.LinkedHashMap[String, (String, AnyRef)](
    16, 0.75f, true)

  /** Cached `load` for a directory whose state is committed: keyed by
    * `dir` and checked against `identity` (a Broadcast's caller includes
    * the application id: a handle dies with its context). One entry per
    * dir: a new identity replaces and releases the old entry. `keep` can
    * reject a hit whose value no longer suits the caller (AnnIndex keeps
    * an over-bound verdict only while the bound still excludes it). The
    * benign race — two threads loading the same dir — both reach the
    * same value; last put wins. */
  def committed[T <: AnyRef](dir: String, identity: String)(keep: T => Boolean)
      (load: => T): T = {
    val key = s"manifest:$dir"
    val hit = cache.synchronized(cache.get(key))
    if (hit != null && hit._1 == identity && keep(hit._2.asInstanceOf[T]))
      hit._2.asInstanceOf[T]
    else {
      val v = load
      val dropped = cache.synchronized {
        val replaced = Option(cache.put(key, (identity, v))).toList
        val evicted = List.newBuilder[(String, AnyRef)]
        val lru = cache.values().iterator()
        while (cache.size() > MaxEntries) { evicted += lru.next(); lru.remove() }
        replaced ++ evicted.result()
      }
      dropped.foreach(d => release(d._2))
      v
    }
  }

  /** What [[committed]] holds for `dir` under `identity`, if anything;
    * nothing is loaded. An appender that holds the replaced generation's
    * state derives the new one's from it (JaccardIndex's write-through). */
  def held[T <: AnyRef](dir: String, identity: String): Option[T] =
    Option(cache.synchronized(cache.get(s"manifest:$dir")))
      .collect { case (`identity`, v) => v.asInstanceOf[T] }

  /** [[committed]] when the caller's generation has an `identity`; a
    * generation 0 (None) loads on each call. */
  def resident[T <: AnyRef](dir: String, identity: Option[String])(load: => T): T =
    identity.fold(load)(committed(dir, _)((_: T) => true)(load))

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
