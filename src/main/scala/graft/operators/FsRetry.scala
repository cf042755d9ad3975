package graft.operators

/** Read-side retry for files a concurrent publish replaces. On filesystems
  * without FileContext, DedupIndex publishes a bloom by delete-then-rename,
  * so a lock-free reader can observe a sub-millisecond no-file window
  * between the delete and the rename. Waiting out that window keeps the
  * readers lock-free instead of dragging them through the append lock. */
private[operators] object FsRetry {

  private val Attempts = 5

  /** `body`, retried on FileNotFoundException up to [[Attempts]] times
    * with 20·n ms pauses; None if the file is still missing after that. */
  def retryFnf[T](body: => T): Option[T] = {
    var attempt = 0
    while (attempt < Attempts) {
      try return Some(body)
      catch {
        case _: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt < Attempts) Thread.sleep(20L * attempt)
      }
    }
    None
  }
}
