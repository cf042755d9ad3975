package graft.operators

/** Read-side retry for files a concurrent writer replaces. A model
  * directory rebuilt while a lock-free reader fingerprints it
  * (ServeModelCache) can lose a listed file before the reader opens it;
  * waiting out that window keeps the readers lock-free instead of
  * dragging them through the append lock. */
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
