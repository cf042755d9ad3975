package graft.sources

import java.io.{File, IOException, RandomAccessFile}
import java.net.{HttpURLConnection, ProtocolException, URI}

/** The "remote" seam of the lazy FileSystem — a ranged read against a
  * backing object store (reference remote/gcs.go:302-331 NewRangeReader,
  * remote/http.go:22-51 URLRef.Copy). `pufs://` pulls chunks exclusively
  * through this interface, so swapping local-dir ⇄ HTTP ⇄ (a real bucket
  * client) changes nothing above it. */
trait RemoteStore {
  /** Read exactly `len` bytes at `start`. Must throw on failure — the
    * caller treats a short read as corruption. */
  def read(start: Long, len: Int): Array[Byte]
}

/** Local-directory object store (zero-egress stand-in for a bucket). */
final class LocalStore(src: File) extends RemoteStore {
  def read(start: Long, len: Int): Array[Byte] = {
    val raf = new RandomAccessFile(src, "r")
    try {
      raf.seek(start)
      val buf = new Array[Byte](len)
      raf.readFully(buf)
      buf
    } finally raf.close()
  }
}

/** Local store with a generation pin captured at open: every ranged read
  * verifies — before AND after reading, bracketing the non-atomic local
  * read the way GCS's server-side precondition brackets a range GET — that
  * the backing file still has the pinned (size, mtime). The local analog
  * of generation-match range reads (reference remote/gcs.go:302-331
  * `Generation: r.Generation` precondition): an object replaced under an
  * open reader fails with TornReadException instead of silently serving
  * bytes from a different object generation. */
final class PinnedLocalStore(src: File, pinSize: Long, pinMtime: Long)
    extends RemoteStore {
  private def check(): Unit =
    if (src.length() != pinSize || src.lastModified() != pinMtime)
      throw new TornReadException(
        s"$src changed under an open reader (pinned $pinSize:$pinMtime, " +
          s"now ${src.length()}:${src.lastModified()})")
  def read(start: Long, len: Int): Array[Byte] = {
    check()
    val raf = new RandomAccessFile(src, "r")
    val buf = try {
      raf.seek(start)
      val b = new Array[Byte](len)
      raf.readFully(b)
      b
    } finally raf.close()
    check()
    buf
  }
}

/** The backing object changed identity mid-read — the torn-read guard
  * (reference GCS generation-match precondition remote/gcs.go:305-307;
  * HTTP If-Match remote/http.go:24). Not retryable: the snapshot this
  * reader was opened against no longer exists. */
final class TornReadException(msg: String) extends IOException(msg)

/** The ranged-GET protocol shared by the HTTP-family stores (HttpStore,
  * GcsStore, S3Store): a bounded retry budget with linear backoff for
  * transient IO (reference retry ≤10, core/freezer.go:566-600), the
  * ignored-Range guard, read-fully, and 412 → TornReadException. Torn
  * reads and protocol violations never retry: the pinned object is gone,
  * and replaying a protocol violation returns the same wrong answer.
  * Each store supplies only its connection opener, which applies the
  * Range header and the store's pin. */
private[sources] object RangedGet {

  /** Read exactly `len` bytes at `start`. `kind` and `obj` name the store
    * and object in messages, `pin` the precondition a 412 broke. `open`
    * gets the Range header value; `onFail` sees every other failing
    * status code before it becomes a (retried) IOException. */
  def read(kind: String, obj: String, pin: String, start: Long, len: Int,
      maxRetries: Int, onFail: Int => Unit = _ => ())(
      open: String => HttpURLConnection): Array[Byte] = {
    val range = s"bytes=$start-${start + len - 1}"
    var attempt = 0
    while (true) {
      attempt += 1
      try return once(kind, obj, pin, start, len, open(range), onFail)
      catch {
        case t: TornReadException => throw t
        case t: ProtocolException => throw t
        case _: IOException if attempt <= maxRetries =>
          Thread.sleep(math.min(200L * attempt, 1000L))
        case t: IOException =>
          throw new IOException(s"$kind range GET failed after $maxRetries retries", t)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def once(kind: String, obj: String, pin: String, start: Long,
      len: Int, conn: HttpURLConnection, onFail: Int => Unit): Array[Byte] =
    try {
      conn.getResponseCode match {
        case 200 if start > 0 ||
            { val cl = conn.getContentLengthLong; cl >= 0 && cl < len } =>
          // The endpoint ignored the Range header: a 200 body starts at
          // offset 0, so serving it as [start, start+len) would silently
          // return the wrong region. Content-Length -1 (chunked) at
          // start == 0 is still a correct full-body read — a short object
          // hits the short-read guard below.
          throw new ProtocolException(
            s"$kind endpoint did not honor Range bytes=$start-${start + len - 1} " +
              s"for $obj (got 200 with length ${conn.getContentLengthLong})")
        case 206 | 200 =>
          val in = conn.getInputStream
          try {
            val buf = new Array[Byte](len)
            var off = 0
            while (off < len) {
              val n = in.read(buf, off, len - off)
              if (n < 0) throw new IOException(
                s"short $kind ranged read: got $off of $len at $start")
              off += n
            }
            buf
          } finally in.close()
        case 412 =>
          throw new TornReadException(
            s"$obj $pin mismatch — object replaced under an open reader")
        case code =>
          onFail(code)
          throw new IOException(s"$kind range GET $obj returned $code")
      }
    } finally conn.disconnect()
}

/** HTTP(S) remote with Range GET + If-Match ETag pinning + a bounded retry
  * budget (reference remote/http.go:22-51; the protocol is [[RangedGet]]).
  *
  * The ETag is captured once at open (the snapshot pin); every ranged read
  * sends `If-Match`, so a concurrently-replaced object answers 412 and the
  * read fails with TornReadException instead of silently mixing bytes from
  * two object generations. */
final class HttpStore(url: String, etag: Option[String], maxRetries: Int = 10)
    extends RemoteStore {

  def read(start: Long, len: Int): Array[Byte] =
    RangedGet.read("HTTP", url, "ETag", start, len, maxRetries) { range =>
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Range", range)
      etag.foreach(e => conn.setRequestProperty("If-Match", e))
      conn
    }
}

object HttpStore {
  /** HEAD the object for (size, etag) — the attribute probe done when a
    * remote URL is linked (reference remote/http.go:61-72 GetAttrs). */
  def head(url: String): (Long, Option[String]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("HEAD")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(10000)
      val code = conn.getResponseCode
      if (code != 200) throw new IOException(s"HEAD $url returned $code")
      (conn.getContentLengthLong, Option(conn.getHeaderField("ETag")))
    } finally conn.disconnect()
  }
}
