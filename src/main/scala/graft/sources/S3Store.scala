package graft.sources

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** AWS Signature Version 4 request signing — the auth layer of the
  * S3-compatible object-store protocol, implemented from the public
  * specification (the "Signing AWS API requests" SigV4 algorithm:
  * canonical request → string-to-sign → derived signing key → HMAC).
  * A pure function of (request, credentials, timestamp), so it is
  * deterministic and fully unit-testable offline; intermediates are
  * exposed for the spec tests and for server-side verification (the
  * fake S3 in S3StoreSpec re-derives the signature from the RAW wire
  * request exactly like the real service does). */
object SigV4 {

  case class Credentials(accessKey: String, secretKey: String)

  private val Algo = "AWS4-HMAC-SHA256"

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString
  def sha256Hex(s: String): String = sha256Hex(s.getBytes(UTF_8))
  val EmptySha: String = sha256Hex(Array.emptyByteArray)

  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data.getBytes(UTF_8))
  }

  /** RFC 3986 strict encoding (unreserved chars only), '/' kept when
    * encoding a path — the spec's UriEncode(). */
  def uriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new StringBuilder
    s.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' ||
          c == '~' || (keepSlash && c == '/')) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Canonical request per the spec: METHOD, encoded path, sorted encoded
    * query, sorted lowercase `name:trimmed-value` headers, signed-header
    * list, payload hash. */
  def canonicalRequest(method: String, path: String,
      query: Seq[(String, String)], headers: Seq[(String, String)],
      payloadSha: String): (String, String) = {
    val canonQuery = query
      .map { case (k, v) => (uriEncode(k, keepSlash = false),
        uriEncode(v, keepSlash = false)) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    val lower = headers.map { case (k, v) => (k.toLowerCase, v.trim) }.sortBy(_._1)
    val canonHeaders = lower.map { case (k, v) => s"$k:$v\n" }.mkString
    val signedHeaders = lower.map(_._1).mkString(";")
    val cr = Seq(method, uriEncode(path, keepSlash = true), canonQuery,
      canonHeaders, signedHeaders, payloadSha).mkString("\n")
    (cr, signedHeaders)
  }

  /** Authorization header value for the request. `amzDate` is the
    * `yyyyMMdd'T'HHmmss'Z'` timestamp also sent as x-amz-date (caller
    * includes it in `headers`). */
  def authorization(method: String, path: String,
      query: Seq[(String, String)], headers: Seq[(String, String)],
      payloadSha: String, region: String, service: String,
      creds: Credentials, amzDate: String): String = {
    val (cr, signedHeaders) =
      canonicalRequest(method, path, query, headers, payloadSha)
    val date = amzDate.take(8)
    val scope = s"$date/$region/$service/aws4_request"
    val sts = Seq(Algo, amzDate, scope, sha256Hex(cr)).mkString("\n")
    val kDate = hmac(("AWS4" + creds.secretKey).getBytes(UTF_8), date)
    val kRegion = hmac(kDate, region)
    val kService = hmac(kRegion, service)
    val kSigning = hmac(kService, "aws4_request")
    val sig = hmac(kSigning, sts).map("%02x".format(_)).mkString
    s"$Algo Credential=${creds.accessKey}/$scope, " +
      s"SignedHeaders=$signedHeaders, Signature=$sig"
  }

  def nowAmzDate(): String = {
    val f = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    f.format(java.time.Instant.now())
  }
}

/** S3-protocol object store over the same `RemoteStore` seam as
  * LocalStore/HttpStore — ranged GETs with the SAME pinning semantics the
  * reference gets from GCS generation-match reads (remote/gcs.go:302-331):
  * every read sends `If-Match` with the ETag captured at open, so an
  * object replaced mid-read answers 412 → TornReadException, never mixed
  * bytes. Conditional create (`If-None-Match: *`) gives the CAS
  * put-if-absent the publish protocol needs (reference gcs.go:179-197
  * DoesNotExist precondition). Path-style addressing
  * (`endpoint/bucket/key`) so any S3-compatible endpoint — a real
  * bucket, MinIO, or the in-process fake in S3StoreSpec — is just a
  * different `endpoint`. The sandbox has no egress, so integration runs
  * against the fake, which verifies SigV4 from the raw wire request the
  * way the real service does. */
final class S3Store(endpoint: String, bucket: String, key: String,
    region: String, creds: SigV4.Credentials, etag: Option[String],
    maxRetries: Int = 10) extends RemoteStore {

  def read(start: Long, len: Int): Array[Byte] =
    RangedGet.read("S3", s"s3://$bucket/$key", "ETag", start, len,
        maxRetries) { range =>
      // the Range and If-Match headers are signed, so they go in here
      S3Store.signedConnection("GET", endpoint, bucket, key, region, creds,
        SigV4.EmptySha, Seq("range" -> range) ++ etag.map("if-match" -> _))
    }
}

object S3Store {

  /** Open a connection with SigV4 headers applied. `extraHeaders` are
    * lowercase names; host/x-amz-date/x-amz-content-sha256 are always
    * signed (the minimal S3 signed set). */
  private[sources] def signedConnection(method: String, endpoint: String,
      bucket: String, key: String, region: String,
      creds: SigV4.Credentials, payloadSha: String,
      extraHeaders: Seq[(String, String)],
      queries: Seq[(String, String)] = Nil): HttpURLConnection = {
    val path = s"/$bucket/$key"
    // the wire URL carries the RFC 3986-encoded path (keys may hold
    // spaces etc.); the service decodes it before re-canonicalizing, so
    // signing the decoded `path` below stays correct. The wire query is
    // built exactly as canonicalized (sorted, encoded) so the signature
    // the service re-derives from the wire matches.
    val queryStr = queries
      .map { case (k, v) => (SigV4.uriEncode(k, keepSlash = false),
        SigV4.uriEncode(v, keepSlash = false)) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    val uri = URI.create(endpoint + SigV4.uriEncode(path, keepSlash = true) +
      (if (queryStr.isEmpty) "" else s"?$queryStr"))
    val hostHeader = uri.getHost +
      (if (uri.getPort > 0) s":${uri.getPort}" else "")
    val amzDate = SigV4.nowAmzDate()
    val signed = Seq("host" -> hostHeader, "x-amz-date" -> amzDate,
      "x-amz-content-sha256" -> payloadSha) ++ extraHeaders
    val auth = SigV4.authorization(method, path, queries, signed, payloadSha,
      region, "s3", creds, amzDate)
    val conn = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    // Host is set by the transport from the URI; send the rest
    (signed.filterNot(_._1 == "host") :+ ("Authorization" -> auth))
      .foreach { case (k, v) => conn.setRequestProperty(k, v) }
    conn
  }

  /** HEAD → (size, etag): the attribute probe done when linking. */
  def head(endpoint: String, bucket: String, key: String, region: String,
      creds: SigV4.Credentials): (Long, Option[String]) = {
    val conn = signedConnection("HEAD", endpoint, bucket, key, region,
      creds, SigV4.EmptySha, Nil)
    try {
      val code = conn.getResponseCode
      if (code != 200)
        throw new IOException(s"S3 HEAD s3://$bucket/$key returned $code")
      (conn.getContentLengthLong, Option(conn.getHeaderField("ETag")))
    } finally conn.disconnect()
  }

  /** Conditional create (`If-None-Match: *`): true if this call created
    * the object, false if it already existed — the CAS idempotent-put
    * the snapshot publish protocol requires. Any other failure throws. */
  def putIfAbsent(endpoint: String, bucket: String, key: String,
      region: String, creds: SigV4.Credentials,
      body: Array[Byte]): Boolean = {
    val conn = signedConnection("PUT", endpoint, bucket, key, region,
      creds, SigV4.sha256Hex(body), Seq("if-none-match" -> "*"))
    try {
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
      conn.getResponseCode match {
        case 200 | 201      => true
        case 412 | 409      => false // already exists — CAS idempotence
        case code =>
          throw new IOException(s"S3 PUT s3://$bucket/$key returned $code")
      }
    } finally conn.disconnect()
  }

  /** Unconditional upload — replace-on-write pointers (root/lease). */
  def put(endpoint: String, bucket: String, key: String, region: String,
      creds: SigV4.Credentials, body: Array[Byte]): Unit = {
    val conn = signedConnection("PUT", endpoint, bucket, key, region,
      creds, SigV4.sha256Hex(body), Nil)
    try {
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
      val code = conn.getResponseCode
      if (code != 200 && code != 201)
        throw new IOException(s"S3 PUT s3://$bucket/$key returned $code")
    } finally conn.disconnect()
  }

  /** Delete an object; idempotent (404 = already gone). */
  def delete(endpoint: String, bucket: String, key: String, region: String,
      creds: SigV4.Credentials): Unit = {
    val conn = signedConnection("DELETE", endpoint, bucket, key, region,
      creds, SigV4.EmptySha, Nil)
    try {
      val code = conn.getResponseCode
      if (code != 200 && code != 204 && code != 404)
        throw new IOException(s"S3 DELETE s3://$bucket/$key returned $code")
    } finally conn.disconnect()
  }

  /** Flat ListObjectsV2 under `prefix` (no delimiter): (key, size) pairs,
    * paginated via continuation tokens. The minimal XML parse covers the
    * fixed `<Key>`/`<Size>` shape; registry keys here are sha-hex and
    * fixed path segments, never XML-escaped characters. */
  def list(endpoint: String, bucket: String, prefix: String, region: String,
      creds: SigV4.Credentials): Seq[(String, Long)] = {
    val keyPat = "<Key>([^<]*)</Key>".r
    val sizePat = "<Size>([0-9]+)</Size>".r
    val tokPat = "<NextContinuationToken>([^<]*)</NextContinuationToken>".r
    val out = Seq.newBuilder[(String, Long)]
    var token: Option[String] = None
    var more = true
    while (more) {
      val q = Seq("list-type" -> "2", "prefix" -> prefix) ++
        token.map("continuation-token" -> _)
      val conn = signedConnection("GET", endpoint, bucket, "", region,
        creds, SigV4.EmptySha, Nil, q)
      val xml = try {
        if (conn.getResponseCode != 200)
          throw new IOException(
            s"S3 LIST s3://$bucket/$prefix returned ${conn.getResponseCode}")
        val in = conn.getInputStream
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } finally conn.disconnect()
      val keys = keyPat.findAllMatchIn(xml).map(_.group(1)).toSeq
      val sizes = sizePat.findAllMatchIn(xml).map(_.group(1).toLong).toSeq
      out ++= keys.zip(sizes)
      token = tokPat.findFirstMatchIn(xml).map(_.group(1))
      more = token.isDefined
    }
    out.result()
  }

  /** Download a whole small object (pointer reads); None if absent. */
  def get(endpoint: String, bucket: String, key: String, region: String,
      creds: SigV4.Credentials): Option[Array[Byte]] = {
    val conn = signedConnection("GET", endpoint, bucket, key, region,
      creds, SigV4.EmptySha, Nil)
    try {
      conn.getResponseCode match {
        case 200 =>
          val in = conn.getInputStream
          try Some(in.readAllBytes()) finally in.close()
        case 404 => None
        case code =>
          throw new IOException(s"S3 GET s3://$bucket/$key returned $code")
      }
    } finally conn.disconnect()
  }
}
