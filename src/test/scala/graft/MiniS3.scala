package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** In-process S3 REST emulator + a Hadoop FileSystem client speaking the
  * same wire protocol — protocol-level coverage of the object-store sink
  * (`bin/upload.py:14-22`) in an environment with no S3 endpoint and no
  * aws-sdk jars.
  *
  * [[MiniS3.Server]] implements the S3 API subset every S3 client
  * (including S3AFileSystem) drives: path-style PUT/GET/HEAD/DELETE
  * object, PUT with `x-amz-copy-source` (server-side copy), and GET
  * `?list-type=2` (ListObjectsV2 with prefix/delimiter/continuation
  * XML). [[S3RestFileSystem]] maps the Hadoop FileSystem contract onto
  * exactly those calls the way S3A does — directories are key prefixes
  * (plus zero-byte `dir/` markers), rename is copy+delete per object —
  * so a parquet product written through it exercises the committer's
  * create/rename/list/delete sequence over the S3 protocol end-to-end.
  */
object MiniS3 {

  final class Server {
    private val objects = new ConcurrentHashMap[String, Array[Byte]]()
    private val server = graft.sources.Loopback.httpServer()
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()

    def port: Int = server.getAddress.getPort
    def endpoint: String = s"http://127.0.0.1:$port"
    def stop(): Unit = server.stop(0)
    def keys: Set[String] = objects.keySet().asScala.toSet
    /** Requests seen, for asserting the protocol was actually spoken. */
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    private def xmlEscape(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    private def respond(ex: HttpExchange, status: Int, body: Array[Byte],
        headers: (String, String)*): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      // HEAD responses must advertise the real length but send no body
      if (ex.getRequestMethod == "HEAD") ex.sendResponseHeaders(status, -1)
      else if (body.isEmpty) ex.sendResponseHeaders(status, -1)
      else { ex.sendResponseHeaders(status, body.length); ex.getResponseBody.write(body) }
      ex.close()
    }

    private def handle(ex: HttpExchange): Unit = {
      val uri = ex.getRequestURI
      val key = uri.getPath.stripPrefix("/")
      val query = Option(uri.getQuery).getOrElse("")
      requests.add(s"${ex.getRequestMethod} ${uri.getPath}" +
        (if (query.nonEmpty) s"?$query" else ""))
      ex.getRequestMethod match {
        case "PUT" =>
          val copySrc = Option(ex.getRequestHeaders.getFirst("x-amz-copy-source"))
          copySrc match {
            case Some(src) =>
              val srcKey = src.stripPrefix("/")
              val data = objects.get(srcKey)
              if (data == null) respond(ex, 404, s3err("NoSuchKey", srcKey))
              else {
                objects.put(key, data)
                respond(ex, 200,
                  "<CopyObjectResult><ETag>\"0\"</ETag></CopyObjectResult>"
                    .getBytes(StandardCharsets.UTF_8))
              }
            case None =>
              objects.put(key, ex.getRequestBody.readAllBytes())
              respond(ex, 200, Array.emptyByteArray, "ETag" -> "\"0\"")
          }
        case "GET" if query.contains("list-type=2") =>
          // path-style ListObjectsV2: /<bucket>?list-type=2&prefix=…
          // Keys in the request AND the response are bucket-relative
          // (the real protocol); storage is "<bucket>/<key>".
          val bucketPrefix = key.stripSuffix("/") + "/"
          val params = query.split("&").filter(_.contains("="))
            .map { kv => val a = kv.split("=", 2)
              a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8") }.toMap
          val prefix = bucketPrefix + params.getOrElse("prefix", "")
          val delim = params.get("delimiter")
          val all = objects.keySet().asScala.filter(_.startsWith(prefix)).toSeq.sorted
          val (commons, contents) = delim match {
            case Some(d) =>
              val grouped = all.groupBy { k =>
                val rest = k.substring(prefix.length)
                val i = rest.indexOf(d)
                if (i >= 0) Some(prefix + rest.substring(0, i + d.length)) else None
              }
              (grouped.keys.flatten.toSeq.sorted,
                grouped.getOrElse(None, Seq.empty))
            case None => (Seq.empty, all)
          }
          val xml = new StringBuilder("<?xml version=\"1.0\"?><ListBucketResult>")
          xml ++= "<IsTruncated>false</IsTruncated>"
          contents.foreach { k =>
            xml ++= s"<Contents><Key>${xmlEscape(k.stripPrefix(bucketPrefix))}</Key>" +
              s"<Size>${objects.get(k).length}</Size>" +
              "<LastModified>2026-01-01T00:00:00.000Z</LastModified></Contents>"
          }
          commons.foreach { p =>
            xml ++= s"<CommonPrefixes><Prefix>${xmlEscape(p.stripPrefix(bucketPrefix))}" +
              "</Prefix></CommonPrefixes>"
          }
          xml ++= "</ListBucketResult>"
          respond(ex, 200, xml.toString.getBytes(StandardCharsets.UTF_8),
            "Content-Type" -> "application/xml")
        case "GET" =>
          val data = objects.get(key)
          if (data == null) respond(ex, 404, s3err("NoSuchKey", key))
          else respond(ex, 200, data)
        case "HEAD" =>
          val data = objects.get(key)
          if (data == null) respond(ex, 404, Array.emptyByteArray)
          else respond(ex, 200, Array.emptyByteArray,
            "Content-Length" -> data.length.toString)
        case "DELETE" =>
          objects.remove(key)
          respond(ex, 204, Array.emptyByteArray)
        case m => respond(ex, 405, s3err("MethodNotAllowed", m))
      }
    }

    private def s3err(code: String, res: String): Array[Byte] =
      s"<Error><Code>$code</Code><Resource>${xmlEscape(res)}</Resource></Error>"
        .getBytes(StandardCharsets.UTF_8)
  }
}

/** Hadoop FileSystem speaking the S3 REST protocol against
  * `fs.s3r.endpoint` — the S3A shape without the aws-sdk dependency.
  * Registered via `fs.s3r.impl`; URIs look like `s3r://bucket/path`.
  */
class S3RestFileSystem extends FileSystem {
  private var fsUri: URI = _
  private var bucket: String = _
  private var endpoint: String = _
  private var workDir: Path = _
  private lazy val client = HttpClient.newHttpClient()

  override def getScheme: String = "s3r"
  override def getUri: URI = fsUri

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    bucket = name.getAuthority
    fsUri = URI.create(s"s3r://$bucket")
    endpoint = conf.get("fs.s3r.endpoint")
    require(endpoint != null, "fs.s3r.endpoint not configured")
    workDir = new Path(fsUri.toString + "/")
  }

  private def key(p: Path): String =
    makeQualified(p).toUri.getPath.stripPrefix("/")

  private def req(method: String, pathAndQuery: String,
      body: Array[Byte] = Array.emptyByteArray,
      headers: Seq[(String, String)] = Seq.empty): HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(s"$endpoint$pathAndQuery"))
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def objectPath(k: String) = s"/$bucket/$k"

  private def list(prefix: String, delimiter: Option[String]):
      (Seq[(String, Long)], Seq[String]) = {
    val q = new StringBuilder(s"/$bucket?list-type=2")
    q ++= s"&prefix=${java.net.URLEncoder.encode(prefix, "UTF-8")}"
    delimiter.foreach(d => q ++= s"&delimiter=${java.net.URLEncoder.encode(d, "UTF-8")}")
    val resp = req("GET", q.toString)
    require(resp.statusCode() == 200, s"LIST $prefix -> ${resp.statusCode()}")
    val xml = new String(resp.body(), StandardCharsets.UTF_8)
    val contents = "<Contents><Key>(.*?)</Key><Size>(\\d+)</Size>".r
      .findAllMatchIn(xml).map(m => (m.group(1), m.group(2).toLong)).toSeq
    val commons = "<CommonPrefixes><Prefix>(.*?)</Prefix></CommonPrefixes>".r
      .findAllMatchIn(xml).map(_.group(1)).toSeq
    (contents, commons)
  }

  private def status(p: Path): Option[FileStatus] = {
    val k = key(p)
    if (k.isEmpty)
      return Some(new FileStatus(0, true, 1, 0, 0, makeQualified(p)))
    val head = req("HEAD", objectPath(k))
    if (head.statusCode() == 200) {
      val len = head.headers().firstValue("Content-Length").orElse("0").toLong
      Some(new FileStatus(len, false, 1, 64 * 1024 * 1024, 0, makeQualified(p)))
    } else {
      // a "directory" exists if its marker object or any child key does
      val (contents, commons) = list(k + "/", Some("/"))
      if (contents.nonEmpty || commons.nonEmpty ||
          req("HEAD", objectPath(k + "/")).statusCode() == 200)
        Some(new FileStatus(0, true, 1, 0, 0, makeQualified(p)))
      else None
    }
  }

  override def getFileStatus(p: Path): FileStatus =
    status(p).getOrElse(throw new FileNotFoundException(p.toString))

  override def listStatus(p: Path): Array[FileStatus] = {
    val st = getFileStatus(p)
    if (!st.isDirectory) return Array(st)
    val k = key(p)
    val prefix = if (k.isEmpty) "" else k + "/"
    val (contents, commons) = list(prefix, Some("/"))
    val files = contents.filter(_._1 != prefix).map { case (ck, len) =>
      new FileStatus(len, false, 1, 64 * 1024 * 1024, 0,
        new Path(fsUri.toString + "/" + ck))
    }
    val dirs = commons.map { cp =>
      new Path(fsUri.toString + "/" + cp.stripSuffix("/"))
    }.map(d => new FileStatus(0, true, 1, 0, 0, d))
    (files ++ dirs).toArray
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val k = key(p)
    if (k.nonEmpty) {
      val resp = req("PUT", objectPath(k + "/"))
      require(resp.statusCode() == 200, s"mkdir $k -> ${resp.statusCode()}")
    }
    true
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite && status(p).isDefined)
      throw new FileAlreadyExistsException(p.toString)
    val k = key(p)
    val buf = new ByteArrayOutputStream() {
      override def close(): Unit = {
        val resp = req("PUT", objectPath(k), toByteArray)
        require(resp.statusCode() == 200, s"PUT $k -> ${resp.statusCode()}")
      }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val resp = req("GET", objectPath(key(p)))
    if (resp.statusCode() == 404) throw new FileNotFoundException(p.toString)
    require(resp.statusCode() == 200, s"GET ${key(p)} -> ${resp.statusCode()}")
    val data = resp.body()
    new FSDataInputStream(new SeekableBytes(data))
  }

  /** KNOWN CONTRACT DEVIATIONS (fine for the committer sequence this
    * emulator exists to exercise; don't rely on them elsewhere):
    * renaming onto an existing FILE returns false per the Hadoop
    * contract, but the copy+delete per object is non-atomic — a
    * concurrent reader can observe src and dst both present. */
  override def rename(src: Path, dst: Path): Boolean = {
    val srcSt = status(src).getOrElse(return false)
    // Hadoop semantics: renaming onto an existing directory moves INTO it
    val target = status(dst) match {
      case Some(d) if d.isDirectory => new Path(dst, src.getName)
      case Some(_) => return false // dst exists as a file: contract says refuse
      case _ => dst
    }
    def copyOne(fromKey: String, toKey: String): Unit = {
      val resp = req("PUT", objectPath(toKey),
        headers = Seq("x-amz-copy-source" -> s"/$bucket/$fromKey"))
      require(resp.statusCode() == 200, s"COPY $fromKey -> ${resp.statusCode()}")
      req("DELETE", objectPath(fromKey))
    }
    if (!srcSt.isDirectory) copyOne(key(src), key(target))
    else {
      val sp = key(src) + "/"
      val tp = key(target) + "/"
      val (contents, _) = list(sp, None) // every descendant object
      contents.foreach { case (ck, _) => copyOne(ck, tp + ck.stripPrefix(sp)) }
    }
    true
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val st = status(p).getOrElse(return false)
    if (!st.isDirectory) { req("DELETE", objectPath(key(p))); true }
    else {
      val prefix = key(p) + "/"
      val (contents, commons) = list(prefix, None)
      if (!recursive && (contents.exists(_._1 != prefix) || commons.nonEmpty))
        throw new java.io.IOException(s"$p is non-empty and recursive=false")
      contents.foreach { case (ck, _) => req("DELETE", objectPath(ck)) }
      req("DELETE", objectPath(prefix)) // the marker, if any
      true
    }
  }

  override def append(p: Path, bufferSize: Int, progress: Progressable):
      FSDataOutputStream = throw new UnsupportedOperationException("append")
  override def setWorkingDirectory(d: Path): Unit = { workDir = d }
  override def getWorkingDirectory: Path = workDir

  /** In-memory seekable stream over a fully-fetched object (objects in
    * tests are small; a production client would range-GET instead). */
  private final class SeekableBytes(data: Array[Byte])
      extends ByteArrayInputStream(data)
      with Seekable with PositionedReadable {
    override def seek(pos: Long): Unit = {
      require(pos >= 0 && pos <= data.length, s"bad seek $pos")
      this.pos = pos.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (position >= data.length) return -1
      val n = math.min(length, data.length - position.toInt)
      System.arraycopy(data, position.toInt, buffer, offset, n)
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      require(read(position, buffer, offset, length) == length, "short read")
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
