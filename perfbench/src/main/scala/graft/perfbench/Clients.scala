package graft.perfbench

import graft.bolt.PackStream
import java.io._
import java.net.{HttpURLConnection, InetAddress, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** Byte counters around a socket's streams. */
private final class CountingIn(in: InputStream) extends FilterInputStream(in) {
  var count = 0L
  override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = super.read(b, off, len); if (n > 0) count += n; n
  }
}

/** A statement the server refused; `code` is its Neo4j status code. */
final class StatementFailed(val code: String, msg: String) extends RuntimeException(s"$code: $msg")

/** Minimal Bolt 4.4 client: handshake, HELLO, RUN + PULL, BEGIN,
  * COMMIT, GOODBYE. Values go through graft's own PackStream codec. */
final class BoltClient(port: Int) extends AutoCloseable {
  private val HELLO = 0x01; private val GOODBYE = 0x02; private val RESET = 0x0F
  private val RUN = 0x10; private val BEGIN = 0x11; private val COMMIT = 0x12
  private val PULL = 0x3F
  private val SUCCESS = 0x70; private val RECORD = 0x71; private val FAILURE = 0x7F

  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setTcpNoDelay(true)
  private val counting = new CountingIn(sock.getInputStream)
  private val in = new DataInputStream(new BufferedInputStream(counting))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  /** Bytes the server has sent on this connection. */
  def bytesFromServer: Long = counting.count

  out.writeInt(0x6060B017)
  out.writeInt(0x00000404) // 4.4
  (1 to 3).foreach(_ => out.writeInt(0))
  out.flush()
  private val version = in.readInt()
  require(version == 0x0404, f"server refused Bolt 4.4 (answered 0x$version%08X)")
  send(HELLO, Map("user_agent" -> "graft-perfbench/1", "scheme" -> "none"))
  expectSuccess()

  private def send(tag: Int, fields: Any*): Unit = {
    val body = new ByteArrayOutputStream()
    val ps = new DataOutputStream(body)
    PackStream.writeStructHeader(ps, tag, fields.size)
    fields.foreach(PackStream.writeValue(ps, _))
    val bytes = body.toByteArray
    var off = 0
    while (off < bytes.length) {
      val n = math.min(0xFFFF, bytes.length - off)
      out.writeShort(n); out.write(bytes, off, n); off += n
    }
    out.writeShort(0)
  }

  private def recv(): (Int, Seq[Any]) = {
    out.flush()
    val buf = new ByteArrayOutputStream()
    var size = in.readUnsignedShort()
    while (size == 0) size = in.readUnsignedShort()
    while (size != 0) {
      val chunk = new Array[Byte](size)
      in.readFully(chunk)
      buf.write(chunk)
      size = in.readUnsignedShort()
    }
    PackStream.readValue(new DataInputStream(new ByteArrayInputStream(buf.toByteArray))) match {
      case PackStream.Struct(tag, fields) => (tag, fields)
      case other => throw new IOException(s"not a Bolt message: $other")
    }
  }

  private def fail(fields: Seq[Any]): Nothing = {
    val m = fields.headOption.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
    // the server ignores everything after a FAILURE until RESET;
    // skip the IGNORED answers to pipelined messages up to its SUCCESS
    send(RESET)
    while (recv()._1 != SUCCESS) ()
    throw new StatementFailed(String.valueOf(m.getOrElse("code", "?")),
      String.valueOf(m.getOrElse("message", "")))
  }

  private def expectSuccess(): Map[String, Any] = recv() match {
    case (SUCCESS, fs) => fs.headOption.collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
    case (FAILURE, fs) => fail(fs)
    case (tag, _) => throw new IOException(f"unexpected Bolt message 0x$tag%02X")
  }

  /** RUN + PULL all, pipelined; returns the records. */
  def run(query: String, params: Map[String, Any]): Seq[Seq[Any]] = {
    send(RUN, query, params, Map.empty[String, Any])
    send(PULL, Map("n" -> -1L))
    expectSuccess()
    val rows = Seq.newBuilder[Seq[Any]]
    var done = false
    while (!done) recv() match {
      case (RECORD, fs) => rows += fs.head.asInstanceOf[Seq[Any]]
      case (SUCCESS, _) => done = true
      case (FAILURE, fs) => fail(fs)
      case (tag, _) => throw new IOException(f"unexpected Bolt message 0x$tag%02X")
    }
    rows.result()
  }

  def begin(): Unit = { send(BEGIN, Map.empty[String, Any]); expectSuccess() }
  def commit(): Unit = { send(COMMIT); expectSuccess() }

  def close(): Unit = {
    try { send(GOODBYE); out.flush() } finally sock.close()
  }
}

/** Client for the one-shot `POST /db/neo4j/tx/commit` endpoint. */
final class HttpClient(port: Int) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  private val url = new URI(s"http://127.0.0.1:$port/db/neo4j/tx/commit").toURL

  /** Request-body bytes posted so far. */
  var bytesToServer = 0L

  /** Runs the statements as one transaction; returns each one's rows. */
  def commit(stmts: Seq[Stmt]): Seq[Seq[Seq[Any]]] = {
    val body = Json.write(Map("statements" -> stmts.map(s =>
      Map("statement" -> s.query, "parameters" -> s.params)))).getBytes(UTF_8)
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setFixedLengthStreamingMode(body.length)
    val os = c.getOutputStream
    try os.write(body) finally os.close()
    bytesToServer += body.length
    val status = c.getResponseCode
    val stream = if (status >= 400) c.getErrorStream else c.getInputStream
    val tree = try mapper.readTree(stream) finally stream.close()
    if (status != 200) throw new StatementFailed(s"HTTP $status", tree.toString)
    val errors = tree.path("errors")
    if (errors.size() > 0)
      throw new StatementFailed(errors.get(0).path("code").asText(), errors.get(0).path("message").asText())
    import scala.jdk.CollectionConverters._
    tree.path("results").elements().asScala.map { res =>
      res.path("data").elements().asScala.map { d =>
        d.path("row").elements().asScala.map(fromJson).toSeq
      }.toSeq
    }.toSeq
  }

  private def fromJson(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isNull) null
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isArray) { import scala.jdk.CollectionConverters._; n.elements().asScala.map(fromJson).toList }
    else n.asText()
}
