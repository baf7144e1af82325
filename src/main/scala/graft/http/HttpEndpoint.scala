package graft.http

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsServer}
import graft.{GraftSession, TxHandle}
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** HTTP query surface mirroring the reference image's 7474 endpoint
  * family (SURVEY §2.9 network parity; the reference maps 7474 at
  * `docker-image-src/calver/coredb/Dockerfile-trixie:54`, 7473 for
  * HTTPS):
  *
  *  - `POST /db/{db}/tx/commit` — one-shot: the statements execute as
  *    ONE transaction (a private [[TxHandle]] snapshot; an error —
  *    including in-band BEGIN/COMMIT/ROLLBACK text, which is refused —
  *    rolls the WHOLE request back) and answers
  *    `{"results":[{"columns":[…],"data":[{"row":[…]}…]}],"errors":[…]}`;
  *  - the full multi-request transaction family the discovery document
  *    advertises: `POST /db/{db}/tx` opens a transaction (201 +
  *    `Location`), `POST /db/{db}/tx/{id}` runs more statements inside
  *    it, `POST /db/{db}/tx/{id}/commit` commits, `DELETE
  *    /db/{db}/tx/{id}` rolls back. Idle transactions expire
  *    (`txIdleTimeoutMs` per request, like the reference server's
  *    `transaction.expires` contract) and a wall-clock cap
  *    (`txMaxDurationMs`) bounds total duration; an errored statement
  *    rolls the transaction back and closes it (reference semantics);
  *  - `GET /db/{db}/cluster/available` — the readiness probe the
  *    reference tests poll (ref WaitStrategies.java:24-39): 200 when
  *    the database exists and is started, 404 otherwise.
  *
  * Built on the JDK's `com.sun.net.httpserver` plus the Jackson that
  * ships with Spark — no new dependencies. Requests are served on a
  * cached daemon pool: transaction state lives in per-transaction
  * handles (shadow snapshots), so concurrent requests — including ones
  * inside different open transactions — need no request serialization;
  * statement execution itself serializes on the session's statement
  * lock, held per statement. Result rows STREAM: the response body is
  * chunked and written row-by-row from `toLocalIterator`, holding at
  * most one Spark partition on the driver regardless of result size.
  * Pass an [[javax.net.ssl.SSLContext]] to serve HTTPS (the 7473
  * analog; the reference wires certificates from its `/ssl` mount,
  * ref `docker-entrypoint.sh:479-537`).
  */
final class HttpEndpoint(session: GraftSession, port: Int = 7474,
    bindAddress: String = "0.0.0.0",
    ssl: Option[javax.net.ssl.SSLContext] = None,
    txIdleTimeoutMs: Long = 60 * 1000L,
    txMaxDurationMs: Long = 10 * 60 * 1000L) {

  private val mapper = new ObjectMapper
  // 0.0.0.0 default: the reference server listens on all interfaces
  // inside the container so `-p 7474:7474` port mapping works; a
  // loopback-only listener would time out the host-side wait strategy
  private val server: HttpServer = ssl match {
    case Some(ctx) =>
      val s = HttpsServer.create(new InetSocketAddress(bindAddress, port), 0)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
  }
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))

  /** An open multi-request transaction: its handle, database, and the
    * idle deadline (refreshed on each request). */
  private final class HttpTx(val handle: TxHandle, val db: String) {
    @volatile var expiresAt: Long = System.currentTimeMillis() + txIdleTimeoutMs
  }
  private val openTxs = new ConcurrentHashMap[Long, HttpTx]()
  private val txIds = new AtomicLong(0L)

  private val TxRoot = "/db/([A-Za-z0-9_]+)/tx".r
  private val TxCommitPath = "/db/([A-Za-z0-9_]+)/tx/commit".r
  private val TxIdPath = "/db/([A-Za-z0-9_]+)/tx/([0-9]+)".r
  private val TxIdCommitPath = "/db/([A-Za-z0-9_]+)/tx/([0-9]+)/commit".r
  private val AvailPath = "/db/([A-Za-z0-9_]+)/cluster/available".r

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("POST", TxCommitPath(db))       => handleOneShot(ex, db)
        case ("POST", TxRoot(db))             => handleTxOpen(ex, db)
        case ("POST", TxIdCommitPath(db, id)) => handleTxRequest(ex, db, id.toLong, commit = true)
        case ("POST", TxIdPath(db, id))       => handleTxRequest(ex, db, id.toLong, commit = false)
        case ("DELETE", TxIdPath(db, id))     => handleTxRollback(ex, db, id.toLong)
        case ("GET", AvailPath(db))           => handleAvail(ex, db)
        // root discovery document — the reference server answers 200
        // on "/" (the default HttpWaitStrategy probe path) with
        // edition/version plus the transaction-endpoint template
        case ("GET", "/") =>
          val out = mapper.createObjectNode()
          out.put("transaction", "/db/{databaseName}/tx")
          out.put("neo4j_version", "5.26.0")
          out.put("neo4j_edition", "community")
          respond(ex, 200, mapper.writeValueAsString(out))
        case _ => respond(ex, 404, errorBody("Neo.ClientError.Request.Invalid",
          s"no such endpoint: ${ex.getRequestURI.getPath}"))
      }
    } catch {
      case e: Exception =>
        respond(ex, 500, errorBody("Neo.DatabaseError.General.UnknownError",
          String.valueOf(e.getMessage)))
    } finally ex.close()
  })

  /** Bind and serve; returns the bound port (pass port=0 for an
    * ephemeral test port). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = {
    openTxs.values.asScala.foreach(t =>
      try session.rollbackTransaction(t.handle) catch { case _: Throwable => () })
    openTxs.clear()
    server.stop(0)
  }

  // ----------------------------------------------------------------

  private def handleAvail(ex: HttpExchange, db: String): Unit =
    if (session.available(db)) respond(ex, 200, "\"available\"")
    else respond(ex, 404, errorBody("Neo.ClientError.Database.DatabaseNotFound",
      s"database $db is not available"))

  /** One-shot `POST /db/{db}/tx/commit`: open a handle, run all
    * statements, commit; ANY error rolls the whole request back. */
  private def handleOneShot(ex: HttpExchange, db: String): Unit = {
    if (!requireAuth(ex)) return
    val statements = readStatements(ex)
    val tx = session.beginTransaction("http")
    streamResults(ex, 200, Map.empty) { gen =>
      val err = runStatements(gen, statements, db, tx)
      err match {
        case None =>
          try { session.commitTransaction(tx); None }
          catch { case e: Exception =>
            try session.rollbackTransaction(tx) catch { case _: Throwable => () }
            Some(errorOf(e))
          }
        case some =>
          try session.rollbackTransaction(tx) catch { case _: Throwable => () }
          some
      }
    }
  }

  /** `POST /db/{db}/tx` — open a transaction, run any statements in
    * the body, answer 201 + Location + commit/expires metadata. */
  private def handleTxOpen(ex: HttpExchange, db: String): Unit = {
    if (!requireAuth(ex)) return
    sweepExpired()
    val statements = readStatements(ex)
    val tx = session.beginTransaction("http")
    val id = txIds.incrementAndGet()
    val entry = new HttpTx(tx, db)
    openTxs.put(id, entry)
    ex.getResponseHeaders.set("Location", s"/db/$db/tx/$id")
    streamResults(ex, 201,
      Map("commit" -> s"/db/$db/tx/$id/commit", "expires" -> entry.expiresAt)) { gen =>
      val err = runStatements(gen, statements, db, tx)
      err.foreach { _ => closeTx(id, entry, commit = false) }
      err
    }
  }

  /** `POST /db/{db}/tx/{id}[/commit]` — more statements inside the
    * open transaction; with `commit = true`, commit afterwards. */
  private def handleTxRequest(ex: HttpExchange, db: String, id: Long,
      commit: Boolean): Unit = {
    if (!requireAuth(ex)) return
    lookupTx(ex, id) match {
      case None => ()
      case Some(entry) =>
        val statements = readStatements(ex)
        val meta = if (commit) Map.empty[String, Any]
          else Map("commit" -> s"/db/$db/tx/$id/commit", "expires" -> entry.expiresAt)
        streamResults(ex, 200, meta) { gen =>
          val err = runStatements(gen, statements, db, entry.handle)
          err match {
            case None if commit =>
              try { closeTx(id, entry, commit = true); None }
              catch { case e: Exception =>
                closeTx(id, entry, commit = false); Some(errorOf(e)) }
            case None =>
              entry.expiresAt = System.currentTimeMillis() + txIdleTimeoutMs
              None
            // an errored statement rolls the whole transaction back and
            // closes it — the reference transactional API's contract
            case some => closeTx(id, entry, commit = false); some
          }
        }
    }
  }

  /** `DELETE /db/{db}/tx/{id}` — roll back and forget. */
  private def handleTxRollback(ex: HttpExchange, db: String, id: Long): Unit = {
    if (!requireAuth(ex)) return
    lookupTx(ex, id) match {
      case None => ()
      case Some(entry) =>
        closeTx(id, entry, commit = false)
        streamResults(ex, 200, Map.empty)(_ => None)
    }
  }

  /** Resolve an open transaction; expired/unknown → 404 (and an
    * expired one is rolled back on discovery). */
  private def lookupTx(ex: HttpExchange, id: Long): Option[HttpTx] =
    Option(openTxs.get(id)) match {
      case None =>
        respond(ex, 404, errorBody("Neo.ClientError.Transaction.TransactionNotFound",
          s"no open transaction $id (it may have expired and rolled back)"))
        None
      case Some(entry) if expired(entry) =>
        closeTx(id, entry, commit = false)
        respond(ex, 404, errorBody("Neo.ClientError.Transaction.TransactionNotFound",
          s"transaction $id expired and was rolled back"))
        None
      case some => some
    }

  private def expired(entry: HttpTx): Boolean = {
    val now = System.currentTimeMillis()
    now > entry.expiresAt || now - entry.handle.startedAt > txMaxDurationMs
  }

  private def closeTx(id: Long, entry: HttpTx, commit: Boolean): Unit = {
    openTxs.remove(id)
    if (commit) session.commitTransaction(entry.handle)
    else if (entry.handle.open)
      try session.rollbackTransaction(entry.handle) catch { case _: Throwable => () }
  }

  /** Opportunistic expiry sweep (no background thread needed: expiry
    * is also checked on access; this just frees abandoned shadows). */
  private def sweepExpired(): Unit =
    openTxs.entrySet().asScala.toList.foreach { e =>
      if (expired(e.getValue)) closeTx(e.getKey, e.getValue, commit = false)
    }

  // ---- statement execution + streaming ----------------------------

  private def readStatements(ex: HttpExchange): Seq[JsonNode] = {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    if (body.isEmpty) Nil
    else mapper.readTree(body).path("statements").elements().asScala.toSeq
  }

  /** Run each statement inside `tx`, streaming its result object into
    * the generator's open `results` array; stops at the first error
    * and returns it (code, message). The session refuses in-band
    * transaction-control text (BEGIN/COMMIT/ROLLBACK) loudly, which
    * lands here as an ordinary statement error. */
  private def runStatements(gen: JsonGenerator, statements: Seq[JsonNode],
      db: String, tx: TxHandle): Option[(String, String)] = {
    val it = statements.iterator
    while (it.hasNext) {
      val st = it.next()
      val q = st.path("statement").asText("")
      val params = Option(st.get("parameters"))
        .map(HttpEndpoint.fromJsonMap).getOrElse(Map.empty[String, Any])
      try {
        val df = session.cypher(q, params, db, tx)
        val cols = df.columns
        gen.writeStartObject()
        gen.writeArrayFieldStart("columns")
        cols.foreach(gen.writeString)
        gen.writeEndArray()
        gen.writeArrayFieldStart("data")
        val rows = df.toLocalIterator()
        while (rows.hasNext) {
          val r = rows.next()
          gen.writeStartObject()
          gen.writeArrayFieldStart("row")
          cols.indices.foreach(i => writeJsonValue(gen, r.get(i)))
          gen.writeEndArray()
          gen.writeEndObject()
        }
        gen.writeEndArray()
        gen.writeEndObject()
      } catch {
        case e: Exception => return Some(errorOf(e))
      }
    }
    None
  }

  private def errorOf(e: Exception): (String, String) = (e match {
    case _: IllegalArgumentException => "Neo.ClientError.Statement.SyntaxError"
    case _: UnsupportedOperationException => "Neo.ClientError.Statement.SyntaxError"
    case _ => "Neo.DatabaseError.General.UnknownError"
  }, String.valueOf(e.getMessage))

  /** Stream `{"results": [ …body… ], "errors": […], …meta}` chunked;
    * `body` writes result objects into the open array and returns the
    * first error, if any. The status line goes out before the first
    * row — a mid-stream error still lands in the trailing `errors`
    * array (the reference transactional API behaves the same way). */
  private def streamResults(ex: HttpExchange, status: Int,
      meta: Map[String, Any])(body: JsonGenerator => Option[(String, String)]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, 0L) // 0 = chunked transfer
    val gen = mapper.getFactory.createGenerator(ex.getResponseBody)
    gen.writeStartObject()
    gen.writeArrayFieldStart("results")
    val err = body(gen)
    gen.writeEndArray()
    gen.writeArrayFieldStart("errors")
    err.foreach { case (code, msg) =>
      gen.writeStartObject()
      gen.writeStringField("code", code)
      gen.writeStringField("message", msg)
      gen.writeEndObject()
    }
    gen.writeEndArray()
    // reference response shape: `commit` flat, `expires` nested under
    // a `transaction` object
    meta.get("commit").foreach(v => gen.writeStringField("commit", String.valueOf(v)))
    meta.get("expires").foreach { v =>
      gen.writeObjectFieldStart("transaction")
      gen.writeStringField("expires", rfc1123(v.asInstanceOf[Long]))
      gen.writeEndObject()
    }
    gen.writeEndObject()
    gen.close()
  }

  private def rfc1123(epochMs: Long): String =
    java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
      java.time.Instant.ofEpochMilli(epochMs).atZone(java.time.ZoneOffset.UTC))

  /** Basic auth against the session's credential store; open when auth
    * is disabled (NEO4J_AUTH=none), like the reference. Answers the
    * 401 itself when unauthorized. */
  private def requireAuth(ex: HttpExchange): Boolean = {
    val ok = session.authStore match {
      case None => true
      case Some(store) =>
        Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
          h.startsWith("Basic ") && {
            // malformed base64 is an auth FAILURE (401), not a server
            // error — clients retry credentials on 401, not on 500
            scala.util.Try(
              new String(java.util.Base64.getDecoder.decode(h.substring(6).trim), "UTF-8"))
              .toOption.exists(_.split(":", 2) match {
                case Array(u, p) => store.verify(u, p)
                case _           => false
              })
          }
        }
    }
    if (!ok) respond(ex, 401, errorBody("Neo.ClientError.Security.Unauthorized",
      "Invalid credential."))
    ok
  }

  // ---- JSON <-> engine values ------------------------------------

  private def writeJsonValue(gen: JsonGenerator, v: Any): Unit = v match {
    case null                    => gen.writeNull()
    case b: Boolean              => gen.writeBoolean(b)
    case i: Int                  => gen.writeNumber(i.toLong)
    case l: Long                 => gen.writeNumber(l)
    case d: Double               => gen.writeNumber(d)
    case f: Float                => gen.writeNumber(f.toDouble)
    case s: String               => gen.writeString(s)
    case seq: scala.collection.Seq[_] =>
      gen.writeStartArray(); seq.foreach(writeJsonValue(gen, _)); gen.writeEndArray()
    case arr: Array[_] =>
      gen.writeStartArray(); arr.foreach(writeJsonValue(gen, _)); gen.writeEndArray()
    case m: scala.collection.Map[_, _] =>
      gen.writeStartObject()
      m.foreach { case (k, x) =>
        gen.writeFieldName(String.valueOf(k)); writeJsonValue(gen, x) }
      gen.writeEndObject()
    case r: org.apache.spark.sql.Row => // struct column → object by field name
      gen.writeStartObject()
      val names = Option(r.schema).map(_.fieldNames)
        .getOrElse(Array.tabulate(r.length)(i => s"_$i"))
      names.zipWithIndex.foreach { case (n, i) =>
        gen.writeFieldName(n); writeJsonValue(gen, r.get(i)) }
      gen.writeEndObject()
    case other                   => gen.writeString(String.valueOf(other))
  }

  private def errorBody(code: String, message: String): String = {
    val out = mapper.createObjectNode()
    out.putArray("results")
    val err = out.putArray("errors").addObject()
    err.put("code", code); err.put("message", message)
    mapper.writeValueAsString(out)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
}

object HttpEndpoint {
  /** A JSON object's members as statement parameters: integers are
    * LONG, other numbers DOUBLE, arrays Vectors, objects Maps. */
  def fromJsonMap(n: JsonNode): Map[String, Any] =
    n.properties().asScala.map(e => e.getKey -> fromJson(e.getValue)).toMap

  private def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText
    else if (n.isArray) n.elements().asScala.map(fromJson).toVector
    else fromJsonMap(n)

  /** SSLContext from a JKS/PKCS12 keystore file — the 7473 HTTPS
    * analog of the reference's `/ssl` certificate mount (ref
    * `docker-entrypoint.sh:479-537` wires `dbms.ssl.policy.https.*`
    * from mounted certs; here a keystore path + password play that
    * role, e.g. via `GRAFT_SSL_KEYSTORE` / `GRAFT_SSL_PASSWORD`). */
  def sslContextFromKeystore(path: String, password: String): javax.net.ssl.SSLContext = {
    val ks = java.security.KeyStore.getInstance(
      if (path.endsWith(".p12") || path.endsWith(".pfx")) "PKCS12" else "JKS")
    val in = new java.io.FileInputStream(path)
    try ks.load(in, password.toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password.toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }
}
