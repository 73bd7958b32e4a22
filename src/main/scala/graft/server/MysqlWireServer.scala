package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.exec.GraftSession

/** Minimal MySQL text-protocol front-end over [[GraftSession]] — the
  * reference's second wire entry point (crates/server/src/mysql_server.rs +
  * crates/runtime/src/mysql/mod.rs:102-149 `on_query`). Scope: HandshakeV10
  * / HandshakeResponse41 (any credentials accepted — the reference ignores
  * them too), COM_QUERY with text resultsets, COM_INIT_DB, COM_PING,
  * COM_QUIT, and the prepared-statement cycle COM_STMT_PREPARE / EXECUTE
  * (client-side-typed binary params rendered into the text path, binary
  * resultset rows back) / RESET / CLOSE — the frames the reference's
  * server_mysql shim declares but its runtime never implemented
  * (crates/server_mysql/src/lib.rs:160-180). No TLS, no auth verification
  * — recorded in SURVEY §7 with the CH-native cuts.
  */
final class MysqlWireServer(spark: SparkSession, port: Int = 0) {
  import MysqlProto._

  // the catalog's engine state is restored here, once, at server start;
  // connections share it (see ChWireServer)
  new GraftSession(spark): Unit
  private val socket = new ServerSocket(port)
  private val running = new AtomicBoolean(true)

  def boundPort: Int = socket.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get) {
      try {
        val conn = socket.accept()
        val t = new Thread(() => serve(conn), s"graft-mysql-conn-${conn.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => ()
        case NonFatal(e) => if (running.get) System.err.println(s"[mysql-wire] accept: $e")
      }
    }
  }, "graft-mysql-accept")
  acceptor.setDaemon(true)

  def start(): MysqlWireServer = { acceptor.start(); this }

  def stop(): Unit = { running.set(false); socket.close() }

  private def serve(conn: Socket): Unit = {
    val rawIn = new BufferedInputStream(conn.getInputStream)
    val rawOut = new BufferedOutputStream(conn.getOutputStream)
    var in: InputStream = rawIn
    var out: OutputStream = rawOut
    var compIn: CompressedIn = null
    var compOut: CompressedOut = null
    // isolated per-connection session: USE/current-database must not leak
    // across connections or into the host session
    val session = new GraftSession(spark.newSession())
    // per-connection prepared statements: id -> (sql split at ?, bound
    // types — clients send types only on the FIRST execute and expect the
    // server to remember them)
    final case class Prepared(parts: Seq[String], var types: Array[Int])
    val stmts = scala.collection.mutable.Map.empty[Int, Prepared]
    var nextStmtId = 1
    try {
      val clientCaps = handshake(in, out, session)
      // CLIENT_COMPRESS: from the first command on, both directions speak
      // the compressed framing (the handshake itself is always plain —
      // MySQL's contract). The response envelopes continue the command
      // envelope's sequence.
      if ((clientCaps & ClientCompress) != 0) {
        compIn = new CompressedIn(rawIn)
        compOut = new CompressedOut(rawOut)
        in = compIn
        out = compOut
      }
      var open = true
      while (open && running.get) {
        val (_, payload) =
          try readPacket(in)
          catch { case _: java.io.EOFException => open = false; (0, Array.empty[Byte]) }
        if (compOut != null) compOut.seq = compIn.lastSeq + 1
        if (open && payload.nonEmpty) {
          val p = new In(payload)
          p.u8() match {
            case ComQuit => open = false
            case ComPing =>
              writePacket(out, 1, okPacket()); out.flush()
            case ComInitDb =>
              val db = new String(p.rest(), UTF_8)
              respond(out, session, s"USE `$db`")
            case ComQuery =>
              respond(out, session, new String(p.rest(), UTF_8))
            case ComStmtPrepare =>
              val sql = new String(p.rest(), UTF_8)
              val parts = splitOnPlaceholders(sql)
              val id = nextStmtId; nextStmtId += 1
              stmts(id) = Prepared(parts, null)
              var seq = writePacket(out, 1,
                stmtPrepareOk(id, 0, parts.size - 1))
              if (parts.size > 1) {
                // anonymous parameter markers, VARCHAR by convention
                (1 until parts.size).foreach { i =>
                  seq = writePacket(out, seq, columnDefinition(s"?$i",
                    org.apache.spark.sql.types.StringType))
                }
                writePacket(out, seq, eofPacket())
              }
              out.flush()
            case ComStmtExecute =>
              val id = p.u32().toInt
              p.u8(); p.u32() // flags, iteration count (always 1)
              stmts.get(id) match {
                case None =>
                  writePacket(out, 1, errPacket(1243,
                    s"unknown prepared statement handler $id")); out.flush()
                case Some(st) =>
                  val nParams = st.parts.size - 1
                  val vals: Seq[String] =
                    if (nParams == 0) Nil
                    else {
                      val bitmap = p.bytes((nParams + 7) / 8)
                      if (p.u8() == 1) // new-params-bound flag
                        st.types = Array.fill(nParams) { val t = p.u8(); t | (p.u8() << 8) }
                      require(st.types != null,
                        "COM_STMT_EXECUTE without bound parameter types")
                      (0 until nParams).map { i =>
                        if ((bitmap(i / 8) & (1 << (i % 8))) != 0) { "NULL" }
                        else decodeBinaryParam(p, st.types(i))
                      }
                    }
                  // client-side-typed params rendered into the text path
                  val sql = st.parts.head + vals.zip(st.parts.tail)
                    .map { case (v, part) => v + part }.mkString
                  respond(out, session, sql, binary = true)
              }
            case ComStmtClose =>
              stmts.remove(p.u32().toInt): Unit // no response, per protocol
            case ComStmtReset =>
              writePacket(out, 1, okPacket()); out.flush()
            case other =>
              writePacket(out, 1, errPacket(1047, s"unsupported command $other"))
              out.flush()
          }
        }
      }
    } catch {
      case _: SocketException | _: java.io.EOFException => ()
      case NonFatal(e) =>
        try { writePacket(out, 1, errPacket(1105, String.valueOf(e))); out.flush() }
        catch { case NonFatal(_) => () }
    } finally conn.close()
  }

  /** HandshakeV10 → HandshakeResponse41 → OK; credentials accepted as-is
    * and an initial database becomes `USE`. Returns the client's
    * capability flags (CLIENT_COMPRESS switches the framing afterwards).
    */
  private def handshake(in: InputStream, out: OutputStream, session: GraftSession): Long = {
    val caps = ClientLongPassword | ClientConnectWithDb | ClientCompress |
      ClientProtocol41 | ClientSecureConnection | ClientPluginAuth
    val greeting = new Out()
      .u8(10) // protocol version
      .nulStr("8.0.0-graft-spark")
      .u32(1L) // thread id
      .bytes(Array.fill[Byte](8)('g')).u8(0) // auth-plugin-data part 1
      .u16((caps & 0xffff).toInt)
      .u8(33) // utf8_general_ci
      .u16(0x0002) // status: autocommit
      .u16(((caps >>> 16) & 0xffff).toInt)
      .u8(21) // auth plugin data length
      .bytes(new Array[Byte](10)) // reserved
      .bytes(Array.fill[Byte](12)('g')).u8(0) // auth-plugin-data part 2
      .nulStr("mysql_native_password")
      .result()
    writePacket(out, 0, greeting)
    out.flush()

    val (_, payload) = readPacket(in)
    val r = new In(payload)
    val clientCaps = r.u32()
    val _maxPacket = r.u32()
    val _charset = r.u8()
    r.bytes(23) // reserved
    val _user = r.nulStr()
    // auth response: lenenc if secure-connection, else NUL-terminated
    if ((clientCaps & ClientSecureConnection) != 0) {
      val n = r.lenencInt(); if (n > 0) r.bytes(n.toInt)
    } else r.nulStr()
    if ((clientCaps & ClientConnectWithDb) != 0 && r.remaining > 0) {
      val db = r.nulStr()
      if (db.nonEmpty) session.sql(s"USE `$db`")
    }
    writePacket(out, 2, okPacket())
    out.flush()
    clientCaps
  }

  /** Run one statement, write an OK (no result schema) or a resultset:
    * column count, ColumnDefinition41s, EOF, rows, EOF (`write_blks`,
    * mysql/mod.rs:150-345). `binary = true` encodes rows in the binary
    * protocol (COM_STMT_EXECUTE responses); the surrounding framing is
    * identical.
    */
  private def respond(out: OutputStream, session: GraftSession, sql: String,
                      binary: Boolean = false): Unit = {
    var seq = 1
    def send(payload: Array[Byte]): Unit = seq = writePacket(out, seq, payload)
    try {
      val df = session.sql(sql)
      if (df.schema.fields.isEmpty) send(okPacket())
      else {
        val schema = df.schema
        send(new Out().lenencInt(schema.fields.length.toLong).result())
        schema.fields.foreach(f => send(columnDefinition(f.name, f.dataType)))
        send(eofPacket())
        // Liveness on long results: MySQL's text protocol has no Progress
        // packet (the CH side interleaves real ones — ChWireServer), so
        // the protocol-legal equivalent is flushing completed row packets
        // periodically while later partitions are still computing, instead
        // of buffering the whole resultset to the final flush.
        var n = 0L
        ResultRows.of(df).foreach { row =>
          if (binary) send(binaryRow(row))
          else {
            val o = new java.io.ByteArrayOutputStream()
            schema.fields.indices.foreach(i => o.write(textValue(row, i)))
            send(o.toByteArray)
          }
          n += 1
          if ((n & 0x3ff) == 0L) out.flush()
        }
        send(eofPacket())
      }
    } catch {
      case NonFatal(e) => send(errPacket(1105, String.valueOf(e.getMessage)))
    }
    out.flush()
  }
}
