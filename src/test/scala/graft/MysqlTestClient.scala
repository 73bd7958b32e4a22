package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.MysqlProto._

/** A minimal MySQL text-protocol client for specs: handshake (optionally
  * with a database), COM_PING and COM_QUERY.
  */
final class MysqlTestClient(port: Int, database: String = "") {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = new BufferedOutputStream(sock.getOutputStream)

  // read HandshakeV10, answer HandshakeResponse41, expect OK
  locally {
    val (_, greeting) = readPacket(in)
    val g = new In(greeting)
    require(g.u8() == 10, "protocol version")
    val _serverVersion = g.nulStr()
    val caps = ClientLongPassword | ClientProtocol41 | ClientSecureConnection |
      (if (database.nonEmpty) ClientConnectWithDb else 0L)
    val resp = new Out()
      .u32(caps).u32(1L << 24).u8(33).bytes(new Array[Byte](23))
      .nulStr("default").lenencInt(0)
    if (database.nonEmpty) resp.nulStr(database)
    writePacket(out, 1, resp.result())
    out.flush()
    val (_, ok) = readPacket(in)
    require((ok(0) & 0xff) == 0x00, s"expected OK after auth, got 0x${(ok(0) & 0xff).toHexString}")
  }

  def ping(): Boolean = {
    writePacket(out, 0, new Out().u8(ComPing).result()); out.flush()
    val (_, p) = readPacket(in)
    (p(0) & 0xff) == 0x00
  }

  /** COM_QUERY; returns (column names, rows as string/null cells) or
    * throws on ERR; OK-only responses return (Nil, Nil).
    */
  def query(sql: String): (Seq[String], Seq[Seq[String]]) = {
    writePacket(out, 0,
      new Out().u8(ComQuery).bytes(sql.getBytes(UTF_8)).result())
    out.flush()
    val (_, first) = readPacket(in)
    (first(0) & 0xff) match {
      case 0x00 => (Nil, Nil) // OK: statement without resultset
      case 0xff =>
        val e = new In(first); e.u8(); val errno = e.u16()
        e.u8(); e.bytes(5) // '#' + sqlstate
        sys.error(s"server error $errno: ${new String(e.rest(), UTF_8)}")
      case _ =>
        val nCols = new In(first).lenencInt().toInt
        val names = (1 to nCols).map { _ =>
          val (_, colDef) = readPacket(in)
          val c = new In(colDef)
          c.lenencStr(); c.lenencStr(); c.lenencStr(); c.lenencStr()
          c.lenencStr() // name
        }
        val (_, eof1) = readPacket(in)
        require(isEof(eof1), "expected EOF after column definitions")
        val rows = Vector.newBuilder[Seq[String]]
        var done = false
        while (!done) {
          val (_, p) = readPacket(in)
          if (isEof(p)) done = true
          else {
            val r = new In(p)
            rows += (1 to nCols).map(_ => r.lenencStr())
          }
        }
        (names, rows.result())
    }
  }

  def close(): Unit = sock.close()
}
