package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.exec.GraftSession

/** Minimal ClickHouse native TCP front-end over [[GraftSession]] — the
  * reference's primary entry point (accept loop crates/server/src/server.rs:
  * 94-107, per-connection state machine crates/runtime/src/ch/messages.rs:
  * 28-202). Scope: Hello/Ping/Query packets, client-streamed INSERT Data
  * blocks, and — when the Query packet asks for compression=1 — the
  * LZ4+CityHash128 compressed frame transport in both directions
  * (blocks.rs:62-70; the CityHash implementation is validated against the
  * reference's golden COMPRESSED_EMPTY_CLIENT_BLK_BYTES vector since no
  * `clickhouse-client` ships in this environment to interop against).
  *
  * Concurrency: thread per connection, one statement at a time per
  * connection — matching the reference's task-per-connection model. Result
  * blocks are capped at [[BlockRows]] rows each so large results stream as
  * multiple packets instead of one giant block.
  */
final class ChWireServer(spark: SparkSession, port: Int = 0) {
  // one catalog replay per SERVER, not per accept: the per-connection
  // sessions pass skipRestore=true (re-scanning the meta root on every
  // connect cost 2-3 s of metastore round-trips — PERF.md r19), so the
  // restored-warehouse guarantee moves here and each connection adopts
  // this boot's restore_errors
  private val hostSession = new GraftSession(spark)
  private val socket = new ServerSocket(port)
  private val running = new AtomicBoolean(true)

  val BlockRows = 8192

  def boundPort: Int = socket.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get) {
      try {
        val conn = socket.accept()
        // connection threads are daemon and unreferenced: they die with the
        // socket on stop() and need no bookkeeping here
        val t = new Thread(() => serve(conn), s"graft-ch-conn-${conn.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed during accept -> shutting down
        case NonFatal(e) => if (running.get) System.err.println(s"[ch-wire] accept: $e")
      }
    }
  }, "graft-ch-accept")
  acceptor.setDaemon(true)

  def start(): ChWireServer = { acceptor.start(); this }

  def stop(): Unit = {
    running.set(false)
    socket.close()
  }

  private def serve(conn: Socket): Unit = {
    val in = new BufferedInputStream(conn.getInputStream)
    val out = new BufferedOutputStream(conn.getOutputStream)
    // one isolated Spark session per connection (shared context/catalog,
    // private current-database and temp views): `USE db` is per-connection
    // state like the reference's ConnCtx, and must not leak into other
    // connections or the host session
    val session = new GraftSession(spark.newSession(), skipRestore = true)
    session.adoptRestoreErrors(hostSession.restoreErrors)
    try {
      var open = true
      while (open && running.get) {
        val code =
          try ChProto.readVarint(in)
          catch { case _: java.io.EOFException => open = false; -1L }
        code match {
          case -1L => ()
          case ChProto.Client.Hello => hello(in, out, session)
          case ChProto.Client.Ping =>
            ChProto.writeVarint(out, ChProto.Server.Pong); out.flush()
          case ChProto.Client.Query => query(in, out, session)
          case ChProto.Client.Cancel => () // nothing in flight to cancel
          case other =>
            ChProto.writeException(out, 1002, "UNSUPPORTED_PACKET",
              s"unsupported client packet code $other")
            open = false
        }
      }
    } catch {
      case _: SocketException | _: java.io.EOFException => ()
      // misframed connection: close without answering — a reply could
      // block on a full peer buffer, and the peer's reader is lost anyway
      case _: ChWireServer.ProtocolDesync => ()
      case NonFatal(e) =>
        try ChProto.writeException(out, 1000, "INTERNAL", String.valueOf(e))
        catch { case NonFatal(_) => () }
    } finally conn.close()
  }

  /** Client hello (messages.rs:234-269): name, version, revision, default
    * database, user, password; reply with server identity + timezone.
    */
  private def hello(in: InputStream, out: OutputStream, session: GraftSession): Unit = {
    val _clientName = ChProto.readStr(in)
    val _verMaj = ChProto.readVarint(in)
    val _verMin = ChProto.readVarint(in)
    val revision = ChProto.readVarint(in)
    val database = ChProto.readStr(in)
    val _user = ChProto.readStr(in)
    val _password = ChProto.readStr(in)
    if (revision < ChProto.Revision) {
      ChProto.writeException(out, 1001, "UNSUPPORTED_CLIENT",
        s"client revision $revision < ${ChProto.Revision}")
      return
    }
    if (database.nonEmpty) session.sql(s"USE `$database`")
    ChProto.writeVarint(out, ChProto.Server.Hello)
    ChProto.writeStr(out, ChProto.ServerName)
    ChProto.writeVarint(out, ChProto.VersionMajor)
    ChProto.writeVarint(out, ChProto.VersionMinor)
    ChProto.writeVarint(out, ChProto.Revision)
    ChProto.writeStr(out, spark.conf.get("spark.sql.session.timeZone", "UTC"))
    ChProto.writeStr(out, ChProto.ServerName)
    ChProto.writeVarint(out, ChProto.VersionPatch)
    out.flush()
  }

  /** Query packet (messages.rs:277-340): id, client info, settings, stage,
    * compression, query text → run through the session, stream result
    * blocks, end of stream.
    */
  private def query(in: InputStream, out: OutputStream, session: GraftSession): Unit = {
    val _queryId = ChProto.readStr(in)
    // client info (protocol.rs:170-186)
    val _queryKind = ChProto.readVarint(in)
    (1 to 3).foreach(_ => ChProto.readStr(in)) // initial user/query id/address
    val _iface = ChProto.readVarint(in)
    (1 to 3).foreach(_ => ChProto.readStr(in)) // os user, hostname, client name
    val _cliVerMaj = ChProto.readVarint(in)
    val _cliVerMin = ChProto.readVarint(in)
    val _cliProto = ChProto.readVarint(in)
    val _quotaKey = ChProto.readStr(in)
    val _cliPatch = ChProto.readVarint(in)
    // settings: (name, flags varint, value string) triples terminated by an
    // empty name — STRINGS_WITH_FLAGS. Clients pick this serialization
    // because our advertised revision is >= 54429 (see ChProto.Revision;
    // older clients, which would send typed-binary settings this parser
    // cannot read, are rejected at Hello exactly as the reference rejects
    // them, messages.rs:255). The reference instead throws on any setting
    // but format_csv_delimiter (messages.rs:305-330); real clients send
    // max_threads/max_block_size on every query, so here recognized names
    // are APPLIED and the rest read and ignored. max_block_size overrides
    // the result-block row cap for this query only.
    var blockRows = BlockRows
    var settingName = ChProto.readStr(in)
    while (settingName.nonEmpty) {
      val _flags = ChProto.readVarint(in)
      val value = ChProto.readStr(in)
      if (settingName == "max_block_size")
        scala.util.Try(value.toLong).toOption
          .filter(n => n >= 1L && n <= (1L << 20))
          .foreach(n => blockRows = n.toInt)
      settingName = ChProto.readStr(in)
    }
    val _stage = ChProto.readVarint(in)
    // compression=1 switches BOTH directions to LZ4+CityHash frames for the
    // rest of this query (messages.rs:330-339 cctx.is_compressed)
    val compress = ChProto.readVarint(in) == 1L
    val queryText = ChProto.readStr(in)
    try {
      graft.parser.ChParser.parse(queryText) match {
        // INSERT with no inline payload: the client streams Data blocks
        // (the reference's DataEODPInsertQuery stage, messages.rs:55-66,
        // 180-203): reply with the table's header block, append each
        // incoming block, finish on the empty block.
        case Right(f: graft.parser.ChStatement.InsertFormat)
            if f.inlinePayload.trim.isEmpty =>
          val schema = session.dataSchema(f.db, f.name)
          // declared table schema: the Decimal(20,0) shape can only be the
          // UInt64 widening here (BqlType caps declarable decimals at 18).
          // LowCardinality columns advertise their declared type so the
          // client frames them with the real dict-block serialization.
          // the client waits for this header before streaming its blocks;
          // writeDataBlock flushes internally, so the turnaround is safe
          val lcTypes = session.lowCardinalityWireTypes(f.db, f.name)
          ChProto.writeDataBlock(out, schema, Seq.empty,
            isU64 = ChProto.tableShapeU64(schema), compress = compress,
            declared = lcTypes)
          // error handling splits by where the stream position is known:
          //  - a DECODE failure (unparseable block body, bad frame
          //    checksum) leaves the inbound stream mid-block — no resync
          //    is possible, sever via ProtocolDesync;
          //  - an APPLY failure (insertBlock rejects a well-formed block)
          //    leaves the stream at a packet boundary — drain the
          //    client's remaining blocks to the terminator, then answer
          //    with a normal Exception on an in-sync connection.
          var open = true
          var cancelled = false
          var applyError: Throwable = null
          // Received blocks BUFFER before landing: each flush writes one
          // part per partition directory and runs every subscribed
          // view's SELECT once, so landing per block would multiply
          // small parts and view jobs while decode costs almost nothing.
          // Buffered rows flush at FlushRows, at the stream terminator,
          // and on Cancel — every block the client SENT still lands
          // (same contract as per-block appends; the reference also
          // batches into memtables before its part writes). Error
          // semantics unchanged: a flush failure records the apply error
          // and the remaining stream drains to the terminator. Rows
          // buffer CONVERTED (InternalRow) so the external->Catalyst cost
          // — the measured bottleneck of the flush itself (PERF.md r19) —
          // is paid here on the parallel per-connection threads; the
          // direct part writer then encodes on this thread too.
          val toInternal =
            org.apache.spark.sql.GraftSqlBridge.rowSerializer(schema)
          val buffered = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.catalyst.InternalRow]
          def flushBuffered(): Unit =
            if (buffered.nonEmpty && applyError == null) {
              try session.insertBlockInternal(
                f.db, f.name, buffered.toVector, schema)
              catch { case NonFatal(e) => applyError = e }
              buffered.clear()
            } else buffered.clear()
          // buffering must not weaken durability vs the reference's
          // apply-on-arrival (ADVICE r18): blocks FULLY received before a
          // desync / unexpected packet still land — the finally flush
          // covers every abnormal exit from the loop (normal exits have
          // already flushed and cleared). A flush failure here must not
          // mask the original error.
          try {
          while (open) {
            ChProto.readVarint(in) match {
              case ChProto.Client.Data =>
                val block =
                  try ChProto.readDataBlock(in, compressed = compress)
                  catch { case NonFatal(e) =>
                    throw new ChWireServer.ProtocolDesync(
                      s"undecodable Data block during INSERT: $e")
                  }
                if (block.nRows == 0) { flushBuffered(); open = false }
                else if (applyError == null) {
                  try buffered ++=
                    ChProto.blockToRows(block, schema).map(toInternal)
                  catch { case NonFatal(e) => applyError = e }
                  if (buffered.length >= ChWireServer.FlushRows)
                    flushBuffered()
                }
              case ChProto.Client.Cancel =>
                // client aborted the stream (Ctrl+C). Blocks already
                // received stay applied — the reference applies each block
                // on arrival too (messages.rs:180-203) — and the client
                // sends nothing further for this query, so acknowledging
                // with EndOfStream leaves the connection in sync — even if
                // an earlier block was rejected: the abort moots the error
                flushBuffered()
                cancelled = true
                open = false
              case other =>
                // any other packet mid-stream means the framing is lost;
                // answering with an Exception and continuing would misread
                // the client's buffered blocks as packet codes — sever
                throw new ChWireServer.ProtocolDesync(
                  s"expected Data/Cancel during INSERT, got $other")
            }
          }
          } finally {
            if (open) { // abnormal exit: loop left by exception
              try flushBuffered() catch { case NonFatal(_) => () }
            }
          }
          if (!cancelled && applyError != null) throw applyError
          ChProto.writeEndOfStream(out)
        case _ =>
          val df = session.sql(queryText)
          if (df.schema.fields.nonEmpty) {
            import scala.jdk.CollectionConverters._
            val schema = df.schema
            // query results carry derived Decimal(20,0)s (e.g. sum over a
            // Decimal(10,0) column) — only lineage-proven UInt64 columns
            // may take the u64 wire form
            val u64 = WireTypes.uint64Positions(df)
            // identity-lineage Enum columns ship as Enum8/16 with int
            // codes and LowCardinality columns with dict-block framing
            // (CH's native forms) instead of plain String columns
            val enums = WireTypes.declaredWireTypes(df)
            // leading zero-row header block: clients (incl. our remote())
            // learn the result structure even when no rows come back
            ChProto.writeDataBlock(out, schema, Seq.empty,
              isU64 = u64, compress = compress, declared = enums)
            // a flushed Progress packet goes out BEFORE each group is
            // pulled from the iterator — the silent period is exactly
            // while the next group's partitions are being computed, so a
            // progress written after the fetch (or batched into the data
            // block's flush) delivers no liveness at all. Progress bodies
            // are never compressed (only Data blocks ride the LZ4 frames)
            var rowsSent = 0L
            ChProto.writeProgress(out, 0L, 0L); out.flush()
            // A Cancel packet (Ctrl+C) may arrive WHILE the result is
            // streaming: between blocks, drain any buffered client
            // packets — Cancel stops the stream (EndOfStream follows, CH's
            // contract); anything else mid-query means the framing is
            // lost. Polling via available() never blocks the stream.
            var cancelled = false
            val groups = df.toLocalIterator().asScala.grouped(blockRows)
            while (!cancelled && groups.hasNext) {
              val rows = groups.next()
              rowsSent += rows.size
              ChProto.writeDataBlock(out, schema, rows.toSeq,
                isU64 = u64, compress = compress, declared = enums)
              // covers the computation of the NEXT group (or the EOS)
              ChProto.writeProgress(out, rowsSent, 0L); out.flush()
              while (!cancelled && in.available() > 0) {
                ChProto.readVarint(in) match {
                  case ChProto.Client.Cancel => cancelled = true
                  case other => throw new ChWireServer.ProtocolDesync(
                    s"expected Cancel during SELECT stream, got $other")
                }
              }
            }
          }
          // result fully streamed: retire the processlist entry (until
          // here the SELECT stays KILLable mid-stream)
          session.finishQuery()
          ChProto.writeEndOfStream(out)
      }
    } catch {
      // a desync is unrecoverable per-connection: let it propagate so the
      // serve loop closes the socket instead of keeping a misframed stream
      case d: ChWireServer.ProtocolDesync => throw d
      case NonFatal(e) =>
        ChProto.writeException(out, 1000, e.getClass.getSimpleName,
          String.valueOf(e.getMessage))
    }
  }
}

object ChWireServer {
  /** Rows buffered per INSERT stream before an append lands (the append
    * is commit-bound, not size-bound — see PERF.md r18).
    */
  private[server] val FlushRows = 262144

  /** The connection's packet framing is lost — close, don't answer. */
  private[server] final class ProtocolDesync(msg: String)
    extends RuntimeException(msg)
}
