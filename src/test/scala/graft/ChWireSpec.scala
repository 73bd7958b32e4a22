package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftRestart

import graft.server.{ChProto, ChWireServer}

/** Drives a real TCP socket through the ClickHouse-native framing:
  * Hello handshake, Ping/Pong, and a CREATE / INSERT / SELECT round-trip —
  * the shape of the reference's wire-level sanity suite
  * (crates/tests_integ/tests/sanity_checks.rs) minus a real
  * clickhouse-client, which this environment does not ship;
  * [[WireTestClient]] implements the client half of the same framing
  * (messages.rs:234-340).
  */
class ChWireSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("an INDEPENDENT python-stdlib client speaks the native framing " +
    "(no shared code with the server; uncompressed mode — the LZ4 frames " +
    "are pinned against reference golden bytes in ChCompressionSpec)") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_ch_probe",
        "CREATE TABLE py_ch_probe(a Int32, s Nullable(String), f Float64)",
        "INSERT INTO py_ch_probe VALUES (1, 'x', 1.5), (2, NULL, -0.25)",
        "SELECT a, s, f FROM py_ch_probe ORDER BY a",
        "SELECT CAST(sum(a) AS BIGINT) AS total FROM py_ch_probe",
        "DROP TABLE py_ch_probe")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains(""""columns": ["a", "s", "f"]"""), json)
      // query results surface Nullable-wrapped on the wire (Spark SELECT
      // output columns are nullable regardless of the stored schema)
      assert(json.contains(
        """["Nullable(Int32)", "Nullable(String)", "Nullable(Float64)"]"""),
        json)
      assert(json.contains("""[1, "x", 1.5]"""), json)
      assert(json.contains("""[2, null, -0.25]"""), json)
      assert(json.contains(""""rows": [[3]]"""), json)
    } finally server.stop()
  }

  test("INDEPENDENT python probe speaks the COMPRESSED transport in both " +
    "directions (pure-python CityHash128 v1.0.2 + LZ4 block codec; " +
    "frames >128 bytes exercise the long-input hash path)") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py", "--compress",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_lz4_probe",
        "CREATE TABLE py_lz4_probe(a Int64, s String)",
        // client-compressed INSERT frames (the server verifies their
        // checksums), then a SELECT whose result blocks come back framed
        """INSERT INTO py_lz4_probe FORMAT Native :: [[1, "alpha"], [2, "beta"], [3, "gamma"], [4, "delta"]]""",
        "SELECT a, s FROM py_lz4_probe ORDER BY a",
        // > 128-byte result blocks: the probe must verify the server's
        // CityHash128 over a multi-kilobyte frame
        "SELECT number AS n, repeat('x', 64) AS pad FROM numbers(500) ORDER BY n",
        "SELECT CAST(sum(a) AS BIGINT) AS total FROM py_lz4_probe",
        "DROP TABLE py_lz4_probe")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains(""""compressed": true"""), json)
      assert(json.contains(""""inserted": 4"""), json)
      assert(json.contains("""[1, "alpha"]"""), json)
      assert(json.contains("""[4, "delta"]"""), json)
      assert(json.contains(""""rows": [[10]]"""), json)
      assert(json.contains("""[499, """), json)
    } finally server.stop()
  }

  test("COMPRESSED-transport canary: DateTime64 sub-second ticks and " +
    "Array columns (incl. Nullable elements) survive the LZ4+CityHash " +
    "frames bit-exactly (r17 wire canary)") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py", "--compress",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_c17_probe",
        "CREATE TABLE py_c17_probe(id Int64, t DateTime64(3), a Array(Int64))",
        "INSERT INTO py_c17_probe VALUES " +
          "(1, '2021-03-04 05:06:07.890', [1, 2, 3]), " +
          "(2, '2021-03-04 05:06:08.001', []), " +
          "(3, '2021-03-04 05:06:09.999', [42])",
        "SELECT id, t, a FROM py_c17_probe ORDER BY id",
        "SELECT array(NULL, 7) AS na",
        "DROP TABLE py_c17_probe")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains(""""compressed": true"""), json)
      // the wire carrier is DateTime64(6) (lossless microsecond ticks;
      // the u32-seconds DateTime form truncated these before r17)
      assert(json.contains(""""Nullable(DateTime64(6))""""), json)
      assert(json.contains("[1, 1614834367890000, [1, 2, 3]]"), json)
      assert(json.contains("[2, 1614834368001000, []]"), json)
      assert(json.contains("[3, 1614834369999000, [42]]"), json)
      assert(json.contains("[[null, 7]]"), json)
    } finally server.stop()
  }

  test("INDEPENDENT python probe cancels a SELECT mid-stream: the server " +
    "cuts the stream with EndOfStream and the connection stays usable") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py",
        server.boundPort.toString,
        "CANCEL_AFTER_FIRST :: SELECT number AS n FROM numbers(2000000)",
        "SELECT 41 + 1 AS ok") // framing survived the cancel
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains(""""cancelled": true"""), json)
      val rows = """"rows_before_eos": (\d+)""".r
        .findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(fail(s"no rows_before_eos in $json"))
      assert(rows > 0 && rows < 2000000L,
        s"cancel must cut the 2M-row stream short, got $rows")
      assert(json.contains(""""rows": [[42]]"""), json)
    } finally server.stop()
  }

  test("8 wire clients INSERT concurrently into ONE table: the per-table " +
    "append lock serializes the committer and every row lands exactly " +
    "once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val server = new ChWireServer(spark).start()
    val setup = new WireTestClient(server.boundPort)
    try {
      setup.hello()
      setup.query("DROP TABLE IF EXISTS wire_conc")
      setup.query("CREATE TABLE wire_conc(w Int32, v Int32)")
      val schema = StructType(Seq(
        StructField("w", IntegerType), StructField("v", IntegerType)))
      Await.result(Future.sequence((1 to 8).toVector.map { w =>
        Future {
          val c = new WireTestClient(server.boundPort)
          try {
            c.hello()
            c.insertStream("INSERT INTO wire_conc FORMAT Native", schema,
              Seq((1 to 50).map(v => Row(w, v))))
          } finally c.close()
        }
      }), 120.seconds)
      assert(setup.scalar("SELECT count(*) FROM wire_conc") === 400L)
      // every (w, v) pair exactly once and every writer's sum intact
      assert(setup.scalar("SELECT count(*) FROM " +
        "(SELECT w, v FROM wire_conc GROUP BY w, v HAVING count(*) > 1)")
        === 0L)
      assert(setup.scalar(
        "SELECT CAST(sum(v) AS BIGINT) FROM wire_conc") === 8L * 1275L)
      setup.query("DROP TABLE wire_conc")
    } finally {
      setup.close()
      server.stop()
    }
  }

  test("hello, ping, and CREATE/INSERT/SELECT round-trip over the socket") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      val (name, rev) = client.hello()
      assert(name === ChProto.ServerName)
      assert(rev === ChProto.Revision)
      assert(client.ping())

      client.query("DROP TABLE IF EXISTS wire_tab")
      client.query("CREATE TABLE wire_tab(a Int32, s String, d Date)")
      client.query(
        "INSERT INTO wire_tab VALUES (1, 'x', '2021-01-05'), (2, 'y', '2022-07-01')")

      val b = client.rows(
        "SELECT a, s, d, CAST(NULL AS INT) AS nn FROM wire_tab ORDER BY a")
      assert(b.map(_.name) === Vector("a", "s", "d", "nn"))
      // engine-table columns are nullable unless declared NOT NULL, and the
      // wire type reports that honestly
      assert(b(0).chType === "Nullable(Int32)")
      assert(b(0).values === Vector(1, 2))
      assert(b(1).values === Vector("x", "y"))
      assert(b(2).values === Vector(
        java.time.LocalDate.parse("2021-01-05"),
        java.time.LocalDate.parse("2022-07-01")))
      assert(b(3).chType.startsWith("Nullable("))
      assert(b(3).values === Vector(null, null))

      // aggregate comes back typed (sum(Int32) -> Int64 wire type)
      val agg = client.rows(
        "SELECT CAST(sum(a) AS BIGINT) AS s FROM wire_tab")
      assert(agg(0).chType === "Nullable(Int64)")
      assert(agg(0).values === Vector(3L))

      client.query("DROP TABLE wire_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("CH dialect clauses work over the wire: LIMIT BY and WITH TOTALS") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.query("DROP TABLE IF EXISTS wire_lb")
      client.query("CREATE TABLE wire_lb(k String, v Int32)")
      client.query(
        "INSERT INTO wire_lb VALUES ('a', 3), ('a', 2), ('a', 1), ('b', 9), ('b', 8)")

      // top-1 per k by v DESC, through the full native-protocol path
      val lb = client.rows(
        "SELECT k, v FROM wire_lb ORDER BY v DESC, k LIMIT 1 BY k")
      assert(lb(0).values === Vector("b", "a"))
      assert(lb(1).values === Vector(9, 3))

      // per-group sums plus the grand-total row (NULL key) in one pass
      val wt = client.rows(
        "SELECT k, CAST(sum(v) AS BIGINT) AS s FROM wire_lb " +
          "GROUP BY k WITH TOTALS ORDER BY k NULLS FIRST")
      assert(wt(0).values === Vector(null, "a", "b"))
      assert(wt(1).values === Vector(23L, 6L, 17L))

      // LIMIT n WITH TIES: 9 is rank 1; both 9s would tie if duplicated —
      // here v=8,9 distinct so ask where ties exist: k ties on 'a'/'b'
      val ties = client.rows(
        "SELECT k FROM wire_lb ORDER BY k LIMIT 2 WITH TIES")
      assert(ties(0).values === Vector("a", "a", "a"))

      client.query("DROP TABLE wire_lb")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("a clickhouse-client-shaped query works over the wire: trailing " +
    "FORMAT + SETTINGS, count(), ANY JOIN, array literals") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.query("DROP TABLE IF EXISTS wire_cc")
      client.query("CREATE TABLE wire_cc(k Int64, v Int64) " +
        "ENGINE=MergeTree ORDER BY k")
      client.query("INSERT INTO wire_cc VALUES (1, 10), (1, 11), (2, 20)")
      val n = client.rows("SELECT count() AS n FROM wire_cc " +
        "WHERE v IN [10, 20] SETTINGS max_threads = 2 FORMAT TabSeparated")
      assert(n(0).values === Vector(2L))
      val aj = client.rows("SELECT t1.k AS k, t2.v AS v2 FROM wire_cc t1 " +
        "ANY LEFT JOIN wire_cc t2 USING k ORDER BY k, t1.v")
      assert(aj(0).values === Vector(1L, 1L, 2L))
      assert(aj(1).values === Vector(10L, 10L, 20L))
      client.query("DROP TABLE wire_cc")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("Array(T) columns and the array HOFs work over the wire") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_arr")
      client.query("CREATE TABLE wire_arr(k Int32, v Array(Int32))")
      val schema = StructType(Seq(
        StructField("k", IntegerType),
        StructField("v", ArrayType(IntegerType, containsNull = false))))
      client.insertStream(
        "INSERT INTO wire_arr FORMAT Native", schema,
        Seq(Seq(Row(1, Seq(3, 1, 2)), Row(2, Seq.empty[Int]), Row(3, Seq(9)))))

      // arrays round-trip as CH native Array(Int32) columns
      val got = client.rows("SELECT k, v FROM wire_arr ORDER BY k")
      assert(got(0).values === Vector(1, 2, 3))
      assert(got(1).values === Vector(Vector(3, 1, 2), Vector(), Vector(9)))

      // the higher-order dialect functions execute server-side and the
      // derived arrays stream back in native encoding
      val hof = client.rows(
        "SELECT k, arraySort(v) AS sorted, arrayMap(x -> x * 10, v) AS x10, " +
          "CAST(arraySum(v) AS BIGINT) AS s FROM wire_arr ORDER BY k")
      assert(hof(1).values === Vector(Vector(1, 2, 3), Vector(), Vector(9)))
      assert(hof(2).values === Vector(Vector(30, 10, 20), Vector(), Vector(90)))
      assert(hof(3).values === Vector(6L, 0L, 9L))

      client.query("DROP TABLE wire_arr")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("CTAS and MATERIALIZED VIEW work over the wire") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.query("DROP TABLE IF EXISTS wire_mv; DROP TABLE IF EXISTS wire_ctas; " +
        "DROP TABLE IF EXISTS wire_base")
      client.query("CREATE TABLE wire_base(k String, v Int32)")
      client.query("INSERT INTO wire_base VALUES ('a', 1), ('b', 2)")
      client.query("CREATE TABLE wire_ctas AS SELECT k, CAST(v * 10 AS INT) " +
        "AS v10 FROM wire_base")
      val ctas = client.rows("SELECT k, v10 FROM wire_ctas ORDER BY k")
      assert(ctas(1).values === Vector(10, 20))

      client.query("CREATE MATERIALIZED VIEW wire_mv AS " +
        "SELECT k FROM wire_base WHERE v >= 5")
      client.query("INSERT INTO wire_base VALUES ('c', 7), ('d', 3)")
      val mv = client.rows("SELECT k FROM wire_mv")
      assert(mv(0).values === Vector("c"))
      client.query("DROP TABLE wire_mv; DROP TABLE wire_ctas; DROP TABLE wire_base")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("system.restore_errors is queryable over the native wire: a " +
    "client can see what failed to restore at this connection's boot") {
    // poison a persisted-MV meta script in a fresh catalog's warehouse so
    // the catalog's boot restore (which every connection's handle shares)
    // records a failure the connection can read
    val s = GraftRestart.isolated(spark)
    val wh = java.nio.file.Paths.get(new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath)
    val meta = wh.resolve("_graft_meta").resolve("default")
      .resolve("wire_poison.sql")
    java.nio.file.Files.createDirectories(meta.getParent)
    java.nio.file.Files.writeString(meta,
      "CREATE MATERIALIZED VIEW wire_poison AS " +
        "SELECT * FROM no_such_wire_table_xyz")
    val server = new ChWireServer(s).start()
    val client = new WireTestClient(server.boundPort)
    try {
      val b = client.rows("SELECT database, `table`, kind, error " +
        "FROM system.restore_errors WHERE `table` = 'wire_poison'")
      assert(b.map(_.name) === Vector("database", "table", "kind", "error"))
      assert(b(0).values === Vector("default"))
      assert(b(1).values === Vector("wire_poison"))
      assert(b(2).values === Vector("materialized view"))
      assert(b(3).values.head != null &&
        b(3).values.head.toString.nonEmpty)
    } finally {
      client.close()
      server.stop()
      java.nio.file.Files.deleteIfExists(meta): Unit
    }
  }

  test("client-streamed INSERT Data blocks (DataEODPInsertQuery stage)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_stream_tab")
      client.query("CREATE TABLE wire_stream_tab(a Int32, s String)")
      val schema = StructType(Seq(
        StructField("a", IntegerType), StructField("s", StringType)))
      val header = client.insertStream(
        "INSERT INTO wire_stream_tab FORMAT Native", schema,
        Seq(Seq(Row(1, "x"), Row(2, "y")), Seq(Row(3, null))))
      // the header block advertises the table structure, zero rows
      assert(header.nRows === 0)
      assert(header.columns.map(_.name) === Vector("a", "s"))

      val got = client.rows("SELECT a, s FROM wire_stream_tab ORDER BY a")
      assert(got(0).values === Vector(1, 2, 3))
      assert(got(1).values === Vector("x", "y", null))
      client.query("DROP TABLE wire_stream_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("INDEPENDENT python probe frames LowCardinality INSERT with dict blocks") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_lc_probe",
        "CREATE TABLE py_lc_probe(a Int32, lc LowCardinality(String))",
        // the probe's own LC encoder (written from the wire format, no
        // shared code) streams the dict-block framing the header declares
        """INSERT INTO py_lc_probe FORMAT Native :: [[1, "aa"], [2, "bb"], [3, "aa"]]""",
        "SELECT a, lc FROM py_lc_probe ORDER BY a",
        "DROP TABLE py_lc_probe")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains(""""header_types": ["Nullable(Int32)", "LowCardinality(String)"]"""), json)
      assert(json.contains(""""inserted": 3"""), json)
      assert(json.contains("""[1, "aa"]"""), json)
      assert(json.contains("""[2, "bb"]"""), json)
      assert(json.contains("""[3, "aa"]"""), json)
    } finally server.stop()
  }

  test("LowCardinality(String) INSERT+SELECT round-trips with real dict-block framing") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_lc_tab")
      client.query("CREATE TABLE wire_lc_tab(id Int32, lc LowCardinality(String))")
      val schema = StructType(Seq(
        StructField("id", IntegerType), StructField("lc", StringType)))
      // the header must advertise the declared LC type — that is what
      // tells a real client to use the dict-block framing
      val header = client.insertStream(
        "INSERT INTO wire_lc_tab FORMAT Native", schema,
        Seq(Seq(Row(1, "aa"), Row(2, "bb"), Row(3, "aa")), Seq(Row(4, "cc"))))
      assert(header.columns.map(_.chType) ===
        Vector("Nullable(Int32)", "LowCardinality(String)"))
      val got = client.rows("SELECT id, lc FROM wire_lc_tab ORDER BY id")
      assert(got(0).values === Vector(1, 2, 3, 4))
      assert(got(1).values === Vector("aa", "bb", "aa", "cc"))
      // SELECT results ship LC columns with dict-block framing too (what
      // a real CH server sends for the declared type); the inner wraps
      // Nullable because the query output attribute is nullable
      assert(got(1).chType === "LowCardinality(Nullable(String))",
        got(1).chType)
      // an expression over the LC column degrades to plain String
      val up = client.rows(
        "SELECT upper(lc) AS u FROM wire_lc_tab ORDER BY id")
      assert(up(0).chType === "Nullable(String)", up(0).chType)
      client.query("DROP TABLE wire_lc_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("LC codec: golden bytes match the reference dict-block layout (blocks.rs:480-531)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.types.BqlType
    val schema = StructType(Seq(StructField("s", StringType, nullable = false)))
    val buf = new java.io.ByteArrayOutputStream()
    ChProto.writeDataBlock(buf, schema, Seq(Row("a"), Row("b"), Row("a")),
      declared = _ => Some(BqlType.LowCardinality(BqlType.Str)))
    val bytes = buf.toByteArray
    // packet code 1, temp-table "", block info (1,0)(2,-1)(0), 1 col 3 rows
    val preamble = Array[Byte](1, 0, 1, 0, 2, -1, -1, -1, -1, 0, 1, 3)
    assert(bytes.take(preamble.length).toSeq === preamble.toSeq)
    var off = preamble.length
    assert(bytes(off) === 1.toByte && bytes(off + 1) === 's'.toByte); off += 2
    val tn = "LowCardinality(String)".getBytes("UTF-8")
    assert(bytes(off) === tn.length.toByte); off += 1
    assert(bytes.slice(off, off + tn.length).toSeq === tn.toSeq); off += tn.length
    // u64 keys-serialization version = 1
    assert(bytes.slice(off, off + 8).toSeq ===
      Seq[Byte](1, 0, 0, 0, 0, 0, 0, 0)); off += 8
    // u64 flags = ADDITIONAL_KEY(0x200) | NEED_UPDATE(0x400) | u8 width(0)
    assert(bytes.slice(off, off + 8).toSeq ===
      Seq[Byte](0, 6, 0, 0, 0, 0, 0, 0)); off += 8
    // u64 dict size = 2, then varstr dict entries "a", "b"
    assert(bytes.slice(off, off + 8).toSeq ===
      Seq[Byte](2, 0, 0, 0, 0, 0, 0, 0)); off += 8
    assert(bytes.slice(off, off + 4).toSeq ===
      Seq[Byte](1, 'a'.toByte, 1, 'b'.toByte)); off += 4
    // u64 row count = 3, then u8 codes 0 1 0
    assert(bytes.slice(off, off + 8).toSeq ===
      Seq[Byte](3, 0, 0, 0, 0, 0, 0, 0)); off += 8
    assert(bytes.slice(off, off + 3).toSeq === Seq[Byte](0, 1, 0)); off += 3
    assert(off === bytes.length)
  }

  test("LC codec: u16 key width past 256 dict entries; Nullable inner maps index 0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.types.BqlType
    // > 256 distinct values forces the u16 index form
    val schema = StructType(Seq(StructField("s", StringType)))
    val vals = (0 until 300).map(i => s"v$i") ++ (0 until 300).map(i => s"v$i")
    val buf = new java.io.ByteArrayOutputStream()
    ChProto.writeDataBlock(buf, schema, vals.map(Row(_)),
      declared = _ => Some(BqlType.LowCardinality(BqlType.Str)))
    val in = new java.io.ByteArrayInputStream(buf.toByteArray)
    assert(ChProto.readVarint(in) === ChProto.Server.Data)
    val blk = ChProto.readDataBlock(in)
    assert(blk.columns(0).chType === "LowCardinality(String)")
    assert(blk.columns(0).values === vals.toVector)

    // Nullable inner: dictionary index 0 is the null entry
    val withNulls: Seq[Any] = Seq("x", null, "y", "x", null)
    val buf2 = new java.io.ByteArrayOutputStream()
    ChProto.writeDataBlock(buf2, schema, withNulls.map(Row(_)),
      declared = _ => Some(BqlType.LowCardinality(BqlType.Nullable(BqlType.Str))))
    val in2 = new java.io.ByteArrayInputStream(buf2.toByteArray)
    assert(ChProto.readVarint(in2) === ChProto.Server.Data)
    val blk2 = ChProto.readDataBlock(in2)
    assert(blk2.columns(0).chType === "LowCardinality(Nullable(String))")
    assert(blk2.columns(0).values === withNulls.toVector)

    // a zero-row block (the INSERT header) carries only the version prefix
    val buf3 = new java.io.ByteArrayOutputStream()
    ChProto.writeDataBlock(buf3, schema, Seq.empty,
      declared = _ => Some(BqlType.LowCardinality(BqlType.Str)))
    val in3 = new java.io.ByteArrayInputStream(buf3.toByteArray)
    assert(ChProto.readVarint(in3) === ChProto.Server.Data)
    val blk3 = ChProto.readDataBlock(in3)
    assert(blk3.nRows === 0)
    assert(in3.available() === 0) // nothing after the prefix
  }

  test("true UInt64 keeps its wire form; derived Decimal(20,0) ships as text") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_u64_tab")
      client.query("CREATE TABLE wire_u64_tab(u UInt64, d Decimal(10, 0))")
      client.query(
        "INSERT INTO wire_u64_tab VALUES (18446744073709551615, -5), (1, -6)")

      // the declared UInt64 column takes the u64 wire form, full range intact
      val u = client.rows("SELECT u FROM wire_u64_tab ORDER BY u")
      assert(u(0).chType === "Nullable(UInt64)")
      assert(u(0).values === Vector(
        java.math.BigInteger.ONE,
        new java.math.BigInteger("18446744073709551615")))

      // identity lineage survives aliasing and subqueries
      val al = client.rows(
        "SELECT renamed FROM (SELECT u AS renamed FROM wire_u64_tab) WHERE renamed = 1")
      assert(al(0).chType === "Nullable(UInt64)")

      // sum over Decimal(10,0) is Decimal(20,0) by SHAPE but no UInt64: it
      // must ship as text — as a u64 the negative total would arrive as
      // huge unsigned garbage (the low 64 bits of the unscaled value)
      val s = client.rows("SELECT sum(d) AS s FROM wire_u64_tab")
      assert(s(0).chType === "Nullable(String)")
      assert(s(0).values === Vector("-11"))

      // sum over UInt64 gets overflow headroom past 2^64 and also rides as
      // text (Decimal(30,0) exceeds the reference's 8-byte decimal storage)
      val su = client.rows("SELECT sum(u) AS su FROM wire_u64_tab")
      assert(su(0).chType === "Nullable(String)")
      assert(su(0).values === Vector("18446744073709551616"))

      client.query("DROP TABLE wire_u64_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("connections are isolated: USE on one does not move the other") {
    val server = new ChWireServer(spark).start()
    val c1 = new WireTestClient(server.boundPort)
    val c2 = new WireTestClient(server.boundPort)
    try {
      c1.hello(); c2.hello()
      c1.query("CREATE DATABASE IF NOT EXISTS wire_iso_db")
      c1.query("USE wire_iso_db")
      c1.query("DROP TABLE IF EXISTS iso_tab")
      c1.query("CREATE TABLE iso_tab(v Int32)")
      c1.query("INSERT INTO iso_tab VALUES (5)")
      // c2 still resolves against default; the unqualified name must fail
      val err = intercept[RuntimeException](c2.query("SELECT v FROM iso_tab"))
      assert(err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
        err.getMessage.toLowerCase.contains("cannot be found"))
      // but the qualified name works from any connection
      assert(c2.scalar("SELECT v FROM wire_iso_db.iso_tab") === 5)
      c1.query("DROP DATABASE wire_iso_db")
    } finally {
      c1.close(); c2.close()
      server.stop()
    }
  }

  test("per-query settings are applied (max_block_size) or ignored (unknown)") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      // max_block_size=3 over a 10-row result: blocks are capped at 3 rows
      // (header + 4 data blocks), and the data still round-trips intact.
      // max_threads — which every real client sends — is read and ignored
      // rather than rejected (the reference throws, messages.rs:305-330).
      val (blocks, progress) = client.queryWithProgress(
        "SELECT number AS id FROM numbers(10) ORDER BY id",
        settings = Seq("max_block_size" -> "3", "max_threads" -> "8"))
      val data = blocks.filter(_.nRows > 0)
      assert(data.map(_.nRows) === Seq(3, 3, 3, 1))
      assert(data.flatMap(_.columns.head.values) === (0L until 10L))
      // a flushed Progress packet brackets every computation window: one
      // before the first fetch, then one after each block (covering the
      // next group's computation), cumulative rows
      assert(progress === Seq(0L, 3L, 6L, 9L, 10L))
      // malformed values fall back to the default block size
      val ok = client.query("SELECT 1 AS x",
        settings = Seq("max_block_size" -> "not-a-number"))
      assert(ok.exists(_.nRows === 1))
    } finally {
      client.close()
      server.stop()
    }
  }

  test("Cancel mid-INSERT stops the stream cleanly; connection stays usable") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_cancel_tab")
      client.query("CREATE TABLE wire_cancel_tab(a Int32)")
      val schema = StructType(Seq(StructField("a", IntegerType)))
      // one block lands, then the client aborts with Cancel (Ctrl+C):
      // the server must answer EndOfStream, keep the applied block
      // (blocks apply on arrival, messages.rs:180-203), and keep the
      // connection's packet framing intact for the next statement
      client.insertStreamCancel("INSERT INTO wire_cancel_tab FORMAT Native",
        schema, Seq(Seq(Row(7), Row(8))))
      assert(client.ping())
      assert(client.rows("SELECT a FROM wire_cancel_tab ORDER BY a")
        .head.values === Vector(7, 8))
      // a rejected block followed by Cancel still acknowledges with
      // EndOfStream — the abort moots the pending apply error
      val wrong = StructType(Seq(
        StructField("a", IntegerType), StructField("b", IntegerType)))
      client.insertStreamCancel("INSERT INTO wire_cancel_tab FORMAT Native",
        wrong, Seq(Seq(Row(1, 2))))
      assert(client.ping())
      client.query("DROP TABLE wire_cancel_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("a rejected INSERT block drains the stream and answers in sync") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_badins_tab")
      client.query("CREATE TABLE wire_badins_tab(a Int32)")
      // client streams 2-column blocks into a 1-column table: every block
      // is wire-decodable but fails the apply-side arity check. The
      // server must drain BOTH blocks plus the terminator (the client has
      // already buffered them), then answer one Exception on a connection
      // whose framing still works for the next statement
      val wrong = StructType(Seq(
        StructField("a", IntegerType), StructField("b", IntegerType)))
      val err = client.insertStreamExpectError(
        "INSERT INTO wire_badins_tab FORMAT Native", wrong,
        Seq(Seq(Row(1, 2)), Seq(Row(3, 4))))
      assert(err.toLowerCase.contains("arity"))
      assert(client.ping())
      assert(client.scalar("SELECT count(*) AS n FROM wire_badins_tab") === 0L)
      client.query("DROP TABLE wire_badins_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("an undecodable INSERT block severs the connection without a reply") {
    import org.apache.spark.sql.types._
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    val witness = new WireTestClient(server.boundPort)
    try {
      client.hello(); witness.hello()
      client.query("DROP TABLE IF EXISTS wire_garbage_tab")
      client.query("CREATE TABLE wire_garbage_tab(a Int32)")
      val schema = StructType(Seq(StructField("a", IntegerType)))
      // mid-block decode failure: the inbound stream cannot be resynced,
      // so the server must close this connection (EOF, no Exception
      // packet whose followers would be misframed) and leave others alone
      assert(client.insertStreamGarbage(
        "INSERT INTO wire_garbage_tab FORMAT Native", schema),
        "expected a clean EOF, not a server reply on a misframed stream")
      assert(witness.ping(), "other connections must be unaffected")
      witness.query("DROP TABLE wire_garbage_tab")
    } finally {
      client.close(); witness.close()
      server.stop()
    }
  }

  test("Map/Tuple/Enum columns round-trip over TCP with CH-native framing " +
    "(VERDICT r17 task #3: d25-shaped table; Enum ships as base ints with " +
    "the Enum8 type-name metadata via identity lineage)") {
    val server = new ChWireServer(spark).start()
    val client = new WireTestClient(server.boundPort)
    try {
      client.hello()
      client.query("DROP TABLE IF EXISTS wire_rich")
      client.query("CREATE TABLE wire_rich(k Int64, " +
        "st Enum8('low' = 1, 'high' = 2), " +
        "tags Map(String, Int64), pos Tuple(x Int64, y String))")
      client.query("INSERT INTO wire_rich SELECT 1, 'high', " +
        "map('a', CAST(10 AS BIGINT), 'b', CAST(20 AS BIGINT)), " +
        "named_struct('x', CAST(7 AS BIGINT), 'y', 'p1') " +
        "UNION ALL SELECT 2, 'low', map('c', CAST(5 AS BIGINT)), " +
        "named_struct('x', CAST(-3 AS BIGINT), 'y', 'p2')")

      val b = client.rows(
        "SELECT k, st, tags, pos FROM wire_rich ORDER BY k")
      // Map/Tuple are never Nullable on the wire (CH forbids it); the
      // Enum column ships with its full entries metadata
      assert(b(1).chType === "Nullable(Enum8('low' = 1, 'high' = 2))")
      // parquet marks map values / struct fields containsNull, so the
      // inner types surface Nullable-wrapped — valid CH, honestly typed
      assert(b(2).chType
        .matches("Map\\(String, (Nullable\\()?Int64\\)?\\)"), b(2).chType)
      assert(b(3).chType.matches(
        "Tuple\\(x (Nullable\\()?Int64\\)?, y (Nullable\\()?String\\)?\\)"),
        b(3).chType)
      // Enum decodes back to its NAMES through the entry table
      assert(b(1).values === Vector("high", "low"))
      assert(b(2).values === Vector(
        Map("a" -> 10L, "b" -> 20L), Map("c" -> 5L)))
      assert(b(3).values.map { case r: org.apache.spark.sql.Row =>
        (r.get(0), r.get(1)) } === Vector((7L, "p1"), (-3L, "p2")))

      // an expression over the enum is a plain String again (lineage
      // broken — shipping it as Enum would lie about the type)
      val up = client.rows(
        "SELECT upper(st) AS u FROM wire_rich ORDER BY k")
      assert(up(0).chType === "Nullable(String)")
      assert(up(0).values === Vector("HIGH", "LOW"))
      client.query("DROP TABLE wire_rich")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("INDEPENDENT python probe decodes Map and Enum columns " +
    "(no shared decode code with the server)") {
    val server = new ChWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/ch_wire_probe.py",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_rich",
        "CREATE TABLE py_rich(k Int64, st Enum8('low' = 1, 'high' = 2), " +
          "tags Map(String, Int64))",
        "INSERT INTO py_rich SELECT CAST(1 AS BIGINT), 'high', " +
          "map('a', CAST(10 AS BIGINT)) " +
          "UNION ALL SELECT CAST(2 AS BIGINT), 'low', " +
          "map('b', CAST(20 AS BIGINT), 'c', CAST(30 AS BIGINT))",
        "SELECT k, st, tags FROM py_rich ORDER BY k",
        "DROP TABLE py_rich")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.linesIterator.find(_.startsWith("{"))
        .getOrElse(fail(s"no JSON line in:\n$out"))
      assert(json.contains("Enum8('low' = 1, 'high' = 2)"), json)
      assert(json.contains("Map(String, ") && json.contains("Int64)"), json)
      assert(json.contains(""""high""""), json)
      assert(json.contains(""""a": 10"""), json)
      assert(json.contains(""""c": 30"""), json)
    } finally server.stop()
  }

  test("old client revisions are rejected like the reference (messages.rs:255)") {
    val server = new ChWireServer(spark).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val out = new BufferedOutputStream(sock.getOutputStream)
      val in = new BufferedInputStream(sock.getInputStream)
      ChProto.writeVarint(out, ChProto.Client.Hello)
      ChProto.writeStr(out, "old-client")
      ChProto.writeVarint(out, 1); ChProto.writeVarint(out, 0)
      ChProto.writeVarint(out, 54000L) // too old
      ChProto.writeStr(out, ""); ChProto.writeStr(out, ""); ChProto.writeStr(out, "")
      out.flush()
      assert(ChProto.readVarint(in) === ChProto.Server.Exception)
    } finally {
      sock.close()
      server.stop()
    }
  }
}
