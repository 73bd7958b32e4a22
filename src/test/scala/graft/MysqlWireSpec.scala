package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.server.{MysqlProto, MysqlWireServer}

/** Drives the MySQL text protocol over a real socket: handshake, ping,
  * and a CREATE/INSERT/SELECT round-trip — the shape of the reference's
  * MySQL-side sanity suite (crates/tests_integ/tests/sanity_checks_mysql.rs)
  * with [[MysqlTestClient]] implementing the client half of the framing.
  */
class MysqlWireSpec extends AnyFunSuite {
  import MysqlProto._
  import SparkTestSession.spark

  test("an INDEPENDENT python-stdlib client speaks the wire format " +
    "(no shared code with the server — closest interop proof the " +
    "sandbox allows, no real mysql binary ships here)") {
    val server = new MysqlWireServer(spark).start()
    try {
      val cmd = Seq("python3", "scripts/mysql_wire_probe.py",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_probe_tab",
        "CREATE TABLE py_probe_tab(a Int32, s String)",
        "INSERT INTO py_probe_tab VALUES (1, 'x'), (2, NULL)",
        "SELECT a, s FROM py_probe_tab ORDER BY a",
        "DROP TABLE py_probe_tab")
      val out = new StringBuilder
      val proc = new ProcessBuilder(cmd: _*)
        .directory(new java.io.File(".").getAbsoluteFile.getParentFile)
        .redirectErrorStream(true).start()
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream, UTF_8))
      Iterator.continually(rd.readLine()).takeWhile(_ != null)
        .foreach(l => out.append(l).append('\n'))
      assert(proc.waitFor() === 0, s"probe failed:\n$out")
      val json = out.toString.linesIterator
        .find(_.startsWith("{")).getOrElse(fail(s"no JSON line in:\n$out"))
      // assert on the raw JSON text — rows arrive as lenenc strings, NULL
      // as the 0xfb marker the probe decodes to JSON null
      assert(json.contains(""""columns": ["a", "s"]"""), json)
      assert(json.contains("""["1", "x"]"""), json)
      assert(json.contains("""["2", null]"""), json)
    } finally server.stop()
  }

  test("COM_STMT_PREPARE/EXECUTE/CLOSE: typed binary params render into " +
    "the query, rows come back in the binary protocol, and the server " +
    "caches param types across executes (python probe, no shared code)") {
    val server = new MysqlWireServer(spark).start()
    try {
      // fixture through the text path on a separate connection
      val setup = Seq("python3", "scripts/mysql_wire_probe.py",
        server.boundPort.toString,
        "DROP TABLE IF EXISTS py_prep_tab",
        "CREATE TABLE py_prep_tab(a Int64, x Float64, s Nullable(String), d Date)",
        "INSERT INTO py_prep_tab VALUES " +
          "(1, 1.5, 'it''s', '2021-03-04'), (2, 2.5, NULL, '2021-03-05'), " +
          "(3, 99.0, 'zz', '2021-03-06')")
      def run(cmd: Seq[String]): String = {
        val out = new StringBuilder
        val proc = new ProcessBuilder(cmd: _*)
          .directory(new java.io.File(".").getAbsoluteFile.getParentFile)
          .redirectErrorStream(true).start()
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream, UTF_8))
        Iterator.continually(rd.readLine()).takeWhile(_ != null)
          .foreach(l => out.append(l).append('\n'))
        assert(proc.waitFor() === 0, s"probe failed:\n$out")
        out.toString.linesIterator.find(_.startsWith("{"))
          .getOrElse(fail(s"no JSON line in:\n$out"))
      }
      run(setup)
      // int + double + string (with a quote, proving escaping) + date
      val json = run(Seq("python3", "scripts/mysql_wire_probe.py",
        server.boundPort.toString, "--prepared",
        "SELECT a, x, s, d FROM py_prep_tab " +
          "WHERE a >= ? AND x < ? AND (s = ? OR s IS NULL) AND d >= ? " +
          "ORDER BY a",
        "int:1", "float:50.0", "str:it's", "date:2021-03-04"))
      assert(json.contains(""""columns": ["a", "x", "s", "d"]"""), json)
      assert(json.contains("""[1, 1.5, "it's", "2021-03-04"]"""), json)
      assert(json.contains("""[2, 2.5, null, "2021-03-05"]"""), json)
      assert(!json.contains("99.0"), s"x < 50 param must filter row 3: $json")
      assert(json.contains(""""reexec_equal": true"""),
        s"server must cache bound param types across executes: $json")
      // NULL param via the null bitmap
      val jn = run(Seq("python3", "scripts/mysql_wire_probe.py",
        server.boundPort.toString, "--prepared",
        "SELECT count(*) AS n FROM py_prep_tab WHERE ? IS NULL", "null:"))
      assert(jn.contains("""[3]"""), jn)
      run(Seq("python3", "scripts/mysql_wire_probe.py",
        server.boundPort.toString, "DROP TABLE py_prep_tab"))
    } finally server.stop()
  }

  test("handshake, ping, and CREATE/INSERT/SELECT round-trip") {
    val server = new MysqlWireServer(spark).start()
    val client = new MysqlTestClient(server.boundPort)
    try {
      assert(client.ping())
      client.query("DROP TABLE IF EXISTS mysql_tab")
      client.query("CREATE TABLE mysql_tab(a Int32, s String, f Float64)")
      client.query("INSERT INTO mysql_tab VALUES (1, 'x', 1.5), (2, 'y', -2.25)")

      val (names, rows) = client.query(
        "SELECT a, s, f, CAST(NULL AS INT) AS nn FROM mysql_tab ORDER BY a")
      assert(names === Seq("a", "s", "f", "nn"))
      assert(rows === Seq(
        Seq("1", "x", "1.5", null),
        Seq("2", "y", "-2.25", null)))

      val (_, agg) = client.query(
        "SELECT CAST(sum(a) AS BIGINT) AS s, count(*) AS n FROM mysql_tab")
      assert(agg === Seq(Seq("3", "2")))

      client.query("DROP TABLE mysql_tab")
    } finally {
      client.close()
      server.stop()
    }
  }

  test("per-type round-trips over the MySQL text protocol (ref sanity_checks_mysql.rs)") {
    val server = new MysqlWireServer(spark).start()
    val c = new MysqlTestClient(server.boundPort)
    try {
      c.query("CREATE DATABASE IF NOT EXISTS mysql_types_db")
      c.query("USE mysql_types_db")
      c.query("DROP TABLE IF EXISTS t_types")
      c.query("CREATE TABLE t_types(i Int64, f Float64, d Date, " +
        "t DateTime, dec Decimal(9,2), s String)")
      c.query("INSERT INTO t_types VALUES " +
        "(42, 1.5, '2021-01-05', '2021-07-06 15:30:45', 12.34, 'héllo'), " +
        "(-7, -0.25, '1970-01-01', '2024-02-29 00:00:00', -0.01, '')")
      val (names, rows) = c.query(
        "SELECT i, f, d, t, dec, s FROM t_types ORDER BY i")
      assert(names === Seq("i", "f", "d", "t", "dec", "s"))
      assert(rows === Seq(
        Seq("-7", "-0.25", "1970-01-01", "2024-02-29 00:00:00", "-0.01", ""),
        Seq("42", "1.5", "2021-01-05", "2021-07-06 15:30:45", "12.34", "héllo")))
      // aggregates and CH functions flow through the same path
      val (_, agg) = c.query(
        "SELECT CAST(count(*) AS BIGINT) AS n, toYear(max(t)) AS y FROM t_types")
      assert(agg === Seq(Seq("2", "2024")))
      c.query("DROP DATABASE mysql_types_db")
    } finally {
      c.close()
      server.stop()
    }
  }

  test("packet framing splits >=16MB payloads and reassembles them") {
    // exact boundary: one full packet must be followed by an empty terminator
    val exact = new Array[Byte](MaxPacket)
    java.util.Arrays.fill(exact, 'a'.toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val next = writePacket(bos, 3, exact)
    assert(next === 5, "two packets consume two sequence ids")
    val framed = bos.toByteArray
    assert(framed.length === 4 + MaxPacket + 4, "full chunk + empty terminator")
    val termHdr = framed.drop(4 + MaxPacket)
    assert((termHdr(0) & 0xff) === 0 && (termHdr(1) & 0xff) === 0 &&
      (termHdr(2) & 0xff) === 0, "terminator length is zero")
    assert((termHdr(3) & 0xff) === 4, "terminator sequence increments")
    val (seq, back) = readPacket(new java.io.ByteArrayInputStream(framed))
    assert(seq === 4)
    assert(java.util.Arrays.equals(back, exact))

    // oversize: full packet + short tail round-trips bit-exactly
    val big = new Array[Byte](MaxPacket + 5)
    new scala.util.Random(7).nextBytes(big)
    val bos2 = new java.io.ByteArrayOutputStream()
    writePacket(bos2, 0, big)
    val (_, back2) = readPacket(new java.io.ByteArrayInputStream(bos2.toByteArray))
    assert(java.util.Arrays.equals(back2, big))
  }

  test("a >16MB text row survives the wire (length field is never masked)") {
    val server = new MysqlWireServer(spark).start()
    val c = new MysqlTestClient(server.boundPort)
    try {
      val n = MaxPacket + 1024 // one row packet longer than the 3-byte length field
      val (_, rows) = c.query(s"SELECT repeat('d', $n) AS doc")
      assert(rows.head.head.length === n)
      assert(rows.head.head.forall(_ == 'd'))
    } finally {
      c.close()
      server.stop()
    }
  }

  test("connect-with-database selects the initial database") {
    val server = new MysqlWireServer(spark).start()
    val setup = new MysqlTestClient(server.boundPort)
    try {
      setup.query("CREATE DATABASE IF NOT EXISTS mysql_db")
      setup.query("DROP TABLE IF EXISTS mysql_db.in_db")
      setup.query("CREATE TABLE mysql_db.in_db(v Int64)")
      setup.query("INSERT INTO mysql_db.in_db VALUES (7)")
      val client = new MysqlTestClient(server.boundPort, database = "mysql_db")
      try {
        val (_, rows) = client.query("SELECT v FROM in_db")
        assert(rows === Seq(Seq("7")))
      } finally client.close()
      setup.query("DROP DATABASE IF EXISTS mysql_db")
    } finally {
      setup.close()
      server.stop()
    }
  }

  test("CLIENT_COMPRESS: text queries AND prepared statements over the " +
    "zlib-compressed transport (VERDICT r17 task #9; python probe, no " +
    "shared code — envelopes verified by zlib round-trip on both sides)") {
    val server = new MysqlWireServer(spark).start()
    try {
      def run(cmd: Seq[String]): String = {
        val proc = new ProcessBuilder(cmd: _*)
          .redirectErrorStream(true).start()
        val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
        assert(proc.waitFor() === 0, s"probe failed:\n$out")
        out.linesIterator.find(_.startsWith("{"))
          .getOrElse(fail(s"no JSON line in:\n$out"))
      }
      // text path: a result wide enough to force a deflated envelope
      // (> MinCompressLength) plus small OK packets that ship raw
      val j1 = run(Seq("python3", "scripts/mysql_wire_probe.py",
        "--compress", server.boundPort.toString,
        "DROP TABLE IF EXISTS py_z_tab",
        "CREATE TABLE py_z_tab(a Int64, s String)",
        "INSERT INTO py_z_tab VALUES (1, repeat('x', 200)), (2, 'y')",
        "SELECT a, s FROM py_z_tab ORDER BY a"))
      assert(j1.contains(""""compressed": true"""), j1)
      assert(j1.contains("\"" + "x" * 200 + "\""), j1)
      assert(j1.contains("""["2", "y"]"""), j1)
      // prepared statements over the same compressed connection: typed
      // binary params in, binary rows back, types cached across executes
      val j2 = run(Seq("python3", "scripts/mysql_wire_probe.py",
        "--compress", server.boundPort.toString, "--prepared",
        "SELECT a, s FROM py_z_tab WHERE a = ? ORDER BY a", "int:2"))
      assert(j2.contains(""""compressed": true"""), j2)
      assert(j2.contains("""[2, "y"]"""), j2)
      assert(!j2.contains("x" * 200), s"a = 2 must filter row 1: $j2")
      assert(j2.contains(""""reexec_equal": true"""), j2)
      run(Seq("python3", "scripts/mysql_wire_probe.py",
        "--compress", server.boundPort.toString, "DROP TABLE py_z_tab"))
    } finally server.stop()
  }

  test("r19 canary: ONE compressed session mixes text and prepared " +
    "statements over rich-typed columns (Enum/Map/Tuple/LC/Decimal) — " +
    "the VERDICT r18 task #9 growth step") {
    val server = new MysqlWireServer(spark).start()
    try {
      def run(cmd: Seq[String]): String = {
        val proc = new ProcessBuilder(cmd: _*)
          .redirectErrorStream(true).start()
        val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
        assert(proc.waitFor() === 0, s"probe failed:\n$out")
        out.linesIterator.find(_.startsWith("{"))
          .getOrElse(fail(s"no JSON line in:\n$out"))
      }
      val j = run(Seq("python3", "scripts/mysql_wire_probe.py",
        "--compress", server.boundPort.toString, "--mixed",
        "DROP TABLE IF EXISTS py_mix_rich",
        "CREATE TABLE py_mix_rich(k Int64, " +
          "st Enum8('low' = 1, 'high' = 2), m Map(String, Int64), " +
          "tp Tuple(x Int64, y String), lc LowCardinality(String), " +
          "d Decimal(12,4))",
        "INSERT INTO py_mix_rich SELECT 1, 'high', " +
          "map('a', CAST(10 AS BIGINT)), " +
          "named_struct('x', CAST(7 AS BIGINT), 'y', 'p1'), 'aa', " +
          "CAST(1.5 AS DECIMAL(12,4)) " +
          "UNION ALL SELECT 2, 'low', map('b', CAST(5 AS BIGINT)), " +
          "named_struct('x', CAST(-3 AS BIGINT), 'y', 'p2'), 'bb', " +
          "CAST(-2.25 AS DECIMAL(12,4))",
        "SELECT k, st, m, tp, lc, d FROM py_mix_rich ORDER BY k",
        "P:SELECT k, st, lc, CAST(d AS STRING) AS ds " +
          "FROM py_mix_rich WHERE k = ?|int:2",
        "DROP TABLE py_mix_rich"))
      assert(j.contains(""""compressed": true"""), j)
      // text resultset: Enum as its name, Map/Tuple in their scala
      // rendering (the text protocol ships String.valueOf), Decimal at
      // declared scale
      assert(j.contains("high"), j)
      assert(j.contains("Map(a -> 10)"), j)
      assert(j.contains("1.5000"), j)
      // prepared over the SAME compressed connection: typed binary
      // params, binary rows, type cache across executes
      assert(j.contains("""[2, "low", "bb", "-2.2500"]"""), j)
      assert(j.contains(""""reexec_equal": true"""), j)
      assert(!j.contains("\"error\""), j)
    } finally server.stop()
  }
}
