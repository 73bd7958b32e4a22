package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.server.{ChNativeClient, ChProto, ChWireServer}

/** One statement of a client's seeded list (see workloads.py). */
final case class Stmt(kind: String, template: String, sql: String,
                      table: String, rows: Int, gen: Long) {
  def isRead: Boolean = kind.startsWith("read")
  def isInsert: Boolean = kind.startsWith("insert")
}

object Stmt {
  def of(m: java.util.Map[String, Object]): Stmt = {
    def s(k: String) = Option(m.get(k)).map(_.toString).getOrElse("")
    def n(k: String) = Option(m.get(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Stmt(s("kind"), Option(m.get("template")).map(_.toString).getOrElse(s("table")),
      s("sql"), s("table"), n("rows").toInt, n("gen"))
  }
}

/** Client-side timing of one statement. */
final case class Sample(st: Stmt, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Rows and value sums the server acknowledged, per table. */
final class Acked {
  val rows = new AtomicLong
  val sumV = new AtomicLong
}

/** Seeded event rows of the ingest workload (k skewed to small keys). */
object Events {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))
  private val base = 1704067200L // 2024-01-01 00:00:00 UTC

  final case class Ev(k: Long, ts: Long, v: Long, s: String)

  def gen(seed: Long, n: Int): Vector[Ev] = {
    val r = new java.util.SplittableRandom(seed)
    Vector.fill(n) {
      val a = r.nextInt(1000).toLong
      Ev(a * a / 1000, base + r.nextLong(90L * 86400), r.nextInt(1000).toLong,
        "s" + r.nextInt(50))
    }
  }

  def rows(evs: Vector[Ev]): Vector[Row] =
    evs.map(e => Row(e.k, new java.sql.Timestamp(e.ts * 1000), e.v, e.s))

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def values(evs: Vector[Ev]): String = evs.map { e =>
    val ts = java.time.LocalDateTime.ofEpochSecond(e.ts, 0, java.time.ZoneOffset.UTC)
    s"(${e.k}, '${fmt.format(ts)}', ${e.v}, '${e.s}')"
  }.mkString(", ")
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** The highest whole percentile with at least 10 samples beyond it (the
    * median when there are fewer than 20 samples).
    */
  def tailPct(n: Int): Double =
    math.max(50.0, math.floor(100.0 * (1 - 10.0 / math.max(n, 1))))

  /** Fixed-work CPU calibration (xorshift64, no allocation): metadata only. */
  def calibrationMs(): Double = {
    var x = 88172645463325252L
    var i = 0L
    val t0 = System.nanoTime
    while (i < 30000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val t = (System.nanoTime - t0) / 1e6
    if (x == 0) System.err.println("unreachable")
    t
  }
}

/** Shared state of one benchmark process: the server, its clients, the
  * acknowledged writes and every check that failed.
  */
final class Bench(val plan: java.util.Map[String, Object], val port: Int) {
  val db: String = plan.get("db").toString
  val workload: String = plan.get("workload").toString
  val failures = new ConcurrentLinkedQueue[String]()
  val results = new ConcurrentLinkedQueue[java.util.Map[String, Object]]()
  val acked = new java.util.concurrent.ConcurrentHashMap[String, Acked]()
  val connectMs = new ConcurrentLinkedQueue[Double]()
  /** Statements sent and end-state checks made; every failure is one of them. */
  val attempts = new AtomicLong
  private val open = new AtomicInteger
  val maxOpen = new AtomicInteger

  def ack(table: String): Acked = acked.computeIfAbsent(table, _ => new Acked)

  // rows the set-up loaded count as acknowledged before the clients start
  Option(plan.get("base")).foreach(_.asInstanceOf[java.util.Map[String, Object]]
    .asScala.foreach { case (t, v) =>
      val m = v.asInstanceOf[java.util.Map[String, Number]]
      ack(t).rows.set(m.get("rows").longValue); ack(t).sumV.set(m.get("sum_v").longValue)
    })

  def list(key: String): Seq[Seq[Stmt]] =
    Option(plan.get(key)).toSeq.flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
      .map(_.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala.map(Stmt.of).toSeq)

  def fail(msg: String): Unit = { failures.add(msg); System.err.println(s"[perfbench] FAIL $msg") }

  def log(msg: String): Unit = Main.log(msg)

  /** Statements a client connection runs before it warms up (untimed). */
  val session: Seq[String] =
    Option(plan.get("session")).toSeq.flatMap(_.asInstanceOf[java.util.List[String]].asScala)

  /** A new connection; with `use`, switched to the workload database; with
    * `declare`, also running the plan's session statements.
    */
  def connect(use: Boolean = true, declare: Boolean = false): Conn = {
    val t0 = System.nanoTime
    val c = new ChNativeClient("127.0.0.1", port)
    connectMs.add((System.nanoTime - t0) / 1e6)
    maxOpen.accumulateAndGet(open.incrementAndGet(), math.max)
    val conn = new Conn(c)
    try {
      if (use) c.query(s"USE $db")
      if (declare) session.foreach(c.query)
    } catch { case NonFatal(e) => conn.close(); throw e }
    conn
  }

  final class Conn(val client: ChNativeClient) extends AutoCloseable {
    def close(): Unit = { open.decrementAndGet(); client.close() }
  }

  /** Rows of a result, cells in JSON-friendly form. */
  def rowsOf(blocks: Vector[ChProto.WireBlock]): java.util.List[java.util.List[Object]] = {
    val out = new java.util.ArrayList[java.util.List[Object]]()
    blocks.filter(_.nRows > 0).foreach { b =>
      (0 until b.nRows).foreach { r =>
        out.add(b.columns.map(c => cell(c.values(r))).asJava)
      }
    }
    out
  }

  private def cell(v: Any): Object = v match {
    case null => null
    case d: scala.math.BigDecimal => d.bigDecimal
    case d: java.time.LocalDate => d.toString
    case t: java.time.Instant => t.toString
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case o => o.toString
  }

  def scalar(blocks: Vector[ChProto.WireBlock]): Long =
    blocks.find(_.nRows > 0).map(_.columns.head.values.head) match {
      case Some(v) if v != null => Bench.toLong(v)
      case other => sys.error(s"not a scalar result: $other")
    }

  /** Run one statement over the wire; returns the rows it returned. */
  def run(c: ChNativeClient, st: Stmt): Long = st.kind match {
    case "read" =>
      val rows = rowsOf(c.query(st.sql))
      val rec = new java.util.LinkedHashMap[String, Object]()
      rec.put("sql", st.sql); rec.put("rows", rows)
      results.add(rec)
      rows.size.toLong
    case "read_count" =>
      // a read never sees fewer rows than were acknowledged in `table`
      // before it was sent
      val floor = ack(st.table).rows.get
      val seen = scalar(c.query(st.sql))
      if (seen < floor) fail(s"${st.sql} saw $seen rows, $floor were acknowledged before it")
      1L
    case "insert_native" =>
      val evs = Events.gen(st.gen, st.rows)
      c.insertStream(s"INSERT INTO ${st.table} FORMAT Native", Events.schema,
        Events.rows(evs).iterator)
      acknowledge(st.table, evs)
      0L
    case "insert_values" if st.sql.isEmpty =>
      val evs = Events.gen(st.gen, st.rows)
      c.query(s"INSERT INTO ${st.table} VALUES ${Events.values(evs)}")
      acknowledge(st.table, evs)
      0L
    case "insert_values" =>
      c.query(st.sql)
      ack(st.table).rows.addAndGet(st.rows)
      0L
    case _ =>
      c.query(st.sql)
      0L
  }

  private def acknowledge(table: String, evs: Vector[Events.Ev]): Unit = {
    val a = ack(table)
    a.sumV.addAndGet(evs.map(_.v).sum)
    a.rows.addAndGet(evs.length)
  }

  /** Run `st`, counting an exception as a failed statement. */
  def timed(c: ChNativeClient, st: Stmt): Sample = {
    attempts.incrementAndGet()
    val t0 = System.nanoTime
    val ok =
      try { run(c, st); true }
      catch { case NonFatal(e) => fail(s"${st.kind} ${st.template}: $e"); false }
    Sample(st, t0, System.nanoTime, ok)
  }

  /** One set-up: connect, create a database, run the workload's DDL and loads. */
  def setup(dbName: String): Double = {
    val t0 = System.nanoTime
    val c = connect(use = false)
    try {
      c.client.query(s"CREATE DATABASE $dbName")
      c.client.query(s"USE $dbName")
      plan.get("setup").asInstanceOf[java.util.List[String]].asScala
        .foreach(c.client.query)
    } finally c.close()
    (System.nanoTime - t0) / 1e9
  }

  /** End-state checks: acknowledged rows are all there and MVs agree. */
  def checkEndState(c: ChNativeClient): Unit = {
    acked.asScala.foreach { case (t, a) =>
      attempts.incrementAndGet()
      val n = scalar(c.query(s"SELECT count() FROM $t"))
      if (n != a.rows.get) fail(s"$t holds $n rows, ${a.rows.get} were acknowledged")
    }
    // every (MV source, MV target) pair: the target's totals equal the
    // source's aggregates
    Option(plan.get("mv")).toSeq.flatMap(_.asInstanceOf[java.util.List[java.util.List[String]]]
      .asScala).foreach { pair =>
      val (src, dst) = (pair.get(0), pair.get(1))
      attempts.addAndGet(2)
      val sv = scalar(c.query(s"SELECT sum(v) FROM $src"))
      if (sv != ack(src).sumV.get)
        fail(s"sum(v) of $src is $sv, acknowledged ${ack(src).sumV.get}")
      val mv = rowsOf(c.query(s"SELECT k, n, sv FROM $dst FINAL ORDER BY k"))
      val base = rowsOf(c.query(
        s"SELECT k, count() AS n, sum(v) AS sv FROM $src GROUP BY k ORDER BY k"))
      def norm(x: java.util.List[java.util.List[Object]]) =
        x.asScala.map(_.asScala.map(Bench.toLong).toSeq).toSeq
      if (norm(mv) != norm(base))
        fail(s"$dst FINAL differs from $src aggregates (${mv.size} vs ${base.size} keys)")
    }
  }

  /** Runs the plan's defect probes (see workloads.py) after the window:
    * name -> the rows a probe returned, its error, or for the freshness
    * probe "ok" or what it saw. They are reported, never counted as checks.
    */
  def defectProbes(): java.util.Map[String, Object] = {
    val out = new java.util.LinkedHashMap[String, Object]()
    val probes = Option(plan.get("defect_probes")).toSeq
      .flatMap(_.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala)
    probes.foreach { p =>
      val name = p.get("name").toString
      val res: Object =
        try {
          if (p.get("kind") == "freshness") freshness()
          else {
            val c = connect()
            try rowsOf(c.client.query(p.get("sql").toString)) finally c.close()
          }
        } catch { case NonFatal(e) => s"error: ${String.valueOf(e.getMessage).take(300)}" }
      out.put(name, res)
    }
    out
  }

  /** A connection that has read a table sees rows another connection
    * inserted into it afterwards: "ok", or what it saw instead.
    */
  private def freshness(): String = {
    val a = connect()
    try {
      a.client.query("CREATE TABLE probe_fresh (k Int64) ENGINE = MergeTree ORDER BY k")
      val before = scalar(a.client.query("SELECT count() FROM probe_fresh"))
      val w = connect()
      try w.client.query("INSERT INTO probe_fresh VALUES " +
        (1 to 10).map(i => s"($i)").mkString(", "))
      finally w.close()
      val after = scalar(a.client.query("SELECT count() FROM probe_fresh"))
      if (after == before + 10) "ok"
      else s"saw $after rows after another connection acknowledged 10 more than $before"
    } finally a.close()
  }

  /** The warehouse directory of a table, or of the workload's database. */
  def dir(table: String = ""): File =
    new File(sys.env("SPARK_GRAFT_WAREHOUSE"), s"$db.db/$table")

  def storedRows(c: ChNativeClient): Long =
    scalar(c.query(s"SELECT sum(rows) FROM system.parts WHERE database = '$db'"))
}

object Bench {
  /** Any integral wire value (Int64, UInt64 widened to a decimal, ...). */
  def toLong(v: Any): Long = BigDecimal(v.toString).toLongExact

  /** Data files (no hidden or bookkeeping files) and their bytes under `dir`. */
  def storage(dir: File): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        files += 1; bytes += f.length
      }
    walk(dir)
    (files, bytes)
  }
}

object Main {
  private val mapper = new ObjectMapper()

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%6.1fs $msg")
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]])
    val out = new java.util.LinkedHashMap[String, Object]()
    val code =
      try { run(plan, out); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); out.put("error", e.toString); 1 }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
    log("results written")
    // Spark leaves non-daemon threads behind; the results are written
    System.exit(code)
  }

  private def run(plan: java.util.Map[String, Object],
                  out: java.util.LinkedHashMap[String, Object]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val calBefore = Seq.fill(3)(Stats.calibrationMs())
    val spark = graft.Sessions.build("perfbench", cores.toString)
    log("spark session built")
    val server = new ChWireServer(spark, 0).start()
    try {
      val b = new Bench(plan, server.boundPort)
      b.log("server up")
      val reps = plan.get("setup_repeats").asInstanceOf[Number].intValue
      // the last set-up builds the database the workload runs on; earlier
      // ones only time set-up and are dropped before the workload starts
      val setupS = (1 to reps).map(i => b.setup(if (i == reps) b.db else s"pb_rep$i"))
      b.log(s"set-up times ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
      locally {
        val c = b.connect(use = false)
        try (1 until reps).foreach(i => c.client.query(s"DROP DATABASE pb_rep$i"))
        finally c.close()
      }
      val metrics = new java.util.LinkedHashMap[String, Object]()
      def put(name: String, v: Double, unit: String): Unit = {
        val m = new java.util.LinkedHashMap[String, Object]()
        m.put("value", Double.box(v)); m.put("unit", unit)
        metrics.put(name, m)
      }
      val meta = new java.util.LinkedHashMap[String, Object]()
      if (plan.containsKey("trace")) {
        // the listener runs in traced runs only, and only while a traced
        // statement runs: untraced runs measure the engine as shipped
        val t = new Traced(b, spark)
        t.run().foreach { case (n, (v, u)) => put(n, v, u) }
        out.put("layers", t.selfTimes())
        out.put("spans", t.spanMaps)
      } else {
        val w = drive(b)
        val reads = w.samples.filter(s => s.st.isRead && s.ok).map(_.ms)
        val inserts = w.samples.filter(s => s.st.isInsert && s.ok)
        val readTail = Stats.tailPct(w.samples.count(_.st.isRead))
        val insTail = Stats.tailPct(w.samples.count(_.st.isInsert))
        val (_, bytes) = Bench.storage(b.dir())
        val c = b.connect()
        val stored = try b.storedRows(c.client) finally c.close()
        put("setup_s", Stats.median(setupS), "s")
        put("stmts_per_s", w.samples.length / w.windowS, "1/s")
        put("read_p50_ms", Stats.median(reads), "ms")
        put("read_tail_ms", Stats.pct(reads, readTail), "ms")
        put("insert_p50_ms", Stats.median(inserts.map(_.ms)), "ms")
        put("insert_tail_ms", Stats.pct(inserts.map(_.ms), insTail), "ms")
        put("ingest_rows_per_s", inserts.map(_.st.rows.toLong).sum / w.windowS, "rows/s")
        put("stored_bytes_per_row", bytes.toDouble / math.max(1L, stored), "B/row")
        meta.put("read_tail_percentile", Double.box(readTail))
        meta.put("insert_tail_percentile", Double.box(insTail))
        meta.put("reads", Int.box(w.samples.count(_.st.isRead)))
        meta.put("inserts", Int.box(w.samples.count(_.st.isInsert)))
        meta.put("window_s", Double.box(w.windowS))
        meta.put("client_s", w.clientS.map(Double.box).asJava)
        val byTemplate = new java.util.TreeMap[String, Object]()
        w.samples.filter(_.ok).groupBy(_.st.template).foreach { case (t, ss) =>
          byTemplate.put(t, Double.box(Stats.median(ss.map(_.ms))))
        }
        meta.put("template_p50_ms", byTemplate)
      }
      locally {
        val c = b.connect()
        try b.checkEndState(c.client) finally c.close()
      }
      b.log("end-state checks done")
      out.put("defect_probes", b.defectProbes())
      meta.put("setup_s_each", setupS.map(Double.box).asJava)
      meta.put("nproc", Int.box(cores))
      meta.put("spark_cores", Int.box(spark.sparkContext.defaultParallelism))
      meta.put("heap_max_mb", Long.box(Runtime.getRuntime.maxMemory >> 20))
      meta.put("connections", Int.box(b.list("clients").length))
      meta.put("max_open_connections", Int.box(b.maxOpen.get))
      meta.put("calibration_ms", (calBefore ++ Seq.fill(3)(Stats.calibrationMs()))
        .map(Double.box).asJava)
      out.put("attempted", Long.box(b.attempts.get))
      out.put("failures", b.failures.asScala.toSeq.asJava)
      out.put("metrics", metrics)
      out.put("meta", meta)
      out.put("results", b.results)
    } finally server.stop() // the JVM exits next; Spark's shutdown hook stops it
  }

  /** The measured statements, the window's length, and when each client
    * finished its list (seconds into the window).
    */
  final case class Window(samples: Seq[Sample], windowS: Double, clientS: Seq[Double])

  /** Closed loop: every client sends its next statement when the previous
    * one has returned. Warm-up statements run before the barrier and are
    * not measured.
    */
  private def drive(b: Bench): Window = {
    val lists = b.list("clients")
    val warm = b.list("warmup")
    val barrier = new CyclicBarrier(lists.length + 1)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val doneNs = new java.util.concurrent.atomic.AtomicLongArray(lists.length)
    val threads = lists.zipWithIndex.map { case (stmts, i) =>
      val t = new Thread(() => {
        var waited = false
        try {
          val c = b.connect(declare = true)
          try {
            warm.lift(i).getOrElse(Nil).foreach(b.timed(c.client, _))
            waited = true
            barrier.await()
            stmts.foreach(st => samples.add(b.timed(c.client, st)))
            doneNs.set(i, System.nanoTime)
          } finally c.close()
        } catch { case NonFatal(e) => b.fail(s"client $i: $e") }
        finally if (!waited) barrier.await()
      }, s"perfbench-client-$i")
      t.start(); t
    }
    barrier.await()
    b.log("warm-up done, window starts")
    val t0 = System.nanoTime
    threads.foreach(_.join())
    b.log(f"window ${(System.nanoTime - t0) / 1e9}%.2f s")
    Window(samples.asScala.toSeq, (System.nanoTime - t0) / 1e9,
      lists.indices.map(i => math.max(0L, doneNs.get(i) - t0) / 1e9))
  }
}
