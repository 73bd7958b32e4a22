package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}

import graft.exec.GraftSession
import graft.parser.ChParser
import graft.server.ChProto

/** One timed call into a layer. Spans of one statement share `stmt`; the
  * root span of a statement has parent -1.
  */
final case class Span(id: Int, parent: Int, stmt: Int, layer: String,
                      startNs: Long, endNs: Long,
                      counts: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans stay in memory until the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var stmt = -1

  def statement[T](id: Int)(f: => T): T = { stmt = id; span("statement")(f) }

  def span[T](layer: String)(f: => T): T = {
    val id = spans.length
    spans += Span(id, stack.headOption.getOrElse(-1), stmt, layer, System.nanoTime, 0L)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime)
    }
  }

  /** A child of the open span whose interval was measured by someone else
    * (Spark's planning tracker), clamped into its parent.
    */
  def record(layer: String, startNs: Long, endNs: Long): Unit = {
    val p = stack.head
    val lo = math.max(startNs, spans(p).startNs)
    spans += Span(spans.length, p, stmt, layer, lo, math.max(lo, endNs))
  }

  def count(key: String, v: Double): Unit = annotate(stack.head, key, v)

  /** Attach a count to the latest span of `layer` (after it closed). */
  def countLast(layer: String, key: String, v: Double): Unit =
    annotate(spans.lastIndexWhere(_.layer == layer), key, v)

  private def annotate(id: Int, key: String, v: Double): Unit =
    spans(id) = spans(id).copy(counts = spans(id).counts.updated(key, v))

  /** Self time: duration minus the part of it the child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered, end = 0L
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e6
  }
}

/** The traced run: a seeded sample of the workload's statements replayed
  * serially on one connection, reads also through an in-process
  * [[GraftSession]] on the same SparkSession, with a span at each call into
  * a layer. The benchmark's listener is attached only while a traced
  * statement runs.
  */
final class Traced(b: Bench, spark: SparkSession) {
  private val tr = new Tracer
  private val probe = new Probe
  private val sample = b.list("trace").headOption.getOrElse(Nil)
  private val wireMs, inprocMs = ArrayBuffer.empty[Double]
  private val perRead = ArrayBuffer.empty[Map[String, Double]]
  private val insertMs = ArrayBuffer.empty[(Boolean, Double)] // (MV path, ms)
  private var encNs, decNs, codedBytes, codedRows = 0L
  private var insJobs, insFiles, insBytes, insRows, inserts = 0L
  private var optimizeMs, rewritten = 0.0

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Runs `f` with the listener attached; every event of `f` is delivered
    * before it is detached, and none from before reaches it.
    */
  private def probed[T](f: => T): T = {
    drain()
    spark.sparkContext.addSparkListener(probe)
    try f
    finally { drain(); spark.sparkContext.removeSparkListener(probe) }
  }

  /** Wire round trip of `st` (None when it failed), with the listener
    * counts of every job group the server started while it ran.
    */
  private def wire(c: graft.server.ChNativeClient, st: Stmt): (Option[Double], GroupAgg) = {
    val fromMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val ok = tr.span("wire.roundtrip") {
      b.attempts.incrementAndGet()
      try { b.run(c, st); true }
      catch { case NonFatal(e) => b.fail(s"trace ${st.template}: $e"); false }
    }
    val ms = (System.nanoTime - t0) / 1e6
    drain()
    (Option.when(ok)(ms), probe.startedWithin(fromMs, System.currentTimeMillis))
  }

  private def codec(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): Unit = {
    if (rows.isEmpty) return
    val buf = new ByteArrayOutputStream()
    val t0 = System.nanoTime
    tr.span("wire.encode")(ChProto.writeDataBlock(buf, schema, rows, compress = true))
    val t1 = System.nanoTime
    val bytes = buf.toByteArray
    tr.span("wire.decode") {
      val in = new ByteArrayInputStream(bytes)
      ChProto.readVarint(in)
      ChProto.readDataBlock(in, compressed = true)
    }
    encNs += t1 - t0; decNs += System.nanoTime - t1
    codedBytes += bytes.length; codedRows += rows.length
  }

  /** The in-process replay of a read: front end, planning, execution. */
  private def inproc(g: GraftSession, st: Stmt): Map[String, Double] = {
    val sql = st.sql
    var m = Map.empty[String, Double]
    tr.span("inproc") {
      val p0 = System.nanoTime
      tr.span("parser.parse")(ChParser.parse(sql))
      m += "parse_us" -> (System.nanoTime - p0) / 1e3
      val f0 = System.nanoTime
      val df = tr.span("frontend.sql") {
        val df = g.sql(sql)
        val qe = df.queryExecution
        qe.tracker.phases.get("analysis").foreach { ph =>
          val endNs = System.nanoTime - (System.currentTimeMillis - ph.endTimeMs) * 1000000L
          tr.record("plan.analysis", endNs - ph.durationMs * 1000000L, endNs)
          m += "analysis_ms" -> ph.durationMs.toDouble
        }
        df
      }
      m += "frontend_ms" -> ((System.nanoTime - f0) / 1e6 - m.getOrElse("analysis_ms", 0.0))
      val qid = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      val o0 = System.nanoTime
      tr.span("plan.optimize")(df.queryExecution.optimizedPlan)
      val o1 = System.nanoTime
      tr.span("plan.physical")(df.queryExecution.executedPlan)
      val o2 = System.nanoTime
      val rows = tr.span("exec.run")(df.collect().toSeq)
      val o3 = System.nanoTime
      g.finishQuery()
      drain()
      val a = probe.group(qid)
      Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_wall_ms" -> a.taskWallMs, "task_cpu_ms" -> a.cpuNs / 1000000,
        "gc_ms" -> a.gcMs, "bytes_read" -> a.bytesRead,
        "records_read" -> a.recordsRead, "shuffle_bytes" -> a.shuffleBytes,
        "spill_bytes" -> a.spillBytes, "sched_delay_ms" -> a.schedDelayMs,
        "failed_tasks" -> a.failedTasks).foreach { case (k, v) =>
        tr.countLast("exec.run", k, v.toDouble); m += k -> v.toDouble
      }
      m ++= Map("optimize_ms" -> (o1 - o0) / 1e6, "physical_ms" -> (o2 - o1) / 1e6,
        "run_ms" -> (o3 - o2) / 1e6, "rows" -> rows.length.toDouble,
        "inproc_ms" -> (o3 - p0) / 1e6)
      codec(rows, df.schema)
    }
    m
  }

  /** Replays the sample; returns the per-layer metrics. */
  def run(): Seq[(String, (Double, String))] = {
    val restore = (1 to 3).map { _ =>
      val t0 = System.nanoTime
      val g = new GraftSession(spark.newSession())
      ((System.nanoTime - t0) / 1e6, g)
    }
    val g = restore.last._2
    g.sql(s"USE ${b.db}")
    b.session.foreach(g.sql)
    val c = b.connect(declare = true)
    try {
      b.list("warmup").headOption.getOrElse(Nil).foreach(b.timed(c.client, _))
      // each statement runs once untraced (timed from the client only, no
      // listener) and once traced, alternating which goes first so warm-up
      // favours neither; a traced read runs over the wire and in process,
      // and which of those goes first alternates too
      val untraced = ArrayBuffer.empty[Double]
      sample.zipWithIndex.foreach { case (st, i) =>
        def plain(): Unit = {
          val s = b.timed(c.client, st)
          if (s.st.isRead && s.ok) untraced += s.ms
        }
        if (i % 2 == 0) plain()
        probed(tr.statement(i)(traced(c, g, st, wireFirst = i / 2 % 2 == 0)))
        if (i % 2 == 1) plain()
      }
      val (files, bytes) = Bench.storage(b.dir())
      val stored = b.storedRows(c.client)
      // write layers the sample did not reach run on a probe table set, so
      // every layer metric is measured on every workload
      probeWrites(c)
      metrics(restore.map(_._1), untraced.toSeq, files, bytes, stored)
    } finally c.close()
  }

  private def traced(c: b.Conn, g: GraftSession, st: Stmt, wireFirst: Boolean): Unit = {
    if (st.isRead) {
      var ms = Option.empty[Double]
      if (wireFirst) ms = wire(c.client, st)._1
      b.attempts.incrementAndGet()
      val m =
        try Some(inproc(g, st))
        catch { case NonFatal(e) => b.fail(s"in-process ${st.template}: $e"); None }
      if (!wireFirst) ms = wire(c.client, st)._1
      // a read counts when both of its runs succeeded
      for (m <- m; ms <- ms) { wireMs += ms; inprocMs += m("inproc_ms"); perRead += m }
    } else write(c, st)
  }

  private def write(c: b.Conn, st: Stmt): Unit = {
    val dir = b.dir(st.table)
    val (f0, b0) = Bench.storage(dir)
    val (res, a) = wire(c.client, st)
    val (f1, b1) = Bench.storage(dir)
    res.foreach { ms =>
      if (st.kind == "optimize") {
        optimizeMs = ms; rewritten = a.bytesWritten.toDouble
      } else if (st.isInsert) {
        inserts += 1; insRows += st.rows; insJobs += a.jobs
        insFiles += f1 - f0; insBytes += b1 - b0
        insertMs += ((st.table.startsWith("ev_part") || st.table == "probe_part", ms))
        tr.count("jobs", a.jobs.toDouble)
        if (st.gen != 0L) {
          val evs = Events.gen(st.gen, st.rows)
          codec(Events.rows(evs), Events.schema)
        }
      }
    }
  }

  private def probeWrites(c: b.Conn): Unit = {
    val needPlain = !insertMs.exists(!_._1)
    val needMv = !insertMs.exists(_._1)
    val mvTable = if (b.workload == "ingest") "ev_part_0" else "probe_part"
    if (mvTable == "probe_part")
      Seq("CREATE TABLE probe_plain (k Int64, ts DateTime, v Int64, s String) " +
          "ENGINE = MergeTree ORDER BY (k, ts)",
        "CREATE TABLE probe_part (k Int64, ts DateTime, v Int64, s String) " +
          "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY (k, ts)",
        "CREATE TABLE probe_sum (k Int64, n UInt64, sv Int64) " +
          "ENGINE = SummingMergeTree ORDER BY k",
        "CREATE MATERIALIZED VIEW probe_mv TO probe_sum AS SELECT k, " +
          "count() AS n, sum(v) AS sv FROM probe_part GROUP BY k")
        .foreach(s => c.client.query(s))
    val base = sample.size
    var i = 0
    def one(st: Stmt): Unit = { probed(tr.statement(base + i)(write(c, st))); i += 1 }
    if (needPlain) one(Stmt("insert_native", "probe", "", "probe_plain", 500, 17L))
    if (needMv || mvTable == "probe_part")
      (1 to 2).foreach(j => one(Stmt("insert_native", "probe", "", mvTable, 500, 17L + j)))
    one(Stmt("optimize", "optimize", s"OPTIMIZE TABLE $mvTable FINAL", mvTable, 0, 0L))
  }

  /** Each layer's self time summed over the run, in ms. */
  def selfTimes(): java.util.Map[String, Object] = {
    val out = new java.util.TreeMap[String, Object]()
    tr.spans.groupBy(_.layer).foreach { case (layer, ss) =>
      out.put(layer, Double.box(ss.map(tr.selfMs).sum))
    }
    out
  }

  private def metrics(restoreMs: Seq[Double], untraced: Seq[Double], files: Long,
                      bytes: Long, stored: Long): Seq[(String, (Double, String))] = {
    def med(k: String) = Stats.median(perRead.map(_.getOrElse(k, 0.0)).toSeq)
    def sum(k: String) = perRead.map(_.getOrElse(k, 0.0)).sum
    val n = math.max(1, perRead.length).toDouble
    val rowsOut = math.max(1.0, sum("rows"))
    val dispatch = perRead.map(m => m("run_ms") - m("task_wall_ms")).sum
    val fixed = sum("frontend_ms") + sum("analysis_ms") + sum("optimize_ms") +
      sum("physical_ms") + dispatch +
      math.max(0.0, wireMs.sum - inprocMs.sum)
    val tracedP50 = Stats.median(wireMs.toSeq)
    val untracedP50 = Stats.median(untraced)
    val plainMs = insertMs.filter(!_._1).map(_._2).toSeq
    val mvMs = insertMs.filter(_._1).map(_._2).toSeq
    Seq(
      "session.restore_ms" -> (Stats.median(restoreMs), "ms"),
      "parser.parse_us" -> (med("parse_us"), "us"),
      "frontend.select_ms" -> (med("frontend_ms"), "ms"),
      "plan.analysis_ms" -> (med("analysis_ms"), "ms"),
      "plan.optimize_ms" -> (med("optimize_ms"), "ms"),
      "plan.physical_ms" -> (med("physical_ms"), "ms"),
      "exec.run_ms" -> (med("run_ms"), "ms"),
      "exec.task_wall_ms" -> (med("task_wall_ms"), "ms"),
      "exec.task_cpu_ms" -> (med("task_cpu_ms"), "ms"),
      "exec.gc_ms" -> (sum("gc_ms") / n, "ms"),
      "exec.bytes_read" -> (sum("bytes_read") / n, "B"),
      "exec.shuffle_bytes" -> (sum("shuffle_bytes") / n, "B"),
      "exec.spill_bytes" -> (sum("spill_bytes") / n, "B"),
      "exec.jobs_per_stmt" -> (sum("jobs") / n, "count"),
      "exec.stages_per_stmt" -> (sum("stages") / n, "count"),
      "exec.tasks_per_stmt" -> (sum("tasks") / n, "count"),
      "exec.sched_delay_ms" -> (sum("sched_delay_ms") / math.max(1.0, sum("tasks")), "ms"),
      "exec.rows_read_per_row_returned" -> (sum("records_read") / rowsOut, "ratio"),
      "exec.failed_tasks" -> (sum("failed_tasks"), "count"),
      "write.insert_plain_ms" -> (Stats.median(plainMs), "ms"),
      "write.insert_mv_ms" -> (Stats.median(mvMs), "ms"),
      "write.jobs_per_insert" -> (insJobs.toDouble / math.max(1L, inserts), "count"),
      "write.files_per_insert" -> (insFiles.toDouble / math.max(1L, inserts), "count"),
      "write.bytes_per_row" -> (insBytes.toDouble / math.max(1L, insRows), "B/row"),
      "merge.optimize_ms" -> (optimizeMs, "ms"),
      "merge.bytes_rewritten" -> (rewritten, "B"),
      "storage.files" -> (files.toDouble, "count"),
      "storage.bytes_per_row" -> (bytes.toDouble / math.max(1L, stored), "B/row"),
      "wire.connect_ms" -> (Stats.median(b.connectMs.asScala.toSeq), "ms"),
      "wire.overhead_ms" -> (tracedP50 - Stats.median(inprocMs.toSeq), "ms"),
      "wire.encode_ns_per_row" -> (encNs.toDouble / math.max(1L, codedRows), "ns/row"),
      "wire.decode_ns_per_row" -> (decNs.toDouble / math.max(1L, codedRows), "ns/row"),
      "wire.bytes_per_row" -> (codedBytes.toDouble / math.max(1L, codedRows), "B/row"),
      "trace.read_p50_ms" -> (tracedP50, "ms"),
      "trace.untraced_read_p50_ms" -> (untracedP50, "ms"),
      "trace.overhead_pct" -> (100 * (tracedP50 / math.max(1e-9, untracedP50) - 1), "%"),
      "trace.exec_share_pct" -> (100 * sum("run_ms") / math.max(1e-9, sum("inproc_ms")), "%"),
      "trace.fixed_over_task" -> (fixed / math.max(1e-9, sum("task_wall_ms")), "ratio"),
    )
  }

  /** Spans as JSON-ready maps, for the trace file. */
  def spanMaps: java.util.List[java.util.Map[String, Object]] =
    tr.spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("id", Int.box(s.id)); m.put("parent", Int.box(s.parent))
      m.put("stmt", Int.box(s.stmt)); m.put("layer", s.layer)
      m.put("start_ns", Long.box(s.startNs)); m.put("end_ns", Long.box(s.endNs))
      m.put("counts", s.counts.map { case (k, v) => k -> Double.box(v) }.asJava)
      m: java.util.Map[String, Object]
    }.asJava
}
