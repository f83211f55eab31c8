package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark harness: one closed-loop client driving the program's
  * public functions for one workload, as planned by run.py.
  *
  *   perfbench.Main <plan.json> <out.json>   run a workload
  *   perfbench.Main --corpus <out.json>      dump the corpus (names,
  *                                           modules, DuckDB statements)
  *
  * The plan carries every generated input (statement order, commit
  * splits, the write loop's operations and batch files); the output
  * carries raw timings, failures, result rows for the oracle and, when
  * traced, spans and Spark counters. run.py turns it into metrics. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    if (args(0) == "--corpus") return dumpCorpus(args(1))
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val cores = plan.get("cores").asInt
    val calib = out.putObject("calib")
    calib.put("1t_start", Calib.oneThreadMs())
    calib.put("allcore_start", Calib.allCoreMs(cores))

    val work = plan.get("work").asText
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    out.putObject("setup").put("session_s", (System.nanoTime() - t0) / 1e9)

    // Set-up and warm passes run untraced; timedPasses switches it on.
    val tracing = plan.get("trace").asBoolean
    val tr = new Tracer(false)
    val counters =
      if (tracing) {
        val c = new SparkCounters(spark.sparkContext)
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
    val run = new Run(spark, plan, out, tracing, tr, counters)
    plan.get("workload").asText match {
      case "sql_delta" => Workloads.sqlDelta(run)
      case "corpus_df" => Workloads.corpusDf(run)
      case "delta_sync" => Workloads.deltaSync(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ContextCleaner frees broadcasts and shuffles only after a GC has
    // queued their references, so collect until that work has landed.
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    out.put("heap_mb", java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0)
    calib.put("1t_end", Calib.oneThreadMs())
    calib.put("allcore_end", Calib.allCoreMs(cores))
    if (tracing) run.writeSpans()
    spark.stop()
    mapper.writeValue(new File(args(1)), out)
  }

  private def dumpCorpus(path: String): Unit = {
    val out = mapper.createObjectNode()
    graft.SparkEntry.corpus.foreach { q =>
      val o = out.putObject(q.name)
      o.put("module", Workloads.moduleOf(q.name))
      q.oracle.foreach(o.put("oracle", _))
    }
    mapper.writeValue(new File(path), out)
  }

  /** Encode one result cell so the Python side rebuilds the value DuckDB
    * would return: numbers and strings as JSON, the rest tagged. */
  def cell(v: Any): JsonNode = {
    val n = mapper.getNodeFactory
    def tagged(k: String, x: JsonNode) = { val o = n.objectNode(); o.set[JsonNode](k, x); o }
    v match {
      case null => n.nullNode()
      case b: Boolean => n.booleanNode(b)
      case b: Byte => n.numberNode(b.toLong)
      case s: Short => n.numberNode(s.toLong)
      case i: Int => n.numberNode(i.toLong)
      case l: Long => n.numberNode(l)
      case f: Float => cell(f.toDouble)
      case d: Double =>
        if (d.isNaN || d.isInfinite) tagged("f", n.textNode(d.toString)) else n.numberNode(d)
      case d: java.math.BigDecimal => tagged("dec", n.textNode(d.toPlainString))
      case d: scala.math.BigDecimal => tagged("dec", n.textNode(d.bigDecimal.toPlainString))
      case s: String => n.textNode(s)
      case t: java.sql.Timestamp =>
        tagged("ts", n.numberNode(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
      case t: java.time.Instant =>
        tagged("ts", n.numberNode(t.getEpochSecond * 1000000L + t.getNano / 1000))
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        tagged("ts", n.numberNode(i.getEpochSecond * 1000000L + i.getNano / 1000))
      case d: java.sql.Date => tagged("date", n.numberNode(d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => tagged("date", n.numberNode(d.toEpochDay))
      case b: Array[Byte] => tagged("bin", n.textNode(b.map("%02x".format(_)).mkString))
      case s: scala.collection.Seq[_] =>
        val a = n.arrayNode(); s.foreach(x => a.add(cell(x))); a
      case other => tagged("str", n.textNode(other.toString))
    }
  }

  def rowsNode(cols: Seq[String], rows: Array[Row]): ObjectNode = {
    val o = mapper.createObjectNode()
    val c = o.putArray("cols"); cols.foreach(c.add)
    val r = o.putArray("rows")
    rows.foreach { row =>
      val a = r.addArray()
      (0 until row.length).foreach(i => a.add(cell(row.get(i))))
    }
    o
  }

  /** Order-sensitive digest of collected rows: later passes must return
    * exactly what the oracle-checked first pass returned. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

/** State shared by a workload: the session, plan, output and tracing. */
final class Run(val spark: SparkSession, val plan: JsonNode, val out: ObjectNode,
    val tracing: Boolean, val tr: Tracer, val counters: Option[SparkCounters]) {
  val work: String = plan.get("work").asText
  val fixture: String = plan.get("fixture").asText
  val seed: Long = plan.get("seed").asLong
  val seconds: Double = plan.get("seconds").asDouble
  val ops: ArrayNode = out.putArray("ops")
  val layer: ObjectNode = out.putObject("layer")
  private var opCount = 0
  private var slotCount = 0

  /** A logical operation; its repeated executions share the slot. */
  def newSlot(): Int = { slotCount += 1; slotCount - 1 }

  /** Record the repeated set-up step's times and the warm pass. */
  def setupTimes(creates: Seq[Double], warm: Double): Unit = {
    val s = out.get("setup").asInstanceOf[ObjectNode]
    s.put("warm_s", warm)
    val a = s.putArray("create_s"); creates.foreach(a.add(_))
  }

  /** Append a number to the per-layer series `key`. */
  def sample(key: String, v: Double): Unit = {
    val a = Option(layer.get(key)).getOrElse(layer.putArray(key)).asInstanceOf[ArrayNode]
    a.add(v); ()
  }

  /** One timed operation. The clock covers `body` only; failures are
    * recorded with their message and class, never dropped. Traced runs
    * then drain the listener bus (outside the clock) and attach this
    * operation's Spark counter deltas and job count. */
  def op(kind: String, name: String, pass: Int, slot: Int)(body: => Option[String]): ObjectNode = {
    val id = opCount; opCount += 1
    val traced = tr.on
    val before = if (traced) counters.map { c => c.drain(); c.snapshot() } else None
    val o = ops.addObject()
    o.put("kind", kind); o.put("name", name); o.put("pass", pass); o.put("id", id)
    o.put("traced", traced); o.put("slot", slot)
    val t0 = System.nanoTime()
    val result =
      try Right(tr.operation(id, "op")(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    o.put("ms", ms)
    System.err.println(f"[op] $pass%3d $kind%-10s $name%-40s $ms%9.1f ms ${if (result.isRight) "ok" else "FAILED"}")
    result match {
      case Right(d) =>
        o.put("ok", true); d.foreach(o.put("digest", _))
      case Left(e) =>
        o.put("ok", false)
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        o.put("error", Option(e.getMessage).getOrElse(e.toString).take(2000))
        o.put("error_class", e.getClass.getName)
        o.put("root_class", root.getClass.getName)
    }
    for (c <- counters; b <- before) {
      c.drain()
      val s = o.putObject("spark")
      c.snapshot().foreach { case (k, v) => s.put(k, v - b(k)) }
    }
    o
  }

  /** The timed window: loop passes of work until at least `seconds` of
    * wall-clock time has passed, always finishing the pass in progress,
    * and record the window's length. A traced run traces odd passes
    * only and ends on an untraced one, so every traced pass has its
    * untraced twin. */
  def timedPasses(runPass: Int => Unit): Unit = {
    System.gc() // set-up garbage is collected before the window opens
    var pass = 1
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass == 1 || (tracing && pass % 2 == 0) || elapsed < seconds) {
      tr.on = tracing && pass % 2 == 1
      runPass(pass); pass += 1
    }
    out.put("window_s", elapsed)
    tr.on = false
  }

  /** Spans as rows [name, op, parent, t0_ns, t1_ns] plus, per span, the
    * jobs Spark submitted inside its wall-clock interval. */
  def writeSpans(): Unit = {
    counters.foreach(_.drain())
    val a = out.putArray("spans")
    tr.spans.foreach { s =>
      val r = a.addArray()
      r.add(s.name); r.add(s.op); r.add(s.parent); r.add(s.t0); r.add(s.t1)
      r.add(counters.map(_.jobsBetween(s.ms0, s.ms1)).getOrElse(0))
    }
  }
}
