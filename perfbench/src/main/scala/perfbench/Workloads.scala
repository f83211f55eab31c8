package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.{DeltaScanner, DuckDialect, SessionCaches, SparkEntry, Tables}
import graft.operators.ScdPipeline
import graft.sources.{DeltaDml, DeltaLog, DeltaMaintenance, DeltaWrite}

object Workloads {

  /** Operator module of each corpus entry: the object its builder was
    * compiled in (read off the closure's class, so the harness does not
    * name the modules and survives their being merged or split). */
  val moduleOf: Map[String, String] = SparkEntry.corpus.map { q =>
    q.name -> q.run.getClass.getName.split('.').last.takeWhile(_ != '$')
  }.toMap

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Write `df` as a Delta table of `parts` commits: rows go to commit
    * pmod(xxhash64(first column, seed), parts). */
  private def createDelta(r: Run, df: DataFrame, path: String, parts: Int): Unit =
    (0 until parts).foreach { i =>
      val part = df.filter(pmod(xxhash64(col(df.columns.head), lit(r.seed)), lit(parts)) === i)
      DeltaWrite.write(part.coalesce(1), path,
        if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
    }

  /** Probe of the log the next read replays (traced runs, outside the
    * operation clock): snapshot time, JSON commits since the last
    * checkpoint, live files. */
  private def logProbe(r: Run, path: String): DeltaLog.Snapshot = {
    val (snap, s) = time(DeltaLog.snapshot(r.spark, path))
    r.sample("delta_log.snapshot_ms", s * 1000)
    val log = new File(path, "_delta_log").listFiles().map(_.getName)
      .collect { case LogFile(v, kind) => (v.toLong, kind) }
    val ckpt = log.collect { case (v, k) if k.startsWith("checkpoint") => v }
      .maxOption.getOrElse(-1L)
    r.sample("delta_log.commits_replayed", log.count { case (v, k) => k == "json" && v > ckpt })
    r.sample("delta_log.live_files", snap.files.size)
    snap
  }

  private val LogFile = """(\d{20})\.(json|checkpoint.*)""".r

  private val TableRef = Tables.names.map(t => t -> s"(?i)\\b$t\\b".r)

  /** sql_delta runs each timed statement twice back to back and run.py
    * scores it by the faster run (best-of-2): run once, a statement's
    * latency depends on the statement the seeded order put before it,
    * and a run's median moved by a third between seeds. corpus_df's
    * queries show no such effect and run once per pass. */
  private val SqlReps = 2

  // ---------------------------------------------------------------- sql_delta

  /** The corpus's own DuckDB statements through `DuckDialect.sql` (the
    * function `DeltaScanner.query` calls) over Delta copies of the
    * fixture. Each statement re-resolves the tables it names through
    * `DeltaLog.read`, as delta_scan does per query, and collects its
    * rows as query() callers consume them. */
  def sqlDelta(r: Run): Unit = {
    import r.spark
    val commits = r.plan.get("commits").asInt
    val setupReps = r.plan.get("setup_reps").asInt
    val stmts = r.plan.get("statements").elements().asScala.map { s =>
      val sql = s.get("sql").asText
      (s.get("name").asText, sql, TableRef.collect { case (t, re) if re.findFirstIn(sql).isDefined => t })
    }.toSeq
    val used = Tables.names.filter(t => stmts.exists(_._3.contains(t)))
    val creates = (0 until setupReps).map { i =>
      time(used.foreach(t => createDelta(r, Tables.load(spark, r.fixture, t),
        s"${r.work}/delta_$i/$t", commits)))._2
    }
    val dir = s"${r.work}/delta_${setupReps - 1}"

    def runOne(name: String, sql: String, tables: Seq[String], pass: Int,
        slot: Int): (Option[Array[Row]], Seq[String]) = {
      var rows: Option[Array[Row]] = None
      var cols: Seq[String] = Nil
      r.op("statement", name, pass, slot) {
        tables.foreach(t => r.tr.span("delta_log.read") {
          DeltaLog.read(spark, s"$dir/$t").createOrReplaceTempView(t)
        })
        val df = r.tr.span("dialect.sql")(DuckDialect.sql(spark, sql))
        if (r.tr.on) r.tr.span("spark.plan")(df.queryExecution.executedPlan)
        val got = r.tr.span("spark.exec")(df.collect())
        rows = Some(got); cols = df.columns.toSeq
        Some(Main.digest(got))
      }
      if (r.tr.on) {
        val (rw, s) = time(DuckDialect.rewrite(sql))
        r.sample("dialect.rewrite_ms", s * 1000)
        r.sample("dialect.rewritten", if (rw != sql) 1 else 0)
        tables.foreach(t => logProbe(r, s"$dir/$t"))
      }
      (rows, cols)
    }

    // Warm pass: every statement once, rows kept for the oracle.
    val results = r.out.putObject("results")
    var dump = 0.0
    val (_, warm) = time(stmts.foreach { case (n, sql, ts) =>
      val (rows, cols) = runOne(n, sql, ts, 0, r.newSlot())
      dump += time(rows.foreach(rs => results.set[JsonNode](n, Main.rowsNode(cols, rs))))._2
    })
    r.setupTimes(creates, warm - dump)

    r.timedPasses(pass => stmts.foreach { case (n, sql, ts) =>
      val slot = r.newSlot()
      (0 until SqlReps).foreach(_ => runOne(n, sql, ts, pass, slot))
    })
  }

  // ---------------------------------------------------------------- corpus_df

  /** `SparkEntry.queries` builders in the plan's order on the fixture:
    * the operation is the build plus a full materialization through the
    * `noop` sink. Set-up is loading the fixture tables (`Tables.load`). */
  def corpusDf(r: Run): Unit = {
    import r.spark
    val setupReps = r.plan.get("setup_reps").asInt
    val creates = (0 until setupReps).map { _ =>
      Tables.invalidate()
      time(Tables.names.foreach(t => Tables.load(spark, r.fixture, t)))._2
    }
    val names = Main.mapper.convertValue(r.plan.get("names"), classOf[Array[String]]).toSeq

    def runOne(name: String, pass: Int, slot: Int,
        collect: Boolean): Option[(Seq[String], Array[Row])] = {
      var got: Option[(Seq[String], Array[Row])] = None
      val o = r.op("query", name, pass, slot) {
        val df = r.tr.span(s"operators.${moduleOf(name)}.build")(SparkEntry.queries(name)(spark, r.fixture))
        if (r.tr.on) r.tr.span("spark.plan")(df.queryExecution.executedPlan)
        r.tr.span("spark.exec") {
          if (collect) got = Some((df.columns.toSeq, df.collect()))
          else df.write.format("noop").mode("overwrite").save()
        }
        got.map(g => Main.digest(g._2))
      }
      o.put("module", moduleOf(name))
      spark.catalog.clearCache()
      SessionCaches.release(spark)
      got
    }

    val results = r.out.putObject("results")
    var dump = 0.0
    val (_, warm) = time(names.foreach { n =>
      runOne(n, 0, r.newSlot(), collect = true).foreach { case (cols, rows) =>
        dump += time(results.set[JsonNode](n, Main.rowsNode(cols, rows)))._2
      }
    })
    r.setupTimes(creates, warm - dump)

    r.timedPasses(pass => names.foreach(n => runOne(n, pass, r.newSlot(), collect = false)))

    // The timed passes write to `noop` and return nothing to check, so
    // after the window every query is collected once more (pass -1);
    // run.py compares its digest with the oracle-checked warm pass.
    names.foreach(n => runOne(n, -1, r.newSlot(), collect = true))
  }

  // --------------------------------------------------------------- delta_sync

  private val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val ScdView = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
    "c_mktsegment", "effective_date", "end_date", "is_current")

  /** A seeded write loop: appends, DELETE and UPDATE on a copy-on-write
    * and a deletion-vector table, MERGE upserts, SCD2 syncs of changed
    * customer batches and a compaction in every cycle, each write
    * followed by one read of the table it changed (a stats, point or
    * range read, fixed by the kind of write).
    * `delta.checkpointInterval` makes some commits leave a checkpoint. */
  def deltaSync(r: Run): Unit = {
    import r.spark
    val reps = r.plan.get("setup_reps").asInt
    val interval = r.plan.get("checkpoint_interval").asInt
    val commits = r.plan.get("commits").asInt
    val orders = Tables.load(spark, r.fixture, "orders")
    val customer = Tables.load(spark, r.fixture, "customer")
    val t0 = new java.sql.Timestamp(r.plan.get("scd_epoch_ms").asLong)
    def create(dir: String): Unit = {
      createDelta(r, orders, s"$dir/cow", commits)
      createDelta(r, orders, s"$dir/dv", commits)
      DeltaMaintenance.setTblProperties(spark, s"$dir/cow",
        Map("delta.checkpointInterval" -> interval.toString))
      DeltaMaintenance.setTblProperties(spark, s"$dir/dv",
        Map("delta.checkpointInterval" -> interval.toString,
          "delta.enableDeletionVectors" -> "true"))
      val (scd, _) = ScdPipeline.sync(ScdPipeline.emptyTarget(customer), customer,
        Seq("c_custkey"), now = t0)
      DeltaWrite.write(scd, s"$dir/scd")
      DeltaMaintenance.setTblProperties(spark, s"$dir/scd",
        Map("delta.checkpointInterval" -> interval.toString))
    }
    // The last copy is the timed one. The warm cycles run on it (pass 0),
    // so the timed window starts on a log they have grown. A traced run
    // then copies the tables to a twin and replays every traced cycle on
    // the twin, untraced, so its tracing overhead compares the same
    // operations on the same log.
    val creates = (0 until reps).map(i => time(create(s"${r.work}/sync_$i"))._2)
    val cycles = r.plan.get("cycles").elements().asScala.toSeq
    val dir = s"${r.work}/sync_${reps - 1}"
    val twin = s"${r.work}/twin"
    val slots = cycles.map(c => Seq.fill(c.size)(r.newSlot()))
    val warmCycles = r.plan.get("warm_cycles").asInt
    val (_, warm) = time((0 until warmCycles).foreach(c => runCycle(r, dir, cycles(c), 0, slots(c))))
    r.setupTimes(creates, warm)
    if (r.tracing) copyTree(new File(dir), new File(twin))

    var next = warmCycles
    r.timedPasses { pass =>
      if (r.tracing && pass % 2 == 0) runCycle(r, twin, cycles(next - 1), pass, slots(next - 1))
      else {
        require(next < cycles.size, "plan ran out of cycles")
        runCycle(r, dir, cycles(next), pass, slots(next)); next += 1
      }
    }
    r.out.put("cycles_run", next)

    // Final contents for the oracle, and the space the tables occupy.
    val fin = r.out.putObject("final")
    Seq("cow", "dv").foreach { t =>
      val df = DeltaLog.read(spark, s"$dir/$t").orderBy("o_orderkey")
      fin.set[JsonNode](t, Main.rowsNode(df.columns.toSeq, df.collect()))
    }
    val scd = DeltaLog.read(spark, s"$dir/scd")
    val sv = scd.select(ScdView.map(col): _*).orderBy("c_custkey", "effective_date")
    fin.set[JsonNode]("scd", Main.rowsNode(sv.columns.toSeq, sv.collect()))
    val ids = scd.selectExpr("count(distinct scd_id)", "min(scd_id)", "max(scd_id)", "count(*)").head
    fin.putArray("scd_ids").add(ids.getLong(0)).add(ids.getLong(1)).add(ids.getLong(2)).add(ids.getLong(3))
    var onDisk, live, liveRows, logBytes = 0L
    Seq("cow", "dv", "scd").foreach { t =>
      onDisk += Main.treeBytes(new File(s"$dir/$t"))
      live += DeltaLog.snapshot(spark, s"$dir/$t").files.map(_.size).sum
      liveRows += DeltaLog.read(spark, s"$dir/$t").count()
      logBytes += Main.treeBytes(new File(s"$dir/$t/_delta_log"))
    }
    r.out.put("space_amp", onDisk.toDouble / live)
    r.out.put("live_row_bytes", live.toDouble / liveRows)
    r.out.put("log_bytes", logBytes)
  }

  /** One cycle's operations on the tables under `dir`; operation i is
    * recorded under `slots(i)`. */
  private def runCycle(r: Run, dir: String, cycle: JsonNode, pass: Int, slots: Seq[Int]): Unit = {
    import r.spark
    val scanner = new DeltaScanner(spark)
    cycle.elements().asScala.zip(slots).foreach { case (o, slot) =>
      val kind = o.get("kind").asText
      val table = o.get("table").asText
      val path = s"$dir/$table"
      def lohi(c: String): Column = col(c).between(o.get("lo").asLong, o.get("hi").asLong)
      kind match {
        case "read_stats" | "read_point" | "read_range" =>
          val key = if (table == "scd") "c_custkey" else "o_orderkey"
          lazy val cond = if (kind == "read_point") col(key) === o.get("lo").asLong else lohi(key)
          var rows: Array[Row] = Array.empty
          var cols: Seq[String] = Nil
          val rec = r.op(kind, table, pass, slot) {
            if (kind == "read_stats") {
              val schema = r.tr.span("scanner.schema")(scanner.getTableSchema(path))
              val n = r.tr.span("scanner.stats")(scanner.getTableStats(path))
              cols = Seq("n", "width"); rows = Array(Row(n, schema.size.toLong))
            } else {
              val df0 = r.tr.span("delta_log.read_where")(DeltaLog.readWhere(spark, path, cond))
              val df = if (table == "scd") df0.select(ScdView.map(col): _*)
                .orderBy("c_custkey", "effective_date") else df0.orderBy(key)
              rows = r.tr.span("spark.exec")(df.collect()); cols = df.columns.toSeq
            }
            None
          }
          rec.set[JsonNode]("result", Main.rowsNode(cols, rows))
          if (r.tr.on && kind != "read_stats") {
            val snap = logProbe(r, path)
            val kept = DeltaLog.readWhere(spark, path, cond).inputFiles.length
            r.sample("delta_log.skip_kept_frac", kept.toDouble / math.max(1, snap.files.size))
          }
        case _ =>
          val bytes0 = if (r.tr.on) dataBytes(path) else 0L
          val rec = r.op(kind, table, pass, slot) {
            val v = r.tr.span(s"delta_write.$kind")(write(r, path, kind, o))
            Some(v.toString)
          }
          if (rec.get("ok").asBoolean) {
            val v = rec.get("digest").asText.split(',')
            rec.put("version", v(0).toLong)
            rec.put("rewritten_files", v(1).toLong)
            rec.put("rows", v(2).toLong)
            rec.put("checkpoint", new File(s"$path/_delta_log/${"%020d".format(v(0).toLong)}.checkpoint.parquet").isFile)
            rec.remove("digest")
          }
          if (r.tr.on) rec.put("bytes_written", dataBytes(path) - bytes0)
      }
    }
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** Bytes of data files under a table (everything but the log). */
  private def dataBytes(path: String): Long =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(_.getName != "_delta_log").map(Main.treeBytes).sum

  /** One write; returns "version,rewrittenFiles,rows". */
  private def write(r: Run, path: String, kind: String, o: JsonNode) = {
    import r.spark
    def src = spark.read.parquet(o.get("source").asText)
    def lohi = col("o_orderkey").between(o.get("lo").asLong, o.get("hi").asLong)
    kind match {
      case "append" =>
        val v = DeltaWrite.write(src, path, SaveMode.Append)
        s"$v,0,${o.get("rows").asLong}"
      case "delete" =>
        val d = DeltaDml.delete(spark, path, lohi)
        s"${d.version},${d.rewrittenFiles},${d.affectedRows}"
      case "update" =>
        val d = DeltaDml.update(spark, path, lohi, Seq(
          "o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + 1.0)))
        s"${d.version},${d.rewrittenFiles},${d.affectedRows}"
      case "merge" =>
        val m = DeltaDml.merge(spark, path, src, col("t.o_orderkey") === col("s.o_orderkey"),
          matchedUpdate = OrderCols.filterNot(_ == "o_orderkey").map(c => c -> col(s"s.$c")),
          insert = true)
        s"${m.version},${m.rewrittenFiles},${m.updatedRows + m.insertedRows}"
      case "compact" =>
        val (n, v) = DeltaMaintenance.compact(spark, path, smallFileBytes = 1L << 30)
        s"$v,$n,0"
      case "scd" =>
        val target = r.tr.span("delta_log.read")(DeltaLog.read(spark, path))
        val now = new java.sql.Timestamp(o.get("now_ms").asLong)
        val (next, sum) = r.tr.span("scd.sync")(
          ScdPipeline.sync(target, src, Seq("c_custkey"), now = now))
        val v = DeltaWrite.write(next, path, SaveMode.Overwrite)
        s"$v,0,${sum.insertedNew + sum.closedChanged}"
    }
  }
}
