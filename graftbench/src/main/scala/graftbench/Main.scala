package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.operators.SwitchbackPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Collected rows of one DataFrame, with its schema (kept even when the
  * result is empty, so the dump for the oracle check stays typed). */
final case class Rows(rows: Array[Row], schema: StructType)

final case class OpRecord(id: Int, kind: String, key: String, seconds: Double,
    used: Long, read: Boolean, traced: Boolean, startMs: Long,
    endMs: Long, gcS: Double) {
  var error: Option[String] = None
}

/** The closed-loop runner: one session, one client thread, ops issued
  * back to back. Only library calls run inside an op's timing; checks,
  * dumps and bookkeeping run between ops. */
final class Bench(val seed: Long, val traceMode: Boolean, val workDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val dataDir = s"$workDir/data"
  val checkDir = s"$workDir/check"
  var spark: SparkSession = _
  val trace = new Trace(() => spark.sparkContext)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val sessionStarts = mutable.ArrayBuffer.empty[Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val gauges = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Seq[Int]]
  private val oracles = mutable.LinkedHashMap.empty[String, String]
  private val kindCount = mutable.HashMap.empty[String, Int]
  private var leaked = 0

  def tracing: Boolean = trace.tracing
  def lastOpId: Int = ops.last.id

  def startSession(): Unit = {
    val t = System.nanoTime()
    spark = graft.GraftSession.local(cores)
    sessionStarts += (System.nanoTime() - t) / 1e9
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Op kinds traced every time in a traced run; of every other kind,
    * every other op is traced, and the untraced half gives the tracing
    * overhead. */
  var traceAll: Set[String] = Set.empty

  /** One timed op. `call` gets the op id and makes the library calls;
    * `check` judges its value afterwards, off the clock. */
  def op[A](kind: String, key: String, used: Long, read: Boolean)
      (call: Int => A)(check: A => Option[String]): Unit = {
    val id = ops.size
    val nth = kindCount.getOrElse(kind, 0)
    kindCount(kind) = nth + 1
    val traced = traceMode && (traceAll(kind) || nth % 2 == 0)
    if (traced) trace.begin()
    val gc0 = gcSeconds
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(trace.span(s"op.$kind", id)(call(id))) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val gc = gcSeconds - gc0
    if (traced) trace.end()
    val rec = OpRecord(id, kind, key, dt, used, read, traced, ms0, ms1, gc)
    ops += rec
    rec.error = out match {
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    println(f"[graftbench] op $id%d $kind%s $key%s $dt%.3f s${rec.error.fold("")(" FAILED: " + _)}%s")
    // the runner contract in CacheScope's doc: release after every op
    val r0 = System.nanoTime()
    try graft.CacheScope.releaseAll()
    catch { case NonFatal(e) => if (rec.error.isEmpty) rec.error = Some(s"releaseAll: ${e.getMessage}") }
    record("CacheScope.releaseAll_s", (System.nanoTime() - r0) / 1e9)
    leaked = leaked max spark.sparkContext.getPersistentRDDs.size
  }

  /** Force a DataFrame-returning library call: its own span for the
    * call, then planning and execution as child spans. */
  def collect(layer: String, id: Int)(build: => DataFrame): Rows = trace.span(layer, id) {
    val df = build
    if (trace.tracing) trace.span("plans.plan", id)(df.queryExecution.executedPlan)
    val rows = trace.span("exec.collect", id)(df.collect())
    Rows(rows, df.schema)
  }

  def call[A](layer: String, id: Int)(body: => A): A = trace.span(layer, id)(body)

  /** Time a side computation that is not an op (traced runs only). */
  def aside(layer: String)(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    record(s"${layer}_s", (System.nanoTime() - t) / 1e9)
    graft.CacheScope.releaseAll()
  }

  def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def setGauge(name: String, v: Double): Unit = gauges(name) = v
  def gauge(name: String): Double = gauges.getOrElse(name, 0.0)

  /** Write `rows` for tools/check.py to compare against `oracle`; a
    * mismatch fails every op in `opIds`. */
  def dumpForCheck(name: String, rows: Rows, oracle: String, opIds: Seq[Int]): Unit = {
    spark.createDataFrame(rows.rows.toList.asJava, rows.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$checkDir/$name")
    oracles(name) = oracle
    checks(name) = opIds
  }

  def writeOracles(): Unit = {
    new java.io.File(checkDir).mkdirs()
    val w = new java.io.PrintWriter(s"$checkDir/oracle_sql.json", "UTF-8")
    try w.print(Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
    finally w.close()
  }

  // ----------------------------------------------------------- metrics

  private def spansOf(op: OpRecord): Seq[Span] = trace.ofOp(op.id)
  private def tracedOps: Seq[OpRecord] = ops.filter(_.traced).toSeq

  /** Median over traced ops that called `layer` of its summed time. */
  private def layerSeconds(names: String*): Double =
    Bench.median(tracedOps.map(o => spansOf(o).filter(s => names.contains(s.name)))
      .filter(_.nonEmpty).map(_.map(_.seconds).sum))

  private def perOp(f: Seq[Span] => Double): Double =
    Bench.median(tracedOps.map(o => f(spansOf(o))))

  def endToEnd(wl: Workload, setups: Seq[Double]): Seq[(String, Double, String)] = {
    val prim = ops.filter(o => wl.primary(o.kind)).toSeq
    val reads = ops.filter(_.read).toSeq
    val (stored, live) = wl.storage
    Seq(
      ("setup_s", Bench.median(setups), "s"),
      ("peak_mem_mb", Mem.peakMb, "MB"),
      ("op_p50_s", Bench.median(prim.map(_.seconds)), "s"),
      ("read_p50_s", Bench.median(reads.map(_.seconds)), "s"),
      ("storage_amp", stored.toDouble / live.max(1L), "ratio"))
  }

  def perLayer(setups: Seq[Double]): Seq[(String, Double, String)] = {
    val traced = tracedOps
    // per kind: traced median over untraced median, for kinds with both
    val overheads = ops.filterNot(o => traceAll(o.kind)).groupBy(_.kind).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Bench.median(t.map(_.seconds).toSeq) / Bench.median(u.map(_.seconds).toSeq) - 1)
    }
    val taskS = traced.map(o => spansOf(o).map(_.taskMs).sum / 1e3).sum
    val wallS = traced.map(_.seconds).sum
    // rows read by the call that scans events, against the events it needs
    val scans = traced.filter(_.used > 0).map { o =>
      val ss = spansOf(o)
      val scan = ss.filter(_.name == "DailyPipeline.landDay")
      ((if (scan.nonEmpty) scan else ss).map(_.rowsRead).sum, o.used)
    }
    def g(n: String) = gauges.getOrElse(n, 0.0)
    def s(n: String) = Bench.median(samples.getOrElse(n, mutable.ArrayBuffer.empty[Double]).toSeq)
    val commit = traced.filter(_.kind == "day").flatMap { o =>
      spansOf(o).find(_.name == "DailyPipeline.landDay").map(_.seconds)
    }
    val readRoots = traced.flatMap(o => spansOf(o).filter(x =>
      x.name == "DailyPipeline.resultsTable" || x.name == "Maintenance.readSnapshot"))
    val readExec = readRoots.map(r => trace.spans.filter(c => c.parent == r.id && c.name == "exec.collect")
      .map(_.seconds).sum)
    Seq(
      ("GraftSession.start_s", Bench.median(sessionStarts.toSeq), "s"),
      ("plans.plan_s", layerSeconds("plans.plan"), "s"),
      ("exec.jobs", Bench.mean(traced.map(o => spansOf(o).map(_.jobs).sum.toDouble)), "count"),
      ("exec.stages", Bench.mean(traced.map(o => spansOf(o).map(_.stages).sum.toDouble)), "count"),
      ("exec.tasks", Bench.mean(traced.map(o => spansOf(o).map(_.tasks).sum.toDouble)), "count"),
      ("exec.driver_wait_s", Bench.median(traced.map(o => trace.idleSeconds(spansOf(o), o.startMs, o.endMs))), "s"),
      ("exec.task_s", perOp(_.map(_.taskMs).sum / 1e3), "s"),
      ("exec.busy_frac", if (wallS > 0) taskS / (wallS * cores) else 0.0, "fraction"),
      ("exec.shuffle_bytes", perOp(_.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("exec.spill_bytes", perOp(_.map(_.spillBytes).sum.toDouble), "bytes"),
      ("exec.gc_s", Bench.median(traced.map(_.gcS)), "s"),
      ("Tables.rows_read", perOp(_.map(_.rowsRead).sum.toDouble), "count"),
      ("Tables.bytes_read", perOp(_.map(_.bytesRead).sum.toDouble), "bytes"),
      ("Tables.rows_read_per_row_used",
        if (scans.isEmpty) 0.0 else scans.map(_._1).sum.toDouble / scans.map(_._2).sum.max(1L), "ratio"),
      ("SwitchbackPipeline.runWith_s", layerSeconds("SwitchbackPipeline.runWith"), "s"),
      ("SwitchbackPipeline.run_s", layerSeconds("SwitchbackPipeline.run"), "s"),
      ("Stats.mwu_s", layerSeconds("Stats.mwu"), "s"),
      ("Stats.ttestWelch_s", layerSeconds("Stats.ttestWelch"), "s"),
      ("Stats.ciNormal_s", layerSeconds("Stats.ciNormal"), "s"),
      ("Switchback.sbMetrics_s", layerSeconds("Switchback.sbMetrics"), "s"),
      ("Switchback.counterpart_s", layerSeconds("Switchback.counterpart"), "s"),
      ("Switchback.srmChisq_s", layerSeconds("Switchback.srmChisq"), "s"),
      ("DailyPipeline.landDay_s", layerSeconds("DailyPipeline.landDay"), "s"),
      ("DailyPipeline.dayDelta_s", s("DailyPipeline.dayDelta_s"), "s"),
      ("Maintenance.commit_s",
        if (commit.isEmpty) 0.0 else Bench.median(commit) - s("DailyPipeline.dayDelta_s"), "s"),
      ("Maintenance.files_written", s("Maintenance.files_written"), "count"),
      ("Maintenance.bytes_written", s("Maintenance.bytes_written"), "bytes"),
      ("Maintenance.write_amp", s("Maintenance.write_amp"), "ratio"),
      ("Maintenance.versions", g("Maintenance.versions"), "count"),
      ("Maintenance.live_files", g("Maintenance.live_files"), "count"),
      ("Maintenance.compact_s", layerSeconds("Maintenance.compactSnapshotPartition"), "s"),
      ("Maintenance.compact_bytes_rewritten", s("Maintenance.compact_bytes_rewritten"), "bytes"),
      ("Maintenance.vacuum_s", layerSeconds("Maintenance.vacuumSnapshots"), "s"),
      ("Maintenance.readSnapshot_plan_s",
        Bench.median(readRoots.zip(readExec).map { case (r, e) => r.seconds - e }), "s"),
      ("Maintenance.readSnapshot_exec_s", Bench.median(readExec), "s"),
      ("sources.sql_read_s", layerSeconds("sources.sql"), "s"),
      ("Dedup.writeMinhashIndex_s", s("Dedup.writeMinhashIndex_s"), "s"),
      ("Dedup.dedupAgainstIndex_s", layerSeconds("Dedup.dedupAgainstIndex"), "s"),
      ("Dedup.appendToMinhashIndex_s", layerSeconds("Dedup.appendToMinhashIndex"), "s"),
      ("Dedup.compactMinhashIndex_s", layerSeconds("Dedup.compactMinhashIndex"), "s"),
      ("Dedup.matches_per_new_doc", g("Dedup.matches_per_new_doc"), "ratio"),
      ("CacheScope.releaseAll_s", s("CacheScope.releaseAll_s"), "s"),
      ("CacheScope.leaked_rdds", leaked.toDouble, "count"),
      ("trace.overhead_frac",
        Bench.median(overheads), "fraction"),
      ("bench.cold_setup_s", setups.head, "s"),
      ("bench.warmup_s", g("bench.warmup_s"), "s"),
      ("host.load1", g("host.load1"), "load"),
      ("host.busy_frac", g("host.busy_frac"), "fraction"),
      ("host.steal_frac", g("host.steal_frac"), "fraction"))
  }

  /** Per-layer self time over the traced ops, for the trace file. */
  def layerSummary: Seq[String] =
    trace.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      Json.obj(Seq("layer" -> Json.str(name), "spans" -> Json.num(ss.size),
        "total_s" -> Json.num(ss.map(_.seconds).sum),
        "self_s" -> Json.num(ss.map(trace.selfSeconds).sum),
        "self_p50_s" -> Json.num(Bench.median(ss.map(trace.selfSeconds).toSeq))))
    }
}

object Bench {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-independent form of a result, for comparing repeats. */
  def canonical(r: Rows): Seq[String] = r.rows.map(_.toString).toSeq.sorted

  def hashRows(spark: SparkSession, r: Rows): String =
    graft.Verify.contentHash(spark.createDataFrame(r.rows.toList.asJava, r.schema))
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --t0-ms EPOCH_MS [--trace-out FILE] [--selftest 1]`. Writes
  * `DIR/result.json` and the dumps for tools/check.py under `DIR/check`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seconds = args("seconds").toDouble
    val work = args("work")
    val b = new Bench(args("seed").toLong, args.get("trace").contains("1"), work)
    val wl = Workload(name, b)
    Mem.watch()
    try {
      // set-up, three times: session start and input generation. The
      // first is timed from JVM start; the median is reported.
      val setups = (0 until 3).map { rep =>
        val t0 = System.nanoTime()
        val sinceJvmStart = if (rep == 0) System.currentTimeMillis() - args("t0-ms").toLong else 0L
        b.stopSession()
        b.startSession()
        wl.prepare()
        sinceJvmStart / 1e3 + (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmUp()
      graft.CacheScope.releaseAll()
      b.setGauge("bench.warmup_s", (System.nanoTime() - w0) / 1e9)
      println(f"[graftbench] set-up ${setups.mkString(" ")} s, warm-up ${b.gauge("bench.warmup_s")}%.3f s")
      if (args.get("selftest").contains("1")) selftest(b)
      val load0 = Host.load1
      val (busy0, steal0, total0) = Host.ticks
      val start = System.nanoTime()
      while ((System.nanoTime() - start) / 1e9 < seconds && wl.step()) {}
      val (busy1, steal1, total1) = Host.ticks
      val ticks = (total1 - total0).max(1L).toDouble
      b.setGauge("host.load1", (load0 + Host.load1) / 2)
      b.setGauge("host.busy_frac", (busy1 - busy0) / ticks)
      b.setGauge("host.steal_frac", (steal1 - steal0) / ticks)
      val f0 = System.nanoTime()
      wl.finish()
      b.writeOracles()
      println(f"[graftbench] finish ${(System.nanoTime() - f0) / 1e9}%.3f s")
      val metrics = if (b.traceMode) b.perLayer(setups) else b.endToEnd(wl, setups)
      args.get("trace-out").foreach { f =>
        val opLines = b.ops.map(o => Json.obj(Seq("op" -> Json.num(o.id), "kind" -> Json.str(o.kind),
          "key" -> Json.str(o.key), "seconds" -> Json.num(o.seconds), "traced" -> Json.bool(o.traced))))
        b.trace.writeJsonl(new java.io.File(f), opLines.toSeq ++ b.layerSummary)
      }
      val result = Json.obj(Seq(
        "workload" -> Json.str(name),
        "attempted" -> Json.num(b.ops.size),
        "errors" -> Json.arr(b.ops.filter(_.error.nonEmpty).map(o => Json.obj(Seq(
          "op" -> Json.num(o.id), "kind" -> Json.str(o.kind), "key" -> Json.str(o.key),
          "error" -> Json.str(o.error.get.take(2000)))))),
        "checks" -> Json.obj(b.checks.map { case (k, ids) => k -> Json.arr(ids.map(Json.num)) }),
        "setup_reps_s" -> Json.arr(setups.map(Json.num)),
        "gauges" -> Json.obj(Seq("host.load1", "host.busy_frac", "host.steal_frac")
          .map(g => g -> Json.num(b.gauge(g)))),
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      val w = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
      try w.print(result) finally w.close()
    } finally {
      graft.sources.Sources.deleteRecursively(new java.io.File(work, "lake"))
      b.stopSession()
    }
  }

  /** Feed one throwing op and one op with a deliberately wrong result
    * through the same path as every measured op: both must be counted
    * as failed. */
  private def selftest(b: Bench): Unit = {
    b.op("selftest_throw", "selftest_throw", 0L, read = true) { _ =>
      throw new IllegalStateException("deliberate failure")
    } { (_: Unit) => None }
    val p = SwitchbackPipeline.rerunParams
    b.op("selftest_wrong", "selftest_wrong", 0L, read = true) { id =>
      b.collect("SwitchbackPipeline.runWith", id)(SwitchbackPipeline.runWith(b.spark, b.dataDir, p))
    } { r =>
      val first = r.rows.head
      val bad = Row.fromSeq(first.toSeq.updated(first.fieldIndex("n_on"), first.getLong(first.fieldIndex("n_on")) + 1))
      b.dumpForCheck("selftest_wrong", Rows(bad +: r.rows.tail, r.schema),
        SwitchbackPipeline.oracleFor(p), Seq(b.lastOpId))
      None
    }
  }
}
