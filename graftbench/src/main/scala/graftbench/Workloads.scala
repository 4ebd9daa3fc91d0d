package graftbench

import graft.{Registry, Verify}
import graft.operators.{DailyPipeline, Dedup, Maintenance, SwitchbackPipeline}
import graft.operators.SwitchbackPipeline.SwitchbackParams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A seeded op stream. `prepare` is the set-up (repeated for the set-up
  * median), `warmUp` runs once after it; `step` issues the next timed
  * op(s) through [[Bench.op]] and returns false when the stream is
  * exhausted; `finish` runs the off-clock output checks. */
abstract class Workload(val b: Bench) {
  /** Op kinds whose latency is the workload's op latency. */
  def primary: Set[String]
  def prepare(): Unit
  def warmUp(): Unit
  def step(): Boolean
  def finish(): Unit
  /** (bytes stored, bytes of the live files the program reads). */
  def storage: (Long, Long)
}

object Workload {
  val Names: Seq[String] = Seq("sb_requests", "daily_cycle")

  def apply(name: String, b: Bench): Workload = name match {
    case "sb_requests" => new SbRequests(b)
    case "daily_cycle" => new DailyCycle(b)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }

  /** Seeded switchback parameter set `k`: two tests, each over seven
    * days, five zones and three event types, so every request matches
    * about the same number of events and both On and Off arms are
    * populated; which days, zones and types, the keep threshold and the
    * KPI rates are drawn from the seed. */
  def params(rng: scala.util.Random, k: Int): Seq[SwitchbackParams] =
    (0 until 2).map { t =>
      val lo = rng.nextInt(6)
      val start = Gen.FirstDay.plusDays(rng.nextInt(Gen.Days - 6).toLong)
      SwitchbackParams(s"test_p${k}_$t", lo, lo + 4, rng.shuffle(Gen.EventTypes).take(3),
        start.toString, start.plusDays(6L).toString,
        keepThreshold = 80 + rng.nextInt(16),
        revenueRate = Seq(0.7, 0.75, 0.8, 0.85, 0.9)(rng.nextInt(5)),
        unitFee = Seq(0.005, 0.01, 0.02)(rng.nextInt(3)))
    }

  /** Every file under `dir` with its size. */
  def files(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f.getPath -> f.length)
    }.toMap
}

/** Analyst requests over an sf0.1-sized table: ¾ pipeline reruns
  * (`runWith`), each with fresh seeded parameters, ¼ oracle-backed deep
  * dives through `Registry.byName`, the default pipeline
  * (`q_sb_pipeline`) among them. Per-request fixed cost (planning, code
  * generation, job scheduling, parquet open) dominates. Each result is
  * kept for the oracle dump and compared with every repeat of the same
  * request. */
final class SbRequests(b: Bench) extends Workload(b) {
  private val nEvents = 100000L
  private val events = s"${b.dataDir}/events.parquet"
  /** Deep dives by registry name, with the layer each lives in.
    * `q_bootstrap_ci` is left out: one call costs most of a run's window,
    * so whether a seed draws it would decide how many requests the run
    * measures. */
  private val deepDives = Seq("q_sb_pipeline" -> "SwitchbackPipeline.run",
    "q_sb_metrics" -> "Switchback.sbMetrics", "q_mwu" -> "Stats.mwu",
    "q_ttest_welch" -> "Stats.ttestWelch", "q_ci_normal" -> "Stats.ciNormal",
    "q_counterpart" -> "Switchback.counterpart", "q_srm_chisq" -> "Switchback.srmChisq")
  /** `op_p50_s` is the pipeline rerun's latency; `read_p50_s` is every
    * request's, deep dives included. */
  val primary: Set[String] = Set("runWith")
  /** Parameters of the warm-up's reruns, then of each timed one. */
  private val paramRng = new scala.util.Random(b.seed)
  private var reruns = 0
  private val rng = new scala.util.Random(b.seed * 7919 + 1)
  private var n = 0
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Rows, Seq[Int])]
  private val oracles = scala.collection.mutable.HashMap.empty[String, String]
  private val usedRows = scala.collection.mutable.HashMap.empty[String, Long]

  def prepare(): Unit = Gen.writeEvents(b.spark, events, b.seed, nEvents)

  def storage: (Long, Long) = {
    val fs = Workload.files(new java.io.File(events))
    (fs.values.sum, fs.filter(_._1.endsWith(".parquet")).values.sum)
  }

  /** Events inside the union of the tests' windows: the rows a request
    * needs, against which `Tables.rows_read` is compared. */
  private def used(key: String, windows: Seq[(String, String)]): Long =
    usedRows.getOrElseUpdate(key, graft.Tables.events(b.spark, b.dataDir)
      .filter(windows.map { case (s, e) =>
        col("ts").cast("date").between(lit(s).cast("date"), lit(e).cast("date"))
      }.reduce(_ || _)).count())

  /** Time one DataFrame-returning library call, then check its rows. */
  private def request(kind: String, layer: String, key: String, oracle: => String,
      windows: Seq[(String, String)])(build: => DataFrame): Unit = {
    val u = if (b.traceMode) used(key, windows) else 0L
    b.op(kind, key, u, read = true) { id => b.collect(layer, id)(build) } { rows =>
      seen.get(key) match {
        case None =>
          seen(key) = (rows, Seq(b.lastOpId))
          oracles(key) = oracle
          None
        case Some((first, ids)) =>
          seen(key) = (first, ids :+ b.lastOpId)
          if (Bench.canonical(first) == Bench.canonical(rows)) None
          else Some(s"$key: result differs from its first run")
      }
    }
  }

  private val wholeTable =
    Seq((Gen.FirstDay.toString, Gen.FirstDay.plusDays(Gen.Days - 1L).toString))

  private def runWith(): Unit = {
    val k = reruns
    reruns += 1
    val p = Workload.params(paramRng, k)
    request("runWith", "SwitchbackPipeline.runWith", s"runWith_p$k",
      SwitchbackPipeline.oracleFor(p), p.map(x => (x.testStart, x.testEnd))) {
      SwitchbackPipeline.runWith(b.spark, b.dataDir, p)
    }
  }

  private def deepDive(q: String, layer: String): Unit = {
    val op = Registry.byName(q)
    request(q, layer, q, op.oracle.get, wholeTable)(op.fn(b.spark, b.dataDir))
  }

  /** Run the pipeline rerun, with parameters no timed request uses,
    * until it is warm. Of the deep dives only `q_ttest_welch` runs here:
    * cold, its first call takes half a run's window and sets the run's
    * memory peak, so whether a seed drew it would decide both figures.
    * The other deep dives cost about what a rerun costs, cold. */
  def warmUp(): Unit = {
    (0 until 2).foreach { k =>
      SwitchbackPipeline.runWith(b.spark, b.dataDir, Workload.params(paramRng, 100 + k)).collect()
    }
    Registry.byName("q_ttest_welch").fn(b.spark, b.dataDir).collect()
  }

  /** Deep dives in seeded order, each once before any repeats. */
  private val deepOrder = Iterator.continually(rng.shuffle(deepDives)).flatten

  def step(): Boolean = {
    if (n % 4 == 3) { val (q, layer) = deepOrder.next(); deepDive(q, layer) }
    else runWith()
    n += 1
    true
  }

  /** Dump every distinct result, once, for tools/check.py. */
  def finish(): Unit = seen.foreach { case (key, (rows, ids)) =>
    b.dumpForCheck(key, rows, oracles(key), ids)
  }
}

/** The `@daily` run-shape with writes beside reads: each scheduled day
  * lands its metrics, dedups its document shard against the minhash
  * index, appends the survivors and runs the maintenance; seeded
  * re-lands and dashboard reads (head, time travel, SQL `VERSION AS OF`)
  * run between days. */
final class DailyCycle(b: Bench) extends Workload(b) {
  val primary: Set[String] = Set("day")
  // each run lands only a few days, and no two cost the same: trace them
  // all; the reads alone give the tracing overhead
  b.traceAll = Set("day", "reland")
  private val nEvents = 100000L
  private val nHistory = 1000
  private val nFresh = 100
  private val nPlanted = 20
  private val TargetBytes = 1L << 20
  private val days = {
    val first = java.time.LocalDate.parse("2024-01-03")
    (0 until 26).map(i => first.plusDays(i.toLong))
  }
  private val events = s"${b.dataDir}/events.parquet"
  private val docs = s"${b.dataDir}/documents.parquet"
  private val shards = s"${b.dataDir}/shards.parquet"
  private val lake = new java.io.File(b.workDir, "lake")
  private val results = s"${lake.getAbsolutePath}/results"
  private val index = s"${lake.getAbsolutePath}/index"
  private val catalog = "graftbench_lake"
  private val rng = new scala.util.Random(b.seed * 7919 + 3)
  /** The first timed day: seeded in 2024-01-07..01-08, inside the
    * first test's window, which opens on 01-05. The days before it are
    * landed in the warm-up, so the timed days, re-lands and reads work
    * on a table with rows and with versions whose contents differ. (A
    * start inside both windows, from 01-10, would cost three more
    * landings in every run.) */
  private val firstTimed = 4 + new scala.util.Random(b.seed * 7919 + 5).nextInt(2)

  /** Index of the next day to land; days before it are landed. */
  private var next = 0
  /** Content hash of each committed version of the results table. */
  private val versionHash = scala.collection.mutable.HashMap.empty[Long, String]
  private var served = 0L
  private var matched = 0L
  private val landOps = scala.collection.mutable.ArrayBuffer.empty[Int]

  def prepare(): Unit = {
    val spark = b.spark
    Gen.writeEvents(spark, events, b.seed, nEvents)
    Gen.documents(b.seed, spark.range(nHistory).select(col("id").as("doc_id"), col("id").as("src")))
      .coalesce(1).write.mode("overwrite").parquet(docs)
    // day k's shard: fresh docs (new text) and re-keyed copies of docs
    // the index already holds (history, or an earlier day's fresh doc)
    val fresh = spark.range(days.size.toLong * nFresh).select(
      (col("id") / nFresh).cast("int").as("day_idx"),
      (lit(10000000L) + (col("id") / nFresh).cast("long") * 1000 + col("id") % nFresh).as("doc_id"))
      .withColumn("src", col("doc_id"))
    val k = (col("id") / nPlanted).cast("long")
    val fromEarlierDay = k > 0 && Gen.draw(b.seed, col("id"), 21, 2L) === 1
    val earlierFresh = lit(10000000L) + pmod(Gen.draw(b.seed, col("id"), 22, 1L << 30), k) * 1000 +
      Gen.draw(b.seed, col("id"), 23, nFresh.toLong)
    val planted = spark.range(days.size.toLong * nPlanted).select(
      k.cast("int").as("day_idx"),
      (lit(20000000L) + k * 1000 + col("id") % nPlanted).as("doc_id"),
      when(fromEarlierDay, earlierFresh)
        .otherwise(Gen.draw(b.seed, col("id"), 24, nHistory.toLong)).as("src"))
    fresh.unionByName(planted)
      .select(col("day_idx"), col("doc_id"), Gen.text(b.seed, col("src")).as("text"))
      .coalesce(1).sortWithinPartitions("day_idx", "doc_id")
      .write.mode("overwrite").parquet(shards)
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.root", lake.getAbsolutePath)
  }

  /** The cycle up to the first timed day, off the clock. The minhash
    * index is built once over the history and the earlier days'
    * survivors (a shard's survivors are its fresh documents by
    * construction; its planted copies are duplicates), and each earlier
    * day is landed. Then one shard is served and the table is read each
    * way, so the timed loop's serve and reads run warm. */
  def warmUp(): Unit = {
    val spark = b.spark
    val t0 = System.nanoTime()
    val fresh = col("doc_id") < 20000000L
    Dedup.writeMinhashIndex(spark, index, spark.read.parquet(docs).select("doc_id", "text")
      .unionByName(spark.read.parquet(shards).filter(col("day_idx") < firstTimed && fresh)
        .select("doc_id", "text")))
    b.record("Dedup.writeMinhashIndex_s", (System.nanoTime() - t0) / 1e9)
    val t1 = System.nanoTime()
    (0 until firstTimed).foreach { k =>
      val before = versions
      DailyPipeline.landDay(spark, b.dataDir, results, days(k))
      // only the last two outlive the first timed day's vacuum
      if (k >= firstTimed - 2) recordVersions(before)
    }
    next = firstTimed
    println(f"[graftbench] warm-up: index ${(t1 - t0) / 1e9}%.3f s, $firstTimed%d days landed " +
      f"${(System.nanoTime() - t1) / 1e9}%.3f s")
    Dedup.dedupAgainstIndex(spark, index, shard(firstTimed - 1)).collect()
    val live = versions.filter(versionHash.contains)
    DailyPipeline.resultsTable(spark, results).collect()
    Maintenance.readSnapshot(spark, results, Some(live.head)).collect()
    spark.sql(s"SELECT * FROM $catalog.results VERSION AS OF ${live.head}").collect()
  }

  def storage: (Long, Long) = {
    val stored = Workload.files(lake).values.sum
    val live = Seq(results, s"$index/shingles", s"$index/bands").map { t =>
      Maintenance.snapshotManifest(b.spark, t).select("file").collect()
        .map(r => new java.io.File(s"$t/data/${r.getString(0)}").length).sum
    }.sum
    (stored, live)
  }

  private def shard(k: Int): DataFrame =
    b.spark.read.parquet(shards).filter(col("day_idx") === k).select("doc_id", "text")

  private def plantedIds(k: Int): Set[Long] =
    (0 until nPlanted).map(j => 20000000L + k * 1000L + j).toSet

  private def headHash(): String = Verify.contentHash(DailyPipeline.resultsTable(b.spark, results))

  private def versions: Seq[Long] = Maintenance.snapshotVersions(b.spark, results)

  /** Hash the head once after an op that committed: every version the
    * op created holds the same rows (a compaction or re-land never
    * changes content). */
  private def recordVersions(before: Seq[Long]): Unit = {
    val created = versions.filterNot(before.contains)
    if (created.nonEmpty) { val h = headHash(); created.foreach(versionHash(_) = h) }
  }

  private def landedDays: Seq[java.time.LocalDate] = days.take(next)

  private def scheduleDay(k: Int): Unit = {
    val d = days(k)
    val used = if (!b.traceMode) 0L else graft.Tables.eventsRange(b.spark, b.dataDir,
      d.toEpochDay * 86400000000L, (d.toEpochDay + 1) * 86400000000L).count()
    val before = versions
    val lakeBefore = Workload.files(lake)
    if (b.traceMode) b.aside("DailyPipeline.dayDelta") {
      DailyPipeline.dayDelta(b.spark, b.dataDir, d).collect()
    }
    b.op("day", d.toString, used, read = false) { id =>
      b.call("DailyPipeline.landDay", id)(DailyPipeline.landDay(b.spark, b.dataDir, results, d))
      val s = shard(k)
      val hits = b.collect("Dedup.dedupAgainstIndex", id)(Dedup.dedupAgainstIndex(b.spark, index, s))
      val dup = hits.rows.map(_.getLong(0))
      b.call("Dedup.appendToMinhashIndex", id)(
        Dedup.appendToMinhashIndex(b.spark, index, s.filter(!col("doc_id").isin(dup: _*)), k + 1L))
      maintain(id, k)
      hits
    } { hits =>
      served += nFresh + nPlanted
      matched += hits.rows.map(_.getLong(1)).sum
      val exact = hits.rows.filter(_.getDouble(2) == 1.0).map(_.getLong(0)).toSet
      val missed = plantedIds(k) -- exact
      if (missed.isEmpty) None
      else Some(s"$d: ${missed.size} planted duplicates not found at jaccard 1.0")
    }
    landOps += b.lastOpId
    // files the day created; data files are the parquet under a table's data/
    val written = Workload.files(lake).filter { case (f, n) => !lakeBefore.get(f).contains(n) }
    val data = written.filter { case (f, _) => f.contains("/data/") && f.endsWith(".parquet") }
    b.record("Maintenance.files_written", written.size.toDouble)
    b.record("Maintenance.bytes_written", written.values.sum.toDouble)
    b.record("Maintenance.write_amp", written.values.sum.toDouble / data.values.sum.max(1L))
    recordVersions(before)
  }

  /** Compact the index and one landed day, then expire the results
    * table's old versions. A run's window holds a single day, so the
    * maintenance runs every day. */
  private def maintain(id: Int, k: Int): Unit = {
    val spark = b.spark
    b.call("Dedup.compactMinhashIndex", id)(Dedup.compactMinhashIndex(spark, index, TargetBytes))
    val day = days(rng.nextInt(k + 1)).toString
    val before = if (b.tracing) Workload.files(lake) else Map.empty[String, Long]
    b.call("Maintenance.compactSnapshotPartition", id)(
      Maintenance.compactSnapshotPartition(spark, results, "day", day, TargetBytes))
    if (b.tracing) b.record("Maintenance.compact_bytes_rewritten", Workload.files(lake)
      .filter { case (f, n) => !before.get(f).contains(n) }.values.sum.toDouble)
    b.call("Maintenance.vacuumSnapshots", id)(Maintenance.vacuumSnapshots(spark, results, keep = 4))
  }

  private def reland(): Unit = {
    val d = landedDays(rng.nextInt(next))
    val part = () => Verify.contentHash(DailyPipeline.resultsTable(b.spark, results)
      .filter(col("day") === lit(d.toString).cast("date")))
    val h0 = part()
    val before = versions
    b.op("reland", d.toString, 0L, read = false) { id =>
      b.call("DailyPipeline.landDay", id)(DailyPipeline.landDay(b.spark, b.dataDir, results, d))
    } { _ =>
      val h1 = part()
      if (h1 == h0) None else Some(s"re-landed $d changed its content hash $h0 -> $h1")
    }
    landOps += b.lastOpId
    recordVersions(before)
  }

  /** A dashboard read; the rows must hash to what the version held when
    * it was committed. */
  private def read(kind: String): Unit = {
    val live = versions.filter(versionHash.contains)
    val v = if (kind == "read_head") live.last else live(rng.nextInt(live.size))
    val expected = versionHash(v)
    b.op(kind, s"v$v", 0L, read = true) { id =>
      kind match {
        case "read_head" => b.collect("DailyPipeline.resultsTable", id)(
          DailyPipeline.resultsTable(b.spark, results))
        case "read_asof" => b.collect("Maintenance.readSnapshot", id)(
          Maintenance.readSnapshot(b.spark, results, Some(v)))
        case _ => b.collect("sources.sql", id)(
          b.spark.sql(s"SELECT * FROM $catalog.results VERSION AS OF $v"))
      }
    } { rows =>
      val got = Bench.hashRows(b.spark, rows)
      if (got == expected) None else Some(s"$kind of v$v hashed $got, committed as $expected")
    }
  }

  /** One scheduled day, then what runs before the next one: a seeded
    * re-land of a landed day (one day in three) and two dashboard reads of
    * each kind, in seeded order. */
  def step(): Boolean = {
    if (next >= days.size) return false
    scheduleDay(next)
    next += 1
    if (rng.nextInt(3) == 0) reland()
    rng.shuffle(Seq.fill(2)(Seq("read_head", "read_asof", "read_sql")).flatten).foreach(read)
    true
  }

  def finish(): Unit = {
    if (landOps.isEmpty) return
    b.setGauge("Maintenance.versions", versions.last.toDouble)
    b.setGauge("Maintenance.live_files",
      Maintenance.snapshotManifest(b.spark, results).count().toDouble)
    b.setGauge("Dedup.matches_per_new_doc", matched.toDouble / served.max(1L))
    val last = landedDays.last
    val out = DailyPipeline.resultsTable(b.spark, results)
      .select("test_name", "day", "on_or_off", "n", "sum_value", "sum_revenue")
    val oracle = Registry.byName("q_pipeline_daily").oracle.get
    b.dumpForCheck("q_pipeline_daily", Rows(out.collect(), out.schema),
      s"SELECT * FROM ($oracle) AS o WHERE day <= DATE '$last'", landOps.toSeq)
  }
}
