package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.sources.Tables

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * main once per run and checks the dumped outputs against DuckDB.
  *
  * Arguments are `key=value` pairs:
  *  - `workload`  slo_reports | store_maintenance | profile
  *  - `data`      generated input directory
  *  - `batch`     (store_maintenance) generated append-batch directory
  *  - `out`       run directory: store root, dumps, result.json
  *  - `seconds`   length of the timed phase
  *  - `trace`     0 = end-to-end metrics; 1 = per-layer metrics
  *  - `cores`     local[cores]
  *  - `timed`     queries of the timed closed loop, in order
  *  - `cover`     queries run once, untimed, only to check their output
  *  - `check`     input directory of the `cover` queries (default `data`)
  *  - `stores`    stores the timed queries read, built during set-up
  *  - `kernels`   kernel-bound queries behind `functions.kernel_cpu_ms`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    if (a("workload") == "list") {
      // the registry, for run.py to split into workloads
      val j = new Json
      j.obj {
        j.arr("queries")(SparkEntry.queries.keys.foreach(k => j.field(null, k)))
        j.arr("oracle")(SparkEntry.oracleSql.keys.foreach(k => j.field(null, k)))
      }
      Files.writeString(Paths.get(a("out")), j.toString)
      return
    }
    def list(k: String): Seq[String] =
      a.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val run = new Run(a("workload"), a("data"), a.getOrElse("batch", ""), a("out"),
      a("seconds").toDouble, a("trace") == "1", a("cores").toInt,
      list("timed"), list("cover"), a.getOrElse("check", a("data")), list("stores"),
      list("kernels").toSet)
    try run.go() finally run.spark.stop()
  }
}

/** One timed or checking operation. */
final case class Op(name: String, kind: String, pass: Int, ok: Boolean, err: String,
    ns: Long, rows: Long, rec: Option[QueryRec])

/** One call into a store. */
final case class StoreCall(store: String, call: String, pass: Int, span: Span)

/** The spans and planner numbers of one traced query execution. */
final case class QueryRec(build: Span, plan: Span, exec: Span,
    phasesMs: Map[String, Long], graftRuleNs: Long, graftRuleInv: Long,
    graftRuleEff: Long)

final class Run(workload: String, data: String, batch: String, out: String,
    seconds: Double, trace: Boolean, cores: Int, timed: Seq[String],
    cover: Seq[String], checkData: String, storeNames: Seq[String], kernels: Set[String]) {

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val storeRoot = System.getProperty("java.io.tmpdir")
  private val ops = ArrayBuffer.empty[Op]
  private val dumpDirs = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val notes = ArrayBuffer.empty[(String, String)] // failed checks
  private val storeCalls = ArrayBuffer.empty[StoreCall]
  private val setupMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private val sessionStartNs = System.nanoTime()
  private val confs = Session.confs(data, cores, out)
  val spark: SparkSession = Session.build(confs)
  setupMs("session") = (System.nanoTime() - sessionStartNs) / 1e6
  private val tracer = new Tracer(spark.sparkContext)
  if (trace) tracer.attach()

  private def ms(ns: Long): Double = ns / 1e6

  // ------------------------------------------------------------------
  // Running one query: builder call, planning, full materialization.
  // ------------------------------------------------------------------

  /** Times `name` as the user sees it. The output is materialized in
    * full: every row of the executed plan is produced, so no output
    * column can be pruned away the way `count()` prunes it. Returns the
    * op and the physical plan that was executed.
    */
  private def timedQuery(name: String, dir: String, pass: Int,
      traced: Boolean): (Op, Option[SparkPlan]) = {
    // An untraced execution in a traced run runs without the listener.
    // The bus first delivers every event of the spans before, since a
    // removed listener misses the events still queued.
    if (trace && !traced) { tracer.drain(); tracer.detach() }
    val root = if (traced) Some(tracer.open(s"query:$name")) else None
    val steps = ArrayBuffer.empty[Span]
    def step[T](phase: String)(body: => T): T = root.fold(body) { r =>
      val (v, s) = tracer.span(phase, r.id)(body)
      steps += s
      v
    }
    val t0 = System.nanoTime()
    try {
      val df = step("query.build")(SparkEntry.queries(name)(spark, dir))
      step("query.plan")(df.queryExecution.executedPlan)
      val (rows, plan) = step("query.exec")(materialize(df))
      val ns = System.nanoTime() - t0
      val rec = root.map { _ =>
        val tracker = df.queryExecution.tracker
        val graftRules = tracker.rules.filter(_._1.startsWith("graft.")).values
        QueryRec(steps(0), steps(1), steps(2),
          tracker.phases.map { case (k, v) => k -> v.durationMs },
          graftRules.map(_.totalTimeNs).sum, graftRules.map(_.numInvocations).sum,
          graftRules.map(_.numEffectiveInvocations).sum)
      }
      (Op(name, "query", pass, true, "", ns, rows, rec), Some(plan))
    } catch {
      case e: Throwable =>
        (Op(name, "query", pass, false, msg(e), System.nanoTime() - t0, 0L, None), None)
    } finally {
      root.foreach(tracer.close)
      if (trace) tracer.attach()
      releaseBlocks()
    }
  }

  /** Produces every row of the executed plan inside a SQL execution, as
    * `toRdd` does, and returns the row count and that plan.
    */
  private def materialize(df: DataFrame): (Long, SparkPlan) = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    SQLExecution.withNewExecutionId(qe, Some("graftbench"))((plan.execute().count(), plan))
  }

  /** The rows of `name`, sorted, for comparisons; untimed. */
  private def rowsOf(name: String, dir: String): Array[String] =
    try {
      SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq.mkString("|")).sorted
    } finally releaseBlocks()

  /** Drops the blocks a query pinned (`localCheckpoint` frames), between
    * measurements and outside the clock, as a session that drops its
    * DataFrames would.
    */
  private def releaseBlocks(): Unit = {
    if (graft.sources.SharedFrames.enabled(spark)) graft.sources.SharedFrames.clear(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Untimed run whose output is written for the DuckDB comparison. */
  private def dumpQuery(name: String, kind: String, dir: String): Op = {
    val t0 = System.nanoTime()
    dumpDirs(name) = dir
    try {
      SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/dump/$name")
      Op(name, kind, -1, true, "", System.nanoTime() - t0, -1L, None)
    } catch {
      case e: Throwable => Op(name, kind, -1, false, msg(e), System.nanoTime() - t0, 0L, None)
    } finally releaseBlocks()
  }

  /** An untimed correctness check; an exception is a failed operation. */
  private def check(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val (ok, err) = try { body; (true, "") } catch { case e: Throwable => (false, msg(e)) }
    ops += Op(name, "check", -1, ok, err, System.nanoTime() - t0, 0L, None)
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}"
      .take(300)

  // ------------------------------------------------------------------
  // Stores.
  // ------------------------------------------------------------------

  /** The eight persisted stores: name, directory under the store root
    * and build call.
    */
  private val stores: Seq[(String, String, String => Any)] = Seq(
    ("EdgeStore", "graft_edges", EdgeStore.ensure(spark, _)),
    ("SketchStore", "graft_sketches", SketchStore.ensure(spark, _)),
    ("IvfIndex", "graft_ivf", IvfIndex.ensure(spark, _, 8)),
    ("PqIndex", "graft_pq", PqIndex.ensure(spark, _)),
    ("IvfPq", "graft_ivfpq", IvfPq.ensure(spark, _, 8)),
    ("SketchRollup", "graft_sketch", SketchRollup.ensure(spark, _)),
    ("QuantileRollup", "graft_qsketch", QuantileRollup.ensure(spark, _)),
    ("ReportMaintenance", "graft_report", ReportMaintenance.ensure(spark, _)))

  /** One store operation, timed; a failure is counted, not hidden. */
  private def storeCall(store: String, call: String, pass: Int)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val r = try {
      val (_, s) = tracer.span(s"store.$store.$call")(body)
      storeCalls += StoreCall(store, call, pass, s)
      Op(s"$call:$store", "store", pass, true, "", System.nanoTime() - t0, 0L, None)
    } catch {
      case e: Throwable =>
        Op(s"$call:$store", "store", pass, false, msg(e), System.nanoTime() - t0, 0L, None)
    } finally releaseBlocks()
    ops += r
    r
  }

  private def buildStores(names: Seq[String], dir: String): Double = {
    val t0 = System.nanoTime()
    stores.filter(s => names.contains(s._1)).foreach { case (n, _, ensure) =>
      storeCall(n, "ensure", -1)(ensure(dir))
    }
    ms(System.nanoTime() - t0)
  }

  // ------------------------------------------------------------------
  // Workloads.
  // ------------------------------------------------------------------

  def go(): Unit = if (workload == "profile") profile() else {
    val gcBefore = gcMs()
    workload match {
      case "store_maintenance" => storeMaintenance()
      case _ => queryLoop()
    }
    extra("jvm.gc_ms") = gcMs() - gcBefore
    extra("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (trace) tracer.drain()
    writeResult()
  }

  private var timedStartNs = 0L
  private var timedEndNs = 0L
  private var pausedNs = 0L
  private var heapRetainedMb = 0.0
  private var storeBytes = 0L
  private var storeMb = Map.empty[String, Double]

  /** Bytes under the store root, in total and per store, taken before
    * any check builds stores of its own.
    */
  private def footprint(): Unit = {
    storeBytes = Disk.bytesUnder(new File(storeRoot))
    storeMb = stores.map { case (n, dir, _) =>
      n -> Disk.bytesUnder(new File(s"$storeRoot/$dir")) / 1048576.0
    }.toMap
  }
  private val inputBytes = Disk.parquetFiles(data).map(Disk.bytesUnder).sum

  /** Seconds of the timed phase so far, without its untimed checks. */
  private def timedS(endNs: Long = System.nanoTime()): Double =
    (endNs - timedStartNs - pausedNs) / 1e9

  /** Work inside the timed phase that is not part of it. */
  private def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  private def startTimed(): Unit = {
    setupMs("total") = (System.currentTimeMillis() - jvmStartMs).toDouble
    heapPools.foreach(_.resetPeakUsage())
    timedStartNs = System.nanoTime()
  }

  private def endTimed(): Unit = {
    timedEndNs = System.nanoTime()
    heapRetainedMb = retainedHeapMb()
    if (storeMb.isEmpty) footprint()
  }

  /** slo_reports: one client, closed loop, one query
    * at a time, over a fixed query list.
    */
  private def queryLoop(): Unit = {
    setupMs("stores") = buildStores(storeNames, data)
    extra("ingest_s") = setupMs("stores") / 1000.0
    // Warm-up: each timed query once, untimed; its output is the one
    // checked against DuckDB.
    val w0 = System.nanoTime()
    timed.foreach(q => ops += dumpQuery(q, "dump", data))
    setupMs("warmup") = ms(System.nanoTime() - w0)
    startTimed()
    var pass = 0
    // In a traced run every query runs traced in one pass and untraced in
    // the next, so that the tracing overhead is measured inside the run.
    while (pass == 0 || timedS() < seconds ||
        (trace && pass < 2)) {
      timed.zipWithIndex.foreach { case (q, i) =>
        ops += timedQuery(q, data, pass, trace && (pass + i) % 2 == 0)._1
      }
      pass += 1
    }
    endTimed()
    checkCover()
    checkTimedPlanKeepsColumns()
  }

  /** profile (traced): each query of `timed` once to warm up, then
    * `ProfileReps` times traced; writes each query's median latency and
    * its mean jobs, tasks and task time to `profile.json`. A workload's
    * timed set is chosen from this measurement of its pool.
    */
  private def profile(): Unit = {
    val ProfileReps = 3
    buildStores(storeNames, data)
    val j = new Json
    j.obj(j.arr("queries")(timed.foreach { q =>
      timedQuery(q, data, -1, traced = false)
      val runs = (0 until ProfileReps).map(p => timedQuery(q, data, p, traced = true)._1)
      tracer.drain()
      val recs = runs.flatMap(_.rec)
      def per(f: Counters => Long) =
        Stats.mean(recs.map(r => (f(tracer.of(r.build)) + f(tracer.of(r.exec))).toDouble))
      j.obj {
        j.field("name", q); j.field("ok", runs.forall(_.ok))
        j.field("ms", Stats.quantile(runs.filter(_.ok).map(o => ms(o.ns)).sorted, 0.5))
        j.field("jobs", per(_.jobs)); j.field("tasks", per(_.tasks))
        j.field("task_run_ms", per(_.taskRunMs))
      }
    }))
    Files.writeString(Paths.get(s"$out/profile.json"), j.toString)
  }

  /** The untimed check slot: this run's share of the workload's other
    * queries, dumped for the DuckDB comparison.
    */
  private def checkCover(): Unit = cover.foreach(q => ops += dumpQuery(q, "cover", checkData))

  /** The timed path materializes every output column: the plan that
    * `timedQuery` executed for doc_fingerprint keeps its per-document
    * fingerprint projection, which a `count()` would prune together with
    * `count(distinct fp)`, and its operators' row metrics show that this
    * plan is the one that ran.
    */
  private def checkTimedPlanKeepsColumns(): Unit = {
    val (op, plan) = timedQuery("doc_fingerprint", checkData, -1, traced = false)
    ops += op.copy(name = "doc_fingerprint_timed_plan", kind = "check")
    plan.foreach { p =>
      val fingerprint = PlanWalk.collect(p) {
        case n if n.expressions.exists(_.sql.contains("array_min(transform(")) => n
      }
      val rowsOut = PlanWalk.collect(p) {
        case n => n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      if (fingerprint.isEmpty)
        notes += ("doc_fingerprint" -> "timed plan lost its fingerprint projection")
      else if (rowsOut == 0)
        notes += ("doc_fingerprint" -> "the plan the timed path returned did not run")
    }
  }

  /** store_maintenance: build all eight stores from an empty store
    * root, then repeat append batches → probes (merge-on-read) →
    * compact → probes (published). The cycles run in the JVM that built
    * the stores, after one untimed pass of the probes over them, as a
    * serving JVM has answered probes before its stores take a batch.
    */
  private def storeMaintenance(): Unit = {
    setupMs("stores") = buildStores(stores.map(_._1), data)
    extra("ingest_s") = setupMs("stores") / 1000.0
    val m = new Maintenance
    val w0 = System.nanoTime()
    m.probes.foreach(q => ops += timedQuery(q, data, -1, traced = false)._1.copy(kind = "warmup"))
    setupMs("warmup") = ms(System.nanoTime() - w0)
    startTimed()
    var pass = 0
    while (pass == 0 || timedS() < seconds ||
        (trace && pass < 2)) {
      m.cycle(pass)
      // footprint after one timed append + compact cycle, independent of
      // how many cycles the timed phase fits
      if (pass == 0) footprint()
      pass += 1
    }
    endTimed()
    checkAgainstFreshBuild(m.applied.toSeq, m.lastPub)
    checkCover()
  }

  /** The maintenance cycle: batch `i` appended to every appendable store,
    * probes in merge-on-read state, compaction, probes again.
    */
  private final class Maintenance {
    private val ProbeRounds = 2
    val probes = Seq("copurchase_pairs", "near_dup_minhash", "ann_cosine_topk",
      "sketch_rollup", "quantile_sketch_rollup")
    private val ivfPath = IvfIndex.ensure(spark, data, npivots = 8).get
    private val skPath = SketchRollup.tablePath(data)
    private val qrPath = QuantileRollup.tablePath(data)
    private var events = Tables.events(spark, data)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val applied = ArrayBuffer.empty[Int]
    var lastPub = Map.empty[String, Array[String]]

    /** Each state is read more often than it is written: the probes run
      * `ProbeRounds` times per state. Their rows are then collected once
      * more for the checks, with the timed phase's clock paused.
      */
    private def probeAll(pass: Int, kind: String): Map[String, Array[String]] = {
      for (round <- 0 until ProbeRounds; (q, i) <- probes.zipWithIndex) {
        val traced = trace && (pass + round + i) % 2 == 0
        ops += timedQuery(q, data, pass, traced)._1.copy(kind = kind)
      }
      untimed(probes.map { q =>
        var rows = Array.empty[String]
        check(s"$q@$kind") { rows = rowsOf(q, data) }
        q -> rows
      }.toMap)
    }

    def cycle(pass: Int): Unit = {
      val i = applied.size
      val b = Batch(spark, batch, i)
      storeCall("EdgeStore", "append", pass)(EdgeStore.appendOrders(spark, data, b.lineitem))
      storeCall("SketchStore", "append", pass)(SketchStore.appendDocs(spark, data, b.documents))
      storeCall("IvfIndex", "append", pass)(IvfIndex.appendVectors(spark, ivfPath, b.vectors))
      events = events.unionByName(b.events)
      storeCall("SketchRollup", "append", pass)(
        SketchRollup.appendDayFrom(spark, events, b.day, skPath))
      storeCall("QuantileRollup", "append", pass)(
        QuantileRollup.appendDayFrom(spark, events, b.day, qrPath))
      applied += i
      val mor = probeAll(pass, "probe_mor")
      storeCall("EdgeStore", "compact", pass)(EdgeStore.compact(spark, data))
      storeCall("SketchStore", "compact", pass)(SketchStore.compact(spark, data))
      val pub = probeAll(pass, "probe_pub")
      probes.foreach { q =>
        if (!mor(q).sameElements(pub(q)))
          notes += (s"$q@batch$i" -> "merge-on-read probe differs from the published probe")
      }
      lastPub = pub
    }
  }

  /** The probes after appends and compactions must equal the same
    * probes over a store built fresh from base plus every applied batch.
    * The IVF index keeps the pivots it was built with, so its probe is
    * checked by an invariant instead: every base and appended vector is
    * assigned exactly once.
    */
  private def checkAgainstFreshBuild(applied: Seq[Int],
      got: Map[String, Array[String]]): Unit = {
    val fresh = s"$out/fresh"
    val batches = applied.map(Batch(spark, batch, _))
    def raw(t: String) = spark.read.parquet(s"$data/$t.parquet")
    check("fresh_inputs") {
      def write(base: DataFrame, more: Seq[DataFrame], t: String): Unit =
        more.foldLeft(base)(_ unionByName _).write.parquet(s"$fresh/$t.parquet")
      write(raw("lineitem"), batches.map(_.lineitem), "lineitem")
      write(raw("documents"), batches.map(_.documents), "documents")
      write(Tables.events(spark, data).select("event_id", "ts", "user_id", "event_type", "value"),
        batches.map(_.events), "events")
      Seq("embeddings", "region", "nation", "customer", "supplier", "part", "orders").foreach { t =>
        copyTree(Paths.get(s"$data/$t.parquet"), Paths.get(s"$fresh/$t.parquet"))
      }
    }
    Seq("copurchase_pairs", "near_dup_minhash", "sketch_rollup").foreach { q =>
      check(s"$q@fresh") {
        if (!got(q).sameElements(rowsOf(q, fresh)))
          notes += (q -> s"after ${applied.size} append/compact cycles differs from a fresh build over base plus batches")
      }
    }
    checkQuantileRollup(fresh)
    check("ivf_assign_invariant") {
      val assign = spark.read.parquet(s"${IvfIndex.ensure(spark, data, npivots = 8).get}/assign")
      val n = assign.count()
      val distinct = assign.select("vec_id").distinct().count()
      val want = raw("embeddings").filter(col("vec_id") =!= 0).count() +
        batches.map(_.vectors.count()).sum
      if (n != want || distinct != want)
        notes += ("ann_cosine_topk" -> s"IVF assign holds $n rows / $distinct ids, expected $want")
    }
  }

  /** GK sketches depend on the order rows are inserted and merged, so
    * the quantile rollup's guarantee is a rank bound, not equality with a
    * fresh build: day and event counts must match exactly, and every
    * estimate's rank among the base-plus-batches values must lie within
    * `Eps`·n of its target, with QuantileSketchSpec's ±1 slack for
    * discrete ranks.
    */
  private def checkQuantileRollup(fresh: String): Unit = check("quantile_sketch_rollup") {
    def rollup(dir: String) = SparkEntry.queries("quantile_sketch_rollup")(spark, dir)
    def counts(df: DataFrame) = df.select("event_type", "n_days", "n_events").collect()
      .map(_.toString).sorted.toSeq
    val got = rollup(data)
    if (counts(got) != counts(rollup(fresh)))
      notes += ("quantile_sketch_rollup" -> "day or event counts differ from a fresh build over base plus batches")
    val qs = Seq(0.5 -> "p50_est", 0.9 -> "p90_est", 0.99 -> "p99_est")
    val ranks = Tables.events(spark, fresh).select("event_type", "value")
      .join(got, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), qs.flatMap { case (_, c) => Seq(
        sum(when(col("value") < col(c), 1L).otherwise(0L)).as(s"${c}_below"),
        sum(when(col("value") <= col(c), 1L).otherwise(0L)).as(s"${c}_at")) }: _*)
      .collect()
    val bad = for {
      r <- ranks.toSeq
      (q, c) <- qs
      n = r.getAs[Long]("n").toDouble
      (lo, hi) = (r.getAs[Long](s"${c}_below"), r.getAs[Long](s"${c}_at"))
      if hi < q * n - QuantileRollup.Eps * n - 1 || lo > q * n + QuantileRollup.Eps * n + 1
    } yield s"${r.getAs[String]("event_type")} $c has rank [$lo, $hi] of $n"
    if (bad.nonEmpty)
      notes += ("quantile_sketch_rollup" -> s"estimates outside the rank bound: ${bad.mkString("; ")}")
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).iterator().asScala.foreach(p => copyTree(p, dst.resolve(p.getFileName)))
    } else Files.copy(src, dst)

  // ------------------------------------------------------------------
  // JVM numbers.
  // ------------------------------------------------------------------

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Old-generation heap in use after a full collection. */
  private def retainedHeapMb(): Double = {
    // the second collection frees what the ContextCleaner released
    // (broadcast and shuffle blocks) after the first one
    System.gc()
    Thread.sleep(300)
    System.gc()
    heapPools.filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  // ------------------------------------------------------------------
  // Result.
  // ------------------------------------------------------------------

  private def writeResult(): Unit = {
    // Latency samples are queries only: the store calls of the
    // maintenance cycle take part of the timed phase, not of a sample.
    val timedOps = ops.filter(o => o.pass >= 0 && o.kind != "check")
    val okOps = timedOps.filter(o => o.ok && o.kind != "store")
    val lat = okOps.map(o => ms(o.ns)).sorted.toSeq
    val phaseS = timedS(timedEndNs)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = setupMs("total") / 1000.0
    m("qps") = okOps.size / phaseS
    m("latency_p50_ms") = Stats.quantile(lat, 0.5)
    m("latency_p90_ms") = Stats.quantile(lat, 0.9)
    m("ingest_s") = extra("ingest_s")
    m("store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes.max(1L)
    m("heap_retained_mb") = heapRetainedMb
    val layers = if (trace) Layers(ops.toSeq, storeCalls.toSeq, tracer, setupMs.toMap,
      extra.toMap, kernels, storeMb) else Map.empty[String, Double]
    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("store_root", storeRoot)
      j.field("timed_seconds", phaseS); j.field("samples", lat.size)
      j.field("passes", if (timedOps.isEmpty) 0 else timedOps.map(_.pass).max + 1)
      j.obj("confs")(confs.foreach { case (k, v) => j.field(k, v) })
      j.obj("setup_ms")(setupMs.foreach { case (k, v) => j.field(k, v) })
      j.obj("metrics")(m.foreach { case (k, v) => j.field(k, v) })
      j.obj("layers")(layers.toSeq.sortBy(_._1).foreach { case (k, v) => j.field(k, v) })
      j.arr("ops")(ops.foreach { o =>
        j.obj {
          j.field("name", o.name); j.field("kind", o.kind); j.field("pass", o.pass)
          j.field("ok", o.ok); j.field("ms", ms(o.ns)); j.field("rows", o.rows)
          if (!o.ok) j.field("error", o.err)
        }
      })
      // oracle SQL of the dumped queries, `{dir}` resolved as graft.Verify does
      j.obj("oracle")(dumpDirs.foreach { case (n, dir) =>
        val abs = Paths.get(dir).toAbsolutePath.normalize.toString.stripSuffix("/")
        SparkEntry.oracleSql.get(n).foreach(q => j.field(n, q.replace("{dir}", abs)))
      })
      j.arr("wrong")(notes.foreach { case (k, v) => j.obj { j.field("name", k); j.field("why", v) } })
    }
    Files.writeString(Paths.get(s"$out/result.json"), j.toString)
    if (trace) Layers.writeRecords(s"$out/records.jsonl", s"$out/spans.jsonl", ops.toSeq, tracer)
  }
}

/** Walks a physical plan through adaptive plans and query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

object Disk {
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum
    else f.length()

  /** The tables of an input directory (a table is a file or a directory). */
  def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).toSeq
}

/** The session: Bench's derived confs, local[cores]. */
object Session {
  def confs(data: String, cores: Int, out: String): Seq[(String, String)] = {
    val sizes = Disk.parquetFiles(data).map(Disk.bytesUnder)
    val biggest = sizes.foldLeft(0L)(math.max)
    val c = cores.toLong.max(1L)
    // split size: largest input file scans at the session's full width,
    // clamped to [256 KB, 128 MB]; AQE's pre-coalesce width: total input
    // / 32 MB, clamped to [cores, 8 cores] — as graft.Bench derives them
    val split = math.min(128L << 20, math.max(256L << 10, biggest / c))
    val ipn = math.min(8L * c, math.max(c, sizes.sum / (32L << 20)))
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> ipn.toString,
      "spark.sql.files.maxPartitionBytes" -> split.toString,
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> s"$out/warehouse",
      "spark.local.dir" -> s"$out/spark-local")
  }

  def build(confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configureSketchPerf(spark)
    spark
  }
}

/** Seeded append batch `i`: the generated batch tables with every key
  * moved into a range of its own, and the batch's events moved onto
  * one day, so that each batch is new data for every store.
  */
final case class Batch(lineitem: DataFrame, documents: DataFrame, vectors: DataFrame,
    events: DataFrame, day: String)

object Batch {
  val KeyStride = 1000000000L

  def apply(spark: SparkSession, dir: String, i: Int): Batch = {
    val off = KeyStride * (i + 1)
    val day = f"2024-01-${1 + i % 30}%02d"
    val shiftMicros = (java.time.LocalDate.parse(day).toEpochDay -
      java.time.LocalDate.parse("2024-01-01").toEpochDay) * 86400000000L
    val ev = Tables.events(spark, dir)
      .filter(to_date(col("ts")) === lit("2024-01-01").cast("date"))
      .select((col("event_id") + off).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + shiftMicros).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    Batch(
      spark.read.parquet(s"$dir/lineitem.parquet").withColumn("l_orderkey", col("l_orderkey") + off),
      spark.read.parquet(s"$dir/documents.parquet").withColumn("doc_id", col("doc_id") + off),
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select((col("vec_id") + off).as("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb")),
      ev, day)
  }
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A minimal JSON writer (the harness has no JSON dependency of its own). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def key(k: String): Unit = if (k != null) { sb.append(Json.q(k)).append(':') }
  private def nest(k: String, open: Char, close: Char, body: => Unit): Unit = {
    sep(); key(k); sb.append(open); first = true; body; sb.append(close); first = false
  }
  def obj(body: => Unit): Unit = nest(null, '{', '}', body)
  def obj(k: String)(body: => Unit): Unit = nest(k, '{', '}', body)
  def arr(k: String)(body: => Unit): Unit = nest(k, '[', ']', body)
  def field(k: String, v: Any): Unit = {
    sep(); key(k)
    v match {
      case s: String => sb.append(Json.q(s))
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case b: Boolean => sb.append(b.toString)
      case n => sb.append(n.toString)
    }
  }
  override def toString: String = sb.toString
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
