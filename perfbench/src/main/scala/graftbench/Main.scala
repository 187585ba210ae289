package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions}
import graft.queries.{QueryCaches, QueryDef, Scratch}

/** One benchmark run of one workload, in one JVM: set-up, then passes over
  * the workload's queries in a closed loop (one client, one query at a
  * time), each pass in an order shuffled from the seed. Every query's
  * result is digested on the executors and checked against the recorded
  * digest. Writes the run's artifact (JSON) to `--out`.
  *
  * With `--trace 1` the warm passes alternate between untraced passes and
  * traced ones. A traced pass forces each layer call in sequence inside
  * its own span — the query builder, Catalyst analysis, optimization and
  * physical planning, execution — and registers the job and micro-batch
  * listeners; the run reports per-layer sums and the traced pass time
  * minus the untraced one as `trace.overhead_s`. */
object Main {

  /** Set-up repetitions: `setup_s` takes the median ingest. */
  val SetupReps = 3
  /** Measured warm passes after the cold one. A 7-pass trend run showed
    * the first warm pass 5–20 % above later ones, and on a shared machine
    * single passes swing with the neighbours' load; the median of four
    * passes falls past the slow first one and keeps a run within about
    * 50–55 s on 4 cores. */
  val WarmPasses = 4

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      sfDir: String, out: String, expected: Option[String],
      record: Option[String], confirm: Option[String], full: Boolean,
      passes: Option[Int])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = kv.getOrElse("workload", "olap"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "0").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      sfDir = get("sf-dir"),
      out = get("out"),
      expected = kv.get("expected"),
      record = kv.get("record"),
      confirm = kv.get("confirm"),
      full = kv.getOrElse("full", "0") == "1",
      passes = kv.get("passes").map(_.toInt))
  }

  def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample. Returns (value, percentile, samples); with
    * fewer than eleven samples no percentile qualifies and the minimum is
    * reported at percentile 0. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (Double.NaN, 0.0, 0)
    else if (n < 11) (s.head, 0.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(f => Files.isRegularFile(f)).toSeq
        (fs.map(f => Files.size(f)).sum, fs.size.toLong)
      } finally w.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(f => Files.deleteIfExists(f))
    finally w.close()
  }

  def loadDigests(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Largest post-GC heap occupancy of the run, in MB: after every
    * collection, the heap memory pools' usage after that collection,
    * summed. */
  final class HeapPeak {
    @volatile var peakMb = 0.0
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakMb = math.max(peakMb, used / 1048576.0) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  /** One query execution. */
  final case class Exec(query: String, pass: Int, traced: Boolean,
      wallNs: Long, digest: Option[String], error: Option[String])

  def main(argv: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val heap = new HeapPeak
    val cpuRun0 = Bench.readProcCpu()
    val a = parse(argv)
    val spark = Sessions.local(s"perfbench-${a.workload}")
    val sessionNs = System.nanoTime() - mainT0
    try a.confirm match {
      case Some(dir) => confirm(spark, dir, a)
      case None => run(spark, a, mainT0, sessionNs, cpuRun0, heap)
    } finally spark.stop()
  }

  /** Digests every query output that `graft.Verify` wrote under `dir` and
    * compares it with the recorded digest. */
  def confirm(spark: SparkSession, dir: String, a: Args): Unit = {
    val expected = loadDigests(a.expected.getOrElse(
      throw new IllegalArgumentException("--confirm needs --expected")))
    val rows = expected.toSeq.sortBy(_._1).map { case (q, want) =>
      val p = new File(dir, q)
      val got = if (p.isDirectory)
        Some(Digest.of(spark.read.parquet(p.toString).queryExecution).toString)
      else None
      System.err.println(s"[confirm] $q ${got.getOrElse("absent")} " +
        (if (got.contains(want)) "ok" else s"MISMATCH want $want"))
      (q, want, got)
    }
    val ok = rows.count(r => r._3.contains(r._2))
    val out = Json.obj("confirmed" -> ok, "checked" -> rows.size,
      "mismatched" -> Json.arr(rows.filterNot(r => r._3.contains(r._2)).map(_._1)))
    Files.writeString(Paths.get(a.out), Json.write(out))
    println(Json.write(out))
  }

  def run(spark: SparkSession, a: Args, mainT0: Long, sessionNs: Long,
      cpuRun0: Option[(Long, Long)], heap: HeapPeak): Unit = {
    val sc = spark.sparkContext
    val warehouse = Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val queries: Seq[QueryDef] =
      if (a.full) Workloads.queries(a.workload) else Workloads.probe(a.workload)
    val ids = queries.map(q => Workloads.idOf(q.name)).toSet
    val artifacts = Workloads.artifacts(a.workload).filter(_.readers.exists(ids))

    // ---- set-up: the workload's ingest artifacts from an empty warehouse.
    // Each repetition reads the data through a fresh alias path, so the
    // builders' per-path memos and `_SUCCESS` markers cannot skip work.
    val ingest = (0 until SetupReps).map { r =>
      spark.catalog.listTables().collect().filterNot(_.isTemporary)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      deleteTree(warehouse)
      val alias = tmp.resolve(s"perfbench-data-r$r")
      Files.deleteIfExists(alias)
      Files.createSymbolicLink(alias, Paths.get(a.sfDir).toAbsolutePath)
      val before = treeBytes(tmp)
      val t0 = System.nanoTime()
      val per = artifacts.map { art =>
        val s0 = System.nanoTime(); art.build(spark, alias.toString)
        art.name -> secs(System.nanoTime() - s0)
      }
      val ns = System.nanoTime() - t0
      val (wb, wf) = treeBytes(warehouse)
      val after = treeBytes(tmp)
      System.err.println(f"[perfbench] set-up ${r + 1}/$SetupReps: ${secs(ns)}%.2f s")
      (alias.toString, ns, wb + after._1 - before._1, wf + after._2 - before._2, per)
    }
    val dataDir = ingest.last._1
    val ingestS = median(ingest.map(i => secs(i._2)))
    val setupS = secs(sessionNs) + ingestS

    // ---- passes
    val expected = a.expected.map(loadDigests).getOrElse(Map.empty)
    val slots = sc.defaultParallelism
    val tracer = new Tracer
    val tel = new Telemetry
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    val layerSums = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val perQuery = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Map[String, Double])]
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // wall-clock ms of the listener events → the tracer's nanosecond clock
    val msAnchor = System.currentTimeMillis(); val nsAnchor = System.nanoTime()
    def msToNs(ms: Long): Long = nsAnchor + (ms - msAnchor) * 1000000L

    def runQuery(pass: Int, passSpan: Int, q: QueryDef, traced: Boolean): Exec = {
      val tag = s"${a.workload}/${q.name}"
      def layer[A](parent: Int, name: String)(body: => A): A =
        if (!traced) body
        else tracer.span(parent, name, q.name) { _ =>
          tel.layer = name; sc.setJobGroup(s"$tag/$name", name); body
        }
      tel.current = q.name; tel.layer = ""
      val t0 = System.nanoTime()
      val res = try {
        val d = if (!traced) {
          sc.setJobGroup(s"$tag/query", "query")
          val df = q.run(spark, dataDir)
          Digest.of(df.queryExecution)
        } else tracer.span(passSpan, "query", q.name) { qs =>
          val df = layer(qs, "build")(q.run(spark, dataDir))
          val qe = df.queryExecution
          layer(qs, "analysis")(qe.analyzed)
          layer(qs, "optimization")(qe.optimizedPlan)
          layer(qs, "planning")(qe.executedPlan)
          layer(qs, "exec")(Digest.of(qe))
        }
        Right(d.toString)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = System.nanoTime() - t0
      sc.clearJobGroup()
      // micro-batch progress is attributed to the running query: let it
      // arrive before the next query starts
      if (traced) Bus.drain(sc)
      QueryCaches.releaseAll()
      Scratch.purge()
      val err = res match {
        case Left(e) => Some(e)
        case Right(d) if a.record.isDefined => recorded.getOrElseUpdate(q.name, d); None
        case Right(d) => expected.get(q.name) match {
          case Some(want) if want == d => None
          case Some(want) => Some(s"digest mismatch: got $d, recorded $want")
          case None => Some(s"no recorded digest (got $d)")
        }
      }
      err.foreach(e => System.err.println(s"[perfbench] FAILED ${q.name}: $e"))
      Exec(q.name, pass, traced, wall, res.toOption, err)
    }

    /** Job spans under their layer spans, and per-query layer sums, for
      * the traced pass just finished. */
    def collectTrace(pass: Int, passSpanId: Int): Map[String, Double] = {
      Bus.drain(sc)
      val spans = tracer.spans
      val qSpans = spans.filter(s => s.parent == passSpanId && s.name == "query")
      val qIds = qSpans.map(_.id).toSet
      val layersOf = spans.filter(s => qIds(s.parent))
      val jobs = tel.jobs
      jobs.foreach { j =>
        layersOf.find(s => s.query == j.query && s.name == j.layer)
          .foreach(s => tracer.add(s.id, "job", j.query, msToNs(j.startMs), msToNs(j.endMs)))
      }
      val rows = qSpans.map { qs =>
        val ls = layersOf.filter(_.parent == qs.id)
        def dur(n: String): Double = ls.filter(_.name == n).map(s => secs(s.dur)).sum
        val qJobs = jobs.filter(_.query == qs.query)
        val jobIv = qJobs.map(j => (msToNs(j.startMs), msToNs(j.endMs)))
        val execWall = secs(Spans.unionLength(jobIv))
        val c = tel.counters(qs.query)
        val m = Map(
          "wall_s" -> secs(qs.dur),
          "queries.build_s" -> dur("build"),
          "queries.build_jobs" -> qJobs.count(_.layer == "build").toDouble,
          "catalyst.analysis_s" -> dur("analysis"),
          "catalyst.optimization_s" -> dur("optimization"),
          "catalyst.planning_s" -> dur("planning"),
          "exec.span_s" -> dur("exec"),
          "layers_s" -> Seq("build", "analysis", "optimization", "planning", "exec")
            .map(dur).sum,
          "exec.s" -> execWall,
          "driver.gap_s" -> (secs(qs.dur) - execWall),
          "exec.jobs" -> c.jobs.sum.toDouble,
          "exec.stages" -> c.stages.sum.toDouble,
          "exec.tasks" -> c.tasks.sum.toDouble,
          "exec.failed_tasks" -> c.failedTasks.sum.toDouble,
          "exec.task_run_s" -> c.taskRunMs.sum / 1e3,
          "exec.task_cpu_s" -> c.taskCpuNs.sum / 1e9,
          "exec.gc_s" -> c.gcMs.sum / 1e3,
          "exec.input_bytes" -> c.inputBytes.sum.toDouble,
          "exec.shuffle_write_bytes" -> c.shuffleWriteBytes.sum.toDouble,
          "exec.shuffle_read_bytes" -> c.shuffleReadBytes.sum.toDouble,
          "exec.fetch_wait_s" -> c.fetchWaitMs.sum / 1e3,
          "exec.spill_bytes" -> c.spillBytes.sum.toDouble,
          "exec.output_bytes" -> c.outputBytes.sum.toDouble,
          "stream.batches" -> c.batches.sum.toDouble,
          "stream.trigger_s" -> c.triggerMs.sum / 1e3,
          "stream.add_batch_s" -> c.addBatchMs.sum / 1e3,
          "stream.planning_s" -> c.planningMs.sum / 1e3,
          "stream.commit_s" -> c.commitMs.sum / 1e3)
        perQuery += ((pass, qs.query, m))
        m
      }
      tel.clear()
      val sum = rows.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      val execS = sum.getOrElse("exec.s", 0.0)
      sum ++ Map(
        "driver.gap_frac" -> sum.getOrElse("driver.gap_s", 0.0) / sum.getOrElse("wall_s", 1.0),
        "exec.slot_busy_frac" ->
          (if (execS > 0) sum.getOrElse("exec.task_run_s", 0.0) / (execS * slots) else 0.0))
    }

    val minPasses = 1 + WarmPasses
    val windowT0 = System.nanoTime()
    var p = 0
    def more: Boolean = a.passes match {
      case Some(n) => p < n
      case None =>
        val lastWarm = passes.lastOption.map(_.wallNs).getOrElse(0L)
        p < minPasses || secs(System.nanoTime() - windowT0 + lastWarm) <= a.seconds
    }
    while (more) {
      // after the cold pass, a traced run alternates traced and untraced
      // passes, traced first
      val traced = a.trace && p % 2 == 1
      if (traced) { sc.addSparkListener(tel); spark.streams.addListener(tel.streams) }
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(queries)
      val cpu0 = Bench.readProcCpu()
      val t0 = System.nanoTime()
      var passSpan = -1
      def runPass(ps: Int) = { passSpan = ps; order.map(q => runQuery(p, ps, q, traced)) }
      val ex = if (traced) tracer.span(-1, "pass", s"pass$p")(runPass) else runPass(-1)
      val wall = System.nanoTime() - t0
      if (traced) {
        layerSums += collectTrace(p, passSpan)
        sc.removeSparkListener(tel); spark.streams.removeListener(tel.streams)
      }
      execs ++= ex
      val steal = Bench.stealPctOf(cpu0, Bench.readProcCpu())
      passes += PassRec(p, traced, p > 0, wall, steal)
      System.err.println(f"[perfbench] pass $p${if (traced) " traced" else ""}: ${secs(wall)}%.2f s, steal $steal%.1f%%")
      p += 1
    }
    val runSteal = Bench.stealPctOf(cpuRun0, Bench.readProcCpu())

    a.record.foreach { path =>
      val lines = recorded.toSeq.sortBy(_._1).map { case (q, d) => s"$q\t$d" }
      Files.writeString(Paths.get(path),
        "# query\tdigest (rows:lane-a lane-b) of the sf0.1 result\n" +
          lines.mkString("", "\n", "\n"))
    }

    // ---- metrics
    val warm = passes.filter(pr => pr.measured && !pr.traced)
    val warmPasses = warm.map(_.pass).toSet
    val samples = execs.filter(e => warmPasses(e.pass) && e.error.isEmpty)
      .map(e => secs(e.wallNs)).toSeq
    val (tailV, tailPct, nSamples) = tail(samples)
    val failed = execs.count(_.error.nonEmpty)
    val srcBytes = Workloads.sourceTables(a.workload)
      .map(t => treeBytes(Paths.get(dataDir).resolve(s"$t.parquet").toRealPath())._1).sum
    val storedBytes = treeBytes(warehouse)._1
    val passS = median(warm.map(pr => secs(pr.wallNs)).toSeq)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "cold_pass_s" -> (secs(passes.head.wallNs), "s"),
      "pass_s" -> (passS, "s"),
      "query_p50_s" -> (median(samples), "s"),
      "query_tail_s" -> (tailV, "s"),
      "heap_live_peak_mb" -> (heap.peakMb, "MB"),
      "failed_frac" -> (failed.toDouble / math.max(execs.size, 1), "ratio"),
      "stored_bytes_ratio" -> (storedBytes.toDouble / srcBytes, "ratio"))
    val layerMedian = layerSums.flatMap(_.keys).distinct.map { k =>
      k -> median(layerSums.map(_.getOrElse(k, 0.0)).toSeq)
    }.toMap
    val tracedPassS = median(passes.filter(_.traced).map(pr => secs(pr.wallNs)).toSeq)
    val unitOf: String => String = k =>
      if (k.endsWith("_s") || k == "exec.s") "s" else if (k.endsWith("_bytes")) "bytes"
      else if (k.endsWith("_frac") || k.endsWith("_ratio")) "ratio" else "count"
    val perLayer: Seq[(String, (Double, String))] =
      Seq("sessions.start_s" -> secs(sessionNs),
        "tables.ingest_s" -> ingestS,
        "tables.ingest_bytes" -> ingest.last._3.toDouble,
        "tables.ingest_files" -> ingest.last._4.toDouble,
        "trace.overhead_s" -> (tracedPassS - passS)).map { case (k, v) => k -> (v, unitOf(k)) } ++
        layerMedian.toSeq.filterNot(kv => Set("wall_s", "exec.span_s", "layers_s")(kv._1))
          .sortBy(_._1).map { case (k, v) => k -> (v, unitOf(k)) }
    def metricsJson(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val spansOut = if (!a.trace) Nil else tracer.spans

    val artifact = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "full" -> a.full, "sf_dir" -> a.sfDir,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "slots" -> slots,
      "queries" -> Json.arr(queries.map(_.name)),
      "correct" -> (failed == 0), "attempted" -> execs.size, "failed" -> failed,
      "failures" -> Json.arr(execs.filter(_.error.nonEmpty).map(e =>
        Json.obj("query" -> e.query, "pass" -> e.pass, "error" -> e.error.get))),
      "setup" -> Json.obj(
        "sessions_start_s" -> secs(sessionNs),
        "readers" -> Json.obj(artifacts.map(art =>
          art.name -> Json.arr(art.readers.toSeq.sorted)): _*),
        "reps" -> Json.arr(ingest.map(i => Json.obj(
          "ingest_s" -> secs(i._2), "bytes" -> i._3, "files" -> i._4,
          "artifacts" -> Json.obj(i._5.map { case (k, v) => k -> v }: _*))))),
      "stored_bytes" -> storedBytes, "source_bytes" -> srcBytes,
      "query_tail" -> Json.obj("percentile" -> tailPct, "samples" -> nSamples),
      "steal_pct_run" -> runSteal,
      "pass_trend" -> Json.arr(passes.map(pr => Json.obj(
        "pass" -> pr.pass, "traced" -> pr.traced, "measured" -> pr.measured,
        "wall_s" -> secs(pr.wallNs), "steal_pct" -> pr.stealPct))),
      "executions" -> Json.arr(execs.map(e => Json.obj(
        "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced,
        "wall_s" -> secs(e.wallNs), "digest" -> e.digest.getOrElse(""),
        "ok" -> e.error.isEmpty))),
      // the share of each traced query's wall time its five layer spans
      // cover, at its lowest
      "layer_cover_frac_min" -> perQuery.map { case (_, _, m) => m("layers_s") / m("wall_s") }
        .minOption.getOrElse(0.0),
      "layers_per_query" -> Json.arr(perQuery.map { case (pp, q, m) =>
        Json.obj(("pass" -> pp) +: ("query" -> q) +: m.toSeq.sortBy(_._1): _*) }),
      "self_s" -> Json.obj(Spans.selfByName(spansOut).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> secs(v) }: _*),
      "spans" -> Json.arr(spansOut.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "query" -> s.query,
        "start_s" -> secs(s.start - mainT0), "end_s" -> secs(s.end - mainT0)))),
      "end_to_end" -> metricsJson(endToEnd),
      "per_layer" -> (if (a.trace) metricsJson(perLayer) else Json.obj()))
    Files.writeString(Paths.get(a.out), Json.write(artifact))
    System.err.println(s"[perfbench] ${execs.size} executions, $failed failed; artifact ${a.out}")
  }

  final case class PassRec(pass: Int, traced: Boolean, measured: Boolean,
      wallNs: Long, stealPct: Double)
}

/** Minimal JSON building on Jackson, which Spark already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def arr(xs: Iterable[Any]): java.util.List[Any] =
    new java.util.ArrayList[Any](xs.toSeq.asJava)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
