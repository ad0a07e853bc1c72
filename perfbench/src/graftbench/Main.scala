package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusSync
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.plans.{ErrorPolicy, Persists, Phase, Pipeline}
import graft.sources.Format

/** Benchmark harness, one workload per JVM. Modes:
  *
  *   build-info --dir D               write every query's DuckDB oracle SQL
  *                                    to D/oracle_sql.json and Spark's JVM
  *                                    module options to D/jvm_options.txt
  *                                    (build time)
  *   run --workload W --seconds S --trace 0|1 --cpus N --work D
  *       --input P --out F --warmup-units K [--queries a,b,..]
  *                                    set up, run K untimed units (the first
  *                                    is checked), then timed units for S
  *                                    seconds
  *
  * In a traced run every second timed unit runs with the [[Tracer]]
  * listener registered; the others run without it, and the two halves give
  * the tracing overhead. Outputs are only observed here; run.py compares
  * them with expectations computed outside the program.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("build-info") =>
        write(s"${o("dir")}/oracle_sql.json", toJson(SparkEntry.oracleSql))
        write(s"${o("dir")}/jvm_options.txt",
          JavaModuleOptions.defaultModuleOptions().split(" ").mkString("\n"))
      case Some("run") => run(o)
      case _ =>
        System.err.println("usage: graftbench.Main build-info|run --key value ...")
        sys.exit(2)
    }
  }

  // ---------------------------------------------------------------- setup

  def session(work: String, cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session built (timed from JVM start) plus one fixed warm-up action
    * with a shuffle. */
  def setup(work: String, cpus: Int): (SparkSession, Map[String, Double]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t = System.nanoTime()
    spark.range(0, 200000, 1, cpus).selectExpr("id % 97 AS k", "id")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    val warm = (System.nanoTime() - t) / 1e9
    (spark, Map("session_s" -> sessionS, "warmup_s" -> warm))
  }

  // ---------------------------------------------------------------- units

  final case class UnitOut(id: Int, traced: Boolean, wall: Double, probe: Double, cpu: Double,
      jit: Double, error: Option[String],
      observed: Map[String, Any], workBytes: Long, items: Map[String, Double],
      layers: Map[String, Double])

  trait Workload {
    /** Run unit `id`, inside a span named "unit"; `check` marks the
      * untimed first unit, which also writes the outputs run.py checks. */
    def unit(id: Int, check: Boolean): (Option[String], Map[String, Any], Long, Map[String, Double])
    /** Per-layer numbers of a traced unit, from its spans and jobs. */
    def layers(u: Span, jobs: Seq[JobRec], tr: Tracer): Map[String, Double]
  }

  def run(o: Map[String, String]): Unit = {
    val work = o("work"); val cpus = o("cpus").toInt
    val seconds = o("seconds").toDouble; val trace = o("trace") == "1"
    val (spark, setupRec) = setup(work, cpus)
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val tracer = new Tracer
    val extra = mutable.LinkedHashMap.empty[String, Double]

    val wl: Workload = o("workload") match {
      case "pipeline_employees" =>
        new PipelineWorkload(spark, spans, work, o("input"), "employees",
          graft.examples.Employees.phases)
      case "query_mix" =>
        val q = new QueryMixWorkload(spark, spans, work, o("input"), o("queries").split(",").toSeq)
        if (trace) extra ++= q.tableLoads()
        q
      case other => sys.error(s"unknown workload $other")
    }

    val units = mutable.ArrayBuffer.empty[UnitOut]
    val otherSites = mutable.LinkedHashSet.empty[String]
    val jobSpans = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    def runUnit(id: Int, check: Boolean, traced: Boolean, probe: Boolean): Unit = {
      val probeS = if (probe) speedProbe(cpus) else -1.0
      if (traced) { BusSync.drain(sc); tracer.resetStorage(); sc.addSparkListener(tracer) }
      val cpu0 = processCpuS(); val jit0 = jitS()
      val (err, observed, bytes, items) = wl.unit(id, check)
      val cpu = processCpuS() - cpu0; val jit = jitS() - jit0
      val u = spans.all.filter(s => s.name == "unit" && s.unit == id).last
      val layers = if (traced) {
        BusSync.drain(sc)
        sc.removeSparkListener(tracer)
        val js = unitJobs(u, spans, tracer)
        js.foreach { j =>
          val layer = Layers.of(tracer.callSite(j))._1
          jobSpans += mutable.LinkedHashMap[String, Any]("job" -> j.id, "layer" -> layer,
            "parent" -> j.span, "unit" -> u.unit, "start_ms" -> j.startMs, "end_ms" -> j.endMs)
          if (layer == "other") otherSites += tracer.callSite(j).split("\n").take(4).mkString(" | ")
        }
        wl.layers(u, js, tracer) ++ sparkLayers(u, js, tracer, cpus) ++
          Map("persists.live_after" -> observed.getOrElse("live_after", 0).toString.toDouble)
      } else Map.empty[String, Double]
      units += UnitOut(id, traced, u.seconds, probeS, cpu, jit, err, observed, bytes, items,
        layers)
      System.err.println(f"[graftbench] unit $id%d traced=$traced wall=${u.seconds}%.3f s" +
        f" cpu=$cpu%.2f s jit=$jit%.2f s" +
        err.map(e => s" ERROR $e").getOrElse(""))
    }

    // untimed: the checked unit, then more units while the JIT settles. A
    // count, not a time: a slower machine then starts timing at the same
    // point of the JIT's warm-up curve as a faster one.
    val warmup = math.max(1, o("warmup-units").toInt)
    var id = 0
    while (id < warmup) {
      // the last warm-up unit's probe only gets the probe's code compiled
      runUnit(id, check = id == 0, traced = false, probe = id == warmup - 1)
      id += 1
    }
    val firstTimed = id
    val start = System.nanoTime()
    // a traced run needs at least one unit of each kind
    while ((System.nanoTime() - start) / 1e9 < seconds || id < firstTimed + (if (trace) 2 else 1)) {
      runUnit(id, check = false, traced = trace && (id - firstTimed) % 2 == 1, probe = true)
      id += 1
    }

    val lastProbe = speedProbe(cpus)
    Persists.releaseAll(spark)
    val heapMb = fullGcHeapMb()
    val layerMedians = mutable.LinkedHashMap.empty[String, Double]
    val traced = units.filter(_.traced)
    traced.flatMap(_.layers.keys).distinct.foreach { k =>
      layerMedians(k) = median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)
    }
    layerMedians ++= extra
    val out = mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "setup" -> setupRec,
      "driver_heap_mb" -> heapMb,
      "first_timed_unit" -> firstTimed,
      "last_probe_s" -> lastProbe,
      "units" -> units.map(u => mutable.LinkedHashMap[String, Any](
        "id" -> u.id, "traced" -> u.traced, "wall_s" -> u.wall, "probe_s" -> u.probe,
        "cpu_s" -> u.cpu, "jit_s" -> u.jit, "error" -> u.error,
        "observed" -> u.observed, "work_bytes" -> u.workBytes, "items" -> u.items,
        "storage_peak_bytes" -> u.layers.get("spark.storage_peak_bytes"))),
      "layers" -> layerMedians,
      "other_call_sites" -> otherSites,
      "spans" -> (if (trace) spans.all.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds)) else Nil),
      "job_spans" -> jobSpans)
    spark.stop()
    write(o("out"), toJson(out))
  }

  /** Jobs of unit `u`: by the span property the job carries, else by a job
    * of the same SQL execution that carries one, else by start time. */
  def unitJobs(u: Span, spans: Spans, tr: Tracer): Seq[JobRec] = tr.synchronized {
    val byExec = tr.jobs.values.filter(j => j.spanProp >= 0 && j.execId >= 0)
      .map(j => j.execId -> j.spanProp).toMap
    def spanOf(j: JobRec): Option[Span] = {
      val sid = if (j.spanProp >= 0) j.spanProp else byExec.getOrElse(j.execId, -1)
      if (sid >= 0) Some(spans.all(sid))
      else spans.all.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(-_.startMs).headOption
    }
    tr.jobs.values.filter { j =>
      val s = spanOf(j)
      j.span = s.map(_.id).getOrElse(-1)
      s.exists(_.unit == u.unit)
    }.toSeq
  }

  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total / 1000.0
  }

  def interval(j: JobRec): (Long, Long) = (j.startMs, j.endMs)

  /** Spark execution numbers of one unit, plus the job count of every
    * layer (the layer counts sum to `spark.jobs`). */
  def sparkLayers(u: Span, js: Seq[JobRec], tr: Tracer, cpus: Int): Map[String, Double] = {
    val owned = tr.stageOwner.filter { case (_, j) => js.exists(_.id == j) }.keys
    val aggs = owned.flatMap(tr.stages.get).toSeq
    def sum(f: StageAgg => Long) = aggs.map(f).sum.toDouble
    val taskS = sum(_.runMs) / 1000.0
    val byLayer = js.groupBy(j => Layers.of(tr.callSite(j))._1)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.ranStages.size).sum.toDouble,
      "spark.stages_skipped" -> js.map(j => j.stageIds.size - j.ranStages.size).sum.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0,
      "spark.slot_util" -> taskS / (u.seconds * cpus),
      "spark.storage_peak_bytes" -> tr.storagePeak.toDouble,
      "driver.self_s" -> math.max(0.0, u.seconds - unionSeconds(js.map(interval)))
    ) ++ Layers.names.map(l => s"layer.$l.jobs" -> byLayer.get(l).map(_.size).getOrElse(0).toDouble)
  }

  // ------------------------------------------------------------ workloads

  /** `Pipeline.run` of `phases` with CSV checkpoints under
    * `ErrorPolicy.Warn`, the command line's defaults. */
  final class PipelineWorkload(spark: SparkSession, spans: Spans, work: String, source: String,
      name: String, phases: Seq[Phase]) extends Workload {
    private var last: Pipeline = _

    def unit(id: Int, check: Boolean) = {
      val dir = s"$work/units/u$id"
      last = null
      val err = spans("unit", id) {
        try {
          last = new Pipeline(spark, phases, dir, source, name = name,
            saveFormat = Format.Csv, errorPolicy = ErrorPolicy.Warn)
          last.run()
          None
        } catch { case e: Exception => Some(e.toString) }
      }
      val live = Persists.livePersistedRdds(spark)
      val observed = spans("check") {
        try observe(dir) catch { case e: Exception => Map[String, Any]("check_error" -> e.toString) }
      } ++ Map("live_after" -> live) ++ Option(last).map(p => Map(
        "events" -> p.context.events.size,
        "dropped_validator" -> p.context.droppedCount("Validator"))).getOrElse(Map.empty)
      val bytes = du(Paths.get(dir))
      deleteTree(Paths.get(dir))
      (err, observed, bytes, Map.empty[String, Double])
    }

    /** The final checkpoint's row count (a CSV with one header line). */
    private def observe(dir: String): Map[String, Any] = {
      val lines = Files.lines(Paths.get(dir, s"${phases.last.name}_output.${Format.Csv.extension}"))
      try Map("rows" -> (lines.count() - 1)) finally lines.close()
    }

    def layers(u: Span, js: Seq[JobRec], tr: Tracer): Map[String, Double] = {
      val sorted = js.sortBy(_.id)
      val lay = sorted.map(j => j -> Layers.of(tr.callSite(j))).toMap
      def jobsOf(p: ((String, String)) => Boolean) = sorted.filter(j => p(lay(j)))
      val drain = jobsOf(_._1 == "context")
      val reads = jobsOf { case (l, m) => l == "sources" && !Layers.isWrite(m) }
      val writes = jobsOf { case (l, m) => l == "sources" && Layers.isWrite(m) }
      val gates = jobsOf(_._1 == "pipeline")
      val rownum = jobsOf(_._1 == "rownum")
      val steps = jobsOf(l => l._1 == "steps" || l._1 == "operators")
      def owned(j: JobRec) = tr.stageOwner.collect { case (s, o) if o == j.id => tr.stages.get(s) }.flatten
      def out(js: Seq[JobRec], f: StageAgg => Long) = js.flatMap(owned).map(f).sum.toDouble

      // Checkpoints in write order: source_copy, then each phase's output.
      // The checkpoint path in the write's plan names the phase; a CSV
      // save writes to a temp dir first, so there the order decides.
      val names = "source" +: phases.map(_.name)
      val PathName = """([A-Za-z0-9]+)_output\.""".r.unanchored
      val writeExecs = writes.map(_.execId).distinct
      val bounds = writeExecs.zipWithIndex.map { case (e, i) =>
        val ejobs = writes.filter(_.execId == e)
        val n = tr.execs.get(e).map(_.plan) match {
          case Some(PathName(p)) if names.contains(p) => p
          case _ => names.lift(i).getOrElse(s"extra$i")
        }
        (n, ejobs.map(_.id).max, ejobs.map(_.endMs).max, ejobs)
      }
      val phaseMetrics = mutable.LinkedHashMap.empty[String, Double]
      var prevId = -1; var prevEnd = u.startMs
      bounds.foreach { case (n, maxId, endMs, ejobs) =>
        val inPhase = sorted.filter(j => j.id > prevId && j.id <= maxId)
        phaseMetrics(s"phase.$n.s") = (endMs - prevEnd) / 1000.0
        phaseMetrics(s"phase.$n.jobs") = inPhase.size.toDouble
        phaseMetrics(s"phase.$n.rows_out") = out(ejobs, _.outRecords)
        phaseMetrics(s"phase.$n.checkpoint_bytes") = out(ejobs, _.outBytes)
        prevId = maxId; prevEnd = endMs
      }
      Map(
        "context.drain_jobs" -> drain.size.toDouble,
        "context.drain_s" -> unionSeconds(drain.map(interval)),
        "context.events_collected" -> last.context.events.size.toDouble,
        "sources.read_s" -> unionSeconds(reads.map(interval)),
        "sources.write_jobs" -> writes.size.toDouble,
        "sources.write_s" -> unionSeconds(writes.map(interval)),
        "sources.bytes_written" -> out(writes, _.outBytes),
        "pipeline.gate_jobs" -> gates.size.toDouble,
        "pipeline.gate_s" -> unionSeconds(gates.map(interval)),
        "pipeline.jobs_per_phase" -> sorted.size.toDouble / math.max(1, bounds.size),
        "rownum.jobs" -> rownum.size.toDouble,
        "rownum.s" -> unionSeconds(rownum.map(interval)),
        "steps.jobs" -> steps.size.toDouble,
        "steps.s" -> unionSeconds(steps.map(interval))
      ) ++ phaseMetrics
    }
  }

  final class QueryMixWorkload(spark: SparkSession, spans: Spans, work: String, dir: String,
      queries: Seq[String]) extends Workload {
    private val checkDir = s"$work/check"

    /** Direct Tables.load of every table: once cold (fresh session), once
      * warm. */
    def tableLoads(): Map[String, Double] = {
      def all() = { val t = System.nanoTime(); Tables.names.foreach(Tables.load(spark, dir, _)); (System.nanoTime() - t) / 1e9 }
      val cold = spans("tables.load_cold")(all())
      val warm = spans("tables.load_warm")(all())
      Map("tables.load_cold_s" -> cold, "tables.load_warm_s" -> warm)
    }

    def unit(id: Int, check: Boolean) = {
      val items = mutable.LinkedHashMap.empty[String, Double]
      val errors = mutable.ArrayBuffer.empty[String]
      spans("unit", id) {
        queries.foreach { q =>
          val t = System.nanoTime()
          try spans(s"query.$q") {
            val df = spans("build")(SparkEntry.queries(q)(spark, dir))
            spans("plan")(df.queryExecution.executedPlan)
            spans("materialize") {
              if (check) df.write.mode("overwrite").parquet(s"$checkDir/$q")
              else df.write.format("noop").mode("overwrite").save()
            }
            spans("release")(Persists.releaseAll(spark))
          } catch { case e: Exception => errors += s"$q: $e"; Persists.releaseAll(spark) }
          items(q) = (System.nanoTime() - t) / 1e9
        }
      }
      val live = Persists.livePersistedRdds(spark)
      val bytes = if (check) du(Paths.get(checkDir)) else 0L
      (errors.headOption, Map("live_after" -> live, "errors" -> errors.size), bytes, items.toMap)
    }

    def layers(u: Span, js: Seq[JobRec], tr: Tracer): Map[String, Double] = {
      val mine = spans.all.filter(_.unit == u.unit)
      def total(n: String) = mine.filter(_.name == n).map(_.seconds).sum
      val buildIds = mine.filter(_.name == "build").map(_.id).toSet
      val rownum = js.filter(j => Layers.of(tr.callSite(j))._1 == "rownum")
      Map(
        "entry.build_s" -> total("build"),
        "entry.plan_s" -> total("plan"),
        "entry.build_jobs" -> js.count(j => buildIds.contains(j.span)).toDouble,
        "rownum.jobs" -> rownum.size.toDouble,
        "rownum.s" -> unionSeconds(rownum.map(interval))
      ) ++ queries.map(q => s"query.$q.s" -> total(s"query.$q"))
    }
  }

  // -------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** How fast the machine runs right now, for run.py to correct unit
    * times by (the machine is a share of a host whose speed drifts by ±20%
    * over tens of seconds, more than any bound a time could keep): the mean
    * thread CPU seconds of a fixed sort-and-hash kernel run on `threads`
    * threads at once. Taken between units, once the JIT has compiled
    * nothing for 100 ms (at most 2 s of waiting), so that the program's own
    * background work does not slow it. */
  def speedProbe(threads: Int): Double = {
    val t = System.nanoTime()
    var last = -1.0
    while (jitS() != last && System.nanoTime() - t < 2000000000L) { last = jitS(); Thread.sleep(100) }
    val mx = ManagementFactory.getThreadMXBean
    val out = new Array[Double](threads)
    val ts = (0 until threads).map { k =>
      val th = new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        var x = 88172645463325252L + k
        val a = new Array[Long](1 << 14)
        (1 to 100).foreach { _ =>
          var i = 0
          while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
          java.util.Arrays.sort(a)
          val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          i = 0
          while (i < 4096) { m.merge(a(i) & 1023L, 1L, (p, q) => p + q); i += 1 }
        }
        out(k) = (mx.getCurrentThreadCpuTime - c0) / 1e9
      })
      th.start(); th
    }
    ts.foreach(_.join())
    out.sum / threads
  }

  /** Seconds the JIT compiler threads have spent compiling so far. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** CPU seconds used by this JVM so far, all threads. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def fullGcHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))
}
