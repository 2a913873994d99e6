package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Warehouse
import graft.etl.WorldCup
import graft.queries.Catalog
import graft.sources.Tables

/** One op of a workload pass. `body` runs it; it calls into the program
  * only through `Ctx.layer`, which times the call and tags its jobs. */
final case class Op(name: String, body: Ctx => Unit)

/** Per-execution context: the execution's sequence number, the tracer
  * and the session. */
final class Ctx(val seq: Int, val spark: SparkSession, tracer: Tracer) {
  val layerNs = mutable.LinkedHashMap.empty[String, Long]
  /** Analysis time of frames built eagerly by the op, which no query
    * execution listener sees. */
  var builtAnalysisMs = 0L
  def layer[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"$seq:$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try tracer.span(name, seq)(body)
    finally {
      layerNs(name) = layerNs.getOrElse(name, 0L) + System.nanoTime() - t0
      spark.sparkContext.clearJobGroup()
    }
  }
}

/** In-memory spans, written once at exit. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startMs: Double, endMs: Double)
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def nowMs = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, op, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** A span that was measured elsewhere (a Spark job, from the
    * listener), under the given parent. */
  def add(name: String, op: Int, parent: Int, startMs: Double,
      endMs: Double): Unit =
    spans += Span(spans.length, parent, name, op, startMs, endMs)
}

/** A workload: how its inputs are registered, its ops, the order of a
  * pass, the catalog entries whose oracle checks its outputs, and how
  * many passes a run makes. */
trait Workload {
  /** Warm passes a run makes at least, whatever `--seconds` says;
    * op_tail_s takes its percentile from this many passes. Every pass
    * after the first is measured, the early ones too while the JIT still
    * compiles: the medians absorb them, and a run has no time to spare
    * for passes it does not measure. */
  def minWarmPasses: Int
  def register(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def pass(rng: scala.util.Random): Seq[Op]
  def verifyEntries: Seq[String]
}

/** Catalog entries run end to end: `spec.run` builds the frame, a noop
  * sink executes it (every output column is consumed, nothing is
  * written). */
final class QueryWorkload(dataDir: String, names: Seq[String],
    val minWarmPasses: Int) extends Workload {
  private val specs = names.map(Catalog.byName)

  def register(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).schema)

  def warmUp(spark: SparkSession): Unit =
    Tables.load(spark, dataDir, "region").count()

  def pass(rng: scala.util.Random): Seq[Op] =
    rng.shuffle(specs).map(spec => Op(spec.name, ctx => {
      val df = ctx.layer("queries.build")(spec.run(ctx.spark, dataDir))
      ctx.builtAnalysisMs += df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs).getOrElse(0L)
      ctx.layer("spark.exec")(
        df.write.format("noop").mode("overwrite").save())
    }))

  def verifyEntries: Seq[String] = names
}

/** The reference ELT over an FK-closed subset of its tables: read the
  * CSVs and build the tables, load each with PK/FK validation in an
  * order that respects the FKs, then export the database as parquet. */
final class WorldCupWorkload(csvDir: String, exportDir: String,
    tables: Map[String, String]) extends Workload {
  // 4 passes of 9 ops put op_tail_s at p72.2; a 5th costs about 8 s a
  // run, more than the benchmark's time limit leaves
  val minWarmPasses = 4
  private var built: Map[String, DataFrame] = Map.empty

  def register(spark: SparkSession): Unit =
    WorldCup.schemas.keys.foreach(WorldCup.csvSources(spark, csvDir)(_).schema)

  def warmUp(spark: SparkSession): Unit =
    WorldCup.csvSources(spark, csvDir)("tournaments").count()

  /** A seeded topological order: at each step a random table among
    * those whose FK parents are already loaded. */
  private def loadOrder(rng: scala.util.Random): Seq[String] = {
    val deps = tables.keys.map(t =>
      t -> WorldCup.metas(t).fks.map(_.refTable).filter(_ != t).toSet).toMap
    val done = mutable.LinkedHashSet.empty[String]
    while (done.size < deps.size) {
      val ready = deps.keys.filter(t => !done(t) && deps(t).subsetOf(done))
        .toSeq.sorted
      require(ready.nonEmpty, "the table subset is not closed under its FKs")
      done += ready(rng.nextInt(ready.length))
    }
    done.toSeq
  }

  def pass(rng: scala.util.Random): Seq[Op] = {
    val build = Op("etl.build", ctx => {
      Warehouse.clear()
      built = ctx.layer("etl.build")(
        WorldCup.build(ctx.spark, WorldCup.csvSources(ctx.spark, csvDir)))
    })
    val loads = loadOrder(rng).map(t => Op(s"load.$t", ctx => {
      val v = ctx.layer("catalog.load")(
        Warehouse.load(ctx.spark, built(t), WorldCup.metas(t)))
      require(v.isEmpty, s"constraint violations loading $t: ${v.mkString("; ")}")
    }))
    val exportOp = Op("export", ctx =>
      ctx.layer("catalog.export")(Warehouse.exportDatabase(ctx.spark, exportDir)))
    build +: loads :+ exportOp
  }

  def verifyEntries: Seq[String] = tables.values.toSeq
}

object Main {
  /** One entry per relational family of the SQL surface: scan and
    * project, surrogate keys, star join, rollup, running window and
    * ad-hoc SQL. */
  val starSql = Seq("s1_scan_project", "a2_surrogate_key",
    "j1_join_inner_agg", "g2_rollup", "w2_window_running_sum",
    "q4_adhoc_sql")

  /** The World Cup tables of the worldcup_elt workload, each with the
    * catalog entry that checks it against DuckDB: the FK closure of
    * `tournament` plus `stadium`/`city` and `stage`. They cover CSV
    * pass-through, dedup with surrogate keys and resolution of names to
    * keys. */
  val worldCupTables = Map(
    "confederation" -> "e13_worldcup_confederation",
    "federation" -> "e10_worldcup_federation",
    "team" -> "e21_worldcup_team",
    "city" -> "e12_worldcup_city",
    "stadium" -> "e22_worldcup_stadium",
    "tournament" -> "e6_worldcup_tournament",
    "stage" -> "e20_worldcup_stage")

  val corpusHeavy = Seq("x19_dedup_clusters", "x70_prefix_filter_join",
    "x79b_hits_converged", "x90_corpus_build_pipeline",
    "x3_dedup_minhash_lsh", "x6d_ivf_capped_serving")

  private def now = System.nanoTime()

  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def session(cpus: Int, dir: String): SparkSession = {
    val spark = Tables.withSessionConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cpus = opt("cpus").toInt
    Files.createDirectories(Paths.get(out))

    val workload: Workload = workloadName match {
      // 11 passes of 6 ops put op_tail_s at p84.8, among the samples of
      // the slowest op; at 10 passes p83.3 would fall in the gap below it
      case "star_sql" => new QueryWorkload(opt("data"), starSql,
        minWarmPasses = 11)
      case "corpus_heavy" => new QueryWorkload(opt("data"), corpusHeavy,
        minWarmPasses = 2)
      case "worldcup_elt" =>
        new WorldCupWorkload(opt("csv"), s"$out/export", worldCupTables)
      case other => sys.error(s"unknown workload $other")
    }

    // --- set-up, timed from the launch of the JVM process
    val launched = now - (System.currentTimeMillis() - opt("launch-ms").toLong) * 1000000L
    val spark = session(cpus, out)
    workload.register(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    workload.warmUp(spark)
    val setupS = (now - launched) / 1e9

    // --- timed passes: one closed-loop client, seed-permuted order
    val tracer = new Tracer
    val stats = new SparkStats
    def setTracing(on: Boolean): Unit = if (on != tracer.enabled) {
      if (on) {
        spark.sparkContext.addSparkListener(stats)
        spark.listenerManager.register(stats)
      } else {
        stats.drain()
        spark.sparkContext.removeSparkListener(stats)
        spark.listenerManager.unregister(stats)
      }
      tracer.enabled = on
    }
    val rng = new scala.util.Random(seed)
    final case class Exec(pass: Int, phase: String, seq: Int, op: String, traced: Boolean,
        startMs: Long, endMs: Long, wallS: Double, error: Option[String],
        layerNs: Map[String, Long], analysisMs: Long, jitMs: Long, gcMs: Long)
    val execs = mutable.ArrayBuffer.empty[Exec]
    var seq = 0
    def runPass(pass: Int, phase: String, traced: Boolean): Double = {
      setTracing(traced)
      val t0 = now
      workload.pass(rng).foreach { op =>
        seq += 1
        val ctx = new Ctx(seq, spark, tracer)
        val (j0, g0, w0, n0) = (jitMs, gcMs, System.currentTimeMillis(), now)
        val err = try { tracer.span("op", seq)(op.body(ctx)); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        execs += Exec(pass, phase, seq, op.name, traced, w0, System.currentTimeMillis(),
          (now - n0) / 1e9, err, ctx.layerNs.toMap, ctx.builtAnalysisMs,
          jitMs - j0, gcMs - g0)
      }
      (now - t0) / 1e9
    }
    val firstPassS = runPass(0, "first", trace)
    val warmPassS = mutable.ArrayBuffer.empty[Double]
    val warmStart = now
    // whole passes, so every run measures the same mix of ops; a traced
    // run alternates traced and untraced passes to measure the overhead
    while (warmPassS.length < workload.minWarmPasses ||
        (now - warmStart) / 1e9 < seconds) {
      warmPassS += runPass(1 + warmPassS.length, "warm",
        trace && warmPassS.length % 2 == 0)
    }
    setTracing(false)

    // --- correctness dump, outside the timed region. Oracles are
    // evaluated after every run, so late-bound ones resolve.
    val dumpDir = s"$out/verify"
    val verifyT0 = now
    val keep = workload.verifyEntries.toSet
    val violations = graft.Verify.dump(spark, opt("data"), dumpDir, keep,
      graft.SparkEntry.queries, graft.SparkEntry.oracleSqlFiltered)
    val verifyS = (now - verifyT0) / 1e9

    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val vmHwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

    // --- per-op records: wall time, layer times and, when traced, the
    // Spark counters of the jobs the op launched
    val opsOut = Files.newBufferedWriter(Paths.get(s"$out/ops.jsonl"))
    execs.foreach { e =>
      val fields = mutable.LinkedHashMap[String, String](
        "pass" -> e.pass.toString, "phase" -> q(e.phase), "seq" -> e.seq.toString, "op" -> q(e.op),
        "traced" -> e.traced.toString, "wall_s" -> num(e.wallS),
        "error" -> e.error.map(q).getOrElse("null"))
      val l = mutable.LinkedHashMap.empty[String, Double]
      e.layerNs.foreach { case (k, v) => l(s"$k.s") = v.toDouble / 1e9 }
      if (e.traced) {
        val groups = stats.groupsOf(e.seq)
        def sum(f: GroupStats => Long): Double = groups.values.map(f).sum.toDouble
        groups.foreach { case (layer, g) => l(s"$layer.jobs") = g.jobs.toDouble }
        l("spark.jobs") = sum(_.jobs.toLong)
        l("spark.stages") = sum(_.stages.toLong)
        l("spark.skipped_stages") = sum(_.skippedStages.toLong)
        l("spark.tasks") = sum(_.tasks.toLong)
        l("spark.failed_tasks") = sum(_.failedTasks.toLong)
        l("spark.task_s") = sum(_.taskMs) / 1e3
        l("spark.task_cpu_s") = sum(_.taskCpuNs) / 1e9
        l("spark.straggler_s") = sum(_.stragglerMs) / 1e3
        l("spark.shuffle_read_mb") = sum(_.shuffleReadBytes) / 1e6
        l("spark.shuffle_write_mb") = sum(_.shuffleWriteBytes) / 1e6
        l("spark.spill_mb") = sum(_.spillBytes) / 1e6
        l("spark.peak_exec_mem_mb") =
          groups.values.map(_.peakExecMemBytes).maxOption.getOrElse(0L).toDouble / 1e6
        l("spark.output_mb") = sum(_.outputBytes) / 1e6
        l("sources.input_mb") = sum(_.inputBytes) / 1e6
        l("sources.input_rows") = sum(_.inputRows)
        // op wall time not covered by any of its jobs
        val iv = groups.values.flatMap(_.jobIntervals)
          .map { case (a, b) => (a.max(e.startMs), b.min(e.endMs)) }
          .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
        var covered = 0L
        var reach = Long.MinValue
        iv.foreach { case (a, b) =>
          val from = a.max(reach)
          if (b > from) covered += b - from
          reach = reach.max(b)
        }
        l("spark.gap_s") = ((e.endMs - e.startMs) - covered).max(0L).toDouble / 1e3
        val ph = stats.phasesBetween(e.startMs, e.endMs)
        l("spark.analysis_s") =
          (ph.map(_.analysisMs).sum + e.analysisMs).toDouble / 1e3
        l("spark.optimization_s") = ph.map(_.optimizationMs).sum.toDouble / 1e3
        l("spark.planning_s") = ph.map(_.planningMs).sum.toDouble / 1e3
        l("jvm.jit_s") = e.jitMs.toDouble / 1e3
        l("jvm.gc_s") = e.gcMs.toDouble / 1e3
        // job spans under the layer span that launched them
        groups.foreach { case (layer, g) =>
          val parent = tracer.spans.find(s => s.op == e.seq && s.name == layer)
            .map(_.id).getOrElse(-1)
          g.jobIntervals.foreach { case (a, b) =>
            tracer.add("spark.job", e.seq, parent, a.toDouble, b.toDouble) }
        }
      }
      fields("layers") = obj(l.map { case (k, v) => k -> num(v) })
      opsOut.write(obj(fields)); opsOut.newLine()
    }
    opsOut.close()

    val spansOut = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
    tracer.spans.foreach { s =>
      spansOut.write(obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> q(s.name), "op" -> s.op.toString,
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs))))
      spansOut.newLine()
    }
    spansOut.close()

    val exportMb =
      if (!Files.exists(Paths.get(s"$out/export"))) 0.0
      else Files.walk(Paths.get(s"$out/export")).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble / 1e6
    Files.writeString(Paths.get(s"$out/run.json"), obj(Seq(
      "setup_s" -> num(setupS),
      "first_pass_s" -> num(firstPassS),
      "warm_pass_s" -> warmPassS.map(num).mkString("[", ", ", "]"),
      "min_warm_passes" -> workload.minWarmPasses.toString,
      "peak_rss_mb" -> num(vmHwmKb.toDouble / 1024.0),
      "export_mb" -> num(exportMb),
      "verify_s" -> num(verifyS),
      "boundary_violations" -> violations.toString,
      "verify_entries" -> keep.toSeq.sorted.map(q).mkString("[", ", ", "]"))) + "\n")
    spark.stop()
  }
}
