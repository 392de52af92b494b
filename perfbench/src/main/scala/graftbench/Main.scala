package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.queries.BenchHooks
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark process: one workload, one seed, one closed-loop client.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --root <scratch dir> --bench-dir <perfbench dir> [--launch-ms <epoch ms>]
  *     [--record <expected.json>]
  *
  * Set-up (timed as `setup_s`, from JVM launch): session build, the
  * workload's inputs on a wiped root with an empty artifact cache, then
  * two untimed warm-up passes. Then whole passes run until
  * `--seconds` have elapsed. With `--trace 1` half the passes are traced;
  * end-to-end figures always come from untraced passes, per-layer figures
  * from traced ones. The last stdout line, prefixed
  * `GRAFTBENCH `, carries the results.
  */
object Main {

  /** Untimed passes before the loop: the first builds the artifacts, the
    * second lets the JIT and code generation settle. */
  private val WarmPasses = 2

  /** One pass of the closed loop: its operations and its wall time, less
    * the harness's own work. */
  private final case class PassRecord(traced: Boolean, ops: Int, wallS: Double)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val launchMs = args.get("launch-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traceMode = arg("trace") == "1"
    val root = Paths.get(arg("root")).toAbsolutePath
    val benchDir = Paths.get(arg("bench-dir")).toAbsolutePath
    val config = JsonMethods.parse(Files.readString(benchDir.resolve("workloads.json")))
    implicit val formats: Formats = DefaultFormats
    val wcfg = config \ name
    require(wcfg != JNothing, s"unknown workload $name")

    val loadBefore = Host.loadAvg1m
    val artifactRoot = BenchHooks.relocateArtifacts(root.resolve("artifacts").toString)
    if (traceMode) Tracer.SessionListenerConf.foreach { case (k, v) => System.setProperty(k, v) }
    val spark = GraftSession.build("graft-perfbench")
    val sessionReadyMs = System.currentTimeMillis()
    val cores = spark.sparkContext.defaultParallelism
    val workRoot = root.resolve("w")

    val workload: Workload = name match {
      case "ingest_daily" =>
        new IngestDaily(spark, workRoot, seed, (wcfg \ "tx_per_day").extract[Int],
          (wcfg \ "history_days").extract[Int], (wcfg \ "look_back_days").extract[Int])
      case _ =>
        val data = workRoot.resolve("data").toString
        val sizes = (wcfg \ "sizes").extract[StarGen.Sizes]
        val dataSeed = (wcfg \ "data_seed").extract[Long]
        new QueryMix(spark, data, (wcfg \ "queries").extract[Seq[String]],
          readExpected(benchDir.resolve(s"expected/$name.json")), seed,
          () => StarGen.write(spark, data, sizes, dataSeed))
    }

    // set-up: the inputs, on an empty root with an empty artifact cache
    Bytes.deleteRecursively(workRoot)
    Bytes.deleteRecursively(artifactRoot)
    val prepT = System.nanoTime()
    workload.prepare()
    val prepS = (System.nanoTime() - prepT) / 1e9
    // warm-up passes (negative pass numbers): build the artifacts, let the
    // JIT and code generation settle before anything is timed
    val warmT = System.nanoTime()
    val warmBuilds = mutable.Map.empty[String, Seq[String]].withDefaultValue(Seq.empty)
    for (w <- -WarmPasses to -1; op <- workload.pass(w)) {
      op.before()
      val b0 = BenchHooks.buildSecs.keySet
      try op.run() catch { case e: Exception => System.err.println(s"[graftbench] warm-up ${op.name}: $e") }
      warmBuilds(op.name) ++= (BenchHooks.buildSecs.keySet -- b0).toSeq
    }
    val warmS = (System.nanoTime() - warmT) / 1e9
    // queries that built an artifact while warming: their timed runs are
    // artifact hits unless they build again
    val consumers = warmBuilds.collect { case (q, b) if b.nonEmpty => q }.toSet
    val setupS = (sessionReadyMs - launchMs) / 1e3 + prepS + warmS
    val artifactBuildS = BenchHooks.buildSecs

    args.get("record").foreach { out =>
      record(workload, Paths.get(out))
      spark.stop()
      return
    }

    // measurement: closed loop until the time is up, in whole passes, so
    // that every run times the same mix of operations. Untraced runs stop
    // at the first pass boundary after `seconds`. Traced runs trace passes
    // in the order untraced, traced, traced, untraced (so that the JIT's
    // speed-up over the run cancels out of the tracing overhead) and stop
    // at a pass boundary after at least four.
    val tracer = if (traceMode) Some(new Tracer(spark)) else None
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var p = 0
    while (p == 0 || elapsed < seconds || (traceMode && p % 4 != 0)) {
      val traced = traceMode && (p % 4 == 1 || p % 4 == 2)
      if (traced) tracer.foreach(_.attach())
      val ops = workload.pass(p)
      val passT = System.nanoTime()
      // the harness's own work in the pass (landing inputs, output checks)
      var harnessS = 0.0
      ops.foreach { op =>
        val h0 = System.nanoTime()
        op.before()
        harnessS += (System.nanoTime() - h0) / 1e9
        val b0 = BenchHooks.buildSecs.keySet
        if (traced) tracer.foreach(_.begin())
        val startMs = System.currentTimeMillis()
        val cpu0 = Host.processCpuS
        val t0 = System.nanoTime()
        val result = try Right(op.run()) catch { case e: Exception => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = Host.processCpuS - cpu0
        val trace = if (traced) tracer.map(_.end(op.name)) else None
        val c0 = System.nanoTime()
        val failure = result match {
          case Left(e) => Some(s"${op.name} threw ${e.getClass.getName}: ${e.getMessage}")
          case Right(r) =>
            try op.check(r) catch { case e: Exception => Some(s"${op.name} check threw $e") }
        }
        harnessS += (System.nanoTime() - c0) / 1e9
        failure.foreach(f => System.err.println(s"[graftbench] FAILED $f"))
        records += OpRecord(op.name, op.kindOrName, p, traced, startMs, wall, cpu, failure, trace,
          (BenchHooks.buildSecs.keySet -- b0).toSeq)
      }
      passes += PassRecord(traced, ops.size, (System.nanoTime() - passT) / 1e9 - harnessS)
      if (traced) tracer.foreach(_.detach())
      p += 1
    }
    val loadAfter = Host.loadAvg1m
    // the run's inputs, versions and artifacts go at exit
    Bytes.deleteRecursively(workRoot)
    Bytes.deleteRecursively(artifactRoot)

    val plain = records.filterNot(_.traced).toSeq
    val traced = records.filter(_.traced).toSeq
    // the typical operation: the geometric mean of the kinds' median times
    // (a median over kinds jumps between neighbouring queries)
    def byKind(rs: Seq[OpRecord]) = rs.groupBy(_.kind).values.map(_.map(_.wallS)).toSeq
    // throughput: operations completed over the loop's wall time, less the
    // harness's own work between the calls
    def opsPerS(traced: Boolean) = {
      val ps = passes.filter(_.traced == traced)
      ps.map(_.ops).sum / math.max(1e-9, ps.map(_.wallS).sum)
    }
    val endToEnd = Map(
      "setup_s" -> setupS,
      "op_s_gmean" -> Stats.geomean(byKind(plain).map(Stats.median)),
      "ops_per_s" -> opsPerS(traced = false),
      "peak_rss_mb" -> Host.peakRssMb)
    val hostRecord = Map(
      "nproc" -> Host.nproc.toDouble,
      "spark_cores" -> cores.toDouble,
      "loadavg_1m_before" -> loadBefore,
      "loadavg_1m_after" -> loadAfter,
      "cpu_s_per_op" -> Stats.mean(records.toSeq.map(_.cpuS)))

    val perLayer = if (!traceMode) Map.empty[String, Double] else {
      val consumerOps = traced.filter(r => consumers.contains(r.name))
      layerMetrics(traced, cores) ++ IngestDaily.LayerKeys.map(_ -> 0.0) ++
        workload.layerMetrics(traced) ++ Map(
        "session.build_s" -> (sessionReadyMs - launchMs) / 1e3,
        "artifacts.build_s" -> artifactBuildS.values.sum,
        "artifacts.hit_frac" -> (if (consumerOps.isEmpty) 1.0
          else consumerOps.count(_.artifactsBuilt.isEmpty).toDouble / consumerOps.size),
        "host.nproc" -> hostRecord("nproc"),
        "host.loadavg_1m_before" -> loadBefore,
        "host.loadavg_1m_after" -> loadAfter,
        "host.cpu_s_per_op" -> Stats.mean(traced.map(_.cpuS)),
        "ops.failed_frac" -> records.count(_.failure.isDefined).toDouble / records.size,
        "trace.overhead_frac" -> (1.0 - opsPerS(traced = true) / opsPerS(traced = false)))
    }

    args.get("out").foreach { out =>
      val path = Paths.get(out)
      Files.createDirectories(path.getParent)
      Files.writeString(path, Json.render(Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traceMode,
        "host" -> hostRecord,
        "setup" -> Map("session_s" -> (sessionReadyMs - launchMs) / 1e3, "prepare_s" -> prepS,
          "warm_s" -> warmS, "artifact_build_s" -> artifactBuildS,
          "artifacts_built_by" -> warmBuilds.filter(_._2.nonEmpty)),
        "end_to_end" -> endToEnd,
        "per_layer" -> perLayer,
        "ops" -> records.map(r => opJson(r, consumers.contains(r.name))))) + "\n")
    }

    val failed = records.count(_.failure.isDefined)
    println("GRAFTBENCH " + Json.render(Map(
      "correct" -> (failed == 0),
      "attempted" -> records.size,
      "failed" -> failed,
      "metrics" -> (if (traceMode) perLayer else endToEnd),
      "host" -> hostRecord,
      "failures" -> records.flatMap(_.failure).take(5))))
    spark.stop()
  }

  /** Run-level per-layer metrics from the traced operations. */
  private def layerMetrics(traced: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    def total(k: String) = traced.flatMap(_.trace).map(_.counts.getOrElse(k, 0.0)).sum
    def perOp(k: String) = total(k) / n
    val drains = math.max(1.0, total("drains"))
    def perDrain(k: String) = if (total("drains") == 0) 0.0 else total(k) / drains
    Map(
      "planning.analysis_s" -> perOp("analysis_s"),
      "planning.optimizer_s" -> perOp("optimizer_s"),
      "planning.physical_s" -> perOp("physical_s"),
      "planning.executions_per_op" -> perOp("executions"),
      "scheduling.jobs_per_op" -> perOp("jobs"),
      "scheduling.stages_per_op" -> perOp("stages"),
      "scheduling.tasks_per_op" -> perOp("tasks"),
      "scheduling.driver_gap_s" -> perOp("driver_gap_s"),
      "executor.task_s" -> perOp("task_s"),
      "executor.cpu_s" -> perOp("cpu_s"),
      "executor.gc_s" -> perOp("gc_s"),
      "executor.busy_frac" -> total("task_s") / math.max(1e-9, traced.map(_.wallS).sum * cores),
      "executor.stage_skew" -> Stats.median(traced.flatMap(_.trace).flatMap(_.stageSkews)),
      "executor.tasks_failed" -> total("tasks_failed"),
      "io.input_bytes" -> perOp("input_bytes"),
      "io.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
      "io.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
      "io.spill_bytes" -> perOp("spill_bytes"),
      "io.output_bytes" -> perOp("output_bytes"),
      "streaming.start_s" -> perDrain("stream_start_s"),
      "streaming.batches_per_drain" -> perDrain("batches"),
      "streaming.batch_planning_s" -> perDrain("batch_planning_s"),
      "streaming.add_batch_s" -> perDrain("add_batch_s"),
      "streaming.commit_s" -> perDrain("commit_s"),
      "streaming.post_drain_s" -> perDrain("post_drain_s"),
      "streaming.state_rows" -> perDrain("state_rows"),
      "trace.self_time_ratio" ->
        traced.flatMap(_.trace).map(_.spanSelfMs).sum / 1e3 / math.max(1e-9, traced.map(_.wallS).sum))
  }

  private def opJson(r: OpRecord, consumer: Boolean): Map[String, Any] = {
    val base = Map[String, Any]("name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
      "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "failure" -> r.failure,
      "artifacts_built" -> r.artifactsBuilt,
      "artifact_hit" -> (if (consumer) Some(r.artifactsBuilt.isEmpty) else None))
    r.trace.fold(base) { t =>
      base ++ Map("counts" -> t.counts, "span_self_s" -> t.spanSelfMs / 1e3,
        "self_s_by_kind" -> t.spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => t.selfMs(s.id)).sum / 1e3 },
        "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> t.selfMs(s.id))))
    }
  }

  private def readExpected(p: Path): Map[String, Expected] =
    if (!Files.exists(p)) Map.empty
    else {
      implicit val formats: Formats = DefaultFormats
      (JsonMethods.parse(Files.readString(p)) \ "queries").extract[Map[String, JValue]].map { case (q, j) =>
        q -> Expected((j \ "rows").extract[Long], (j \ "hash").extractOpt[String].map(java.lang.Long.parseUnsignedLong(_, 16)))
      }
    }

  /** Records the expected results: three passes in different orders; a
    * query whose hash differs between passes is recorded by row count only.
    */
  private def record(w: Workload, out: Path): Unit = {
    val results = (0 until 3).flatMap(i => w.pass(i).map { op =>
      op.before()
      op.name -> op.run().asInstanceOf[(Long, Long)]
    }).groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).distinct }
    val unstableRows = results.collect { case (q, rs) if rs.map(_._1).distinct.size > 1 => q }
    require(unstableRows.isEmpty, s"row counts differ between passes: ${unstableRows.mkString(", ")}")
    val qs = results.toSeq.sortBy(_._1).map { case (q, rs) =>
      q -> Map("rows" -> rs.head._1, "hash" -> (if (rs.size == 1) Some(java.lang.Long.toHexString(rs.head._2)) else None))
    }
    Files.writeString(out, Json.render(Map(
      "rows_only" -> qs.collect { case (q, m) if m("hash") == None => q },
      "queries" -> scala.collection.immutable.ListMap(qs: _*))) + "\n")
  }
}
