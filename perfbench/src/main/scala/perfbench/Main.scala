package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cpus: Int, out: Path)

/** What a workload hands back to [[Main]] besides its client's ops. */
final case class Outcome(
    /** Seconds of each repeated set-up (data generation, table and index
      * builds); the reported set-up uses their median. */
    setupRuns: Seq[Double],
    /** The successful ops the latency and throughput metrics describe, by
      * phase. Each phase weighs the same in those metrics. */
    phases: Seq[(String, Seq[Op])],
    /** Per-layer metrics this workload measures itself (spatial.*,
      * operators.*); the rest come from [[Tracer.commonLayerMetrics]]. */
    layer: Map[String, Double],
    /** Workload-specific end-to-end figures, printed by name and unit with
      * their sample count: (name, value, unit, samples). */
    extra: Seq[(String, Double, String, Int)],
    details: Map[String, Any])

/** Shared run context handed to each workload. */
final case class Ctx(spark: SparkSession, args: Args, client: Client, tracer: Tracer) {
  def work: Path = args.work

  /** Run `op` in a closed loop for at least `minOps` ops and until the ops
    * of this phase have taken `budgetS` seconds, or the phase hits its
    * wall-clock cap.
    */
  def phase(budgetS: Double, minOps: Int)(op: => Unit): Unit = {
    val ns0 = client.timedNs
    val n0 = client.ops.size
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < Ctx.PhaseCapS &&
        ((client.timedNs - ns0) / 1e9 < budgetS || client.ops.size - n0 < minOps)) op
  }
}

object Ctx {
  /** Wall-clock cap of one phase, which keeps a run inside its time limit. */
  val PhaseCapS = 60.0
}

/** Entry point of one run:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --cpus <n> --out <file>`. Writes one JSON result file that
  * `run.py` turns into the printed result.
  */
object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cpus").toInt, Paths.get(need("out")).toAbsolutePath)
  }

  /** Every session conf the benchmark sets, with its reason. Anything not
    * listed is a Spark default. */
  def sessionConfs(args: Args): Seq[(String, String, String)] = Seq(
    ("spark.master", s"local[${args.cpus}]",
      "one process; N worker threads, never more than the host's CPUs"),
    ("spark.ui.enabled", "false", "no web UI or port; the repo's own harnesses run without it"),
    ("spark.sql.shuffle.partitions", args.cpus.toString,
      "one shuffle partition per worker thread, as the repo's own harness and tests run; " +
        "the default 200 is sized for a cluster"),
    ("spark.sql.session.timeZone", "UTC", "the program's queries and their oracles assume UTC"),
    ("spark.local.dir", args.work.resolve("spark-local").toString,
      "shuffle and block files stay inside the run's work directory"),
    ("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString,
      "the session warehouse stays inside the run's work directory"),
    ("spark.driver.host", "localhost", "local mode; no host-name lookup"),
    ("spark.driver.bindAddress", "127.0.0.1", "local mode; bind to loopback only"),
    ("spark.sql.catalog.bench", "graft.sources.GraftCatalog",
      "a graft catalog, so catalog SQL is one of the read faces"),
    ("spark.sql.catalog.bench.warehouse", args.work.resolve("catalog").toString,
      "the catalog's warehouse lives in the run's work directory"))

  def main(a: Array[String]): Unit = {
    val args = parse(a)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    require(args.cpus >= 1 && args.cpus <= nproc,
      s"--cpus ${args.cpus} exceeds the ${nproc} CPUs of this host")
    Files.createDirectories(args.work)
    val spark = sessionConfs(args)
      .foldLeft(SparkSession.builder()) { case (b, (k, v, _)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, args.trace)
    val client = new Client(tracer)
    val ctx = Ctx(spark, args, client, tracer)
    System.err.println(f"[perfbench] session ready after $sessionS%.2f s")
    val outcome = args.workload match {
      case "geo" => Geo.run(ctx)
      case "operator_batch" => OperatorBatch.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    // retained heap: what survives forced full GCs once the ops are done;
    // the pauses let Spark's context cleaner drop blocks of unreachable RDDs
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    val cold = client.okOps.filter(_.cold)
    // the latency and throughput figures of each phase; a workload's figure
    // is their geometric mean, so that no phase's ops crowd out another's
    val perPhase = outcome.phases.map { case (name, ops) =>
      val ms = ops.map(_.ms)
      name -> Seq("op_p50_ms" -> Stats.quantile(ms, 0.5), "op_p90_ms" -> Stats.quantile(ms, 0.9),
        "ops_per_s" -> (if (ms.sum > 0) ops.size / (ms.sum / 1000.0) else Double.NaN))
    }
    def geoMean(k: String): Double =
      math.exp(perPhase.map(_._2.toMap.apply(k)).map(math.log).sum / perPhase.size)
    val timed = outcome.phases.map(_._2.size).sum
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (sessionS + Stats.median(outcome.setupRuns)),
      "op_p50_ms" -> geoMean("op_p50_ms"),
      "op_p90_ms" -> geoMean("op_p90_ms"),
      "ops_per_s" -> geoMean("ops_per_s"),
      "first_pass_s" -> cold.map(_.ms).sum / 1000.0,
      "retained_heap_mb" -> heapMb)
    val samples = Map("setup_s" -> outcome.setupRuns.size, "op_p50_ms" -> timed,
      "op_p90_ms" -> timed, "ops_per_s" -> timed, "first_pass_s" -> cold.size,
      "retained_heap_mb" -> 1)
    val phaseExtra = if (perPhase.size < 2) Nil else perPhase.flatMap { case (name, figs) =>
      val n = outcome.phases.toMap.apply(name).size
      figs.map { case (k, v) => (s"$name.$k", v, if (k == "ops_per_s") "1/s" else "ms", n) }
    }
    val layer: Map[String, Double] =
      if (!args.trace) Map.empty else tracer.commonLayerMetrics ++ outcome.layer
    if (args.trace) writeSpans(args.work.resolve("spans.jsonl"), tracer)

    val attempted = client.ops.size
    val failedOps = client.ops.count(!_.ok)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cpus" -> args.cpus, "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "session_confs" -> sessionConfs(args).map { case (k, v, why) => Map("key" -> k, "value" -> v, "why" -> why) },
      "attempted" -> attempted, "failed" -> failedOps,
      "failures" -> client.failures,
      "jvm_to_session_s" -> sessionS, "setup_runs_s" -> outcome.setupRuns,
      "metrics" -> e2e, "samples" -> samples,
      "extra" -> (phaseExtra ++ outcome.extra).map { case (n, v, u, s) => Map("name" -> n, "value" -> v, "unit" -> u, "samples" -> s) },
      "layer" -> layer,
      "layer_self_ms" -> (if (args.trace) tracer.selfTimeByLayer else Map.empty),
      "op_kinds" -> client.ops.groupBy(o => if (o.face.isEmpty) o.kind else s"${o.kind}/${o.face}")
        .map { case (k, os) => k -> Map("n" -> os.size, "failed" -> os.count(!_.ok),
          "p50_ms" -> Stats.median(os.filter(_.ok).map(_.ms))) },
      "details" -> outcome.details)
    Json.write(args.out, result)
    spark.stop()
  }

  private def writeSpans(p: Path, t: Tracer): Unit = {
    val lines = t.spans.sortBy(_.id).map { s =>
      Json.mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** JSON files through the Jackson that Spark ships (with its Scala module). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
  def read(p: Path): Map[String, Any] = mapper.readValue(p.toFile, classOf[Map[String, Any]])
}
