package perfbench

/** geo: the spatial and sources layers from both sides, in two phases of
  * one run. The scan phase reads one table version again and again (every
  * cache warm); the ingest phase then turns over a second, merge-on-read
  * table (every op a new version, so version-keyed caches miss). Each phase
  * runs whole decks of its op mix, and at least half of the run's op time;
  * the two phases weigh the same in the latency and throughput figures.
  */
object Geo {
  val SetupRepeats = 3
  /** Ops of each phase: whole decks of its op mix (3 × 10 scan ops,
    * 2 × 20 ingest ops). */
  val ScanOps = 3 * ScanPhase.Mix.size
  val IngestOps = 2 * IngestPhase.Mix.size

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val scan = new ScanPhase(ctx)
    val ingest = new IngestPhase(ctx)
    val setupRuns = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      scan.setup(i)
      ingest.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    val once = scan.prepare() + ingest.prepare()
    System.err.println(s"[perfbench] set-up runs ${setupRuns.mkString(", ")} s, once $once s")

    val half = ctx.args.seconds / 2.0
    val n0 = ctx.client.ops.size
    ctx.phase(half, ScanOps)(scan.op())
    val n1 = ctx.client.ops.size
    ctx.phase(half, IngestOps)(ingest.op())
    // the end-of-run audits (read faces; durability, in run.py) belong to
    // the traced run, where no end-to-end figure is timed
    ingest.finish(audit = t.enabled)

    val c = ctx.client
    // warm ops only: the first op of each kind pays first-use costs
    def warm(ops: Iterable[Op]) = ops.filter(o => o.ok && !o.cold).toSeq
    val (scanOps, ingestOps) = (c.ops.slice(n0, n1), c.ops.drop(n1))
    Outcome(
      setupRuns = setupRuns.map(_ + once),
      phases = Seq("scan" -> warm(scanOps), "ingest" -> warm(ingestOps)),
      layer = if (t.enabled) scan.layer ++ ingest.layer else Map.empty,
      extra = ("scan_space_amp", scan.spaceAmp, "B/B", 1) +: ingest.extra,
      details = Map(
        "scan_table" -> scan.details,
        "ingest_table" -> ingest.details,
        "phase_ops" -> Map("scan" -> scanOps.size, "ingest" -> ingestOps.size)))
  }
}
