package graft

import org.apache.spark.sql.SparkSession

/** Bench main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Protocol (round 11): the suite runs as TWO FULL PASSES — pass 1 times
  * every query once in name order, then pass 2 times every query once
  * again — and each query's two samples are paired ACROSS passes. The
  * round-10 back-to-back pairing could not self-identify host noise: a
  * multi-minute load window inflated both adjacent runs and the pair
  * agreed on garbage (driver r10 recorded etl02 [25.1, 21.8] s where fresh
  * JVMs measure 1.0 s). With pass-separated samples the same window lands
  * on at most one of them, so noise shows as a disagreeing pair. Each
  * sample also records /proc/loadavg (1-min) and its start offset from
  * bench start, so a load burst is visible in the record itself.
  *
  * Round 13 adds the CONTENTION GATE: a fixed single-thread spin timed
  * immediately before each sample (1-min loadavg proved useless here —
  * it is backward-looking and mid-suite SELF-load alone reads ~7, so an
  * absolute threshold either fires on half the suite or misses real
  * bursts; the spin measures the instant the sample starts, after the
  * previous query finished, so only external contention inflates it).
  * Any query whose best sample's spin exceeds `SpinRatio` (1.6) ×
  * suite-min re-runs in a bounded third phase — wait (≤45 s per
  * attempt, ≤300 s total) for the spin to return to base, sample
  * again, up to twice. Queries whose final best sample is
  * still contended land in `noisy:[...]`, so the record adjudicates
  * itself without a judge re-run.
  *
  * `value` is the sum of per-query best times (warm timings — pass 1
  * pays JIT/codegen warm-up that a long-lived cluster never sees).
  */
object Bench {
  /** a sample whose pre-query spin exceeds this × the suite minimum is contended */
  private val SpinRatio = 1.6

  private def loadAvg(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      s.split("\\s+")(0).toDouble
    } catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    // headline set only: queries flagged bench=false are layout BUILDS
    // (partitioned/bucketed table writes) — verified for correctness by the
    // driver gate, excluded from the steady-state query benchmark.
    // dev-only iteration filter (comma-separated name prefixes); the
    // driver sets no filter, so the recorded bench is always the full set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val queries = graft.queries.Registry.all.filter(_.bench)
      .filter(q => only.forall(_.exists(q.name.startsWith)))
      .map(q => q.name -> q.run).sortBy(_._1)

    val t0 = System.nanoTime()

    // Contention sentinel (round 13, VERDICT r12 item 3): a fixed
    // single-threaded spin timed immediately before each sample. Unlike
    // 1-min loadavg — which is BACKWARD-looking and saturates on our own
    // 32-thread suite (pass-2 median ~7 from pure self-load, drowning the
    // signal) — the spin measures the instant the sample starts, when the
    // previous query has already finished: only EXTERNAL contention (or a
    // GC pause) inflates it. The gate compares each spin to the suite
    // minimum; loadavg is still recorded for context.
    val spinIters = 6000000
    def spinMs(): Double = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      val s0 = System.nanoTime()
      while (i < spinIters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("") // keep the loop alive
      (System.nanoTime() - s0) / 1e6
    }
    spinMs() // JIT warm-up: the first run pays compilation

    final case class Sample(sec: Double, load: Double, startOff: Double, spin: Double)
    def oneSample(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Sample = {
      val spin = math.min(spinMs(), spinMs()) // min-of-2 rides out a GC blip
      val load = loadAvg()
      val off = (System.nanoTime() - t0) / 1e9
      val s0 = System.nanoTime()
      val sec =
        try { fn(spark, sfDir).count(); (System.nanoTime() - s0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      // builders register persisted intermediates in Caches; release them
      // after each query so cached blocks don't accumulate across the suite
      // and GC-degrade later queries (round-2 text08: 9.4 s polluted vs 1.05 s)
      graft.core.Caches.release()
      Sample(sec, load, off, spin)
    }
    def onePass(): Seq[Sample] = queries.map { case (_, fn) => oneSample(fn) }
    val pass1 = onePass()
    val pass2 = onePass()

    // Gate: a pair where even the BEST sample started contended (spin >
    // SpinRatio × suite-min) is an inflated record, not a measurement — re-run
    // in a bounded third phase, waiting for the spin to come back to base
    // first. Queries whose final best sample is STILL contended land in
    // `noisy:[...]` so the record adjudicates itself without a judge re-run.
    val spinBase = (pass1 ++ pass2).map(_.spin).min
    def contended(s: Sample): Boolean = s.spin > spinBase * SpinRatio
    def bestOf(ss: Seq[Sample]): Sample = {
      val ok = ss.filter(_.sec >= 0)
      if (ok.isEmpty) ss.head else ok.minBy(_.sec)
    }
    val retryDeadline = System.nanoTime() + 300L * 1000 * 1000 * 1000 // 300 s budget
    def retryOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Seq[Sample] = {
      val out = Vector.newBuilder[Sample]
      var attempts = 0
      var clean = false
      while (!clean && attempts < 2 && System.nanoTime() < retryDeadline) {
        // bounded decay wait for the external burst to pass
        var waited = 0
        while (spinMs() > spinBase * SpinRatio && waited < 45 &&
          System.nanoTime() < retryDeadline) {
          Thread.sleep(5000); waited += 5
        }
        val s = oneSample(fn)
        out += s
        attempts += 1
        clean = !contended(s) && s.sec >= 0
      }
      out.result()
    }
    val results = queries.zip(pass1.zip(pass2)).map { case ((name, fn), (a, b)) =>
      val base = Seq(a, b)
      val all =
        if (!contended(bestOf(base)) && base.exists(_.sec >= 0)) base
        else base ++ retryOne(fn)
      val ok = all.filter(_.sec >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.map(_.sec).min
      (name, best, all)
    }
    val noisy = results.collect {
      case (name, best, ss) if best >= 0 && contended(bestOf(ss)) => name
    }
    // 3-decimal per-query values keep the line short, and the headline keys
    // (metric/value/failed/sf) go LAST: harnesses that keep only the tail of
    // the process output still see the totals even if the head of this line
    // is cut off. JSON object key order is insignificant, so parsers are
    // unaffected.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def r2d(v: Double): Double = math.rint(v * 100) / 100
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // per-sample arrays of the durable record, one key per query
    def perSample(f: Sample => Double): String = results.map { case (k, _, ss) =>
      "\"" + k + "\":[" + ss.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // both raw runs per query — PAIRED ACROSS FULL PASSES, so a bursty
    // noise window cannot inflate both samples of the same query: a genuine
    // regression is slow in BOTH passes, noise shows a disagreeing pair
    val runsJson = perSample(s => r3(s.sec))
    // per-sample 1-min loadavg at query start: a sample taken under load
    // is adjudicable from the record alone (VERDICT r10 item 2)
    val loadJson = perSample(s => r2d(s.load))
    // per-sample start offset (sec since bench start) — locates each sample
    // on the wall clock so an external noise window can be lined up
    val tJson = perSample(s => r2d(s.startOff))
    // per-sample pre-query spin (ms): the contention sentinel behind the
    // retry gate; compare to spin_base to adjudicate any sample
    val spinJson = perSample(s => r2d(s.spin))
    val failed = results.count(_._2 < 0)
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // "failed" makes crashes explicit: a query that starts erroring must not
    // read as a faster run (its -1 is excluded from the total).
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Round 18 (VERDICT r17 item 2): stdout gets a LEAN line — per-query
    // best seconds + the headline totals only. The full per-sample record
    // (runs/load/t/spin pairs, the self-adjudication evidence) goes to the
    // durable file below. Rationale: the driver's stdout capture keeps only
    // the TAIL of the line, and with 300+ queries the full record overflowed
    // it twice (BENCH_r08, BENCH_r16 → `parsed: null`, no round-over-round
    // table). The lean line is ~10 KB and parses whole. Timing path,
    // protocol, and query set are UNCHANGED.
    val line = s"""{"unit":"sec","queries":$qs,"spin_base":${r2d(spinBase)},"spin_ratio":$SpinRatio,"protocol":"two-pass+retry","noisy":$noisyJson,"sf":"$sfDir","metric":"total","failed":$failed,"value":$total}"""
    val fullLine = s"""{"unit":"sec","queries":$qs,"runs":$runsJson,"load":$loadJson,"t":$tJson,"spin":$spinJson,"spin_base":${r2d(spinBase)},"spin_ratio":$SpinRatio,"protocol":"two-pass+retry","noisy":$noisyJson,"sf":"$sfDir","metric":"total","failed":$failed,"value":$total}"""
    println(line)
    // durable copy: the stdout capture truncated BENCH_r08.json's single
    // line to an unparseable tail, so the FULL JSON also lands in a file
    // (argv override, else target/bench.json) — BASELINE.md protocol
    val outPath = args.headOption.getOrElse("target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
