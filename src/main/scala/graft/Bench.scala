package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Keeps the calibration loop's result observable so JIT can't elide it.
  @volatile private var calSink = 0L

  /** Fixed-work calibration probe — the sweep's ambient-contention
    * detector (the round-7 lesson: a noisy neighbor during the sweep
    * reported 2–14x phantom regressions on untouched queries, and the
    * artifact had no way to tell). Two constant workloads, one number:
    * a single-threaded 150M-step LCG (pure CPU — slows only if cores
    * are contended) and a tiny fixed 8-partition Spark sum (scheduler +
    * thread-pool — slows if the executor pool is starved). Timed
    * before the sweep, every ~10 queries, and after; the JSON carries
    * the raw series plus max/min drift so a reader (or the driver) can
    * discount or re-run a sweep whose probes aren't flat. ~0.4 s per
    * probe on a quiet machine — ~4 s total on a 90-query sweep. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    calSink ^= x
    spark.range(0, 20000000, 1, 8).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE's coalesce floor measures COMPRESSED bytes, so CPU-dense
      // text stages (regex/extract chains over a few MB of shuffled
      // pages) coalesce to ONE task and serialize at 1/cores capacity
      // (measured: q_extract_clean 2.6 s -> 1.2 s at 64k). At
      // production scale stage bytes dwarf any floor and the setting
      // is inert.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop sink: forces EVERY output column to be computed — count()
    // would let Catalyst prune unreferenced expensive expressions
    // (hashes, scores) and under-measure compute-bound queries.
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // Warm-up pass at the smallest SF: JIT + codegen-cache + parquet
    // footer costs land here, not on whichever query happens to run first.
    // Sweep after each so leftover checkpoint/persist blocks from one
    // query can't pressure the next (the r4 lesson: 7 unchanged queries
    // regressed >2x purely from cross-query block accumulation).
    SparkEntry.queries.foreach { case (_, fn) =>
      try run(fn, "/root/testdata/sf0.001")
      catch { case _: Throwable => () }
      graft.ops.Release.sweep(spark)
    }
    calibrate(spark) // JIT-warm the probe itself; discard
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    calibrations += calibrate(spark)
    // min of two timed passes per query: local container contention adds
    // multi-second noise; the min is the honest steady-state cost.
    // A failing query reports -1.0 (never its time-to-exception) so a
    // breakage can't masquerade as a speedup in the bench JSON.
    def timed(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { run(fn, sfDir); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"bench query failed: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
      }
    }
    // Per-query isolation: both timed passes run back-to-back (so a
    // query's own PlanCache reuse is measured, as a real repeat caller
    // would see), then EVERYTHING it pinned is released before the next
    // query. storage_mb_held records what each query left behind pre-
    // sweep — a leak shows up as a nonzero row, self-diagnosing.
    val held = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // probeOf(name) = index of the latest probe timed BEFORE the query
    // ran; with the probe at index +1 those bracket the query in time —
    // the pair a reader should judge this query's reading by.
    val probeOf = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val results = SparkEntry.queries.toSeq.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 10 == 0) {
        calibrations += calibrate(spark)
        println(f"bench [calibration]             ${calibrations.last}%8.3f s")
      }
      probeOf(name) = calibrations.size - 1
      val (a, b) = (timed(fn), timed(fn))
      val (_, mem, disk) = graft.ops.Release.held(spark)
      held(name) = (mem + disk) / (1024 * 1024)
      graft.ops.Release.sweep(spark)
      val best = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      // Short per-query progress line: survives truncated log captures
      // that would lose the front of one huge final JSON line.
      println(f"bench $name%-28s ${best}%8.3f s")
      name -> best
    }
    calibrations += calibrate(spark)
    val calSorted = calibrations.sorted
    val calMedian = calSorted(calSorted.size / 2)
    // Per-query contention attribution (the round-9 lesson): each query
    // is bracketed by two fixed-work probes; if either ran >1.5x the
    // sweep median, this query's reading is mechanically `suspect`.
    // threshold overridable for testing the retime path on a quiet
    // machine (SPARK_GRAFT_SUSPECT_DRIFT=0 makes every row suspect)
    val suspectDrift =
      sys.env.getOrElse("SPARK_GRAFT_SUSPECT_DRIFT", "1.5").toDouble
    val suspects = probeOf.flatMap { case (name, s) =>
      val near = math.max(calibrations(s),
        calibrations(math.min(s + 1, calibrations.size - 1)))
      val drift = near / calMedian
      if (drift > suspectDrift) Some(name -> drift) else None
    }
    // History-regression tagging (the round-11 lesson): a per-row
    // contention spike under a quiet-ISH sweep sails beneath the
    // calibration gate — round 11's q_correlations read 4.64 s in-sweep
    // (1.46 s isolated min-of-3) with sweep drift 1.421 < 1.5, and the
    // phantom landed unflagged in the round artifact. The probes only
    // measure AMBIENT load; they cannot see a spike narrower than a
    // 10-query stride. So carry a pinned per-query reference table
    // (bench_pins.json at the repo root — the previous round's quiet
    // sweep, committed) and tag any row reading > 1.5x its pin as
    // suspect REGARDLESS of calibration drift; the retime loop below
    // then re-runs it isolated like any other suspect. New rows without
    // a pin are skipped (their first quiet sweep becomes the pin).
    val pinFactor =
      sys.env.getOrElse("SPARK_GRAFT_PIN_FACTOR", "1.5").toDouble
    val pins: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get("bench_pins.json")
        if (!java.nio.file.Files.exists(p)) Map.empty
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          // the file is machine-written by this object (flat string->
          // number map, one level, no escapes), so a pair regex is a
          // faithful parser for it
          """"([^"]+)"\s*:\s*(-?[0-9.eE+]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._2 > 0).toMap
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"bench_pins.json unreadable ($e); history tagging off")
          Map.empty
      }
    val pinRegressed = results.collect {
      case (name, v) if v > 0 && pins.get(name).exists(p => v > pinFactor * p) =>
        name -> v / pins(name)
    }.toMap
    pinRegressed.foreach { case (name, r) =>
      println(f"bench [pin-regressed] $name%-20s ${r}%.2fx its pin -> retiming")
    }
    // PINLESS rows (the round-14 verdict ask): a swept query without a
    // committed pin is invisible to the 1.5x history tagging — exactly
    // the gap q_cell_mix_quality fell through in round 14. Fail loudly:
    // every pinless row is mechanically forced through the isolated
    // retime path (so its published number is never an unvetted
    // in-sweep reading), it lands in the artifact's `pinless` list, and
    // stderr flags it. Expected only on the quiet SPARK_GRAFT_WRITE_PINS
    // sweep that first pins a new row; in a driver sweep it means the
    // builder forgot to re-pin after adding queries.
    val pinless = results.collect {
      case (name, _) if pins.nonEmpty && !pins.contains(name) => name
    }
    if (pinless.nonEmpty && !sys.env.get("SPARK_GRAFT_WRITE_PINS").contains("1"))
      System.err.println(s"bench ERROR: ${pinless.size} swept queries have no " +
        s"pin in bench_pins.json (${pinless.mkString(", ")}) — regression " +
        "tagging is blind there; run a quiet SPARK_GRAFT_WRITE_PINS=1 sweep " +
        "and commit the refreshed pins")
    // Auto-retime (the round-10 verdict ask): tagging alone left three
    // of four driver artifacts without usable numbers for their
    // contended rows. Ambient spikes are usually transient, so every
    // suspect row re-times in ISOLATION after the sweep: probe,
    // min-of-2, sweep, probe. Two attempts; the one with the quieter
    // brackets is recorded in `retimed_s` (the original reading stays
    // in `queries` untouched), and every retime probe lands in
    // `retime_calibration_s` so a reader can judge the retimes the
    // same way the sweep is judged — an all-contended machine still
    // yields a number plus the evidence, never a silent drop.
    val retimeCals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val toRetime =
      (suspects.keys ++ pinRegressed.keys ++ pinless.iterator).toSeq.distinct
    // Every retime ATTEMPT is recorded per query (round-14 advisor
    // finding: keep-the-minimum escalation can mask a genuinely
    // bimodal row whose fast mode still reappears — publishing the
    // spread keeps a persistent slow mode visible in the artifact
    // instead of being discarded as a flake).
    val attemptLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val retimed = toRetime.map { name =>
      val fn = SparkEntry.queries(name)
      def attempt(): (Double, Double) = {
        val c0 = calibrate(spark)
        val (a, b) = (timed(fn), timed(fn))
        graft.ops.Release.sweep(spark)
        val c1 = calibrate(spark)
        retimeCals += c0
        retimeCals += c1
        val best = if (a < 0 || b < 0) -1.0 else math.min(a, b)
        attemptLog(name) = attemptLog.getOrElse(name, Nil) :+ best
        (best, math.max(c0, c1))
      }
      val first = attempt()
      var chosen =
        if (first._1 >= 0 && first._2 / calMedian <= suspectDrift) first
        else {
          val second = attempt()
          // a valid reading always beats the -1.0 failure sentinel;
          // only between two valid (or two failed) attempts do the
          // calibration brackets decide
          if (first._1 < 0 != (second._1 < 0)) {
            if (first._1 >= 0) first else second
          } else if (second._2 < first._2) second
          else first
        }
      // Pinned-row escalation (the round-13 lesson): a retime can land
      // 3x+ the committed pin with QUIET brackets — the slow mode is
      // narrower than the bracket window (q_triangles' cold-cache/GC
      // first pass: 24.4 s then 6.6 s in the same JVM, measured) or
      // load inflates every short job uniformly (q_ann_opq's
      // opqRounds x m fit jobs). Tagging can't tell that phantom from
      // a real regression, but SAMPLING can: a real regression reads
      // high on every attempt, a flake's fast mode reappears within a
      // few. So while a PINNED row still reads past pinFactor x pin,
      // keep re-attempting (min-of-2 each, up to 2 extra) and keep the
      // MINIMUM — the reported number can only approach the truth, and
      // a row that survives all attempts high is a finding, not noise.
      pins.get(name).foreach { pin =>
        var extra = 0
        while (chosen._1 > pinFactor * pin && extra < 2) {
          val next = attempt()
          extra += 1
          if (next._1 >= 0 && (chosen._1 < 0 || next._1 < chosen._1))
            chosen = next
          println(f"bench [retime+$extra] $name%-18s ${next._1}%8.3f s (pin $pin%.3f s)")
        }
      }
      println(f"bench [retime] $name%-20s ${chosen._1}%8.3f s (bracket ${chosen._2}%.3f s)")
      name -> chosen._1
    }.toSeq
    // A query that broke only DURING retiming must still land in
    // `failed`: a -1.0 in retimed_s alone is invisible to a reader
    // filtering on the failed list (round-11 advisor finding). The
    // sentinel itself is omitted from retimed_s — the failure is the
    // record, not a timing.
    val failed = (results.collect { case (k, v) if v < 0 => k } ++
      retimed.collect { case (k, v) if v < 0 => k }).distinct
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val heldJson = held.collect { case (k, v) if v > 0 => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Drift = slowest probe / MEDIAN probe across the sweep. ~1.0 on a
    // quiet machine; >1.5 means ambient load spiked DURING the sweep and
    // per-query numbers near slow probes are suspect — re-run before
    // reading any regression off this artifact (round-7 lesson).
    // Median, not min, as the baseline: one idle-fast probe (e.g. the
    // first, on a cold empty block cache) would otherwise flag a
    // perfectly quiet sweep as contended. (calMedian computed above,
    // before the retime loop, from the SWEEP's probes only.)
    val calDrift = calibrations.max / calMedian
    if (calDrift > 1.5)
      System.err.println(f"bench WARNING: calibration drift ${calDrift}%.2fx -- " +
        "ambient contention during the sweep; timings unreliable, re-run")
    // Absolute elevation check, the relative drift's blind spot: the
    // probes are FIXED work, so their absolute time is comparable
    // across runs. Contention covering half or more of the sweep
    // raises the median along with the max and reads as drift ~1.0 —
    // exactly the round-7 across-the-board-slowdown shape. 0.42 s is
    // the quiet-machine probe median pinned from the clean r8 artifact
    // (series 0.36–0.55 s, median 0.410); a sweep whose median exceeds
    // 1.5x that floor is elevated END-TO-END even if internally flat.
    val CalQuietMedianS = 0.42
    val calAbs = calMedian / CalQuietMedianS
    if (calAbs > 1.5)
      System.err.println(f"bench WARNING: calibration median ${calMedian}%.3f s is " +
        f"${calAbs}%.2fx the quiet-machine floor ($CalQuietMedianS%.2f s) -- " +
        "the WHOLE sweep ran under ambient load; timings unreliable, re-run")
    val calJson = calibrations.map(c => f"$c%.3f").mkString("[", ",", "]")
    val suspectJson = suspects
      .map { case (name, drift) => s"\"" + name + "\":" + f"$drift%.2f" }
      .mkString("{", ",", "}")
    val retimedJson = retimed
      .collect { case (name, v) if v >= 0 => s"\"" + name + "\":" + v }
      .mkString("{", ",", "}")
    val pinRegressedJson = pinRegressed
      .map { case (name, r) => s"\"" + name + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val retimeCalJson = retimeCals.map(c => f"$c%.3f").mkString("[", ",", "]")
    val attemptsJson = attemptLog
      .map { case (name, vs) =>
        s"\"" + name + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val pinlessJson = pinless.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Pin context travels IN the artifact (round-12 verdict ask #6):
    // round-over-round comparison previously required opening
    // bench_pins.json by hand. pin_s carries each swept row's committed
    // quiet pin; pin_rows/pinned_total_s summarize the pin table so a
    // reader compares "this sweep vs the committed quiet baseline" from
    // one file.
    val sweptNames = results.map(_._1).toSet
    val pinJson = pins.collect { case (k, v) if sweptNames(k) =>
      s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val pinnedTotal = pins.collect { case (k, v) if sweptNames(k) => v }.sum
    // `queries` LAST in the big line: a tail-truncated capture of this
    // line then at least shows per-query numbers, not the pin echo.
    val json = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedJson,"storage_mb_held":$heldJson,"calibration_s":$calJson,"calibration_drift":${f"$calDrift%.3f"},"calibration_median_s":${f"$calMedian%.3f"},"calibration_abs":${f"$calAbs%.3f"},"suspect":$suspectJson,"pin_regressed":$pinRegressedJson,"retimed_s":$retimedJson,"retime_calibration_s":$retimeCalJson,"retime_attempts_s":$attemptsJson,"pinless":$pinlessJson,"pin_s":$pinJson,"pin_rows":${pins.count(p => sweptNames(p._1))},"pinned_total_s":${f"$pinnedTotal%.3f"},"sf":"$sfDir","queries":$qs}"""
    // The file is the durable artifact: stdout captures have twice lost
    // timings to tail-truncation of the single long JSON line.
    try {
      // cwd-relative: lands at the repo root under sbt, and works from
      // any checkout (a hardcoded absolute path silently wrote the
      // durable artifact elsewhere on other clones)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"bench_out.json write failed: $e") }
    // SPARK_GRAFT_WRITE_PINS=1: refresh bench_pins.json from THIS
    // sweep — run on a quiet machine at round end and commit the file.
    // Retimed values win over in-sweep readings (they are the isolated
    // numbers); failed rows are never pinned. Refusing on a contended
    // sweep keeps a noisy run from quietly RAISING every pin (which
    // would blind the next round's regression tagging).
    if (sys.env.get("SPARK_GRAFT_WRITE_PINS").contains("1")) {
      if (calDrift > 1.5 || calAbs > 1.5)
        System.err.println(f"bench: NOT writing pins — sweep contended " +
          f"(drift $calDrift%.2f, abs $calAbs%.2f); re-run quiet")
      else {
        val retimedMap = retimed.toMap
        // pin the retimed (isolated) value when one exists; NEVER pin a
        // row whose retime FAILED — falling back to its in-sweep
        // reading would pin the very contended number that triggered
        // the retime, inflating the pin and blinding the next round's
        // tagging for exactly the row that needed it (round-12 advisor
        // finding); failed sweep rows are likewise never pinned
        val pinPairs = results.flatMap { case (k, v) =>
          retimedMap.get(k) match {
            case Some(r) if r >= 0 => Some(s"\"" + k + "\":" + f"$r%.3f")
            case Some(_) => None
            case None if v >= 0 => Some(s"\"" + k + "\":" + f"$v%.3f")
            case None => None
          }
        }
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get("bench_pins.json"),
            pinPairs.mkString("{", ",", "}")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"bench: wrote ${pinPairs.size} pins to bench_pins.json")
        } catch {
          case e: Throwable => System.err.println(s"bench_pins.json write failed: $e")
        }
      }
    }
    println(json)
    // Compact summary as the LAST stdout line (r15 verdict item 1): a
    // harness that keeps only the final ~2 KB of output — the shape
    // that left BENCH_r12..r15 with parsed:null, because the full
    // per-query line for 171 queries is ~8 KB — still captures one
    // complete, parseable JSON object. Headline numbers + health
    // counters only; the full per-query map lives in the big line
    // above and, durably, in bench_out.json (`queries_file`).
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"failed":$failedJson,"calibration_drift":${f"$calDrift%.3f"},"calibration_abs":${f"$calAbs%.3f"},"n_suspect":${suspects.size},"n_pin_regressed":${pinRegressed.size},"n_retimed":${retimed.size},"n_pinless":${pinless.size},"queries_file":"bench_out.json"}"""
    println(summary)
    spark.stop()
  }
}
