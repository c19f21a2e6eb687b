package graft

import java.nio.file.{Files, Path}

import graft.operators.Convert.deleteRecursively

/** Per-round benchmark: one JSON line with per-query wall-clock seconds.
  *
  * Mirrors the reference's harness shape (timed operations in a shared
  * session — `main.py:31-35`): a warm-up action first so the first timed
  * query doesn't absorb JVM/codegen startup, then every registered query
  * — each reported as the MIN OF TWO warm runs (one run records ambient
  * disk-flush/GC noise; two runs' min is the engine's cost, matching the
  * baseline's warm-timing methodology) — plus the reference's actual
  * headline workload (parquet→CSV conversion, `BASELINE.md`) at two
  * scales:
  *  - `k1_convert_csv`: the sf fixture's lineitem as-is;
  *  - `k2_convert_csv_10m`: lineitem replicated to the reference's
  *    published 10M-row class (`README.md:334-340`), so the 2×-of-baseline
  *    bar is measured at matched scale, not extrapolated. The replica
  *    build is NOT part of the timed region; k2 is the min of two warm
  *    runs (the baseline's published numbers are warm timings too), with
  *    each run's 1.4 GB CSV output deleted before the next starts — on a
  *    disk-backed temp dir, a prior run's dirty pages otherwise flush
  *    during the timed region and inflate it by seconds.
  *
  * Output discipline: the harness that collects this output keeps only a
  * bounded tail of stdout, so the stdout JSON line reports a FIXED
  * headline subset of queries (the scale-shape-interesting ones — joins,
  * conversions, the dedup/ANN family) and stays parseable no matter how
  * many queries register. The complete per-query map is written to
  * `bench_full.json` in the working directory.
  *
  * A query that throws is reported as -1 in `queries` and listed under
  * `failed` — never as a (fast) success time.
  */
object Bench {

  /** Rows the reference's headline conversion measures (BASELINE.md). */
  val MatchedScaleRows = 10000000L

  /** Queries always present in the stdout JSON line (plus any failures).
    * Everything else is timed too, but reported only in bench_full.json —
    * the stdout line must fit a bounded log tail. */
  val Headline: Seq[String] = Seq(
    "q01_scan_sort", "q08_convert_roundtrip", "q09_merge_schema",
    "q10_join_revenue_by_nation", "q11_window_topk", "q12_agg_pricing_summary",
    "q13_events_hourly", "q14_sessionize", "q15_asof_join", "q18_json_extract",
    "q27_tfidf_topterms", "q30_dedup_exact", "q31_minhash_sig",
    "q32_minhash_lsh_pairs", "q33_simhash", "q34_ngram_jaccard",
    "q35_embedding_neardup", "q36_simhash_pairs", "q37_dup_clusters",
    "q40_cosine_topk", "q41_ann_lsh", "q42_ivf_assign", "q55_ivf_search",
    "q65_dedup_apply", "q66_dedup_normalized", "q68_gopher_quality",
    "q75_topk_native", "q79_decontaminate", "q80_upsert", "q84_gapfill",
    "q86_dedup_incremental", "q92_bloom_decontam", "q93_sorted_neighborhood",
    "q94_kmeans_step", "q96_corpus_clean", "q100_range_join_binned",
    "q104_training_shuffle", "q137_pagerank", "q138_bm25",
    "k1_convert_csv", "k2_convert_csv_10m")

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contract: local[32] on the round runner. Honor SPARK_GRAFT_CPUS when
    // the driver pins it; otherwise size to the machine (capped at 32) —
    // a hardcoded small default silently benches a fraction of the box.
    val spark = GraftSession.harness("graft-bench", GraftSession.envCores(
      math.min(32, Runtime.getRuntime.availableProcessors())))

    // Storage-health probe (round 5: a 50-70× disk slowdown took the
    // recorded bench from ~60 s to a 42-minute death). 128 MB fsync'd
    // sequential write to the same filesystem the bench writes to; below
    // `DegradedMbps` the run switches to a reduced-I/O mode — smaller k2
    // replica, single timed runs — and says so in the output JSON, so a
    // bad environment degrades the NUMBERS (flagged), never the run.
    val DegradedMbps = 60.0
    /** Flush pending writeback so an UNTIMED stage's dirty pages (the k2
      * replica, warm-up outputs) don't leak into the next timed run as
      * background-writeback contention. Measured on this box: bench-style
      * k2 4.3–6.6 s with the replica's ~700 MB writeback in flight vs
      * 2.1–2.6 s settled — same code, same data. Cost lands in the
      * untimed stage, which is exactly where the replica write belongs. */
    def settleStorage(): Unit =
      try {
        // bounded wait: on badly degraded storage a full sync can block
        // for minutes (it waits for ALL dirty pages system-wide) — after
        // 120 s the run proceeds; the degraded flag tells the story
        val p = new ProcessBuilder("sync").start()
        if (!p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) p.destroy()
        ()
      } catch { case _: Throwable => () }
    def probeWriteMbps(dir: Path): Double = {
      val f = dir.resolve("io_probe.bin")
      val buf = java.nio.ByteBuffer.allocate(8 << 20)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        (1 to 16).foreach { _ => buf.rewind(); ch.write(buf) }
        ch.force(false)
      } finally ch.close()
      val sec = (System.nanoTime() - t0) / 1e9
      Files.deleteIfExists(f)
      128.0 / sec
    }

    /** (seconds, succeeded) — failures are never reported as timings. */
    def timed(f: => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { f; true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // Warm-up: JIT + codegen + FS committer init outside any timed cell —
    // the read path via entry, the CSV write path via a small conversion,
    // and the PARQUET write path (q09 stages parquet sides on first call;
    // without this it absorbs the cold ParquetOutputFormat init).
    val convertOutDir = Files.createTempDirectory("graft_bench_csv")
    val convertOut = convertOutDir.toString
    settleStorage() // pending writeback would depress the probe itself
    def probe(): Double =
      try probeWriteMbps(convertOutDir) catch { case _: Throwable => -1.0 }
    val ioMbps = probe()
    // A probe that itself fails is the strongest possible degradation signal
    // — run reduced-I/O, never full mode, on storage the probe couldn't
    // even write 128 MB to.
    val degraded = ioMbps < DegradedMbps
    // Wall-clock deadline for the query loop: past it, remaining queries
    // run ONCE instead of min-of-two (still all timed, never skipped) —
    // a pathological environment lengthens the tail, not the artifact list.
    val benchStart = System.nanoTime()
    val deadlineSec = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(900.0)
    def pastDeadline: Boolean = (System.nanoTime() - benchStart) / 1e9 > deadlineSec
    if (degraded)
      System.err.println(f"graft.Bench: storage writes at $ioMbps%.1f MB/s (< $DegradedMbps MB/s) — reduced-I/O mode")
    try {
      SparkEntry.entry(spark).count()
      graft.operators.Convert.parquetToCsv(
        spark, "/root/testdata/sf0.001/lineitem.parquet", s"$convertOut/warmup")
      spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        .write.mode("overwrite").parquet(s"$convertOut/warmup_pq")
    } catch { case _: Throwable => () }
    settleStorage() // warm-up writes flushed before anything is timed
    // k1, like k2 and the query loop below: min of two warm runs, output
    // deleted between them so a run never pays the previous run's flush.
    val convert = "k1_convert_csv" -> {
      def once(): (Double, Boolean) = {
        val out = java.nio.file.Paths.get(s"$convertOut/lineitem")
        deleteRecursively(out)
        timed {
          graft.operators.Convert.parquetToCsv(
            spark, s"$sfDir/lineitem.parquet", out.toString)
        }
      }
      val (a, okA) = once()
      if (degraded) (a, okA)
      else { val (b, okB) = once(); (math.min(a, b), okA && okB) }
    }

    // Matched-scale conversion: replicate lineitem up to ~10M rows
    // (untimed union+write), one untimed conversion to absorb JIT at this
    // scale, then two timed warm conversions — reported as their min. The
    // replica's ACTUAL row count is reported as k2_rows — replication is
    // capped at 64×, so a tiny fixture dir yields a sub-10M replica and
    // the output must say so rather than implying matched scale. Every
    // conversion's output is deleted before the next run so its dirty
    // pages can be dropped instead of flushed mid-measurement.
    //
    // Window defense (round-8 verdict, retry design revised round 10):
    // the run-start probe reads the storage window MINUTES before k2
    // runs, and the sandbox's window oscillates 70-160 MB/s on same-code
    // runs — five same-HEAD closing runs measured k2 = 1.58-4.32 s purely
    // by window. So the measurement defends itself: (1) re-probe write
    // bandwidth IMMEDIATELY before the timed k2 runs and wait out a bad
    // window (bounded — settle + sleep + re-probe, up to 3 rounds; the
    // wait is keyed to PROBE HEALTH only, never to the acceptance bar —
    // an earlier form retried until the number passed the 2× bar, which
    // biases the headline toward best-case windows); (2) a FIXED number
    // of timed runs (3), each with its own immediately-adjacent probe;
    // (3) the report is the min run, `k2_io_mbps` is the probe adjacent
    // to THAT run, and `k2_runs` carries every (probe, time) pair so an
    // adjudicator sees the full distribution, not a gated min.
    val K2HealthyMbps = 90.0 // memory: k2 ~1.6 s at ~150 MB/s, ~2.6 s at ~70
    val K2TimedRuns = 3
    var k2Rows = 0L
    var k2IoMbps = -1.0
    // (probeBefore, sec, ok, bytesWritten, probeAfter) per timed run —
    // bytes + BRACKETING probes (r16 verdict item 5) let an adjudicator
    // compute each run's achieved write MB/s and see the window it ran
    // in from the artifact alone, no same-HEAD re-run needed.
    var k2Runs = Seq.empty[(Double, Double, Boolean, Option[Long], Double)]
    val matched = "k2_convert_csv_10m" -> (try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val n = math.max(1L, li.count())
      // Reduced-I/O mode caps the replica at 4× (~6 GB of CSV writes at
      // 10 MB/s is a 10-minute k2 alone): k2_rows reports the true scale,
      // so a degraded-window artifact can't masquerade as matched-scale.
      val repCap = if (degraded) 4L else 64L
      val rep = math.max(1L, math.min(repCap, (MatchedScaleRows + n - 1) / n))
      k2Rows = n * rep
      val bigPath = s"$convertOut/lineitem_big"
      (1L to rep).map(_ => li).reduce(_ union _)
        .write.mode("overwrite").parquet(bigPath)
      val outPath = java.nio.file.Paths.get(s"$convertOut/big_csv")
      deleteRecursively(java.nio.file.Paths.get(s"$convertOut/lineitem"))
      settleStorage() // replica writeback belongs to the untimed stage
      // None when the output cannot be measured (the run record then
      // carries "bytes": null, never a sentinel)
      def dirBytes(p: Path): Option[Long] =
        try {
          val s = java.nio.file.Files.walk(p)
          try Some(s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())
          finally s.close()
        } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
      def once(): (Double, Boolean, Option[Long]) = {
        val (sec, ok) = timed {
          graft.operators.Convert.parquetToCsv(spark, bigPath, outPath.toString)
        }
        val bytes = dirBytes(outPath)
        deleteRecursively(outPath)
        (sec, ok, bytes)
      }
      // warm untimed even when degraded — a cold single run measures
      // JIT + committer init, not the engine
      if (degraded) {
        once() // warm
        val p = probe()
        val (a, okA, bytes) = once()
        val pa = probe()
        k2Runs = Seq((p, a, okA, bytes, pa))
        k2IoMbps = p
        (a, okA)
      } else {
        once() // warm at this scale, untimed
        // (1) wait out a bad window before the timed runs (bounded; keyed
        // to probe health ONLY — see the design note above)
        settleStorage() // the warm run's writeback must not depress the probe
        var w = probe()
        var waits = 0
        while (w < K2HealthyMbps && waits < 3) {
          Thread.sleep(20000)
          settleStorage()
          w = probe()
          waits += 1
        }
        // (2) fixed N timed runs, each BRACKETED by probes — run i's
        // after-probe doubles as run i+1's before-probe (the output is
        // deleted before probing, so its dirty pages don't depress it)
        var prevProbe = w
        k2Runs = (1 to K2TimedRuns).map { _ =>
          val p = prevProbe
          val (sec, ok, bytes) = once()
          val pa = probe()
          prevProbe = pa
          (p, sec, ok, bytes, pa)
        }
        val okRuns = k2Runs.filter(_._3)
        if (okRuns.isEmpty) (0.0, false)
        else {
          val best = okRuns.minBy(_._2)
          k2IoMbps = best._1
          (best._2, k2Runs.forall(_._3))
        }
      }
    } catch { case _: Throwable => (0.0, false) })

    // Operator-persisted intermediates (LSH bands, shingle sets, SNM rank
    // frames) are released after each query: timings stay standalone (no
    // cross-query cache reuse) and a 100+-query run can't accrete caches.
    // ONE deliberate exception: the corpus posting index (graft.operators
    // .Postings) survives across queries — retrieval queries are
    // parameterized by query set over a shared index, and a real engine
    // amortizes index construction exactly this way; the first retrieval
    // query of the run pays the build (its timing includes it), the rest
    // reuse it. The pool is released once, after the loop.
    // Each query is the MIN OF TWO runs (caches released between them, so
    // the second run is warm-JIT but cold-cache) — the k2 discipline
    // extended to the whole loop: a single run records whatever disk
    // flush / GC / scheduling noise lands on it (round 3's q08 snapshot
    // read 12.7 s for a 1.6 s query), and the min of two warm runs is the
    // engine's cost, which is what BASELINE.md's warm numbers measure.
    var deadlineHit = false
    // Per-segment I/O context (round-10 verdict): sample the write probe
    // every ~30 queries so an adjudicator can normalize ANY query's loop
    // time to the storage window it ran in, without consulting a
    // same-HEAD builder re-run. The probe is untimed (between queries)
    // and ~segment-count cheap. Recorded as loop_probes in the artifact:
    // [{"after_query":"<name>","done":N,"mbps":X}, ...] — queries are
    // looped in sorted-name order, so "done" brackets every query.
    val LoopProbeEvery = 30
    var loopProbes = Seq.empty[(String, Int, Double)]
    var loopDone = 0
    var loopResults = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val r = timed { fn(spark, sfDir).count(); () }
        graft.operators.OperatorCaches.release()
        r
      }
      val (a, okA) = once()
      val out = if (degraded || pastDeadline) {
        deadlineHit = deadlineHit || pastDeadline
        name -> (a, okA)
      } else {
        val (b, okB) = once()
        name -> (math.min(a, b), okA && okB)
      }
      loopDone += 1
      // !degraded: each probe force-writes 128 MB — don't add ~1 GB of
      // probe I/O to storage the run already declared too slow
      if (loopDone % LoopProbeEvery == 0 && !degraded && !pastDeadline) {
        loopProbes :+= ((name, loopDone, probe()))
      }
      out
    }

    // Steady-query window defense (round-9 verdict): a query's two loop
    // runs are ADJACENT in time, so one bad storage window poisons both —
    // the r9 driver artifact attributed 7.4 s to q102 while the builder's
    // same-HEAD close read 1.58 s. Final pass: re-time the slowest
    // queries once more, minutes later, behind the same bounded
    // probe-health wait k2 uses; report min(loop, retime) and record
    // every (loop, retime) pair with the pass's bracketing probes in
    // bench_full.json, so a window-poisoned per-query number is
    // self-adjudicating.
    // Round-15 extension (verdict item 3): the r14 v2 close ran its
    // whole sweep inside a 27 MB/s window — a top-10 retime is too
    // narrow when the WINDOW, not the query, is the outlier. The
    // candidate set is now top-N slowest ∪ every query whose loop
    // segment was BRACKETED by an unhealthy probe (loop_probes),
    // capped; the healthy-window wait is longer (up to ~2.5 min); and
    // the pass re-probes every 10 cells, pausing briefly if the window
    // collapses mid-pass (min() keeps the headline safe regardless —
    // the probes are recorded so the artifact self-adjudicates).
    // Round-16 extension (verdict item 3): RATIO-TRIGGERED retime — the
    // r15 regression reading (q39 4.0×, q44 3.3×, q105 3.2×, q43 2.9×,
    // all sub-0.7 s window noise) had to be hand-adjudicated because the
    // top-N floor excluded small cells. Any cell whose loop time exceeds
    // its PRIOR-ROUND artifact value (the committed bench_full.json this
    // run will overwrite) by >1.5× joins the retime candidates with
    // guaranteed capacity, so the artifact carries a same-run second
    // opinion for every apparent regression it reports — the verdict can
    // read regressions off the artifact alone.
    val RetimeCount = 16
    val RetimeCap = 60
    val RatioTrigger = 1.5
    val RatioCap = 20
    val priorTimes: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("bench_full.json")
      if (Files.exists(p)) {
        val s = new String(Files.readAllBytes(p), "UTF-8")
        val qStart = s.indexOf("\"queries\":{")
        if (qStart < 0) Map.empty
        else {
          val body = s.substring(qStart + 11, s.indexOf("}", qStart))
          "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } else Map.empty
    } catch { case _: Throwable => Map.empty[String, Double] }
    val ratioSuspects = loopResults.collect {
      case (n, (t, true)) if priorTimes.get(n)
        .exists(p0 => p0 > 0 && t > RatioTrigger * p0) =>
        (n, t / priorTimes(n))
    }.sortBy(-_._2).take(RatioCap).map(_._1).toSet
    var retimes = Seq.empty[(String, Double, Double)] // (name, loopSec, retimeSec)
    var retimeProbes = (-1.0, -1.0)
    var retimeSkippedUnhealthy = false
    // The retime pass runs EVEN when the sweep was degraded (round-16
    // change): a reduced-I/O sweep is single-shot per query in a known-bad
    // window, which makes it exactly the artifact most in need of a
    // same-run second opinion — and this storage oscillates, so the
    // healthy-window wait below often gets one. If the window never
    // recovers, retime_skipped_unhealthy says so and the artifact reads
    // "all numbers single-shot in a degraded window" instead of silently
    // reporting phantom regressions with no defense.
    if (!pastDeadline) {
      val qmap = SparkEntry.queries
      val probeByDone = loopProbes.map(p => p._2 -> p._3).toMap
      // a query at loop index i sits in the segment ending at the next
      // probe point; it is window-suspect when either bracketing probe
      // read unhealthy (before = segment start, after = segment end)
      def bracketUnhealthy(idx: Int): Boolean = {
        val segEnd = ((idx / LoopProbeEvery) + 1) * LoopProbeEvery
        val before = probeByDone.get(segEnd - LoopProbeEvery)
        val after = probeByDone.get(segEnd)
        before.exists(_ < K2HealthyMbps) || after.exists(_ < K2HealthyMbps)
      }
      val windowSuspects = loopResults.zipWithIndex.collect {
        case ((n, (_, ok)), i) if ok && bracketUnhealthy(i) => n
      }.toSet
      val slowSet = loopResults.filter(_._2._2).sortBy(-_._2._1)
        .take(RetimeCount).map(_._1).toSet
      // ratio suspects get GUARANTEED capacity (they are typically the
      // small cells a time-sorted cap would cut); slow/window-suspect
      // cells fill what remains
      val ratioCand = loopResults.filter(r => ratioSuspects(r._1) && r._2._2)
      val otherNames = slowSet ++ windowSuspects
      val otherCand = loopResults
        .filter(r => otherNames(r._1) && !ratioSuspects(r._1) && r._2._2)
        .sortBy(-_._2._1).take(math.max(0, RetimeCap - ratioCand.size))
      val cand = ratioCand ++ otherCand
      if (cand.nonEmpty) {
        settleStorage()
        var p = probe()
        var waits = 0
        while (p < K2HealthyMbps && waits < 7 && !pastDeadline) {
          Thread.sleep(20000)
          settleStorage()
          p = probe()
          waits += 1
        }
        if (p < K2HealthyMbps) {
          // window never recovered: a retime now is N query re-runs in
          // a known-bad window — every r10 retime came back 2-3x slower
          // than its loop time behind 15-17 MB/s probes. min() keeps the
          // headline safe either way, so skip; the recorded probe pair
          // says why (retime_io_mbps=[p,-1] with an empty retimed map).
          retimeSkippedUnhealthy = true
          retimeProbes = (p, -1.0)
        } else {
          var done2 = 0
          val better = cand.map { case (name, (t0, _)) =>
            if (done2 > 0 && done2 % 10 == 0 && !pastDeadline) {
              // mid-pass health check: a pass that started healthy can
              // degrade; pause (bounded) rather than retime into a hole
              var pp = probe()
              var w2 = 0
              while (pp < K2HealthyMbps && w2 < 2 && !pastDeadline) {
                Thread.sleep(15000); settleStorage(); pp = probe(); w2 += 1
              }
            }
            val r = timed { qmap(name)(spark, sfDir).count(); () }
            graft.operators.OperatorCaches.release()
            done2 += 1
            val (t1, ok1) = r
            retimes :+= ((name, t0, if (ok1) t1 else -1.0))
            name -> (if (ok1) math.min(t0, t1) else t0)
          }.toMap
          retimeProbes = (p, probe())
          loopResults = loopResults.map { case (n, (t, ok)) =>
            n -> (better.getOrElse(n, t), ok) }
        }
      }
    }
    val results = loopResults :+ convert :+ matched
    // Pool-build costs (VERDICT r16 item 7): pooled families report
    // pool-warm per-cell numbers by design (min-of-two with the pool
    // surviving); the artifact carries the build seconds they amortize
    // so per-cell claims are adjudicable as build+serve. Captured BEFORE
    // release() clears the ledger.
    val poolBuilds = graft.operators.FramePool.buildSeconds
    graft.operators.FramePool.release()

    def entries(rs: Seq[(String, (Double, Boolean))]): String =
      rs.map { case (k, (v, ok)) => "\"" + k + "\":" + (if (ok) fmt(v) else "-1") }
        .mkString("{", ",", "}")
    val failed = results.collect { case (k, (_, false)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, (v, true)) => v }.sum
    val headlineSet = Headline.toSet
    val reported = results.filter { case (k, (_, ok)) => headlineSet(k) || !ok }
    val othersTotal = results
      .collect { case (k, (v, true)) if !headlineSet(k) => v }.sum

    // Environment health, so a snapshot taken in a bad window says so
    // (round 5's 12.7 s q08 / 127 s k2 adjudications both reduce to this).
    val k2RunsJson = k2Runs.map { case (p, sec, ok, bytes, pa) =>
      s"""{"mbps":${fmt(p)},"sec":${fmt(sec)},"ok":$ok,"bytes":${bytes.fold("null")(_.toString)},"mbps_after":${fmt(pa)}}"""
    }.mkString("[", ",", "]")
    val retimesJson = retimes.map { case (n, t0, t1) =>
      s""""$n":{"loop":${fmt(t0)},"retime":${fmt(t1)}}"""
    }.mkString("{", ",", "}")
    val loopProbesJson = loopProbes.map { case (n, done, p) =>
      s"""{"after_query":"$n","done":$done,"mbps":${fmt(p)}}"""
    }.mkString("[", ",", "]")
    val env = f""""io_mbps":${fmt(ioMbps)},"k2_io_mbps":${fmt(k2IoMbps)},"k2_runs":$k2RunsJson,"degraded_io":$degraded,"deadline_hit":$deadlineHit,"loop_probes":$loopProbesJson"""

    // Complete per-query map — the stdout line only carries the headline.
    // ratio_suspects: every cell this artifact reports >RatioTrigger×
    // its prior-round value (name → the prior seconds it was judged
    // against); each has a same-run retime in `retimed` unless the
    // window never recovered (retime_skipped_unhealthy says so)
    val ratioJson = ratioSuspects.toSeq.sorted.map(n =>
      s""""$n":${fmt(priorTimes.getOrElse(n, -1.0))}""")
      .mkString("{", ",", "}")
    val poolBuildsJson = poolBuilds.toSeq.sortBy(_._1).map { case (tag, sec) =>
      s""""$tag":${fmt(sec)}""" }.mkString("{", ",", "}")
    Files.write(java.nio.file.Paths.get("bench_full.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${entries(results)},"failed":$failed,"k2_rows":$k2Rows,$env,"retimed":$retimesJson,"retime_io_mbps":[${fmt(retimeProbes._1)},${fmt(retimeProbes._2)}],"retime_skipped_unhealthy":$retimeSkippedUnhealthy,"ratio_trigger":$RatioTrigger,"ratio_suspects":$ratioJson,"pool_builds":$poolBuildsJson,"sf":"$sfDir"}"""
        .getBytes("UTF-8"))

    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${entries(reported)},"others_total":${fmt(othersTotal)},"n_queries":${results.size},"failed":$failed,"k2_rows":$k2Rows,$env,"sf":"$sfDir"}""")
    spark.stop()
  }
}
