package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT/codegen bootstrap + parquet footer caches, so the
    // first measured query doesn't absorb session startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Left(error) on crash — a crashing query must not masquerade as a
    // fast one by recording its time-to-crash
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      val r = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries that persist intermediates (LSH signature sets etc.)
      // must not charge their memory to later queries
      spark.catalog.clearCache()
      r.toLeft(dt)
    }
    // Calibration: q05 (trivial per-column max scan) timed right after
    // warmup, before the measured passes. A contended host inflates
    // this number with everything else, so the recorded line is
    // self-diagnosing: cal ≫ its historical ~0.3 s means the WHOLE run
    // is suspect (the r10 artifact had no such signal and a contended
    // 520 s run was indistinguishable from a regression at the gate).
    val calT: Double = SparkEntry.queries.get("q05_global_max")
      .flatMap(fn => time(fn).toOption).getOrElse(-1.0)
    // the clean-machine calibration (q05 on an uncontended host) —
    // the denominator reference for value_cal_adj below
    val CalRef = 0.33
    // two passes for EVERY query, per-query minimum: robust to
    // transient host contention without hiding real costs. Round 10
    // proved the old skip-above-60s rule defeats its own purpose: a
    // CONTENDED first pass above the bound skipped its second pass and
    // locked 60–78 s artifacts into the gate record for queries whose
    // isolated truth was 2–9 s. The second pass is now unconditional —
    // for a genuinely big query it is a confirming pass (cost: one
    // extra run of the heavy tail); for a contended first pass it is
    // the corrector. A query counts as failed only if NO pass
    // succeeded: one flaky pass can't erase a real measurement.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val p1 = sorted.map { case (name, fn) => name -> time(fn) }
    val p2 = sorted.map { case (name, fn) => name -> time(fn) }
    val results: Seq[(String, Either[String, Double])] = (p1 ++ p2)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, rs) =>
        val oks = rs.map(_._2).collect { case Right(t) => t }
        name -> (if (oks.nonEmpty) Right(oks.min)
                 else Left(rs.map(_._2).collectFirst { case Left(m) => m }.get))
      }
    // The driver captures only the LAST ~2000 characters of stdout and
    // parses the JSON line out of that window (BENCH_r{1,2,3}.json all
    // record tail=2000 and parsed=null: the full-name + pass-array line
    // grew past the window and was truncated from the left every round).
    // So the stdout line must stay compact: short `qNN` keys (the
    // contract's own example uses "q1") and 3-decimal seconds put 113
    // queries in ~1.5 KB, leaving room for sbt's trailing [success]
    // line. The full record — full query names, both raw pass times,
    // failure messages — goes to bench_detail.json next to the repo
    // instead of stdout.
    def short(name: String): String = name.takeWhile(_ != '_')
    def sec3(t: Double): String = // Locale.ROOT: a comma decimal point would break the JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    def sec2(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(t))
    // every pass time, in run order (crashed pass = null): min-of-2 hides
    // a contended pass; the raw pair makes a contention artifact
    // self-diagnosing in the recorded detail file (pass1 >> pass2 or
    // vice versa)
    val passJson = (p1 ++ p2).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._2.fold(_ => "null", _.toString))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(t)) => t }.sum
    // Failure messages on stdout are capped hard at 40 chars each: round 4
    // proved that N long analysis exceptions alone can blow the 2000-char
    // capture window and erase the whole bench record. Full messages live
    // in bench_detail.json.
    val failures = results.collect { case (k, Left(m)) => (k, m) }
    val fj = failures.map { case (k, m) => s"\"" + short(k) + "\":" + Verify.jstr(m.take(40)) }
      .mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.fold(Verify.jstr, _.toString)
    }.mkString("{", ",", "}")
    // Cold-pass truth: "value" is the min-of-passes total (robust to
    // host contention) but at 100 TB every pass is a cold pass, so the
    // artifact must not hide first-pass behavior behind the min. Two
    // compact fields carry it inside the capture window: cold_total
    // (sum of every query's FIRST pass — the fresh-plan cost of the
    // whole suite) and cold_outliers (first pass ≥ 1 s AND ≥ 2× the
    // second pass — the queries whose cold cost the min conceals;
    // r8 would have flagged q192's 27.3 s here). Full per-query pass
    // pairs live in bench_detail.json.
    val p1m = p1.toMap
    val p2m = p2.toMap
    val coldTotal = p1.collect { case (_, Right(t)) => t }.sum
    def sec1c(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(t))
    // cold-outlier map TRUNCATED to the 12 worst by cold time: in r10
    // an unbounded outlier map (alongside the overflowing nonzero-rung
    // queries map) helped push every informative rung past the capture
    // window. 12 entries ≈ 140 B worst case; `cold_omitted` says how
    // many more exist so truncation is self-describing.
    val coldAll = sorted.map(_._1).flatMap { name =>
      (p1m.get(name), p2m.get(name)) match {
        case (Some(Right(c)), Some(Right(w))) if c >= 1.0 && c >= 2.0 * w =>
          Some(name -> c)
        case _ => None
      }
    }
    val coldOutliers = coldAll.sortBy(-_._2).take(12)
    val coldOmitted = coldAll.size - coldOutliers.size
    val coldJson = "," + "\"cold_total\":" + sec1c(coldTotal) +
      ",\"cold_outliers\":" + coldOutliers.map { case (k, t) =>
        "\"" + short(k) + "\":" + sec1c(t)
      }.mkString("{", ",", "}") +
      (if (coldOmitted > 0) s""","cold_omitted":$coldOmitted""" else "")
    // Environment telemetry rides EVERY rung (~60 B): block-manager-
    // scale heap, 1-min system load at bench end, and the calibration
    // query's time. r10's contaminated run was only diagnosable by a
    // manual re-run; with load + cal in the artifact, drift is visible
    // at the gate itself (32-core host: load ≫ 32 or cal ≫ 0.5 s says
    // contention, not regression).
    val heapG = Runtime.getRuntime.maxMemory / 1.073741824e9
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val envJson = "," + "\"env\":{\"heap_g\":" + sec1c(heapG) +
      ",\"load\":" + sec1c(loadAvg) + ",\"cal\":" +
      (if (calT >= 0) sec2(calT) else "null") +
      ",\"cal_ref\":" + sec2(CalRef) + "}"
    // Cal-normalized total (r12 verdict): value × (cal_ref / cal), with
    // cal_ref pinned at the clean-machine calibration. r12's gate read
    // as a +2.8% regression purely because the host hour was 27% slower
    // (cal 0.49 → 0.62); this number is the one a round-over-round
    // comparison should use. Rides every rung (~25 B constant).
    val calAdjJson =
      if (calT > 0) ",\"value_cal_adj\":" + sec1c(total * (CalRef / calT))
      else ""
    val detail = s"""{"metric":"total","value":$total$calAdjJson,"unit":"sec","queries":$fullQs,"passes":$passJson$envJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench_detail.json write failed: $e") }
    // Hard guard on the 2000-char capture window: a line the driver
    // cannot parse is worth less than one with a coarser queries map, so
    // degrade (shorter queries map, then failure messages → count only)
    // rather than overflow. 1900 leaves ~100 chars for sbt's trailing
    // [success] line. The ladder is TOTAL: the last rung is a constant
    // ~120-byte line that always fits, so "some queries failed" can never
    // again become "no bench output at all" (round 4's None.get).
    // cold_total/cold_outliers ride every rung except the constant last
    // one: the outlier map scales with the PROBLEM count, not the
    // registry size, so it costs window space only when there is
    // something to say.
    def line(qj: String, fjx: String, extra: String = "", cold: String = coldJson) =
      s"""{"metric":"total","value":${sec3(total)}$calAdjJson,"unit":"sec","queries":$qj,"failures":$fjx$extra$cold$envJson,"sf":"$sfDir"}"""
    def sec1(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(t))
    val fjCount = s"""{"count":${failures.size}}"""
    // Nonzero-only rung (the first): a map of every query cannot fit —
    // with 350 registered queries even whole seconds ("q..":0) need
    // over 3 KB — and would carry almost no information (a healthy
    // profile is mostly "q..":0). Keeping only queries ≥ 0.95 s
    // at 1-decimal precision preserves exactly the entries the gate's
    // profile can read, scales with the EXPENSIVE-query count instead
    // of the registry size, and says how many sub-second queries were
    // elided so the map is self-describing.
    def qsNz = {
      val nz = results.collect { case (k, Right(t)) if t >= 0.95 => k -> t }
      nz.map { case (k, t) => "\"" + short(k) + "\":" + sec1(t) }
        .mkString("{", ",", "}")
    }
    val nzOmitted = results.count {
      case (_, Right(t)) => t < 0.95
      case _ => false
    }
    val nzExtra = "," + "\"sub1s_omitted\":" + nzOmitted
    // Top-N rung: the rung r10 lacked. When even the nonzero-only map
    // overflows (126 queries crossed 0.95 s), keep the N most
    // expensive queries — exactly the entries the gate's profile needs
    // — plus how many timed queries were elided. 40 entries ≈ 480 B,
    // always inside the window; shrink to 20 as a further rung so the
    // ladder keeps SOME per-query signal under any registry size. The
    // constant last rung (empty map) can now only be reached by a
    // pathological failure-map blowup, not by suite growth.
    def qsTop(n: Int) = {
      val ok = results.collect { case (k, Right(t)) => k -> t }
      val top = ok.sortBy(-_._2).take(n).sortBy(_._1)
      (top.map { case (k, t) => "\"" + short(k) + "\":" + sec1(t) }
        .mkString("{", ",", "}"),
       "," + "\"top_omitted\":" + (ok.size - top.size))
    }
    val (top40, top40x) = qsTop(40)
    val (top20, top20x) = qsTop(20)
    val lastRung = line("{}", fjCount, cold = "")
    val out = Seq(line(qsNz, fj, nzExtra), line(qsNz, fjCount, nzExtra),
        line(top40, fjCount, top40x), line(top20, fjCount, top20x),
        lastRung)
      .find(_.length <= 1900).getOrElse(lastRung)
    println(out)
    spark.stop()
  }
}
