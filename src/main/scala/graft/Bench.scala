package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query wall seconds.
  *
  * Materialization is a noop-sink write (`format("noop")`) — full plan
  * execution including final projections/sorts, zero sink I/O — instead of
  * `count()`, which would let Catalyst prune aggregate/sort work and
  * under-measure.
  *
  * `total` = sum of per-query minima PLUS the `memo_build` entries (the
  * session-memo first-touch builds, reported separately since r7) — the
  * cost of a one-shot suite run. Rounds ≤ 6 reported per-query sums only,
  * so cross-round total comparisons should add ~nothing for r ≤ 5 (no
  * memo) and the r6 NOTES' ~4-5 s estimate for r6.
  *
  * Per query, the JSON also carries every raw rep in execution order
  * under `"reps"` (wall seconds, -1 for a failed rep). Where a query's
  * time went is measured outside the engine: `perfbench/run.py --trace 1`
  * records each layer (catalyst, codegen, scheduler, executor, shuffle,
  * memo) from listeners the harness registers itself.
  */
object Bench {

  // Latest run's summary line + the stdout it should be re-emitted on.
  // A STATIC holder with a register-once flag (r12 advisor): each
  // main() registering its own hook would, in a long-lived JVM running
  // Bench repeatedly, accumulate hooks that all fire concurrently at
  // exit in nondeterministic order — the retained tail could end with a
  // stale earlier run's summary or interleaved bytes. One hook, always
  // printing the most recent summary, keeps the tail contract exact.
  private val latestSummary =
    new java.util.concurrent.atomic.AtomicReference[(java.io.PrintStream, String)]()
  private val hookRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reps = scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuffer[Double]]()

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      reps.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty)
        .append(sec)
      // Sketch queries localCheckpoint intermediates; without an explicit
      // unpersist those blocks live until the DataFrame is GC'd, so a
      // 50-query x 2-run suite accumulates hundreds of dead cached RDDs
      // (block-manager bloat + GC pressure showed up as multi-second
      // mid-suite outliers). Drop them between runs, outside the timing —
      // EXCEPT the session-pinned memo tables (shared dedup pair-table
      // family): those are materialized once per session by design, and
      // sweeping a localCheckpoint makes its consumers fail, not recompute.
      org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(spark.sparkContext)
      sec
    }

    // Warmup: JIT + codegen + parquet footer caches on a cheap query
    // (not recorded in reps).
    try SparkEntry.queries.get("q1_pricing_summary")
      .foreach(q => q(spark, sfDir).write.mode("overwrite").format("noop").save())
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    val names = SparkEntry.queries.keys.toSeq.sortBy { n =>
      val num = n.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty) num.toInt else Int.MaxValue
    }

    // Min over two FULL suite passes (+ adaptive third rep per query):
    // the first execution of each query pays one-time whole-stage-codegen
    // compile + JIT, and this box has noisy co-tenants whose load bursts
    // last minutes — long enough to swallow back-to-back reps of the same
    // query (the r3 driver run shows a contiguous q40-q49 block at 10-28x
    // its warm floor while the rest of the suite is normal). Two
    // interleaved passes cost the same number of executions but separate
    // each query's reps by ~the suite length, so a burst can only inflate
    // one of them. Queries whose two reps still disagree by >50% get one
    // targeted third rep at the end.
    val pass1 = names.map(n => n -> runOnce(n)).toMap
    val pass2 = names.map(n => n -> runOnce(n)).toMap
    val results = names.map { n =>
      val (a, b) = (pass1(n), pass2(n))
      val v =
        if (a < 0) b
        else if (b < 0) a
        else {
          val m = math.min(a, b)
          if (math.max(a, b) <= m * 1.5) m
          else { val c = runOnce(n); if (c < 0) m else math.min(m, c) }
        }
      n -> v
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Session-memo first-touch builds (the shared dedup/similarity pair
    // tables) are paid ONCE, inside whichever pass-1 query touched first;
    // min-of-two-passes therefore reports every memoized query at its
    // steady state and the build shows up in NO per-query figure. Emit
    // the builds as explicit line items so per-query + memo_build sums
    // to what a one-shot suite actually costs, and cross-round per-query
    // comparisons of the memoized heads stay meaningful.
    val builds = graft.operators.OpUtils.SessionMemo.buildSeconds.toSeq.sortBy(_._1)
    val mb = builds.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum + builds.map(_._2).sum
    val repsJson = names.map { n =>
      "\"" + n + "\":" + reps.getOrElse(n, Nil).map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Key ORDER in the emitted line is deliberate: the round driver
    // retains only a bounded TAIL of this line (BENCH_r07 kept the last
    // 2000 chars — r7's verdict could only grade "the visible overlap in
    // both bench tails"), so the headline "queries"/"memo_build" minima
    // sit at the END, after the bulky per-rep detail. The FULL line is
    // also mirrored to a repo-local file so every field survives
    // regardless of the tail window.
    // Loud-failure + toolchain canary (both deliberately near the END of
    // the line so they survive the driver's tail window): a query that
    // threw in every rep is named in "failed" — a sentinel-only -1 hiding
    // mid-line is how round 8 lost 14 queries without one red flag — and
    // "spark_version" stamps which runtime produced these numbers, so a
    // silent toolchain swap is visible in the artifact diff.
    val failed = results.collect { case (n, v) if v < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    // A query that failed one whole pass but recovered in the other still
    // reports a valid min — name it here so a flaky failure (intermittent
    // OOM) survives the driver's tail window instead of hiding as a -1
    // buried in the per-rep detail.
    val partialFailures = results.collect {
      case (n, v) if v >= 0 && reps.getOrElse(n, Nil).exists(_ < 0) => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val nValid = results.count(_._2 >= 0)
    // "total"/"n_valid" repeat the headline at the very END of the line:
    // the driver retains a bounded tail, and BENCH_r09's tail lost
    // q1-q36 of the queries map — the headline must be the last thing cut.
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","reps":$repsJson,"cpus":$cpus,"queries":$qs,"memo_build":$mb,"sf":"$sfDir","spark_version":"${spark.version}","failed":$failed,"partial_failures":$partialFailures,"total":${f"$total%.3f"},"n_valid":$nValid}"""
    println(line)
    val mirror = sys.env.getOrElse("SPARK_GRAFT_BENCH_COPY", "/root/repo/BENCH_LOCAL.json")
    val mirrored =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(mirror),
          (line + "\n").getBytes("UTF-8"))
        true
      } catch { case _: Exception => false } // mirror is best-effort
    // LAST line = a compact, always-parseable summary: the round driver
    // retains a bounded TAIL of stdout, and r10's window cut the full
    // line mid-"reps" (parsed: null). The bulky per-rep/per-query detail
    // lives in the full line above AND in the mirror file; this line
    // carries the headline totals plus the mirror path so the tail
    // always ends in valid JSON no matter how narrow the window.
    val summary = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfDir","spark_version":"${spark.version}","n_valid":$nValid,"failed":$failed,"partial_failures":$partialFailures,"memo_build_total":${f"${builds.map(_._2).sum}%.3f"},"full_json":${if (mirrored) "\"" + mirror + "\"" else "null"},"total":${f"$total%.3f"}}"""
    println(summary)
    // File artifact for the summary (r12 verdict item 7): nothing should
    // have to parse stdout at all — the compact summary object lands next
    // to the full-line mirror as BENCH_SUMMARY.json.
    try {
      val sumPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
        new java.io.File(new java.io.File(mirror).getAbsoluteFile.getParent,
          "BENCH_SUMMARY.json").getPath)
      java.nio.file.Files.write(java.nio.file.Paths.get(sumPath),
        (summary + "\n").getBytes("UTF-8"))
    } catch { case _: Exception => () } // best-effort, like the mirror
    // The driver parses the LAST line of the retained stdout tail, but
    // when it drives Bench through sbt the "[success] Total time" footer
    // lands AFTER our output (r11: parsed=null despite a clean summary
    // line). A JVM shutdown hook on the captured System.out runs after
    // sbt prints its footer and re-emits the summary as the true last
    // act of the process, so the tail always ENDS in the parseable
    // summary. Under tools/run.sh (plain java) the summary just appears
    // twice — still valid JSON last. The hook is registered ONCE per JVM
    // and reads the static holder, so repeated Bench runs in one JVM
    // re-emit only the latest run's summary (r12 advisor).
    latestSummary.set((System.out, summary))
    if (hookRegistered.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val v = latestSummary.get()
        if (v != null) { v._1.println(v._2); v._1.flush() }
      }))
    spark.stop()
  }
}
