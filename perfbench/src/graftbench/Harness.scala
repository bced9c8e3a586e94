package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in a fresh JVM: builds a `local[N]` session, runs one
  * workload as a closed loop on this thread (each operation is issued only
  * after the previous one returns), checks every output outside the timed
  * window and writes the run record as JSON. `perfbench/run.py` generates
  * the inputs, launches this class and turns the record into metrics.
  *
  * Arguments: --workload W --trace 0|1 --data DIR --run DIR
  * --out FILE --cores N
  */
object Harness {

  /** Query pools, trimmed to the run length, run in this fixed order: a
    * seeded order moved the JVM's first-query warm-up onto different
    * queries in every run and made the per-query median unsteady.
    */
  val pools: Map[String, Seq[String]] = Map(
    "elt_star" -> Seq("q3_shipping_priority", "q5_region_revenue",
      "q9_running_revenue", "q21_hourly_windows", "q23_sessionize",
      "q38_cube", "q41_correlated_subquery", "q96_distinct_sketch"),
    "corpus_memo" -> Seq("q26_token_stats", "q32_simhash",
      "q54_decontamination", "q75_semantic_dedup", "q148_phrase_search",
      "q236_ivf_policy_recall"))

  val TopK = 10

  final class Run(val spark: SparkSession, val trace: Option[Trace]) {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    /** Codegen totals summed over timed phases (traced runs only):
      * compiles, compile ms, bytecode bytes, exact.
      */
    var codegen = (0L, 0.0, 0.0, true)
    private var opSpan = 0L

    def nowMs(): Long = System.currentTimeMillis()

    /** Time `body` as one phase of the open operation; Spark jobs it starts
      * are attributed to the phase through the span local property.
      */
    def phase[T](name: String)(body: => T): (T, Double) = {
      val id = trace.map(_.newId()).getOrElse(0L)
      trace.foreach(_ => sc.setLocalProperty(Trace.SpanProp, id.toString))
      val cg0 = trace.map(_ => codegenTotals())
      val w0 = nowMs(); val t0 = System.nanoTime()
      try {
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      } finally {
        val w1 = nowMs()
        trace.foreach { t =>
          t.span("phase", name, opSpan, w0, w1, id)
          sc.setLocalProperty(Trace.SpanProp, opSpan.toString)
        }
        cg0.foreach { c0 =>
          val c1 = codegenTotals()
          codegen = (codegen._1 + c1._1 - c0._1, codegen._2 + c1._2 - c0._2,
            codegen._3 + c1._3 - c0._3, codegen._4 && c1._4)
        }
      }
    }

    /** Run one operation; a thrown error is recorded as a failed operation. */
    def op(kind: String, name: String)(body: mutable.Map[String, Any] => Unit): mutable.Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "name" -> name, "ok" -> true)
      opSpan = trace.map(_.newId()).getOrElse(0L)
      trace.foreach(_ => sc.setLocalProperty(Trace.SpanProp, opSpan.toString))
      val w0 = nowMs()
      try body(rec)
      catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          failures += s"$name: ${rec("error")}"
      } finally {
        trace.foreach(_.span("op", s"$kind:$name", 0L, w0, nowMs(), opSpan))
        opSpan = 0L
        trace.foreach(_ => sc.setLocalProperty(Trace.SpanProp, null))
      }
      ops += rec
      rec
    }

    def check(ok: Boolean, rec: mutable.Map[String, Any], msg: => String): Unit =
      if (!ok) {
        rec("ok") = false
        val m = s"${rec("name")}: $msg"
        rec("error") = m
        failures += m
      }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val data = a("data")
    val runDir = a("run")
    val cores = a("cores").toInt
    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage

    val spark = graft.core.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val readyMs = System.currentTimeMillis()
    val gc0 = gcMs()
    val run = new Run(spark, trace)
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "spark_version" -> spark.version, "session_ready_ms" -> readyMs)
    val memo0 = graft.operators.OpUtils.SessionMemo.buildSeconds
    workload match {
      case "elt_star" =>
        ingest(run, data, runDir)
        queryPass(run, data, runDir, pools(workload))
      case "corpus_memo" => queryPass(run, data, runDir, pools(workload))
      case "stream_mixed" => streamMixed(run, data, runDir, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val memo1 = graft.operators.OpUtils.SessionMemo.buildSeconds
    val newMemo = memo1.filter { case (k, v) => memo0.get(k).forall(_ != v) }
    val sc = spark.sparkContext
    out("memo") = Map("builds" -> newMemo.size,
      "build_s" -> newMemo.map { case (k, v) => v - memo0.getOrElse(k, 0.0) }.sum)
    out("checkpoint") = Map("live_rdds" -> sc.getPersistentRDDs.size,
      "cached_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
    out("codegen") = Map("compiles" -> run.codegen._1, "compile_s" -> run.codegen._2 / 1000.0,
      "bytecode_kb" -> run.codegen._3 / 1024.0, "exact" -> run.codegen._4)
    trace.foreach { t =>
      org.apache.spark.graftbench.Bus.drain(sc)
      out("trace") = t.dump()
    }
    out("extra") = run.extra
    out("ops") = run.ops.map(_.toMap).toList
    out("failures") = run.failures.toList
    // the least heap in use over three forced full collections: one
    // collection can land while Spark's own threads still hold garbage
    out("retained_heap_mb") = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300) // lets the context cleaner drop what the GC freed
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    out("jvm") = Map("gc_s" -> (gcMs() - gc0) / 1000.0,
      "code_cache_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Code")).map(_.getUsage.getUsed).sum / 1048576.0)
    out("load_avg") = Seq(load0, os.getSystemLoadAverage)
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.write(Json.write(out)) finally w.close()
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (compiles, compile ms, class bytecode bytes, exact) from Spark's
    * CodegenMetrics. Sums come from the histogram's reservoir, which holds
    * every sample while fewer than its 1028 slots are used; past that the
    * sum is mean × count and `exact` is false.
    */
  def codegenTotals(): (Long, Double, Double, Boolean) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    def total(h: com.codahale.metrics.Histogram): (Double, Boolean) = {
      val s = h.getSnapshot
      if (h.getCount <= s.size()) (s.getValues.map(_.toDouble).sum, true)
      else (s.getMean * h.getCount, false)
    }
    val (ms, e1) = total(CodegenMetrics.METRIC_COMPILATION_TIME)
    val (bytes, e2) = total(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE)
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, ms, bytes, e1 && e2)
  }

  // ---- elt_star: ingest phase ------------------------------------------

  private def ingest(run: Run, data: String, runDir: String): Unit = {
    import graft.sources.Ingest
    val spark = run.spark
    val files = Ingest.discoverCsvs(java.nio.file.Paths.get(s"$data/trips")).map(_.toString)
    val dest = s"$runDir/lake/trips"
    run.op("ingest", "trips") { rec =>
      val (_, s) = run.phase("execute") {
        val df = Ingest.scanTripFiles(spark, files)
          .withColumn("month", date_format(col("started_at"), "yyyyMM"))
        Ingest.compactToParquet(df, dest, Seq("month"))
      }
      rec("wall_s") = s
      // outside the timed window: per-month counts against the generator
      val want = scala.io.Source.fromFile(s"$data/manifest.json").mkString
      val got = spark.read.parquet(dest).groupBy("month").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      val counts = "\"(\\d{6})\": (\\d+)".r.findAllMatchIn(want)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      rec("rows") = got.values.sum
      rec("files") = files.size
      run.check(got == counts, rec, s"month counts $got != generated $counts")
    }
  }

  // ---- elt_star / corpus_memo: one cold query pass ---------------------

  /** One cold pass over `pool`. Each result is written, outside the timed
    * window, to `<runDir>/results/<query>` as parquet, where
    * perfbench/run.py digests it against the query's DuckDB oracle.
    */
  private def queryPass(run: Run, data: String, runDir: String, pool: Seq[String]): Unit = {
    val all = graft.SparkEntry.queries
    run.extra("oracle") = graft.SparkEntry.oracleSql.filter(kv => pool.contains(kv._1))
    pool.foreach { name =>
      val memo0 = graft.operators.OpUtils.SessionMemo.buildSeconds.keySet
      run.op("query", name) { rec =>
        val (df, build) = run.phase("build")(all(name)(run.spark, data))
        val (rows, exec) = run.phase("execute")(df.collect())
        val (_, sweep) = run.phase("sweep")(
          org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(run.sc))
        rec ++= Seq("build_s" -> build, "exec_s" -> exec, "sweep_s" -> sweep,
          "wall_s" -> (build + exec + sweep), "rows" -> rows.length,
          "memo_built" -> (graft.operators.OpUtils.SessionMemo.buildSeconds.keySet -- memo0)
            .toList.sorted)
        run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(s"$runDir/results/$name")
      }
    }
  }

  // ---- stream_mixed ----------------------------------------------------

  private def vecs(spark: SparkSession, path: String): Seq[(Long, Array[Float])] =
    spark.read.parquet(path).select("vec_id", "embedding").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  /** Same arithmetic, in the same order, as graft's CosineSimilarity. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(x.length, y.length)) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; na += a * a; nb += b * b; i += 1
    }
    dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  /** Runs admission batch i, then query panel i, then change batch i, for
    * i = 0, 1, ...: a fixed order, like the query pools', so the JVM's
    * warm-up always falls on the same operation, and every run reads the
    * index both before and after the rebuild that the last admission fires.
    */
  private def streamMixed(run: Run, data: String, runDir: String,
      out: mutable.Map[String, Any]): Unit = {
    import graft.streaming.{CdcStreams, IvfIndex}
    val spark = run.spark
    val sd = s"$data/stream"
    val corpusDir = s"$runDir/stream/corpus"
    val indexDir = s"$runDir/stream/index"
    val snapDir = s"$runDir/stream/snapshot"
    val names = new java.io.File(sd).list().toSeq
    def count(kind: String) = names.count(_.matches(s"${kind}_\\d+\\.parquet"))
    val (nAdmit, nPanel, nCdc) = (count("admit"), count("panel"), count("cdc"))

    // set-up: seed the index and the CDC snapshot (part of setup_s)
    val t0 = System.nanoTime()
    spark.read.parquet(s"$sd/seed.parquet").write.parquet(corpusDir)
    IvfIndex.rebuild(spark, corpusDir, indexDir)
    CdcStreams.initSnapshot(spark.read.parquet(s"$sd/cdc_base.parquet"), snapDir)
    out("seed_s") = (System.nanoTime() - t0) / 1e9

    // the benchmark's own model of the stores, for the output checks
    val corpus = mutable.LinkedHashMap.empty[Long, Array[Float]]
    vecs(spark, s"$sd/seed.parquet").foreach(corpus += _)
    val snap = mutable.Map.empty[Long, Cdc]
    spark.read.parquet(s"$sd/cdc_base.parquet").collect().foreach { r =>
      snap(r.getLong(0)) = Cdc(Some(r.getDouble(1)), Some("kept"), true, false,
        Long.MinValue, Long.MinValue)
    }
    def metaN(): Long =
      spark.read.parquet(s"$indexDir/meta").select("n_vecs").head().getLong(0)

    val program = (0 until Seq(nAdmit, nPanel, nCdc).max).flatMap { i =>
      Seq("admit" -> nAdmit, "topk" -> nPanel, "cdc" -> nCdc).collect {
        case (kind, n) if i < n => kind }
    }
    val next = mutable.Map("topk" -> 0, "admit" -> 0, "cdc" -> 0)
    var recallHits = 0L; var recallTotal = 0L
    var rebuilds = 0; var accepted = 0L; var offered = 0L
    program.foreach { kind =>
      val i = next(kind); next(kind) = i + 1
      kind match {
        case "topk" =>
          val qs = vecs(spark, s"$sd/panel_$i.parquet")
          val q = spark.read.parquet(s"$sd/panel_$i.parquet")
          run.op("topk", s"panel_$i") { rec =>
            val (df, call) = run.phase("build")(
              IvfIndex.topK(spark, indexDir, corpusDir, q, TopK))
            val (rows, exec) = run.phase("execute")(df.collect())
            rec ++= Seq("build_s" -> call, "exec_s" -> exec, "wall_s" -> (call + exec))
            val byQ = rows.groupBy(_.getLong(0))
            qs.foreach { case (qid, qv) =>
              val got = byQ.getOrElse(qid, Array.empty[Row]).sortBy(_.getInt(1))
              run.check(got.map(_.getInt(1)).toSeq == (1 to TopK), rec,
                s"query $qid ranks ${got.map(_.getInt(1)).mkString(",")}")
              got.foreach { r =>
                val exact = corpus.get(r.getLong(2)).map(cosine(qv, _))
                run.check(exact.contains(r.getDouble(3)), rec,
                  s"query $qid id ${r.getLong(2)} score ${r.getDouble(3)} != exact $exact")
              }
              val truth = corpus.toSeq.map { case (id, v) => id -> cosine(qv, v) }
                .sortBy(x => (-x._2, x._1)).take(TopK).map(_._1).toSet
              recallHits += got.count(r => truth.contains(r.getLong(2)))
              recallTotal += TopK
            }
          }
        case "admit" =>
          val path = s"$sd/admit_$i.parquet"
          val batch = vecs(spark, path)
          val n0 = metaN()
          run.op("admit", s"admit_$i") { rec =>
            val (_, s) = run.phase("execute")(
              IvfIndex.admitBatch(spark.read.parquet(path), corpusDir, indexDir))
            rec("wall_s") = s
            val (fresh, twins) = batch.partition(_._1 < 2000000L)
            fresh.foreach(corpus += _)
            val ids = spark.read.parquet(corpusDir).select("vec_id").collect()
              .map(_.getLong(0))
            val idSet = ids.toSet
            run.check(ids.length == corpus.size && corpus.keys.forall(idSet),
              rec, s"corpus has ${ids.length} rows, expected ${corpus.size}")
            run.check(twins.forall(t => !idSet(t._1)), rec, "a planted twin was admitted")
            offered += batch.size; accepted += fresh.size
            if (metaN() != n0) rebuilds += 1
          }
        case "cdc" =>
          val path = s"$sd/cdc_$i.parquet"
          run.op("cdc", s"cdc_$i") { rec =>
            val (_, s) = run.phase("execute")(CdcStreams.applyBatch(spark,
              graft.sources.Tables.normalizeEventTs(spark.read.parquet(path)), snapDir))
            rec("wall_s") = s
          }
          mergeModel(snap, spark.read.parquet(path).collect())
      }
    }
    // end-of-run check: the snapshot against the benchmark's own merge
    run.op("check", "cdc_snapshot") { rec =>
      val got = CdcStreams.snapshot(spark, snapDir).collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.getString(2)))).toMap
      val want = snap.filter(!_._2.deleted).map { case (k, c) => k -> (c.balance, c.change) }.toMap
      run.check(got == want, rec,
        s"snapshot differs on ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} keys")
    }
    run.extra ++= Seq("recall_at_10" -> recallHits.toDouble / math.max(1L, recallTotal),
      "rebuilds" -> rebuilds,
      "admit_accept_ratio" -> accepted.toDouble / math.max(1L, offered),
      "store_files" -> Seq(corpusDir, indexDir, snapDir).map(files).sum)
  }

  final case class Cdc(balance: Option[Double], change: Option[String],
      baseMember: Boolean, deleted: Boolean, lastUs: Long, lastEid: Long)

  /** Last-writer-wins merge of one change batch, written from the
    * CdcStreams contract: the latest change per key within the batch, by
    * (ts, event_id), wins over the stored row if it is newer; `error`
    * events delete.
    */
  def mergeModel(snap: mutable.Map[Long, Cdc], batch: Array[Row]): Unit = {
    def us(r: Row): Long = r.get(1) match {
      case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
      case t: java.time.LocalDateTime =>
        val i = t.toInstant(java.time.ZoneOffset.UTC); i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    batch.groupBy(_.getLong(2)).foreach { case (key, rs) =>
      val r = rs.maxBy(r => (us(r), r.getLong(0)))
      val (bUs, bEid) = (us(r), r.getLong(0))
      val old = snap.get(key)
      val wins = old.forall(o => bUs > o.lastUs || (bUs == o.lastUs && bEid > o.lastEid))
      if (wins) {
        val member = old.exists(_.baseMember)
        snap(key) =
          if (r.getString(3) == "error")
            Cdc(old.flatMap(_.balance), old.flatMap(_.change), member, true, bUs, bEid)
          else
            Cdc(Some(r.getDouble(4)), Some(if (member) "updated" else "inserted"),
              member, false, bUs, bEid)
      }
    }
  }

  private def files(dir: String): Int = {
    val f = new java.io.File(dir)
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
    else Option(f.listFiles()).map(_.map(x => files(x.getPath)).sum).getOrElse(0)
  }
}
