package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.SparkSpec

/** Lifecycle of the shared pair-table memo (OpUtils.SessionMemo): the
  * persistent parquet artifact tier (a FRESH session — the driver-restart
  * production case — reuses the table instead of rebuilding), corpus
  * fingerprinting (a changed corpus orphans artifacts), and release
  * (eviction returns the pinned blocks and the next touch rebuilds).
  */
class MemoLifecycleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeCorpus(d: String, seed: String, n: Int = 4): Unit = {
    val mk = (tag: String) => (1 to 40).map(i => s"$tag$i").mkString(" ")
    val base = mk(seed)
    val near = (1 to 40).map(i => if (i == 7) "changed" else s"$seed$i").mkString(" ")
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong),
      (2L, near, "en", "src2", near.length.toLong),
      (3L, mk(s"zz$seed"), "en", "src3", 1L)).take(n)
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
  }

  private def pairsOf(s: org.apache.spark.sql.SparkSession, d: String): Set[(Long, Long)] =
    Dedup.q31MinhashLsh(s, d).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("fresh session reuses the persisted artifact instead of rebuilding") {
    val dir = Files.createTempDirectory("graft_memo_art").toString
    val artRoot = Files.createTempDirectory("graft_artifacts").toString
    writeCorpus(dir, "word")
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      Dedup.release(spark, dir)
      val built = pairsOf(spark, dir)
      assert(built.contains((0L, 1L)))
      // the first-touch build landed in the ledger Bench reports from
      // (the suite touches many temp corpora, so the label may carry a
      // disambiguating @dir suffix)
      assert(OpUtils.SessionMemo.buildSeconds.keySet.exists(_.startsWith("dedup.q31_pairs")))
      // the build persisted an artifact under the fingerprinted path
      val fp = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
      val art = new java.io.File(s"$artRoot/$fp/dedup.q31_pairs.parquet/_SUCCESS")
      assert(art.exists(), s"expected artifact at $art")

      // a FRESH session (driver restart analog: isolated session state,
      // so the in-memory memo misses) must LOAD, not rebuild
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", artRoot)
      val df2 = Dedup.q31MinhashLsh(s2, dir)
      val leaves = df2.queryExecution.analyzed.collect {
        case _: LogicalRDD => "rdd"
        case _: LogicalRelation => "file"
      }
      assert(leaves == Seq("file"),
        s"fresh-session memo head must be a parquet artifact scan, got $leaves")
      assert(df2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == built)
      assert(OpUtils.SessionMemo.loadSeconds.keySet.exists(_.startsWith("dedup.q31_pairs")))
      Dedup.release(s2, dir)

      // releasing the hot tier must fall back to the warm artifact, not
      // a rebuild: the re-touched head is again a parquet scan
      Dedup.release(spark, dir)
      val df3 = Dedup.q31MinhashLsh(spark, dir)
      assert(df3.queryExecution.analyzed.collect {
        case _: LogicalRelation => "file" }.nonEmpty,
        "post-release touch with an artifact present must reload, not rebuild")
      assert(df3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == built)
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("q63 manifest is restart-incremental under the artifact tier") {
    // the query a trainer actually consumes: a FRESH session must
    // compose the manifest from the persisted gx / cluster artifacts
    // instead of re-running the sketch pipeline
    val dir = Files.createTempDirectory("graft_memo_q63").toString
    val artRoot = Files.createTempDirectory("graft_artifacts_q63").toString
    writeCorpus(dir, "mani")
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      Dedup.release(spark, dir)
      val r1 = Dedup.q63TrainingManifest(spark, dir).collect().toSeq
      assert(r1.nonEmpty)
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", artRoot)
      val r2 = Dedup.q63TrainingManifest(s2, dir).collect().toSeq
      assert(r2 == r1, "fresh-session manifest must equal the original")
      val loads = OpUtils.SessionMemo.loadSeconds.keySet
      assert(loads.exists(_.startsWith("dedup.gx")) &&
        loads.exists(_.startsWith("dedup.q51_clusters")),
        s"manifest feeds must come from artifacts, loaded: $loads")
      Dedup.release(s2, dir)
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("a changed corpus orphans the artifact (fingerprint moves)") {
    val dir = Files.createTempDirectory("graft_memo_fp").toString
    writeCorpus(dir, "alpha")
    val fp1 = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
    // re-ingest with different content (different lengths => different
    // fingerprint even at equal mtime granularity)
    writeCorpus(dir, "betaextra")
    val fp2 = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
    assert(fp1 != fp2, "corpus fingerprint must change when the corpus does")
  }

  test("gcArtifacts reaps superseded generations, keeps the live one") {
    val dir = Files.createTempDirectory("graft_memo_gc").toString
    val artRoot = Files.createTempDirectory("graft_artifacts_gc").toString
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      writeCorpus(dir, "genone")
      Dedup.release(spark, dir)
      val r1 = pairsOf(spark, dir)
      assert(r1.nonEmpty)
      // re-ingest: fingerprint moves, old generation is orphaned
      writeCorpus(dir, "gentwolonger")
      Dedup.release(spark, dir)
      val r2 = pairsOf(spark, dir)
      val gens = new java.io.File(artRoot).listFiles().count(_.isDirectory)
      assert(gens == 2, s"expected two generations before gc, got $gens")
      assert(OpUtils.SessionMemo.gcArtifacts(spark) == 1)
      assert(new java.io.File(artRoot).listFiles().count(_.isDirectory) == 1)
      // the surviving generation still serves a fresh session
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", artRoot)
      assert(pairsOf(s2, dir) == r2)
      assert(OpUtils.SessionMemo.gcArtifacts(spark) == 0, "live generation must survive gc")
      Dedup.release(s2, dir)
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("a crash between marker and artifact leaves a REAPABLE generation") {
    // commitArtifact writes _source FIRST; simulate dying right after:
    // a generation dir holding only the marker. GC must treat it like
    // any generation — here its source corpus is gone, so it is reaped,
    // never an immortal orphan.
    val artRoot = Files.createTempDirectory("graft_art_crash").toString
    val deadCorpus = Files.createTempDirectory("graft_corpus_dead")
    val gen = new java.io.File(artRoot, "deadbeef00000000")
    assert(gen.mkdirs())
    java.nio.file.Files.write(gen.toPath.resolve("_source"),
      deadCorpus.toString.getBytes("UTF-8"))
    // corpus deleted => marker resolves to nothing => stale
    Files.delete(deadCorpus)
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      assert(OpUtils.SessionMemo.gcArtifacts(spark) == 1,
        "marker-only generation with a dead source must be reaped")
      assert(!gen.exists())
    } finally spark.conf.unset("spark.graft.artifactDir")
  }

  test("gc reaps crash-orphaned tmp write dirs after the grace period") {
    val dir = Files.createTempDirectory("graft_memo_tmpgc").toString
    val artRoot = Files.createTempDirectory("graft_art_tmpgc").toString
    writeCorpus(dir, "tmpgc")
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      Dedup.release(spark, dir)
      val built = pairsOf(spark, dir)
      val fp = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
      val gen = new java.io.File(artRoot, fp)
      // a crashed write: tmp dir with data, never renamed
      val orphan = new java.io.File(gen, s"dedup.q31_pairs.parquet${OpUtils.SessionMemo.TmpSuffix}dead1234")
      assert(orphan.mkdirs())
      java.nio.file.Files.write(orphan.toPath.resolve("part-junk"), Array[Byte](1, 2))

      // inside the grace window the tmp survives (could be in-flight)
      spark.conf.set("spark.graft.artifactTmpGraceMs", "3600000")
      assert(OpUtils.SessionMemo.gcArtifacts(spark) == 0)
      assert(orphan.exists(), "in-grace tmp dir must not be reaped")

      // past the grace it is reaped; the committed artifact survives
      spark.conf.set("spark.graft.artifactTmpGraceMs", "0")
      assert(OpUtils.SessionMemo.gcArtifacts(spark) == 0, "generation itself is live")
      assert(!orphan.exists(), "post-grace orphan tmp must be reaped")
      assert(new java.io.File(gen, "dedup.q31_pairs.parquet/_SUCCESS").exists())
      // and the artifact still serves a fresh session
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", artRoot)
      assert(pairsOf(s2, dir) == built)
      Dedup.release(s2, dir)
    } finally {
      spark.conf.unset("spark.graft.artifactTmpGraceMs")
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("concurrent first-touch builds from two sessions commit exactly one artifact") {
    val dir = Files.createTempDirectory("graft_memo_race").toString
    val artRoot = Files.createTempDirectory("graft_art_race").toString
    writeCorpus(dir, "racer")
    val (sa, sb) = (spark.newSession(), spark.newSession())
    sa.conf.set("spark.graft.artifactDir", artRoot)
    sb.conf.set("spark.graft.artifactDir", artRoot)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      def race(s: org.apache.spark.sql.SparkSession) = Future {
        gate.await(); pairsOf(s, dir)
      }
      val (fa, fb) = (race(sa), race(sb))
      gate.countDown()
      val ra = Await.result(fa, scala.concurrent.duration.Duration(120, "s"))
      val rb = Await.result(fb, scala.concurrent.duration.Duration(120, "s"))
      assert(ra == rb && ra.contains((0L, 1L)))
      val fp = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
      val gen = new java.io.File(artRoot, fp)
      // the loser's tmp was dropped, the winner's rename committed
      val children = gen.listFiles().map(_.getName).toSeq
      assert(!children.exists(_.contains(OpUtils.SessionMemo.TmpSuffix)),
        s"no tmp leftovers after the race, got $children")
      assert(new java.io.File(gen, "dedup.q31_pairs.parquet/_SUCCESS").exists())
      // and the committed artifact is loadable + correct in a 3rd session
      val s3 = spark.newSession()
      s3.conf.set("spark.graft.artifactDir", artRoot)
      assert(pairsOf(s3, dir) == ra)
      Dedup.release(s3, dir)
    } finally {
      Dedup.release(sa, dir); Dedup.release(sb, dir)
    }
  }

  test("corpus fingerprint lists once per (session, dir) across memo families") {
    val dir = Files.createTempDirectory("graft_memo_fpcache").toString
    val artRoot = Files.createTempDirectory("graft_art_fpcache").toString
    writeCorpus(dir, "fpcache")
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      Dedup.release(spark, dir) // invalidate any cached fingerprint
      val before = OpUtils.SessionMemo.fingerprintListings.get()
      // two memo keys of the pair-table family: without the cache each
      // first touch pays its own full recursive corpus listing
      Dedup.q31MinhashLsh(spark, dir).count()
      Dedup.q47NgramJaccardInverted(spark, dir).count()
      val delta = OpUtils.SessionMemo.fingerprintListings.get() - before
      assert(delta == 1, s"expected ONE corpus listing for two memo touches, got $delta")
      // release invalidates: the next touch must re-list (a re-ingested
      // corpus would otherwise serve a stale generation forever)
      Dedup.release(spark, dir)
      Dedup.q31MinhashLsh(spark, dir).count()
      val delta2 = OpUtils.SessionMemo.fingerprintListings.get() - before
      assert(delta2 == 2, s"release must invalidate the fingerprint cache, got $delta2")
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("Main --release/--gc-artifacts operate the warm tier from the CLI") {
    val dir = Files.createTempDirectory("graft_memo_cli").toString
    val artRoot = Files.createTempDirectory("graft_art_cli").toString
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      writeCorpus(dir, "cligen1")
      Dedup.release(spark, dir)
      assert(pairsOf(spark, dir).nonEmpty)
      // re-ingest: the old generation is superseded
      writeCorpus(dir, "cligen2longer")
      Dedup.release(spark, dir)
      assert(pairsOf(spark, dir).nonEmpty)
      assert(new java.io.File(artRoot).listFiles().count(_.isDirectory) == 2)

      val cfg = graft.Main.parse(Array("--release", dir, "--gc-artifacts", artRoot))
      assert(cfg.isMaintenance)
      assert(cfg.releases == Seq(dir) && cfg.gcArtifacts.contains(artRoot))
      // release drops this process's memo entries (safety precondition),
      // gc then reaps exactly the superseded generation
      assert(graft.Main.runMaintenance(spark, cfg) == 1)
      assert(new java.io.File(artRoot).listFiles().count(_.isDirectory) == 1)
      // the ingest pipeline is short-circuited for maintenance configs;
      // a plain config still is not
      assert(!graft.Main.parse(Array("--staging", "/tmp/x")).isMaintenance)
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
      Dedup.release(spark, dir)
    }
  }

  test("release evicts pinned blocks and the next touch rebuilds correctly") {
    val dir = Files.createTempDirectory("graft_memo_rel").toString
    writeCorpus(dir, "relw")
    val sc = spark.sparkContext
    Dedup.release(spark, dir)
    org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(sc)
    val first = pairsOf(spark, dir)
    val withMemo = sc.getPersistentRDDs.size
    assert(withMemo > 0, "memo build must leave pinned checkpoint blocks")
    // sweeping with the memo live must keep the pinned blocks...
    org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(sc)
    assert(pairsOf(spark, dir) == first)
    // ...but after release they are unpinned: the sweep drops them
    Dedup.release(spark, dir)
    org.apache.spark.sql.graft.CheckpointUtils.sweepUnpinned(sc)
    val deadline = System.currentTimeMillis() + 10000
    def persistedForApp = sc.getPersistentRDDs.size
    var now = persistedForApp
    while (now >= withMemo && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); now = persistedForApp
    }
    assert(now < withMemo,
      s"released memo blocks must leave the block manager ($now vs $withMemo)")
    // and a post-release touch rebuilds the same answer
    assert(pairsOf(spark, dir) == first)
    Dedup.release(spark, dir)
  }

  test("logicVersion keys the warm artifact: a bump rebuilds instead of serving stale bytes") {
    // ground-truth/index memos (panel_top5, lsh_buckets*) fold a
    // logic-version token into the artifact key; without it a persisted
    // artifact from an older scoring/seeding would silently serve stale
    // ground truth to a fresh session.
    val dir = Files.createTempDirectory("graft_memo_ver").toString
    val artRoot = Files.createTempDirectory("graft_art_ver").toString
    writeCorpus(dir, "verkey")
    val memo = new OpUtils.SessionMemo("vtest")
    def build(s: org.apache.spark.sql.SparkSession, version: String, value: Long) = {
      import s.implicits._
      memo(s, dir, "k", version) {
        Seq((value, "x")).toDF("v", "s").localCheckpoint()
      }
    }
    spark.conf.set("spark.graft.artifactDir", artRoot)
    try {
      assert(build(spark, "v1", 1L).collect().head.getLong(0) == 1L)
      val fp = OpUtils.SessionMemo.corpusFingerprint(spark, dir)
      assert(new java.io.File(s"$artRoot/$fp/vtest.k-v1.parquet/_SUCCESS").exists(),
        "versioned artifact path must carry the logic-version token")
      // ledger key stays UNVERSIONED (cross-round bench comparability)
      assert(OpUtils.SessionMemo.buildSeconds.keySet.exists(_.startsWith("vtest.k")))
      assert(!OpUtils.SessionMemo.buildSeconds.keySet.exists(_.contains("k-v1")))

      // fresh session, SAME version: loads the artifact (value 1 even
      // though the build closure would now produce 2)
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", artRoot)
      assert(build(s2, "v1", 2L).collect().head.getLong(0) == 1L,
        "same version must serve the persisted artifact")

      // fresh session, BUMPED version: must REBUILD (value 3), not serve v1
      val s3 = spark.newSession()
      s3.conf.set("spark.graft.artifactDir", artRoot)
      assert(build(s3, "v2", 3L).collect().head.getLong(0) == 3L,
        "a version bump must orphan the old artifact and rebuild")
      assert(new java.io.File(s"$artRoot/$fp/vtest.k-v2.parquet/_SUCCESS").exists())
    } finally {
      spark.conf.unset("spark.graft.artifactDir")
    }
  }

  test("nested memo builds keep the ledger additive (child time excluded from parent)") {
    // triangle_counts is DERIVED from edge_triangles: a cold touch of
    // q125 builds both, the child inside the parent's build closure.
    // The ledger must charge the enumeration to edge_triangles and only
    // the cheap rollup to triangle_counts — before the exclusive-frame
    // fix the parent entry double-counted the whole child build.
    OpUtils.SessionMemo.releaseAll(spark, sfDir)
    // deltas are summed per memo prefix: a key's label gains an
    // `@<dir>` suffix once another corpus touched it, so per-label
    // differences could mix corpora
    def charged(ledger: Map[String, Double], prefix: String): Double =
      ledger.collect { case (k, v) if k.startsWith(prefix) => v }.sum
    val before = OpUtils.SessionMemo.buildSeconds
    val t0 = System.nanoTime()
    Graphs.q125TriangleCount(spark, sfDir).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val after = OpUtils.SessionMemo.buildSeconds
    def delta(prefix: String): Double = {
      val d = charged(after, prefix) - charged(before, prefix)
      assert(d > 0, s"$prefix must have rebuilt")
      d
    }
    val child = delta("graphs.edge_triangles")
    val parent = delta("graphs.triangle_counts")
    assert(parent < child,
      s"derived rollup ($parent s) must be charged less than the enumeration ($child s)")
    // additive: everything charged during the call fits inside its wall
    val total = charged(after, "") - charged(before, "")
    assert(total <= wall, s"ledger charged $total s during a $wall s call")
    OpUtils.SessionMemo.releaseAll(spark, sfDir)
  }
}
