package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.corpus.{Corpus, SyntheticCorpus}
import graft.index.{IndexBuilder, IndexConfig, PostingIndex}

/** Round benchmark (driver contract: ONE JSON line on stdout).
  *
  * Measures the BASELINE.json metrics:
  *
  *  1. index-build throughput (files/sec) as the SAME job over the SAME
  *     materialized input at 2 vs 8 pinned cores — the sandbox stand-in for
  *     N vs 4N executors (see BASELINE.md for why 8→32 threads saturates
  *     this box's single memory bus) — reporting throughput at both and
  *     eff = (r4N/rN) / 4.
  *  2. p50/p95 query latency for BM25 top-10 over the prebuilt compressed
  *     index on that corpus, reference query set (rank-identity for these
  *     queries is gated bit-exactly in IndexSpec).
  *  3. a timed pass over SparkEntry queries at SPARK_GRAFT_SF_DIR
  *     (breadth surface; includes the DuckDB-gated forms).
  *
  * THE WHOLE RUN IS DEADLINE-BOXED (SPARK_GRAFT_BENCH_BUDGET seconds,
  * default 200, clamped by the measured sbt-ancestor age against
  * SPARK_GRAFT_WALL_BUDGET): the driver kills the bench harness at ~240 s
  * wall including sbt startup, so every section checks the remaining
  * budget before starting more work, and the JSON line is ALWAYS printed —
  * with whatever sections completed — rather than dying mid-measurement
  * (round-1 failure mode: 5 × 400k-doc builds alone exceeded the budget).
  * The scaling measurement itself runs in ONE child JVM
  * ([[graft.tools.ScalePair]]) so boot/session/JIT are paid once, with
  * SYMMETRIC rep counts per level and two stdin gates keeping parent load
  * out of every mandatory rep (see ScalePair's scaladoc).
  *
  * STDOUT carries a COMPACT (<=1500-char) contract line — headline
  * queries + counts + every section block; the FULL per-query map is in
  * the run-stamped file its `queries_full` names, under the gitignored
  * `bench-runs/` (the line is read from a 2000-char stdout tail, which
  * the round-4 full line outgrew; a fixed committed file would be
  * overwritten by every run).
  *
  * Reference baseline (BASELINE.md): 0.2–0.84 s/query at 223k docs with the
  * whole CSR index in RAM, single thread.
  */
object Bench {

  private val t0Main = System.nanoTime()
  private def elapsed: Double = (System.nanoTime() - t0Main) / 1e9

  /** Locale-pinned numeric formatting: the JSON contract must not depend on
    * the JVM default locale (a comma decimal separator would break the
    * driver's parse).
    */
  private def jn(v: Double, dec: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val referenceQueries = Seq(
    "longest river", "best complexity", "world war one",
    "artificial intelligence", "climate change", "science", "return")

  /** Breadth pass order, three tiers so a deadline cut drops the least:
    * (0) one CHEAP representative of every operator family — search, BM25,
    * scan, stats, text analysis, exact+simhash dedup, brute similarity,
    * windows, multimodal — then (1) the measured-expensive tail
    * (shingle-join/minhash dedup, LSH ANN, iterative CC: 2-11 s each at
    * sf0.1), then (2) the remaining cheap VARIANTS (t1/ep2 per-query
    * forms — redundant with their tier-0 family representative, so they
    * are what a loaded-host cut should drop; two rounds running the cut
    * fell on the expensive tier instead, leaving the scale-critical
    * dedup/CC family untimed). (s8_index_stats was last while it scanned
    * the postings — 13.6 s; it now reads manifest counters and is
    * ordinary-cheap.)
    */
  private val breadthCheapCoverage = Seq(
    "ep2_wand_tsm", "t1_bm25_tsm", "s1_scan_docs", "a9_stats",
    "token_counts", "text_quality", "lang_id", "dedup_exact",
    "w1_event_tumbling", "w2_event_sessions", "w3_event_props",
    "multimodal_sha", "multimodal_features", "doc_fingerprint",
    "ann_brute_cosine", "dedup_simhash", "w4_event_asof",
    // sampling-family representative (one broadcast-count join + filter)
    "sample_domain_mix",
    // delete-lifecycle family representative (tombstone-overlay WAND —
    // cheap; the compacted variant is tier-2-redundant with it): a loaded
    // cut must not leave the whole lifecycle family untimed
    "ep2_wand_tsm_deleted",
    // query-mode family representatives: attribute-filtered (broadcast
    // path; the forced-cogroup variant is tier-2), prefix expansion, and
    // phrase (conjunctive DAAT + adjacency verification on candidates)
    "ep2_wand_tsm_lang_en", "ep2_wand_prefix_s",
    "ep2_wand_phrase_ts",
    // facet aggregation over the match set (postings decode -> distinct ->
    // attribute join -> groupBy) — its own plan family; fuzzy expansion is
    // tier-2-redundant with prefix's dictionary-expansion machinery
    "ep2_wand_facet_lang",
    // boolean must/should/mustNot (single-pass DAAT with forward
    // not-cursor exclusion) — its own plan family; the no-must variant is
    // tier-2-redundant with it
    "ep2_wand_bool_tms",
    // more-like-this (point lookup -> profile probe -> weighted WAND) —
    // the document-as-query plan family
    "ep2_wand_mlt_42",
    // table-valued batch search (distributed query analysis -> term x
    // query-batch block join -> shard x batch cogroup) — the offline-eval
    // plan family; the broadcast batch form and suggest are tier-2
    "ep2_wand_many_tbl",
    // code-governance family representatives: one row-local member
    // (metrics+verdict — secret/license/vendored are tier-2-redundant
    // with it) and the one shuffling member (sha-keyed fork containment)
    "code_metrics", "repo_overlap").zipWithIndex.toMap
  private val breadthExpensive = Seq(
    "dedup_embed_cosine",
    // the sweep reruns the blocked pair grid at the loosest threshold
    "embed_sweep",
    // basket-pair self-join over lineitem (4 s cold — dedup-family cost)
    "h8_basket_lift",
    "ann_lsh", "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    // containment shares the jaccard twin's shingle self-join cost
    "dedup_containment",
    // ppjoin pays the df join + groupBy-doc + prefix self-join chain
    "dedup_ppjoin",
    // decontamination tokenizes + explodes the full train side (shingle
    // UDF cost without the pair join)
    "decontam_audit",
    // duplicated-span profile explodes ~dl windows per doc (w-gram md5
    // UDF + two agg shuffles + a join back — decontam-class cost)
    "dedup_spans",
    // novelty explodes + hashes every shingle (decontam-class scan, no
    // self-join); dsir explodes 2n-1 hashed features per doc; the sweep
    // reruns the capped jaccard pair pass; snapshot novelty tokenizes
    // BOTH crawls (two decontam-class scans)
    "ngram_novelty", "dsir_weights", "dedup_sweep", "snapshot_novelty",
    // iterative connected-components queries: many short jobs each
    // (canonical selection reruns the cluster chain + a window; the
    // histogram reruns it too)
    "dedup_components", "dedup_minhash_clusters",
    "dedup_canonical", "dedup_cluster_hist",
    // the KMV sketches pay a corpus-scale token explode + distinct
    // (decontam-class scan) before their bounded bottom-k windows
    "sketch_kmv_distinct", "sketch_source_overlap").zipWithIndex.toMap
  private def breadthOrder(name: String): (Int, Int, String) =
    breadthCheapCoverage.get(name).map((0, _, name))
      .orElse(breadthExpensive.get(name).map((1, _, name)))
      .getOrElse((2, 0, name))

  private var keptIdxDir: String = _

  // --- section payloads, shared with the watchdog thread -------------------
  // The contract is ONE JSON line, ALWAYS. Two paths can print it: the main
  // thread's finally block, or the watchdog below if a section wedges past
  // the budget (a hung child JVM / stuck Spark job would otherwise ride
  // straight into the driver's SIGKILL with nothing on stdout — the round-1
  // failure). AtomicBoolean makes the print exactly-once.
  @volatile private var buildJson = ""
  @volatile private var bigvocabJson = ""
  @volatile private var latJson = ""
  @volatile private var soakJson = ""
  @volatile private var results = Vector.empty[(String, Double)]
  @volatile private var total = 0.0
  @volatile private var skipped = 0
  @volatile private var errNote = ""
  @volatile private var tailJson = "" // sf/scale_docs context, set early
  @volatile private var liveChild: Process = _
  private val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The headline per-query subset carried on STDOUT — one per
    * plan-family that the round-over-round comparison actually reads.
    * The FULL per-query map goes to [[fullPath]] only: the reader keeps a
    * 2000-char stdout tail, and the round-4 contract line (86 queries,
    * 2754 chars) outgrew it — the driver captured the line mid-way and
    * parsed null. The stdout line is budgeted <= 1500 chars (and
    * self-trims if a long error note would push it over).
    */
  private val headlineQueries = Seq(
    "ep2_wand_tsm", "t1_bm25_tsm", "bm25_stemmed_tsm", "j2_hydrate",
    "ep2_hybrid_rrf", "ep2_explain_tsm", "ep2_sigterms_dup",
    "dedup_minhash_lsh", "dedup_components", "dedup_ngram_jaccard",
    "decontam_audit", "ann_ivf", "ann_ivf_q", "f7_kwic_pos", "s1_scan_docs")

  /** This run's full-map file. */
  private val fullPath = java.nio.file.Paths.get("bench-runs",
    java.time.format.DateTimeFormatter.ofPattern("'bench-'yyyyMMdd-HHmmss'.json'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()))

  private def emitAndHalt(code: Int): Unit = {
    if (emitted.compareAndSet(false, true)) {
      val c = liveChild
      if (c != null) c.destroyForcibly() // stop it competing with hostCal
      val snap = results
      def qMap(entries: Seq[(String, Double)]): String =
        entries.map { case (k, v) => s""""$k":${jn(v)}""" }
          .mkString("{", ",", "}")
      val hostJson = {
        val (cpu, mem) = hostCal()
        s""""host_cal_cpu_sec":${jn(cpu)},"host_cal_mem_sec":${jn(mem)},"""
      }
      def line(queries: Seq[(String, Double)], full: Boolean): String =
        s"""{"metric":"total","value":${jn(total)},"unit":"sec",""" +
        s""""queries":${qMap(queries)},"queries_timed":${snap.size},""" +
        s""""queries_skipped":$skipped,""" +
        (if (full) "" else s""""queries_full":"$fullPath",""") +
        tailJson + errNote + buildJson + bigvocabJson + latJson + soakJson +
        hostJson + s""""elapsed_sec":${jn(elapsed)}}"""
      val fullLine = line(snap, full = true)
      // compact stdout line: headline families first (measured values),
      // then self-trim until it fits the driver's tail window with margin
      val have = snap.toMap
      var head = headlineQueries.flatMap(q => have.get(q).map(q -> _))
      var compact = line(head, full = false)
      while (compact.length > 1500 && head.nonEmpty) {
        head = head.dropRight(1)
        compact = line(head, full = false)
      }
      // belt-and-braces for the driver's parse: the compact line on stdout
      // (bare — build.sbt routes forked run output through StdoutOutput,
      // no sbt prefix) AND the full line in this run's own file
      try {
        Files.createDirectories(fullPath.getParent)
        Files.writeString(fullPath, fullLine + "\n")
      } catch { case _: Throwable => () }
      println(compact)
      System.out.flush()
      // halt WITHOUT shutdown hooks: Spark's exit-time temp cleanup TRIMs
      // hundreds of MB on this `discard`-mounted fs and can eat >30 s of
      // the harness budget after all measurements are already printed
      Runtime.getRuntime.halt(code)
    }
  }

  /** Wall seconds already burned by the sbt/java ancestor chain before this
    * JVM's main() — the driver's kill timer starts at `sbt` launch, and sbt
    * boot + incremental compile swings 20–100+ s with host load. Walk
    * /proc ppid links upward through java/sbt/shell/timeout ancestors and
    * return the age of the oldest one (stop at anything else, e.g. the
    * driver's python — its age is the whole round). Best-effort: 0 on any
    * parse failure or non-Linux.
    */
  private def ancestorAgeSec(): Double = {
    try {
      val uptime = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/uptime")),
        java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble
      val allowed = Set("java", "sbt", "sh", "bash", "dash", "timeout", "sbt-launch")
      var pid = "self"
      var oldest = 0.0
      var hops = 0
      var done = false
      while (!done && hops < 12) {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/$pid/stat")),
          java.nio.charset.StandardCharsets.UTF_8)
        // comm is parenthesized and may contain spaces; fields after it
        val close = stat.lastIndexOf(')')
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        val rest = stat.substring(close + 2).split(" ")
        val ppid = rest(1) // field 4 overall
        val startTicks = rest(19).toLong // field 22 overall
        val age = uptime - startTicks / 100.0
        // A MANUAL launch from a long-lived interactive SHELL would count
        // that shell's hours as "sbt boot" and collapse the budget to the
        // 30 s floor — so the age cutoff applies to shells only. It must
        // NOT apply to sbt/java/timeout: a contended cold compile can
        // legitimately take >10 min, and dropping that ancestor would make
        // the bench plan past the driver's wall kill (the round-2
        // parsed-null failure mode).
        val isShell = Set("sh", "bash", "dash").exists(comm.startsWith)
        val ok = (pid == "self" || allowed.exists(comm.startsWith)) &&
          (!isShell || age < 600)
        if (ok) {
          if (age > oldest) oldest = age
          if (ppid == "1" || ppid == "0") done = true else pid = ppid
        } else done = true
        hops += 1
      }
      math.max(0.0, oldest)
    } catch { case _: Throwable => 0.0 }
  }

  /** Host calibration pair, printed with every JSON line — the sandbox is
    * a shared host whose load swings identical builds 2-3x run-to-run, so a
    * reader must be able to tell "slow engine" from "loaded host":
    *
    *  - cpu: fixed single-thread FNV spin (~0.5 s idle) — CPU steal;
    *  - mem: 8 threads streaming 32 MB each x8 passes (~0.2-0.4 s idle) —
    *    shared-memory-bus contention, which is what actually throttles the
    *    shuffle/sort phases (observed: cpu cal normal while builds ran
    *    2.7x slow — the bus was saturated by neighbors, not the cores).
    */
  private def hostCal(): (Double, Double) = {
    val t0 = System.nanoTime()
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < 400000000) { h ^= i; h *= 0x100000001b3L; i += 1 }
    if (h == 42L) println("") // keep the loop alive
    val cpu = (System.nanoTime() - t0) / 1e9
    val threads = 8
    val words = 4 * 1024 * 1024 // 32 MB of longs per thread
    val arrs = Array.fill(threads)(Array.tabulate(words)(_.toLong))
    val sums = new java.util.concurrent.atomic.AtomicLong()
    val t1 = System.nanoTime()
    val ts = arrs.map { a =>
      val t = new Thread(() => {
        var s = 0L
        var p = 0
        while (p < 8) { var j = 0; while (j < a.length) { s += a(j); j += 1 }; p += 1 }
        sums.addAndGet(s)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (sums.get() == 42L) println("")
    (cpu, (System.nanoTime() - t1) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 240k docs: big enough that serial per-build overhead (~2-3 s of job
    // setup/commit) stays a small fraction of the 2-core rep (the Amdahl
    // floor that cost ~0.08 efficiency at 224k is mostly avoided), small
    // enough that the SYMMETRIC 2+2 rep plan (round-5 verdict item) fits
    // the driver budget on a quiet host. Affordable inside the budget
    // because the corpus lives on tmpfs.
    val scaleDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "240000").toLong
    // Default sized against the observed driver kill at ~239 s wall; the
    // MEASURED sbt-chain age clamp below is what actually protects against
    // a long contended boot (the fixed default alone would sail past the
    // driver's wall kill). 200 (up from 188) funds the symmetric second
    // 2-core scaling rep; the wall clamp still binds first when boot ran
    // long.
    val wallBudget = sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET", "226").toDouble
    val sbtAge = ancestorAgeSec()
    val budget = math.max(30.0,
      math.min(sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "200").toDouble,
        wallBudget - sbtAge - 13)) // 13 s: emit + hostCal + flush reserve
    def remaining: Double = budget - elapsed

    tailJson = s""""sf":"$sfDir","scale_docs":$scaleDocs,""" +
      s""""sbt_boot_sec":${jn(sbtAge, 1)},"budget_sec":${jn(budget, 1)},"""

    // Watchdog: if any section wedges (hung child JVM, stuck Spark job,
    // cancellation that never returns), print the line with whatever
    // completed and halt — BEFORE the driver's external kill.
    val watchdog = new Thread(() => {
      try {
        while (elapsed < budget + 6 && !emitted.get())
          Thread.sleep(250)
      } catch { case _: InterruptedException => () }
      if (!emitted.get()) {
        System.err.println(s"[bench] WATCHDOG fired at elapsed=${jn(elapsed)}")
        emitAndHalt(0)
      }
    }, "bench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    try {
      System.err.println(
        s"[bench] main entry elapsed=${jn(elapsed)} sbtAge=${jn(sbtAge, 1)} budget=${jn(budget, 1)}")
      if (sys.env.contains("GRAFT_BENCH_HANG")) // watchdog self-test hook
        Thread.sleep(3600 * 1000L)
      // --- materialize the scaling corpus once (all builds read these files)
      // deterministic location, on tmpfs: reused across bench invocations,
      // written and read at RAM speed (the discard-mounted /tmp disk paid
      // both writeback TRIMs on generation and page-cache misses on the
      // first child read — ~45 s of round-1's budget); ~600 MB per variant
      // in a 64 GiB /dev/shm, age-gated cleanup below
      val corpusDir = s"/dev/shm/graft-bench-corpus-$scaleDocs-f64"
      val shm = java.nio.file.Paths.get("/dev/shm")
      val cutoff = System.currentTimeMillis() - 60 * 60 * 1000
      java.nio.file.Files.list(shm).forEach { p =>
        val nm = p.getFileName.toString
        if ((nm.startsWith("graft-bench-corpus") ||
             nm.startsWith("graft-bench-soakidx") ||
             nm.startsWith("graft-bench-bigvocab-idx")) &&
            !p.toString.startsWith(corpusDir) &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
      }
      // warm corpus: a SEPARATE small dir (1/warmDivisor of the docs) whose
      // build has the exact plan shape of the timed reps — see ScalePair's
      // scaladoc for why a slice filter would warm the wrong codegen classes
      // 48: big enough to JIT the hot loops (probe evidence below was a
      // ~9k-doc warm; 6.25k still clears every JIT threshold by orders of
      // magnitude), small enough that a loaded-host 2-core warm build costs
      // ~20 s, not 32 (run-to-run child wall swings ate the breadth tail)
      val warmDivisor = 48
      val warmDir = s"$corpusDir-warm${scaleDocs / warmDivisor}"
      if (!Files.exists(java.nio.file.Paths.get(corpusDir, "_SUCCESS")) ||
          !Files.exists(java.nio.file.Paths.get(warmDir, "_SUCCESS"))) {
        val s = session(cpus)
        // ~2 KB docs (realistic corpus scale), 64 input files: enough scan
        // task depth at every parallelism level without putting hundreds of
        // serial task launches on the driver per stage
        try {
          SyntheticCorpus.generate(s, scaleDocs, 42L, 160, 480, parts = 64)
            .write.mode("overwrite").parquet(corpusDir)
          // probe evidence for the divisor: a ~9k-doc warm left 2-core reps
          // within 0.3% of each other
          SyntheticCorpus.generate(s, scaleDocs / warmDivisor, 43L, 160, 480,
              parts = 8)
            .write.mode("overwrite").parquet(warmDir)
        } finally s.stop()
      }
      // NO driver-side page-cache pre-read here: a single-threaded
      // readAllBytes over the ~600 MB corpus took 2+ MINUTES when the
      // host's disk was contended (nearly the whole harness budget). The
      // child's untimed warm-up build reads the corpus through parallel
      // Spark scans and warms the cache as a side effect.

      System.err.println(s"[bench] corpus ready elapsed=${jn(elapsed)}")
      // bench index layout: shards sized to the corpus (production holds
      // docs-per-shard roughly constant; see BuildTo scaladoc)
      val benchShards = 16
      val benchTb = 4

      def buildInProcess(n: Int): Double = {
        val s = session(n)
        try {
          val dir = Files.createTempDirectory(s"graft-bench-idx-$n").toString
          val docs = Corpus.fromCodeDocs(s.read.parquet(corpusDir))
          val (_, sec) = timed(IndexBuilder.build(s, docs, dir,
            IndexConfig(shards = benchShards, termBuckets = benchTb,
              commitWaves = 1)))
          keptIdxDir = dir
          sec
        } finally s.stop()
      }

      /** Honest N-core emulation: the child JVM warms up (untimed build of
        * the separate warm corpus — scaleDocs/48 docs, same plan shape —
        * JIT at full machine speed; a real cluster JIT-compiles once
        * per long-lived executor JVM, identically at N and 4N executors),
        * then SELF-PINS all threads to N cores via `taskset -apc` and runs
        * `reps` timed builds, printing the best. Returns (best build seconds
        * measured inside the child, wall seconds including JVM startup —
        * the latter drives the deadline math). Falls back to in-process if
        * exec is unavailable.
        */
      def buildAt(n: Int, reps: Int): (Double, Double) = {
        val tw0 = System.nanoTime()
        val sec = try {
          val dir = Files.createTempDirectory(s"graft-bench-idx-$n").toString
          val javaBin = System.getProperty("java.home") + "/bin/java"
          val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
            .getInputArguments
          val cmd = new java.util.ArrayList[String]()
          cmd.add(javaBin)
          // drop agent + heap + pretouch flags; a 4g heap is plenty for the
          // bench build, and pretouch costs 10-40 s of contended page-zeroing
          // before main() on this host (the warm build touches pages instead)
          jvmArgs.forEach(a =>
            if (!a.startsWith("-agentlib") && !a.startsWith("-Xmx") &&
                !a.startsWith("-Xms") && a != "-XX:+AlwaysPreTouch") cmd.add(a))
          cmd.add("-Xmx4g"); cmd.add("-Xms4g")
          // size GC/compiler pools for the pinned state, not the 32-core box
          // (but keep enough JIT threads that the unpinned warm-up compiles
          // at full speed)
          cmd.add(s"-XX:ActiveProcessorCount=$n")
          cmd.add("-XX:CICompilerCount=4")
          cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
          cmd.add("graft.tools.BuildTo"); cmd.add(corpusDir); cmd.add(dir)
          cmd.add(n.toString); cmd.add(reps.toString)
          cmd.add(warmDir) // same-plan warm corpus (see ScalePair scaladoc)
          cmd.add(s"0-${n - 1}") // self-pin AFTER warm-up
          cmd.add("1") // single commit wave (same job shape at both levels)
          val pb = new ProcessBuilder(cmd)
          pb.environment().put("GRAFT_SHARDS", benchShards.toString)
          pb.environment().put("GRAFT_TB", benchTb.toString)
          pb.redirectErrorStream(true)
          val proc = pb.start()
          liveChild = proc
          // Read the child's stream INCREMENTALLY and kill it the moment the
          // result line appears: after `spark.stop()` the child spends tens
          // of seconds in shutdown-hook temp cleanup (this box's ext4 is
          // mounted with `discard`, so deleting ~400 MB of shuffle files
          // issues synchronous TRIMs) — wall time the measurement must not
          // pay. The leaked spark-* temp dirs are bounded (~corpus size per
          // child) and /tmp is recycled between rounds.
          val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
          val Secs = """BUILDTO done secs=([0-9.]+)""".r
          var result: Option[Double] = None
          var line = reader.readLine()
          while (line != null && result.isEmpty) {
            if (line.startsWith("BUILDTO"))
              System.err.println(s"[bench child n=$n] $line")
            Secs.findFirstMatchIn(line).foreach(m => result = Some(m.group(1).toDouble))
            if (result.isEmpty) line = reader.readLine()
          }
          proc.destroyForcibly()
          result match {
            case Some(secs) =>
              keptIdxDir = dir
              secs
            case None =>
              val code = proc.waitFor()
              System.err.println(s"[bench] pinned build failed (code=$code), falling back in-process")
              buildInProcess(n)
          }
        } catch {
          case _: java.io.IOException => buildInProcess(n)
        }
        val wall = (System.nanoTime() - tw0) / 1e9
        System.err.println(
          s"[bench] buildAt(n=$n, reps=$reps): best=${jn(sec)}s wall=${jn(wall)}s elapsed=${jn(elapsed)}s")
        (sec, wall)
      }

      /** Preferred scaling measurement: ONE child JVM measuring both levels
        * (graft.tools.ScalePair) — JVM boot, session init and JIT warm-up
        * paid once, reps budget-driven inside the child, shuffle scratch on
        * tmpfs. The child is killed on its `done` line (exit-hook cleanup
        * TRIMs for tens of seconds on this fs). Returns per-level rep times
        * and the 8-core index dir, or None if the spawn failed.
        */
      // set when the child's timed reps started before the prewarm gate
      // released (alive-but-slow parent): the scaling draw may be polluted
      // by prewarm load and the JSON line says so
      var gateTimedOut = false
      // partial reps rescued from a self-aborted ScalePair child
      val partialT2 = ArrayBuffer.empty[Double]
      val partialT8 = ArrayBuffer.empty[Double]
      // overlapped tier-2 breadth (wired up after the breadth machinery
      // below — a forward def would cross the t2/t8 value definitions)
      @volatile var tier2Fut: scala.concurrent.Future[Unit] = null
      @volatile var maybeOverlapTier2: () => Unit = () => ()
      // set when the scaling child approaches its GO2 gate: the overlapped
      // breadth pass must QUIESCE (finish the in-flight query and stop)
      // rather than run into a timed 8-core rep — the round-5 shakedown
      // run's go2 CAP released the gate mid-tier-2 and the polluted
      // numerator read 0.412. Stopped queries are NOT counted skipped;
      // the serial remainder pass picks them up after the child.
      @volatile var overlapStop = false
      def runScalePair(budgetSec: Double,
                       gateOn: scala.concurrent.Future[_]):
          Option[(Seq[Double], Seq[Double], String)] = {
        try {
          // timed index outputs on tmpfs: a cluster writes to HDFS/S3, not a
          // discard-mounted VM disk whose writeback/TRIM noise dominated
          // rep variance; ScalePair wipes stale graft-bench-sp dirs itself
          val outBase = s"/dev/shm/graft-bench-sp-${System.nanoTime()}"
          val javaBin = System.getProperty("java.home") + "/bin/java"
          val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
            .getInputArguments
          val cmd = new java.util.ArrayList[String]()
          cmd.add(javaBin)
          jvmArgs.forEach(a =>
            if (!a.startsWith("-agentlib") && !a.startsWith("-Xmx") &&
                !a.startsWith("-Xms") && a != "-XX:+AlwaysPreTouch") cmd.add(a))
          cmd.add("-Xmx4g"); cmd.add("-Xms4g")
          // GC threads sized for the 8-core level (a real deployment sizes
          // GC to the executor's cores; 4 GC threads made every STW pause
          // run at half the pinned width during the allocation-heavy
          // shuffle+sort+encode phase). The 2-core level oversubscribes
          // either way.
          cmd.add("-XX:CICompilerCount=4"); cmd.add("-XX:ParallelGCThreads=8")
          cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
          cmd.add("graft.tools.ScalePair"); cmd.add(corpusDir); cmd.add(outBase)
          cmd.add(jn(budgetSec, 1)); cmd.add(warmDir)
          val pb = new ProcessBuilder(cmd)
          pb.environment().put("GRAFT_SHARDS", benchShards.toString)
          pb.environment().put("GRAFT_TB", benchTb.toString)
          pb.environment().put("GRAFT_SP_GATE", "1")
          pb.redirectErrorStream(true)
          System.err.println(s"[bench] spawning scalepair elapsed=${jn(elapsed)}")
          val proc = pb.start()
          liveChild = proc
          // release the child's timed-rep gate the moment the overlapped
          // prewarm finishes (or unconditionally after 120 s — a wedged
          // prewarm must not starve the scaling measurement; the child's
          // own gate deadline is shorter still)
          val gateSender = new Thread(() => {
            try scala.concurrent.Await.ready(gateOn,
              scala.concurrent.duration.Duration(120, "s"))
            catch { case _: Throwable => () }
            try {
              proc.getOutputStream.write("GO\n".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              proc.getOutputStream.flush()
            } catch { case _: Throwable => () }
          }, "graft-sp-gate")
          gateSender.setDaemon(true)
          gateSender.start()
          val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
          val Rep = """SCALEPAIR rep n=(\d+) secs=([0-9.]+)""".r.unanchored
          val Done = """SCALEPAIR done idx=(\S+)""".r.unanchored
          val r8 = ArrayBuffer.empty[Double]
          val r2 = ArrayBuffer.empty[Double]
          var idx: Option[String] = None
          var line = reader.readLine()
          while (line != null && idx.isEmpty) {
            if (line.startsWith("SCALEPAIR"))
              System.err.println(s"[bench scalepair] $line (elapsed=${jn(elapsed, 1)})")
            if (line.contains("SCALEPAIR gate go=false") ||
                line.contains("SCALEPAIR gate2 go=false")) gateTimedOut = true
            // `overlapok`: the child is past every rep that parent load
            // could bias toward a BETTER ratio (only the min()-shielded
            // 2-core hedge rep and the untimed warm remain before the GO2
            // gate) — run the tier-2 breadth + bigvocab lane now, and
            // release GO2 the moment that work quiesces
            if (line.contains("SCALEPAIR overlapok")) maybeOverlapTier2()
            // the child pinned itself onto the 8-core set — its untimed
            // warm8 is the only pre-gate work left: quiesce the overlap
            // pass now (it finishes only the in-flight query, <=15 s cap,
            // inside the warm's shadow) and release the gate when it has.
            // The Await cap is a dead-future backstop, not the quiesce
            // mechanism (the round-5 shakedown showed a hard cap releases
            // the gate INTO parent load — efficiency read 0.412)
            if (line.contains("SCALEPAIR pinned=0-7")) {
              overlapStop = true
              val go2Sender = new Thread(() => {
                val f = tier2Fut
                if (f != null)
                  try scala.concurrent.Await.ready(f,
                    scala.concurrent.duration.Duration(35, "s"))
                  catch { case _: Throwable => () }
                try {
                  proc.getOutputStream.write("GO2\n".getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
                  proc.getOutputStream.flush()
                } catch { case _: Throwable => () }
              }, "graft-sp-gate2")
              go2Sender.setDaemon(true)
              go2Sender.start()
            }
            line match {
              case Rep(n, s) =>
                if (n == "8") r8 += s.toDouble else r2 += s.toDouble
              case Done(d) => idx = Some(d)
              case _ => ()
            }
            if (idx.isEmpty) line = reader.readLine()
          }
          proc.destroyForcibly()
          idx match {
            case Some(d) if r8.nonEmpty && r2.nonEmpty =>
              Some((r8.toSeq, r2.toSeq, d))
            case _ =>
              proc.waitFor()
              // a self-aborted child may still have produced usable partial
              // reps (e.g. the 2-core level landed, the 8-core tail did
              // not): hand them to the caller so the fallback only has to
              // fill the MISSING level instead of rebuilding both
              partialT2 ++= r2
              partialT8 ++= r8
              None
          }
        } catch { case _: java.io.IOException => None }
      }

      // N vs 4N cores (N=2): the single-JVM paired measurement, falling
      // back to one pinned child per level — the worst case must still
      // emit a complete JSON line before the driver's kill.
      val t2 = ArrayBuffer.empty[Double]
      val t8 = ArrayBuffer.empty[Double]
      // (re)publish the scaling section after EVERY pair measurement — the
      // watchdog may fire during any later section and must still emit it
      def setBuildJson(): Unit = if (t2.nonEmpty && t8.nonEmpty) {
        // SYMMETRIC best-of: min over the first k reps of EACH level,
        // k = min(count) — an extra hedge rep on one side must never tilt
        // the ratio (round-4: repsN=1/reps4N=2 manufactured eff 1.025).
        // The child's rep plan is symmetric by construction; this guards
        // the rescued-partial and fallback paths too.
        val k = math.min(t2.size, t8.size)
        val secN = t2.take(k).min
        val sec4N = t8.take(k).min
        val rN = scaleDocs / secN
        val r4N = scaleDocs / sec4N
        val effRaw = (r4N / rN) / 4.0
        // >1 is unphysical for this workload: report the capped value as
        // the headline and keep the raw draw + a noise flag beside it
        val eff = math.min(1.0, effRaw)
        buildJson =
          s""""build":{"localN_cores":2,"local4N_cores":8,"repsN":$k,"reps4N":$k,""" +
          s""""localN_sec":${jn(secN)},"localN_docs_per_sec":${jn(rN, 1)},""" +
          s""""local4N_sec":${jn(sec4N)},"local4N_docs_per_sec":${jn(r4N, 1)},""" +
          s""""scaling_efficiency":${jn(eff)}""" +
          (if (effRaw > 1.0)
            s""","scaling_efficiency_raw":${jn(effRaw)},"scaling_noise":true"""
           else "") +
          (if (gateTimedOut) ""","gate_timeout":true""" else "") + "},"
      }
      // Prewarm OVERLAPPED with the child's untimed boot+warm window: the
      // parent's cached-index/stemmed-tf builds and the two plan-shape
      // throwaway queries run on the parent session at local[cpus] WHILE
      // the child JVM boots and does its JIT warm build — both are untimed,
      // so the overlap is free budget (r4 first shipped prewarm as a serial
      // 10-17 s section and a loaded draw then cut breadth to 22/60). The
      // child is stdin-GATED (GRAFT_SP_GATE): it will not start its first
      // TIMED rep until the parent signals the prewarm finished, so parent
      // load normally cannot pollute a timed scaling rep — if prewarm
      // overruns the warm window the child idles (bounded by its gate cap);
      // past the cap it proceeds and the line carries gate_timeout:true.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      @volatile var prewarmSecs = -1.0
      val prewarmFut: Future[SparkSession] = Future {
        val sp = session(cpus)
        val (_, pw) = timed(
          try {
            SparkEntry.prewarm(sp, sfDir)
            // plan-shape warm: one throwaway run per COLD-MEASURED family
            // so their timed entries measure the plan, not first-query
            // codegen/JIT/scan warm-up — r3's first-position queries ran
            // 2-10x their warm variants purely from run position, and r4's
            // explain/hybrid/sigterms families swung 3-5.5x between runs
            // for the same reason (round-5 verdict item 3)
            locally {
              // expensive-first so a 4-wide pool drains evenly: the list
              // ran serially through round 5 session 7 and grew to ~30 s
              // of the dress window; 4 concurrent throwaways on the
              // 24-core parent (all untimed, child still in its warm)
              // cut the makespan to ~the longest single query. Cold-cost
              // probes per query in the comments of the serial-era list.
              val warmQs = Seq(
                "dedup_ppjoin",    // 9.5 s cold vs 3.6 warm
                "colloc_pmi",      // 8.9 s cold vs 1.6 warm
                "url_dedup",       // 8.9 s cold vs 0.2 warm
                "anchor_text",     // 8.6 s cold vs 0.9 warm
                "text_bigram_lp",  // 4.2 s cold vs 0.4 warm
                "h8_basket_lift",  // 4.1 s cold (run AD)
                "ep2_wand_tsm", "t1_bm25_tsm",
                "ep2_explain_tsm", "ep2_hybrid_rrf", "ep2_sigterms_dup")
              val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
              val ecq = scala.concurrent.ExecutionContext
                .fromExecutorService(pool)
              // each warm query runs under its own JOB GROUP so a timeout
              // CANCELS the Spark jobs (Await alone leaves the query
              // churning on the shared parent session into the child's
              // timed scaling reps — the contamination the gate exists to
              // prevent; runBreadth's timeout path cancels for the same
              // reason). One shared deadline, not per-future: eleven
              // stacked awaits must not outlive the warm window either.
              val fs = warmQs.map(q => q -> Future {
                sp.sparkContext.setJobGroup(s"prewarm-$q",
                  s"prewarm throwaway $q", interruptOnCancel = true)
                try { SparkEntry.queries(q)(sp, sfDir).count(); () }
                finally sp.sparkContext.clearJobGroup()
              }(ecq))
              val deadline = System.nanoTime() + 150L * 1000000000L
              fs.foreach { case (q, f) =>
                val left = math.max(1L,
                  (deadline - System.nanoTime()) / 1000000L)
                try Await.result(f, left.milliseconds)
                catch { case t: Throwable =>
                  System.err.println(s"[bench] prewarm query $q failed/timed out: ${t.getMessage}")
                  sp.sparkContext.cancelJobGroup(s"prewarm-$q")
                }
              }
              // past the deadline: drop queued tasks + interrupt runners
              // (a queued future would otherwise START after its group
              // was cancelled and churn unsupervised); a query whose start
              // raced the shutdown set its group after the first cancel,
              // so every group is cancelled again
              if (System.nanoTime() > deadline) {
                pool.shutdownNow()
                warmQs.foreach(q => sp.sparkContext.cancelJobGroup(s"prewarm-$q"))
              } else pool.shutdown()
            }
          } catch { case t: Throwable =>
            System.err.println(s"[bench] prewarm failed: ${t.getMessage}") })
        prewarmSecs = pw
        System.err.println(s"[bench] prewarm ${jn(pw)}s (overlapped) elapsed=${jn(elapsed)}")
        sp
      }
      // Breadth machinery, defined BEFORE the scaling child runs so the
      // child's hedge window can host the tier-2 pass (below).
      val ordered = SparkEntry.queries.toSeq.sortBy(p => breadthOrder(p._1))
      val (tier01, tier2) = ordered.partition(p => breadthOrder(p._1)._1 < 2)
      def runBreadth(sp: SparkSession,
                     qs: Seq[(String, (SparkSession, String) =>
                       org.apache.spark.sql.DataFrame)],
                     reserve: Double, stoppable: Boolean = false): Unit =
        qs.foreach { case (name, fn) =>
        if (stoppable && overlapStop) ()
        else if (remaining > reserve) {
          // cap 15 s: under host load one normally-cheap query blowing up
          // must cost at most its cap, not the whole tail (observed: a 21 s
          // t1 timeout left 39 queries unmeasured)
          val qTimeout = math.min(remaining - (reserve - 4), 15.0)
          val sec = try {
            val fut = Future(timed(fn(sp, sfDir).count())._2)
            Await.result(fut, qTimeout.seconds)
          } catch {
            case _: java.util.concurrent.TimeoutException =>
              sp.sparkContext.cancelAllJobs(); -2.0
            case _: Throwable => -1.0
          }
          results = results :+ (name -> sec) // keep the watchdog's view current
          total = results.map(_._2).filter(_ >= 0).sum
        } else skipped += 1
      }
      // Big-vocabulary build lane (round-5 verdict item 6): the >1M-term
      // wave-dictionary FALLBACK (shuffle stats-join encode — the
      // 10^9-identifier code-corpus path) timed against the broadcast-
      // dictionary path FORCED on the SAME high-cardinality corpus. The
      // synthetic identifier spread (~1.6M distinct terms over 60k docs)
      // trips the auto-fallback at the default 1M dictionary cap, so the
      // first build exercises exactly the decision production would take.
      def runBigvocab(sp: SparkSession): Unit =
        if (bigvocabJson.isEmpty && remaining > 40) try {
          val n = 60000L
          val bvCorpus = s"/dev/shm/graft-bench-bigvocab-$n"
          if (!Files.exists(java.nio.file.Paths.get(bvCorpus, "_SUCCESS")))
            SyntheticCorpus.generate(sp, n, 44L, 80, 240,
              vocabSpread = 2000000, parts = 32)
              .write.mode("overwrite").parquet(bvCorpus)
          val docs = Corpus.fromCodeDocs(sp.read.parquet(bvCorpus))
          val cfgAuto = IndexConfig(shards = 16, termBuckets = 4,
            commitWaves = 1)
          val d1 = s"/dev/shm/graft-bench-bigvocab-idx-${System.nanoTime()}"
          val (g1, fbSec) = timed(IndexBuilder.build(sp, docs, d1, cfgAuto))
          val usedDict = IndexBuilder.lastWaveUsedDictPath
          val d2 = s"/dev/shm/graft-bench-bigvocab-idx-${System.nanoTime()}"
          val (_, dictSec) = timed(IndexBuilder.build(sp, docs, d2,
            cfgAuto.copy(maxDictTerms = Long.MaxValue)))
          bigvocabJson =
            s""""build_bigvocab":{"docs":$n,"vocab":${g1.vocabularySize},""" +
            s""""auto_fallback":${!usedDict},"fallback_sec":${jn(fbSec)},""" +
            s""""dict_sec":${jn(dictSec)},""" +
            s""""fallback_docs_per_sec":${jn(n / fbSec, 1)}},"""
          // both indexes are throwaway timing artifacts (~120 MB each on
          // tmpfs) — drop them now rather than leaking a pair per run into
          // /dev/shm (the age-gated sweep above also covers the prefix as
          // a crash backstop)
          Seq(d1, d2).foreach { d =>
            val p = java.nio.file.Paths.get(d)
            if (Files.exists(p)) java.nio.file.Files.walk(p)
              .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
          }
          System.err.println(s"[bench] bigvocab fallback=${jn(fbSec)}s " +
            s"dict=${jn(dictSec)}s vocab=${g1.vocabularySize} elapsed=${jn(elapsed)}")
        } catch { case t: Throwable =>
          System.err.println(s"[bench] bigvocab failed: ${t.getMessage}")
        }
      // Tier-2 OVERLAP: the parent used to idle ~95 s of a 188 s budget
      // while the scaling child ran, then shed the whole tier-2 breadth
      // pass to protect the latency floor (r4 first draw: 33 skipped).
      // The child's `overlapok` line means the only child work parent
      // load can now touch before the GO2 gate is the min()-shielded
      // 2-core HEDGE rep and the untimed 8-core warm — a polluted hedge
      // can only be SLOWER, i.e. it can never fabricate a better scaling
      // denominator (and the mandatory first rep of each level is gate-
      // protected on both sides). So tier-2 (cheap redundant variants
      // whose per-query comparability matters least) plus the bigvocab
      // lane run here, flagged in the JSON since their times share the
      // box with a pinned build.
      // the child's timed reps are pinned to cores 0-1 / 0-7 (ScalePair);
      // the parent self-pins to the COMPLEMENT for the overlap so the two
      // JVMs share only memory bandwidth, not CPUs — the first overlap
      // draw ran unpinned and inflated the hedge rep 15.5 -> 18.0 s
      // (reported efficiency 0.966 -> 0.734, understated through min())
      val allCores = Runtime.getRuntime.availableProcessors()
      def pinSelf(spec: String): Unit = try {
        val p = new ProcessBuilder("taskset", "-apc", spec,
          ProcessHandle.current().pid().toString)
          .redirectErrorStream(true).start()
        p.getInputStream.readAllBytes()
        if (p.waitFor() == 0)
          System.err.println(s"[bench] parent pinned=$spec")
      } catch { case _: java.io.IOException => () }
      maybeOverlapTier2 = () =>
        if (tier2Fut == null) prewarmFut.value match {
          case Some(scala.util.Success(sp)) =>
            tailJson += s""""tier2_overlapped":true,"""
            tier2Fut = Future {
              if (allCores > 9) pinSelf(s"8-${allCores - 1}")
              try {
                runBreadth(sp, tier2, reserve = 18, stoppable = true)
                if (!overlapStop) runBigvocab(sp)
              } finally if (allCores > 9) pinSelf(s"0-${allCores - 1}")
              System.err.println(s"[bench] tier2 overlap quiesced: " +
                s"${results.size} timed, stop=$overlapStop, " +
                s"elapsed=${jn(elapsed)}")
            }
          case _ => () // prewarm unfinished/failed: tier2 stays serial
        }
      // reserve ~64 s after the child: breadth tier0+1 (~38 s) + the
      // latency box (<=18 s, hard floor — r3 shipped samples=0) + the
      // JSON line (tier-2 + bigvocab ride the overlap window; the
      // trailing asymmetric hedge rep is gone — the r5 verdict's
      // symmetric-reps budget lives in the child instead). Round 2
      // reserved only 40 and the expensive tier was squeezed out two
      // rounds running; prewarm rides inside the child's warm window.
      val pairResult = runScalePair(math.max(60, remaining - 64), prewarmFut)
      // join the overlapped tier-2 pass BEFORE any fallback build or the
      // tier-0/1 breadth: concurrent timed work would pollute both
      if (tier2Fut != null) {
        try Await.ready(tier2Fut, math.max(5.0, remaining - 40).seconds)
        catch { case _: Throwable =>
          System.err.println("[bench] overlapped tier2 still running at join cap") }
        // idempotent: the future unpins in its finally, but a capped join
        // must not leave the parent running tier-0/1 on a partial mask
        if (allCores > 9) pinSelf(s"0-${allCores - 1}")
      }
      pairResult match {
        case Some((r8, r2, idx)) =>
          t8 ++= r8; t2 ++= r2; keptIdxDir = idx
        case None =>
          System.err.println("[bench] ScalePair failed; per-level children")
          // the overlapped prewarm must be DONE before any fallback timed
          // build starts (an instant spawn failure would otherwise run the
          // 2-core child under parent prewarm load)
          try Await.ready(prewarmFut, 150.seconds)
          catch { case _: Throwable => () }
          // a dead child may have printed `gate go=false` before failing;
          // the fallback children below run AFTER the prewarm join above,
          // so their draw is not gate-polluted — clear the stamp UNLESS
          // rescued partial reps (which may carry the pollution) are used
          if (partialT2.isEmpty && partialT8.isEmpty) gateTimedOut = false
          // partial reps from a self-aborted child count: only the MISSING
          // level needs a fallback build
          t2 ++= partialT2
          t8 ++= partialT8
          // BUDGET-GATED: breadth tier 0+1 (~45 s) + the latency floor
          // (~18 s) + the JSON line must survive whatever happens here —
          // a zero-coverage artifact with a perfect scaling pair is worse
          // than the reverse. Expected fallback cost: ~scaleDocs/6000 s at
          // 2 cores, ~scaleDocs/22000 s at 8 (measured bands), each its
          // own child JVM with warm-up. Skip a level (and with it the
          // build section) sooner than starving breadth.
          val breadthReserve = 75.0
          def canAfford(cost: Double): Boolean = remaining > cost + breadthReserve
          // order mirrors ScalePair for comparability (each child is its
          // own JVM and self-warms from the same-plan warm corpus)
          if (t2.isEmpty && canAfford(scaleDocs / 6000.0 + 15)) {
            val (s2, _) = buildAt(2, 1)
            t2 += s2
          }
          if (t8.isEmpty && t2.nonEmpty && canAfford(scaleDocs / 22000.0 + 15)) {
            val (s8, _) = buildAt(8, 1)
            t8 += s8
          }
          if (t2.isEmpty || t8.isEmpty)
            System.err.println(s"[bench] scaling section dropped " +
              s"(remaining=${jn(remaining, 1)}s reserve=$breadthReserve) — " +
              "breadth/latency take priority")
      }
      setBuildJson()

      // --- breadth: SparkEntry queries at the driver's SF, deadline-boxed
      // with a per-query timeout (a single heavy query must not blow the
      // whole budget; timed-out jobs are cancelled and reported as -2).
      // SECTION ORDER (r4): prewarm -> breadth tier 0+1 (one per family +
      // the expensive dedup/CC tail) -> breadth tier 2 (cheap variants,
      // reserve-protected) -> LATENCY BOX with a hard >=10-sample floor.
      // r3 ran breadth with no sample floor and a loaded host consumed the
      // whole latency reserve — the shipped artifact had
      // query_latency.samples=0. Now under load tier-2 variants shed
      // first and the floor still lands samples.
      // the overlapped prewarm normally finished during the child's warm
      // window; this Await is a join, not a wait (cap = a wedged prewarm
      // must not eat the breadth tail — fall back to a fresh session)
      val spark =
        try Await.result(prewarmFut, math.max(5.0, math.min(60.0, remaining - 50)).seconds)
        catch { case _: Throwable =>
          System.err.println("[bench] prewarm still running at breadth start; proceeding")
          session(cpus)
        }
      if (prewarmSecs >= 0) tailJson += s""""prewarm_sec":${jn(prewarmSecs)},"""
      // tier 0+1 first (operator coverage is binary), then tier 2 — unless
      // it already ran overlapped with the scaling child's hedge reps —
      // with a reserve that protects the latency box (+ its hard SAMPLE
      // FLOOR below — the guarantee the r3 artifact lacked): on a quiet
      // host everything runs and latency gets its full 14 s; under load
      // tier-2 variants shed first, and the floor still lands >= 10 samples
      // when tier-2 already ran overlapped, tier-0/1 is the LAST breadth
      // section and its tail must not shed a coverage query to an
      // over-sized reserve (observed twice: a dedup tail query skipped at
      // remaining=21.4/16.7 under reserve=22/18 while latency then landed
      // 21 samples with seconds to spare). 14 suffices: the per-query
      // timeout (remaining - (reserve-4), capped 15) stops an overrunning
      // last query before it can starve the latency floor, and the floor
      // itself needs ~10 s for >= 10 samples
      runBreadth(spark, tier01, reserve = if (tier2Fut != null) 14 else 22)
      System.err.println(
        s"[bench] breadth tier0+1 done: ${results.size} timed, $skipped skipped, elapsed=${jn(elapsed)}")
      // tier-2 REMAINDER: whatever the quiesced overlap pass did not reach
      // (all of tier-2 when the overlap never started)
      locally {
        val timedNames = results.map(_._1).toSet
        // reserve 14, not 18: the same over-sized-reserve observation as
        // tier-0/1 (tail queries shed at remaining=16.7 while latency then
        // landed its full sample set with seconds to spare); the latency
        // box itself takes min(remaining-4, 14), and the per-query timeout
        // stops an overrunning tail query before it can starve the floor
        runBreadth(spark, tier2.filterNot(p => timedNames(p._1)), reserve = 14)
      }
      System.err.println(
        s"[bench] breadth done: ${results.size} timed, $skipped skipped, elapsed=${jn(elapsed)}")

      // --- query latency over the prebuilt compressed index, per mode:
      // disjunctive (the reference's semantics), conjunctive (leapfrog
      // DAAT AND), and the searchMany batch path (all 7 queries per job) --
      // keptIdxDir is null only when the whole scaling section was dropped
      // for budget; the latency floor must still land samples — fall back
      // to the prewarm-built cached index (memoized: dirFor is a lookup
      // here, not a build) and report ITS doc count, not scaleDocs
      val latIdxDir =
        if (keptIdxDir != null) keptIdxDir
        else try index.IndexCache.dirFor(spark, sfDir, stem = false)
        catch { case _: Throwable => null }
      if (remaining > 2 && latIdxDir != null) {
        val latBox = elapsed + math.min(remaining - 4, 14.0)
        val idx = new PostingIndex(spark, latIdxDir).preload() // serving mode (reference holds its index in RAM too)
        val latDocs = if (keptIdxDir != null) scaleDocs else idx.globals.nDocs
        // warm pass TIME-BOXED to the first ~third of the box: r3's warm
        // consumed the whole residual reserve before one sample landed —
        // slightly-cold samples beat samples:0
        val warmStop = math.min(latBox - 2.0,
          elapsed + math.max(2.0, (latBox - elapsed) / 3))
        val warmIt = referenceQueries.iterator
        while (warmIt.hasNext && elapsed < warmStop) {
          val q = warmIt.next()
          idx.search(q, 10).collect(); idx.searchConjunctive(q, 10).collect()
        }
        if (elapsed < warmStop) idx.searchMany(referenceQueries, 10).collect()
        // time-boxed sampling: a 14-sample p95 is one GC pause / load spike
        // away from garbage (observed: 2.27 s p95 in a run whose standalone
        // probe measured 0.25) — keep sampling whole query-set rounds until
        // ~35 disjunctive samples or the box is spent, whichever first
        val bufOr = ArrayBuffer.empty[Double]
        val bufAnd = ArrayBuffer.empty[Double]
        val bufMany = ArrayBuffer.empty[Double]
        val latDeadline = latBox // sampling owns the box's remaining ~2/3
        var latRound = 0
        // HARD SAMPLE FLOOR: even if load ate the whole box, keep sampling
        // until >= 10 disjunctive samples (each ~0.2 s; bounded by the
        // watchdog's +6 s grace via the budget-3 cut) — r3 shipped
        // samples:0 and its latency claims were unverifiable
        while ((bufOr.size < 35 && elapsed < latDeadline) ||
               (bufOr.size < 10 && elapsed < budget - 3)) {
          referenceQueries.foreach { q =>
            bufOr += timed(idx.search(q, 10).collect())._2
            // conjunctive sampled every OTHER round: ~18 and-samples bound
            // its percentiles fine, and the box saved (~4 s) funds an extra
            // 8-core scaling rep / the expensive breadth tier
            if (latRound % 2 == 0 && elapsed < latDeadline)
              bufAnd += timed(idx.searchConjunctive(q, 10).collect())._2
          }
          if (elapsed < latDeadline)
            bufMany += timed(idx.searchMany(referenceQueries, 10).collect())._2
          latRound += 1
        }
        def pcts(buf: ArrayBuffer[Double]): String =
          if (buf.isEmpty) """{"samples":0}"""
          else {
            val lat = buf.sorted.toIndexedSeq
            val p50 = lat(lat.size / 2)
            val p95 = lat(math.min(lat.size - 1, (lat.size * 0.95).toInt))
            s"""{"samples":${lat.size},"p50_sec":${jn(p50, 4)},"p95_sec":${jn(p95, 4)}}"""
          }
        // top-level p50/p95 stay the disjunctive mode (round-over-round
        // comparability); per-mode percentiles nested under "modes"
        // (many_batch7 times ONE job answering all 7 queries).
        // bufOr CAN be empty (a load spike during the warm pass can eat
        // the whole box before the loop starts) — emit samples:0 rather
        // than letting lat(0) throw and convert the entire run to errNote
        if (bufOr.nonEmpty) {
          val lat = bufOr.sorted.toIndexedSeq
          val p50 = lat(lat.size / 2)
          val p95 = lat(math.min(lat.size - 1, (lat.size * 0.95).toInt))
          latJson =
            s""""query_latency":{"corpus_docs":$latDocs,"samples":${lat.size},""" +
            s""""p50_sec":${jn(p50, 4)},"p95_sec":${jn(p95, 4)},""" +
            s""""modes":{"or":${pcts(bufOr)},"and":${pcts(bufAnd)},""" +
            s""""many_batch7":${pcts(bufMany)}}},"""
        } else latJson = s""""query_latency":{"corpus_docs":$latDocs,"samples":0},"""
      }

      // GAP-FILL 8-core rep: only when a self-aborted child left the
      // 8-core level SHORTER than the 2-core level (setBuildJson computes
      // from the symmetric prefix, so the missing rep would otherwise
      // discard a banked 2-core draw). Never runs as an extra hedge —
      // asymmetric best-of counts are what manufactured round-4's
      // unphysical 1.025 efficiency.
      if (t8.size < t2.size && remaining > 34) {
        val (s8x, _) = buildAt(8, 1)
        if (s8x > 0) t8 += s8x
        setBuildJson()
      }

      // bigvocab lane, serial fallback: the overlap window usually hosts
      // it; when the quiesce preempted it (or the overlap never started),
      // run it here — budget-gated inside
      runBigvocab(spark)

      // --- soak: scale-latency evidence in the SAME JSON contract.
      //
      // Two modes sharing one persisted layout
      // (/dev/shm/graft-soak-persist-<docs>, production config
      // shards=32/tb=8/waves=2, build_info.json beside the index):
      //
      //  - env-gated FULL soak (SPARK_GRAFT_SOAK_DOCS, local complete runs
      //    only — a multi-M-doc build cannot fit the driver's budget):
      //    builds into the persist dir (reusing a finished build), times
      //    the build plus a delete+compact lifecycle probe on a hardlink
      //    CLONE (the served index is never mutated), records everything
      //    in build_info.json, then samples serving latency.
      //  - DETECTED soak (driver runs): if a prior complete run left a
      //    persisted index, sample serving latency over it LIVE —
      //    p50/p95 in the driver's artifact are measured in the driver's
      //    own run; the build numbers are read from build_info.json and
      //    labeled "build_cached":true.
      def sampleSoak(dir: String, docs: Long, bsec: Double, cached: Boolean,
                     lifecycle: String): Unit = {
        val idx = new PostingIndex(spark, dir).preload()
        referenceQueries.foreach(q => idx.search(q, 10).collect()) // warm
        val buf = ArrayBuffer.empty[Double]
        val dl = elapsed + math.min(remaining - 8, 30.0)
        while (buf.size < 35 && elapsed < dl)
          referenceQueries.foreach(q =>
            buf += timed(idx.search(q, 10).collect())._2)
        if (buf.nonEmpty) {
          val lat = buf.sorted.toIndexedSeq
          val p50 = lat(lat.size / 2)
          val p95 = lat(math.min(lat.size - 1, (lat.size * 0.95).toInt))
          soakJson =
            s""""soak":{"docs":$docs,"build_sec":${jn(bsec)},""" +
            s""""docs_per_sec":${jn(docs / bsec, 1)},""" +
            (if (cached) s""""build_cached":true,""" else "") + lifecycle +
            s""""samples":${lat.size},""" +
            s""""p50_sec":${jn(p50, 4)},"p95_sec":${jn(p95, 4)}},"""
        }
      }
      val SoakInfo =
        ("""\{"docs":(\d+),"build_sec":([0-9.]+)""" +
          """(,"delete_sec":([0-9.]+),"compact_sec":([0-9.]+))?\}""").r
      sys.env.get("SPARK_GRAFT_SOAK_DOCS").map(_.toLong) match {
        case Some(soakDocs) if remaining > 60 =>
          val dir = s"/dev/shm/graft-soak-persist-$soakDocs"
          val info = java.nio.file.Paths.get(dir, "build_info.json")
          val reuse = Files.exists(info) && PostingIndex.isComplete(spark, dir)
          var bsec = 0.0
          var lifecycle = ""
          if (reuse) {
            SoakInfo.findFirstMatchIn(Files.readString(info)).foreach { m =>
              bsec = m.group(2).toDouble
              if (m.group(4) != null)
                lifecycle = s""""delete_sec":${m.group(4)},""" +
                  s""""compact_sec":${m.group(5)},"""
            }
          } else {
            // A complete index WITHOUT build_info.json is a prior run that
            // died between its build and its info write — building "fresh"
            // over it short-circuits on the committed waves (a 0.002 s
            // "build" with no cached label shipped once). Wipe it so the
            // timed build below measures a real build.
            val stale = java.nio.file.Paths.get(dir)
            if (Files.exists(stale)) {
              System.err.println(s"[bench] soak dir exists without build_info — wiping for a measured build")
              java.nio.file.Files.walk(stale)
                .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(f => java.nio.file.Files.deleteIfExists(f))
            }
            val soakCorpus = s"/dev/shm/graft-bench-corpus-$soakDocs-f64"
            if (!Files.exists(java.nio.file.Paths.get(soakCorpus, "_SUCCESS")))
              SyntheticCorpus.generate(spark, soakDocs, 42L, 160, 480, parts = 256)
                .write.mode("overwrite").parquet(soakCorpus)
            val docs = Corpus.fromCodeDocs(spark.read.parquet(soakCorpus))
            bsec = timed(IndexBuilder.build(spark, docs, dir,
              IndexConfig(shards = 32, termBuckets = 8, commitWaves = 2)))._2
            System.err.println(s"[bench] soak build ${jn(bsec)}s elapsed=${jn(elapsed)}")
            // lifecycle probe on a hardlink clone: delete 1/7 of the docs,
            // compact the survivors — the mutation costs at soak scale,
            // without touching the index the serving samples (and the
            // driver's detected-soak pass) read
            val probe = s"/dev/shm/graft-bench-soakidx-probe-${System.nanoTime()}"
            try {
              IndexBuilder.cloneIndex(dir, probe)
              val victims = spark.range(soakDocs)
                .filter(org.apache.spark.sql.functions.pmod(
                  org.apache.spark.sql.functions.col("id"),
                  org.apache.spark.sql.functions.lit(7L)) === 3)
                .select(org.apache.spark.sql.functions.col("id").as("docId"))
              val (_, delSec) = timed(
                IndexBuilder.delete(spark, victims, probe, "soak1"))
              // compact must pass the INDEX's own analyzer config (the
              // soak build uses the stemmed default; a stem mismatch is a
              // hard config-guard error by design)
              val (_, cmpSec) = timed(IndexBuilder.compact(spark, probe,
                IndexConfig(shards = 32, termBuckets = 8,
                  stem = PostingIndex.readGlobals(spark, probe).stem)))
              lifecycle = s""""delete_sec":${jn(delSec)},""" +
                s""""compact_sec":${jn(cmpSec)},"""
              System.err.println(s"[bench] soak lifecycle delete=${jn(delSec)}s " +
                s"compact=${jn(cmpSec)}s elapsed=${jn(elapsed)}")
            } catch { case t: Throwable =>
              System.err.println(s"[bench] soak lifecycle probe failed: ${t.getMessage}")
            } finally {
              val p = java.nio.file.Paths.get(probe)
              if (Files.exists(p)) java.nio.file.Files.walk(p)
                .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .forEach(f => java.nio.file.Files.deleteIfExists(f))
            }
            Files.writeString(info,
              s"""{"docs":$soakDocs,"build_sec":${jn(bsec)}""" +
              (if (lifecycle.nonEmpty) "," + lifecycle.dropRight(1) else "") + "}")
          }
          sampleSoak(dir, soakDocs, bsec, cached = reuse, lifecycle)
        case _ =>
          // detected mode: serve the largest persisted soak index whose
          // postings FIT this JVM's heap (~0.7x). In local mode one heap
          // hosts what a cluster spreads over every executor: a 20M-doc
          // index (11 GB postings) serves fine at 24g but OOMs the
          // default 8g (run AJ), while the 10M index (5.1 GB) serves at
          // 8g — so an oversized index must not shadow a servable one.
          val heapFit = (Runtime.getRuntime.maxMemory() * 7L) / 10L
          def postingsBytes(d: String): Long = {
            val p = java.nio.file.Paths.get(d, "postings")
            if (!Files.exists(p)) 0L
            else try {
              val s = java.nio.file.Files.walk(p)
              try s.filter(java.nio.file.Files.isRegularFile(_))
                .mapToLong(java.nio.file.Files.size(_)).sum()
              finally s.close()
            } catch {
              // an unreadable candidate (e.g. removed mid-walk) is skipped,
              // not allowed to abort the selection of the others
              case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MaxValue
            }
          }
          val persisted = java.nio.file.Files.list(java.nio.file.Paths.get("/dev/shm"))
            .filter(p => p.getFileName.toString.startsWith("graft-soak-persist-"))
            .toArray.map(_.toString).flatMap { d =>
              val docs = d.substring(d.lastIndexOf('-') + 1)
              val info = java.nio.file.Paths.get(d, "build_info.json")
              if (docs.forall(_.isDigit) && Files.exists(info) &&
                  PostingIndex.isComplete(spark, d)) Some((docs.toLong, d))
              else None
            }.sortBy(-_._1).find { case (_, d) => postingsBytes(d) <= heapFit }
          persisted.foreach { case (docs, d) =>
            if (remaining > 26) {
              val info = Files.readString(
                java.nio.file.Paths.get(d, "build_info.json"))
              SoakInfo.findFirstMatchIn(info).foreach { m =>
                val lifecycle =
                  if (m.group(4) != null)
                    s""""delete_sec":${m.group(4)},"compact_sec":${m.group(5)},"""
                  else ""
                sampleSoak(d, docs, m.group(2).toDouble, cached = true, lifecycle)
              }
            }
          }
      }
    } catch {
      case t: Throwable =>
        errNote = s""""error":"${t.getClass.getSimpleName}: ${
          Option(t.getMessage).getOrElse("").replaceAll("[\"\\\\\n\r\t]", " ").take(200)}","""
    } finally {
      // the contract line — ALWAYS printed, with whatever sections finished
      // (exactly-once vs the watchdog; halts without shutdown hooks)
      emitAndHalt(0)
    }
  }
}
