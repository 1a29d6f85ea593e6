package graft.tools

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig, Manifest}

/** Build (or resume) an index into a FIXED directory — the kill/resume
  * harness target.
  *
  * `runMain graft.tools.BuildTo <corpusDir> <idxDir> [cpus] [reps] [warmFrac] [pin] [waves]`
  *
  * With `warmFrac > 0` an untimed warm-up build over a 1/warmFrac corpus
  * slice runs first: a fresh JVM spends many seconds JIT-compiling the
  * analyze/encode hot paths, a cost a real cluster pays once per long-lived
  * executor JVM — per-node, identically at N and 4N executors — so it does
  * not belong in a scaling-efficiency measurement of the job itself.
  *
  * With `pin` (e.g. `0-1`) the process RE-PINS ITSELF to those cores after
  * the warm-up, before the timed reps: warm-up JIT compiles at full machine
  * speed, the measured build runs on exactly N cores (launching the whole
  * JVM under `taskset` instead makes the small-N level pay its JIT on N
  * cores — a cost that is per-JVM, not per-job). With `reps > 1` the timed
  * build repeats into fresh dirs and every rep is printed (best-of shields
  * the sandbox's host-load noise).
  */
object BuildTo {
  private val t0 = System.nanoTime()
  private def el: String = f"${(System.nanoTime() - t0) / 1e9}%.1f"

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(s"BUILDTO main jvmBootMs=${System.currentTimeMillis() - jvmStart}")
    val corpusDir = args(0)
    val idxDir = args(1)
    val cpus = if (args.length > 2) args(2).toInt else 16
    val reps = if (args.length > 3) args(3).toInt else 1
    // warm spec: a NUMBER selects a uniform ~1/warmFrac corpus slice
    // (docId is a content hash, so a modulus is uniform); a PATH names a
    // small separate corpus dir whose build has the exact plan shape of the
    // timed build (a slice filter changes the plan and generates different
    // codegen classes — the warm then warms the wrong code; see ScalePair)
    val warmSpec = if (args.length > 4) args(4) else "0"
    val warmFrac = warmSpec.toLongOption.getOrElse(0L)
    val warmCorpus = if (warmSpec.toLongOption.isEmpty) warmSpec else ""
    val pin = if (args.length > 5) args(5) else ""
    val waves = if (args.length > 6) args(6).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("GRAFT_MAX_PART_BYTES", "8m"))
      // pack small files (the tf intermediate) into few scan tasks: task
      // LAUNCH is ~5-10 ms of serial driver time each, and hundreds of
      // tiny-file tasks per stage put seconds of non-scaling work on the
      // scheduler at every parallelism level
      .config("spark.sql.files.openCostInBytes", "0")
      // parallel task-side commit (see ScalePair)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // shuffle scratch on tmpfs, same as ScalePair: the default /tmp is a
      // discard-mounted disk whose writeback/TRIM noise dominates timings
      .config("spark.local.dir",
        s"/dev/shm/graft-buildto-local-${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // shards/buckets sized to the corpus via env (the production layout at
    // 10^12 files holds docs-per-shard roughly constant; a fixed 256-dir
    // layout at bench scale mis-models that and pays 4x the per-dir commit
    // cost the real job would)
    val cfg = IndexConfig(
      shards = sys.env.getOrElse("GRAFT_SHARDS", "32").toInt,
      termBuckets = sys.env.getOrElse("GRAFT_TB", "8").toInt,
      commitWaves = waves)
    println(s"BUILDTO start committed=${Manifest.committed(idxDir).size} el=$el")
    val docs = Corpus.fromCodeDocs(spark.read.parquet(corpusDir))
    if (warmFrac > 0 || warmCorpus.nonEmpty) {
      val warmDir = java.nio.file.Files
        .createTempDirectory("graft-buildto-warm").toString
      val t0 = System.nanoTime()
      val warmDocs =
        if (warmCorpus.nonEmpty) Corpus.fromCodeDocs(spark.read.parquet(warmCorpus))
        else docs.where(s"docId % $warmFrac = 0")
      IndexBuilder.build(spark, warmDocs, warmDir, cfg)
      println(f"BUILDTO warm secs=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    if (pin.nonEmpty) {
      val pid = ProcessHandle.current().pid()
      // -a: apply to ALL threads of the JVM (Spark task/GC/IO threads),
      // not just the thread-group leader
      val p = new ProcessBuilder("taskset", "-apc", pin, pid.toString)
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      if (p.waitFor() != 0)
        System.err.println(s"BUILDTO warn: self-pin to '$pin' failed")
      else println(s"BUILDTO pinned=$pin")
    }
    var best = Double.MaxValue
    var r = 0
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    while (r < reps) {
      val dir = if (r == 0) idxDir else s"${idxDir}_r$r"
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcBeans.stream.mapToLong(_.getCollectionTime).sum
      val t0 = System.nanoTime()
      IndexBuilder.build(spark, docs, dir, cfg)
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gcSec = (gcBeans.stream.mapToLong(_.getCollectionTime).sum - gc0) / 1e3
      println(f"BUILDTO rep=$r secs=$secs%.3f cpu=$cpuSec%.1f gc=$gcSec%.1f")
      if (secs < best) best = secs
      r += 1
    }
    // RAM-backed scratch cleanup BEFORE the done line: a harness that kills
    // this child the moment "BUILDTO done" appears would otherwise leak
    // hundreds of MB of shuffle scratch into tmpfs (reclaimed only by
    // ScalePair's 20-min-cutoff sweep, which may not run). Deleting in-use
    // files is safe on Linux; all reps finished.
    try {
      val scratch = java.nio.file.Paths.get(
        s"/dev/shm/graft-buildto-local-${ProcessHandle.current().pid()}")
      if (java.nio.file.Files.exists(scratch)) {
        java.nio.file.Files.walk(scratch)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    } catch { case _: Throwable => () }
    println(f"BUILDTO done secs=$best%.3f committed=${Manifest.committed(idxDir).size} totals=${Manifest.totals(idxDir)} el=$el")
    spark.stop()
    println(s"BUILDTO exit el=$el")
  }
}
