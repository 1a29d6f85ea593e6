package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program: runs one workload against the engine in this JVM and
  * writes one raw JSON record (samples, spans, Spark job/stage records,
  * check outcomes). `perfbench/run.py` turns the record into metrics.
  *
  * {{{
  * Main --workload <serve-http|ingest-mutate> --seed <n>
  *      --seconds <s> --trace <0|1> --dir <run dir> --out <raw.json>
  *      [--docs <corpus size>]
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    Files.createDirectories(Paths.get(dir))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val events = if (traced) Some(new SparkEvents) else None
    events.foreach(spark.sparkContext.addSparkListener)

    val run = new Run(spark, dir, seed, seconds, new Tracer(traced), opts.get("docs").map(_.toLong))
    val record =
      try {
        workload match {
          case "serve-http" => Workloads.serveHttp(run)
          case "ingest-mutate" => Workloads.ingestMutate(run)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        run.jvm()
        run.out ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
          "trace" -> traced, "attempted" -> run.attempted, "failed" -> run.failed,
          "failures" -> run.failures.toSeq, "spans" -> run.tracer.spans)
        events.foreach(e => run.out += "spark" -> e.snapshot(spark.sparkContext))
        Json(run.out)
      } finally spark.stop()
    Files.write(Paths.get(opts("out")), record.getBytes(StandardCharsets.UTF_8))
  }
}

/** State shared by one run: the raw record, the tracer, and the
  * attempted/failed tally every operation and output check feeds.
  */
final class Run(val spark: SparkSession, val dir: String, val seed: Long,
                val seconds: Double, val tracer: Tracer, docsOverride: Option[Long]) {
  val out = mutable.LinkedHashMap.empty[String, Any]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def traced: Boolean = tracer.enabled

  /** A workload's corpus size; `--docs` overrides it (the build's short
    * class-recording runs use a tiny corpus).
    */
  def docs(default: Long): Long = docsOverride.getOrElse(default)

  /** Counts one attempted operation; a false result or an exception fails it. */
  def check(what: String)(ok: => Boolean): Boolean = {
    val good = try ok catch { case e: Throwable => fail(s"$what: $e"); return false }
    synchronized { attempted += 1; if (!good) { failed += 1; failures += what } }
    good
  }

  def fail(what: String): Unit = synchronized { attempted += 1; failed += 1; failures += what }

  /** Seconds taken by `f`, with its result. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` with this thread's Spark jobs tagged `g` (listener attribution). */
  def group[A](g: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def path(name: String): String = s"$dir/$name"

  def jvm(): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    out += "jvm" -> Map("gc_s" -> gcMs / 1e3, "heap_used_mb" -> heap / 1048576.0)
  }
}
