package gnnbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Harness
import graft.engine.Mv

/** State shared by one benchmark run: the session, the tracer, the
  * listener fold, and the counts and metrics the result line reports. */
final class Bench(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val fixtures: String, val out: String,
    val expected: Map[String, (Long, Long)]) {
  val cores = 4
  val trace = new Trace(traced)
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var setupS = Double.NaN

  val spark: SparkSession = {
    val t0 = System.nanoTime()
    val s = trace.span("session")(Harness.session(cores.toString, extraConfs =
      if (workload == "stream_embed") Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Map.empty))
    layer("Harness.session_s", "s", (System.nanoTime() - t0) / 1e9)
    s
  }
  val fold: Option[JobFold] =
    if (traced) Some(new JobFold(spark.sparkContext)) else None
  fold.foreach(spark.sparkContext.addSparkListener)

  /** Turns spans and the listener fold on or off (traced runs only). */
  def setTracing(on: Boolean): Unit = if (traced && trace.on != on) {
    trace.on = on
    fold.foreach(f =>
      if (on) spark.sparkContext.addSparkListener(f)
      else spark.sparkContext.removeSparkListener(f))
  }

  /** The seed's order of `items` for pass `pass` (-1 is the set-up pass). */
  def order[A](items: Seq[A], pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[gnnbench] FAILED: $msg")
  }
  def note(msg: String): Unit = System.err.println(s"[gnnbench] $msg")

  /** Marks the end of set-up: process start to the first timed operation. */
  def setupDone(): Unit =
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** `Mv.census` once Spark's cleaner has released what nothing
    * references any more, so the held footprint does not depend on when
    * the last garbage collection ran. */
  def census(): (Int, Int, Long, Long) = {
    System.gc()
    var prev = Mv.census(spark)
    var stable = 0
    val deadline = System.nanoTime() + 3000000000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = Mv.census(spark)
      stable = if (cur == prev) stable + 1 else 0
      prev = cur
    }
    prev
  }

  def endToEnd(passS: Double, latMs: Seq[Double], cachedMb: Double): Unit = {
    metric("setup_s", "s", setupS)
    metric("pass_s", "s", passS)
    metric("lat_p50_ms", "ms", Stats.median(latMs))
    metric("lat_p99_ms", "ms", Stats.quantile(latMs, 0.99))
    metric("cached_mb", "MiB", cachedMb)
  }
  private def metric(name: String, unit: String, v: Double): Unit =
    if (!traced) metrics(name) = (v, unit)

  def layer(name: String, unit: String, v: Double): Unit = {
    require(Layers.units.get(name).contains(unit), s"undeclared layer metric $name/$unit")
    if (traced) metrics(name) = (v, unit)
  }

  def result: String = {
    val ms = if (traced) Layers.units.map { case (n, u) => n -> metrics.getOrElse(n, (0.0, u)) }
      else metrics
    Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ms.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap))
  }
}

/** Every per-layer metric, with its unit. A traced run reports all of
  * them; a layer the workload does not cross reads 0. */
object Layers {
  val StreamPhases: Seq[(String, String)] = Seq(
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.inter_batch_ms" -> "ms",
    "state.commit_ms" -> "ms", "rocksdb.fsync_ms" -> "ms",
    "rocksdb.snapshot_zip_ms" -> "ms", "state.update_ms" -> "ms",
    "rocksdb.put_count" -> "count", "rocksdb.bytes_written" -> "bytes")
  val Kernels: Seq[String] = Seq("FloatVecDot", "BitmapAndCount", "MinHashSig",
    "SimHash64", "VecMeanAgg", "rlong", "md5Hash60")

  val units: Map[String, String] = (Seq(
      "Harness.session_s" -> "s", "Tables.scan_s" -> "s",
      "Mv.count" -> "count", "Mv.rdds" -> "count", "Mv.cached_mb" -> "MiB",
      "trace.pass_overhead" -> "ratio", "trace.lat_overhead" -> "ratio",
      "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
      "state.rows" -> "count", "state.mem_mb" -> "MiB",
      "gen.late_ms.p50" -> "ms", "gen.late_ms.max" -> "ms") ++
    Seq("setup", "pass", "build", "action", "open_loop", "micro_batch")
      .map(n => s"self_s.$n" -> "s") ++
    Kernels.map(k => s"kernel.$k.rows_per_s" -> "rows/s") ++
    StreamPhases.flatMap { case (n, u) => Seq(s"$n.p50" -> u, s"$n.max" -> u) } ++
    BatchMix.All.flatMap(q => Seq(s"first_touch_s.$q" -> "s", s"build_s.$q" -> "s",
      s"action_s.$q" -> "s", s"action_count_s.$q" -> "s", s"jobs.$q" -> "count",
      s"tasks.$q" -> "count", s"task_s.$q" -> "s", s"busy_ratio.$q" -> "ratio",
      s"shuffle_write_mb.$q" -> "MiB", s"stages.$q" -> "count", s"gc_s.$q" -> "s",
      s"spill_mb.$q" -> "MiB"))
  ).toMap
}

object Main {
  val Workloads = Seq("stream_embed", "dense_mix", "iter_mix")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    if (opts.get("list-metrics").contains("1")) {
      Layers.units.toSeq.sorted.foreach { case (n, u) => println(s"$n\t$u") }
      return
    }
    if (opts.contains("record")) { Digests.record(opts("fixtures"), opts("record"), opts("expected")); return }
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val b = new Bench(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("fixtures"), opts("out"), Digests.load(opts("expected")))
    try {
      workload match {
        case "stream_embed" => StreamEmbed.run(b)
        case "dense_mix" => BatchMix.run(b, BatchMix.Dense)
        case "iter_mix" => BatchMix.run(b, BatchMix.Iter)
      }
      if (b.traced) {
        b.trace.span("kernels")(KernelProbe.run(b))
        val self = b.trace.selfSeconds
        Seq("setup", "pass", "build", "action", "open_loop", "micro_batch")
          .foreach(n => b.layer(s"self_s.$n", "s", self.getOrElse(n, 0.0)))
        b.trace.write(Paths.get(b.out, s"spans-$workload-${b.seed}.json"), System.nanoTime())
      }
    } finally b.spark.stop()
    println(b.result)
  }
}

/** Expected results of the mix queries, one `name rows hash` line each. */
object Digests {
  def load(path: String): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap

  /** Digests the result dumps `graft.Verify` wrote under `dumpDir` (the
    * dumps `tools/crosscheck.py` checked) and writes the expected file. */
  def record(fixtures: String, dumpDir: String, path: String): Unit = {
    val spark = Harness.session("4")
    val lines = BatchMix.All.sorted.map { q =>
      val (n, h) = BatchMix.digest(spark.read.parquet(s"$dumpDir/$q"))
      s"$q $n $h"
    }
    val head = scala.io.Source.fromFile(path).getLines().takeWhile(_.startsWith("#")).toSeq
    Files.write(Paths.get(path), (head ++ lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
