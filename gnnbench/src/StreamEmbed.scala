package gnnbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}

import graft.engine.StreamingGnn
import graft.engine.StreamingGnn.{CustEmbed, EdgeFeat}

/** The paper's headline path: edge events stream into
  * `StreamingGnn.embedStream` on the RocksDB state store.
  *
  * Open loop first: events fall due at a fixed offered rate, whatever the
  * engine is doing, and a generator thread adds each `TickMs` tick of
  * them when the tick ends. An event's latency runs from its due time to
  * the commit of the micro-batch that consumed its tick, so it includes
  * the tick's own wait; with ~10 micro-batches in a run, the p99 is
  * backed by events, not by batches. A closed loop follows: fixed-size rounds
  * of `addData` then `processAllAvailable`, which give the saturated rate.
  * Every embedding the stream emits is collected; at the end each
  * customer's latest embedding must equal the closed-form neighbor mean of
  * the events generated for it. */
object StreamEmbed {
  val Keys = 15000 // the sf0.1 customer count
  val TickMs = 50
  val RatePerS = 10000
  val PerTick: Int = RatePerS * TickMs / 1000
  val RoundEvents = 20000
  /** A closed-loop round on the 4-core reference box; the closed loop
    * runs a fixed number of rounds, sized from `--seconds` by it. */
  val NominalRoundS = 1.0

  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Event `g` of the seeded stream. Vector entries are multiples of
    * 1/1024, so every running sum is exact in any order and the expected
    * mean is the same double the engine computes. */
  final class Gen(seed: Long) {
    val n = new Array[Long](Keys)
    val sums: Array[Array[Double]] = Array.fill(Keys)(new Array[Double](4))
    private var g = 0L
    def next(count: Int): Seq[EdgeFeat] = (0 until count).map { _ =>
      val h = mix(seed * 0x632BE59BD9B4E019L + g)
      g += 1
      val k = java.lang.Long.remainderUnsigned(h, Keys).toInt
      val v = Array.tabulate(StreamingGnn.Dim)(j => ((h >>> (j % 54)) & 1023L).toFloat / 1024f)
      n(k) += 1
      var j = 0
      while (j < 4) { sums(k)(j) += v(j); j += 1 }
      EdgeFeat(k.toLong, v)
    }
  }

  private final case class Batch(id: Long, endOffset: Long, startMs: Long, endMs: Long,
      p: StreamingQueryProgress)

  def run(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gen = new Gen(b.seed)
    val latest = new Array[CustEmbed](Keys)
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    val ckpt = java.nio.file.Files.createTempDirectory("gnnbench-ckpt")
    val ms = MemoryStream[EdgeFeat]
    def sink(ds: Dataset[CustEmbed], id: Long): Unit =
      ds.collect().foreach(e => latest(e.custkey.toInt) = e)

    // Set-up: start the stream and run the prime batch.
    val query = b.trace.span("setup") {
      ms.addData(gen.next(RoundEvents): _*)
      val q = StreamingGnn.embedStream(spark,
          ms.toDF().select(col("cust").as("src"), col("vec").as("embedding")))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(sink _)
        .start()
      q.processAllAvailable()
      q
    }
    b.setupDone()

    // Batches that ran, by commit time, once their progress has arrived.
    val seen = mutable.Map.empty[Long, Batch]
    def drain(): Unit = {
      var p = progress.poll()
      while (p != null) {
        if (p.durationMs.containsKey("addBatch") && !seen.contains(p.batchId)) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          seen(p.batchId) = Batch(p.batchId, p.sources.head.endOffset.trim.toLong, start,
            start + p.durationMs.get("triggerExecution").longValue, p)
        }
        p = progress.poll()
      }
    }
    def awaitProgress(batchId: Long): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(batchId) && System.nanoTime() < deadline) {
        drain(); if (!seen.contains(batchId)) Thread.sleep(5)
      }
    }
    def lastBatchId: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    // Micro-batch spans, under the phase span open when they are recorded.
    var recorded = -1L
    def recordSpans(): Unit = {
      val nowMs = System.currentTimeMillis(); val nowNs = System.nanoTime()
      seen.values.filter(_.id > recorded).toSeq.sortBy(_.id).foreach { x =>
        b.trace.record("micro_batch", s"batch${x.id}",
          nowNs - (nowMs - x.startMs) * 1000000L, nowNs - (nowMs - x.endMs) * 1000000L)
        recorded = x.id
      }
    }

    // Open loop at the fixed offered rate.
    // A tick's events fall due evenly over [dueMs, dueMs + TickMs); it is
    // added at dueMs + TickMs.
    final case class Tick(offset: Long, dueMs: Double, lateMs: Double, traced: Boolean)
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val openS = b.seconds * 0.6
    val nTicks = (openS * 1000 / TickMs).toInt
    b.trace.span("open_loop") {
      awaitProgress(lastBatchId)
      recorded = lastBatchId
      val t0Ms = System.currentTimeMillis() + 20
      val t0Ns = System.nanoTime() + 20000000L
      // Traced runs switch tracing on and off every second, so ticks due
      // in untraced seconds give the overhead within the same process.
      def tracedAt(i: Int) = b.traced && (i * TickMs / 1000) % 2 == 1
      val generator = new Thread(() => {
        var i = 0
        while (i < nTicks) {
          val dueNs = t0Ns + (i + 1L) * TickMs * 1000000L
          val wait = dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val late = (System.nanoTime() - dueNs) / 1e6
          val off = ms.addData(gen.next(PerTick): _*)
            .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
          ticks.synchronized {
            ticks += Tick(off, t0Ms + i.toDouble * TickMs, late, tracedAt(i))
          }
          i += 1
        }
      }, "gnnbench-generator")
      generator.start()
      if (b.traced) {
        var i = 0
        while (generator.isAlive) {
          val secondNs = t0Ns + i * 1000000000L
          val wait = secondNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L)
          b.setTracing(i % 2 == 1)
          i += 1
        }
        b.setTracing(true)
      }
      generator.join()
      query.processAllAvailable()
      awaitProgress(lastBatchId)
      recordSpans()
    }

    // Closed loop: fixed-size rounds, back to back.
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Double)]
    b.trace.span("closed_loop") {
      val n = math.max(2, math.round((b.seconds - openS) / NominalRoundS).toInt)
      (0 until (if (b.traced) math.max(4, n) else n)).foreach { r =>
        val traced = b.traced && (r % 4 == 1 || r % 4 == 2)
        b.setTracing(traced)
        val data = gen.next(RoundEvents)
        val t0 = System.nanoTime()
        ms.addData(data: _*)
        query.processAllAvailable()
        rounds += ((traced, (System.nanoTime() - t0) / 1e9))
      }
      b.setTracing(b.traced)
      awaitProgress(lastBatchId)
      recordSpans()
    }
    query.stop()
    spark.streams.removeListener(listener)

    // Event latency: due time to the commit of the first batch whose end
    // offset covers the event's tick.
    val batches = seen.values.toSeq.sortBy(_.id)
    val ends = batches.map(_.endOffset).toArray
    val lat = ticks.toSeq.flatMap { t =>
      b.attempted += 1
      val i = java.util.Arrays.binarySearch(ends, t.offset)
      val k = if (i >= 0) i else -i - 1
      if (k < batches.size)
        (0 until PerTick).map(e => t -> (batches(k).endMs - t.dueMs - e.toDouble * TickMs / PerTick))
      else { b.fail(s"tick at offset ${t.offset} was never committed"); Nil }
    }

    // Final embeddings against the closed form.
    var wrong = 0
    (0 until Keys).foreach { k =>
      if (gen.n(k) > 0) {
        b.attempted += 1
        val e = latest(k)
        val n = gen.n(k).toDouble
        val ok = e != null && e.n_nbrs == gen.n(k) && e.d1 == gen.sums(k)(0) / n &&
          e.d2 == gen.sums(k)(1) / n && e.d3 == gen.sums(k)(2) / n && e.d4 == gen.sums(k)(3) / n
        if (!ok) {
          wrong += 1
          if (wrong <= 3) b.fail(s"customer $k embedding $e, expected n=${gen.n(k)}")
          else b.failed += 1
        }
      }
    }

    val last = batches.last.p.stateOperators.head
    val (_, _, mem, disk) = b.census()
    val untracedLat = lat.collect { case (t, l) if !t.traced => l }
    val timedRounds = rounds.collect { case (tr, s) if tr == b.traced => s }.toSeq
    b.endToEnd(Stats.median(timedRounds), untracedLat,
      (mem + disk + last.memoryUsedBytes) / 1048576.0)
    b.note(f"${ticks.size} ticks, ${batches.size} batches, ${rounds.size} rounds, " +
      f"${RoundEvents / Stats.median(timedRounds)}%.0f events/s saturated")

    if (b.traced) {
      val tracedLat = lat.collect { case (t, l) if t.traced => l }
      b.layer("trace.lat_overhead", "ratio",
        Stats.median(tracedLat) / Stats.median(untracedLat) - 1.0)
      b.layer("trace.pass_overhead", "ratio",
        Stats.median(timedRounds) / Stats.median(rounds.collect { case (false, s) => s }.toSeq) - 1.0)
      val timedBatches = batches.filter(_.id > 0)
      def custom(x: Batch, k: String): Double =
        Option(x.p.stateOperators.head.customMetrics.get(k)).fold(0.0)(_.doubleValue)
      def dur(x: Batch, k: String): Double =
        Option(x.p.durationMs.get(k)).fold(0.0)(_.doubleValue)
      val gaps = timedBatches.zip(timedBatches.drop(1)).map { case (a, c) => (c.startMs - a.endMs).toDouble }
      val series: Map[String, Seq[Double]] = Map(
        "stream.trigger_ms" -> timedBatches.map(dur(_, "triggerExecution")),
        "stream.add_batch_ms" -> timedBatches.map(dur(_, "addBatch")),
        "stream.planning_ms" -> timedBatches.map(dur(_, "queryPlanning")),
        "stream.wal_commit_ms" -> timedBatches.map(dur(_, "walCommit")),
        "stream.commit_offsets_ms" -> timedBatches.map(dur(_, "commitOffsets")),
        "stream.inter_batch_ms" -> (if (gaps.isEmpty) Seq(0.0) else gaps),
        "state.commit_ms" -> timedBatches.map(_.p.stateOperators.head.commitTimeMs.toDouble),
        "rocksdb.fsync_ms" -> timedBatches.map(custom(_, "rocksdbCommitFileSyncLatencyMs")),
        "rocksdb.snapshot_zip_ms" -> timedBatches.map(custom(_, "rocksdbSaveZipFilesLatencyMs")),
        "state.update_ms" -> timedBatches.map(_.p.stateOperators.head.allUpdatesTimeMs.toDouble),
        "rocksdb.put_count" -> timedBatches.map(custom(_, "rocksdbPutCount")),
        "rocksdb.bytes_written" -> timedBatches.map(custom(_, "rocksdbTotalBytesWritten")))
      Layers.StreamPhases.foreach { case (n, u) =>
        b.layer(s"$n.p50", u, Stats.median(series(n)))
        b.layer(s"$n.max", u, series(n).max)
      }
      b.layer("stream.batches", "count", timedBatches.size.toDouble)
      b.layer("stream.rows_per_batch", "count",
        Stats.median(timedBatches.map(_.p.numInputRows.toDouble)))
      b.layer("state.rows", "count", last.numRowsTotal.toDouble)
      b.layer("state.mem_mb", "MiB", last.memoryUsedBytes / 1048576.0)
      b.layer("gen.late_ms.p50", "ms", Stats.median(ticks.map(_.lateMs).toSeq))
      b.layer("gen.late_ms.max", "ms", ticks.map(_.lateMs).max)
    }
    deleteTree(ckpt.toFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
