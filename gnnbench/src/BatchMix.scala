package gnnbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.SparkEntry

/** The two closed-loop batch mixes. One caller runs every query of the mix
  * once per pass, in an order the seed permutes; each query call is the
  * construction call `SparkEntry.queries(q)(spark, dir)` followed by the
  * full-materialization action (a noop write, so no column is pruned). */
object BatchMix {
  /** Kernel- and executor-bound: the action dominates. */
  val Dense: Seq[String] = Seq("q_gnn_graphsage_pool", "q_stream_gnn_embed")
  /** Superstep- and scheduler-bound: the construction call dominates. */
  val Iter: Seq[String] = Seq("q_graph_pagerank", "q_graph_hits")
  /** Every query either mix runs; the per-layer metrics cover all of them. */
  val All: Seq[String] = Dense ++ Iter
  /** A timed pass of either mix on the 4-core reference box. A run times
    * `--seconds` / this many passes: about `--seconds` of work there, and
    * the same passes, so the same point on the JIT warm-up curve, whatever
    * the speed of the code under test. */
  val NominalPassS = 3.5
  /** Fixture tables the mixes read (the `Tables.scan_s` probe). */
  val Tables: Seq[String] = Seq("orders", "lineitem", "part", "embeddings")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive digest of a result: its row count and the
    * wrapping sum of a 64-bit hash of each row's bytes, every column
    * included. It runs the query's own physical plan (`toRdd`), so the
    * stages it compiles and executes are the ones the noop write runs. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
  }

  def run(b: Bench, queries: Seq[String]): Unit = {
    val spark = b.spark
    val dir = b.fixtures
    val fold = b.fold

    /** One query call: the construction call, then `action` on its result.
      * Returns the two durations, or None if the call threw. */
    def call[A](q: String, tag: String)(action: DataFrame => A): Option[(Double, Double, A)] = {
      b.attempted += 1
      try {
        val t0 = System.nanoTime()
        val df = b.trace.span("build", q)(
          bracket(b, s"$tag|$q")(SparkEntry.queries(q)(spark, dir)))
        val t1 = System.nanoTime()
        val r = b.trace.span("action", q)(bracket(b, s"$tag|$q")(action(df)))
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, r))
      } catch {
        case e: Exception =>
          b.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    // Set-up, untimed: the cold pass, the first touch of every query and
    // shared MV, with the cold codegen. Its action is the output check, a
    // digest compared once per run.
    val firstTouch = mutable.Map.empty[String, Double]
    b.trace.span("setup") {
      b.order(queries, -1).foreach { q =>
        call(q, "cold")(digest).foreach { case (bs, as, got) =>
          firstTouch(q) = bs + as
          b.expected.get(q) match {
            case Some(want) if want == got => ()
            case Some(want) => b.fail(s"$q digest $got, expected $want")
            case None => b.fail(s"$q has no expected digest")
          }
        }
      }
    }
    b.setupDone()

    // Timed passes. The traced run alternates untraced and traced passes
    // as U T T U ..., which gives the tracing overhead within the same
    // process with the warm-up trend cancelled to first order.
    final case class Pass(traced: Boolean, seconds: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val timedPasses = math.max(1, math.round(b.seconds / NominalPassS).toInt)
    (0 until (if (b.traced) math.max(4, timedPasses) else timedPasses)).foreach { p =>
      val traced = b.traced && (p % 4 == 1 || p % 4 == 2)
      b.setTracing(traced)
      val t0 = System.nanoTime()
      b.trace.span("pass", s"pass$p") {
        b.order(queries, p).foreach { q =>
          call(q, "timed")(noop).foreach { case (bs, as, _) =>
            if (traced == b.traced) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((bs, as))
          }
        }
      }
      passes += Pass(traced, (System.nanoTime() - t0) / 1e9)
    }
    b.setTracing(b.traced)

    val timed = passes.filter(_.traced == b.traced).map(_.seconds).toSeq
    val lat = perQuery.values.flatten.map { case (bs, as) => (bs + as) * 1e3 }.toSeq
    val (n, rdds, mem, disk) = b.census()
    b.endToEnd(Stats.median(timed), lat, (mem + disk) / 1048576.0)
    b.note(s"${timed.size} timed passes (${timed.map(x => f"$x%.2f").mkString(" ")} s), ${lat.size} query calls, $n MVs held")

    if (b.traced) {
      val untraced = passes.filterNot(_.traced).map(_.seconds).toSeq
      b.layer("trace.pass_overhead", "ratio",
        Stats.median(timed) / Stats.median(untraced) - 1.0)
      fold.foreach(_.settle())
      All.foreach { q =>
        val samples = perQuery.getOrElse(q, mutable.ArrayBuffer.empty[(Double, Double)])
        val k = math.max(1, samples.size)
        b.layer(s"first_touch_s.$q", "s", firstTouch.getOrElse(q, 0.0))
        b.layer(s"build_s.$q", "s", if (samples.isEmpty) 0.0 else Stats.median(samples.map(_._1).toSeq))
        b.layer(s"action_s.$q", "s", if (samples.isEmpty) 0.0 else Stats.median(samples.map(_._2).toSeq))
        val t = fold.fold(JobTotals.zero)(_.totals(s"timed|$q"))
        val wall = samples.map { case (x, y) => x + y }.sum
        b.layer(s"jobs.$q", "count", t.jobs.toDouble / k)
        b.layer(s"tasks.$q", "count", t.tasks.toDouble / k)
        b.layer(s"task_s.$q", "s", t.taskMs / 1e3 / k)
        b.layer(s"busy_ratio.$q", "ratio",
          if (wall == 0) 0.0 else t.taskMs / 1e3 / (wall * b.cores))
        b.layer(s"shuffle_write_mb.$q", "MiB", t.shuffleWrite / 1048576.0 / k)
        b.layer(s"stages.$q", "count", t.stages.toDouble / k)
        b.layer(s"gc_s.$q", "s", t.gcMs / 1e3 / k)
        b.layer(s"spill_mb.$q", "MiB", t.spill / 1048576.0 / k)
      }
      // The legacy count() timing (warm), recorded so the gap it hides shows.
      All.foreach { q =>
        val s = if (!queries.contains(q)) Some(0.0) else call(q, "count") { df =>
          df.count()
          val t0 = System.nanoTime()
          b.trace.span("action_count", q)(df.count())
          (System.nanoTime() - t0) / 1e9
        }.map(_._3)
        s.foreach(b.layer(s"action_count_s.$q", "s", _))
      }
      b.layer("Mv.count", "count", n.toDouble)
      b.layer("Mv.rdds", "count", rdds.toDouble)
      b.layer("Mv.cached_mb", "MiB", (mem + disk) / 1048576.0)
      b.layer("Tables.scan_s", "s", b.trace.span("scan") {
        Tables.map { t =>
          val df = spark.read.parquet(s"$dir/$t.parquet")
          noop(df) // first read pays file listing and codegen
          val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
        }.sum
      })
    }
  }

  private def bracket[A](b: Bench, op: String)(body: => A): A =
    b.fold match {
      case Some(f) if b.trace.on => f.bracket(op)(body)
      case _ => body
    }
}
