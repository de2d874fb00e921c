package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed operation produced: its output row count, an
  * order-independent checksum over every output column, and a check that
  * compares the output against a computation independent of the library.
  * The check returns an error message, or None when the output is right.
  */
final case class Outcome(rows: Long, checksum: Long, check: () => Option[String])

/** One unit of a workload's timed loop: `items` input items go through
  * `run`, whose wall time is the operation's latency.
  */
final case class Op(kind: String, items: Long, run: () => Outcome)

/** A benchmark workload. `setup` gets a fresh session and must generate
  * and materialize the seeded inputs; `warm` runs the code paths once on
  * a small input; `op(k)` is the k-th operation of the timed loop.
  */
trait Workload {
  def shufflePartitions: Int
  /** The timed loop only stops after a whole round of operations. */
  def roundSize: Int = 1
  def setup(spark: SparkSession): Unit
  def warm(): Unit
  def op(k: Int, tracer: Option[Tracer]): Op
  /** Once per run, after the timed loop: extra checked operations and
    * the numbers they measure (e.g. a killed-and-resumed job).
    */
  def afterTimed(spark: SparkSession, tracer: Option[Tracer]): AfterResult =
    AfterResult(0, Nil, Map.empty)
  /** Workload-specific per-layer metrics from a traced phase. */
  def layers(tracer: Tracer, phase: PhaseResult): Map[String, Double]
}

final case class AfterResult(attempted: Int, errors: Seq[String], values: Map[String, Double])

final case class OpRecord(kind: String, seconds: Double, items: Long, rows: Long,
                          checksum: Long, error: Option[String])

final case class PhaseResult(ops: Seq[OpRecord], startMs: Long, endMs: Long) {
  def good: Seq[OpRecord] = ops.filter(_.error.isEmpty)
  def itemsPerS: Double = good.map(_.items).sum / math.max(1e-9, good.map(_.seconds).sum)
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Checksum {
  /** One action that evaluates every column of `df`: row count, the sum of
    * the low 32 bits of xxhash64 over all columns (order independent,
    * overflow free), and the rows matching `sample` for the output check.
    */
  def run(df: DataFrame, sample: Column = lit(false)): (Long, Long, Array[Row]) = {
    val cols = df.columns.toIndexedSeq.map(c => col(s"`$c`"))
    val r = df.select(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L)).as("h"),
      collect_list(when(sample, struct(cols: _*))).as("s")).head()
    (r.getLong(0), r.getLong(1), r.getSeq[Row](2).toArray)
  }
}

/** Raw-CPU host calibration: a fixed amount of pure ALU work at 1 and at
  * 4 threads. Recorded with every run so contended runs are visible;
  * never used to drop a run.
  */
object Calib {
  private def burn(steps: Long): Long = {
    var x = 0x9e3779b97f4a7c15L + steps
    var i = 0L
    while (i < steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  def seconds(threads: Int, stepsPerThread: Long): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { sink.addAndGet(burn(stepsPerThread)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  def run(): Map[String, Double] = {
    burn(20000000L)
    val steps = 100000000L
    val one = seconds(1, steps)
    val four = seconds(4, steps)
    Map("calib_1t_s" -> one, "calib_4t_s" -> four, "calib_eff" -> one / four)
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => render(other.toString)
  }
}

object Session {
  def start(cores: Int, work: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.default.parallelism", shufflePartitions.toString)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outDir>`.
  * Prints a detail line, then the result object as a line starting `RESULT `.
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  def workload(name: String, seed: Long, work: String): Workload = name match {
    case "tiling" => new TilingWorkload(seed, work)
    case "raster" => new RasterWorkload(seed)
    case "graph" => new GraphWorkload(seed)
    case "joins" => new JoinsWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Runs operations until they have taken `seconds` in all, and at least
    * two unless the first alone took twice that; the output checks between
    * them are not counted. So the number of operations in a run does not
    * hinge on a check's time or on a first operation near `seconds`. A
    * thrown exception or a failed check marks the operation failed; failed
    * operations count as attempted and are left out of every timing.
    */
  def phase(wl: Workload, seconds: Double, tracer: Option[Tracer], firstK: Int): PhaseResult = {
    val out = collection.mutable.ArrayBuffer.empty[OpRecord]
    val startMs = System.currentTimeMillis()
    var measured = 0.0
    var k = firstK
    def more: Boolean = measured < seconds || (k - firstK < 2 && measured < 2 * seconds)
    while (more || (k - firstK) % wl.roundSize != 0) {
      val rec =
        try {
          val op = wl.op(k, tracer)
          val s0 = System.nanoTime()
          val o = tracer match {
            case Some(t) => t.span("op." + op.kind)(op.run())
            case None => op.run()
          }
          val sec = (System.nanoTime() - s0) / 1e9
          measured += sec
          val err = try o.check() catch { case NonFatal(e) => Some(s"check threw: $e") }
          OpRecord(op.kind, sec, op.items, o.rows, o.checksum, err.map(e => s"op $k: $e"))
        } catch {
          case NonFatal(e) =>
            measured = 2 * seconds // a failing workload ends the loop
            OpRecord("error", 0.0, 0L, 0L, 0L, Some(s"op $k threw: $e"))
        }
      rec.error.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
      out += rec
      k += 1
    }
    PhaseResult(out.toList, startMs, System.currentTimeMillis())
  }

  /** Layer metrics every workload reports, from the Spark listeners. */
  def genericLayers(t: Tracer, ph: PhaseResult): Map[String, Double] = {
    val n = math.max(1, ph.ops.size).toDouble
    val opSpans = t.allSpans.filter(_.name.startsWith("op."))
    val all = t.sum(opSpans)
    val topSpans = t.allSpans.filter(_.parent < 0)
    val opWall = opSpans.map(_.seconds).sum
    val opBusy = opSpans.map(s => t.jobBusySeconds(s.startMs, s.endMs)).sum
    val planS = t.planRecords.toArray.toSeq.map(_.asInstanceOf[(Long, Double)])
      .filter(r => r._1 >= ph.startMs && r._1 <= ph.endMs).map(_._2).sum
    val buildSpans = t.allSpans.filter(_.name.endsWith(".build"))
    val covered = Tracer.unionMs(topSpans.map(s => (s.startMs, s.endMs))) / 1000.0
    val wall = (ph.endMs - ph.startMs) / 1000.0
    Map(
      "plan.s" -> planS / n,
      "driver.gap_s" -> math.max(0.0, opWall - opBusy) / n,
      "exec.jobs" -> all.jobs / n,
      "exec.tasks" -> all.tasks / n,
      "exec.task_s" -> all.taskMs / 1000.0 / n,
      "exec.cpu_s" -> all.cpuNs / 1e9 / n,
      "exec.gc_s" -> all.gcMs / 1000.0 / n,
      "exec.busy_share" -> all.taskMs / 1000.0 / (math.max(1e-9, opWall) * Cores),
      "exec.task_skew" -> t.taskSkew,
      "exec.build_jobs" -> t.sum(buildSpans).jobs / n,
      "exec.peak_mem_mb" -> all.peakMem / 1048576.0,
      "shuffle.write_mb" -> all.shuffleWrite / 1048576.0 / n,
      "shuffle.read_mb" -> all.shuffleRead / 1048576.0 / n,
      "shuffle.spill_mb" -> all.spill / 1048576.0 / n,
      "trace.uncovered_share" -> math.max(0.0, 1.0 - covered / wall))
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    Files.createDirectories(Paths.get(work))
    Files.createDirectories(Paths.get(outDir))

    val calib = Calib.run()
    val wl = workload(name, seed, work)
    val codegen0 = CodegenClock.seconds()

    // set-up: a fresh session with its inputs generated and materialized,
    // repeated (the median counts), then one warm-up of the code paths on
    // the last session, which serves the timed phases
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { _ =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(Cores, work, wl.shufflePartitions)
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warm()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupCodegenS = CodegenClock.seconds() - codegen0

    val heap = new HeapPeak
    heap.begin()
    val untraced = phase(wl, seconds, None, 0)
    val heapMb = heap.endMb()
    heap.close()

    val after = try wl.afterTimed(spark, None) catch {
      case NonFatal(e) => AfterResult(1, Seq(s"after-phase threw: $e"), Map.empty)
    }
    after.errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    var traced: Option[PhaseResult] = None
    var layers = Map.empty[String, Double]
    var traceAfter = AfterResult(0, Nil, Map.empty)
    if (trace) {
      val tracer = new Tracer(spark)
      tracer.start()
      val cg0 = CodegenClock.seconds()
      val ph = phase(wl, seconds, Some(tracer), untraced.ops.size)
      val cg = CodegenClock.seconds() - cg0
      traceAfter = try wl.afterTimed(spark, Some(tracer)) catch {
        case NonFatal(e) => AfterResult(1, Seq(s"traced after-phase threw: $e"), Map.empty)
      }
      traceAfter.errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
      tracer.stop()
      traced = Some(ph)
      val n = math.max(1, ph.ops.size).toDouble
      val own = wl.layers(tracer, ph)
      layers = Layers.all.map(_ -> 0.0).toMap ++
        genericLayers(tracer, ph) ++ own ++ traceAfter.values ++ Map(
        "codegen.compile_s" -> cg / n,
        "codegen.setup_compile_s" -> setupCodegenS,
        "trace.items_per_s" -> ph.itemsPerS,
        "trace.overhead_share" -> (1.0 - ph.itemsPerS / untraced.itemsPerS)) ++
        traceAfter.values.get("local1_items_per_s").map(one => "scale_eff" -> ph.itemsPerS / (Cores * one))
      layers = layers.filter { case (k, _) => Layers.all.contains(k) || own.contains(k) }
      val trFile = Paths.get(outDir, s"trace-$name-seed$seed.json")
      Files.write(trFile, Json.render(Map("workload" -> name, "seed" -> seed,
        "spans" -> tracer.spanRecords, "layers" -> layers)).getBytes("UTF-8"))
    }

    val allOps = untraced.ops ++ traced.map(_.ops).getOrElse(Nil)
    val attempted = allOps.size + after.attempted + traceAfter.attempted
    val failed = allOps.count(_.error.nonEmpty) + after.errors.size + traceAfter.errors.size
    val good = untraced.good
    val lat = good.map(_.seconds)
    val e2e: Map[String, (Double, String)] =
      if (lat.isEmpty) Map.empty
      else Map(
        "setup_s" -> (Stats.median(setupTimes) + warmS, "s"),
        "items_per_s" -> (untraced.itemsPerS, "1/s"),
        "heap_peak_mb" -> (heapMb, "MB"))
    val p50 = if (lat.nonEmpty) Some(Stats.median(lat)) else None
    val p90 = if (lat.size >= 100) Some(Stats.quantile(lat, 0.9)) else None
    val outputs = allOps.filter(_.error.isEmpty).groupBy(_.kind).map { case (k, rs) =>
      k -> Map("ops" -> rs.size, "rows" -> rs.map(_.rows).sum,
        "checksums" -> rs.map(_.checksum).distinct.take(8))
    }
    val detail = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> calib, "setup_reps_s" -> setupTimes, "warm_s" -> warmS,
      "ops" -> untraced.ops.size, "op_p50_s" -> p50, "op_p90_s" -> p90,
      "failed_share" -> failed.toDouble / math.max(1, attempted),
      "errors" -> (allOps.flatMap(_.error) ++ after.errors ++ traceAfter.errors).take(20),
      "after" -> after.values, "outputs" -> outputs,
      "op_seconds" -> untraced.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds)))
    Files.write(Paths.get(outDir, s"run-$name-seed$seed-trace${if (trace) 1 else 0}.json"),
      Json.render(detail).getBytes("UTF-8"))
    println("DETAIL " + Json.render(detail))

    val metrics: Map[String, Any] =
      if (trace) layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val correct = failed == 0 && e2e.nonEmpty
    println("RESULT " + Json.render(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    SparkSession.getActiveSession.foreach(_.stop())
    Session.stop(spark)
  }
}

/** The per-layer metrics every traced run reports (the `per_layer` list of
  * BENCHMARK.json); a workload that never calls a layer reports 0 for that
  * layer's metrics. A workload may add its own.
  */
object Layers {
  val all: Seq[String] = Seq(
    "plan.s", "codegen.compile_s", "codegen.setup_compile_s", "driver.gap_s",
    "exec.jobs", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.busy_share",
    "exec.task_skew", "exec.build_jobs", "exec.peak_mem_mb",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "expr.geocode_cell_s",
    "joins.pip_s",
    "tiles.convolve_s", "tiles.convolve_share", "tiles.halo_shuffle_ratio", "tiles.zonal_s", "tiles.costdist_s",
    "tiles.costdist_jobs",
    "ops.cc_s", "ops.cc_rounds", "ops.cc_s_per_round", "ops.pagerank_s", "ops.lsh_s",
    "table.write_s", "table.commit_s", "table.files", "table.manifest_kb",
    "resume_s", "scale_eff",
    "trace.items_per_s", "trace.overhead_share", "trace.uncovered_share")
}

/** Codegen compile time from Spark's CodegenMetrics histogram: the
  * histogram keeps count and samples (not a sum), so the total is
  * estimated as count × mean sampled compile time.
  */
object CodegenClock {
  def seconds(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1000.0
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s") || name.endsWith(".s") || name.contains("_s_per_")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_kb")) "KB"
    else if (name.endsWith("_share") || name.endsWith("_ratio") || name.endsWith("_eff") ||
      name.endsWith("_skew")) "ratio"
    else "count"
}
