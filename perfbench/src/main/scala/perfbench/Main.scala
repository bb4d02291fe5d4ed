package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Benchmark harness: one process, one workload, one closed-loop client.
  *
  * A run sets up `SetupReps` times (session build, input load/persist, warm
  * pass; the median is `setup_s`), measures the workload for `--seconds`,
  * keeps the outputs for the checks, times the three sentinel queries, and
  * writes one JSON result file. With `--trace 1` the timed part then runs
  * twice more, untraced and traced, so the per-layer numbers come with the
  * tracing overhead beside them.
  *
  * Usage: perfbench.Main --workload train|pipeline --data DIR
  *   --tables DIR --work DIR --seconds N --seed N --trace 0|1 --cpus N
  *   [--reference FILE]
  */
object Main {
  val SetupReps = 5
  val Sentinels = Seq("t5_string_funcs", "q12_intersect", "q17_quality_checks")

  final case class Opts(workload: String, data: String, tables: String, work: String,
      seconds: Double, seed: Long, trace: Boolean, cpus: Int, reference: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("tables"), kv("work"), kv("seconds").toDouble,
      kv("seed").toLong, kv("trace") == "1", kv("cpus").toInt, kv.getOrElse("reference", ""))
    val tr = new Tracer(o.trace)
    val wl: Workload = o.workload match {
      case "train" => new Train(o, tr)
      case "pipeline" => new Pipeline(o, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = wl.run()
    Json.write(new java.io.File(o.work, "result.json"), out)
    if (o.trace) Json.write(new java.io.File(o.work, "spans.json"), wl.spansJson())
  }

  def session(o: Opts): SparkSession = {
    val local = new java.io.File(o.work, "spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", local + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Drop every cache a query left behind, so no query reads a predecessor's. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** What one timed segment measured. `ops` are per-operation latencies in
  * seconds; `tasks` are the workload's unit-task times (seconds).
  */
final case class Timed(ops: Seq[Double], attempted: Int, failed: Int, tasks: Seq[Double],
    items: Double, wallS: Double) {
  def e2e: Seq[(String, Double)] = Seq(
    "op_p50_s" -> Main.quantile(ops, 0.5),
    "op_p90_s" -> Main.quantile(ops, 0.9),
    "throughput_per_s" -> items / wallS,
    "task_s" -> Main.median(tasks))
}

abstract class Workload(val o: Main.Opts, val tr: Tracer) {
  import Main._

  /** Sources layer: load or generate the inputs and persist what is kept. */
  def load(spark: SparkSession): Unit
  /** Session layer: warm pass after loading. */
  def warm(spark: SparkSession): Unit
  /** Drops what `load` kept, before the session is rebuilt. */
  def release(spark: SparkSession): Unit = sweep(spark)
  /** The measured loop; runs for `o.seconds`. */
  def timed(spark: SparkSession, traced: Boolean): Timed
  /** Work done after the timed part so the outputs can be checked. */
  def check(spark: SparkSession): Unit
  /** Per-layer metrics of the traced segment (workload-specific part). */
  def layerMetrics(spark: SparkSession, traced: Timed, seg: Span,
      c: Map[Int, Counters]): Unit

  val layers = mutable.LinkedHashMap.empty[String, Double]
  val outputs = mutable.ArrayBuffer.empty[(String, String)] // (query, parquet dir)
  var checkFailures = 0
  var checkDetail = ""

  def run(): Map[String, Any] = {
    // ---- set-up, repeated; the median is setup_s --------------------------
    var spark: SparkSession = null
    val reps = (1 to SetupReps).map { r =>
      tr.open("bench", "setup")
      val t0 = System.nanoTime()
      spark = tr.span("session", "session.start")(session(o))
      val t1 = System.nanoTime()
      tr.attach(spark)
      tr.span("sources", "sources.load")(load(spark))
      val t2 = System.nanoTime()
      tr.span("session", "session.warm")(warm(spark))
      val t3 = System.nanoTime()
      tr.close()
      if (r < SetupReps) {
        release(spark)
        tr.detach(spark)
        spark.stop()
      }
      Seq(t3 - t0, t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
    }
    val setupS = median(reps.map(_(0)))
    tr.detach(spark)
    tr.on = false

    // ---- timed part, untraced ------------------------------------------------
    val plain = timed(spark, traced = false)
    var attempted = plain.attempted
    var failed = plain.failed

    // ---- timed part, traced (trace runs only) --------------------------------
    // The first timed segment is the process's first; the traced segment is
    // compared with a second untraced one that is as warm as it is.
    if (o.trace) {
      val base = timed(spark, traced = false)
      val gc0 = Jvm.gcMs
      val jit0 = Jvm.jitMs
      tr.on = true
      tr.attach(spark)
      tr.open("bench", "timed")
      val traced = timed(spark, traced = true)
      tr.close()
      tr.detach(spark)
      attempted += base.attempted + traced.attempted
      failed += base.failed + traced.failed
      val seg = tr.all.filter(_.name == "timed").last
      val c = tr.inclusiveCounters()
      layers("session.start_s") = median(reps.map(_(1)))
      layers("session.warm_s") = median(reps.map(_(3)))
      layers("sources.load_s") = median(reps.map(_(2)))
      val loads = tr.all.filter(_.name == "sources.load")
      layers("sources.input_bytes") = median(loads.map(s => c(s.id).inputBytes.toDouble))
      layerMetrics(spark, traced, seg, c)
      val sc = c(seg.id)
      val wall = seg.dur / 1e9
      layers("spark.jobs") = sc.jobs.toDouble
      layers("spark.stages") = sc.stages.toDouble
      layers("spark.tasks") = sc.tasks.toDouble
      layers("spark.shuffle_read_bytes") = sc.shuffleRead.toDouble
      layers("spark.shuffle_write_bytes") = sc.shuffleWrite.toDouble
      layers("spark.spill_bytes") = sc.spill.toDouble
      layers("spark.executor_run_s") = sc.runMs / 1e3
      layers("spark.busy_share") = sc.runMs / 1e3 / (wall * o.cpus)
      layers("spark.failed_tasks") = sc.failedTasks.toDouble
      layers("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
      layers("jvm.jit_s") = (Jvm.jitMs - jit0) / 1e3
      val self = tr.selfTimes()
      Seq("bench", "session", "sources", "core", "operators", "materialize", "queries")
        .foreach { l =>
          layers(s"self.${l}_s") = tr.all.filter(_.layer == l).map(s => self(s.id)).sum / 1e9
        }
      base.e2e.zip(traced.e2e).foreach { case ((k, u), (_, t)) =>
        layers(s"trace.overhead.$k") = t - u
      }
    }

    // ---- output checks and sentinels, outside the timed part -----------------
    check(spark)
    val sentinels = Sentinels.map { q =>
      q -> median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        noop(Registry.byName(q).run(spark, o.tables))
        val t = (System.nanoTime() - t0) / 1e9
        sweep(spark)
        t
      })
    }
    if (o.trace) sentinels.foreach { case (q, s) => layers(s"sentinel.${q}_s") = s }

    val e2e = Seq("setup_s" -> setupS) ++ plain.e2e :+ ("peak_rss_mb" -> Jvm.peakRssMb)
    val heap = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq
    val record = Map(
      "cpus" -> o.cpus,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "seed" -> o.seed,
      "jvm_flags" -> heap,
      "spark_version" -> spark.version,
      "sentinels_s" -> sentinels.toMap,
      "setup_reps_s" -> reps.map(_(0)),
      "run_id" -> tr.runId)
    spark.stop()
    Map(
      "e2e" -> e2e.toMap,
      "layers" -> scala.collection.immutable.ListMap(layers.toSeq: _*),
      "attempted" -> attempted,
      "failed" -> failed,
      "check_failures" -> checkFailures,
      "check_detail" -> checkDetail,
      "outputs" -> outputs.map { case (q, p) => Map("name" -> q, "path" -> p) }.toSeq,
      "oracle_sql" -> outputs.map(_._1).distinct.map(q => q -> Registry.byName(q).oracle.getOrElse("")).toMap,
      "record" -> record)
  }

  def spansJson(): Map[String, Any] = {
    val c = tr.inclusiveCounters()
    val self = tr.selfTimes()
    Map("run_id" -> tr.runId, "workload" -> o.workload, "cpus" -> o.cpus,
      "spans" -> tr.all.sortBy(_.id).map { s =>
        val k = c.getOrElse(s.id, new Counters)
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id),
          "parallel" -> s.parallel, "jobs" -> k.jobs, "stages" -> k.stages, "tasks" -> k.tasks,
          "executor_run_ms" -> k.runMs, "shuffle_read_bytes" -> k.shuffleRead,
          "shuffle_write_bytes" -> k.shuffleWrite, "spill_bytes" -> k.spill,
          "failed_tasks" -> k.failedTasks, "plan_ms" -> k.planMs)
      })
  }

  /** Runs one registered query: `run` (plan plus eager sub-actions) in a
    * `build` span, the sink in an `exec` span. Returns (build s, exec s).
    */
  def exec(spark: SparkSession, q: String, dir: String, sink: DataFrame => Unit): (Double, Double) = {
    tr.open("queries", s"queries.$q")
    try {
      val t0 = System.nanoTime()
      val df = tr.span("queries", "build")(Registry.byName(q).run(spark, dir))
      val t1 = System.nanoTime()
      tr.span("queries", "exec")(sink(df))
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally tr.close()
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
  def write(f: java.io.File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(render(v)) finally w.close()
  }
}
