package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CollectionAccumulator

import graft.{Materialize, Tables}
import graft.core.{IterationContext, IterationListener, Iterate, MasterComputable, WorkerComputable}
import graft.operators.NeuralNet
import graft.operators.NeuralNet.{NNGrad, NNState, Sample}

import Main._

/** `train`: guagua's NN trainer on the Iterate kernel with the combiner.
  * One operation is one iteration; one task is one training run of
  * `Iterations` iterations from the same initial weights, and its time is
  * the loop wall time until the train error first drops below `Target`.
  */
final class Train(o0: Opts, tr0: Tracer) extends Workload(o0, tr0) {
  import Train._

  private var samples: RDD[Sample] = _
  private val finals = mutable.ArrayBuffer.empty[(Double, Double)] // (train, test) error per run

  def load(spark: SparkSession): Unit = {
    val (seed, cpus, n) = (o.seed, o.cpus, Samples.toLong)
    samples = spark.sparkContext.parallelize(0 until cpus, cpus).flatMap { p =>
      (p.toLong until n by cpus.toLong).iterator.map(i => sample(seed, i))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    samples.count()
  }

  def warm(spark: SparkSession): Unit = { trainOnce(spark, WarmIterations, traced = false); () }

  override def release(spark: SparkSession): Unit = { samples.unpersist(blocking = true); sweep(spark) }

  def timed(spark: SparkSession, traced: Boolean): Timed = {
    val runs = mutable.ArrayBuffer.empty[RunStats]
    val t0 = System.nanoTime()
    var failedIters = 0
    // Another run starts only if it is expected to end within the budget.
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      try runs += trainOnce(spark, Iterations, traced)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] training run failed: $e"); failedIters += Iterations }
    } while (elapsed * (runs.size + 1) / runs.size.max(1) <= o.seconds)
    runs.foreach(r => finals += ((r.trainErr, r.testErr)))
    val unreached = runs.count(_.toTarget.isEmpty)
    Timed(
      ops = runs.flatMap(_.iterS).toSeq,
      attempted = runs.map(_.iterS.size).sum + failedIters,
      failed = failedIters + unreached * Iterations,
      tasks = runs.map(r => r.toTarget.getOrElse(r.wallS)).toSeq,
      items = Samples.toDouble * runs.map(_.iterS.size).sum,
      wallS = runs.map(_.wallS).sum)
  }

  /** Final errors against a single-partition run of the same task. */
  def check(spark: SparkSession): Unit = {
    val cache = new java.io.File(o.reference)
    val (refTrain, refTest) =
      if (o.reference.nonEmpty && cache.isFile) {
        val Array(a, b) = scala.io.Source.fromFile(cache).mkString.trim.split(",").map(_.toDouble)
        (a, b)
      } else {
        val single = spark.createDataset(samples)(Encoders.product[Sample]).coalesce(1)
        val m = Iterate.run[Sample, NNState, NNGrad](single, new NeuralNet.Worker(Net),
          new NeuralNet.Master(Net, new NeuralNet.GradientDescentUpdate(LearnRate), InitSeed),
          maxIterations = Iterations, combine = Some((a: NNGrad, b: NNGrad) => a.merge(b))).master
        if (o.reference.nonEmpty) {
          val w = new java.io.PrintWriter(cache)
          try w.write(s"${m.trainError},${m.testError}") finally w.close()
        }
        (m.trainError, m.testError)
      }
    def close(a: Double, b: Double) = math.abs(a - b) <= Tolerance * math.max(1.0, math.abs(b))
    val bad = finals.filterNot { case (a, b) => close(a, refTrain) && close(b, refTest) }
    checkFailures = bad.size * Iterations
    checkDetail = f"reference train/test error $refTrain%.15g/$refTest%.15g; " +
      f"${finals.size} runs, ${bad.size} outside relative tolerance $Tolerance%.0e" +
      bad.headOption.map { case (a, b) => f"; e.g. $a%.15g/$b%.15g" }.getOrElse("")
  }

  private def trainOnce(spark: SparkSession, iterations: Int, traced: Boolean): RunStats = {
    val data = spark.createDataset(samples)(Encoders.product[Sample])
    val times = new IterTimes
    val workers = spark.sparkContext.collectionAccumulator[(Int, Int, Long, Long, Long)]("workers")
    val worker: WorkerComputable[Sample, NNState, NNGrad] =
      if (traced) new TimedWorker(new NeuralNet.Worker(Net), workers) else new NeuralNet.Worker(Net)
    val master0 = new NeuralNet.Master(Net, new NeuralNet.GradientDescentUpdate(LearnRate), InitSeed)
    val master: MasterComputable[NNState, NNGrad] = if (traced) new TimedMaster(master0, tr) else master0
    val spans = if (traced) Seq(new IterationSpans(tr)) else Nil
    val t0 = System.nanoTime()
    val res = tr.span("core", "core.run") {
      Iterate.run[Sample, NNState, NNGrad](data, worker, master, maxIterations = iterations,
        combine = Some((a: NNGrad, b: NNGrad) => a.merge(b)), listeners = times +: spans)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println("[perfbench] train error by iteration: " +
      times.err.zipWithIndex.collect { case (e, i) if (i + 1) % 10 == 0 => f"${i + 1}:$e%.5f" }.mkString(" "))
    if (traced) {
      import scala.jdk.CollectionConverters._
      val iters = tr.all.filter(_.name == "core.iteration").takeRight(iterations)
      workers.value.asScala.foreach { case (it, part, a, b, n) =>
        val parent = iters.lift(it - 1).map(_.id).getOrElse(-1)
        tr.add(parent, "operators", s"operators.worker.$part", tr.fromNanoTime(a), tr.fromNanoTime(b), parallel = true)
        workerRecords += n
      }
    }
    RunStats(times.iterS.toSeq,
      times.ends.zip(times.err).collectFirst { case (e, err) if err < Target => (e - t0) / 1e9 },
      wall, res.master.trainError, res.master.testError)
  }

  private var workerRecords = 0L

  def layerMetrics(spark: SparkSession, traced: Timed, seg: Span, c: Map[Int, Counters]): Unit = {
    val all = tr.all
    val runs = all.filter(s => s.name == "core.run" && s.start >= seg.start)
    val iters = all.filter(s => s.name == "core.iteration" && s.start >= seg.start)
    val n = iters.size.toDouble
    val cc = new Counters
    runs.foreach(r => cc.add(c(r.id)))
    val byParent = all.filter(_.parallel).groupBy(_.parent)
    val masters = all.filter(_.name == "operators.master").groupBy(_.parent)
    val perIter = iters.map { it =>
      val ws = byParent.getOrElse(it.id, Nil).map(_.dur / 1e9)
      val m = masters.getOrElse(it.id, Nil).map(_.dur / 1e9).sum
      (it.dur / 1e9, ws, m)
    }
    val busy = perIter.flatMap(_._2).sum
    val skews = perIter.collect { case (_, ws, _) if ws.nonEmpty && ws.sum > 0 => ws.max / (ws.sum / ws.size) }
    layers("core.iter_s") = median(iters.map(_.dur / 1e9))
    layers("core.overhead_s") = perIter.map { case (w, ws, m) => w - (if (ws.isEmpty) 0.0 else ws.max) - m }.sum / n
    layers("core.jobs_per_iter") = cc.jobs / n
    layers("core.tasks_per_iter") = cc.tasks / n
    layers("core.result_bytes_per_iter") = cc.resultBytes / n
    layers("operators.worker_busy_s") = busy / n
    layers("operators.worker_records_per_s") = workerRecords / busy
    layers("operators.worker_skew") = skews.sum / skews.size
    layers("operators.master_s") = perIter.map(_._3).sum / n
    Zeros.zeroPipeline(layers)
  }
}

object Train {
  val Inputs = 100
  val Hidden = 10
  val Samples = 64000
  val Iterations = 100
  val WarmIterations = 10
  /** Summed-gradient step. Iterate folds partition results in completion
    * order, so a step large enough to make the dynamics chaotic would make
    * the final error depend on scheduling; this one keeps runs repeatable.
    */
  val LearnRate = 2e-4
  /** Train error first reached near iteration 80 of `Iterations`. */
  val Target = 0.075
  val Tolerance = 1e-6
  val InitSeed = 42L
  val Net = NeuralNet.Layers(Seq(Inputs, Hidden, 1))

  /** The fixed function the network learns: the sign of a linear form. */
  private val teacher = { val r = new java.util.Random(7); Array.fill(Inputs)(r.nextGaussian()) }

  def sample(seed: Long, i: Long): Sample = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val x = Array.fill(Inputs)(r.nextDouble() * 2 - 1)
    var z = 0.0
    var j = 0
    while (j < Inputs) { z += teacher(j) * x(j); j += 1 }
    Sample(x, if (z > 0) 1.0 else 0.0, i)
  }

  final case class RunStats(iterS: Seq[Double], toTarget: Option[Double], wallS: Double,
      trainErr: Double, testErr: Double)

  /** Iteration wall times and train errors through the kernel's hooks. */
  final class IterTimes extends IterationListener[NNState] {
    val iterS = mutable.ArrayBuffer.empty[Double]
    val ends = mutable.ArrayBuffer.empty[Long]
    val err = mutable.ArrayBuffer.empty[Double]
    private var start = 0L
    override def onIterationStart(i: Int): Unit = start = System.nanoTime()
    override def onIterationEnd(i: Int, m: NNState, ms: Long): Unit = {
      val t = System.nanoTime()
      iterS += (t - start) / 1e9; ends += t; err += m.trainError
    }
  }

  final class IterationSpans(tr: Tracer) extends IterationListener[NNState] {
    override def onIterationStart(i: Int): Unit = tr.open("core", "core.iteration")
    override def onIterationEnd(i: Int, m: NNState, ms: Long): Unit = tr.close()
  }

  /** Times each partition's compute and reports it through an accumulator. */
  final class TimedWorker(inner: NeuralNet.Worker,
      acc: CollectionAccumulator[(Int, Int, Long, Long, Long)])
      extends WorkerComputable[Sample, NNState, NNGrad] {
    def compute(records: Iterator[Sample], last: Option[NNState], ctx: IterationContext): NNGrad = {
      var n = 0L
      val counted = records.map { r => n += 1; r }
      val t0 = System.nanoTime()
      val w = inner.compute(counted, last, ctx)
      acc.add((ctx.currentIteration, TaskContext.getPartitionId(), t0, System.nanoTime(), n))
      w
    }
  }

  final class TimedMaster(inner: NeuralNet.Master, @transient tr: Tracer)
      extends MasterComputable[NNState, NNGrad] {
    def compute(rs: Iterator[NNGrad], last: Option[NNState], ctx: IterationContext): NNState =
      tr.span("operators", "operators.master")(inner.compute(rs, last, ctx))
  }
}

/** `pipeline`: the document release chain, in release order, with shared
  * stages materialized under a fresh root for every pass, so each pass pays
  * its shared builds. One operation is one output; one task is the chain.
  * The first timed segment runs at least `MinChains` chains: the first
  * chain in a process pays JIT compilation, the next ones do not, and
  * `task_s` is their median. The trace run's later segments need no
  * minimum.
  */
final class Pipeline(o0: Opts, tr0: Tracer) extends Workload(o0, tr0) {
  import Pipeline._

  private val builds = mutable.ArrayBuffer.empty[Map[String, Double]] // traced passes
  private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  private val stageBytes = mutable.ArrayBuffer.empty[Long]
  private var pass = 0
  private var first = true

  def load(spark: SparkSession): Unit = noop(Tables.documents(spark, o.data))

  /** A word count over the corpus: warms the parquet reader and codegen. */
  def warm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, explode, split}
    noop(Tables.documents(spark, o.data).select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count())
  }

  def timed(spark: SparkSession, traced: Boolean): Timed = {
    val ops = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var attempted = 0
    val t0 = System.nanoTime()
    do {
      pass += 1
      val dir = new java.io.File(o.work, s"out/pass$pass").getAbsolutePath
      Materialize.disable()
      Materialize.enable()
      val poll = if (traced) Some(new BuildPoller(tr)) else None
      val a = System.nanoTime()
      tr.open("bench", "pipeline.chain")
      Chain.foreach { q =>
        attempted += 1
        try {
          val (b, e) = exec(spark, q, o.data, df => df.write.mode("overwrite").parquet(s"$dir/$q"))
          ops += b + e
          if (traced) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((b, e))
          outputs += ((q, s"$dir/$q"))
        } catch { case NonFatal(err) => failed += 1; System.err.println(s"[perfbench] $q failed: $err") }
      }
      tr.close()
      walls += (System.nanoTime() - a) / 1e9
      poll.foreach { p =>
        p.stop()
        builds += p.addSpans()
        stageBytes += stageRoots().map(du).sum
      }
      Materialize.disable()
      stageRoots().foreach(deleteTree)
      sweep(spark)
    } while (walls.size < (if (first) MinChains else 1) ||
      (System.nanoTime() - t0) / 1e9 * (walls.size + 1) / walls.size <= o.seconds)
    first = false
    Timed(ops.toSeq, attempted, failed, walls.toSeq, docCount(spark) * walls.size, walls.sum)
  }

  private var docs = -1L
  private def docCount(spark: SparkSession): Double = {
    if (docs < 0) docs = Tables.documents(spark, o.data).count()
    docs.toDouble
  }

  /** Outputs were written by the timed passes; run.py digests them. */
  def check(spark: SparkSession): Unit = ()

  private def stageRoots(): Seq[java.io.File] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_stage_"))

  def layerMetrics(spark: SparkSession, traced: Timed, seg: Span, c: Map[Int, Counters]): Unit = {
    Zeros.zeroTrain(layers)
    val mat = tr.all.filter(s => s.layer == "materialize" && s.start >= seg.start)
    Stages.foreach { st =>
      layers(s"materialize.build_s.$st") = median(builds.map(_.getOrElse(st, 0.0)).toSeq)
    }
    Stages.foreach { st =>
      val ss = mat.filter(_.name == s"materialize.$st")
      def per(f: Counters => Double) = if (ss.isEmpty) 0.0 else ss.map(s => f(c(s.id))).sum / ss.size
      layers(s"materialize.$st.jobs") = per(_.jobs.toDouble)
      layers(s"materialize.$st.stages") = per(_.stages.toDouble)
      layers(s"materialize.$st.tasks") = per(_.tasks.toDouble)
      layers(s"materialize.$st.busy_share") =
        if (ss.isEmpty) 0.0 else ss.map(s => c(s.id).runMs / 1e3 / (s.dur / 1e9 * o.cpus)).sum / ss.size
    }
    val total = median(builds.map(_.values.sum).toSeq)
    layers("materialize.build_total_s") = total
    layers("materialize.consume_s") = median(traced.tasks) - total
    layers("materialize.stage_bytes") = median(stageBytes.map(_.toDouble).toSeq)
    Chain.foreach { q =>
      layers(s"queries.$q.s") = median(perQuery.getOrElse(q, Nil).map { case (b, e) => b + e }.toSeq)
    }
    val passes = traced.tasks.size.toDouble
    layers("queries.build_s") = perQuery.values.flatten.map(_._1).sum / passes
    layers("queries.exec_s") = perQuery.values.flatten.map(_._2).sum / passes
    layers("queries.plan_s") = c(seg.id).planMs / 1e3 / passes
  }
}

object Pipeline {
  /** Two chains give 20 output latencies per run instead of 10. */
  val MinChains = 2
  val Chain = Seq("p1_clean_corpus", "d9_contamination", "d18_exact_substr", "p7_span_strip",
    "p8_pii_redacted", "p9_release_manifest", "p10_release_pii", "p12_attrition_funnel",
    "p14_bpe_pack", "p17_shard_manifest")
  val Stages = Seq("p1_dispositions", "t12_encoded", "t12_merges", "p9_kept_clean",
    "d18_hits", "d9_contamination")

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  /** Watches `Materialize.buildCosts` while a traced pass runs, to learn when
    * each shared stage finished building. A stage's span is then placed to
    * end there and to last its exclusive build time plus that of the stages
    * built inside it.
    */
  final class BuildPoller(tr: Tracer) {
    private val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile private var running = true
    private val th = new Thread(() => {
      while (running) {
        val t = tr.now
        Materialize.buildCosts.keys.foreach(k => seen.putIfAbsent(k, t))
        Thread.sleep(2)
      }
    }, "perfbench-build-poller")
    th.setDaemon(true)
    th.start()

    def stop(): Unit = {
      running = false
      th.join()
      val t = tr.now
      Materialize.buildCosts.keys.foreach(k => seen.putIfAbsent(k, t))
    }

    /** Adds one materialize span per build; returns exclusive seconds by stage. */
    def addSpans(): Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      val costs = Materialize.buildCosts.map { case (k, v) => k.takeWhile(_ != '@') -> v }
      val end = seen.asScala.map { case (k, v) => k.takeWhile(_ != '@') -> v.longValue }.toMap
      val excl = costs.map { case (k, v) => k -> (v * 1e9).toLong }
      val incl = mutable.Map(excl.toSeq: _*)
      var changed = true
      while (changed) {
        changed = false
        excl.keys.foreach { k =>
          val lo = end(k) - incl(k)
          val v = excl(k) + excl.keys.filter(j => j != k && end(j) > lo && end(j) < end(k)).map(excl).sum
          if (v != incl(k)) { incl(k) = v; changed = true }
        }
      }
      val added = mutable.ArrayBuffer.empty[(Int, Long, Long)]
      incl.toSeq.sortBy(-_._2).foreach { case (k, d) =>
        val (s, e) = (end(k) - d, end(k))
        val parent = added.filter { case (_, a, b) => a <= s && e <= b }
          .sortBy { case (_, a, b) => b - a }.headOption.map(_._1).getOrElse(tr.innermost(e - 1))
        added += ((tr.add(parent, "materialize", s"materialize.$k", s, e), s, e))
      }
      costs
    }
  }
}

/** Per-layer metrics a workload does not exercise read 0, so every traced
  * run reports the same metric names.
  */
object Zeros {
  def zeroTrain(l: mutable.LinkedHashMap[String, Double]): Unit =
    Seq("core.iter_s", "core.overhead_s", "core.jobs_per_iter", "core.tasks_per_iter",
      "core.result_bytes_per_iter", "operators.worker_busy_s", "operators.worker_records_per_s",
      "operators.worker_skew", "operators.master_s").foreach(l(_) = 0.0)

  def zeroPipeline(l: mutable.LinkedHashMap[String, Double]): Unit = {
    Pipeline.Stages.foreach(st => l(s"materialize.build_s.$st") = 0.0)
    Pipeline.Stages.foreach(st => Seq("jobs", "stages", "tasks", "busy_share")
      .foreach(k => l(s"materialize.$st.$k") = 0.0))
    Seq("materialize.build_total_s", "materialize.consume_s", "materialize.stage_bytes").foreach(l(_) = 0.0)
    Pipeline.Chain.foreach(q => l(s"queries.$q.s") = 0.0)
    Seq("queries.build_s", "queries.exec_s", "queries.plan_s").foreach(l(_) = 0.0)
  }
}
