package graft.operators

import scala.util.Random

import org.apache.spark.sql.Dataset

import graft.core._

/** Distributed feed-forward NN training (reference C6: the Encog-based
  * trainer, guagua-examples/.../nn/NNWorker.java:110-232,
  * NNMaster.java:64-149, Gradient.java, Weight.java) re-expressed on the
  * [[graft.core.Iterate]] kernel:
  *
  *   iteration 1:  master builds the network and seeded initial weights
  *                 (NNMaster.java:64-90; the reference's unseeded init is
  *                 seeded here — the documented determinism upgrade);
  *                 workers emit an empty result.
  *   iteration i:  workers run one epoch of forward+backprop over their
  *                 cached train split, emitting summed gradients +
  *                 train/test error + counts (NNWorker.java:146-178);
  *                 master folds gradients and applies the weight update
  *                 (NNMaster.java:101-112 uses Encog quickprop; we default
  *                 to plain gradient descent — the quickprop internals are
  *                 Encog implementation detail, not public semantics — and
  *                 keep the update pluggable).
  *
  * The train/test split is a deterministic hash of a caller-supplied record
  * key, replacing `Math.random()` at NNWorker.java:224-230 (SURVEY Q10).
  *
  * Architecture: fully-connected, sigmoid activations, squared-error loss —
  * matching the reference's default network shape (input → hidden → output,
  * NNMaster.java:127-149). Weights layout: layer l maps in(l)+1 inputs
  * (bias last) to out(l) units.
  */
object NeuralNet {

  /** (features, label, splitKey) — splitKey drives the train/test hash. */
  final case class Sample(features: Array[Double], label: Double, splitKey: Long)

  final case class Layers(sizes: Seq[Int]) {
    require(sizes.length >= 2, "need at least input and output layer")
    def nWeights: Int =
      sizes.sliding(2).map { case Seq(in, out) => (in + 1) * out }.sum
  }

  final case class NNState(
      weights: Array[Double],
      trainError: Double,
      testError: Double)

  final case class NNGrad(
      grad: Array[Double],
      trainErr: Double,
      testErr: Double,
      nTrain: Long,
      nTest: Long) {
    def merge(o: NNGrad): NNGrad = {
      if (grad.isEmpty) o
      else if (o.grad.isEmpty) this
      else {
        val g = new Array[Double](grad.length)
        var i = 0
        while (i < g.length) { g(i) = grad(i) + o.grad(i); i += 1 }
        NNGrad(g, trainErr + o.trainErr, testErr + o.testErr, nTrain + o.nTrain, nTest + o.nTest)
      }
    }
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Forward pass; returns per-layer activations (a(0) = input). With
    * [[backprop]], the reference arithmetic that [[Kernel]] reproduces.
    */
  private[operators] def forward(layers: Layers, w: Array[Double], x: Array[Double])
      : Array[Array[Double]] = {
    val acts = new Array[Array[Double]](layers.sizes.length)
    acts(0) = x
    var off = 0
    var l = 0
    while (l < layers.sizes.length - 1) {
      val in = layers.sizes(l)
      val out = layers.sizes(l + 1)
      val a = new Array[Double](out)
      var j = 0
      while (j < out) {
        var z = w(off + j * (in + 1) + in) // bias
        var i = 0
        while (i < in) { z += w(off + j * (in + 1) + i) * acts(l)(i); i += 1 }
        a(j) = sigmoid(z)
        j += 1
      }
      acts(l + 1) = a
      off += (in + 1) * out
      l += 1
    }
    acts
  }

  /** Backprop for one sample; accumulates d(loss)/dw into `grad`.
    * Loss = Σ (y − a)² / 2 (the reference's error accumulation shape,
    * NNWorker error += err²/2 like its LR sibling).
    */
  private[operators] def backprop(
      layers: Layers, w: Array[Double], s: Sample, grad: Array[Double]): Double = {
    val acts = forward(layers, w, s.features)
    val L = layers.sizes.length - 1
    val out = acts(L)
    var delta = new Array[Double](out.length)
    var err = 0.0
    var j = 0
    while (j < out.length) {
      val e = out(j) - s.label // single-output label broadcast to each unit
      err += e * e / 2
      delta(j) = e * out(j) * (1 - out(j))
      j += 1
    }
    // layer offsets
    val offs = new Array[Int](L)
    var acc = 0
    var l = 0
    while (l < L) {
      offs(l) = acc; acc += (layers.sizes(l) + 1) * layers.sizes(l + 1); l += 1
    }
    l = L - 1
    while (l >= 0) {
      val in = layers.sizes(l)
      val outN = layers.sizes(l + 1)
      val prev = acts(l)
      val nextDelta = new Array[Double](in)
      var jj = 0
      while (jj < outN) {
        val rowOff = offs(l) + jj * (in + 1)
        var i = 0
        while (i < in) {
          grad(rowOff + i) += delta(jj) * prev(i)
          nextDelta(i) += delta(jj) * w(rowOff + i)
          i += 1
        }
        grad(rowOff + in) += delta(jj) // bias
        jj += 1
      }
      if (l > 0) {
        var i = 0
        while (i < in) { nextDelta(i) *= prev(i) * (1 - prev(i)); i += 1 }
      }
      delta = nextDelta
      l -= 1
    }
    err
  }

  /** Deterministic train/test membership (SURVEY Q10 semantics). */
  def isTrain(splitKey: Long): Boolean =
    ((splitKey * 2654435761L + 1013904223L) % 1000003L) % 2 == 0

  /** Per-`compute` training kernel: the arithmetic of [[forward]] and
    * [[backprop]], bit for bit, without their per-sample allocations.
    * Activation and delta buffers are allocated once, and each layer's
    * weights are also kept transposed (`wt(l)(i * out + j)` = weight of
    * input `i` into unit `j`), so the forward pass runs `out` independent
    * accumulations over contiguous memory while every unit still sums in the
    * reference order — bias first, then inputs `0 until in`. The backward
    * pass keeps the reference order too (`nextDelta(i)` sums over units
    * `0 until out`) and skips the input layer's `nextDelta`, which the
    * reference computes and never reads. Not thread-safe: one per partition.
    */
  private[operators] final class Kernel(layers: Layers, w: Array[Double]) {
    private val sizes = layers.sizes.toArray
    private val L = sizes.length - 1
    private val offs = sizes.sliding(2).map { case Array(in, out) => (in + 1) * out }
      .scanLeft(0)(_ + _).toArray
    private val wt = Array.tabulate(L) { l =>
      val (in, out) = (sizes(l), sizes(l + 1))
      val t = new Array[Double](in * out)
      var j = 0
      while (j < out) {
        var i = 0
        while (i < in) { t(i * out + j) = w(offs(l) + j * (in + 1) + i); i += 1 }
        j += 1
      }
      t
    }
    // acts(0) is the current sample's features; deltas(l) is dE/dz of layer l's
    // units (deltas(0), the input layer's, is never computed).
    private val acts = Array.tabulate(L + 1)(l => if (l == 0) null else new Array[Double](sizes(l)))
    private val deltas = Array.tabulate(L + 1)(l => if (l == 0) null else new Array[Double](sizes(l)))

    /** Fills `acts` for `x`; returns the output activations. */
    private def forwardInto(x: Array[Double]): Array[Double] = {
      acts(0) = x
      var l = 0
      while (l < L) {
        val in = sizes(l)
        val out = sizes(l + 1)
        val prev = acts(l)
        val z = acts(l + 1)
        val t = wt(l)
        var j = 0
        while (j < out) { z(j) = w(offs(l) + j * (in + 1) + in); j += 1 } // bias
        var i = 0
        while (i < in) {
          val a = prev(i)
          val row = i * out
          j = 0
          while (j < out) { z(j) += t(row + j) * a; j += 1 }
          i += 1
        }
        j = 0
        while (j < out) { z(j) = sigmoid(z(j)); j += 1 }
        l += 1
      }
      acts(L)
    }

    /** Half squared error of the network on `s`, as the test rows count it. */
    def error(s: Sample): Double = {
      val out = forwardInto(s.features)
      var e = 0.0
      var j = 0
      while (j < out.length) { val d = out(j) - s.label; e += d * d / 2; j += 1 }
      e
    }

    /** [[backprop]]: accumulates `s`'s gradient into `grad`, returns its error. */
    def backprop(s: Sample, grad: Array[Double]): Double = {
      val out = forwardInto(s.features)
      var delta = deltas(L)
      var err = 0.0
      var j = 0
      while (j < out.length) {
        val e = out(j) - s.label
        err += e * e / 2
        delta(j) = e * out(j) * (1 - out(j))
        j += 1
      }
      var l = L - 1
      while (l >= 0) {
        val in = sizes(l)
        val outN = sizes(l + 1)
        val prev = acts(l)
        var jj = 0
        while (jj < outN) {
          val rowOff = offs(l) + jj * (in + 1)
          val d = delta(jj)
          var i = 0
          while (i < in) { grad(rowOff + i) += d * prev(i); i += 1 }
          grad(rowOff + in) += d // bias
          jj += 1
        }
        if (l > 0) {
          val next = deltas(l)
          val t = wt(l)
          var i = 0
          while (i < in) {
            val row = i * outN
            var nd = 0.0
            jj = 0
            while (jj < outN) { nd += delta(jj) * t(row + jj); jj += 1 }
            next(i) = nd * (prev(i) * (1 - prev(i)))
            i += 1
          }
          delta = next
        }
        l -= 1
      }
      err
    }
  }

  final class Worker(layers: Layers) extends WorkerComputable[Sample, NNState, NNGrad] {
    def compute(records: Iterator[Sample], last: Option[NNState],
        ctx: IterationContext): NNGrad = last match {
      case None => NNGrad(Array.empty, 0.0, 0.0, 0L, 0L)
      case Some(st) =>
        val kernel = new Kernel(layers, st.weights)
        val grad = new Array[Double](st.weights.length)
        var trainErr = 0.0
        var testErr = 0.0
        var nTrain = 0L
        var nTest = 0L
        while (records.hasNext) {
          val s = records.next()
          if (isTrain(s.splitKey)) {
            trainErr += kernel.backprop(s, grad)
            nTrain += 1
          } else {
            testErr += kernel.error(s)
            nTest += 1
          }
        }
        NNGrad(grad, trainErr, testErr, nTrain, nTest)
    }
  }

  /** Master-side weight update rule — the pluggable seam the reference fills
    * with Encog's quickprop trainer (NNMaster.java:101-112, Weight.java).
    * Implementations may carry per-weight state across iterations (they live
    * on the driver for the duration of one `train` call); use a fresh
    * instance per run.
    */
  trait WeightUpdate extends Serializable {
    /** Returns the NEW weight array given current weights and the summed
      * gradient (∂E/∂w) for this iteration.
      */
    def update(weights: Array[Double], grad: Array[Double]): Array[Double]
  }

  /** Plain batch gradient descent — the round-1 default. */
  final class GradientDescentUpdate(learnRate: Double) extends WeightUpdate {
    def update(w: Array[Double], g: Array[Double]): Array[Double] = {
      val nw = w.clone()
      var i = 0
      while (i < nw.length) { nw(i) -= learnRate * g(i); i += 1 }
      nw
    }
  }

  /** Quickprop (Fahlman 1988, "An Empirical Study of Learning Speed in
    * Back-Propagation Networks" — public literature, NOT a port of Encog's
    * internals). Per weight, with S = current slope, Sp = previous slope,
    * Dp = previous step:
    *
    *   - first step (or Dp = 0): plain gradient step −ε·S;
    *   - otherwise the secant/parabola jump  D = S/(Sp − S) · Dp  toward the
    *     quadratic's stationary point;
    *   - growth clamp: |D| ≤ μ·|Dp| (μ = 1.75 in the paper) — also used
    *     when Sp = S (flat secant, infinite jump);
    *   - while the current slope still descends along the previous step's
    *     direction (S·Dp < 0), add the first-order term −ε·S.
    */
  final class QuickpropUpdate(epsilon: Double, mu: Double = 1.75) extends WeightUpdate {
    private var prevGrad: Array[Double] = _
    private var prevStep: Array[Double] = _

    def update(w: Array[Double], g: Array[Double]): Array[Double] = {
      val nw = w.clone()
      val step = new Array[Double](w.length)
      var i = 0
      while (i < w.length) {
        val s = g(i)
        val d =
          if (prevStep == null || prevStep(i) == 0.0) -epsilon * s
          else {
            val sp = prevGrad(i)
            val dp = prevStep(i)
            val denom = sp - s
            var q =
              if (math.abs(denom) < java.lang.Double.MIN_NORMAL) mu * dp
              else (s / denom) * dp
            if (math.abs(q) > mu * math.abs(dp)) q = mu * math.abs(dp) * math.signum(q)
            if (s * dp < 0) q += -epsilon * s
            q
          }
        step(i) = d
        nw(i) = w(i) + d
        i += 1
      }
      prevGrad = g.clone()
      prevStep = step
      nw
    }
  }

  final class Master(layers: Layers, update: WeightUpdate, seed: Long)
      extends MasterComputable[NNState, NNGrad] {
    def compute(results: Iterator[NNGrad], last: Option[NNState],
        ctx: IterationContext): NNState = last match {
      case None =>
        val rnd = new Random(seed)
        NNState(Array.fill(layers.nWeights)(rnd.nextDouble() * 2 - 1), Double.MaxValue, Double.MaxValue)
      case Some(st) =>
        val total = results.reduce(_ merge _)
        NNState(update.update(st.weights, total.grad),
          if (total.nTrain > 0) total.trainErr / total.nTrain else 0.0,
          if (total.nTest > 0) total.testErr / total.nTest else 0.0)
    }
  }

  /** The reference's `nn.record.scale` load knob (NNWorker.java:219-220):
    * each loaded record is duplicated `scale` times — a data-volume lever
    * for load-testing a training config without generating new data. Spark
    * form: a flatMap at load, so the duplicates are created inside each
    * partition (no shuffle, no driver materialization) and partition sizing
    * scales exactly like real data would.
    */
  def scaleRecords(data: Dataset[Sample], scale: Int): Dataset[Sample] = {
    require(scale >= 1, s"record scale must be >= 1, got $scale")
    if (scale == 1) data
    else data.flatMap(s => Seq.fill(scale)(s))(
      org.apache.spark.sql.Encoders.product[Sample])
  }

  /** @param recordScale duplicate every record this many times at load —
    *   the reference's `nn.record.scale` ([[scaleRecords]]). Mean errors are
    *   invariant under duplication; summed gradients scale by the factor
    *   (same as the reference, whose workers also emit summed gradients over
    *   the duplicated records).
    */
  def train(
      data: Dataset[Sample],
      layers: Layers,
      iterations: Int = 50,
      learnRate: Double = 0.1,
      seed: Long = 42L,
      convergeBelow: Double = 0.0,
      update: Option[WeightUpdate] = None,
      recordScale: Int = 1): IterationResult[NNState] =
    Iterate.run[Sample, NNState, NNGrad](
      scaleRecords(data, recordScale),
      new Worker(layers),
      new Master(layers, update.getOrElse(new GradientDescentUpdate(learnRate)), seed),
      maxIterations = iterations,
      halt = (m: NNState) => m.trainError < convergeBelow,
      combine = Some((a, b) => a.merge(b)))
}
