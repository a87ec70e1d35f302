package graft.functions

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateMap, Expression, Literal}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import FunctionRegistry.{fn, scalaUdf}

/** ML plugin surface (presto-ml): features()/learn_classifier/classify/
  * learn_regressor/regress/evaluate_classifier_predictions —
  * MLFunctions.java:41-66, MLFeaturesFunctions.java:38-,
  * LearnClassifierAggregation.java, LearnRegressorAggregation.java,
  * EvaluateClassifierPredictionsAggregation.java.
  *
  * The reference buffers the group's rows in aggregation state and
  * trains a libsvm model at output time. Same shape here, with two
  * Spark-first deltas:
  *  - the sample buffer is CAPPED at `SampleCap` rows, retained KMV
  *    bottom-k by a stable content hash so the kept subset (and the
  *    fitted model) is identical under any partitioning or merge
  *    arrival order, at ANY group size — the reference's unbounded
  *    collect would OOM a 100 TB group;
  *  - the model is a transparent string ("lr:<b>,<w...>" /
  *    "linreg:<b>,<w...>") instead of an opaque libsvm Slice, and the
  *    trainers are the published textbook algorithms: standardized
  *    batch gradient descent for logistic regression, normal equations
  *    (Gaussian elimination with partial pivoting) for linear
  *    regression. Binary {0,1} labels reach logistic directly; >2
  *    distinct labels train one-vs-rest ("mlc:").
  *
  * Kernel surface (learn_libsvm_classifier / learn_libsvm_regressor —
  * LearnLibSvmClassifierAggregation.java, LibSvmUtils.java:31-96
  * "kernel=rbf,gamma=...,degree=...,coef0=..." param strings):
  *  - kernel=linear: identical to learn_classifier/regressor;
  *  - kernel=rbf: Random Fourier Features (Rahimi & Recht, NIPS 2007)
  *    z_k(x) = sqrt(2/D) cos(w_k.x + b_k) with w ~ N(0, 2*gamma*I)
  *    drawn from a FIXED splitmix64 stream (deterministic — the model
  *    string only needs dims/D/gamma, not the matrix), then the linear
  *    trainer in z-space. This is the standard scale-out approximation
  *    of a kernel machine: the transform is a per-row map, so both
  *    training input and model application stay map-side at any scale,
  *    where an exact kernel SVM needs the O(n^2) Gram matrix;
  *  - kernel=poly, degree=2: exact quadratic expansion
  *    [x_i, x_i^2, x_i*x_j], which spans the poly-2 kernel's feature
  *    space, so quadratic relationships fit to fp precision;
  *  - kernel=sigmoid / kernel=poly with degree != 2: Nystrom landmark
  *    features (Williams & Seeger, NIPS 2001) z(x) = K_mm^{-1/2} k_x
  *    over 32 landmarks — kernel-agnostic (no spectral structure
  *    needed, unlike RFF), with the spectrum-flip |lambda|^{-1/2}
  *    treatment absorbing the tanh kernel's indefiniteness (Pekalska &
  *    Duin's published handling; these kernels previously raised).
  *    The transform is a per-row map at apply time, so the scale story
  *    matches RFF's.
  *
  * Scale: learn_* is a one-shuffle aggregate with O(cap × dims) state;
  * classify/regress/features are per-row scalars (map-side, no
  * shuffle). For cluster-scale model fitting beyond a capped sample,
  * spark.ml's distributed LBFGS is the right tool — this surface
  * mirrors the reference's SQL-embedded API.
  */
object MlFunctions {

  val SampleCap = 100000

  private def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33; z
  }

  /** Stable content hash of a sample — the KMV retention key. */
  private[functions] def sampleHash(y: Double, x: Array[Double]): Long = {
    var h = mix64(java.lang.Double.doubleToLongBits(y) ^ 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < x.length) {
      h = mix64(h ^ java.lang.Double.doubleToLongBits(x(i)) ^ (i + 1).toLong)
      i += 1
    }
    h
  }

  /** Capped sample reservoir: keeps the SampleCap samples with the
    * SMALLEST stable content hash (KMV / bottom-k), so the retained
    * subset — and therefore the fitted model — is identical under ANY
    * partitioning, split sizing, or merge arrival order (r7 advice: a
    * keep-first cap was arrival-order-dependent once a group exceeded
    * the cap). Max-heap on hash: the largest retained hash evicts first;
    * O(log cap) per row past the cap. */
  final class Samples(
      init: scala.collection.mutable.ArrayBuffer[(Double, Array[Double])]) {
    private[graft] val heap =
      scala.collection.mutable.PriorityQueue.empty[(Long, Double, Array[Double])](
        Ordering.by(_._1))
    init.foreach { case (y, x) => add(y, x) }
    def size: Int = heap.size
    def add(y: Double, x: Array[Double]): Unit = addHashed(sampleHash(y, x), y, x)
    private[graft] def addHashed(h: Long, y: Double, x: Array[Double]): Unit =
      if (heap.size < SampleCap) heap.enqueue((h, y, x))
      else if (h < heap.head._1) { heap.dequeue(); heap.enqueue((h, y, x)) }
    def rows: Iterator[(Double, Array[Double])] = heap.iterator.map(t => (t._2, t._3))
  }

  // ---- shared sample-buffer plumbing ----

  private[functions] def mapToDense(m: MapData): Array[Double] = {
    val ks = m.keyArray().toLongArray()
    val vs = m.valueArray().toDoubleArray()
    val n = if (ks.isEmpty) 0 else ks.max.toInt + 1
    val out = new Array[Double](n)
    var i = 0
    while (i < ks.length) { out(ks(i).toInt) = vs(i); i += 1 }
    out
  }

  private[graft] def serializeSamples(buf: Samples): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.heap.foreach { case (h, y, x) =>
      out.writeLong(h); out.writeDouble(y)
      out.writeInt(x.length); x.foreach(out.writeDouble)
    }
    out.flush(); bos.toByteArray
  }

  private[graft] def deserializeSamples(bytes: Array[Byte]): Samples = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Samples(scala.collection.mutable.ArrayBuffer.empty)
    var i = 0
    while (i < n) {
      val h = in.readLong()
      val y = in.readDouble()
      val d = in.readInt()
      val x = Array.fill(d)(in.readDouble())
      buf.addHashed(h, y, x)
      i += 1
    }
    buf
  }

  /** Deterministic training order regardless of partitioning (any
    * total order works; label then feature-tuple text is simple and
    * stable). */
  def sorted(buf: Samples): Array[(Double, Array[Double])] =
    buf.rows.toArray.sortBy { case (y, x) => (y, x.mkString(",")) }

  private def dims(samples: Array[(Double, Array[Double])]): Int =
    if (samples.isEmpty) 0 else samples.map(_._2.length).max

  // ---- logistic regression: standardized batch GD ----

  /** Binary {0,1} labels -> "lr:" logistic model. More than two
    * distinct labels -> one-vs-rest multiclass ("mlc:" — the standard
    * published reduction; the reference reaches multiclass through
    * libsvm's own OvR, documented delta). */
  def trainClassifier(samplesRaw: Array[(Double, Array[Double])]): String = {
    val labels = samplesRaw.map(_._1).distinct.sorted
    if (labels.length > 2) return trainMulticlass(samplesRaw, labels)
    val d = dims(samplesRaw)
    val n = samplesRaw.length
    if (n == 0 || d == 0) return "lr:0.0"
    val xs = samplesRaw.map { case (_, x) => java.util.Arrays.copyOf(x, d) }
    val ys = samplesRaw.map(_._1)
    // standardize columns
    val mean = new Array[Double](d); val std = new Array[Double](d)
    var j = 0
    while (j < d) {
      var s = 0.0; xs.foreach(x => s += x(j)); mean(j) = s / n
      var v = 0.0; xs.foreach(x => v += (x(j) - mean(j)) * (x(j) - mean(j)))
      std(j) = math.sqrt(v / n); if (std(j) == 0) std(j) = 1.0
      j += 1
    }
    val z = xs.map { x => Array.tabulate(d)(j => (x(j) - mean(j)) / std(j)) }
    val w = new Array[Double](d); var b = 0.0
    val lr = 0.5
    var it = 0
    var settled = false
    var settledSince = -1
    var plateaued = 0
    // Full-batch gradient over FIXED index chunks, chunk partials summed
    // in chunk order: embarrassingly parallel over samples, and the
    // fixed chunking keeps the result a pure function of the (sorted,
    // capped) sample set — independent of partitioning, thread timing,
    // run count, AND host core count (always 8 chunks above the size
    // threshold; only the pool size varies with hardware, which cannot
    // change the chunk-ordered float summation). (The reference's
    // LibSVM trainer is likewise a single-node in-memory solver; this
    // parallelizes its epoch, not its semantics.)
    val chunks = if (n.toLong * d >= (1L << 20)) 8 else 1
    while (it < 500 && !settled) {
      val gw = new Array[Double](d); var gb = 0.0
      var errs = 0
      def chunkGrad(lo: Int, hi: Int): (Array[Double], Double, Int) = {
        val gwc = new Array[Double](d); var gbc = 0.0; var ec = 0
        var i = lo
        while (i < hi) {
          var dot = b
          var k = 0
          while (k < d) { dot += w(k) * z(i)(k); k += 1 }
          val p = 1.0 / (1.0 + math.exp(-dot))
          if ((dot >= 0) != (ys(i) > 0.5)) ec += 1
          val err = p - ys(i)
          k = 0
          while (k < d) { gwc(k) += err * z(i)(k); k += 1 }
          gbc += err
          i += 1
        }
        (gwc, gbc, ec)
      }
      if (chunks == 1) {
        val (gwc, gbc, ec) = chunkGrad(0, n)
        System.arraycopy(gwc, 0, gw, 0, d); gb = gbc; errs = ec
      } else {
        val futs = (0 until chunks).map { c =>
          val lo = (c.toLong * n / chunks).toInt
          val hi = ((c + 1).toLong * n / chunks).toInt
          trainPool.submit(new java.util.concurrent.Callable[(Array[Double], Double, Int)] {
            override def call(): (Array[Double], Double, Int) = chunkGrad(lo, hi)
          })
        }
        futs.foreach { f =>
          val (gwc, gbc, ec) = f.get()
          var k = 0
          while (k < d) { gw(k) += gwc(k); k += 1 }
          gb += gbc; errs += ec
        }
      }
      var maxStep = 0.0
      var k = 0
      while (k < d) {
        val st = math.abs(lr * gw(k) / n)
        if (st > maxStep) maxStep = st
        w(k) -= lr * gw(k) / n
        k += 1
      }
      if (math.abs(lr * gb / n) > maxStep) maxStep = math.abs(lr * gb / n)
      b -= lr * gb / n
      it += 1
      // Numeric-plateau stop: once per-iteration weight movement sits
      // below 1e-8 in the standardized space for 25 straight epochs,
      // the remaining 500-epoch budget moves weights by < ~1e-6 total
      // (steps decay monotonically there in practice — measured tails
      // run at 1e-12..1e-16) — no classify() sign can change. The d=2
      // non-separable heads burned 300+ epochs at 1e-15 steps before
      // this stop. Deterministic: a pure function of the sample set.
      if (maxStep < 1e-8) plateaued += 1 else plateaued = 0
      if (plateaued >= 25) settled = true
      // Deterministic early stop (liblinear's epsilon-stopping analog,
      // expressed on the 0/1 objective): once the decision function
      // classifies every training row correctly AND has had 50 further
      // iterations of margin growth, more epochs cannot change any
      // classify() output sign. Non-separable inputs never trigger it
      // and still run the full 500. Pure function of the (sorted,
      // capped) sample set, so partitioning-invariance is untouched.
      if (errs == 0 && it >= 50) {
        if (settledSince < 0) settledSince = it
        if (it - settledSince >= 50) settled = true
      } else settledSince = -1
    }
    // unscale: w'_j = w_j/std_j ; b' = b - sum w_j mean_j / std_j
    val wOut = Array.tabulate(d)(j => w(j) / std(j))
    val bOut = b - (0 until d).map(j => w(j) * mean(j) / std(j)).sum
    "lr:" + (bOut +: wOut.toSeq).mkString(",")
  }

  // ---- linear regression: normal equations, Gaussian elimination ----

  def trainRegressor(samplesRaw: Array[(Double, Array[Double])]): String = {
    val d = dims(samplesRaw)
    val n = samplesRaw.length
    if (n == 0 || d == 0) return "linreg:0.0"
    val xs = samplesRaw.map { case (_, x) => java.util.Arrays.copyOf(x, d) }
    val ys = samplesRaw.map(_._1)
    val m = d + 1 // column 0 is the intercept
    val a = Array.fill(m, m + 1)(0.0) // augmented [X'X | X'y]
    var i = 0
    while (i < n) {
      val xi = new Array[Double](m)
      xi(0) = 1.0
      System.arraycopy(xs(i), 0, xi, 1, d)
      var r = 0
      while (r < m) {
        var c = 0
        while (c < m) { a(r)(c) += xi(r) * xi(c); c += 1 }
        a(r)(m) += xi(r) * ys(i)
        r += 1
      }
      i += 1
    }
    // tiny ridge for rank safety (does not move exact-fit solutions
    // beyond fp noise at these magnitudes)
    (0 until m).foreach(r => a(r)(r) += 1e-9)
    // Gaussian elimination with partial pivoting
    var col = 0
    while (col < m) {
      var piv = col
      var r = col + 1
      while (r < m) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      r = col + 1
      while (r < m) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c <= m) { a(r)(c) -= f * a(col)(c); c += 1 }
        r += 1
      }
      col += 1
    }
    val sol = new Array[Double](m)
    var r = m - 1
    while (r >= 0) {
      var s = a(r)(m)
      var c = r + 1
      while (c < m) { s -= a(r)(c) * sol(c); c += 1 }
      sol(r) = s / a(r)(r)
      r -= 1
    }
    "linreg:" + sol.mkString(",")
  }

  // ---- libsvm kernel surface ----

  /** Parsed "key=value,..." params (LibSvmUtils.java:31-96; unknown keys
    * are accepted-and-ignored like the reference's unsupported svm_parameter
    * knobs). gamma <= 0 means "default 1/dims", libsvm's own default. */
  final case class SvmParams(kernel: String, gamma: Double, degree: Int, coef0: Double)

  def parseSvmParams(s: String): SvmParams = {
    var kernel = "linear"; var gamma = 0.0; var degree = 3; var coef0 = 0.0
    s.split(',').map(_.trim).filter(_.nonEmpty).foreach { pair =>
      val kv = pair.split('=')
      require(kv.length == 2, s"malformed libsvm parameter: '$pair'")
      kv(0).trim.toLowerCase match {
        case "kernel" => kernel = kv(1).trim.toLowerCase
        case "gamma"  => gamma = kv(1).trim.toDouble
        case "degree" => degree = kv(1).trim.toInt
        case "coef0"  => coef0 = kv(1).trim.toDouble
        case _        => // C/nu/eps/cache_size...: accepted, not used
      }
    }
    SvmParams(kernel, gamma, degree, coef0)
  }

  /** RFF width: 64 keeps driver-side training at cap x 64 x iters flops
    * while approximating smooth boundaries well at the dimensionalities
    * the SQL features() surface produces. */
  val RffD = 64
  private val RffSeed = 0x1c3a9e5d7b2f4680L

  private def unit(h: Long): Double = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble

  /** Deterministic N(0,1) stream member i (Box-Muller over splitmix64). */
  private def gauss(i: Long): Double = {
    val u1 = unit(mix64(RffSeed ^ (2 * i + 1)))
    val u2 = unit(mix64(RffSeed ^ (2 * i + 2)))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** z(x) for the RBF kernel exp(-gamma||x-y||^2): w ~ N(0, 2g I). */
  def rffTransform(x: Array[Double], d: Int, bigD: Int, gamma: Double): Array[Double] = {
    val scale = math.sqrt(2.0 * gamma)
    val amp = math.sqrt(2.0 / bigD)
    val z = new Array[Double](bigD)
    var k = 0
    while (k < bigD) {
      var dot = 2.0 * math.Pi * unit(mix64(RffSeed ^ ~(k + 1).toLong)) // b_k
      var j = 0
      while (j < d) {
        dot += scale * gauss(k.toLong * d + j) * (if (j < x.length) x(j) else 0.0)
        j += 1
      }
      z(k) = amp * math.cos(dot)
      k += 1
    }
    z
  }

  /** Exact poly-2 feature space: [x_i..., x_i^2..., x_i x_j (i<j)...]. */
  def poly2Transform(x: Array[Double], d: Int): Array[Double] = {
    def at(j: Int) = if (j < x.length) x(j) else 0.0
    val out = new Array[Double](2 * d + d * (d - 1) / 2)
    var p = 0
    var i = 0
    while (i < d) { out(p) = at(i); p += 1; i += 1 }
    i = 0
    while (i < d) { out(p) = at(i) * at(i); p += 1; i += 1 }
    i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) { out(p) = at(i) * at(j); p += 1; j += 1 }
      i += 1
    }
    out
  }

  // ---- Nyström landmark features (Williams & Seeger, NIPS 2001): the
  // kernel-agnostic low-rank path serving kernel=sigmoid and
  // kernel=poly with degree != 2. z(x) = K_mm^{-1/2} k_x over m
  // landmark points; a linear model on z approximates the kernel
  // machine. Unlike RFF (shift-invariant kernels only) Nyström needs
  // no spectral structure, and eigenvalue CLIPPING in K_mm^{-1/2}
  // handles the tanh kernel's indefiniteness (the reason sigmoid
  // previously raised): negative components are projected out, which
  // is the published fix for indefinite Gram matrices. Landmarks come
  // evenly spaced from the KMV-capped sample buffer, so the model is
  // arrival-order-independent like the cap itself. ----

  /** Shared daemon pool for the trainer's per-epoch gradient chunks and
    * the per-sample kernel transforms (driver-side single-node work by
    * design — see trainClassifier). Bounded, lazily created, never shut
    * down (daemon threads die with the JVM). */
  private lazy val trainPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors),
      new java.util.concurrent.ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-svm-train")
          t.setDaemon(true)
          t
        }
      })

  /** Order-preserving parallel element map for the capped sample arrays:
    * each slot is computed independently, so the output is bit-identical
    * to the serial map regardless of scheduling. */
  private def parMapSamples(in: Array[(Double, Array[Double])])(
      f: Array[Double] => Array[Double]): Array[(Double, Array[Double])] = {
    val out = new Array[(Double, Array[Double])](in.length)
    if (in.length < 1024) {
      var i = 0
      while (i < in.length) { out(i) = (in(i)._1, f(in(i)._2)); i += 1 }
    } else {
      java.util.stream.IntStream.range(0, in.length).parallel()
        .forEach(i => out(i) = (in(i)._1, f(in(i)._2)))
    }
    out
  }

  private val NystromM = 32

  private def kernelValue(kernel: String, gamma: Double, coef0: Double,
      degree: Int, x: Array[Double], y: Array[Double]): Double = {
    var dp = 0.0
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) { dp += x(i) * y(i); i += 1 }
    kernel match {
      case "sigmoid" => math.tanh(gamma * dp + coef0)
      case "poly" => math.pow(gamma * dp + coef0, degree.toDouble)
      case other => throw new IllegalArgumentException(s"no Nystrom kernel: $other")
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric m x m matrix.
    * Returns (eigenvalues, eigenvectors as columns). */
  private[functions] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val m = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(m, m)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 100) {
      off = 0.0
      var p = 0
      while (p < m) {
        var q = p + 1
        while (q < m) {
          off += 2 * a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var k = 0
            while (k < m) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < m) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(m)(i => a(i)(i)), v)
  }

  /** W = V diag(|lambda|^{-1/2}) V^T for the landmark Gram matrix —
    * the spectrum FLIP treatment for indefinite kernels (Pekalska &
    * Duin's published handling): the tanh kernel's negative-eigenvalue
    * directions carry real signal (odd components), so flipping keeps
    * them where clipping would zero them; the downstream linear model
    * absorbs the sign. Identical to the plain inverse square root for
    * PSD kernels. Near-zero eigenvalues drop (rank deficiency). */
  private def nystromW(land: Array[Array[Double]], kernel: String, gamma: Double,
      coef0: Double, degree: Int): Array[Double] = {
    val m = land.length
    val gram = Array.tabulate(m, m)((i, j) =>
      kernelValue(kernel, gamma, coef0, degree, land(i), land(j)))
    val (lam, v) = jacobiEigen(gram)
    val inv = lam.map(l => if (math.abs(l) > 1e-10) 1.0 / math.sqrt(math.abs(l)) else 0.0)
    val w = new Array[Double](m * m)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        var s = 0.0
        var k = 0
        while (k < m) { s += v(i)(k) * inv(k) * v(j)(k); k += 1 }
        w(i * m + j) = s
        j += 1
      }
      i += 1
    }
    w
  }

  def nystromTransform(x: Array[Double], land: Array[Array[Double]], w: Array[Double],
      kernel: String, gamma: Double, coef0: Double, degree: Int): Array[Double] = {
    val m = land.length
    val kx = Array.tabulate(m)(i => kernelValue(kernel, gamma, coef0, degree, x, land(i)))
    val z = new Array[Double](m)
    var i = 0
    while (i < m) {
      var s = 0.0
      var j = 0
      while (j < m) { s += w(i * m + j) * kx(j); j += 1 }
      z(i) = s
      i += 1
    }
    z
  }

  private def kernelized(samples: Array[(Double, Array[Double])], p: SvmParams)
      : (String, Array[(Double, Array[Double])]) = {
    val d = dims(samples)
    def nystrom(kernel: String): (String, Array[(Double, Array[Double])]) = {
      val g = if (p.gamma > 0) p.gamma else 1.0 / math.max(d, 1)
      val m = math.min(NystromM, samples.length)
      require(m > 0, "no samples to learn from")
      val step = math.max(1, samples.length / m)
      val land = (0 until m).map(i => samples((i * step) % samples.length)._2).toArray
      val w = nystromW(land, kernel, g, p.coef0, p.degree)
      val landTxt = land.map(_.mkString(",")).mkString("|")
      val prefix = s"nys:$d;$m;$kernel;$g;${p.coef0};${p.degree};$landTxt;${w.mkString(",")};"
      (prefix, parMapSamples(samples)(x =>
        nystromTransform(x, land, w, kernel, g, p.coef0, p.degree)))
    }
    p.kernel match {
      case "linear" => ("", samples)
      case "rbf" =>
        val g = if (p.gamma > 0) p.gamma else 1.0 / math.max(d, 1)
        (s"rff:$d;$RffD;$g;",
          parMapSamples(samples)(x => rffTransform(x, d, RffD, g)))
      case "poly" if p.degree == 2 =>
        (s"poly2:$d;", parMapSamples(samples)(x => poly2Transform(x, d)))
      case "poly" => nystrom("poly") // degree 1, 3+ via landmark features
      case "sigmoid" => nystrom("sigmoid")
      case other => throw new IllegalArgumentException(s"unknown kernel: $other")
    }
  }

  def trainWithParams(samples: Array[(Double, Array[Double])], params: String,
      classifier: Boolean): String = {
    val (prefix, mapped) = kernelized(samples, parseSvmParams(params))
    prefix + (if (classifier) trainClassifier(mapped) else trainRegressor(mapped))
  }

  // ---- scalar application ----

  private def parseModel(model: String, kind: String): Array[Double] = {
    require(model.startsWith(kind + ":"), s"not a $kind model: ${model.take(20)}")
    model.drop(kind.length + 1).split(",").map(_.toDouble)
  }

  private def dot(coefs: Array[Double], features: Map[Long, Double]): Double = {
    var s = coefs(0)
    features.foreach { case (k, v) =>
      val idx = k.toInt + 1
      if (idx >= 1 && idx < coefs.length) s += coefs(idx) * v
    }
    s
  }

  /** One-vs-rest: a binary "lr:" head per class, argmax at apply time.
    * Model text: "mlc:c1|c2|...;lr:...;lr:...". */
  private def trainMulticlass(samples: Array[(Double, Array[Double])],
      labels: Array[Double]): String = {
    val heads = labels.map { c =>
      trainClassifier(samples.map { case (y, x) => (if (y == c) 1.0 else 0.0, x) })
    }
    "mlc:" + labels.mkString("|") + ";" + heads.mkString(";")
  }

  /** Kernel-model unwrap: densify the feature map per the recorded input
    * dims, apply the recorded transform, recurse on the inner model. */
  private def unkernel(features: Map[Long, Double], model: String)
      : Option[(Map[Long, Double], String)] = {
    def dense(d: Int): Array[Double] = {
      val x = new Array[Double](d)
      features.foreach { case (k, v) => if (k >= 0 && k < d) x(k.toInt) = v }
      x
    }
    def toMap(z: Array[Double]): Map[Long, Double] =
      z.iterator.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
    if (model.startsWith("rff:")) {
      val parts = model.drop(4).split(";", 4)
      val (d, bigD, g) = (parts(0).toInt, parts(1).toInt, parts(2).toDouble)
      Some((toMap(rffTransform(dense(d), d, bigD, g)), parts(3)))
    } else if (model.startsWith("poly2:")) {
      val parts = model.drop(6).split(";", 2)
      val d = parts(0).toInt
      Some((toMap(poly2Transform(dense(d), d)), parts(1)))
    } else if (model.startsWith("nys:")) {
      // The nys model text carries ~1.5k doubles (landmarks + whitening
      // matrix); parsing it PER ROW dominated apply time (~10s for a
      // 13k-row scoring pass at sf0.1). Parse once per executor per
      // distinct model string.
      val (d, land, w, kernel, g, c0, deg, inner) =
        nysParseCache.computeIfAbsent(model, { m =>
          val parts = m.drop(4).split(";", 9)
          (parts(0).toInt,
            parts(6).split('|').map(_.split(',').map(_.toDouble)),
            parts(7).split(',').map(_.toDouble),
            parts(2), parts(3).toDouble, parts(4).toDouble, parts(5).toInt, parts(8))
        })
      Some((toMap(nystromTransform(dense(d), land, w, kernel, g, c0, deg)), inner))
    } else None
  }

  // Bounded memo of parsed nys models (few distinct models live at a
  // time; clear on overflow rather than LRU bookkeeping).
  private val nysParseCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Array[Array[Double]], Array[Double], String, Double, Double, Int, String)]() {
    override def computeIfAbsent(key: String,
        f: java.util.function.Function[_ >: String, _ <: (Int, Array[Array[Double]], Array[Double], String, Double, Double, Int, String)])
        : (Int, Array[Array[Double]], Array[Double], String, Double, Double, Int, String) = {
      if (size() > 64) clear()
      super.computeIfAbsent(key, f)
    }
  }

  def classify(features: Map[Long, Double], model: String): Long = {
    unkernel(features, model).foreach { case (z, inner) => return classify(z, inner) }
    if (model.startsWith("mlc:")) {
      val body = model.drop(4)
      val sep = body.indexOf(';')
      val labels = body.substring(0, sep).split('|').map(_.toDouble)
      val heads = body.substring(sep + 1).split(';')
      val scores = heads.map(h => dot(parseModel(h, "lr"), features))
      return labels(scores.indices.maxBy(scores)).toLong
    }
    val c = parseModel(model, "lr")
    if (1.0 / (1.0 + math.exp(-dot(c, features))) >= 0.5) 1L else 0L
  }

  def regress(features: Map[Long, Double], model: String): Double =
    unkernel(features, model) match {
      case Some((z, inner)) => regress(z, inner)
      case None => dot(parseModel(model, "linreg"), features)
    }

  // learn_libsvm_* take the libsvm param string as a literal third
  // argument (the reference's Slice parameter is likewise a constant
  // at the call site — LearnLibSvmClassifierAggregation.java:48-60).
  private def paramText(e: Expression): String = {
    val v = e.eval()
    require(v != null, "libsvm parameter string must be a non-null literal")
    v.toString
  }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    // features(v1, ..., vN) -> map<bigint,double> with keys 0..N-1 —
    // MLFeaturesFunctions.java; a native CreateMap, fully codegen'd.
    fn("features")(
      args => CreateMap(args.zipWithIndex.flatMap { case (a, i) =>
        Seq(Literal(i.toLong), Cast(a, DoubleType))
      })),
    scalaUdf("classify", F.udf(
      (m: Map[Long, Double], model: String) => classify(m, model))),
    scalaUdf("regress", F.udf(
      (m: Map[Long, Double], model: String) => regress(m, model))),
    fn("learn_classifier")(
      args => LearnModelAgg(Cast(args(0), DoubleType), args(1), classifier = true)),
    fn("learn_regressor")(
      args => LearnModelAgg(Cast(args(0), DoubleType), args(1), classifier = false)),
    fn("learn_libsvm_classifier")(
      args => LearnModelAgg(Cast(args(0), DoubleType), args(1), classifier = true,
        params = paramText(args(2)))),
    fn("learn_libsvm_regressor")(
      args => LearnModelAgg(Cast(args(0), DoubleType), args(1), classifier = false,
        params = paramText(args(2)))),
    fn("evaluate_classifier_predictions")(
      args => EvaluatePredictionsAgg(Cast(args(0), LongType), Cast(args(1), LongType))))
}

/** learn_classifier / learn_regressor aggregation — the reference's
  * LearnClassifierAggregation/LearnRegressorAggregation with a capped,
  * deterministically-ordered sample buffer (see MlFunctions).
  */
case class LearnModelAgg(
    left: Expression,
    right: Expression,
    classifier: Boolean,
    params: String = "",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MlFunctions.Samples] with BinaryLike[Expression] {

  import MlFunctions._

  override def createAggregationBuffer(): Samples =
    new Samples(new scala.collection.mutable.ArrayBuffer[(Double, Array[Double])]())

  override def update(buf: Samples, input: InternalRow): Samples = {
    val y = left.eval(input)
    val m = right.eval(input)
    if (y != null && m != null)
      buf.add(y.asInstanceOf[Double], MlFunctions.mapToDense(m.asInstanceOf[MapData]))
    buf
  }

  override def merge(buf: Samples, other: Samples): Samples = {
    // hashes travel with the samples: the merged reservoir is the
    // bottom-k of the union, independent of arrival order
    other.heap.foreach { case (h, y, x) => buf.addHashed(h, y, x) }
    buf
  }

  override def eval(buf: Samples): Any = {
    val s = MlFunctions.sorted(buf)
    UTF8String.fromString(MlFunctions.trainWithParams(s, params, classifier))
  }

  override def serialize(buf: Samples): Array[Byte] = MlFunctions.serializeSamples(buf)
  override def deserialize(bytes: Array[Byte]): Samples = MlFunctions.deserializeSamples(bytes)

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = if (classifier) "learn_classifier" else "learn_regressor"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LearnModelAgg =
    copy(left = newLeft, right = newRight)
  override def withNewMutableAggBufferOffset(offset: Int): LearnModelAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LearnModelAgg =
    copy(inputAggBufferOffset = offset)
}

/** evaluate_classifier_predictions(actual, predicted) -> summary string
  * (EvaluateClassifierPredictionsAggregation.java renders accuracy
  * counts; binary-label precision/recall included likewise).
  */
case class EvaluatePredictionsAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  // buffer: [correct, total, truePos, falsePos, falseNeg]
  override def createAggregationBuffer(): Array[Long] = new Array[Long](5)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = left.eval(input); val p = right.eval(input)
    if (a != null && p != null) {
      val av = a.asInstanceOf[Long]; val pv = p.asInstanceOf[Long]
      if (av == pv) buf(0) += 1
      buf(1) += 1
      if (pv == 1L && av == 1L) buf(2) += 1
      if (pv == 1L && av == 0L) buf(3) += 1
      if (pv == 0L && av == 1L) buf(4) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val pct =
      if (buf(1) == 0) "0.00"
      else String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(100.0 * buf(0) / buf(1)))
    UTF8String.fromString(s"Accuracy: ${buf(0)}/${buf(1)} ($pct%)")
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(40)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(5)(bb.getLong)
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "evaluate_classifier_predictions"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): EvaluatePredictionsAgg =
    copy(left = newLeft, right = newRight)
  override def withNewMutableAggBufferOffset(offset: Int): EvaluatePredictionsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): EvaluatePredictionsAgg =
    copy(inputAggBufferOffset = offset)
}
