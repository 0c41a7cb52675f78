package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** A workload: a seeded, single-client closed loop over operations.
  * `step(ctx, i)` runs the i-th operation of the seed's sequence (or, for
  * dropbox_ingest, the i-th drop) and records it through [[Ctx.op]]. */
trait Workload {
  /** Generate the inputs from the seed and publish them. */
  def setup(ctx: Ctx): Unit
  /** Warm every operation type until its latency has levelled off. */
  def warm(ctx: Ctx): Unit
  def step(ctx: Ctx, i: Int): Unit
  /** Workload-specific per-layer metrics of the traced phase. */
  def layerMetrics(ctx: Ctx): Map[String, (Double, String)]
}

/** What one run records: per-class latencies, attempted and failed
  * operations, and the mismatches against the workload's model. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val dir: String, val plant: Boolean, val cores: Int) {
  val trace = new Trace(spark)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var warmFailures = 0L
  var units = 0L
  var timing = false
  val problems = mutable.ArrayBuffer.empty[String]
  private var planted = false

  /** An independent random stream per purpose, fixed by the seed. */
  def rng(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L)

  /** Record a mismatch (the first twenty are reported). */
  def expect(ok: Boolean, what: => String): Boolean = {
    if (!ok && problems.size < 20) problems += what
    ok
  }

  /** Compare a result with the model; both as rows of strings. In the
    * planted-wrong-answer mode the first timed result loses a row (or
    * gains one when empty) before the comparison, so the check must
    * catch it. */
  def same(what: String, got: Seq[String], want: Seq[String]): Boolean = {
    val seen =
      if (plant && timing && !planted) {
        planted = true
        if (got.isEmpty) Seq("planted") else got.tail
      } else got
    val (g, w) = (seen.sorted, want.sorted)
    expect(g == w, s"$what: got ${g.take(6).mkString("[", "; ", "]")}" +
      s"${if (g.size > 6) s" (+${g.size - 6})" else ""}, " +
      s"want ${w.take(6).mkString("[", "; ", "]")}${if (w.size > 6) s" (+${w.size - 6})" else ""}")
  }

  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(rowString)

  def rowString(r: Row): String = r.toSeq.map {
    case null => "null"
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => x.toString
  }.mkString("|")

  /** One operation of class `cls`: timed, counted, checked. A thrown
    * exception is a failed operation; a failed timed operation counts as
    * missing every latency limit (an infinite latency). */
  def op(cls: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try trace.op("op:" + cls)(body) catch {
      case e: Exception =>
        expect(false, s"$cls threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (timing) {
      attempted += 1
      if (!ok) failed += 1
      record(cls, if (ok) dt else Double.PositiveInfinity)
    } else if (!ok) warmFailures += 1
    ok
  }

  /** Mark the last operation of `cls` failed after the fact (a check
    * that runs after its latency was taken). */
  def failLast(cls: String): Unit =
    if (timing) {
      failed += 1
      samples.get(cls).foreach(b => b(b.size - 1) = Double.PositiveInfinity)
    } else warmFailures += 1

  /** Time a part of an operation as a class of its own. */
  def part[T](cls: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    if (timing) record(cls, (System.nanoTime() - t0) / 1e9)
    out
  }

  def record(cls: String, seconds: Double): Unit = {
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += seconds; ()
  }

  /** Whether latency has stopped falling: the median of the last
    * `window` latencies is at least 90% of the median of the `window`
    * before them. */
  def levelled(ts: Seq[Double], window: Int): Boolean = {
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    ts.size >= 2 * window &&
      med(ts.takeRight(window)) >= 0.9 * med(ts.takeRight(2 * window).take(window))
  }

  /** Set when a warmup hit its time cap before levelling off. */
  var warmCapped = false

  /** Run `body` until its latency has levelled off: at least `minReps`
    * runs, then stop once every kind's latencies (`body` returns the kind
    * and the latency that counts, if any) are [[levelled]]. A warmup
    * stops anyway after `capSeconds` (recorded in [[warmCapped]]) so a
    * run always fits its time budget. Returns the number of runs. */
  def warmUntilLevel(minReps: Int, capSeconds: Double, window: Int = 2)
                    (body: Int => Option[(String, Double)]): Int = {
    val ts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val end = System.nanoTime() + (capSeconds * 1e9).toLong
    var i = 0
    def done = i >= minReps && ts.nonEmpty && ts.values.forall(t => levelled(t.toSeq, window))
    while (!done && System.nanoTime() < end) {
      body(i).foreach { case (k, t) => ts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += t }
      i += 1
    }
    if (!done) warmCapped = true
    i
  }

  /** Time `body` (for warmup loops). */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The i-th element of an endless sequence made of seeded shuffles of
    * `block`: every block-long stretch holds each element once, so every
    * run sees the same mix, in an order fixed by the seed. */
  def shuffled[T](stream: Long, block: Seq[T], i: Int): T = {
    val r = rng(stream + i / block.size)
    val a = block.toArray[Any]
    for (j <- a.length - 1 to 1 by -1) {
      val k = r.nextInt(j + 1)
      val t = a(j); a(j) = a(k); a(k) = t
    }
    a(i % block.size).asInstanceOf[T]
  }

  /** The closed loop: operation after operation for `seconds`. Returns
    * the index after the last operation and the wall time. */
  def loop(from: Int, w: Workload, seconds: Double = seconds): (Int, Double) = {
    timing = true
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = from
    while (System.nanoTime() < end) { w.step(this, i); i += 1 }
    timing = false
    (i, (System.nanoTime() - t0) / 1e9)
  }
}
