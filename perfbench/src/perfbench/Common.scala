package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The latencies a workload records; Main turns them into metrics. */
final class Latencies {
  /** Every operation of the timed loop, by kind. */
  val ops = mutable.LinkedHashMap.empty[String, Samples]
  def op(kind: String): Samples = ops.getOrElseUpdate(kind, new Samples)
  /** The state-changing step: a write transaction, or a mutation batch
    * until every view reflects it.
    */
  val writes = new Samples
  /** Reads, by kind (statement template, or view). */
  val reads = mutable.LinkedHashMap.empty[String, Samples]
  def read(kind: String): Samples = reads.getOrElseUpdate(kind, new Samples)

  /** Geometric mean over read kinds of each kind's median, so neither
    * the mix of kinds a run happened to finish nor the gap between the
    * kinds' latencies moves it.
    */
  def readP50: Double = {
    val meds = reads.values.map(_.pct(0.5)).filter(_ > 0).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }
  def readP90: Double = Samples.pct(reads.values.flatMap(_.ms).toSeq, 0.9)
  def opP90: Double = Samples.pct(ops.values.flatMap(_.ms).toSeq, 0.9)

  def clear(): Unit = { ops.clear(); writes.ms.clear(); reads.clear() }
}

/** Latency samples of one kind, in milliseconds. */
final class Samples {
  val ms = mutable.ArrayBuffer.empty[Double]
  def add(ns: Long): Unit = ms += ns / 1e6
  def size: Int = ms.size
  /** Linear-interpolated percentile, q in [0, 1]; 0 when empty. */
  def pct(q: Double): Double = Samples.pct(ms.toSeq, q)
}

object Samples {
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Timed {
  def apply[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

/** The output check `graft.Bench` uses: (row count, XOR of the
  * xxhash64 of every column), so the whole output flows through the
  * plan. Map columns hash via their string form.
  */
object Checksum {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).as("__h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(__h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Deterministic generator for one run's inputs. */
final class Gen(seed: Long) {
  private val r = new scala.util.Random(seed)
  def int(n: Int): Int = r.nextInt(n)
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  def shuffle[T](xs: Seq[T]): Seq[T] = r.shuffle(xs)
  def distinct(n: Int, k: Int): Seq[Int] = r.shuffle((0 until n).toVector).take(k)
}

/** What a workload reports. Metric values are (value, unit). */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Run one checked operation: an exception or a false check counts
    * as a failure. Returns the elapsed nanoseconds.
    */
  def op(what: => String)(body: => Boolean): Long = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    val ns = System.nanoTime() - t0
    if (!ok) fail(what)
    ns
  }
}

/** One workload: set-up, a closed loop of operations, a final check. */
trait Workload {
  protected var tracer: Tracer = _
  /** The tracer of the measured phase; set-up runs untraced. */
  def attach(t: Tracer): Unit = tracer = t
  /** Build everything the timed loop needs; timed as set-up. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Whether the set-up's own outputs checked out. */
  def setupOk: Boolean = true
  /** Untimed: collect the expected values the checks compare against. */
  def prepareChecks(spark: SparkSession): Unit = ()
  /** Untimed: operations run once before the timed loop. */
  def warmUp(): Unit = ()
  /** Operations in one cycle of the fixed operation mix. The timed
    * loop runs at least one cycle, even past its deadline.
    */
  def cycle: Int
  /** One operation of the closed loop. */
  def step(report: Report): Unit
  /** Untimed: the end-of-run output check. */
  def finalCheck(report: Report): Unit = ()
  /** Release every frame the workload persisted or cut. */
  def release(): Unit
  /** What the timed loop recorded. */
  val latencies = new Latencies
  /** Per-layer metrics from the tracer's spans. */
  def perLayer(report: Report, tracer: Tracer): Unit
}
