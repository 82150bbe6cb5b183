package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    dataDir: String,
    workDir: String,
    goldens: String,
    tiny: Boolean,
    corrupt: Boolean)

/** One operation the client issued: a query, a MapReduce job or a
  * micro-batch. `kind` is the query family or job type it is reported under. */
final case class OpSample(op: Int, name: String, kind: String, wallS: Double)

/** State shared by the workloads of one run: the session, the single client's
  * operation counter, the samples of the timed phase and, when traced, the
  * trace and the per-layer metrics the workload adds. */
final class Bench(val spark: SparkSession, val cfg: Config) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val trace: Option[Trace] = if (cfg.traced) Some(new Trace) else None
  trace.foreach(t => sc.addSparkListener(t.listener))

  val timed = mutable.ArrayBuffer.empty[OpSample]
  var attempted = 0
  var failed = 0
  var phaseStartMs = 0L
  var warmupS = 0.0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Traced per-operation values a workload records, keyed by (op, name). */
  val opExtras = mutable.Map.empty[(Int, String), Double]
  private var lastOp = 0

  /** Starts a new operation: jobs submitted from now on are attributed to it. */
  def newOp(): Int = {
    lastOp += 1
    sc.setLocalProperty(Trace.OpKey, lastOp.toString)
    lastOp
  }

  def span[T](op: Int, name: String)(body: => T): T = trace match {
    case Some(t) => t.time(op, name)(body)
    case None => body
  }

  /** Counts an operation's output check; returns whether it passed. */
  def check(ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) failed += 1
    ok
  }

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Runs two warm-up rounds outside the clock (JIT, code generation and,
    * for query_mix, the session memo settle over both), then whole rounds
    * until `cfg.seconds` have passed (at least one round). Whole rounds keep
    * the mix of operations the same in every run, whatever the seed. */
  def measure(round: Int => Seq[OpSample]): Unit = {
    val w0 = System.nanoTime()
    round(-2)
    round(-1)
    warmupS = (System.nanoTime() - w0) / 1e9
    phaseStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || System.nanoTime() - t0 < cfg.seconds * 1e9) {
      val ops = round(r)
      log(ops.map(o => f"${o.name}/${o.kind}=${o.wallS}%.3f").mkString(s"round $r: ", " ", ""))
      timed ++= ops
      r += 1
    }
    // later jobs belong to no operation; traced totals must be complete
    sc.setLocalProperty(Trace.OpKey, null)
    trace.foreach(_ => org.apache.spark.graftbench.ListenerSync.await(sc))
  }

  /** `items` in the order of round `r` of this run's seed. */
  def permuted[T](items: Seq[T], r: Int): Seq[T] =
    new scala.util.Random(cfg.seed * 1000003L + r).shuffle(items)
}
