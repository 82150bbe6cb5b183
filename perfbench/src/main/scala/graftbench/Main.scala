package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{Caches, Memo, SparkEntry}
import graft.plans.GraftSession
import graft.tools.RowFingerprint

/** Golden fingerprints of the query workloads: `{sf: {query: [rows, crcSum]}}`. */
object Goldens {
  private val mapper = new ObjectMapper()

  def load(file: String, sf: String): Map[String, (Long, Long)] = {
    val node = mapper.readTree(Paths.get(file).toFile).path(sf)
    node.fieldNames().asScala.map { q =>
      q -> (node.get(q).get(0).asLong(), node.get(q).get(1).asLong())
    }.toMap
  }

  def write(file: String, all: Seq[(String, Seq[(String, (Long, Long))])]): Unit = {
    val root = mapper.createObjectNode()
    all.foreach { case (sf, qs) =>
      val o = root.putObject(sf)
      qs.foreach { case (q, (n, s)) => o.putArray(q).add(n).add(s) }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(file).toFile, root)
  }
}

/** Entry point. Modes:
  *  - `gen --data DIR --work DIR`: write the fixed analytics tables the query workloads read;
  *  - `record --data DIR --work DIR --goldens FILE [--dump DIR]`: run every query of the
  *    query workloads twice (artifacts cold, then warm), require equal
  *    fingerprints, and write them as goldens; `--dump` also writes each result
  *    and its DuckDB oracle SQL for `tools/oracle_check.py`;
  *  - `run --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *    --goldens FILE [--spans FILE] [--tiny] [--corrupt]`: one measured run,
  *    printing its result as one JSON line prefixed `RESULT `. */
object Main {
  val TableSeed = 42L
  val Scales: Seq[(String, Double)] = Seq("sf0.1" -> 0.1, "sf0.02" -> 0.02)

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.toSet
    mode match {
      case "gen" =>
        val spark = session(opts("work"))
        Scales.foreach { case (name, sf) => DataGen.tables(spark, s"${opts("data")}/$name", sf, TableSeed) }
        spark.stop()
      case "record" =>
        val spark = session(opts("work"))
        spark.sparkContext.setLogLevel("WARN")
        val lists = Seq(Workloads.QueryMixSf -> Workloads.QueryMix, Workloads.PipelineColdSf -> Workloads.PipelineCold)
        val all = lists.map { case (sf, qs) => sf -> qs.map { case (q, _) =>
          val dir = s"${opts("data")}/$sf"
          def fp(): (Long, Long) = try RowFingerprint(SparkEntry.queries(q)(spark, dir)) finally Caches.drain()
          Memo.evictSession(spark)
          val cold = fp()
          val warm = fp()
          require(cold == warm, s"$q is not deterministic: $cold vs $warm")
          opts.get("dump").foreach { d =>
            SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$d/$sf/$q")
            Caches.drain()
          }
          System.err.println(s"[graftbench] $sf $q $cold")
          q -> cold
        } }
        Goldens.write(opts("goldens"), all)
        opts.get("dump").foreach { d =>
          lists.foreach { case (sf, qs) =>
            val o = new ObjectMapper().createObjectNode()
            qs.foreach { case (q, _) => o.put(q, SparkEntry.oracleSql(q)) }
            Files.writeString(Paths.get(s"$d/$sf/oracle_sql.json"), o.toString)
          }
        }
        spark.stop()
      case "run" => run(Config(
        workload = opts("workload"), seed = opts("seed").toLong, seconds = opts("seconds").toDouble,
        traced = opts("trace") == "1", dataDir = opts("data"), workDir = opts("work"),
        goldens = opts("goldens"), tiny = flags("--tiny"), corrupt = flags("--corrupt")), opts.get("spans"))
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def run(cfg: Config, spansOut: Option[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val b0 = System.nanoTime()
    val spark = session(cfg.workDir)
    val buildS = (System.nanoTime() - b0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val b = new Bench(spark, cfg)
    cfg.workload match {
      case "query_mix" => Workloads.queryMix(b)
      case "batch_cold" => Workloads.batchCold(b)
      case other => sys.error(s"unknown workload $other")
    }
    val walls = b.timed.map(_.wallS).sorted
    val opsPerS = walls.size / walls.sum
    val p50 = median(walls.toSeq)
    val endToEnd = Seq(
      ("setup_s", (b.phaseStartMs - jvmStartMs) / 1e3, "s"),
      ("ops_per_s", opsPerS, "1/s"),
      ("op_p50_s", p50, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val metrics = b.trace match {
      case None => endToEnd
      case Some(t) =>
        val layer = Layers.compute(b, t, buildS, p50, opsPerS)
        spansOut.foreach(f => Files.write(Paths.get(f), t.toJsonLines.asJava))
        layer
    }
    System.err.println(f"[graftbench] ${cfg.workload}: ${walls.size} timed ops, p50 $p50%.4f s, " +
      f"$opsPerS%.3f ops/s, ${b.failed}/${b.attempted} failed; session $buildS%.2f s, warm-up ${b.warmupS}%.2f s")
    val json = metrics.map { case (name, v, unit) =>
      s""""$name": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""RESULT {"correct": ${b.failed == 0 && b.attempted > 0}, "attempted": ${b.attempted}, """ +
      s""""failed": ${b.failed}, "metrics": {$json}}""")
    spark.stop()
  }

  /** The library's session on all cores, with every file it writes kept
    * under `workDir`. */
  private def session(workDir: String): SparkSession =
    GraftSession.builder(Runtime.getRuntime.availableProcessors().toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** High-water mark of the process's resident memory. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
}

/** The per-layer metrics of a traced run, every one on every workload (0
  * where the workload does not reach the layer). Per-operation values are
  * means over the timed operations. */
object Layers {
  def compute(b: Bench, t: Trace, buildS: Double, p50: Double, opsPerS: Double): Seq[(String, Double, String)] = {
    val ops = b.timed.toSeq
    def mean(sel: Seq[OpSample])(f: OpSample => Double): Double =
      if (sel.isEmpty) 0.0 else sel.map(f).sum / sel.size
    def spanS(op: Int, name: String): Double = t.spans.filter(s => s.op == op && s.name == name).map(_.seconds).sum
    def extra(op: Int, key: String): Double = b.opExtras.getOrElse((op, key), 0.0)

    Caches.drain()
    Memo.evictSession(b.spark)
    val leaked = b.sc.getPersistentRDDs.size.toDouble

    val families = Workloads.Families.flatMap { f =>
      val sel = ops.filter(_.kind == f)
      Seq(
        (s"$f.construct_s", mean(sel)(o => spanS(o.op, "construct")), "s"),
        (s"$f.plan_s", mean(sel)(o => spanS(o.op, "plan")), "s"),
        (s"$f.exec_s", mean(sel)(o => spanS(o.op, "action")), "s"),
        (s"$f.executor_cpu_s", mean(sel)(o => t.counter(o.op).executorCpuNs / 1e9), "s"),
        (s"$f.shuffle_write_bytes", mean(sel)(o => t.counter(o.op).shuffleWriteBytes.toDouble), "bytes"),
        (s"$f.idle_core_s", mean(sel)(o => o.wallS * b.cores - t.counter(o.op).taskRunNs / 1e9), "s"),
        (s"$f.tasks", mean(sel)(o => t.counter(o.op).tasks.toDouble), "count"))
    }
    def layer(name: String): Double = b.layer.getOrElse(name, 0.0)
    Seq(
      ("GraftSession.build_s", buildS, "s"),
      ("GraftSession.warmup_s", b.warmupS, "s"),
      ("Tables.bytes_read", mean(ops)(o => t.counter(o.op).bytesRead.toDouble), "bytes"),
      ("Tables.records_read", mean(ops)(o => t.counter(o.op).recordsRead.toDouble), "count"),
      ("Plans.broadcast_joins", layer("Plans.broadcast_joins"), "count"),
      ("Plans.shuffled_hash_joins", layer("Plans.shuffled_hash_joins"), "count"),
      ("Plans.sort_merge_joins", layer("Plans.sort_merge_joins"), "count"),
      ("Plans.exchanges", layer("Plans.exchanges"), "count")) ++
    families ++ Seq(
      ("Memo.evict_s", mean(ops)(o => spanS(o.op, "evict")), "s"),
      ("Memo.persisted_rdds", mean(ops)(o => extra(o.op, "persisted_rdds")), "count"),
      ("Memo.storage_mb", mean(ops)(o => extra(o.op, "storage_mb")), "MB"),
      ("Caches.drain_s", mean(ops)(o => spanS(o.op, "drain")), "s"),
      ("Caches.leaked_rdds", leaked, "count")) ++
    Seq("shingle_set", "minhash_sig", "gram_fps", "cosine_sim", "rh_sig").map { f =>
      (s"functions.${f}_rows_per_s", layer(s"functions.${f}_rows_per_s"), "rows/s")
    } ++ Seq(
      ("MapReduceJob.map_stage_s", layer("MapReduceJob.map_stage_s"), "s"),
      ("MapReduceJob.reduce_stage_s", layer("MapReduceJob.reduce_stage_s"), "s"),
      ("MapReduceJob.shuffle_records_per_token", layer("MapReduceJob.shuffle_records_per_token"), "ratio"),
      ("MapReduceJob.shuffle_write_bytes", layer("MapReduceJob.shuffle_write_bytes"), "bytes"),
      ("MapReduceJob.fetch_wait_s", layer("MapReduceJob.fetch_wait_s"), "s"),
      ("MapReduceJob.sink_s", layer("MapReduceJob.sink_s"), "s"),
      ("MapReduceJob.facade_over_df", layer("MapReduceJob.facade_over_df"), "ratio"),
      ("MapReduceJob.input_mb_per_s", layer("MapReduceJob.input_mb_per_s"), "MB/s"),
      ("Tokenizer.mb_per_s", layer("Tokenizer.mb_per_s"), "MB/s"),
      ("KvUpsert.buckets_touched_per_batch", layer("KvUpsert.buckets_touched_per_batch"), "count"),
      ("KvUpsert.write_amp", layer("KvUpsert.write_amp"), "ratio"),
      ("KvUpsert.space_amp", layer("KvUpsert.space_amp"), "ratio"),
      ("KvUpsert.files_per_batch", layer("KvUpsert.files_per_batch"), "count"),
      ("KvUpsert.read_state_s", layer("KvUpsert.read_state_s"), "s"),
      ("spark.gc_s", mean(ops)(o => t.counter(o.op).gcMs / 1e3), "s"),
      ("spark.spill_bytes", mean(ops)(o => t.counter(o.op).spillBytes.toDouble), "bytes"),
      ("spark.task_failures", ops.map(o => t.counter(o.op).taskFailures.toDouble).sum, "count"),
      ("trace.op_p50_s", p50, "s"),
      ("trace.ops_per_s", opsPerS, "1/s"))
  }
}
