package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.{Caches, Memo, SparkEntry, Tables}
import graft.apps.ReferenceApps
import graft.core.{MapReduceJob, Tokenizer}
import graft.streaming.KvUpsert
import graft.tools.RowFingerprint

/** The workloads. Each is a single closed-loop client: an operation is
  * issued only after the previous one completed, and its output is checked
  * before the next one starts (outside the operation's clock). */
object Workloads {

  /** Registered queries and the family they are reported under. */
  val QueryMix: Seq[(String, String)] = Seq(
    "q1_pricing" -> "relational", "q3_shipping" -> "relational",
    "q5_nation_revenue" -> "relational", "q12_priority_class" -> "relational",
    "q18_large_orders" -> "relational", "q9_product_profit" -> "relational",
    "events_sessions" -> "events", "events_asof_native" -> "events",
    "events_retention" -> "events", "events_hourly" -> "events")

  val PipelineCold: Seq[(String, String)] = Seq(
    "dedup_near" -> "dedup", "frequent_pairs" -> "graph",
    "ivf_train" -> "similarity", "dsir_weights" -> "pipelines")

  val Families: Seq[String] = (QueryMix ++ PipelineCold).map(_._2).distinct

  /** Scale factor of the generated tables each query workload reads. */
  val QueryMixSf = "sf0.1"
  val PipelineColdSf = "sf0.02"

  // ------------------------------------------------------------- workloads

  /** The long-lived analytics service: the session memo stays warm. */
  def queryMix(b: Bench): Unit = {
    val q = new QueryOps(b, QueryMix, QueryMixSf, cold = false)
    b.measure(r => b.permuted(q.ops, r).map(_()))
    q.report()
  }

  /** The batch user who pays for artifacts on every job. Each round runs
    * the artifact-building pipeline queries, each right after
    * `Caches.drain()` and `Memo.evictSession`; the paper's wc and indexer
    * jobs through the MapReduce facade and as their DataFrame twins over a
    * seeded Zipf corpus; and two KV upsert micro-batches. */
  def batchCold(b: Bench): Unit = {
    val q = new QueryOps(b, PipelineCold, PipelineColdSf, cold = true)
    val mr = new MrJobs(b)
    val kv = new KvStream(b)
    val ops = q.ops ++ mr.jobs ++ Seq(() => kv.batch(), () => kv.batch())
    try {
      b.measure(r => b.permuted(ops, r).map(_()))
      kv.readBack()
    } finally kv.stop()
    q.report()
    mr.report()
    kv.report()
  }

  // ------------------------------------------------------------- queries

  /** Registered queries, each checked against its golden fingerprint. */
  private final class QueryOps(b: Bench, list: Seq[(String, String)], sf: String, cold: Boolean) {
    private val dir = s"${b.cfg.dataDir}/$sf"
    private val goldens = Goldens.load(b.cfg.goldens, sf).map { case (q, (n, s)) =>
      q -> (if (b.cfg.corrupt) (n, s + 1) else (n, s))
    }
    private val plans = mutable.LinkedHashMap.empty[String, PlanCounts.Counts]
    private val queries = if (b.cfg.tiny) list.take(2) else list
    val ops: Seq[() => OpSample] = queries.map { case (q, family) => () => run(q, family) }

    /** Constructs the DataFrame, (traced: plans it), then computes its
      * order-free fingerprint as the action. A cold query first drops every
      * session artifact. */
    private def run(name: String, family: String): OpSample = {
      val op = b.newOp()
      if (cold) {
        b.span(op, "drain")(Caches.drain())
        b.span(op, "evict")(Memo.evictSession(b.spark))
      }
      val persistedBefore = b.sc.getPersistentRDDs.size
      val t0 = System.nanoTime()
      val fp = try {
        val df = b.span(op, "construct")(SparkEntry.queries(name)(b.spark, dir))
        if (b.cfg.traced) b.span(op, "plan")(plans(name) = PlanCounts(df.queryExecution.executedPlan))
        Some(b.span(op, "action")(RowFingerprint(df)))
      } catch {
        case NonFatal(e) => b.log(s"$name failed: $e"); None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (b.cfg.traced) {
        b.opExtras((op, "persisted_rdds")) = b.sc.getPersistentRDDs.size - persistedBefore
        b.opExtras((op, "storage_mb")) = b.sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
      }
      b.span(op, "drain")(Caches.drain())
      if (!b.check(fp.isDefined && fp == goldens.get(name)))
        b.log(s"$name: fingerprint ${fp.orNull} != golden ${goldens.get(name).orNull}")
      OpSample(op, name, family, wall)
    }

    def report(): Unit = {
      val total = queries.map(q => plans.getOrElse(q._1, PlanCounts.Zero)).foldLeft(PlanCounts.Zero)(_ + _)
      b.layer ++= Seq(
        "Plans.broadcast_joins" -> total.broadcast.toDouble,
        "Plans.shuffled_hash_joins" -> total.shuffledHash.toDouble,
        "Plans.sort_merge_joins" -> total.sortMerge.toDouble,
        "Plans.exchanges" -> total.exchanges.toDouble)
      if (b.cfg.traced && cold) functionRates(b, dir)
    }
  }

  /** Rows per second of each native SQL function over the generated
    * documents or embeddings, replicated so one call does measurable work,
    * into the `noop` sink. Second of two runs, so code generation is warm. */
  private def functionRates(b: Bench, dir: String): Unit = {
    val copies = 40
    val docs = Tables.documents(b.spark, dir).select(col("text"))
      .withColumn("copy", explode(sequence(lit(1), lit(copies))))
    val vecs = Tables.embeddings(b.spark, dir)
      .select(col("embedding").cast("array<double>").as("e"))
      .withColumn("copy", explode(sequence(lit(1), lit(copies))))
    val nDocs = docs.count()
    val nVecs = vecs.count()
    Seq(
      ("shingle_set", docs, "shingle_set(text)", nDocs),
      ("minhash_sig", docs, "minhash_sig(text)", nDocs),
      ("gram_fps", docs, "gram_fps(text, 50)", nDocs),
      ("cosine_sim", vecs, "cosine_sim(e, reverse(e))", nVecs),
      ("rh_sig", vecs, "rh_sig(e)", nVecs)).foreach { case (fn, input, sql, rows) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        input.select(expr(sql).as("out")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      b.layer(s"functions.${fn}_rows_per_s") = rows / once()
    }
  }

  // ------------------------------------------------------------- MapReduce jobs

  /** wc and indexer, facade and DataFrame twin, each checked against the
    * counts and posting lists the corpus generator derived. */
  private final class MrJobs(b: Bench) {
    import b.spark.implicits._
    private val work = Paths.get(b.cfg.workDir)
    private val (mb, files) = if (b.cfg.tiny) (1L, 6) else (12L, 24)
    val corpus: DataGen.Corpus = DataGen.corpus(work.resolve("corpus"), b.cfg.seed, mb * 1000000L, files)
    private val glob = s"${work.resolve("corpus")}/*.txt"
    private val (wcWant, ixWant) = {
      val (wc, ix) = (corpus.wcLines, corpus.indexerLines)
      if (b.cfg.corrupt) (wc.updated(wc.head._1, "0"), ix.updated(ix.head._1, "0 none")) else (wc, ix)
    }
    private var wcFacadeOp = 0

    private def dfJob(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      MapReduceJob.writeText(df.toDF("_1", "_2").as[(String, String)], out)

    val jobs: Seq[() => OpSample] = Seq(
      ("wc", "facade", (out: String) => ReferenceApps.wcJob.runToText(b.spark, glob, out), wcWant),
      ("indexer", "facade", (out: String) => ReferenceApps.indexerJob.runToText(b.spark, glob, out), ixWant),
      ("wc", "dataframe", (out: String) => dfJob(ReferenceApps.wcDataFrame(b.spark, glob), out), wcWant),
      ("indexer", "dataframe", (out: String) => dfJob(ReferenceApps.indexerDataFrame(b.spark, glob), out), ixWant)
    ).map { case (app, kind, body, want) => () => run(app, kind, body, want) }

    private def run(app: String, kind: String, body: String => Unit, want: Map[String, String]): OpSample = {
      val op = b.newOp()
      if (app == "wc" && kind == "facade" && wcFacadeOp == 0) wcFacadeOp = op
      val out = work.resolve(s"out-$app-$kind").toString
      val t0 = System.nanoTime()
      val ran = try { b.span(op, "action")(body(out)); true }
      catch { case NonFatal(e) => b.log(s"$app/$kind failed: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      if (!b.check(ran && readText(Paths.get(out)).contains(want))) b.log(s"$app/$kind output differs")
      OpSample(op, app, kind, wall)
    }

    def report(): Unit = {
      val facade = b.timed.filter(_.kind == "facade")
      val frame = b.timed.filter(_.kind == "dataframe")
      b.layer("MapReduceJob.facade_over_df") = facade.map(_.wallS).sum / frame.map(_.wallS).sum
      b.layer("MapReduceJob.input_mb_per_s") =
        corpus.bytes / 1e6 * (facade.size + frame.size) / (facade ++ frame).map(_.wallS).sum
      b.trace.foreach { t =>
        val ops = facade.map(_.op)
        def mean(f: OpCounters => Double): Double = ops.map(op => f(t.counter(op))).sum / ops.size
        def stages(shuffleMap: Boolean)(c: OpCounters): Double =
          c.stageWallNs.values.collect { case (`shuffleMap`, ns) => ns / 1e9 }.sum
        b.layer ++= Seq(
          "MapReduceJob.map_stage_s" -> mean(stages(shuffleMap = true)),
          "MapReduceJob.reduce_stage_s" -> mean(stages(shuffleMap = false)),
          "MapReduceJob.shuffle_write_bytes" -> mean(_.shuffleWriteBytes.toDouble),
          "MapReduceJob.fetch_wait_s" -> mean(_.fetchWaitMs / 1e3),
          "MapReduceJob.sink_s" ->
            ops.map(op => t.spans.filter(s => s.op == op && s.name == "action").map(t.selfSeconds).sum).sum / ops.size,
          "MapReduceJob.shuffle_records_per_token" ->
            t.counter(wcFacadeOp).shuffleWriteRecords.toDouble / corpus.tokens)
        // the reference tokenizer alone, on one core, over the same corpus
        val texts = corpus.files.map(Files.readString)
        texts.foreach(Tokenizer.letterTokens)
        val t0 = System.nanoTime()
        texts.foreach(Tokenizer.letterTokens)
        b.layer("Tokenizer.mb_per_s") = corpus.bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
    }
  }

  /** The `key value` lines of a text output dir as a map; None when a key
    * repeats or the dir is missing. */
  private def readText(dir: Path): Option[Map[String, String]] =
    if (!Files.isDirectory(dir)) None
    else {
      val lines = Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p).asScala)
        .filter(_.nonEmpty)
      val kv = lines.map { l => val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }.toMap
      if (kv.size == lines.size) Some(kv) else None
    }

  // ------------------------------------------------------------- KV upserts

  /** A seeded put/append/del stream fed to `KvUpsert.upsertSink` through a
    * `MemoryStream`, one `processAllAvailable()` per micro-batch, with the
    * state read back every few batches and compared with a sequential model
    * built by `KvUpsert.applyOps`. A mismatch fails every batch since the
    * previous read-back. */
  private final class KvStream(b: Bench) {
    import b.spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = b.spark.sqlContext
    private val batchSize = if (b.cfg.tiny) 200 else 2000
    private val stateDir = s"${b.cfg.workDir}/kv-state"
    private val stream = DataGen.kvOps(b.cfg.seed, keys = if (b.cfg.tiny) 500 else 20000)
    private val model = mutable.HashMap.empty[String, String]
    private val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KvUpsert.KvOp]
    private val query = KvUpsert.upsertSink(input.toDS(), stateDir, s"${b.cfg.workDir}/kv-checkpoint")
    private var sinceCheck = 0
    private var readStateS = Vector.empty[Double]

    def batch(): OpSample = {
      val ops = Vector.fill(batchSize)(stream.next())
      ops.foreach(o => KvUpsert.applyOps(model.get(o.key), Seq(o)) match {
        case Some(v) => model(o.key) = v
        case None => model.remove(o.key)
      })
      val before = if (b.cfg.traced) manifest(stateDir) else Map.empty[String, String]
      val op = b.newOp()
      val t0 = System.nanoTime()
      val ran = try { b.span(op, "batch") { input.addData(ops); query.processAllAvailable() }; true }
      catch { case NonFatal(e) => b.log(s"batch failed: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      if (b.cfg.traced) kvBatchStats(b, op, stateDir, before, ops)
      if (b.check(ran)) sinceCheck += 1
      if (sinceCheck >= 4) readBack()
      OpSample(op, "batch", "kv", wall)
    }

    def readBack(): Unit = {
      val op = b.newOp()
      val t0 = System.nanoTime()
      val state = try Some(b.span(op, "read_state") {
        KvUpsert.readState(b.spark, stateDir).collect().map(e => e.key -> e.value).toMap
      }) catch { case NonFatal(e) => b.log(s"readState failed: $e"); None }
      readStateS :+= (System.nanoTime() - t0) / 1e9
      val want = if (b.cfg.corrupt) model.toMap.updated("key-000000", "corrupt") else model.toMap
      if (!state.contains(want)) {
        b.log(s"state differs from the sequential model; failing the last $sinceCheck batches")
        b.failed += sinceCheck
      }
      sinceCheck = 0
    }

    def stop(): Unit = query.stop()

    def report(): Unit = {
      val ops = b.timed.filter(_.kind == "kv").map(_.op)
      def mean(key: String): Double = ops.map(op => b.opExtras.getOrElse((op, key), 0.0)).sum / ops.size
      b.layer ++= Seq(
        "KvUpsert.buckets_touched_per_batch" -> mean("buckets_touched"),
        "KvUpsert.write_amp" -> mean("write_amp"),
        "KvUpsert.files_per_batch" -> mean("files"),
        "KvUpsert.read_state_s" -> readStateS.sum / readStateS.size,
        "KvUpsert.space_amp" -> stateBytes(stateDir).toDouble /
          model.map { case (k, v) => k.length + v.length }.sum.max(1))
    }
  }

  /** bucket → data dir of the state table's MANIFEST (first line: applied
    * batch id and bucket count, then `bucket<TAB>dir` per bucket). */
  private def manifest(stateDir: String): Map[String, String] = {
    val p = Paths.get(stateDir, "MANIFEST")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.drop(1).map { l => val Array(k, d) = l.split('\t'); k -> d }.toMap
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq

  private def stateBytes(stateDir: String): Long =
    manifest(stateDir).values.toSeq.flatMap(d => parquetFiles(Paths.get(stateDir, d))).map(Files.size).sum

  private def kvBatchStats(b: Bench, op: Int, stateDir: String, before: Map[String, String],
      ops: Seq[KvUpsert.KvOp]): Unit = {
    val after = manifest(stateDir)
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    val written = changed.flatMap(after.get).toSeq.flatMap(d => parquetFiles(Paths.get(stateDir, d)))
    val opBytes = ops.map(o => 8 + o.op.length + o.key.length + o.value.length).sum
    b.opExtras((op, "buckets_touched")) = changed.size
    b.opExtras((op, "files")) = written.size
    b.opExtras((op, "write_amp")) = written.map(Files.size).sum.toDouble / opBytes
  }
}
