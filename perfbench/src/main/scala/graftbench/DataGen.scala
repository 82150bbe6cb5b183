package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row id),
  * computed with Spark's `xxhash64`, so the same seed gives byte-identical
  * inputs at any partition count.
  *
  * [[tables]] writes the ten analytics tables the registered queries read
  * (the TPC-H-shaped star schema plus `events`, `documents` and `embeddings`),
  * one parquet file each, with the column names, types and value domains of
  * the project's test data. [[corpus]] and [[kvOps]] build the MapReduce text
  * corpus and the KV op stream in plain JVM code. */
object DataGen {

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Writes the ten tables at scale factor `sf` (sf 1 = 6M lineitem rows)
    * into `dir` as `<table>.parquet` files. */
  def tables(spark0: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // uniform in [0, 1), independent per (table, column) salt
    def u(salt: String): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    def ui(salt: String, lo: Long, hi: Long): Column = // uniform integer in [lo, hi]
      (floor(u(salt) * (hi - lo + 1)) + lo).cast("long")
    def pick(salt: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), ui(salt, 1, values.size).cast("int"))
    def money(c: Column): Column = round(c, 2)
    def day(salt: String, start: String, days: Long): Column =
      to_timestamp(date_add(lit(start).cast("date"), ui(salt, 0, days - 1).cast("int")))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nDocs = n(50000); val nVecs = n(20000); val nUsers = n(15000)
    def rows(count: Long): DataFrame = spark.range(count).toDF()

    val out = Seq(
      "region" -> rows(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> rows(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        ui("c_nation", 0, 24).cast("int").as("c_nationkey"),
        money(u("c_acctbal") * 10999.65 - 999.85).as("c_acctbal"),
        pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> rows(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        ui("s_nation", 0, 24).cast("int").as("s_nationkey"),
        money(u("s_acctbal") * 10999.65 - 999.85).as("s_acctbal")),
      "part" -> rows(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick("p_adj", Seq("large", "hot", "blue", "old", "cold", "red", "small", "shiny")),
          pick("p_noun", Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"))).as("p_name"),
        concat(lit("Brand#"), ui("p_brand", 1, 25)).as("p_brand"),
        pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        ui("p_size", 1, 50).cast("int").as("p_size"),
        round(lit(900.0) + ui("p_price", 0, 999) / 10.0, 1).as("p_retailprice")),
      "orders" -> rows(nOrders).select(col("id").as("o_orderkey"),
        ui("o_cust", 0, nCust - 1).as("o_custkey"),
        pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
        money(lit(1000.0) + u("o_price") * 499000).as("o_totalprice"),
        day("o_date", "1995-01-01", 2405).as("o_orderdate"),
        pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> rows(nLines).select(ui("l_order", 0, nOrders - 1).as("l_orderkey"),
        ui("l_part", 0, nPart - 1).as("l_partkey"),
        ui("l_supp", 0, nSupp - 1).as("l_suppkey"),
        ui("l_line", 1, 7).cast("int").as("l_linenumber"),
        ui("l_qty", 1, 50).cast("double").as("l_quantity"),
        money(lit(900.0) + u("l_price") * 104100).as("l_extendedprice"),
        (round(u("l_disc") * 10) / 100).as("l_discount"),
        (round(u("l_tax") * 8) / 100).as("l_tax"),
        pick("l_rflag", Seq("A", "N", "R")).as("l_returnflag"),
        pick("l_lstatus", Seq("F", "O")).as("l_linestatus"),
        day("l_ship", "1995-01-02", 2499).as("l_shipdate")),
      "events" -> rows(nEvents).select(col("id").as("event_id"),
        // time-ordered by event_id over 30 days, microsecond jitter within a step
        timestamp_micros(lit(1704067200000000L) +
          floor((col("id") + u("e_ts")) * (30L * 86400L * 1000000L / nEvents.toDouble)).cast("long")).as("ts"),
        ui("e_user", 0, nUsers - 1).as("user_id"),
        pick("e_type", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        money(-log(lit(1.0) - u("e_value")) * 60).as("value"),
        format_string("{\"k\": %d}", ui("e_props", 0, 99)).as("props")),
      "documents" -> documents(rows(nDocs), seed),
      "embeddings" -> embeddings(rows(nVecs), seed))

    Files.createDirectories(Path.of(dir))
    out.foreach { case (name, df) => writeSingle(df, dir, name) }
  }

  /** Documents are words drawn uniformly from a 30-word vocabulary, 10–100
    * words each; 5% are near-duplicates: an earlier document's text plus one
    * extra token, as in the project's test data. */
  private def documents(ids: DataFrame, seed: Long): DataFrame = {
    def h(salt: String, id: Column): Column = xxhash64(lit(seed), lit(salt), id)
    def text(id: Column): Column = {
      val words = pmod(h("d_len", id), lit(91L)) + 10
      array_join(transform(sequence(lit(1L), words), i =>
        element_at(array(Vocab.map(lit): _*), (pmod(xxhash64(lit(seed), id, i), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
    }
    val id = col("id")
    val isDup = id > 0 && pmod(h("d_dup", id), lit(20L)) === 0
    val source = pmod(h("d_src", id), greatest(id, lit(1L)))
    ids.select(id.as("doc_id"),
      when(isDup, concat(text(source), lit(" dup"))).otherwise(text(id)).as("text"),
      element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh").map(lit): _*),
        (pmod(h("d_lang", id), lit(7L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim unit vectors around ten label centroids. */
  private def embeddings(ids: DataFrame, seed: Long): DataFrame = {
    val dims = 64
    def gauss(a: Column, b: Column): Column = // Box-Muller from two hashes
      sqrt(lit(-2.0) * log(lit(1.0) - a)) * cos(lit(2 * math.Pi) * b)
    def unit(salt: String, x: Column, d: Column): Column =
      pmod(xxhash64(lit(seed), lit(salt), x, d), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    val label = pmod(xxhash64(lit(seed), lit("v_label"), col("id")), lit(10L)).cast("int")
    val raw = transform(sequence(lit(0), lit(dims - 1)), d =>
      gauss(unit("c1", label, d), unit("c2", label, d)) +
        gauss(unit("n1", col("id"), d), unit("n2", col("id"), d)) * 0.6)
    ids.select(col("id").as("vec_id"), label.as("label"), raw.as("raw"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  /** A generated text corpus with the outputs the reference apps must
    * produce on it: wc's count per word and indexer's sorted posting list. */
  final case class Corpus(files: Seq[Path], bytes: Long, tokens: Long,
      wordCounts: Map[String, Long], postings: Map[String, Seq[String]]) {
    def wcLines: Map[String, String] = wordCounts.map { case (w, n) => w -> n.toString }
    def indexerLines: Map[String, String] =
      postings.map { case (w, fs) => w -> s"${fs.size} ${fs.mkString(",")}" }
  }

  /** Writes `nFiles` text files of unequal size (log-normal weights) totalling
    * about `totalBytes` into `dir`. Words follow a Zipf law (s = 1.07) over a
    * 30k-word vocabulary that mixes lower-case, capitalised and non-ASCII
    * letter words; separators are spaces, punctuation, digits and newlines,
    * so every word is one maximal run of letters. */
  def corpus(dir: Path, seed: Long, totalBytes: Long, nFiles: Int): Corpus = {
    val rnd = new java.util.Random(seed)
    val vocab = 30000
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    for (r <- 0 until vocab) { acc += 1.0 / math.pow(r + 1, 1.07); cdf(r) = acc }
    for (r <- 0 until vocab) cdf(r) /= acc
    def word(r: Int): String = {
      val sb = new StringBuilder
      var x = r + 1
      while (x > 0) { x -= 1; sb.append(('a' + x % 26).toChar); x /= 26 }
      val w = if (r % 7 == 3) sb.toString.capitalize else sb.toString
      if (r % 11 == 5) w + "é" else w
    }
    val words = Array.tabulate(vocab)(word)
    val seps = Array(" ", " ", " ", " ", ", ", ". ", ".\n", " 42 ", "; ", "\n\n", " - ", " (1) ")
    val weights = Array.fill(nFiles)(math.exp(rnd.nextGaussian() * 0.8))
    val counts = mutable.HashMap.empty[String, Long]
    val posting = mutable.HashMap.empty[String, mutable.TreeSet[String]]
    Files.createDirectories(dir)
    var bytes = 0L
    var tokens = 0L
    val files = weights.indices.map { i =>
      val name = f"pg-$i%03d.txt"
      val budget = (totalBytes * weights(i) / weights.sum).toLong
      val sb = new java.lang.StringBuilder
      var size = 0L
      while (size < budget) {
        val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
        val w = words(if (k >= 0) k else math.min(-k - 1, vocab - 1))
        val sep = seps(rnd.nextInt(seps.length))
        sb.append(w).append(sep)
        size += w.getBytes("UTF-8").length + sep.length
        counts(w) = counts.getOrElse(w, 0L) + 1
        posting.getOrElseUpdate(w, mutable.TreeSet.empty[String]) += name
        tokens += 1
      }
      val p = dir.resolve(name)
      Files.writeString(p, sb)
      bytes += Files.size(p)
      p
    }
    Corpus(files, bytes, tokens, counts.toMap, posting.map { case (w, s) => w -> s.toSeq }.toMap)
  }

  /** An endless stream of put/append/del operations (50/40/10%) on `keys`
    * keys with Zipf (s = 0.9) popularity; `seq` is the op's position. */
  def kvOps(seed: Long, keys: Int): Iterator[graft.streaming.KvUpsert.KvOp] = {
    val rnd = new java.util.Random(seed)
    val cdf = new Array[Double](keys)
    var acc = 0.0
    for (r <- 0 until keys) { acc += 1.0 / math.pow(r + 1, 0.9); cdf(r) = acc }
    for (r <- 0 until keys) cdf(r) /= acc
    Iterator.from(0).map { i =>
      val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val key = f"key-${if (k >= 0) k else math.min(-k - 1, keys - 1)}%06d"
      val p = rnd.nextInt(10)
      val op = if (p < 5) "put" else if (p < 9) "append" else "del"
      val value = if (op == "del") "" else Iterator.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString
      graft.streaming.KvUpsert.KvOp(i.toLong, op, key, value)
    }
  }

  /** Writes `df` as the single parquet file `<dir>/<name>.parquet`, the
    * layout the library's table loaders and the DuckDB oracle read. */
  private def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Path.of(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part, Path.of(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}
