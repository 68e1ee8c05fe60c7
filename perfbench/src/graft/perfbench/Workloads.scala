package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{Dictionaries, EnumDomains}
import graft.functions.{text => T}
import graft.operators.{Ann, Curate, Dedup, Enrich, Marts, Retrieval, Upsert}
import graft.sources.{ManifestStore, Sink, Tables}
import graft.streaming.EventStream

/** A workload drives graft through its public module functions, the way
  * one of its users does. Every call into a module runs inside a span
  * named after it; where the benchmark needs a stage's output, the action
  * that materializes it runs inside the same span.
  *
  * `op` runs one operation and returns the input rows it covered;
  * `finish` runs after the timed window, writes the outputs the checker
  * compares, and returns the facts it needs as a JSON object. */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val work: String) {
  def setup(): Unit
  def op(id: Int): Long
  def finish(): String
  /** Some(seconds) for an open loop: operation i is due at t0 + i * seconds. */
  def intervalSeconds: Option[Double] = None
  /** Untimed operations before the timed window. */
  def warmupOps: Int = 2

  private val held = ArrayBuffer.empty[DataFrame]

  /** Cache `df`, run the action that fills the cache, and record the row
    * count as the span's result. Released by the next operation. */
  protected def stage(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    held += p
    val n = p.count()
    tr.results(n)
    (p, n)
  }

  protected def release(): Unit = {
    held.foreach(_.unpersist(blocking = false))
    held.clear()
  }

  protected def path(rel: String): String = s"$work/$rel"

  /** Row count from a parquet file's footer: no Spark job. */
  protected def parquetRows(file: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try r.getRecordCount finally r.close()
  }

  protected def writeCheck(df: DataFrame, rel: String): String = {
    val p = path(s"check/$rel")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    p
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, tr: Tracer, inputs: String,
      work: String, seed: Long, seconds: Double): Workload = name match {
    case "etl_daily" => new EtlDaily(spark, tr, inputs, work)
    case "corpus_build" => new CorpusBuild(spark, tr, inputs, work)
    case "stream_intake" => new StreamIntake(spark, tr, inputs, work, seconds)
    case "store_reads" => new StoreReads(spark, tr, inputs, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def oracle(entry: String): String = jsonStr(graft.SparkEntry.oracleSql(entry))
}

/** The reference job-ETL, once per generated day (catalog p1_job_etl's
  * chain: parse + normalize, latest state, skills and class enrichment,
  * customer dimension, weighted rank), plus the SCD2 dimension and the
  * incremental fact of the same day, published as one ManifestStore
  * version per day. */
final class EtlDaily(spark: SparkSession, tr: Tracer, inputs: String, work: String)
    extends Workload(spark, tr, work) {
  private val days = new java.io.File(inputs).listFiles.filter(_.getName.startsWith("day"))
    .map(_.getName).sorted.toIndexedSeq
  private val root = path("etl/mart")
  private val watermark = "2024-01-03 00:00:00"
  // p1's rule list, class scores and weights
  private val classRules = Seq(
    "\\bstream(ing)?\\b" -> "streaming",
    "\\b(join|merge)\\b" -> "relational",
    "\\b(scan|table)\\b" -> "scan")
  private val classScores = Seq("streaming" -> 1.0, "relational" -> 0.7, "scan" -> 0.5)
  private val (wSkills, wClass, wValue, wBal) = (0.35, 0.25, 0.25, 0.15)
  private var seq = 0
  private val inputRows = scala.collection.mutable.Map.empty[String, Long]
  private val published = ArrayBuffer.empty[(String, String)] // (version, day)
  private val facts = ArrayBuffer.empty[String]

  private def dir(day: String) = s"$inputs/$day"
  private def version(n: Int) = f"v$n%06d"

  private def parse(d: String): DataFrame = {
    val raw = when(col("event_id") % 10 === 0, concat(lit("x"), col("props")))
      .otherwise(col("props"))
    Tables.incremental(Tables.events(spark, d), "ts", watermark)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        from_json(raw, "k BIGINT, _corrupt STRING",
          Map("columnNameOfCorruptRecord" -> "_corrupt")).as("j"),
        T.normalizeEnum(col("event_type"), EnumDomains.validEventTypes,
          EnumDomains.defaultEnum).as("event_type_norm"))
      .filter(col("j._corrupt").isNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("j.k").as("k_val"), col("event_type_norm"))
  }

  private def customers(d: String): DataFrame = {
    val suffix = element_at(array(lit(" Inc"), lit(" LLC"), lit(" Ltd"), lit("")),
      (col("c_custkey") % 4 + 1).cast("int"))
    Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment").as("mktsegment"),
      col("c_acctbal"), T.stripCompanySuffixes(concat(col("c_name"), suffix)).as("company_clean"))
  }

  private def rank(state: DataFrame, docClass: DataFrame, skills: DataFrame,
      cust: DataFrame): DataFrame = {
    val enriched = state
      .join(docClass, col("user_id") === col("dc_id"))
      .join(skills, col("user_id") === col("sk_id"), "left")
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("event_type_norm"), col("k_val"), col("value"),
        col("last_seen"), col("doc_class"),
        coalesce(col("skills_csv"), lit("")).as("skills_csv"),
        col("mktsegment"), col("c_acctbal"), col("company_clean"))
    val nSkills = when(col("skills_csv") === "", lit(0))
      .otherwise(size(split(col("skills_csv"), ",")))
    val skillsScore = least(nSkills.cast("double") / lit(4.0), lit(1.0))
    val classScore = classScores.foldRight(lit(0.2): Column) {
      case ((lbl, sc), e) => when(col("doc_class") === lbl, lit(sc)).otherwise(e)
    }
    val valueScore = least(greatest(col("value") / lit(500.0), lit(0.0)), lit(1.0))
    val balScore = least(greatest(col("c_acctbal") / lit(10000.0), lit(0.0)), lit(1.0))
    val rankScore = least(greatest(round(
      (skillsScore * wSkills + classScore * wClass +
        valueScore * wValue + balScore * wBal) * 100, 2), lit(0.0)), lit(100.0))
    val w = Window.partitionBy("mktsegment").orderBy(col("rank_score").desc, col("user_id"))
    enriched
      .withColumn("rank_score", rankScore)
      .select(col("user_id"), col("company_clean"),
        md5(col("company_clean")).as("dim_uid"),
        col("mktsegment"), col("doc_class"), col("skills_csv"),
        col("event_type_norm"), col("k_val"),
        date_format(col("last_seen"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_seen"),
        col("rank_score"))
      .withColumn("segment_rank", row_number().over(w))
  }

  private def mart(day: String): DataFrame = {
    val d = dir(day)
    val (parsed, nParsed) = tr.span("sources.Tables.incremental")(stage(parse(d)))
    val (state, nState) = tr.span("operators.Upsert.latestState")(stage(
      Upsert.latestState(parsed, "user_id", "ts", "event_id",
        Seq("event_type_norm", "k_val", "value"))))
    val docs = Tables.documents(spark, d)
    val (skills, _) = tr.span("operators.Enrich.extractSkills")(stage(
      Enrich.extractSkills(spark, docs, "doc_id", "text", Dictionaries.skills)
        .withColumnRenamed("doc_id", "sk_id")))
    val docClass = docs.select(col("doc_id").as("dc_id"),
      Enrich.classifyByRules(col("text"), classRules, "unknown").as("doc_class"))
    val cust = customers(d)
    val (ranked, nMart) = tr.span("operators.Ranker.segmentRank")(stage(
      rank(state, docClass, skills, cust)))
    // SCD2 history of each user's event type over the day; its invariants
    // (one current row per key, non-empty intervals) are the check
    val dim = tr.span("operators.Marts.scd2Dim") {
      val r = Marts.scd2Dim(parsed, "user_id", "ts", "event_id", Seq("event_type_norm"),
        "9999-12-31 00:00:00")
        .agg(count(lit(1)), sum(col("is_current").cast("long")),
          countDistinct(col("user_id")),
          sum((col("valid_from") >= col("valid_to")).cast("long")))
        .first()
      tr.results(r.getLong(0))
      r
    }
    val fact = tr.span("operators.Marts.incrementalFact") {
      val r = Marts.incrementalFact(parsed, cust.select("c_custkey", "company_clean"),
        "user_id", "c_custkey", "company_clean", "ts", watermark)
        .agg(count(lit(1)), count(col("c_custkey")), countDistinct(col("dim_uid")))
        .first()
      tr.results(r.getLong(0))
      r
    }
    facts += s"""{"day": "$day", "parsed": $nParsed, "state": $nState, "mart": $nMart, """ +
      s""""scd2_rows": ${dim.getLong(0)}, "scd2_current": ${dim.getLong(1)}, """ +
      s""""scd2_keys": ${dim.getLong(2)}, "scd2_empty_intervals": ${dim.getLong(3)}, """ +
      s""""fact_rows": ${fact.getLong(0)}, "fact_matched": ${fact.getLong(1)}}"""
    ranked.withColumn("bkt", pmod(col("user_id"), lit(8)))
  }

  def setup(): Unit = {
    days.foreach { d =>
      inputRows(d) = Seq("events", "documents", "customer")
        .map(t => parquetRows(s"${dir(d)}/$t.parquet")).sum
    }
    ManifestStore.publishInitial(spark, mart(days(0)), root, version(0), "bkt")
    published += version(0) -> days(0)
    release()
  }

  def op(id: Int): Long = {
    release()
    seq += 1
    val day = days(seq % days.size)
    val m = mart(day)
    tr.span("sources.ManifestStore.publishDeltaMerged") {
      ManifestStore.publishDeltaMerged(spark, m, root, version(seq - 1), version(seq), "bkt")
    }
    published += version(seq) -> day
    inputRows(day)
  }

  def finish(): String = {
    release()
    // the last version of each day, read back through the manifest
    val last = published.groupBy(_._2).map(_._2.last).toSeq.sortBy(_._1)
    val martSchema = "user_id BIGINT, company_clean STRING, dim_uid STRING, " +
      "mktsegment STRING, doc_class STRING, skills_csv STRING, event_type_norm STRING, " +
      "k_val BIGINT, last_seen STRING, rank_score DOUBLE, segment_rank INT, bkt INT"
    val outs = last.map { case (v, day) =>
      val p = writeCheck(ManifestStore.readVersion(spark, root, v, martSchema).drop("bkt"),
        s"etl_$v")
      s"""{"version": "$v", "day": "$day", "path": ${Workload.jsonStr(p)}}"""
    }
    s"""{"oracle": ${Workload.oracle("p1_job_etl")}, "versions": [${outs.mkString(", ")}],
       |"days": [${facts.mkString(",\n")}]}""".stripMargin
  }
}

/** Back-to-back builds of an LLM training corpus: catalog p4_llm_corpus's
  * chain (language and quality gates, exact dedup, decontamination, token
  * budget, split), plus MinHash near-duplicate pairs and their connected
  * components over the exact-dedup survivors. */
final class CorpusBuild(spark: SparkSession, tr: Tracer, inputs: String, work: String)
    extends Workload(spark, tr, work) {
  private var nDocs = 0L
  private var lastOut: DataFrame = _
  private var lastPairs: DataFrame = _
  private var lastLabels: DataFrame = _

  // The first build on a fresh JVM spends ~15 s compiling code whatever
  // the corpus size, so it runs on the corpus's first documents (gen.py
  // writes them to warmup/); the second warm-up build runs on the whole
  // corpus.
  override def warmupOps: Int = 2
  private def source(id: Int): String =
    if (id < 0 && id > -warmupOps) s"$inputs/warmup" else inputs

  private def gate(docs: DataFrame): DataFrame = {
    val langs = Dictionaries.langMarkers
    val pool = docs.filter(col("doc_id") % 20 =!= 0)
    val t = T.normKey(col("text"))
    val ws0 = split(t, " ")
    val hitCols = langs.map { case (l, ms) =>
      size(filter(ws0, w => w.isin(ms.map(lit): _*))).as(s"s_$l")
    }
    val lenScore = least(length(t).cast("double") / 500.0, lit(1.0))
    val punctRatio = (length(t) - length(regexp_replace(t, "[a-z0-9 ]", "")))
      .cast("double") / length(t).cast("double")
    val scored = pool.select(
      (Seq(col("doc_id"), col("source"), t.as("t"),
        lenScore.as("len_score"),
        T.distinctRatio(ws0).as("distinct_ratio"),
        T.stopwordRatio(ws0, Dictionaries.stopwordsEn).as("stopword_ratio"),
        punctRatio.as("punct_ratio")) ++ hitCols): _*)
    val isEn = col("s_en") > 0 &&
      col("s_en") === greatest(langs.map { case (l, _) => col(s"s_$l") }: _*)
    val quality = col("len_score") * 0.35 + col("distinct_ratio") * 0.25 +
      (lit(1.0) - col("punct_ratio")) * 0.25 + col("stopword_ratio") * 0.15
    scored.filter(isEn)
      .withColumn("quality", quality)
      .filter(col("quality") >= 0.3)
      .select("doc_id", "source", "t", "quality")
  }

  def setup(): Unit = nDocs = parquetRows(s"$inputs/documents.parquet")

  def op(id: Int): Long = {
    release()
    val docs = Tables.documents(spark, source(id))
    val (filtered, _) = tr.span("functions.text.qualityGate")(stage(gate(docs)))
    val (deduped, _) = tr.span("operators.Dedup.exact") {
      val survivors = Dedup.exact(filtered, "doc_id", "t").select(col("survivor_id").as("doc_id"))
      stage(filtered.join(survivors, Seq("doc_id"), "left_semi"))
    }
    val corpus = deduped.select(col("doc_id").as("id"), col("t"))
    val (pairs, _) = tr.span("operators.Dedup.minhashPairs")(stage(
      Dedup.minhashPairs(corpus, "id", "t", shingleN = 3, k = 16, bands = 4, threshold = 0.8)))
    val (labels, _) = tr.span("operators.Dedup.connectedComponents")(stage(
      Dedup.connectedComponents(corpus.select("id"), "id", pairs)))
    val (clean, _) = tr.span("operators.Curate.flagContaminated") {
      val bench = docs.filter(col("doc_id") % 20 === 0).select(col("text"))
      val flagged = Curate.flagContaminated(deduped.select(col("doc_id"), col("t")),
        "doc_id", "t", bench, "text", 5).select("doc_id")
      stage(deduped.join(flagged, Seq("doc_id"), "left_anti"))
    }
    val (out, _) = tr.span("operators.Curate.tokenBudgetSample") {
      val budgeted = Curate.tokenBudgetSample(clean, "doc_id", "source", T.tokenCountWs(col("t")),
        "llmbudget0", Seq("src0" -> 20000L, "src1" -> 12000L), 8000L)
      stage(Curate.assignSplit(budgeted.drop("t"), "doc_id", "llmsplit0",
        Seq(0.8 -> "train", 0.9 -> "val"), "test"))
    }
    lastOut = out
    lastPairs = pairs
    lastLabels = labels
    nDocs
  }

  def finish(): String = {
    val out = writeCheck(lastOut, "corpus")
    val pairs = writeCheck(lastPairs, "pairs")
    val labels = writeCheck(lastLabels, "labels")
    release()
    s"""{"oracle": ${Workload.oracle("p4_llm_corpus")}, "corpus": ${Workload.jsonStr(out)},
       |"pairs": ${Workload.jsonStr(pairs)}, "labels": ${Workload.jsonStr(labels)}}""".stripMargin
  }
}

/** Trigger-cadence corpus admission (catalog s26_stream_admission): a
  * curated store and its MinHash band index are built in set-up; each
  * trigger admits the next doc_id-range slice of the new crawl drop
  * through EventStream.corpusAdmissionBatch and is done when its funnel
  * ledger is readable. Triggers are due on a fixed schedule. */
final class StreamIntake(spark: SparkSession, tr: Tracer, inputs: String, work: String,
    seconds: Double) extends Workload(spark, tr, work) {
  // an open loop runs exactly one trigger per due time in the window, so
  // the drop is cut into as many slices as the run has triggers
  private val slices = warmupOps + math.ceil(seconds / StreamIntake.IntervalSeconds).toInt
  private val root = path("s26")
  private var nw: DataFrame = _
  private var sliceRows: Map[Int, Long] = Map.empty
  private var next = 0
  private var body: (DataFrame, Long) => Unit = _
  private var band: Column = _

  override def intervalSeconds: Option[Double] = Some(StreamIntake.IntervalSeconds)

  /** catalog s26's staged frame: canonical url, registered domain, and
    * normalized text, with doc_id % 10 == 4 planted as near-copies. */
  private def staged(): DataFrame = {
    val k = (col("doc_id") % 20).cast("string")
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://www."), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM:443/"),
          col("lang"), lit("/page"), k, lit("/?a=1&b=2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://www."), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?a=1&b=2#frag")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?b=2&a=1")))
    val cu = Tables.documents(spark, inputs)
      .select(col("doc_id"), col("text"), url.as("url"))
      .withColumn("curl", T.canonicalizeUrl(col("url")))
      .withColumn("domain", T.registeredDomain(col("curl")))
    val base = Tables.documents(spark, inputs)
      .select((col("doc_id") + 4).as("doc_id"), T.normKey(col("text")).as("bt"))
    cu.join(base, Seq("doc_id"), "left")
      .select(col("doc_id"), col("domain"), col("curl"),
        when(col("doc_id") % 10 === 4 && col("bt").isNotNull,
          concat(col("bt"), lit(" extraword")))
          .otherwise(T.normKey(col("text"))).as("t"))
  }

  def setup(): Unit = {
    val all = staged().persist()
    all.filter(col("doc_id") % 5 =!= 4).write.mode("overwrite").parquet(s"$root/store")
    Dedup.minhashSignature(
      spark.read.parquet(s"$root/store").select(col("doc_id").as("id"), col("t")),
      "id", "t", shingleN = 3, k = 16)
      .write.mode("overwrite").parquet(s"$root/store_sig")
    nw = all.filter(col("doc_id") % 5 === 4)
    val nDocs = Tables.documents(spark, inputs).agg(max(col("doc_id"))).head.getLong(0) + 1
    band = expr(s"doc_id * $slices div $nDocs")
    sliceRows = nw.groupBy(band.as("b")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    body = EventStream.corpusAdmissionBatch(s"$root/state", s"$root/store", s"$root/store_sig",
      shingleN = 3, k = 16, bands = 4, threshold = 0.8, maxBucket = 1000,
      Dictionaries.stopwordsEn, minQuality = 0.35) _ // s26's parameters
  }

  def op(id: Int): Long = {
    val i = next
    require(i < slices, s"trigger $i has no slice: only $slices were cut")
    next += 1
    tr.span("streaming.EventStream.corpusAdmissionBatch")(body(nw.filter(band === i), i.toLong))
    tr.span("streaming.EventStream.readLedger") {
      val n = spark.read.schema(EventStream.admissionLedgerSchema)
        .parquet(s"$root/state/ledger/trig=$i").count()
      require(n > 0, s"trigger $i published no ledger rows")
      tr.results(n)
    }
    sliceRows.getOrElse(i, 0L)
  }

  def finish(): String = {
    require(next == slices, s"$next of $slices slices admitted")
    val ledgers = spark.read.schema(EventStream.admissionLedgerSchema + ", trig INT")
      .parquet(s"$root/state/ledger")
    val served = ledgers.groupBy("domain")
      .agg(sum(col("n_new")).as("n_new"), sum(col("n_fresh")).as("n_fresh"),
        sum(col("n_novel")).as("n_novel"), sum(col("n_admitted")).as("n_admitted"),
        sum(col("n_tokens")).as("n_tokens"))
    val p = writeCheck(served, "admission")
    val nTrig = ledgers.select("trig").distinct().count()
    nw.unpersist()
    s"""{"oracle": ${Workload.oracle("s26_stream_admission")}, "admission": ${Workload.jsonStr(p)},
       |"triggers": $slices, "triggers_with_ledger": $nTrig}""".stripMargin
  }
}

object StreamIntake {
  /** Trigger period of the open loop; well above one trigger's latency. */
  val IntervalSeconds = 7.0
}

/** A seeded mix of short reads over stores published in set-up:
  * ManifestStore time travel, Sink min/max-skipping range reads, IVF
  * nearest-neighbour search, and BM25 search over a segment index. */
final class StoreReads(spark: SparkSession, tr: Tracer, inputs: String, work: String, seed: Long)
    extends Workload(spark, tr, work) {
  private val versions = 6
  private val stateRoot = path("reads/state")
  private val zPath = path("reads/events_z")
  private val indexRoot = path("reads/index")
  private val stateSchema =
    "user_id BIGINT, first_seen TIMESTAMP, last_seen TIMESTAMP, event_type STRING, value DOUBLE, bkt INT"
  private val zSchema = "event_id BIGINT, user_id BIGINT, value DOUBLE"
  private var manifest: Array[(String, Double, Double, Double, Double)] = _
  private var emb: DataFrame = _
  private var cents: DataFrame = _
  private var nVectors = 0L
  private var nEvents = 0L
  private var docWords: Array[Array[String]] = _

  override def warmupOps: Int = 8
  private val results = ArrayBuffer.empty[String]

  def setup(): Unit = {
    val ev = Tables.events(spark, inputs)
    nEvents = parquetRows(s"$inputs/events.parquet")
    // time-ordered slices (event ids follow ts), one published version each
    (0 until versions).foreach { v =>
      val slice = ev.filter(col("event_id") >= nEvents * v / versions &&
        col("event_id") < nEvents * (v + 1) / versions)
      val st = Upsert.latestState(slice, "user_id", "ts", "event_id", Seq("event_type", "value"))
        .withColumn("bkt", pmod(col("user_id"), lit(8)).cast("int"))
      if (v == 0) ManifestStore.publishInitial(spark, st, stateRoot, s"v$v", "bkt")
      else ManifestStore.publishDelta(spark, st, stateRoot, s"v${v - 1}", s"v$v", "bkt",
        "user_id", Seq("event_type", "value"), stateSchema)
    }
    Sink.writeZordered(ev.select("event_id", "user_id", "value"), zPath, "value", "user_id", 16)
    manifest = Sink.skippingManifest(spark, zPath, zSchema, "value", "user_id")
    emb = Tables.embeddings(spark, inputs).persist()
    nVectors = parquetRows(s"$inputs/embeddings.parquet")
    cents = Ann.sampleCentroids(emb, 16).persist()
    cents.count()
    val docs = Tables.documents(spark, inputs)
      .select(col("doc_id"), split(T.normKey(col("text")), " ").as("w"))
    (0 until 3).foreach(i =>
      Retrieval.indexBatchAppend(indexRoot, docs.filter(col("doc_id") % 3 === i), "doc_id", "w", i))
    docWords = docs.select("w").collect().map(_.getSeq[String](0).toArray)
  }

  def op(id: Int): Long = {
    // parameters depend on the seed and the op id only, not on how many
    // warm-up operations ran before
    val rng = new java.util.Random(seed * 1000003L + id)
    val kind = Math.floorMod(id, 4)
    kind match {
      case 0 =>
        val v = rng.nextInt(versions)
        val r = tr.span("sources.ManifestStore.readVersion") {
          val r = ManifestStore.readVersion(spark, stateRoot, s"v$v", stateSchema)
            .agg(count(lit(1)), sum(col("value"))).first()
          tr.results(r.getLong(0))
          r
        }
        if (id >= 0) results += s"""{"kind": "version", "version": $v, "rows": ${r.getLong(0)}, "value_sum": ${r.getDouble(1)}}"""
        r.getLong(0)
      case 1 =>
        val lo1 = rng.nextInt(540).toDouble
        val lo2 = rng.nextInt(2700).toDouble
        val (n, kept) = tr.span("sources.Sink.readSkipping") {
          val (df, kept, _) = Sink.readSkipping(spark, manifest, zSchema,
            "value", lo1, lo1 + 60.0, "user_id", lo2, lo2 + 300.0)
          val n = df.count()
          tr.results(n)
          (n, kept)
        }
        if (id >= 0) results += s"""{"kind": "range", "box": [$lo1, ${lo1 + 60.0}, $lo2, ${lo2 + 300.0}], "rows": $n, "files": $kept}"""
        n
      case 2 =>
        val qs = Seq.fill(4)(rng.nextInt(nVectors.toInt).toLong).distinct
        val rows = tr.span("operators.Ann.ivfTopK") {
          val rows = Ann.ivfTopK(emb.filter(col("vec_id").isin(qs: _*)), emb, cents, nProbe = 3, k = 10)
            .select("query_id", "cand_id", "cosine").collect()
          tr.results(rows.length)
          rows
        }
        if (id >= 0) results += s"""{"kind": "ann", "queries": [${qs.mkString(", ")}], "hits": [""" +
          rows.map(r => s"[${r.getLong(0)}, ${r.getLong(1)}, ${r.getDouble(2)}]").mkString(", ") + "]}"
        nVectors
      case _ =>
        import spark.implicits._
        val qs = (0 until 3).map { q =>
          val ws = docWords(rng.nextInt(docWords.length))
          q.toLong -> Seq.fill(3)(ws(rng.nextInt(ws.length))).distinct
        }
        val terms = qs.flatMap { case (q, ws) => ws.map(q -> _) }.toDF("query_id", "term")
        val rows = tr.span("operators.Retrieval.searchFromStore") {
          val rows = Retrieval.searchFromStore(spark, indexRoot, 2, terms, k = 10)
            .select("query_id", "doc_id", "score").collect()
          tr.results(rows.length)
          rows
        }
        if (id >= 0) results += s"""{"kind": "bm25", "queries": [""" +
          qs.map { case (q, ws) => s"[$q, [${ws.map(Workload.jsonStr).mkString(", ")}]]" }.mkString(", ") +
          "], \"hits\": [" + rows.map(r => s"[${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)}]")
            .mkString(", ") + "]}"
        docWords.length.toLong
    }
  }

  def finish(): String = {
    emb.unpersist()
    cents.unpersist()
    s"""{"versions": $versions, "events": $nEvents, "reads": [${results.mkString(",\n")}]}"""
  }
}
