package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.model.{JobSpec, Manifest}
import graft.engine.StreamRun
import graft.ops.{Dedup, Pq, Search}

/** `corpus_lifecycle`: the LLM-data journey over a seeded enlarged corpus
  * (every base document in `variants` near-duplicate copies, as in
  * BenchStress, plus the embeddings in the same number of copies).
  *
  * Untimed preparation (traced in the traced run): batch near-dup pairing
  * over the corpus, then the near-dup, BM25 and PQ index builds.
  *
  * One timed round: feed files of `batchDocs` held-out documents (or
  * vectors) land in each lane's feed directory — `batchesPerRound` of
  * them — and each YAML `stream_lane` —
  * `neardup` (with `clusters_path`), `bm25_ingest`, `pq_ingest` — drains
  * them, one micro-batch per file, through `StreamRun.runOnce`;
  * then a BM25 and a PQ search probe against the grown indexes, then the
  * delete below. Batches
  * are small against a large index, so index-sized per-batch work shows.
  *
  * Each round ends with a GDPR delete: vacuum and compact every family for
  * a seeded handful of ids (timed from the request until reads exclude the
  * ids in every family).
  */
final class CorpusLifecycle extends Workload {
  val defaultSf = 0.01
  val unitOp = "ingest"
  val latencyName = "ingest_batch"
  override val throughputName = Some(("ingest_docs_per_s", "docs/s"))
  val tables = Seq("documents", "embeddings")
  val variants = 2
  val batchDocs = 25
  val rounds = 1
  val pqDir = "pq_index"

  private val lanes = Seq("neardup", "bm25", "pq")
  private var root = ""
  private var feedDocs: DataFrame = _
  private var feedVecs: DataFrame = _
  private var feedN = 0L
  private var jobs = Map.empty[String, JobSpec]
  private var probes: DataFrame = _
  private var vecProbes: DataFrame = _
  private var deleted = Seq.empty[Long]
  private var deletedVecs = Seq.empty[Long]
  val victimsPerRound = 4
  private val offered = collection.mutable.Map.empty[String, Long]
  /** Feed files (micro-batches) per lane and round. A near-dup batch
    * costs several BM25 or PQ batches; one of it keeps a run within the
    * time budget of a full evaluation.
    */
  val batchesPerRound = Map("neardup" -> 1, "bm25" -> 3, "pq" -> 3)
  private val tombstoneBacklog = collection.mutable.ArrayBuffer.empty[Long]

  private def docs(ctx: Ctx) = ctx.spark.read
    .parquet(s"${ctx.dataDir}/documents.parquet").select("doc_id", "text")
  private def vecs(ctx: Ctx) = ctx.spark.read
    .parquet(s"${ctx.dataDir}/embeddings.parquet").select("vec_id", "embedding")

  /** Base documents are the ids not divisible by 5, each in `variants`
    * copies (copy v > 0: id + v·10^7, text plus a short variant tail);
    * ids divisible by 5 are the held-out feed pool.
    */
  private def corpus(d: DataFrame, idCol: String, value: String,
                     tail: Int => Column): DataFrame =
    (0 until variants).map { v =>
      d.filter(col(idCol) % 5 =!= 0)
        .select((col(idCol) + lit(v.toLong * 10000000L)).as(idCol),
          if (v == 0) col(value) else tail(v).as(value))
    }.reduce(_.unionByName(_))

  private type Column = org.apache.spark.sql.Column

  private def textCorpus(ctx: Ctx) = corpus(docs(ctx), "doc_id", "text",
    v => concat(col("text"), lit(s" variant token$v pad$v")))
  private def vecCorpus(ctx: Ctx) = corpus(vecs(ctx), "vec_id", "embedding",
    v => transform(col("embedding"),
      x => x * (lit(1.0f) + lit((v * 1e-4).toFloat))))

  def warmUp(ctx: Ctx): Unit =
    Dedup.minhashLshPairs(docs(ctx).limit(100), "doc_id", "text",
      threshold = 0.6).write.format("noop").mode("overwrite").save()

  private def yaml(ctx: Ctx): String =
    s"""jobs:
       |  ingest_neardup:
       |    inputs:
       |      src: {path: $root/feed/neardup, read_kwargs: {maxFilesPerTrigger: "1"}}
       |    output: {path: $root/accepted/neardup}
       |    params:
       |      stream_lane: neardup
       |      index: cl_nd
       |      id_col: doc_id
       |      text_col: text
       |      threshold: "0.8"
       |      max_band_freq: "50"
       |      clusters_path: $root/clusters
       |  ingest_bm25:
       |    inputs:
       |      src: {path: $root/feed/bm25, read_kwargs: {maxFilesPerTrigger: "1"}}
       |    output: {path: $root/accepted/bm25}
       |    params:
       |      stream_lane: bm25_ingest
       |      index: cl_bm
       |      id_col: doc_id
       |      text_col: text
       |  ingest_pq:
       |    inputs:
       |      src: {path: $root/feed/pq, read_kwargs: {maxFilesPerTrigger: "1"}}
       |    output: {path: $root/accepted/pq}
       |    params:
       |      stream_lane: pq_ingest
       |      index_dir: $root/$pqDir
       |""".stripMargin

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = s"${ctx.workDir}/corpus"
    Files.rmTree(root)
    val t = ctx.trace
    val text = textCorpus(ctx).localCheckpoint()
    val emb = vecCorpus(ctx).localCheckpoint()
    corpusDocs = text.count()
    // batch pairing feeds only a per-layer metric: traced run only
    if (ctx.args.trace)
      t.span("ops.dedup.pairs")(Dedup.minhashLshPairs(text, "doc_id", "text",
        threshold = 0.6).write.format("noop").mode("overwrite").save())
    Seq("cl_nd", "cl_bm").foreach(dropIndex(spark, _))
    t.span("ops.dedup.build")(Dedup.writeNearDupIndex(text, "doc_id", "text",
      "cl_nd", numBuckets = 8))
    t.span("ops.search.build")(Search.writeBm25Index(text, "doc_id", "text",
      "cl_bm", numBuckets = 8))
    t.span("ops.pq.build")(Pq.writePqIndex(emb, s"$root/$pqDir", m = 4,
      k = 16, cells = 16, seed = ctx.args.seed))
    // the held-out pool in a seeded order, one feed file per round
    val order = xxhash64(lit(ctx.args.seed), col("doc_id"))
    feedDocs = docs(ctx).filter(col("doc_id") % 5 === 0)
      .withColumn("_o", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order, col("doc_id"))))
      .localCheckpoint()
    feedVecs = vecs(ctx).filter(col("vec_id") % 5 === 0)
      .withColumn("_o", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          xxhash64(lit(ctx.args.seed), col("vec_id")), col("vec_id"))))
      .localCheckpoint()
    feedN = math.min(feedDocs.count(), feedVecs.count())
    probes = docs(ctx).filter(col("doc_id") % 50 === 1)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " "), 1, 4), " ").as("qtext"))
      .limit(8).localCheckpoint()
    vecProbes = vecs(ctx).filter(col("vec_id") % 50 === 1).limit(8)
      .localCheckpoint()
    new java.io.File(root).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/lanes.yml"),
      yaml(ctx).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    jobs = t.span("core.model.load")(
      Manifest.loadFile(s"$root/lanes.yml").jobs)
    // a lane's stream starts against its feed (StreamRun probes the feed
    // schema): land the first file and drain it untimed, which also warms
    // each lane's code before the timed rounds
    lanes.foreach { l => landFeed(l, 0); drain(ctx, l) }
  }

  private var corpusDocs = 0L

  private def dropIndex(spark: SparkSession, name: String): Unit =
    Seq("_shingles", "_buckets", "_meta", "_tombstones", "_postings",
      "_doclens", "_meta_vac", "_postings_vac", "_doclens_vac",
      "_shingles_vac", "_buckets_vac").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  /** Write feed file `i` (the i-th slice of the held-out pool) into
    * `lane`'s feed directory.
    */
  private def landFeed(lane: String, i: Int): Unit = {
    val lo = (i.toLong * batchDocs) % math.max(1, feedN - batchDocs) + 1
    // ids shift per pass over the pool, so every fed id is fresh
    val shift = lit((i.toLong * batchDocs / math.max(1, feedN - batchDocs)) *
      100000000L + 500000000L)
    val sl = (df: DataFrame) => df.filter(col("_o").between(lo, lo + batchDocs - 1))
    val file = lane match {
      case "neardup" =>
        sl(feedDocs).select((col("doc_id") + shift).as("doc_id"), col("text"))
      case "bm25" => sl(feedDocs).select((col("doc_id") + shift).as("doc_id"),
        concat(col("text"), lit(" fresh")).as("text"))
      case "pq" =>
        sl(feedVecs).select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    }
    file.coalesce(1).write.mode("append").parquet(s"$root/feed/$lane")
    offered(lane) = offered.getOrElse(lane, 0L) + batchDocs
  }

  private def drain(ctx: Ctx, lane: String): Long = {
    val batches = ctx.trace.span("engine.streamrun")(
      graft.streaming.Streams.withStatePartitions(ctx.spark, 8) {
        StreamRun.runOnce(ctx.spark, jobs(s"ingest_$lane"),
          s"$root/ckpt/$lane", now = "s")
      })
    // the appends ran on the stream's cloned session: refresh this
    // session's cached listings of the grown tables
    refresh(ctx.spark)
    batches
  }

  private def refresh(spark: SparkSession): Unit =
    Seq("cl_nd_shingles", "cl_nd_buckets", "cl_nd_meta", "cl_bm_postings",
      "cl_bm_doclens", "cl_bm_meta").foreach(t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t))

  def round(ctx: Ctx, r: Int): Unit = {
    lanes.foreach { l =>
      val files = batchesPerRound(l)
      (1 to files).foreach(j => landFeed(l, r * files + j))
      ctx.op("ingest", l) { drain(ctx, l); files.toLong * batchDocs }
    }
    ctx.op("search", "bm25") {
      ctx.trace.span("ops.search.topk")(Search.bm25TopKIndexed(ctx.spark,
        Search.loadBm25Index(ctx.spark, "cl_bm"), probes, "query_id",
        "qtext", k = 5).collect().length.toLong)
      0L
    }
    ctx.op("search", "pq") {
      ctx.trace.span("ops.pq.topk")(Pq.pqTopKIndexed(ctx.spark,
        s"$root/$pqDir", vecProbes, topk = 5).collect().length.toLong)
      0L
    }
    gdprDelete(ctx, r)
  }

  /** Forget a seeded handful of documents (base and streamed alike) and
    * vectors: vacuum and compact every family, timed until reads exclude
    * the ids everywhere.
    */
  private def gdprDelete(ctx: Ctx, r: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val order = xxhash64(lit(ctx.args.seed), lit(r), col("id"))
    val victims = spark.table("cl_nd_shingles").select(col("doc_id").as("id"))
      .distinct().orderBy(order).limit(victimsPerRound).as[Long].collect().toSeq
    val vecVictims = spark.read.parquet(s"$root/$pqDir/codes")
      .select(col("cand_id").as("id")).orderBy(order).limit(victimsPerRound)
      .as[Long].collect().toSeq
    val t = ctx.trace
    ctx.op("delete") {
      val ids = victims.toDF("doc_id")
      // each vacuum returns the tombstones it appended; compaction below
      // drains them, so their sum is the backlog compaction scrubs
      val tombstones =
        t.span("ops.dedup.vacuum")(Dedup.vacuumNearDupIndex(spark, "cl_nd", ids)) +
        t.span("ops.search.vacuum")(Search.vacuumBm25Index(spark, "cl_bm", ids)) +
        t.span("ops.pq.vacuum")(Pq.vacuumPqIndex(spark, s"$root/$pqDir",
          vecVictims.toDF("cand_id")))
      if (t.enabled) tombstoneBacklog += tombstones
      t.span("ops.dedup.compact")(Dedup.compactNearDupIndex(spark, "cl_nd"))
      t.span("ops.search.compact")(Search.compactBm25Index(spark, "cl_bm"))
      t.span("ops.pq.compact")(Pq.compactPqIndex(spark, s"$root/$pqDir"))
      require(visible(ctx, victims, vecVictims).isEmpty,
        "deleted ids still visible")
      victims.size.toLong
    }
    deleted ++= victims
    deletedVecs ++= vecVictims
  }

  /** The output checks. */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val acceptedNd = spark.read.parquet(s"$root/accepted/neardup/batch*")
      .select("doc_id")
    // no deleted id may be visible (self-test: plus one that never was)
    val mustHide = deleted ++
      (if (ctx.args.inject("undeleted")) spark.table("cl_nd_shingles")
         .select("doc_id").as[Long].head(1).toSeq else Nil)
    val seen = visible(ctx, mustHide, deletedVecs)
    ctx.check("deleted ids invisible in every family", seen.isEmpty,
      s"visible: ${seen.take(5).mkString(", ")}")

    // each index equals a fresh rebuild over the accepted documents
    val gone = deleted.toDF("doc_id")
    val ndDocs = textCorpus(ctx)
      .unionByName(spark.read.parquet(s"$root/feed/neardup")
        .join(acceptedNd, Seq("doc_id"), "left_semi"))
      .join(gone, Seq("doc_id"), "left_anti")
    dropIndex(spark, "cl_nd_fresh")
    Dedup.writeNearDupIndex(ndDocs, "doc_id", "text", "cl_nd_fresh",
      numBuckets = 8)
    sameTable(ctx, "near-dup shingles = fresh rebuild", "cl_nd_shingles",
      "cl_nd_fresh_shingles")
    sameTable(ctx, "near-dup buckets = fresh rebuild", "cl_nd_buckets",
      "cl_nd_fresh_buckets")
    val bmDocs = textCorpus(ctx)
      .unionByName(spark.read.parquet(s"$root/feed/bm25"))
      .join(gone, Seq("doc_id"), "left_anti")
    dropIndex(spark, "cl_bm_fresh")
    Search.writeBm25Index(bmDocs, "doc_id", "text", "cl_bm_fresh",
      numBuckets = 8)
    sameTable(ctx, "bm25 postings = fresh rebuild", "cl_bm_postings",
      "cl_bm_fresh_postings")
    sameTable(ctx, "bm25 meta = fresh rebuild", "cl_bm_meta",
      "cl_bm_fresh_meta")
    val pqIds = vecCorpus(ctx).select(col("vec_id").as("cand_id"))
      .unionByName(spark.read.parquet(s"$root/feed/pq")
        .select(col("vec_id").as("cand_id")))
      .except(deletedVecs.toDF("cand_id"))
    val liveIds = spark.read.parquet(s"$root/$pqDir/codes").select("cand_id")
    sameRows(ctx, "pq codes cover exactly the accepted vectors", liveIds, pqIds)
    // BM25 top-k from the grown index = full recompute over visible docs
    val got = Search.bm25TopKIndexed(spark, Search.loadBm25Index(spark, "cl_bm"),
      probes, "query_id", "qtext", k = 5)
    val exp = Search.bm25TopK(bmDocs, probes, "doc_id", "text", "query_id",
      "qtext", k = 5)
    sameRows(ctx, "bm25 top-k = full recompute over visible docs", got, exp)
    liveBytes = indexBytes(ctx)
    freshBytes = Seq("cl_nd_fresh_shingles", "cl_nd_fresh_buckets",
      "cl_bm_fresh_postings", "cl_bm_fresh_doclens").map(tableBytes(ctx, _)).sum
    accepted = lanes.map { l =>
      l -> spark.read.parquet(s"$root/accepted/$l/batch*").count().toDouble
    }.toMap
  }

  private var liveBytes = 0L
  private var freshBytes = 0L
  private var accepted = Map.empty[String, Double]

  private def tableBytes(ctx: Ctx, t: String): Long =
    Files.stats(s"${ctx.workDir}/warehouse/$t")._2

  private def indexBytes(ctx: Ctx): Long =
    Seq("cl_nd_shingles", "cl_nd_buckets", "cl_bm_postings",
      "cl_bm_doclens").map(tableBytes(ctx, _)).sum

  /** Ids of `docIds`/`vecIds` any family still serves. */
  private def visible(ctx: Ctx, docIds: Seq[Long],
                      vecIds: Seq[Long]): Seq[Long] = {
    val spark = ctx.spark
    refresh(spark)
    val d = docIds.map(Long.box)
    val inNd = spark.table("cl_nd_shingles").filter(col("doc_id").isin(d: _*))
      .select("doc_id")
    val inBm = spark.table("cl_bm_doclens").filter(col("doc_id").isin(d: _*))
      .select("doc_id")
    val inPq = spark.read.parquet(s"$root/$pqDir/codes")
      .filter(col("cand_id").isin(vecIds.map(Long.box): _*))
      .select(col("cand_id").as("doc_id"))
    inNd.unionByName(inBm).unionByName(inPq).distinct()
      .collect().map(_.getLong(0)).toSeq
  }

  private def sameTable(ctx: Ctx, name: String, live: String,
                        fresh: String): Unit =
    sameRows(ctx, name, ctx.spark.table(live), ctx.spark.table(fresh))

  /** Both frames hold the same multiset of rows: equal row counts and
    * equal sums of a 64-bit row hash (columns matched by name).
    */
  private def sameRows(ctx: Ctx, name: String, got: DataFrame,
                       exp: DataFrame): Unit = {
    val cols = exp.columns.sorted.toSeq.map(col)
    def digest(df: DataFrame) = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")))
      .head()
    val (g, e) = (digest(got), digest(exp))
    ctx.check(name, g == e, s"rows ${g.getLong(0)} vs ${e.getLong(0)}")
  }

  /** Micro-batch commit latencies (trigger execution) of the untraced
    * rounds — every progress event with input rows.
    */
  def batchMs(ctx: Ctx): Seq[Double] =
    ctx.trace.progress.toSeq.filter(p => p.rows > 0 && p.phase == "timed" &&
        (!ctx.args.trace || !p.traced))
      .flatMap(_.durations.get("triggerExecution")).map(_.toDouble)

  override def unitSamples(ctx: Ctx): Seq[Double] = batchMs(ctx)

  override def named(ctx: Ctx): Seq[Main.Named] = {
    val search = ctx.samples("search", tracedToo = !ctx.args.trace)
    val del = ctx.samples("delete", tracedToo = !ctx.args.trace)
    Seq(Main.Named("search_p50_ms", Stats.median(search), "ms",
        s"${search.size} probes (BM25 and PQ)"),
      Main.Named("delete_s", Stats.median(del) / 1e3, "s",
        s"median of ${del.size}: $victimsPerRound doc and $victimsPerRound " +
          "vector ids, vacuum + compact of every family until reads " +
          "exclude them"))
  }

  override def layers(ctx: Ctx): Map[String, Double] = Map(
    "index.bytes_written_per_user_byte" -> {
      // bytes the traced lane drains wrote per byte of fed documents
      val ingests = ctx.trace.spans.toSeq.filter(s => s.name == "ingest" &&
        s.end >= 0)
      val written = ingests.flatMap(ctx.trace.jobsIn).map(_._2.outputB).sum
      val (files, bytes) = lanes.map(l => Files.stats(s"$root/feed/$l"))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      if (ingests.isEmpty || files == 0) 0.0
      else written.toDouble / (ingests.size * bytes.toDouble / files)
    },
    "index.tombstone_rows" -> (if (tombstoneBacklog.isEmpty) 0.0
      else tombstoneBacklog.sum.toDouble / tombstoneBacklog.size),
    "index.files" -> (Seq("cl_nd_shingles", "cl_nd_buckets", "cl_bm_postings",
      "cl_bm_doclens").map(t => Files.stats(s"${ctx.workDir}/warehouse/$t")._1)
      .sum + Files.stats(s"$root/$pqDir")._1).toDouble,
    "index.live_byte_ratio" ->
      (if (liveBytes > 0) freshBytes.toDouble / liveBytes else Double.NaN),
    "ingest.neardup.accepted_ratio" -> acceptedRatio("neardup"),
    "ingest.bm25.accepted_ratio" -> acceptedRatio("bm25"),
    "ingest.pq.accepted_ratio" -> acceptedRatio("pq"))

  private def acceptedRatio(lane: String): Double =
    accepted.getOrElse(lane, 0.0) / math.max(1L, offered.getOrElse(lane, 0L))

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "corpus_docs" -> corpusDocs, "batch_docs" -> batchDocs,
    "offered" -> offered.toMap, "accepted" -> accepted,
    "batch_ms" -> batchMs(ctx),
    "deleted_doc_ids" -> deleted, "deleted_vec_ids" -> deletedVecs,
    "ingest_ms" -> ctx.allSamples.filter(_.kind == "ingest")
      .groupBy(_.label).map { case (l, xs) => l -> Stats.median(xs.map(_.ms)) })
}
