package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.crawl.WatExtract
import graft.jobs.{AdmissionIndexes, CorpusPipeline, Runner}
import graft.queries.{CleaningPack, LlmPack, RelationalPack}
import graft.text.{Search, TextStats}

/** The workloads. Each runs its set-up and a warm-up operation, then
  * the closed loop, calling the program's public functions inside
  * spans named `<module>.<call>`. What each returns beside the loop's
  * own record is extra data for the output checks and the traced
  * run's per-layer extras. */
object Workloads {
  private val DocSchema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
  private val Domain = "gallery.example.org"
  private val Provider = "gallery"
  private val Day0 = java.time.LocalDate.parse("2024-06-01")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def view(canonical: DataFrame): DataFrame =
    Runner.popularityView(canonical, length(col("image_url")).cast("double"), 0.5)

  private def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** A fixed subset of the driver-contract queries, chosen to cover
    * each pack's operator families: a relational aggregate and a
    * join; license cleaning and an upsert; search, LSH similarity
    * pairs and multimodal hashing. */
  private val SweepQueries = Seq(
    "q_q1_pricing", "q_j3_region_rollup",
    "q_license_resolve", "q_j1_merge_upsert",
    "q_bm25_topk", "q_simhash_pairs", "q_phash_pairs")
  private val WarmupQuery = "q_o2_top3"

  /** Runs the query subset once each on the seeded query tables,
    * after a warm-up query, in spans named after each query's pack.
    * Each result is written to `<work>/queries/<name>` as Parquet
    * (as graft.Verify dumps it) for the output check. Returns each
    * query's name, pack and oracle SQL. */
  private def querySweep(loop: Loop): Seq[Map[String, Any]] = {
    import loop.{spark, tracer}
    val tables = s"${loop.input}/tables"
    def run(name: String): Unit = SparkEntry.queries(name)(spark, tables)
      .coalesce(1).write.mode("overwrite").parquet(s"${loop.work}/queries/$name")
    run(WarmupQuery)
    SweepQueries.map { name =>
      val pack = Seq(RelationalPack, CleaningPack, LlmPack).find(_.queries.contains(name)).get
      val packName = pack.getClass.getSimpleName.stripSuffix("$")
      tracer.span(s"queries.$packName")(run(name))
      Map("name" -> name, "pack" -> packName, "oracle" -> pack.oracles.get(name))
    }
  }

  /** Set-up runs the query subset (querySweep). One day = phase A
    * over the day's WAT lines (with the top-domains summary) -> phase
    * B over the day's WARC file -> phase C merge into the canonical
    * table -> popularity view, forced. The first `warmup_days` days
    * are the warm-up; day 0 creates the canonical table. The fields
    * only the traced run's extras read are collected when tracing. */
  def catalogDaily(loop: Loop): Map[String, Any] = {
    import loop.{spark, tracer, work}
    val crawlDir = s"${loop.input}/crawl"
    val days = loop.param("days")
    def day(d: Int): DataFrame = {
      val now = lit(s"${Day0.plusDays(d)} 00:00:00").cast("timestamp")
      val links = tracer.span("crawl.phaseA") {
        val l = Runner.phaseA(spark, spark.read.textFile(f"$crawlDir/day$d%03d.wat"), work,
          crawlIndex = f"CC-MAIN-2024-$d%03d")
        WatExtract.topDomains(l).collect()
        l
      }
      tracer.span("crawl.phaseB") {
        Runner.phaseB(spark, links, Domain, Provider, crawlDir, work)
      }
      val canonical = tracer.span("loadmerge.phaseC") {
        Runner.phaseC(spark, s"$work/tsv/$Provider", s"$work/image", now)
      }
      tracer.span("popularity.view")(noop(view(canonical)))
      canonical
    }
    def observe(d: Int, canonical: DataFrame): Map[String, Any] = {
      val now = s"${Day0.plusDays(d)} 00:00:00"
      Map("canonical_rows" -> canonical.count(),
        "view_scored" -> view(canonical).filter(col("standardized_popularity").isNotNull).count()) ++
      (if (!tracer.enabled) Map.empty else Map(
        "changed_rows" -> canonical.filter(col("updated_on") === lit(now).cast("timestamp")).count(),
        "loaded_rows" -> spark.read.textFile(s"$work/tsv/$Provider").count(),
        "output_bytes" -> (bytesUnder(new File(f"$work/cc_links/crawl_index=CC-MAIN-2024-$d%03d")) +
          bytesUnder(new File(s"$work/tsv")) + bytesUnder(new File(s"$work/image")))))
    }
    val queries = querySweep(loop)
    val warmup = loop.param("warmup_days")
    (0 until warmup).foreach(day)
    var d = warmup
    while (loop.more(d < days)) {
      loop.op(d)(day(d))(c => observe(d, c))
      d += 1
    }
    val last = spark.read.parquet(s"$work/image")
    val rows = last.select(col("foreign_identifier"), col("title"),
        datediff(col("created_on"), lit(Day0.toString)).as("created_day"))
      .collect().map(r => Seq(r.getString(0), r.getString(1), r.getInt(2))).toSeq
    Map("final_day" -> (d - 1), "final_rows" -> rows, "queries" -> queries)
  }

  private val StageSpan = Map("quality" -> "text.quality", "exact_dedupe" -> "dedup.exact_dedupe",
    "near_dup" -> "dedup.near_dup", "decontaminate" -> "dedup.decontaminate")

  /** Set-up curates the raw corpus with CorpusPipeline.run (token-LSH
    * pairs, length quality gate, the decontamination set as
    * benchmark; its stats and cleaned output forced) and bootstraps
    * the admission indexes on the kept documents. One operation =
    * admitBatch (strip windows + postings) with `admitted` forced,
    * then appendDeltas (staged, with a files-per-bucket cap); the
    * corpus then grows by the admitted, stripped rows. One read = one
    * BM25 top-10 probe of the live postings table, between batches.
    * Batch 0 and probe 0 are the warm-up. */
  def admissionLoop(loop: Loop): Map[String, Any] = {
    import loop.{spark, tracer}
    val buckets = loop.param("buckets")
    val prefix = "adm"
    val docs = s"${loop.input}/docs"
    val probes = scala.io.Source.fromFile(s"$docs/probes.txt").getLines()
      .map(_.split(" ").toSeq).toIndexedSeq
    val raw = spark.read.schema(DocSchema).json(s"$docs/raw.jsonl")
    val marks = tracer.marks()
    val res = CorpusPipeline.run(raw, "doc_id", "text",
      spark.read.schema(DocSchema).json(s"$docs/bench.jsonl"), shardBudget = 4096L,
      quality = t => TextStats.tokenCount(t) >= 10,
      onStage = (stage, _) => marks.cut(StageSpan(stage)))
    val stats = CorpusPipeline.stats(res.annotated).collect().head
    noop(res.cleaned)
    marks.cut("text.finalize")
    // kept documents with their source columns: the batch schema, so
    // admitted rows union onto the corpus
    var corpus = raw.join(res.cleaned.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val curated = corpus.count()
    tracer.span("jobs.bootstrap") {
      AdmissionIndexes.bootstrap(corpus, "doc_id", "text", prefix, buckets = buckets)
    }
    def batch(b: Int): Seq[Long] = {
      val batch = spark.read.schema(DocSchema).json(f"$docs/batch$b%03d.jsonl")
      val (adm, ids) = tracer.span("jobs.admitBatch") {
        val adm = CorpusPipeline.admitBatch(corpus,
          AdmissionIndexes.load(spark, s"${prefix}_digests"),
          AdmissionIndexes.loadBandIndex(spark, s"${prefix}_bands", 3, 8, 4),
          batch, "doc_id", "text",
          stripWindows = Some(AdmissionIndexes.load(spark, s"${prefix}_windows")),
          withPostings = true)
        (adm, adm.admitted.select("doc_id").collect().map(_.getLong(0)).toSeq)
      }
      tracer.span("jobs.appendDeltas") {
        AdmissionIndexes.appendDeltas(adm, prefix, buckets = buckets,
          maxFilesPerBucket = Some(loop.param("files_per_bucket_cap")),
          batchId = Some(s"batch$b"))
      }
      corpus = corpus.union(adm.admittedClean.get)
      ids
    }
    def probe(q: Int): Int = tracer.span("text.search") {
      Search.bm25FromPostings(AdmissionIndexes.load(spark, s"${prefix}_postings"),
        AdmissionIndexes.loadCorpusStats(spark, s"${prefix}_stats"),
        "doc_id", probes(q % probes.length), 10).collect().length
    }
    val warmIds = batch(0)
    probe(0)
    val probeRows = scala.collection.mutable.ArrayBuffer.empty[Int]
    var b = 1
    while (loop.more(b < loop.param("batches"))) {
      loop.op(b)(batch(b)) { ids =>
        Map("admitted" -> ids) ++ (if (!tracer.enabled) Map.empty else {
          val frag = AdmissionIndexes.fragmentation(spark, s"${prefix}_postings")
          val indexBytes = Seq("digests", "bands", "windows", "postings")
            .flatMap(t => AdmissionIndexes.fragmentation(spark, s"${prefix}_$t")).map(_.totalBytes).sum
          Map("files_per_bucket_max" -> frag.map(_.maxFilesPerBucket).getOrElse(0L),
            "index_bytes" -> indexBytes)
        })
      }
      probeRows += loop.read(probe(b))
      b += 1
    }
    Map("curation_stats" -> stats.schema.fieldNames.map(f => f -> stats.getAs[Long](f)).toMap,
      "curated_rows" -> curated, "warmup_admitted" -> warmIds, "probe_rows" -> probeRows.toSeq,
      "digest_rows" -> AdmissionIndexes.load(spark, s"${prefix}_digests").count())
  }
}
