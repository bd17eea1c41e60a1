package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup.{MinHashLSH, PairTable}
import graft.ops.{CorpusOps, SrData}
import graft.pipelines.{CrawlPipeline, DistinctUpsert, Preprocess, SqlToParquet}
import graft.text.{Keyword, Normalize, TextOps}

/** A parquet table on disk: its files match `glob`; `hive` when partition
  * columns live in the directory names.
  */
final case class Table(name: String, glob: String, hive: Boolean = false)

/** A DuckDB re-computation of the job output `name`: `sql` over `views`
  * (view name → parquet glob) must equal what the job wrote.
  */
final case class Oracle(name: String, sql: String, views: Seq[(String, String)])

/** One end-to-end job and everything the harness needs around it. */
trait Workload {
  def name: String

  /** The traced job's spans, in order. */
  def spans: Seq[String]

  /** Spans measured beside the job, not part of its wall time. */
  def sideSpans: Seq[String] = Nil

  /** Writes the seeded inputs under `in`; returns the input record count. */
  def generate(spark: SparkSession, seed: Long, in: String, files: Int): Long

  /** Every generated table, for the input digest. */
  def inputs(in: String): Seq[Table]

  /** The tables the job itself reads. */
  def jobInputs(in: String): Seq[String]

  /** The job, untraced: reads `in`, writes everything under `out`. */
  def run(spark: SparkSession, in: String, out: String): Unit

  def tracedSide(spark: SparkSession, in: String, t: Tracer): Unit = ()

  /** The same job with each layer's output persisted at its boundary. */
  def traced(spark: SparkSession, in: String, out: String, t: Tracer): Unit

  /** Layer metrics read from the traced job's outputs, untimed. */
  def tracedExtras(spark: SparkSession, in: String, out: String): Seq[(String, Double)] = Nil

  /** The job's written outputs, digested after every job. */
  def outputs(out: String): Seq[Table]

  def oracles(in: String, out: String): Seq[Oracle]
}

object Workloads {
  val All: Seq[Workload] = Seq(EtlRef,
    new CrawlCorpus("crawl_corpus_hidup", perturb = true),
    new CrawlCorpus("crawl_corpus_lowdup", perturb = false))

  /** Every span any workload records, in report order. */
  val Spans: Seq[String] = All.flatMap(w => w.sideSpans ++ w.spans).distinct

  /** Fully evaluates every row and column (a hash of each row, folded);
    * returns the row count.
    */
  private[perfbench] def evaluate(df: DataFrame): Long =
    df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      .collect()(0).getLong(0)

  private[perfbench] def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }
}

/** The reference's three pipelines, writes included, over the star schema. */
object EtlRef extends Workload {
  val name = "etl_ref"

  /** Scale factor of the generated star: about 6 M × `Sf` lineitem rows. */
  val Sf = 0.01

  val Tables = Seq("nation", "customer", "supplier", "orders", "lineitem")
  val spans = Seq("ops.flagship", "pipelines.sql_to_parquet", "text.preprocess",
    "sources.sink_months", "pipelines.upsert")

  def generate(spark: SparkSession, seed: Long, in: String, files: Int): Long = {
    Inputs.relational(spark, seed, Sf, in, files)
    spark.read.parquet(s"$in/lineitem.parquet").count()
  }

  def inputs(in: String): Seq[Table] = Tables.map(t => Table(t, s"$in/$t.parquet/*.parquet"))
  def jobInputs(in: String): Seq[String] = Tables.map(t => s"$in/$t.parquet")

  private def sqlOut(out: String) = s"$out/sql"

  def run(spark: SparkSession, in: String, out: String): Unit = {
    SqlToParquet.run(spark, in, sqlOut(out))
    Preprocess.writeMonthPartitioned(Preprocess.preprocessAllMonths(spark, in), s"$out/months")
    DistinctUpsert.distinctUpsert(spark, in).write.mode("overwrite").parquet(s"$out/upsert")
  }

  def traced(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    t.span("ops.flagship")(Workloads.persisted(SrData.flagship(spark, in)))(r => Some(r._2))
    t.span("pipelines.sql_to_parquet")(SqlToParquet.run(spark, in, sqlOut(out)))(n => Some(n))
    val (pre, _) = t.span("text.preprocess")(
      Workloads.persisted(Preprocess.preprocessAllMonths(spark, in)))(r => Some(r._2))
    t.span("sources.sink_months")(Preprocess.writeMonthPartitioned(pre, s"$out/months"))(_ => None)
    t.span("pipelines.upsert")(
      DistinctUpsert.distinctUpsert(spark, in).write.mode("overwrite").parquet(s"$out/upsert"))(_ => None)
  }

  def outputs(out: String): Seq[Table] = Seq(
    Table("sr_data", s"${sqlOut(out)}/${SqlToParquet.IndexName}/*.parquet"),
    Table("months", s"$out/months/*/*.parquet", hive = true),
    Table("upsert", s"$out/upsert/*.parquet"))

  def oracles(in: String, out: String): Seq[Oracle] = {
    val views = inputs(in).map(t => t.name -> t.glob)
    def kw(c: String) = s"""${Keyword.keywordNormalizeSql("\"" + c + "\"")} AS "$c""""
    val norm = Normalize.normalizeSql("trim(concat_ws(' ', \"Summary\", \"Description\"))")
    Seq(
      Oracle("sr_data",
        s"""SELECT * REPLACE (${kw("Assignee")}, ${kw("Client_Mnemonic")})
           |FROM (${SrData.flagshipOracle})""".stripMargin, views),
      Oracle("months",
        s"""WITH f AS (${SrData.flagshipOracle}),
           |base AS (
           |  SELECT "Incident_Number", month_year, nullif($norm, '') AS norm
           |  FROM f WHERE NOT is_federal)
           |SELECT "Incident_Number", month_year,
           |  array_to_string(${TextOps.preprocessSql("norm")}, ' ') AS doc
           |FROM base WHERE norm IS NOT NULL""".stripMargin, views),
      Oracle("upsert", DistinctUpsert.distinctUpsertOracle, views))
  }
}

/** Crawl blobs → ingest → documents.parquet → corpus preparation, over a
  * replicated corpus whose copies are near-duplicates (`perturb`) or share
  * no shingles.
  */
final class CrawlCorpus(val name: String, perturb: Boolean) extends Workload {

  /** Distinct base documents, each copied `Copies` times. */
  val Base = 40
  val Copies = 10
  /** Token-count range of a base document: most pass the hygiene gates
    * (at least 16 tokens, not repetitious), so the corpus feeds dedup.
    */
  val MinTokens = 16
  val MaxTokens = 80
  /** Besides its last word, a perturbed copy changes about one word in
    * this many. Two copies stay above the 0.8 word-3-gram Jaccard of
    * near-dup detection only while few inner words change.
    */
  val PerturbEvery = 100

  val spans = Seq("pipelines.ingest", "dedup.pairs", "dedup.components", "ops.corpus_report")
  override val sideSpans = Seq("plans.decode")

  def generate(spark: SparkSession, seed: Long, in: String, files: Int): Long = {
    Inputs.write(Inputs.corpus(spark, seed, Base, Copies, files, MinTokens, MaxTokens, perturb,
      PerturbEvery), s"$in/documents.parquet", seed)
    Inputs.write(Inputs.blobs(spark.read.parquet(s"$in/documents.parquet")), s"$in/blobs.parquet", seed)
    spark.read.parquet(s"$in/blobs.parquet").count()
  }

  def inputs(in: String): Seq[Table] = Seq(
    Table("documents", s"$in/documents.parquet/*.parquet"),
    Table("blobs", s"$in/blobs.parquet/*.parquet"))
  def jobInputs(in: String): Seq[String] = Seq(s"$in/blobs.parquet")

  private def corpus(out: String) = s"$out/corpus"

  private def ingest(spark: SparkSession, in: String, out: String): Unit =
    CrawlPipeline.ingestStream(spark.read.parquet(s"$in/blobs.parquet"))
      .write.mode("overwrite").parquet(s"${corpus(out)}/documents.parquet")

  private def report(spark: SparkSession, out: String): Unit =
    graft.Graft.prepareCorpus(spark, corpus(out)).write.mode("overwrite").parquet(s"$out/report")

  def run(spark: SparkSession, in: String, out: String): Unit = {
    ingest(spark, in, out)
    report(spark, out)
  }

  /** The decode expressions alone, as the ingest chain composes them:
    * sniff → gunzip → WARC walk → HTTP split, fully evaluated.
    */
  override def tracedSide(spark: SparkSession, in: String, t: Tracer): Unit = {
    import graft.plans.{GunzipText, HttpMessage, MagicFormat, WarcRecords}
    import Inputs.{ex, shim}
    val blob = col("blob")
    val decoded = spark.read.parquet(s"$in/blobs.parquet")
      .select(col("doc_id"), shim(WarcRecords(ex(shim(GunzipText(ex(
        when(shim(MagicFormat(ex(blob))) === "gzip", blob))))))).as("recs"))
      .select(col("doc_id"), explode_outer(col("recs")).as("r"))
      .filter(col("r").getField("rec_type") === "response")
      .select(col("doc_id"), shim(HttpMessage(ex(col("r").getField("payload")))).as("h"))
      .select(col("doc_id"), col("h").getField("status").as("status"),
        col("h").getField("body").as("body"))
    t.span("plans.decode")(Workloads.evaluate(decoded))(n => Some(n))
  }

  def traced(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    t.span("pipelines.ingest")(ingest(spark, in, out))(_ => None)
    t.span("dedup.pairs")(PairTable.wordPairs(spark, corpus(out)).count())(n => Some(n))
    t.span("dedup.components")(PairTable.wordClusters(spark, corpus(out)).count())(n => Some(n))
    t.span("ops.corpus_report")(report(spark, out))(_ => None)
  }

  /** Candidate emissions of the LSH band join, kept pairs, clusters and
    * the drop/keep ratios, read from the traced job's tables.
    */
  override def tracedExtras(spark: SparkSession, in: String, out: String): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"${corpus(out)}/documents.parquet")
    val nDocs = docs.count().toDouble
    val nBlobs = spark.read.parquet(s"$in/blobs.parquet").count().toDouble
    // the representatives the pair join bands: one per distinct shingle set
    val hashed = docs.select(col("doc_id"), MinHashLSH.shingleHashes(col("text")).as("hv"))
      .filter(size(col("hv")) > 0)
    val reps = hashed.groupBy(col("hv")).agg(min(col("doc_id")).as("doc_id"))
    val emissions = MinHashLSH.banded(reps).groupBy(col("band"), col("band_hash")).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0))).collect()(0).getDouble(0)
    val kept = PairTable.wordPairs(spark, corpus(out)).count().toDouble
    val cc = PairTable.wordClusters(spark, corpus(out))
    val clusters = cc.select(col("cluster_id")).distinct().count().toDouble
    val dropped = cc.filter(col("doc_id") =!= col("cluster_id")).count().toDouble
    CrawlCorpus.Extras.zip(Seq(emissions, kept,
      if (emissions > 0) kept / emissions else 0.0,
      clusters,
      if (nDocs > 0) dropped / nDocs else 0.0,
      if (nBlobs > 0) nDocs / nBlobs else 0.0))
  }

  def outputs(out: String): Seq[Table] = Seq(
    Table("documents", s"${corpus(out)}/documents.parquet/*.parquet"),
    Table("report", s"$out/report/*.parquet"))

  def oracles(in: String, out: String): Seq[Oracle] = Seq(
    // the registry's crawl oracle, restricted to the rows ingest keeps:
    // robots-allowed pages that passed hygiene stages 1-5
    Oracle("documents",
      s"""SELECT doc_id, status, canon, clean_text AS text
         |FROM (${CrawlPipeline.crawlOracle})
         |WHERE allowed = 1 AND stage >= 6""".stripMargin,
      Seq("documents" -> s"$in/documents.parquet/*.parquet")),
    Oracle("report", CorpusOps.pipelineOracle,
      Seq("documents" -> s"${corpus(out)}/documents.parquet/*.parquet")))
}

object CrawlCorpus {
  /** The layer metrics [[CrawlCorpus.tracedExtras]] reports, in order. */
  val Extras: Seq[String] = Seq("dedup.pairs.band_rows", "dedup.pairs.kept_pairs",
    "dedup.pairs.kept_per_band_row", "dedup.components.clusters", "dedup.docs_dropped_ratio",
    "pipelines.ingest.kept_ratio")
}
