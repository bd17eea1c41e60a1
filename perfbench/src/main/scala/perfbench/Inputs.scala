package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * keys), so one seed gives the same tables at any parallelism, and the
  * program under test only ever reads the files written here.
  *
  * The content every seed shares (the star's rows, the base documents)
  * draws from [[BaseSeed]], as the fixtures do from theirs; the run's seed
  * offsets keys, orders rows and picks each copy's perturbation or rewrite.
  * Runs with different seeds then do the same amount of work on
  * differently keyed and laid-out data.
  */
object Inputs {

  /** The seed of the shared content (the fixtures' own generator seed). */
  val BaseSeed = 42L

  /** Key offsets step in multiples of this: the least common multiple of
    * every doc_id modulus the crawl planting helpers use (2-9, 23), so an
    * offset copy plants the same URLs, robots and framings.
    */
  val KeyStride = 57960L

  def keyOffset(seed: Long): Long = (Math.floorMod(seed, 1000L) + 1) * KeyStride

  /** A uniform draw in [0, n) keyed by the seed, a salt and row keys. */
  def draw(n: Int, seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(n.toLong)).cast("int")

  private def pick(values: Seq[String], seed: Long, salt: String, keys: Column*): Column =
    element_at(array(values.map(lit): _*), draw(values.length, seed, salt, keys: _*) + 1)

  /** Writes one file per partition of `df`, rows in a seeded order. The
    * generators below make `files` partitions, so scan parallelism never
    * depends on how a fixture happened to be split.
    */
  def write(df: DataFrame, path: String, seed: Long): Unit =
    df.withColumn("__o", xxhash64(lit(seed) +: df.columns.toIndexedSeq.map(col): _*))
      .sortWithinPartitions("__o").drop("__o")
      .write.mode("overwrite").parquet(path)

  // ---- relational star (the sf tables the three reference pipelines read) ----

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def day(offset: Column): Column =
    date_add(lit("1992-01-01").cast("date"), offset).cast("timestamp_ntz")

  /** The star-schema tables at scale factor `sf` (sf 1 ≈ 6 M lineitem),
    * with the fixture schemas. Keys are offset by the seed.
    */
  def relational(spark: SparkSession, seed: Long, sf: Double, dir: String, files: Int): Unit = {
    val nCust = math.max(1L, (150000 * sf).toLong)
    val nSupp = math.max(1L, (10000 * sf).toLong)
    val nOrders = math.max(1L, (1500000 * sf).toLong)
    val off = keyOffset(seed)
    val b = BaseSeed
    val id = col("id")

    def rows(n: Long, files: Int) = spark.range(0, n, 1, files)
    write(rows(25, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), s"$dir/nation.parquet", seed)

    write(rows(nCust, files).select((id + off).as("c_custkey"),
      format_string("Customer#%09d", id + off).as("c_name"),
      draw(25, b, "c_nation", id).as("c_nationkey"),
      (draw(1100000, b, "c_bal", id) / 100.0 - 999.99).as("c_acctbal"),
      pick(Segments, b, "c_seg", id).as("c_mktsegment")), s"$dir/customer.parquet", seed)

    write(rows(nSupp, files).select((id + off).as("s_suppkey"),
      format_string("Supplier#%09d", id + off).as("s_name"),
      draw(25, b, "s_nation", id).as("s_nationkey"),
      (draw(1100000, b, "s_bal", id) / 100.0 - 999.99).as("s_acctbal")),
      s"$dir/supplier.parquet", seed)

    val orders = rows(nOrders, files).select(id,
      (id + off).as("o_orderkey"),
      (draw(nCust.toInt, b, "o_cust", id).cast("long") + off).as("o_custkey"),
      pick(Seq("O", "F", "P"), b, "o_status", id).as("o_orderstatus"),
      (draw(50000000, b, "o_price", id) / 100.0 + 900.0).as("o_totalprice"),
      draw(3500, b, "o_date", id).as("o_day"),
      pick(Priorities, b, "o_prio", id).as("o_orderpriority"))
    write(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), day(col("o_day")).as("o_orderdate"), col("o_orderpriority")),
      s"$dir/orders.parquet", seed)

    val ln = col("l_linenumber")
    write(orders.select(col("id"), col("o_orderkey"), col("o_day"),
        explode(sequence(lit(1), draw(7, b, "o_lines", col("id")) + 1)).as("l_linenumber"))
      .select(col("o_orderkey").as("l_orderkey"),
        draw(200000, b, "l_part", col("id"), ln).cast("long").as("l_partkey"),
        (draw(nSupp.toInt, b, "l_supp", col("id"), ln).cast("long") + off).as("l_suppkey"),
        ln,
        (draw(50, b, "l_qty", col("id"), ln) + 1).cast("double").as("l_quantity"),
        (draw(10000000, b, "l_ext", col("id"), ln) / 100.0 + 900.0).as("l_extendedprice"),
        (draw(11, b, "l_disc", col("id"), ln) / 100.0).as("l_discount"),
        (draw(9, b, "l_tax", col("id"), ln) / 100.0).as("l_tax"),
        pick(Seq("R", "A", "N"), b, "l_rflag", col("id"), ln).as("l_returnflag"),
        pick(Seq("O", "F"), b, "l_lstatus", col("id"), ln).as("l_linestatus"),
        day(col("o_day") + draw(120, b, "l_ship", col("id"), ln) + 1).as("l_shipdate")),
      s"$dir/lineitem.parquet", seed)
  }

  // ---- replicated document corpus and its crawl blobs ----

  /** The fixture corpus vocabulary: engine-domain word soup. */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Words every copy keeps verbatim: they carry the language and
    * stopword signals the hygiene and quality gates read, so a rewrite
    * must not move them.
    */
  val Kept: Set[String] = Set("the", "a")

  private def shift(w: String, s: Int): String =
    if (Kept(w)) w else w.map(ch => ('a' + (ch - 'a' + s) % 26).toChar)

  /** Letter shifts under which no rewritten word becomes a vocabulary
    * word, a stopword or a language marker: shifted copies then share
    * no token with any other copy.
    */
  def usableShifts: Seq[Int] = {
    val reserved = Vocab.toSet ++ graft.text.TextOps.Stopwords ++
      graft.text.Analysis.LangMarkers.flatMap(_._2)
    (1 until 26).filter(s => Vocab.filterNot(Kept).forall(w => !reserved(shift(w, s))))
  }

  /** `base` seeded word-soup documents, each copied `copies` times.
    * `perturb`: each copy puts its own word last and replaces about 1 token
    * in `perturbEvery` more, so copies are near-duplicates (a last-word
    * change costs one word 3-gram, an inner one three) but never
    * byte-identical. Otherwise each copy gets its own length-preserving
    * letter shift, so copies share no shingles.
    */
  def corpus(spark: SparkSession, seed: Long, base: Int, copies: Int, files: Int,
             minTokens: Int, maxTokens: Int, perturb: Boolean, perturbEvery: Int): DataFrame = {
    val v = Vocab.length
    val b = col("base")
    val docs = spark.range(0, base.toLong * copies, 1, files)
      .select(col("id"), (col("id") % base).as("base"), (col("id") / base).cast("int").as("copy"))
      .select(col("id"), b, col("copy"),
        transform(sequence(lit(0), draw(maxTokens - minTokens + 1, BaseSeed, "len", b) + (minTokens - 1)),
          j => draw(v, BaseSeed, "tok", b, j)).as("toks"))
    val vocab = array(Vocab.map(lit): _*)
    val text =
      if (perturb) {
        val c = col("copy")
        val last = size(col("toks")) - 1
        val toks = transform(col("toks"), (t, j) =>
          when(j === last, pmod(t + 1 + c, lit(v)))
            .when(draw(perturbEvery, seed, "perturb", b, c, j) === 0,
              pmod(t + 1 + draw(v - 1, seed, "swap", b, c, j), lit(v)))
            .otherwise(t))
        array_join(transform(toks, t => element_at(vocab, t + 1)), " ")
      } else {
        val shifts = new scala.util.Random(seed).shuffle(usableShifts).take(copies - 1)
        require(shifts.length == copies - 1, s"only ${usableShifts.length} usable shifts")
        val tables = array(((0 +: shifts).map(s => array(Vocab.map(w => lit(shift(w, s))): _*))): _*)
        array_join(transform(col("toks"), t =>
          element_at(element_at(tables, col("copy") + 1), t + 1)), " ")
      }
    docs.select((col("id") + keyOffset(seed)).as("doc_id"), text.as("text"))
  }

  /** Column ↔ expression, for the program's expression-only operators. */
  private[perfbench] def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private[perfbench] def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  /** The decomposed combining-mark tail `CrawlPipeline.crawl` plants
    * after each page (x + U+0308), so NFC is observable.
    */
  val UnicodeTail = " x\u0308end"

  /** (doc_id, blob `.warc.gz`, robots): the same planting helpers
    * `CrawlPipeline.crawl` composes, applied to a documents frame.
    */
  def blobs(docs: DataFrame): DataFrame = {
    import graft.pipelines.CrawlPipeline
    import graft.text.{Html, Robots}
    val body = concat(Html.plantHtml, lit(UnicodeTail))
    docs.select(col("doc_id"),
      shim(graft.plans.GzipBytes(ex(graft.sources.Warc.plantHttpWarc(body, CrawlPipeline.plantUri))))
        .as("blob"),
      Robots.plantRobots.as("robots"))
  }
}
