package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start the measurement session, generate
  * the workload's seeded inputs, run the job cold, then back to back for
  * the measuring window, checking every job's outputs; with trace 1, run
  * the job once more span by span. Every job's outputs stay on disk for
  * `run.py` to digest and check once the JVM has exited.
  *
  * Arguments: --result <file> --launch-ms <epoch ms the JVM was launched>
  * --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>.
  * Writes one JSON result file; `run.py` turns it into the printed result.
  */
object Main {

  /** Timed jobs run even when the window is shorter than this many jobs. */
  val MinTimedJobs = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val res = mutable.LinkedHashMap[String, Any]()
    val spark = graft.Bench.session()
    res("setup_s") = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1e3
    try {
      val w = Workloads.All.find(_.name == opt("workload")).getOrElse(
        throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
      val in = s"${opt("work")}/input"
      generate(spark, w, opt("seed").toLong, in, res)
      measure(spark, w, in, opt, res)
    } finally {
      Files.write(Paths.get(opt("result")), Json(res).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  private final case class Job(dir: String, secs: Double, heapMb: Double, bytes: Long,
                               files: Long, error: Option[String])

  private def tables(ts: Seq[Table]): Seq[mutable.LinkedHashMap[String, Any]] =
    ts.map(t => mutable.LinkedHashMap[String, Any]("name" -> t.name, "glob" -> t.glob, "hive" -> t.hive))

  private def generate(spark: SparkSession, w: Workload, seed: Long, in: String,
                       res: mutable.LinkedHashMap[String, Any]): Unit = {
    val g0 = System.nanoTime()
    res("records") = w.generate(spark, seed, in, spark.sparkContext.defaultParallelism)
    res("gen_s") = (System.nanoTime() - g0) / 1e9
    res("inputs") = tables(w.inputs(in))
  }

  private def measure(spark: SparkSession, w: Workload, in: String, opt: Map[String, String],
                      res: mutable.LinkedHashMap[String, Any]): Unit = {
    val window = opt("seconds").toDouble
    val work = opt("work")
    val inBytes = w.jobInputs(in).map(p => dataFiles(p).map(_.length).sum).sum

    // every job writes under its own dir, kept until the run ends so its
    // outputs can be digested and checked once the timing is over
    def runJob(i: Int, tracer: Option[Tracer] = None): Job = {
      val out = s"$work/job$i"
      spark.conf.set(graft.dedup.Dedup.PairTable.DirConf, s"$out/pairs")
      val t0 = System.nanoTime()
      val error =
        try {
          tracer match {
            case Some(t) => w.traced(spark, in, out, t)
            case None => w.run(spark, in, out)
          }
          None
        } catch { case NonFatal(e) => Some(graft.Bench.fullTrace(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      // live heap with the job's leftovers still held, before release()
      System.gc(); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val files = dataFiles(out)
      Job(out, secs, heapMb, files.map(_.length).sum, files.length, error)
    }
    def release(): Unit = {
      spark.catalog.clearCache()
      graft.ops.Caches.releaseAll()
    }

    val cold = runJob(0)
    release()
    val timed = mutable.ArrayBuffer[Job]()
    val w0 = System.nanoTime()
    while (!spark.sparkContext.isStopped &&
      (timed.length < MinTimedJobs || (System.nanoTime() - w0) / 1e9 < window)) {
      timed += runJob(timed.length + 1)
      release()
    }
    val untimed = cold +: timed.toSeq
    val p50 = median(timed.filter(_.error.isEmpty).map(_.secs).toSeq)
    res("cold_job_s") = cold.secs
    res("job_s") = timed.map(_.secs).toSeq
    res("job_s_p50") = p50
    res("heap_mb") = untimed.map(_.heapMb)
    res("peak_live_heap_mb") = untimed.map(_.heapMb).max
    res("out_bytes_per_in_byte") = median(untimed.map(_.bytes.toDouble)) / inBytes
    // the oracles check the last untimed job's outputs
    val checked = w.outputs(untimed.last.dir).map(t => t.name -> t).toMap
    res("oracles") = w.oracles(in, untimed.last.dir).map(o => mutable.LinkedHashMap[String, Any](
      "name" -> o.name, "sql" -> o.sql, "views" -> o.views.toMap,
      "output" -> checked(o.name).glob, "hive" -> checked(o.name).hive))

    val jobs =
      if (opt("trace") != "1") untimed
      else {
        val t = new Tracer(spark)
        spark.sparkContext.addSparkListener(t)
        w.tracedSide(spark, in, t)
        t.resetStoragePeak()
        val traced = runJob(timed.length + 1, Some(t))
        val layers = mutable.LinkedHashMap[String, Any]()
        t.metrics(Workloads.Spans).foreach { case (k, v) => layers(k) = v }
        layers("cache.storage_peak_mb") = t.storagePeakMb
        layers("sources.bytes_written") = traced.bytes.toDouble
        layers("sources.files_written") = traced.files.toDouble
        layers("trace.overhead_s") = traced.secs - p50
        layers("trace.attributed_share") = w.spans.map(t.spanWall).sum / traced.secs
        CrawlCorpus.Extras.foreach(layers(_) = 0.0)
        if (traced.error.isEmpty)
          w.tracedExtras(spark, in, traced.dir).foreach { case (k, v) => layers(k) = v }
        spark.sparkContext.removeSparkListener(t)
        release()
        res("traced_job_s") = traced.secs
        res("layers") = layers
        untimed :+ traced
      }
    res("jobs") = jobs.map(j => mutable.LinkedHashMap[String, Any](
      "dir" -> j.dir, "secs" -> j.secs, "error" -> j.error.map(_.take(4000)),
      "outputs" -> tables(w.outputs(j.dir))))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Data files under `path`: everything but Spark's markers and checksums. */
  def dataFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    walk(new File(path))
  }

}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.Bench.jstr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${graft.Bench.jstr(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => graft.Bench.jstr(other.toString)
  }
}
