package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.llm.{Classify, Contamination, Dedup, LangModel, Mixture, TextAnalysis}
import graft.pipeline.ForecastPipeline
import graft.sources.GribSource
import graft.transforms.{CellKey, Geometry, Summary, ThresholdPercentages}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of one workload. Its job is the operation `job_s` times:
  * `flood_day` runs the daily job on an `ni` × `nj` grid, `curate_corpus`
  * the curation verdict over `docs` documents. A traced run of either runs
  * a day and a verdict, so it uses both sizes. */
final case class Workload(name: String, ni: Int, nj: Int, docs: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("flood_day", ni = 24, nj = 16, docs = 200),
    Workload("curate_corpus", ni = 10, nj = 8, docs = 1200))

  /** Self-check sizes: every phase and check, about a minute a run. */
  def tiny(w: Workload): Workload = w.copy(ni = 8, nj = 6, docs = 300)

  /** Corpus size of curate_corpus's untimed warm-up verdict, the one
    * flood_day's traced run curates: on a 4-vCPU VM the first verdict in a
    * JVM took 17 s over 1,200 documents and 13 s over 200, the next 4 s. */
  val warmDocs = 200
}

/** Benchmark entry point; see perfbench/README.md for the protocol. */
object Main {
  /** Timed rounds per run, at least; see [[Run.untraced]]. */
  val Rounds = 2
  /** Set-ups per round; `setup_s` is their median. */
  val SetupPerRound = 2
  val RequestsPerRound = 20
  /** Input sets: `--seed n` generates set `n mod InputSets`, the sets whose
    * output digests `digests.tsv` records. */
  val InputSets = 64

  final case class Opts(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: Path, record: Option[Range])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.all.find(_.name == need("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${need("workload")}"))
    Opts(if (m.get("size").contains("tiny")) Workload.tiny(w) else w,
      java.lang.Math.floorMod(need("seed").toLong, InputSets.toLong),
      need("seconds").toDouble, need("trace") == "1", Paths.get(need("work")),
      m.get("record").map { r => val Array(a, b) = r.split("\\.\\."); a.toInt to b.toInt })
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the default 100-entry cache of generated classes is smaller than one
      // curation verdict's set of queries, so each repetition would compile
      // and JIT its operators afresh; a long-lived process keeps them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def uptime(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(cpus, o.work)
    System.err.println(f"session ready at JVM uptime ${uptime()}%.1f s")
    val code =
      try new Run(spark, o, cpus).execute()
      finally spark.stop()
    System.err.println(f"stopped at JVM uptime ${uptime()}%.1f s")
    sys.exit(code)
  }
}

/** Generated inputs: the GRIB day and the corpus with their files, each
  * written when a phase first asks for it. */
final class Inputs(writeDay: () => GribDay, writeCorpus: () => (Corpus, String, String)) {
  lazy val day: GribDay = writeDay()
  lazy val (corpus, corpusPath, evalPath) = writeCorpus()
}

final class Run(spark: SparkSession, o: Main.Opts, cpus: Int) {
  import Main._

  private val w = o.workload
  private val checks = new Checks
  private val expected = new Expected(Paths.get("perfbench", "digests.tsv"))
  private var attempted = 0
  private var failed = 0
  private val off = new Trace(spark, enabled = false, run = "untraced")

  /** Generates the seeded inputs at the sizes of `w` and writes them, each
    * table as one file. */
  def generate(seed: Long, w: Workload = w): Inputs = {
    import spark.implicits._
    val dir = o.work.resolve(s"input-$seed-${w.ni}x${w.nj}-${w.docs}")
    new Inputs(() => {
      val day = GribGen.write(dir.resolve("grib"), w.ni, w.nj, seed)
      GribGen.thresholdRows(day, seed)
        .toDF("latitude", "longitude", "threshold_2y", "threshold_5y", "threshold_20y")
        .coalesce(1).write.parquet(day.thresholdsPath)
      day
    }, () => {
      val corpus = CorpusGen.generate(w.docs, seed)
      val corpusPath = dir.resolve("corpus.parquet").toString
      val evalPath = dir.resolve("eval.parquet").toString
      corpus.rows.toDF("doc_id", "text", "lang", "url").coalesce(1).write.parquet(corpusPath)
      corpus.eval.toDF("doc_id", "text").coalesce(1).write.parquet(evalPath)
      (corpus, corpusPath, evalPath)
    })
  }

  /** The serving set-up: loads the tables a day wrote into the serving
    * layout through the same sinks, from rows held in memory. */
  final class ServeSetup(day: DayPhase) {
    private def held(path: String) = spark.read.parquet(path).localCheckpoint()
    private val (detailed, summary) = (held(day.detailedPath), held(day.summaryPath))
    /** The tables' digest, as the day's own check computed it. */
    private val want = day.written
    private var loads = 0
    /** The last load's (detailed, summary) table paths. */
    var tables: (String, String) = ("", "")

    /** One load, into a fresh directory; its tables must hold exactly the
      * day's rows. */
    def op(): Op = {
      loads += 1
      val out = day.out.resolve(s"serving-$loads")
      tables = (out.resolve("detailed").toString, out.resolve("summary").toString)
      val (_, secs) = Sink.timed(DayPhase.writeTables(detailed, summary, tables._1, tables._2, off))
      val got = day.digest(tables._1, tables._2)
      Op(secs, checks.check("setup.serving_tables", got == want, s"serving tables $got, day wrote $want"))
    }
  }

  def dayPhase(in: Inputs, seed: Long) =
    new DayPhase(spark, in.day, in.day.dir.getParent.resolve("out"), cpus, checks, expected, seed)

  def curatePhase(in: Inputs, seed: Long) =
    new CuratePhase(spark, in.corpusPath, in.evalPath, in.corpus, checks, expected, seed)

  /** Runs `op`, counting it; a throw or failed check is a failed operation
    * and its time is dropped. */
  def attempt(op: => Op): Option[Double] = {
    attempted += 1
    val r = try op catch { case e: Throwable => Op(Double.NaN, Some(s"exception: $e")) }
    System.err.println(f"op $attempted: ${r.seconds}%.3f s, done at JVM uptime ${uptime()}%.1f s")
    r.failure match {
      case Some(f) => failed += 1; System.err.println(s"FAILED: $f"); None
      case None => Some(r.seconds)
    }
  }

  def execute(): Int = {
    o.record match {
      case Some(seeds) => return record(seeds)
      case None =>
    }
    val result = if (o.trace) traced() else untraced()
    val ok = failed == 0 && checks.failures.isEmpty && result.values.forall(v => !v._1.isNaN)
    val metrics = result.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$unit"}"""
    }
    System.err.println(s"checks run: ${checks.names.mkString(", ")}")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    if (ok) 0 else 1
  }

  // ---- untraced: the end-to-end metrics ----

  private def untraced(): Map[String, (Double, String)] = {
    val in = generate(o.seed)
    def mark[A](what: String)(body: => A): A = {
      System.err.println(f"$what at JVM uptime ${uptime()}%.1f s"); body
    }
    // Warm-up, untimed: one job with its plan-shape check (a day, which
    // also writes the tables serving set-up loads; or a small verdict), the
    // first set-up, then one round as the timed ones. On a 4-vCPU VM the
    // first job in a JVM took three times as long as the next, and the
    // round after it still ran 10-35 % slower than the ones that followed.
    val (job, setup, request) = mark("warm-up") {
      if (w.name == "flood_day") {
        val day = dayPhase(in, o.seed)
        attempt(sinkShape(day))
        val st = new ServeSetup(day)
        attempt(st.op())
        val serve = new ServePhase(spark, in.day, st.tables._1, st.tables._2, checks, o.seed)
        (() => day.op(off), () => st.op(), () => serve.op(serve.next(), off))
      } else {
        attempt(verdictShape(curatePhase(generate(o.seed, w.copy(docs = Workload.warmDocs)), o.seed)))
        val cur = curatePhase(in, o.seed)
        val ingest = new IngestPhase(spark, cur, o.work.resolve("out"), in.corpus, checks, o.seed)
        attempt(ingest.load())
        (() => cur.op(off), () => ingest.load(), () => ingest.op())
      }
    }
    val (jobTimes, setups, serveTimes) =
      (ArrayBuffer.empty[Double], ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])
    def round(keep: Boolean): Unit = {
      def timed(op: => Op, into: ArrayBuffer[Double]) = attempt(op).foreach(t => if (keep) into += t)
      timed(job(), jobTimes)
      (1 to SetupPerRound).foreach(_ => timed(setup(), setups))
      (1 to RequestsPerRound).foreach(_ => timed(request(), serveTimes))
    }
    mark("warm-up round")(round(keep = false))
    // Timed rounds of one job, set-ups and requests,
    // while the next round fits in `--seconds` and at least `Rounds`. Every
    // metric's samples spread over the whole measured part of the run, so
    // that the host slowing down for some seconds, which moves every
    // phase, moves no metric alone.
    val t0 = System.nanoTime()
    var rounds = 0
    def fits = (System.nanoTime() - t0) * (rounds + 1.0) / rounds <= o.seconds * 1e9
    mark("timed") {
      while (rounds < Rounds || fits) {
        round(keep = true)
        rounds += 1
      }
    }
    def show(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    mark("measured")(())
    System.err.println(s"input set ${o.seed}; $rounds rounds; job ${show(jobTimes.toSeq)}; " +
      s"setup ${show(setups.toSeq)}; serve median ${f"${median(serveTimes.toSeq)}%.3f"} of ${serveTimes.size}")
    Map(
      "setup_s" -> (median(setups.toSeq), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"),
      "job_s" -> (median(jobTimes.toSeq), "s"),
      "serve_p50_ms" -> (pct(serveTimes.toSeq, 0.50) * 1e3, "ms"),
      "serve_p95_ms" -> (pct(serveTimes.toSeq, 0.95) * 1e3, "ms"))
  }

  /** One day whose sink plans must hand every output column to Parquet. */
  private def sinkShape(day: DayPhase): Op = {
    val (op, qes) = Plans.capture(spark)(day.op(off))
    val written = qes.flatMap(Plans.sinkColumns)
    checks.check("plan.day_sinks_keep_columns", day.columns.forall(written.contains),
      s"sinks wrote ${written.mkString("; ")}, expected ${day.columns.mkString("; ")}")
      .map(f => Op(Double.NaN, Some(f))).getOrElse(op)
  }

  /** One verdict whose noop sink plan must consume every verdict column. */
  private def verdictShape(cur: CuratePhase): Op = {
    val (op, qes) = Plans.capture(spark)(cur.op(off))
    val written = qes.flatMap(Plans.sinkColumns)
    checks.check("plan.verdict_sink_keeps_columns", written.contains(cur.columns),
      s"noop sink got ${written.mkString("; ")}, expected ${cur.columns.mkString(",")}")
      .map(f => Op(Double.NaN, Some(f))).getOrElse(op)
  }

  // ---- traced: the per-layer metrics ----

  private def traced(): Map[String, (Double, String)] = {
    val in = generate(o.seed)
    val day = dayPhase(in, o.seed)
    val trace = new Trace(spark, enabled = true, run = s"${w.name}-${o.seed}")
    trace.detach()
    val cur = curatePhase(in, o.seed)
    val flood = w.name == "flood_day"
    attempt(day.op(off)) // warms the day, and writes the tables serving loads
    val setup = new ServeSetup(day)
    attempt(setup.op())
    val serve = new ServePhase(spark, in.day, setup.tables._1, setup.tables._2, checks, o.seed)
    def centreOp(t: Trace): Op = if (flood) day.op(t) else cur.op(t)
    // tracing overhead: the job untraced and traced, after one warm-up as
    // in the untraced run, in pairs whose order alternates, so that the
    // JVM's remaining warm-up favours neither side
    if (!flood) attempt(centreOp(off))
    val plain = ArrayBuffer.empty[Double]
    val withTrace = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    var pairs = 0
    while (pairs < 2 || System.nanoTime() < end) {
      for (on <- if (pairs % 2 == 0) Seq(false, true) else Seq(true, false)) {
        if (on) {
          trace.attach()
          attempt(centreOp(trace)).foreach(withTrace += _)
          trace.detach()
        } else attempt(centreOp(off)).foreach(plain += _)
      }
      pairs += 1
    }
    val overhead = (median(withTrace.toSeq) - median(plain.toSeq)) / median(plain.toSeq) * 100
    trace.attach()
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    m ++= dayLayers(day, in, trace)
    m ++= serveLayers(serve, trace)
    m ++= curateLayers(cur, trace)
    m("trace.overhead_pct") = (overhead, "%")
    for (s <- SpanSuffixes; (k, v) <- spanCounters(trace, s)) m(k) = v
    trace.write(o.work.getParent.resolve(s"spans-${w.name}-${o.seed}.jsonl"))
    m.toMap
  }

  /** Spans whose Spark counters are reported. */
  val SpanSuffixes: Seq[String] = Seq(
    "pipeline.day", "sources.grib_decode", "transforms.threshold_pct", "transforms.summary",
    "transforms.geometry", "transforms.lookup", "pipeline.sink_detailed", "pipeline.sink_summary",
    "llm.curate_construct", "llm.curate", "llm.score", "llm.minhash_pairs", "llm.cluster",
    "llm.contamination", "llm.domain_cap")

  /** Per-span counters, from the last span of that name (a median per
    * request for lookups). */
  private def spanCounters(t: Trace, name: String): Seq[(String, (Double, String))] = {
    val ss = t.named(name).map(t.inclusive)
    def agg(f: SpanStats => Double): Double =
      if (name == "transforms.lookup") median(ss.map(f)) else ss.lastOption.map(f).getOrElse(Double.NaN)
    Seq(
      s"$name.jobs" -> (agg(_.jobs.toDouble), "count"),
      s"$name.tasks" -> (agg(_.tasks.toDouble), "count"),
      s"$name.shuffle_write_bytes" -> (agg(_.shuffleWriteBytes.toDouble), "bytes"),
      s"$name.spill_bytes" -> (agg(_.spillBytes.toDouble), "bytes"),
      s"$name.task_busy_s" -> (agg(_.taskBusyNs / 1e9), "s"))
  }

  private def last(t: Trace, name: String): Span = t.named(name).last

  private def dayLayers(day: DayPhase, in: Inputs, t: Trace): Seq[(String, (Double, String))] = {
    val cfg = day.cfg
    // the whole day once more, traced, with its sink plans captured
    val (_, qes) = Plans.capture(spark)(attempt(day.op(t)))
    val construct = last(t, "pipeline.run_construct")
    val forecast = t.span("sources.grib_index")(
      ForecastPipeline.readGrib(spark, in.day.glob, cfg, numPartitions = cpus))
    val raw = spark.read.format(classOf[GribSource].getName)
      .option("path", in.day.glob).option("numPartitions", cpus.toString).load()
    val rawObs = Observation("raw")
    t.span("sources.grib_decode")(Sink.noop(raw.observe(rawObs, count(lit(1)).as("n"))))
    val values = rawObs.get("n").asInstanceOf[Long]
    val decodeS = last(t, "sources.grib_decode").seconds
    // each transform alone, on materialized inputs
    val f = forecast.drop("step_hours").cache()
    Sink.noop(f)
    val thr = ForecastPipeline.readThresholds(spark, in.day.thresholdsPath, cfg).cache()
    Sink.noop(thr)
    def tpct = ThresholdPercentages(f, broadcast(thr), cfg.thresholdYears, ThresholdPercentages.ExactOnePass)
    t.span("transforms.threshold_pct")(Sink.noop(tpct))
    val det = tpct.cache()
    Sink.noop(det)
    val computed = det.count()
    val control = det.filter(col("step") === 1)
      .select(col("latitude"), col("longitude"), col("median_dis").as("control_dis"))
    val dwc = CellKey.join(det, broadcast(control), "left").cache()
    Sink.noop(dwc)
    t.span("transforms.summary")(Sink.noop(Summary.onePass(dwc)))
    t.span("transforms.geometry")(Sink.noop(Geometry.addWkt(det, cfg.halfGridSize, cfg.precision)))
    Seq(f, thr, det, dwc).foreach(_.unpersist())
    val published = spark.read.parquet(day.detailedPath).count()
    val files = Footers.of(day.detailedPath) ++ Footers.of(day.summaryPath)
    val firstJob = construct.stats.firstJobMs
    Seq(
      "sources.grib_index_s" -> (last(t, "sources.grib_index").seconds, "s"),
      "sources.grib_decode_s" -> (decodeS, "s"),
      "sources.grib_decode_mb_per_s" -> (in.day.bytes / 1e6 / decodeS, "MB/s"),
      "sources.values_decoded" -> (values.toDouble, "count"),
      "transforms.threshold_pct_s" -> (last(t, "transforms.threshold_pct").seconds, "s"),
      "transforms.summary_s" -> (last(t, "transforms.summary").seconds, "s"),
      "transforms.geometry_s" -> (last(t, "transforms.geometry").seconds, "s"),
      "pipeline.run_construct_s" -> (
        (if (firstJob < 0) construct.endMs else firstJob) / 1e3 - construct.startMs / 1e3, "s"),
      "pipeline.sink_detailed_s" -> (last(t, "pipeline.sink_detailed").seconds, "s"),
      "pipeline.sink_summary_s" -> (last(t, "pipeline.sink_summary").seconds, "s"),
      "pipeline.bytes_written" -> (files.map(_.bytes).sum.toDouble, "bytes"),
      "pipeline.row_groups_written" -> (files.map(_.groups.size).sum.toDouble, "count"),
      "pipeline.detailed_kept_ratio" -> (published.toDouble / computed, "ratio"),
      "plans.day_exchanges" -> (qes.map(Plans.exchanges).sum.toDouble, "count"))
  }

  private def serveLayers(serve: ServePhase, t: Trace): Seq[(String, (Double, String))] = {
    val det = Footers.of(serve.detailedPath)
    val sum = Footers.of(serve.summaryPath)
    val reqs = (1 to 20).map(_ => serve.next())
    val stats = reqs.map { r =>
      val (op, qes) = Plans.capture(spark)(serve.op(r, t))
      val span = last(t, "transforms.lookup")
      val groups = (if (r.kind == "point_summary") sum else det).flatMap(_.groups)
      val (la0, la1, lo0, lo1) = serve.window(r)
      val read = groups.count(g => g.overlaps(la0, la1, lo0, lo1))
      val scanned = qes.map(Plans.scannedRows).sum
      val first = if (span.stats.firstJobMs < 0) span.endMs else span.stats.firstJobMs
      (first - span.startMs.toDouble, span.endMs - first.toDouble, read.toDouble,
        scanned.toDouble / math.max(1L, r.expected))
    }
    Seq(
      "transforms.lookup_plan_ms" -> (median(stats.map(_._1)), "ms"),
      "transforms.lookup_exec_ms" -> (median(stats.map(_._2)), "ms"),
      "pipeline.row_groups_read_per_query" -> (stats.map(_._3).sum / stats.size, "count"),
      "pipeline.rows_scanned_per_row_returned" -> (stats.map(_._4).sum / stats.size, "ratio"))
  }

  private def curateLayers(cur: CuratePhase, t: Trace): Seq[(String, (Double, String))] = {
    attempt(cur.op(t))
    val collectBytes = (last(t, "llm.curate_construct").stats.resultBytes +
      last(t, "llm.curate").stats.resultBytes).toDouble
    val d = cur.docs.select(col("doc_id"), col("text"), col("lang").as("__label"),
      col("url").as("__url")).cache()
    Sink.noop(d)
    t.span("llm.score")(Sink.noop(LangModel.lmScore(
      TextAnalysis.qualityScore(
        Classify.nbClassify(d, "doc_id", "text", "__label", passThrough = Seq("text")),
        "doc_id", "text", passThrough = Seq("text", "predicted_label")),
      "doc_id", "text", passThrough = Seq("quality_score", "predicted_label"))))
    val pairs = Dedup.minhashPairs(d, "doc_id", "text", minJaccard = 0.5).cache()
    t.span("llm.minhash_pairs")(Sink.noop(pairs))
    t.span("llm.cluster")(Sink.noop(Dedup.clustersStar(d.select("doc_id"), pairs)))
    t.span("llm.contamination")(Sink.noop(
      Contamination.overlap(d, cur.eval, "doc_id", "text", n = 3, maxRatio = 0.2)))
    t.span("llm.domain_cap")(Sink.noop(
      Mixture.domainCap(d.select("doc_id", "__url"), "doc_id", "__url", CorpusGen.PerDomain)))
    // candidate pairs: distinct id pairs sharing at least one LSH band
    val posts = Dedup.bandPostings(Dedup.signatureTable(d, "doc_id", "text", 5, 64), "doc_id", 16, 4)
    val candidates = posts.as("a").join(posts.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val kept = pairs.count()
    Seq(pairs, d).foreach(_.unpersist())
    Seq(
      "llm.curate_construct_s" -> (last(t, "llm.curate_construct").seconds, "s"),
      "llm.score_s" -> (last(t, "llm.score").seconds, "s"),
      "llm.minhash_pairs_s" -> (last(t, "llm.minhash_pairs").seconds, "s"),
      "llm.cluster_s" -> (last(t, "llm.cluster").seconds, "s"),
      "llm.contamination_s" -> (last(t, "llm.contamination").seconds, "s"),
      "llm.domain_cap_s" -> (last(t, "llm.domain_cap").seconds, "s"),
      "llm.minhash_pair_yield" -> (kept.toDouble / math.max(1L, candidates), "ratio"),
      "llm.driver_collect_bytes" -> (collectBytes, "bytes"))
  }

  // ---- digest recording ----

  private def record(seeds: Range): Int = {
    for (seed <- seeds) {
      val in = generate(seed)
      val day = dayPhase(in, seed)
      day.write(day.build(), off)
      println(s"${day.key}\t${day.digest(day.detailedPath, day.summaryPath)}")
      val cur = curatePhase(in, seed)
      val (v, obs) = Sink.digested(cur.verdict(), "verdict")
      Sink.noop(v)
      println(s"${cur.key}\t${Sink.digestOf(obs)}")
    }
    0
  }
}
