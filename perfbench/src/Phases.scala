package perfbench

import java.nio.file.Path

import graft.config.{FloodConfig, Roi}
import graft.llm.{Curation, Dedup}
import graft.pipeline.{ForecastPipeline, Sinks}
import graft.transforms.{Geometry, ThresholdPercentages, UpstreamFilter}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one operation: its wall time, or why it failed. */
final case class Op(seconds: Double, failure: Option[String])

/** Correctness-check bookkeeping shared by the phases. */
final class Checks {
  private val ran = scala.collection.mutable.LinkedHashMap.empty[String, Int]
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Records one run of check `name`; returns the failure text if it failed. */
  def check(name: String, ok: Boolean, detail: => String): Option[String] = {
    ran(name) = ran.getOrElse(name, 0) + 1
    if (ok) None else { val f = s"$name: $detail"; failures += f; Some(f) }
  }
  def names: Seq[String] = ran.keys.toSeq
}

object Sink {
  /** Forces every column of `df` without keeping it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-row hash over every column, summed exactly in decimal. */
  private def rowHash(df: DataFrame) =
    xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)")

  /** Order-independent digest of every column of a written table:
    * "rows:sum of row hashes". */
  def digestOf(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Wraps `df` so the action that consumes it also yields the same digest
    * as [[digestOf]]; only for plans the action executes once (no global
    * sort, whose sampling pass would count rows twice). */
  def digested(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("n"), sum(rowHash(df)).as("h")), obs)
  }

  def digestOf(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(0)}"
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** The daily job: GRIB drop → detailed and summary tables with WKT cells,
  * written in the serving layout. */
final class DayPhase(spark: SparkSession, day: GribDay, val out: Path, cpus: Int,
    checks: Checks, expected: Expected, seed: Long) {
  val cfg = FloodConfig()
  val detailedPath: String = out.resolve("detailed").toString
  val summaryPath: String = out.resolve("summary").toString
  /** Digest key of this day's size and seed. */
  val key = s"day/${day.ni}x${day.nj}/$seed"
  /** Columns of the last built (detailed, summary) outputs. */
  var columns: Seq[Seq[String]] = Nil
  /** Digest of the tables the last day wrote, as its check read them. */
  var written: String = ""

  /** Builds the pipeline's outputs the way the daily job does. */
  def build(): ForecastPipeline.Outputs = {
    val forecasts = ForecastPipeline.readGrib(spark, day.glob, cfg, numPartitions = cpus)
    val thresholds = ForecastPipeline.readThresholds(spark, day.thresholdsPath, cfg)
    val o = ForecastPipeline.run(forecasts, thresholds, cfg, mode = ThresholdPercentages.ExactOnePass)
    columns = Seq(o.detailed.columns.toSeq, o.summary.columns.toSeq)
    o
  }

  def write(o: ForecastPipeline.Outputs, trace: Trace): Unit = {
    DayPhase.writeTables(o.detailed, o.summary, detailedPath, summaryPath, trace)
    o.release()
  }

  /** One day, timed from the GRIB files on disk to both tables written;
    * the written tables are then read back and checked. */
  def op(trace: Trace): Op = {
    val (_, secs) = Sink.timed {
      trace.span("pipeline.day") {
        val o = trace.span("pipeline.run_construct")(build())
        write(o, trace)
      }
    }
    Op(secs, verify())
  }

  /** "detailed|summary" digest of the tables written at two paths. */
  def digest(detailed: String, summary: String): String =
    s"${Sink.digestOf(spark.read.parquet(detailed))}|${Sink.digestOf(spark.read.parquet(summary))}"

  /** Row counts against the planted hot cells; digests against the ones
    * recorded for this seed and size. */
  def verify(): Option[String] = {
    val d = digest(detailedPath, summaryPath)
    written = d
    val Array(det, sum) = d.split('|')
    val hot = day.hotCells.toLong
    checks.check("day.summary_rows", sum.startsWith(s"$hot:"), s"summary $sum, planted $hot hot cells")
      .orElse(checks.check("day.detailed_rows", det.startsWith(s"${hot * GribGen.Steps.size}:"),
        s"detailed $det, planted ${hot * GribGen.Steps.size}"))
      .orElse(expected.check(checks, "day.digest_recorded", key, d))
  }
}

object DayPhase {
  /** Parquet row-group size of the serving tables. A benchmark day is
    * about 1/10,000 of a global GloFAS day, so Parquet's default 128 MB
    * would leave one row group per file and nothing for a lookup to prune;
    * at 32 KB each file of the detailed table holds several row groups. */
  val RowGroupBytes: Int = 32 * 1024

  /** The daily job's serving sinks: the detailed table locally and the
    * summary globally z-ordered. */
  def writeTables(detailed: DataFrame, summary: DataFrame, detailedPath: String,
      summaryPath: String, trace: Trace): Unit = {
    val opts = Map("parquet.block.size" -> RowGroupBytes.toString)
    trace.span("pipeline.sink_detailed")(Sinks.writeZOrderedLocal(detailed, detailedPath, options = opts))
    trace.span("pipeline.sink_summary")(Sinks.writeZOrdered(summary, summaryPath, options = opts))
  }
}

/** One serving request: a point lookup on either table, or a region read. */
final case class Request(kind: String, j0: Int, j1: Int, i0: Int, i1: Int, expected: Long)

/** The serving side: closed-loop lookups against the written tables. */
final class ServePhase(spark: SparkSession, day: GribDay, val detailedPath: String,
    val summaryPath: String, checks: Checks, seed: Long) {
  val cfg = FloodConfig()
  private val rng = new scala.util.Random(seed * 65537L + 11)
  private val steps = GribGen.Steps.size
  // opened once, as a long-lived API process holds its table handles
  private lazy val detailed = spark.read.parquet(detailedPath)
  private lazy val summary = spark.read.parquet(summaryPath)

  /** Request kinds repeat in a fixed cycle of 20 (7 summary point lookups,
    * 7 detailed point lookups, 6 detailed region reads), so any 20
    * consecutive requests have the same mix; cells and box sizes are
    * seeded. Region sides are log-uniform from one cell to a fifth of the
    * grid (up to 4% of its area). */
  private val cycle = Seq("point_summary", "point_detailed", "bbox")
  private var issued = 0
  def next(): Request = {
    val kind = if (issued % 20 == 19) "point_detailed" else cycle(issued % 20 % 3)
    issued += 1
    if (kind != "bbox") {
      val (j, i) = (rng.nextInt(day.nj), rng.nextInt(day.ni))
      val hot = day.hotIn(j - 1, j + 1, i - 1, i + 1).toLong
      Request(kind, j, j, i, i, if (kind == "point_summary") hot else hot * steps)
    } else {
      def side(n: Int): Int = math.max(1, math.round(math.exp(rng.nextDouble() * math.log(math.max(1.0, n / 5.0)))).toInt)
      val (h, w) = (side(day.nj), side(day.ni))
      val (j0, i0) = (rng.nextInt(day.nj - h + 1), rng.nextInt(day.ni - w + 1))
      Request("bbox", j0, j0 + h - 1, i0, i0 + w - 1, day.hotIn(j0, j0 + h - 1, i0, i0 + w - 1).toLong * steps)
    }
  }

  def query(r: Request): DataFrame = r.kind match {
    case "point_summary" =>
      Geometry.cellsContaining(summary, day.lat(r.j0), day.lon(r.i0),
        cfg.resolution, includeNeighbors = true)
    case "point_detailed" =>
      Geometry.cellsContaining(detailed, day.lat(r.j0), day.lon(r.i0),
        cfg.resolution, includeNeighbors = true)
    case _ =>
      val half = cfg.resolution / 2
      UpstreamFilter.restrictArea(detailed,
        Roi(day.lat(r.j1) - half, day.lat(r.j0) + half, day.lon(r.i0) - half, day.lon(r.i1) + half),
        cfg.buffer)
  }

  /** Lat/lon window a request's filter admits (for footer pruning). */
  def window(r: Request): (Double, Double, Double, Double) = {
    val reach = if (r.kind == "bbox") cfg.resolution / 2 + cfg.buffer else 1.5 * cfg.resolution
    (day.lat(r.j1) - reach, day.lat(r.j0) + reach, day.lon(r.i0) - reach, day.lon(r.i1) + reach)
  }

  def op(r: Request, trace: Trace): Op = {
    val (rows, secs) = Sink.timed(trace.span("transforms.lookup")(query(r).collect()))
    Op(secs, checks.check(s"serve.${r.kind}_rows", rows.length == r.expected,
      s"${rows.length} rows for $r"))
  }
}

/** Corpus curation: the seven-gate verdict over one corpus drop. */
final class CuratePhase(spark: SparkSession, corpusPath: String, evalPath: String,
    corpus: Corpus, checks: Checks, expected: Expected, seed: Long) {
  /** Digest key of this corpus's size and seed. */
  val key = s"curate/${corpus.rows.size}/$seed"
  /** Columns of the last verdict. */
  var columns: Seq[String] = Nil

  def docs: DataFrame = spark.read.parquet(corpusPath)
  def eval: DataFrame = spark.read.parquet(evalPath)

  def verdict(): DataFrame =
    Curation.curateV3(docs, "doc_id", "text", "lang", "url", eval, CorpusGen.Accept,
      perDomain = CorpusGen.PerDomain)

  /** One verdict over the corpus, written in full to the noop sink. */
  def op(trace: Trace): Op = {
    val (res, secs) = Sink.timed {
      trace.span("llm.curate_all") {
        val v = trace.span("llm.curate_construct")(verdict())
        columns = v.columns.toSeq
        val (d, obs) = Sink.digested(v, "verdict")
        val dupObs = Observation("dups")
        trace.span("llm.curate")(Sink.noop(
          d.observe(dupObs, count(when(col("reason") === "exact_dup", 1)).as("dups"))))
        (Sink.digestOf(obs), dupObs.get("dups").asInstanceOf[Long])
      }
    }
    Op(secs, verify(res._1, res._2))
  }

  def verify(digest: String, dups: Long): Option[String] = {
    val n = corpus.rows.size
    checks.check("curate.rows", digest.startsWith(s"$n:"), s"verdict $digest for $n docs")
      .orElse(checks.check("curate.exact_dup", dups == corpus.exactCopies,
        s"$dups exact_dup verdicts, planted ${corpus.exactCopies} copies"))
      .orElse(expected.check(checks, "curate.digest_recorded", key, digest))
  }
}

/** The curation side's serving: a content-hash store of the corpus, and
  * closed-loop ingest requests that each dedup one batch of new documents
  * against it with `Dedup.incremental`, the library's daily-ingest call. */
final class IngestPhase(spark: SparkSession, cur: CuratePhase, out: Path, corpus: Corpus,
    checks: Checks, seed: Long) {
  private var loads = 0
  private var issued = 0
  // opened once, on the first store written, as a long-lived process would
  private var first = ""
  private lazy val store = spark.read.parquet(first)

  /** One set-up: builds the store with `Dedup.exact` and writes it to a
    * fresh directory; it must hold one row per distinct corpus text and
    * count every document once. */
  def load(): Op = {
    loads += 1
    val path = out.resolve(s"hash-store-$loads").toString
    if (first.isEmpty) first = path
    val (_, secs) = Sink.timed(
      Dedup.exact(cur.docs, "doc_id", "text").write.mode("overwrite").parquet(path))
    val r = spark.read.parquet(path).agg(count(lit(1)), sum(col("n_copies"))).head()
    Op(secs, checks.check("setup.hash_store",
      r.getLong(0) == corpus.distinctTexts && r.getLong(1) == corpus.rows.size,
      s"store has ${r.getLong(0)} hashes over ${r.get(1)} docs, expected ${corpus.distinctTexts} " +
        s"over ${corpus.rows.size}"))
  }

  /** One request: the next batch, deduped against the store; the kept ids
    * are returned in full and must be the batch's first copies of its new
    * texts. */
  def op(): Op = {
    val b = CorpusGen.ingestBatch(corpus, issued, seed)
    issued += 1
    val (rows, secs) = Sink.timed {
      val batch = spark.createDataFrame(b.rows).toDF("doc_id", "text")
      Dedup.incremental(batch, "doc_id", "text", store).collect()
    }
    val kept = rows.map(_.getLong(0)).toSet
    Op(secs, checks.check("serve.ingest_kept", rows.length == b.keep.size && kept == b.keep,
      s"kept ${kept.toSeq.sorted.mkString(",")}, expected ${b.keep.toSeq.sorted.mkString(",")}"))
  }
}

/** Digests recorded for known seeds and sizes (perfbench/digests.tsv). */
final class Expected(path: Path) {
  private val table: Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
  /** Check `name`: `digest` equals the one recorded for `key`; a key with
    * no recorded digest fails. */
  def check(checks: Checks, name: String, key: String, digest: String): Option[String] =
    checks.check(name, table.get(key).contains(digest),
      table.get(key).fold(s"no digest recorded for $key")(r => s"$digest != recorded $r"))
}
