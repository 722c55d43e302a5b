package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{HeadToHeadData, SparkEntry}
import graft.app.RetailEtlApp
import graft.operators.RetailPipeline
import graft.pipeline.{LogNotifier, Readiness}
import graft.sources.{CsvTableReader, OutputWriter}

/** One benchmark run, in the fresh JVM that `perfbench/run.py` starts.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --data DIR
  *     --work DIR --out FILE --cores N [--inject fail:OP,wrong:OP]
  *
  * Set-up (session, staging or warm-up) runs first and is
  * recorded as set-up phases. The timed window then runs the workload's
  * fixed pass once; the pass is sized to outlast `--seconds`. Outputs
  * are checked by digest: inline for catalog queries (observed on the
  * noop write), by reading each partition back after the window for the
  * daily app, which also names the partitions its pass should have
  * written. With `--trace 1` every op runs
  * under spans (Tracer) and the per-layer metrics are derived from them.
  * The result is one JSON file at `--out`.
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cores: Int,
      inject: Map[String, String])

  final case class OpResult(name: String, golden: String, ok: Boolean,
      error: String, wallS: Double, rows: Long, digest: String)

  /** A workload: set-up, the fixed pass, how to run one op, and what to
    * read back after the window. `run` returns the op's checked output
    * when it is checked inline; `expectedReadBack` names the outputs the
    * pass should leave for `readBack`. */
  trait Workload {
    def setup(phase: String => (=> Unit) => Unit): Unit
    def op(i: Int): String
    def passSize: Int
    def golden(op: String): String
    def run(i: Int): Option[(Long, String)]
    def readBack(): Seq[(String, String, Long, String)] = Nil
    def expectedReadBack: Seq[String] = Nil
    def csvRowsPerJob: Long = 0L
  }

  /** The catalog slice: star-schema entries (Relational, RetailPipeline,
    * Events, AsofJoin, Layout) and corpus entries (Dedup, Similarity,
    * TextAnalysis, Curation, Ranking, Multimodal), sized so that one pass
    * and its warm-up fit the run budget on a 4-core host. */
  val catalogSlice: Seq[String] = Seq(
    "q03_star_join_revenue", "q19_set_ops", "retail_weekly_corrected",
    "events_sessionize", "events_asof_order", "layout_zorder",
    "dedup_minhash_lsh", "sim_cosine_topk", "text_quality", "text_boilerplate",
    "corpus_tfidf_topk", "mm_image_features")

  private def nowMs: Long = System.currentTimeMillis()

  /** `f` over `xs` on `threads` threads (set-up only: the warm-up and the
    * staging writes are independent, and running them side by side keeps
    * set-up short; the timed window is always sequential). */
  private def inParallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val setup = ArrayBuffer.empty[(String, Long, Long)]
    def phase(name: String)(body: => Unit): Unit = {
      val s = nowMs
      body
      setup += ((name, s, nowMs))
    }
    var spark: SparkSession = null
    phase("session") {
      spark = SparkSession.builder()
        .master(s"local[${c.cores}]")
        .config("spark.sql.shuffle.partitions", c.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${c.work}/tmp")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
    }
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val w = c.workload match {
      case "daily_etl"     => new Daily(spark, c, tracer)
      case "catalog_mixed" => new Catalog(spark, c, tracer, catalogSlice)
      case other           => sys.error(s"unknown workload '$other'")
    }
    w.setup(phase)

    val ops = ArrayBuffer.empty[OpResult]
    def runOne(i: Int): Unit = {
      val name = w.op(i)
      val t = System.nanoTime()
      val (ok, err, out) =
        try (true, "", w.run(i))
        catch { case e: Throwable => (false, e.toString.take(300), None) }
      val wall = (System.nanoTime() - t) / 1e9
      // untimed: drop the op's caches and garbage so the next op starts
      // from the same heap whatever ran before it
      spark.catalog.clearCache()
      System.gc()
      val (rows, digest) = out.getOrElse((-1L, ""))
      ops += OpResult(name, w.golden(name), ok, err, wall, rows, digest)
    }
    System.gc()
    val windowStart = nowMs
    (0 until w.passSize).foreach(runOne)
    val passEnd = nowMs
    if (passEnd - windowStart < c.seconds * 1000)
      System.err.println(s"[perfbench] the pass took ${(passEnd - windowStart) / 1e3} s, " +
        s"less than --seconds ${c.seconds}")
    val readBack = w.readBack()

    val layerJson = tracer.map(tr => Layers.metrics(tr, c.cores, Kernels.nsPerRow(spark, c.data)))
    def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    val json = JObject(
      "workload" -> JString(c.workload), "seed" -> JLong(c.seed), "cores" -> JInt(c.cores),
      "trace" -> JBool(c.trace),
      "setup" -> JArray(setup.toList.map { case (n, s, e) =>
        JObject("name" -> JString(n), "start_ms" -> JLong(s), "end_ms" -> JLong(e)) }),
      "window_start_ms" -> JLong(windowStart), "pass_end_ms" -> JLong(passEnd),
      "csv_rows_per_job" -> JLong(w.csvRowsPerJob),
      "ops" -> JArray(ops.toList.map(o => JObject(
        "name" -> JString(o.name), "golden" -> JString(o.golden), "ok" -> JBool(o.ok),
        "error" -> JString(o.error), "wall_s" -> num(o.wallS),
        "rows" -> JLong(o.rows), "digest" -> JString(o.digest)))),
      "read_back" -> JArray(readBack.toList.map { case (n, g, r, d) =>
        JObject("name" -> JString(n), "golden" -> JString(g), "rows" -> JLong(r),
          "digest" -> JString(d)) }),
      "expected_read_back" -> JArray(w.expectedReadBack.toList.map(JString(_))),
      "layers" -> layerJson.map(_._1).getOrElse(JObject()),
      "spans" -> layerJson.map(_._2).getOrElse(JArray(Nil)))
    Files.write(Paths.get(c.out), JsonMethods.compact(JsonMethods.render(json)).getBytes("UTF-8"))
    spark.stop()
  }

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val inject = kv.get("inject").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { s =>
      val Array(kind, op) = s.split(":", 2); op -> kind
    }.toMap
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("cores").toInt, inject)
  }

  private def injected(c: Conf, op: String, df: DataFrame): DataFrame = c.inject.get(op) match {
    case Some("fail") =>
      Thread.sleep(300) // work done before the throw must not count
      throw new RuntimeException(s"injected failure in $op")
    case Some("wrong") => df.union(df.limit(1))
    case _             => df
  }

  /** Run `body` under a span when tracing, bare otherwise. */
  private def spanned[T](tr: Option[Tracer], name: String, op: String)(body: => T): T =
    tr match {
      case Some(t) => t.span(name, op)(body)
      case None    => body
    }

  /** A seed-ordered pass over catalog entries to a noop sink, after a
    * warm-up over the same entries. */
  final class Catalog(spark: SparkSession, c: Conf, tr: Option[Tracer], entries: Seq[String])
      extends Workload {
    private val order = new scala.util.Random(c.seed).shuffle(entries).toIndexedSeq

    def setup(phase: String => (=> Unit) => Unit): Unit = {
      // one round over the measured tables, `cores` entries at a time:
      // compiles every plan and its code and fills the path-keyed caches
      // a long-lived session would already hold
      phase("warmup") {
        inParallel(order, c.cores) { n =>
          try SparkEntry.queries(n)(spark, c.data).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
        spark.catalog.clearCache()
      }
    }
    def passSize: Int = order.size
    def op(i: Int): String = order(i)
    def golden(op: String): String = op
    def run(i: Int): Option[(Long, String)] = {
      val op = this.op(i)
      spanned(tr, op, op)(constructAndAct(op))
    }
    private def constructAndAct(op: String): Option[(Long, String)] = {
      val df = spanned(tr, "construct", op)(SparkEntry.queries(op)(spark, c.data))
      spanned(tr, "action", op) {
        val obs = Observation(s"digest_$op")
        Digest.observe(injected(c, op, df), obs).write.format("noop").mode("overwrite").save()
        Some(Digest.read(obs))
      }
    }
  }

  /** `RetailEtlApp` jobs in the default faithful mode over staged
    * `{table}_YYYYMMDD.csv` drops: four dates in a row from a seed-chosen
    * start, then a rerun of the fourth date (cron's re-attempt, overwriting
    * its own partition) carrying `--compact`. */
  final class Daily(spark: SparkSession, c: Conf, tr: Option[Tracer]) extends Workload {
    private val drops = s"${c.work}/drops"
    private val outRoot = s"${c.work}/out"
    private val start = LocalDate.of(2024, 1, 1).plusDays(Math.floorMod(c.seed, 3650L))
    private val ymd = DateTimeFormatter.ofPattern("yyyyMMdd")
    private var rowsPerJob = 0L

    /** (date, attempt, compact) of the i-th job. */
    private def job(i: Int): (LocalDate, Int, Boolean) = {
      val last = i == passSize - 1
      (start.plusDays(math.min(i, passSize - 2).toLong), if (last) 2 else 1, last)
    }
    private def dates: Seq[LocalDate] = (0 until passSize).map(job(_)._1).distinct

    def passSize: Int = 5
    def op(i: Int): String = {
      val (d, attempt, compact) = job(i)
      s"$d#$attempt" + (if (compact) "+compact" else "")
    }
    def golden(op: String): String = "daily_faithful"
    override def csvRowsPerJob: Long = rowsPerJob

    def setup(phase: String => (=> Unit) => Unit): Unit = phase("staging") {
      val staged = s"${c.work}/staged"
      Files.createDirectories(Paths.get(drops))
      rowsPerJob = inParallel(HeadToHeadData.retailCsvFrames(spark, c.data).toSeq, c.cores) {
        case (t, df) =>
          df.coalesce(1).write.option("header", "true").csv(s"$staged/$t")
          val part = Files.list(Paths.get(s"$staged/$t")).iterator().asScala
            .find(p => p.getFileName.toString.matches("part-.*\\.csv")).get
          dates.foreach(d => Files.createLink(Paths.get(drops, s"${t}_${d.format(ymd)}.csv"), part))
          Files.lines(part).count() - 1
      }.sum
    }

    def run(i: Int): Option[(Long, String)] = {
      val op = this.op(i)
      val (date, _, compact) = job(i)
      val args = Seq("--in-dir", drops, "--date", date.toString, "--out", outRoot) ++
        (if (compact) Seq("--compact") else Nil)
      tr match {
        case None =>
          val exit = RetailEtlApp.run(args, LogNotifier)
          if (exit != 0) sys.error(s"RetailEtlApp exited $exit")
        case Some(_) =>
          // the same public steps RetailEtlApp.run composes, one span each
          spanned(tr, op, op) {
            val inputs = spanned(tr, "readiness", op) {
              Readiness.checkFs(drops, date, spark.sparkContext.hadoopConfiguration)
                .fold(m => sys.error(s"inputs missing: $m"), identity)
            }
            val fact = spanned(tr, "build", op) {
              val t = spanned(tr, "csv_read", op)(CsvTableReader.readAll(spark, inputs))
              t.foreach { case (name, df) => df.createOrReplaceTempView(name) }
              val f = spanned(tr, "retail_build", op) {
                RetailPipeline.buildFaithful(t("sales"), t("inventory"), t("calendar"),
                  t("store"), t("product"))
              }
              f.createOrReplaceTempView("weekly_store_product_metrics")
              f
            }
            spanned(tr, "write", op)(OutputWriter.writeFact(fact, outRoot, date.toString))
            if (compact) spanned(tr, "compact", op)(OutputWriter.compactFactPath(spark, outRoot))
          }
      }
      None
    }

    override def expectedReadBack: Seq[String] = dates.map(d => s"date=$d")

    override def readBack(): Seq[(String, String, Long, String)] = {
      val root = Paths.get(outRoot)
      if (!Files.exists(root)) Nil
      else Files.list(root).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("date=")).sortBy(_.toString).map { p =>
          val (rows, digest) = Digest.of(spark.read.parquet(p.toString))
          (p.getFileName.toString, "daily_faithful", rows, digest)
        }
    }
  }
}
