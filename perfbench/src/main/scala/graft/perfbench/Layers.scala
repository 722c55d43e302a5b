package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.Tables
import graft.functions.GraftFunctions

/** The per-layer metrics of a traced run, from its spans (see
  * perfbench/README.md for each name's layer and the end-to-end metric
  * it should move). Layers a workload does not exercise read 0. */
object Layers {

  def metrics(tr: Tracer, cores: Int, kernels: Map[String, Double]): (JObject, JArray) = {
    def named(n: String): Seq[Span] = tr.spans.filter(_.name == n).toSeq
    def wall(n: String): Double = named(n).map(_.wallS).sum
    def work(ss: Seq[Span]): Work = {
      val w = new Work
      ss.map(tr.workOf).foreach { x =>
        w.jobs += x.jobs; w.stages += x.stages; w.tasks += x.tasks; w.runMs += x.runMs
        w.cpuNs += x.cpuNs; w.gcMs += x.gcMs; w.shuffleWrite += x.shuffleWrite
        w.shuffleRead += x.shuffleRead; w.spill += x.spill; w.inputRows += x.inputRows
        w.inputBytes += x.inputBytes; w.peakTaskMem = math.max(w.peakTaskMem, x.peakTaskMem)
      }
      w
    }
    val constructJobs = named("construct").flatMap(tr.jobsOf)
    val tablesJobs = constructJobs.filter(_.callSite.contains("Tables.scala"))
    val actions = named("action") ++ named("write") ++ named("compact")
    val plans = actions.map(s => s -> tr.planStats(s))
    val writes = named("write").map(tr.planStats)
    val compacts = named("compact").map(tr.planStats)
    val execS = plans.map { case (s, p) => math.max(0.0, s.wallS - p.planS) }.sum
    val ex = work(actions)
    val csv = work(named("write"))
    def w(k: String): Double = writes.map(_.write.getOrElse(k, 0L)).sum.toDouble
    val roots = tr.spans.filter(_.parent == -1).toSeq
    val coverage =
      if (roots.isEmpty) 0.0
      else roots.map(r => tr.children(r).map(_.wallS).sum / math.max(r.wallS, 1e-9)).min

    val values: Seq[(String, Double)] = Seq(
      "pipeline.readiness_s" -> wall("readiness"),
      "sources.csv_construct_s" -> wall("csv_read"),
      "sources.csv_rows" -> csv.inputRows.toDouble,
      "sources.csv_bytes" -> csv.inputBytes.toDouble,
      "operators.retail_construct_s" -> wall("retail_build"),
      "operators.retail_join_rows" -> writes.map(_.joinRowsMax).sum.toDouble,
      "sources.write_rows" -> w("numOutputRows"),
      "sources.write_files" -> w("numFiles"),
      "sources.write_bytes" -> w("numOutputBytes"),
      "sources.write_task_commit_s" -> w("taskCommitTime") / 1e3,
      "sources.write_job_commit_s" -> w("jobCommitTime") / 1e3,
      "sources.compact_s" -> wall("compact"),
      "sources.compact_bytes" -> compacts.map(_.write.getOrElse("numOutputBytes", 0L)).sum.toDouble,
      "tables.load_s" -> tablesJobs.map(j => j.endMs - j.startMs).sum / 1e3,
      "tables.schema_jobs" -> tablesJobs.size.toDouble,
      "operators.construct_s" -> wall("construct"),
      "operators.construct_jobs" -> constructJobs.size.toDouble,
      "operators.count_jobs" -> constructJobs.count(_.action.contains("Dataset.count")).toDouble,
      "planner.plan_s" -> plans.map(_._2.planS).sum,
      "planner.nodes" -> plans.map(_._2.nodes).sum.toDouble,
      "planner.exchanges" -> plans.map(_._2.exchanges).sum.toDouble,
      "planner.codegen_stages" -> plans.map(_._2.codegenStages).sum.toDouble,
      "planner.non_codegen_nodes" -> plans.map(_._2.nonCodegenNodes).sum.toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> ex.jobs.toDouble,
      "exec.stages" -> ex.stages.toDouble,
      "exec.tasks" -> ex.tasks.toDouble,
      "exec.executor_run_s" -> ex.runMs / 1e3,
      "exec.executor_cpu_s" -> ex.cpuNs / 1e9,
      "exec.core_util" -> (if (execS > 0) ex.runMs / 1e3 / (execS * cores) else 0.0),
      "exec.shuffle_write_bytes" -> ex.shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> ex.shuffleRead.toDouble,
      "exec.spill_bytes" -> ex.spill.toDouble,
      "exec.peak_task_mem_mb" -> ex.peakTaskMem / 1048576.0,
      "exec.gc_s" -> ex.gcMs / 1e3,
      "trace.span_coverage" -> coverage) ++
      GraftFunctions.all.map { case (n, _, _) => s"functions.$n.ns_per_row" -> kernels.getOrElse(n, 0.0) }

    val spans = JArray(tr.spans.toList.map(s => JObject(
      "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
      "op" -> JString(s.op), "start_ms" -> JDouble(tr.relMs(s.startNs)),
      "end_ms" -> JDouble(tr.relMs(s.endNs)), "jobs" -> JLong(tr.workOf(s).jobs))))
    (JObject(values.map { case (k, v) => k -> JDouble(v) }.toList), spans)
  }
}

/** Each `GraftFunctions.all` kernel called directly over its input column
  * (document tokens and shingle hashes, or embeddings), replicated to a
  * fixed row count and cached, so the time is the kernel's own. */
object Kernels {
  private val Rows = 40000L

  def nsPerRow(spark: SparkSession, dir: String): Map[String, Double] = {
    GraftFunctions.register(spark)
    def replicated(t: String, cols: String*) = {
      val df = Tables.load(spark, dir, t).selectExpr(cols: _*)
      val k = math.max(1L, Rows / df.count())
      df.crossJoin(spark.range(k).toDF("rep")).drop("rep")
    }
    val docs = replicated("documents", "text")
      .selectExpr("text", "split(text, ' ') AS toks")
      .selectExpr("text", "toks", "array_sort(shingles3_h64(toks)) AS h")
      .cache()
    val embs = replicated("embeddings", "embedding").cache()
    val exprs = Seq(
      "vec_dot" -> (embs, "vec_dot(embedding, embedding)"),
      "vec_norm" -> (embs, "vec_norm(embedding)"),
      "vec_sig128" -> (embs, "vec_sig128(embedding)"),
      "vec_sig" -> (embs, "vec_sig(embedding, 256)"),
      "simhash60" -> (docs, "simhash60(h)"),
      "shingles3" -> (docs, "shingles3(toks)"),
      "shingles3_h64" -> (docs, "shingles3_h64(toks)"),
      "inter_count_sorted" -> (docs, "inter_count_sorted(h, h)"),
      "minhash_sig64" -> (docs, "minhash_sig64(h)"),
      "tok_stats" -> (docs, "tok_stats(text, array('the', 'a'))"),
      "tok_counts" -> (docs, "tok_counts(toks)"),
      "lev_banded" -> (docs, "lev_banded(substr(text, 1, 64), substr(text, 2, 64), 8)"))
    val rows = Map(docs -> docs.count(), embs -> embs.count())
    val out = exprs.map { case (name, (df, e)) =>
      val times = (1 to 3).map { _ =>
        val t = System.nanoTime()
        df.selectExpr(e).write.format("noop").mode("overwrite").save()
        System.nanoTime() - t
      }
      name -> times.sorted.apply(1).toDouble / rows(df)
    }.toMap
    spark.catalog.clearCache()
    out
  }
}
