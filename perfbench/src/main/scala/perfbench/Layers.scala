package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Node and exchange counts of a physical plan, looking through adaptive
  * query stages and into subqueries. */
object PlanShape {
  def count(plan: SparkPlan): (Long, Long) = {
    var nodes = 0L
    var exchanges = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        nodes += 1
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (nodes, exchanges)
  }
}

/** The per-layer table of the traced pass. */
final class Layers(spans: Seq[Span], jobs: JobListener, streams: StreamListener,
    cachePeakMb: Double, cacheEndMb: Double, planNodes: Long, planExchanges: Long,
    writtenBytes: Long, filesWritten: Long, filesListed: Long) {
  private val MB = 1048576.0
  private val batches = {
    import scala.jdk.CollectionConverters._
    streams.batches.asScala.toSeq
  }

  def metrics: Map[String, Double] = {
    val self = Span.selfSeconds(spans)
    def t(name: String) = self.getOrElse(name, 0.0)
    val exec = jobs.sum(_.endsWith("|exec"))
    val all = jobs.sum(_ => true)
    val build = jobs.sum(_.endsWith("|queries.build"))
    val execS = spans.filter(_.name == "exec").map(_.seconds).sum
    val d = (k: String) => batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val byOp = batches.groupBy(_.op).values
    import scala.jdk.CollectionConverters._
    Map(
      "sources.write_s" -> t("sources.write"),
      "sources.write_mb" -> writtenBytes / MB,
      "sources.files_written" -> filesWritten,
      "sources.list_s" -> t("sources.list"),
      "sources.files_listed" -> filesListed,
      "sources.read_s" -> t("sources.read"),
      "sources.readback_s" -> t("sources.readback"),
      "sources.commit_s" -> t("sources.commit"),
      "queries.build_s" -> t("queries.build"),
      "queries.build_jobs" -> build.jobs,
      "plan.s" -> t("plan"),
      "plan.nodes" -> planNodes,
      "plan.exchanges" -> planExchanges,
      "exec.s" -> execS,
      "exec.jobs" -> exec.jobs,
      "exec.stages" -> exec.stages,
      "exec.tasks" -> exec.tasks,
      "exec.task_run_s" -> exec.taskRunMs / 1000.0,
      "exec.task_cpu_s" -> exec.cpuNs / 1e9,
      "exec.gc_s" -> exec.gcMs / 1000.0,
      "exec.input_mb" -> exec.inputBytes / MB,
      "exec.shuffle_write_mb" -> exec.shuffleWriteBytes / MB,
      "exec.shuffle_read_mb" -> exec.shuffleReadBytes / MB,
      "exec.spill_mb" -> exec.spillBytes / MB,
      "exec.tasks_failed" -> exec.tasksFailed,
      "exec.busy_frac" -> (if (execS > 0) exec.taskRunMs / 1000.0 / (execS * Session.Cores) else 0.0),
      "exec.single_task_stage_frac" ->
        (if (exec.stages > 0) exec.singleTaskStages.toDouble / exec.stages else 0.0),
      "cache.peak_mb" -> cachePeakMb,
      "cache.end_mb" -> cacheEndMb,
      "cache.stages_skipped_frac" -> (if (all.stages + all.skippedStages > 0)
        all.skippedStages.toDouble / (all.stages + all.skippedStages) else 0.0),
      "streaming.trigger_s" -> t("streaming.trigger"),
      "streaming.batches" -> batches.size,
      "streaming.rows" -> batches.map(_.rows).sum,
      "streaming.start_s" -> streams.firstProgress.asScala.map(_._2).sum,
      "streaming.plan_s" -> d("queryPlanning"),
      "streaming.offsets_s" -> (d("latestOffset") + d("getBatch")),
      "streaming.add_batch_s" -> d("addBatch"),
      "streaming.commit_s" -> (d("walCommit") + d("commitOffsets")),
      "streaming.state_rows" -> byOp.map(_.map(_.stateRows).max).sum,
      "streaming.state_mb" -> byOp.map(_.map(_.stateBytes).max).sum / MB,
      "streaming.batch_p50_s" -> (if (batches.isEmpty) 0.0
        else Stats.quantile(batches.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0), 0.5)),
      "harness.self_s" -> t("op"),
      "harness.unattributed_jobs" -> jobs.sum(_ == "?").jobs)
  }
}

/** The kernel probe: each registered SQL kernel as one projection plus an
  * aggregate over the curation corpus, replicated so the kernels run long
  * enough to time. Each round runs the identity projection and every
  * kernel once; a kernel's figure is the median over the measured rounds
  * of its task CPU minus that round's identity CPU, per input row. A
  * first, unmeasured round compiles and JIT-warms every query. */
object Kernels {
  val Exprs: Seq[(String, String)] = Seq(
    "minhash_sig" -> "minhash_sig(toks)",
    "minhash_bands" -> "minhash_bands(toks)",
    "jaccard_sim_sorted_bail" -> "jaccard_sim_sorted_bail(toks, toks_b, 0.5)",
    "simhash64" -> "simhash64(toks)",
    "cosine_sim" -> "cosine_sim(emb, emb_b)",
    "hyperplane_packed16" -> "hyperplane_packed16(emb)",
    "sig_match_frac16" -> "sig_match_frac16(sig_a, sig_b)")

  def probe(spark: SparkSession, data: String, copies: Int = 50, rounds: Int = 3): Map[String, Double] = {
    graft.GraftExtensions.install(spark)
    val jobs = new JobListener(Main.TagPrefix)
    spark.sparkContext.addSparkListener(jobs)
    try {
      graft.Tables.load(spark, data, "documents").createOrReplaceTempView("pb_docs")
      graft.Tables.load(spark, data, "embeddings").createOrReplaceTempView("pb_vecs")
      val prepared = spark.sql(
        s"""SELECT d.doc_id * $copies + r.id AS id,
           |  array_sort(array_distinct(split(d.text, ' '))) AS toks,
           |  array_sort(array_distinct(slice(split(d.text, ' '), 2, 1000))) AS toks_b,
           |  transform(v.embedding, x -> cast(x AS double)) AS emb,
           |  transform(w.embedding, x -> cast(x AS double)) AS emb_b
           |FROM pb_docs d
           |CROSS JOIN range($copies) r
           |JOIN (SELECT count(*) n FROM pb_vecs) c
           |JOIN pb_vecs v ON v.vec_id = d.doc_id % c.n
           |JOIN pb_vecs w ON w.vec_id = (d.doc_id + 1) % c.n""".stripMargin)
        .selectExpr("*", "minhash_sig16(toks) AS sig_a", "minhash_sig16(toks_b) AS sig_b")
        .persist()
      val rows = prepared.count().toDouble
      prepared.createOrReplaceTempView("pb_kernel_in")
      val queries = ("identity" -> "") +: Exprs.map { case (n, e) => n -> s", $e" }
      var seq = 0
      def cpuOf(sql: String): Double = {
        seq += 1
        val group = s"kernel.$seq|probe"
        spark.sparkContext.setJobGroup(group, group)
        try spark.sql(s"SELECT sum(hash(id, toks, emb, sig_a$sql)) FROM pb_kernel_in").collect()
        finally spark.sparkContext.clearJobGroup()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        jobs.sum(_ == group).cpuNs.toDouble
      }
      queries.foreach { case (_, sql) => cpuOf(sql) }
      val measured = (1 to rounds).map { _ =>
        val cpu = queries.map { case (n, sql) => n -> cpuOf(sql) }.toMap
        Exprs.map { case (n, _) => n -> (cpu(n) - cpu("identity")) / rows }.toMap
      }
      prepared.unpersist()
      Exprs.map { case (n, _) =>
        s"expressions.${n}_ns_per_row" -> Util.median(measured.map(_(n)))
      }.toMap
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
