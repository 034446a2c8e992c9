package graftbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Checkpoints, QueryDef}

/** `registry`: a fixed, module-stratified sample of the registered
  * queries, run one at a time (closed loop, one client) to the `noop`
  * sink, in whole rounds until the run length has passed. An untimed
  * first pass over the same corpus comes first, as set-up: it warms
  * class loading, codegen and JIT, and writes every result, so that
  * `run.py` can compare the oracle-backed ones with DuckDB; the others
  * must return rows.
  */
object Registry {

  /** The modules of `SparkEntry.all`, in its order. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries,
    "ops.Events" -> graft.ops.Events.queries,
    "ops.Extended" -> graft.ops.Extended.queries,
    "ops.Stats" -> graft.ops.Stats.queries,
    "ops.Graph" -> graft.ops.Graph.queries,
    "llm.Dedup" -> graft.llm.Dedup.queries,
    "llm.Similarity" -> graft.llm.Similarity.queries,
    "llm.TextAnalysis" -> graft.llm.TextAnalysis.queries,
    "llm.Pipeline" -> graft.llm.Pipeline.queries,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal.queries,
    "llm.Gates" -> graft.llm.Gates.queries,
    "llm.Search" -> graft.llm.Search.queries)

  /** One oracle-backed query per module, at the middle of its name order,
    * and the first query without an oracle in registry order.
    */
  def sample: Seq[(String, QueryDef)] = {
    val picked = modules.map { case (m, qs) =>
      val withOracle = qs.filter(_.oracle.nonEmpty).sortBy(_.name)
      m -> withOracle(withOracle.size / 2)
    }
    val noOracle = modules.flatMap { case (m, qs) => qs.map(m -> _) }
      .find(_._2.oracle.isEmpty)
    picked ++ noOracle
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Outcome = {
    val queries = sample
    val dir = a.data.toString

    // set-up: an untimed first pass over the sample, which also writes
    // every result for the correctness checks
    val outDir = a.work.resolve("oracle-out")
    var checks = Vector.empty[(String, Boolean, String)]
    var oracle = Vector.empty[Map[String, String]]
    val warmStart = System.nanoTime()
    queries.foreach { case (_, q) =>
      val out = outDir.resolve(q.name).toString
      try {
        val df = q.run(spark, dir)
        try df.coalesce(1).write.mode("overwrite").parquet(out)
        finally Checkpoints.release(df)
        q.oracle match {
          case Some(sql) => oracle :+= Map("name" -> q.name, "sql" -> sql, "dir" -> out)
          case None =>
            val n = spark.read.parquet(out).count()
            checks :+= ((s"rows>0 ${q.name}", n > 0, s"$n rows"))
        }
      } catch {
        case e: Exception => checks :+= ((s"run ${q.name}", false, e.toString.take(200)))
      }
    }
    val setupS = a.sessionS + (System.nanoTime() - warmStart) / 1e9

    val before = tr.snapshot()
    val planBefore = tr.planSeconds
    val classesBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileBefore = CodeGenerator.compileTime
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var failed = 0L
    var errors = Vector.empty[String]
    var rounds = 0
    val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      rounds += 1
      val r0 = System.nanoTime()
      queries.foreach { case (m, q) =>
        val t0 = System.nanoTime()
        try tr.span("query", s"r$rounds/${q.name}") {
          val df = tr.span("graft.build")(q.run(spark, dir))
          try tr.span("spark.action")(df.write.format("noop").mode("overwrite").save())
          finally tr.span("graft.release")(Checkpoints.release(df))
        } catch {
          case e: Exception =>
            failed += 1
            errors :+= s"${q.name}: ${e.toString.take(200)}"
        }
        lat += m -> (System.nanoTime() - t0) / 1e9
      }
      roundS += (System.nanoTime() - r0) / 1e9
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val c = tr.snapshot() - before
    val planS = tr.planSeconds - planBefore
    val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classesBefore
    val compileS = (CodeGenerator.compileTime - compileBefore) / 1e9

    val spans = if (tr.on) tr.all().filter(_.start >= tr.at(start)) else Nil
    if (tr.on) tr.write(a.spans, spans)

    if (errors.nonEmpty) checks :+= (("timed queries", false, errors.mkString("; ")))

    val perRound = 1.0 / rounds
    val spanSum = spans.groupMapReduce(_.name)(_.dur)(_ + _)
    def spanS(n: String) = spanSum.getOrElse(n, 0L) / 1e9 * perRound
    val self = if (tr.on) tr.selfTimes(spans) else Map.empty[String, Long]
    val layers: Map[String, Double] =
      if (!tr.on) Map.empty
      else Map(
        "graft.build_s" -> spanS("graft.build"),
        "graft.release_s" -> spanS("graft.release"),
        "graft.checkpoints.persisted_rdds" -> persisted.toDouble,
        "spark.action_s" -> spanS("spark.action"),
        "spark.plan_s" -> planS * perRound,
        "spark.codegen.classes" -> classes * perRound,
        "spark.codegen.compile_s" -> compileS * perRound,
        "spark.slot_busy" -> c.runMs / 1e3 / (spanS("query") * rounds * Main.Cores)) ++
        Common.counterLayers(c, perRound) ++
        Common.selfLayers(self, perRound) ++
        modules.map { case (m, _) =>
          s"registry.$m.wall_s" -> lat.filter(_._1 == m).map(_._2).sum * perRound
        }
    val ls = lat.map(_._2).toSeq
    Outcome(
      attempted = ls.size.toLong,
      failed = failed,
      checks = checks,
      e2e = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> ls.size / wallS,
        "latency_p50_ms" -> Stats.hd(ls, 50) * 1e3,
        "latency_p90_ms" -> Stats.hd(ls, 90) * 1e3),
      layers = layers,
      extra = Map("rounds" -> rounds, "round_s" -> roundS, "oracle" -> oracle,
        "query_s" -> queries.map(_._2.name).zip(ls).toMap))
  }
}

object Common {
  def counterLayers(c: Counters, scale: Double): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs * scale,
    "spark.stages" -> c.stages * scale,
    "spark.tasks" -> c.tasks * scale,
    "spark.executor_run_s" -> c.runMs / 1e3 * scale,
    "spark.executor_cpu_s" -> c.cpuNs / 1e9 * scale,
    "spark.gc_s" -> c.gcMs / 1e3 * scale,
    "spark.shuffle_write_mb" -> c.shuffleWrite / 1048576.0 * scale,
    "spark.shuffle_read_mb" -> c.shuffleRead / 1048576.0 * scale,
    "spark.spill_mb" -> c.spill / 1048576.0 * scale)

  /** Self time of the spans that bound the layers, per unit of work. */
  val SelfSpans = Seq("query", "graft.build", "spark.action", "spark.job",
    "stream.trigger", "stream.addBatch", "consumer.callback")

  def selfLayers(self: Map[String, Long], scale: Double): Map[String, Double] =
    SelfSpans.map(n => s"self.${n}_s" -> self.getOrElse(n, 0L) / 1e9 * scale).toMap
}
