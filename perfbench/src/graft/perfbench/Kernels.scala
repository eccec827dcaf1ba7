package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import graft._
import graft.functions.MinHashExpr
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The kernel pass: each layer's public function, called on the committed
  * stage tables of one checkpointed run, with every output column sunk
  * through the `noop` writer (a `count()` lets Catalyst prune row-local
  * kernels out of the plan). Each call is one tracer span under "kernels".
  */
object Kernels {
  /** Layers in pass order; each reports busy_s plus the listener totals. */
  val Layers: Seq[String] = Seq("idhash", "signatures", "lsh.bands", "lsh.lsh",
    "lsh.simhash", "suffix", "pipeline.merge", "scoring.score", "scoring.verify", "cc")

  final case class Result(counts: ListMap[String, Double], problems: Seq[String])

  private final class PlanCapture extends QueryExecutionListener {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized(plans += qe.executedPlan)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def allPlans(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => allPlans(a.executedPlan)
      case q: QueryStageExec => allPlans(q.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children.flatMap(allPlans) ++ p.subqueries.flatMap(allPlans))
  }

  private def planHas(plans: Seq[SparkPlan], pred: Expression => Boolean): Boolean =
    plans.flatMap(allPlans).exists(_.expressions.exists(_.find(pred).isDefined))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def rows(o: Observation): Double = o.get("n").asInstanceOf[Long].toDouble

  private def counted(df: DataFrame): (DataFrame, Observation) = {
    val o = new Observation()
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  private def census(o: Observation, field: String): Double =
    o.get.get(field).map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)

  def pass(spark: SparkSession, io: TableIO, corpus: DataFrame, cfg: DedupConfig,
      tracer: Tracer): Result = {
    val capture = new PlanCapture
    spark.listenerManager.register(capture)
    val problems = mutable.ArrayBuffer.empty[String]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def layer[T](name: String)(body: => T): T = tracer.span(name, "kernels")(body)
    def stage(name: String) = io.load(name).getOrElse(sys.error(s"stage $name not committed"))
    def plansOf(body: => Unit): Seq[SparkPlan] = {
      capture.synchronized(capture.plans.clear())
      body
      PerfbenchBus.drain(spark.sparkContext)
      capture.synchronized(capture.plans.toList)
    }
    try {
      val sigs = stage("signatures")
      val candidates = stage("candidates")
      val scored = stage("scored")
      val verified = stage("verified")
      val clean = corpus
        .where(col("caption").isNotNull && length(col("caption")) > 0)
        .where(col("w") > 0 && col("h") > 0)

      val repairs = layer("idhash")(IdHash.buildRepairs(corpus.select(col("image_id"))))

      val (sigDf, sigRows) = counted(Signatures.signatures(clean, cfg, repairs))
      val sigPlans = plansOf(layer("signatures")(noop(sigDf)))
      counts("signatures.rows_out") = rows(sigRows)
      if (!planHas(sigPlans, _.isInstanceOf[MinHashExpr]))
        problems += "signatures kernel pass: executed plan has no MinHash expression"

      layer("lsh.bands")(noop(Lsh.bands(sigs, cfg)))
      val bands = Lsh.bands(sigs, cfg).localCheckpoint()

      val lshObs = new Observation()
      val (lshDf, lshRows) = counted(Lsh.lshCandidates(bands, cfg, dedup = false,
        census = Some(lshObs)))
      layer("lsh.lsh")(noop(lshDf))
      counts("lsh.lsh.pairs_out") = rows(lshRows)

      val shObs = new Observation()
      val (shDf, shRows) = counted(Lsh.simhashCandidates(sigs, cfg, dedup = false,
        census = Some(shObs)))
      layer("lsh.simhash")(noop(shDf))
      counts("lsh.simhash.pairs_out") = rows(shRows)
      counts("lsh.overflow_buckets") =
        census(lshObs, "overflow_buckets") + census(shObs, "overflow_buckets")

      val spanObs = new Observation()
      val docObs = new Observation()
      val norms = sigs.select(col("id"), col("norm"))
      val (spanDf, spanRows) = counted(SuffixPass.spanCandidates(norms, cfg,
        census = Some(spanObs), docCensus = Some(docObs)))
      layer("suffix")(noop(spanDf))
      counts("suffix.pairs_out") = rows(spanRows)
      counts("suffix.oversized_docs") = census(docObs, "oversized_docs")

      // merge input: the three sources materialized outside the span
      val sources = Seq(
        Lsh.lshCandidates(bands, cfg, dedup = false) -> 1,
        Lsh.simhashCandidates(sigs, cfg, dedup = false) -> 2,
        SuffixPass.spanCandidates(norms, cfg) -> 4)
        .map { case (df, bit) => df.localCheckpoint() -> bit }
      val pairsIn = sources.map(_._1.count()).sum.toDouble
      val (mergeDf, mergeRows) = counted(Pipeline.mergeCandidates(sources))
      layer("pipeline.merge")(noop(mergeDf))
      counts("pipeline.merge.pairs_in") = pairsIn
      counts("pipeline.merge.pairs_out") = rows(mergeRows)
      counts("pipeline.merge.useful_ratio") =
        if (pairsIn > 0) rows(mergeRows) / pairsIn else 0.0

      val nSigs = sigs.count()
      val nCandidates = candidates.count().toDouble
      val (keptDf, kept) = counted(
        Scoring.filterAndTopK(Scoring.score(candidates, sigs, cfg, nSigs), cfg))
      layer("scoring.score")(noop(keptDf))
      counts("scoring.score.keep_ratio") =
        if (nCandidates > 0) rows(kept) / nCandidates else 0.0

      val nScored = scored.count()
      val verifyObs = new Observation()
      val verifyDf = Scoring.verify(scored, corpus, cfg, repairs, nScored)
        .observe(verifyObs, count(lit(1)).as("n"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("dups"))
      val verifyPlans = plansOf(layer("scoring.verify")(noop(verifyDf)))
      counts("scoring.verify.pairs_in") = nScored.toDouble
      counts("scoring.verify.dup_ratio") =
        if (nScored > 0) census(verifyObs, "dups") / nScored else 0.0
      val isPsnr: Expression => Boolean = {
        case u: ScalaUDF =>
          val names = u.references.map(_.name).toSet
          names("bytes_a") && names("bytes_b")
        case _ => false
      }
      if (!planHas(verifyPlans, isPsnr))
        problems += "scoring.verify kernel pass: executed plan has no PSNR UDF"

      val edges = verified.where(col("dup_part") === 1).select(col("a"), col("b"))
      counts("cc.edges_in") = edges.count().toDouble
      layer("cc")(noop(ConnectedComponents.clusterHashed(edges,
        corpus.select(col("image_id")), repairs = repairs)))
    } finally spark.listenerManager.unregister(capture)
    Result(ListMap(counts.toSeq: _*), problems.toList)
  }
}
