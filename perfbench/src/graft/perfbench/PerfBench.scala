package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import graft._
import graft.streaming.StreamJob
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: a [[Corpus.sample]] of about `images` images, run through
  * the batch entry point or the stream entry point.
  */
final case class Workload(name: String, images: Int, maxClusterSize: Int, stream: Boolean)

object Workload {
  val All: Seq[Workload] = Seq(
    Workload("dupheavy_batch", 250, 48, stream = false),
    Workload("unique_batch", 250, 1, stream = false),
    Workload("stream_incremental", 250, 48, stream = true))
}

/** Outcome of one execution of the workload, gated outside its timed wall. */
final case class Rep(wall: Double, images: Int, batchWalls: Seq[Double],
    progress: Seq[Map[String, Long]], recall: Double, plantedRecall: Double,
    decoyApart: Double, falseMerges: Int, storedRatio: Double, heapMb: Double,
    problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** A prepared corpus and its ground truth. */
final case class Input(corpus: Corpus, truth: Truth)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, sourceDigest: String, gitCommit: String, heap: String)

object PerfBench {
  val EndToEnd: Seq[(String, String)] = Seq(
    "images_per_s" -> "1/s", "setup_s" -> "s", "batch_s_p50" -> "s", "batch_s_max" -> "s",
    "dup_pair_recall" -> "ratio", "decoy_apart_ratio" -> "ratio", "run_ok_ratio" -> "ratio",
    "stored_bytes_ratio" -> "ratio")

  val Stages: Seq[String] =
    Seq("signatures", "bucket_stats", "candidates", "scored", "verified", "clusters")

  /** Per-layer metric names and units, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[(String, String)] = {
    def extras(l: String) = Seq(s"$l.cpu_s" -> "s", s"$l.core_util" -> "ratio",
      s"$l.shuffle_write_mb" -> "MB", s"$l.spill_mb" -> "MB", s"$l.jobs" -> "count")
    Stages.flatMap(s => (s"stage.$s.s" -> "s") +: extras(s"stage.$s")) ++
      Kernels.Layers.flatMap(l => (s"$l.busy_s" -> "s") +: extras(l)) ++ Seq(
      "signatures.rows_out" -> "count", "lsh.lsh.pairs_out" -> "count",
      "lsh.simhash.pairs_out" -> "count", "lsh.overflow_buckets" -> "count",
      "suffix.pairs_out" -> "count", "suffix.oversized_docs" -> "count",
      "pipeline.merge.pairs_in" -> "count", "pipeline.merge.pairs_out" -> "count",
      "pipeline.merge.useful_ratio" -> "ratio", "scoring.score.keep_ratio" -> "ratio",
      "scoring.verify.pairs_in" -> "count", "scoring.verify.dup_ratio" -> "ratio",
      "cc.edges_in" -> "count",
      "tableio.commit_s" -> "s", "tableio.load_s" -> "s", "tableio.calls" -> "count",
      "tableio.bytes_written_mb" -> "MB",
      "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
      "streaming.query_planning_s" -> "s", "streaming.compact_s" -> "s",
      "streaming.history_rows" -> "count",
      "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_s" -> "s", "trace.uncovered_share" -> "ratio")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new PerfBench(parse(argv)).run()
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work-dir"), get("source-digest"), get("git-commit"), get("heap"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

final class PerfBench(a: Args) {
  import PerfBench._

  private val w = Workload.All.find(_.name == a.workload)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
  private val nproc = Runtime.getRuntime.availableProcessors
  private val work = Paths.get(a.workDir).toAbsolutePath
  private val runId = s"${w.name}-s${a.seed}-p${ProcessHandle.current.pid}"
  private val runDir = work.resolve("runs").resolve(runId)
  private val cfg = DedupConfig()
  private val heap = new HeapMonitor
  private var reps = 0

  /** DedupJob's local-mode session, at local[nproc] with the UI off. */
  private val confs: ListMap[String, String] = ListMap(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    "spark.ui.enabled" -> "false")

  private def session(): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    val s = confs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def freshDir(): Path = {
    reps += 1
    val d = runDir.resolve(s"rep$reps")
    Corpus.deleteTree(d)
    Files.createDirectories(d)
  }

  // ---- correctness gates (outside every timed wall) ----

  /** Exactly-once assignment and [[Truth.check]]; for the stream, also
    * equality with the batch assignment of the same corpus.
    */
  private def gate(in: Input, clusters: Map[String, String], nRows: Long,
      reference: Option[Map[String, String]]): Check = {
    val ids = in.corpus.specs.iterator.map(_.image_id).toSet
    val once =
      if (nRows == in.corpus.rows && clusters.size == in.corpus.rows && clusters.keySet == ids) Nil
      else Seq(s"assignment covers ${clusters.size} distinct of $nRows rows; " +
        s"corpus has ${in.corpus.rows} images")
    val same = reference.toSeq.flatMap { ref =>
      val diff = ref.count { case (id, cid) => !clusters.get(id).contains(cid) }
      if (diff > 0) Seq(s"$diff images clustered differently from the batch run") else Nil
    }
    val c = in.truth.check(clusters)
    c.copy(problems = once ++ same ++ c.problems)
  }

  private def collectClusters(spark: SparkSession, out: Path): (Map[String, String], Long) = {
    val rows = new ParquetTableIO(spark, out.toString, runId, cfg.configHash).load("clusters")
      .getOrElse(sys.error("clusters not committed"))
      .select(col("image_id"), col("cluster_id")).collect()
    (rows.map(r => r.getString(0) -> r.getString(1)).toMap, rows.length.toLong)
  }

  private def rep(in: Input, wall: Double, batchWalls: Seq[Double],
      progress: Seq[Map[String, Long]], check: Check, out: Path, heapMb: Double): Rep =
    Rep(wall, in.corpus.rows, batchWalls, progress, check.verifiableRecall, check.recall,
      check.decoyApart, check.falseMerges, Corpus.treeBytes(out).toDouble / in.corpus.bytes,
      heapMb, check.problems)

  // ---- one execution of the workload ----

  /** `Pipeline.runCheckpointed` into a fresh table dir, as DedupJob runs it. */
  private def batchRep(spark: SparkSession, in: Input, tracer: Option[Tracer] = None,
      keep: Boolean = false): (Rep, Path) = {
    val out = freshDir().resolve("out")
    val plain = new ParquetTableIO(spark, out.toString, runId, cfg.configHash)
    val io = tracer.fold[TableIO](plain)(t => new TimingTableIO(plain, t))
    System.gc()
    heap.reset()
    val t0 = System.nanoTime()
    def body(): Unit = {
      val r = Pipeline.runCheckpointed(spark.read.parquet(in.corpus.dir), cfg, io)
      r.bucketCensus()
      r.unpersist()
    }
    tracer.fold(body())(_.segments("run")(body()))
    val t1 = System.nanoTime()
    tracer.foreach(_.spans += Span("run", "", t0, t1, None))
    val wall = (t1 - t0) / 1e9
    val heapMb = heap.peakMb
    val (clusters, n) = collectClusters(spark, out)
    val r = rep(in, wall, Seq(wall), Nil, gate(in, clusters, n, None), out, heapMb)
    if (!keep) Corpus.deleteTree(out.getParent)
    (r, out)
  }

  /** `StreamJob.runOnce` over the corpus files, one file per trigger, into a
    * fresh table and checkpoint dir.
    */
  private def streamRep(spark: SparkSession, in: Input, batches: BatchDurations,
      reference: Option[Map[String, String]]): Rep = {
    val dir = freshDir()
    val out = dir.resolve("out")
    batches.take()
    System.gc()
    heap.reset()
    val t0 = System.nanoTime()
    StreamJob.runOnce(spark, in.corpus.dir, out.toString, dir.resolve("checkpoint").toString,
      runId, maxFilesPerTrigger = 1, verbose = false, cfg = cfg)
    val wall = seconds(t0)
    val heapMb = heap.peakMb
    PerfbenchBus.drain(spark.sparkContext)
    val progress = batches.take()
    val (clusters, n) = collectClusters(spark, out)
    val c = gate(in, clusters, n, reference)
    val nBatches = if (progress.size == in.corpus.files.size) Nil
      else Seq(s"${progress.size} micro-batches for ${in.corpus.files.size} files")
    val r = rep(in, wall, progress.map(_.getOrElse("triggerExecution", 0L) / 1000.0),
      progress, c.copy(problems = c.problems ++ nBatches), out, heapMb)
    Corpus.deleteTree(dir)
    r
  }

  /** Runs `f`; a throw becomes a failed rep (its time is dropped). */
  private def attempt(f: => Rep): Rep =
    try f
    catch {
      case e: Exception =>
        e.printStackTrace()
        Rep(0, 0, Nil, Nil, 0, 0, 0, 0, 0, 0,
          Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  def run(): Int = {
    Corpus.deleteTree(runDir)
    Files.createDirectories(runDir)
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = seconds(t0)
    try {
      val g0 = System.nanoTime()
      val corpus = Corpus.prepare(spark, work.resolve("corpus"), w.images, w.maxClusterSize,
        a.seed, a.sourceDigest)
      val corpusS = seconds(g0)
      val bytes = spark.read.parquet(corpus.dir).select(col("image_id"), col("bytes")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      val in = Input(corpus, new Truth(corpus.labels, bytes, cfg.psnrThresholdDb))
      val inputS = seconds(g0)
      val batches = new BatchDurations
      spark.streams.addListener(batches)

      // set-up: session start plus the first, JIT-cold batch run. For the
      // stream that run is the batch assignment its output is gated against.
      var referenceDir: Option[Path] = None
      val setup = attempt {
        val (r, out) = batchRep(spark, in, keep = w.stream)
        if (w.stream) referenceDir = Some(out)
        r
      }
      val reference = referenceDir.map(collectClusters(spark, _)._1)
      val setupS = sessionS + setup.wall

      val timed = mutable.ArrayBuffer.empty[Rep]
      var measured = 0.0
      while (setup.ok && (timed.isEmpty || measured < a.seconds) && timed.forall(_.ok)) {
        val r = attempt {
          if (w.stream) streamRep(spark, in, batches, reference) else batchRep(spark, in)._1
        }
        timed += r
        measured += r.wall
      }
      val all = setup +: timed.toSeq
      val failed = all.count(!_.ok)
      val good = timed.filter(_.ok).toSeq
      val use = if (good.nonEmpty) good else all

      val e2e = ListMap(
        "images_per_s" -> median(use.map(r => r.images / math.max(r.wall, 1e-9))),
        "setup_s" -> setupS,
        "batch_s_p50" -> median(use.map(r =>
          if (r.batchWalls.isEmpty) 0.0 else median(r.batchWalls))),
        "batch_s_max" -> median(use.map(r =>
          if (r.batchWalls.isEmpty) 0.0 else r.batchWalls.max)),
        "dup_pair_recall" -> median(use.map(_.recall)),
        "decoy_apart_ratio" -> median(use.map(_.decoyApart)),
        "run_ok_ratio" -> (all.size - failed).toDouble / all.size,
        "stored_bytes_ratio" -> median(use.map(_.storedRatio)))

      val truth = in.truth
      val env = ListMap(
        "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "nproc" -> nproc, "heap" -> a.heap,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "git_commit" -> a.gitCommit, "source_digest" -> a.sourceDigest,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "confs" -> confs,
        "corpus" -> ListMap("clusters" -> corpus.specs.count(_.kind == "base"),
          "max_cluster_size" -> w.maxClusterSize, "seed" -> a.seed, "images" -> corpus.rows,
          "files" -> corpus.files.size,
          "bytes" -> corpus.bytes, "positive_pairs" -> truth.positives.size,
          "verifiable_pairs" -> truth.verifiable.size, "decoy_pairs" -> truth.decoys.size),
        "timed_runs" -> timed.size, "timed_walls_s" -> timed.map(_.wall),
        "batch_walls_s" -> all.map(_.batchWalls),
        "setup_wall_s" -> setup.wall, "session_start_s" -> sessionS,
        "corpus_s" -> corpusS, "input_s" -> inputS)
      println(Json(ListMap("perfbench_env" -> env)))
      all.filterNot(_.ok).foreach(r => println(s"gate failed: ${r.problems.mkString("; ")}"))
      EndToEnd.foreach { case (k, u) => println(s"metric $k = ${e2e(k)} $u") }
      println(s"metric false_merges = ${all.map(_.falseMerges).max} count")
      println(s"metric heap_peak_mb = ${median(use.map(_.heapMb))} MB")
      println(s"metric failed_ratio = ${failed.toDouble / all.size} ratio " +
        s"($failed of ${all.size} runs)")
      val planted = median(use.map(_.plantedRecall))
      println(s"metric planted_pair_recall = $planted ratio")
      if (failed == 0 && truth.positives.nonEmpty && planted < 0.99)
        println(f"known generator defect: planted_pair_recall $planted%.4f < 0.99; " +
          f"${truth.positives.size - truth.verifiable.size} of ${truth.positives.size} planted " +
          f"pairs fail the ${cfg.psnrThresholdDb}%.0f dB pixel check, capping recall at " +
          f"${truth.verifiable.size.toDouble / truth.positives.size}%.4f")

      val problems = mutable.ArrayBuffer.empty[String]
      val metrics: ListMap[String, Double] =
        if (!a.trace) e2e
        else if (failed > 0) ListMap(PerLayer.map { case (k, _) => k -> 0.0 }: _*)
        else
          try {
            val (layers, traceProblems) =
              traceRun(spark, in, reference, referenceDir, median(use.map(_.wall)), use)
            problems ++= traceProblems
            layers
          } catch {
            case e: Exception =>
              e.printStackTrace()
              problems += s"traced run threw ${e.getClass.getSimpleName}: ${e.getMessage}"
              ListMap(PerLayer.map { case (k, _) => k -> 0.0 }: _*)
          }
      referenceDir.foreach(d => Corpus.deleteTree(d.getParent))
      problems.foreach(p => println(s"check failed: $p"))
      val attempted = all.size + (if (a.trace && failed == 0) 1 else 0)
      val failedAll = failed + (if (problems.nonEmpty) 1 else 0)
      val correct = failedAll == 0
      println(Json(ListMap("correct" -> correct, "attempted" -> attempted,
        "failed" -> failedAll,
        "metrics" -> ListMap((if (a.trace) PerLayer else EndToEnd).map { case (k, u) =>
          k -> ListMap("value" -> metrics(k), "unit" -> u)
        }: _*))))
      if (correct) 0 else 1
    } finally {
      spark.stop()
      Corpus.deleteTree(runDir)
    }
  }

  // ---- the traced run (per-layer numbers) ----

  /** One traced execution plus the kernel pass; writes the trace artifact
    * and returns the per-layer metrics and any failed check.
    */
  private def traceRun(spark: SparkSession, in: Input, reference: Option[Map[String, String]],
      referenceDir: Option[Path], untracedWall: Double, untraced: Seq[Rep])
      : (ListMap[String, Double], Seq[String]) = {
    val corpus = in.corpus
    val tracer = new Tracer(spark)
    val m = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach { case (k, _) => m(k) = 0.0 }
    val mb = 1048576.0
    def putTotals(prefix: String, secs: Double, t: Totals): Unit = {
      m(s"$prefix.cpu_s") = t.cpuNs / 1e9
      m(s"$prefix.core_util") = if (secs > 0) t.runMs / 1000.0 / (secs * nproc) else 0.0
      m(s"$prefix.shuffle_write_mb") = t.shuffleWriteBytes / mb
      m(s"$prefix.spill_mb") = t.spillBytes / mb
      m(s"$prefix.jobs") = t.jobs.toDouble
    }

    val (traced, kernelDir) =
      if (!w.stream) {
        batchRep(spark, in, Some(tracer), keep = true)
      } else {
        val dir = freshDir()
        val out = dir.resolve("out")
        val io = new TimingTableIO(
          new ParquetTableIO(spark, out.toString, runId, cfg.configHash), tracer)
        val schema = Encoders.product[ImageRow].schema
        val t0 = System.nanoTime()
        corpus.files.zipWithIndex.foreach { case (f, i) =>
          val b0 = System.nanoTime()
          tracer.segments(s"batch.$i") {
            StreamJob.processBatch(io, cfg, verbose = false, tagPrefix = "traced-")(
              spark.read.schema(schema).parquet(f), i.toLong)
          }
          tracer.spans += Span(s"batch.$i", "run", b0, System.nanoTime(), None)
        }
        tracer.span("streaming.compact", "run")(StreamJob.compactClusters(io))
        val t1 = System.nanoTime()
        tracer.spans += Span("run", "", t0, t1, None)
        val (clusters, n) = collectClusters(spark, out)
        m("streaming.history_rows") = new ParquetTableIO(spark, out.toString, runId,
          cfg.configHash).load("corpus").get.count().toDouble
        val r = rep(in, (t1 - t0) / 1e9, Nil, Nil, gate(in, clusters, n, reference), out, 0)
        Corpus.deleteTree(dir)
        (r, referenceDir.get)
      }

    val io = new ParquetTableIO(spark, kernelDir.toString, runId, cfg.configHash)
    val k0 = System.nanoTime()
    val kernels = Kernels.pass(spark, io, spark.read.parquet(corpus.dir), cfg, tracer)
    tracer.spans += Span("kernels", "", k0, System.nanoTime(), None)
    if (!w.stream) Corpus.deleteTree(kernelDir.getParent)

    val run = tracer.spans.find(_.name == "run").get
    Stages.foreach { s =>
      val secs = tracer.secondsOf(s"stage.$s")
      m(s"stage.$s.s") = secs
      putTotals(s"stage.$s", secs, tracer.totalsOf(s"stage.$s"))
    }
    Kernels.Layers.foreach { l =>
      val secs = tracer.secondsOf(l)
      m(s"$l.busy_s") = secs
      putTotals(l, secs, tracer.totalsOf(l))
    }
    kernels.counts.foreach { case (k, v) => m(k) = v }
    val calls = tracer.spans.filter(_.name.startsWith("tableio."))
    m("tableio.commit_s") = calls.filter(_.name == "tableio.commit").map(_.seconds).sum
    m("tableio.load_s") = calls.filter(_.name == "tableio.load").map(_.seconds).sum
    m("tableio.calls") = calls.size.toDouble
    val segNames = tracer.spans.filter(s => s.key.isDefined && !Kernels.Layers.contains(s.name))
      .map(_.name).distinct
    m("tableio.bytes_written_mb") = segNames.map(n => tracer.totalsOf(n).outputBytes).sum / mb
    val stageSecs = tracer.spans.filter(_.name.startsWith("stage.")).map(_.seconds).sum
    m("trace.uncovered_share") = 1.0 - stageSecs / run.seconds
    val overhead =
      if (!w.stream) traced.wall - untracedWall
      else {
        def total(key: String, r: Rep) = r.progress.map(_.getOrElse(key, 0L)).sum / 1000.0
        def med(key: String) = median(untraced.map(total(key, _)))
        m("streaming.add_batch_s") = med("addBatch")
        m("streaming.wal_commit_s") = med("walCommit")
        m("streaming.query_planning_s") = med("queryPlanning")
        m("streaming.compact_s") = tracer.secondsOf("streaming.compact")
        tracer.spans.filter(_.name.startsWith("batch.")).map(_.seconds).sum - med("addBatch")
      }
    m("trace.overhead_s") = overhead
    m("jvm.heap_peak_mb") = median(untraced.map(_.heapMb))

    // the trace artifact: every span, each layer's self time, the overhead
    val epoch = tracer.spans.map(_.startNs).min
    val spanJson = tracer.spans.sortBy(_.startNs).map { s =>
      ListMap("name" -> s.name, "start_s" -> (s.startNs - epoch) / 1e9,
        "end_s" -> (s.endNs - epoch) / 1e9, "parent" -> s.parent, "run_id" -> runId,
        "self_s" -> tracer.selfSeconds(s))
    }
    val selfByLayer = tracer.spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(tracer.selfSeconds).sum
    }
    val artifact = work.resolve("traces").resolve(s"$runId.json")
    Files.createDirectories(artifact.getParent)
    Files.writeString(artifact, Json(ListMap(
      "run_id" -> runId, "workload" -> w.name, "seed" -> a.seed, "nproc" -> nproc,
      "traced_wall_s" -> traced.wall, "untraced_wall_s_median" -> untracedWall,
      "untraced_walls_s" -> untraced.map(_.wall), "tracing_overhead_s" -> overhead,
      "self_s" -> ListMap(selfByLayer.toSeq.sortBy(_._1): _*),
      "metrics" -> m, "spans" -> spanJson)) + "\n")
    println(s"trace artifact: $artifact")
    PerLayer.foreach { case (k, u) => println(s"layer $k = ${m(k)} $u") }
    (ListMap(m.toSeq: _*), kernels.problems ++ traced.problems)
  }
}
