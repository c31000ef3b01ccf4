package pipebench

import graft.core._
import graft.export.Exporter
import graft.incremental.IntervalRunner
import graft.models.{CurationModels, OmicidxModels}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import scala.collection.mutable

/** One model run or query call inside a timed iteration. */
final case class Step(name: String, layer: String, startMs: Double,
    durS: Double, ok: Boolean)

/** One timed iteration: its wall, its steps, the output checks it made
  * (name → passed) and, on traced iterations, the per-layer roll-up. */
final case class IterResult(wallS: Double, steps: Seq[Step],
    checks: Seq[(String, Boolean)], layer: Map[String, Double])

final case class Ctx(spark: SparkSession, work: Path, seed: Long, tiny: Boolean) {
  def dir(name: String): String = work.resolve(name).toString
}

/** The listeners and span log of a traced iteration. */
final case class Traced(tracer: Tracer, log: SpanLog)

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  /** Timed iterations every untraced run makes; the tail percentile pools
    * them. A batch DAG run includes its JIT and codegen cost: one cold
    * iteration. */
  def minIters: Int = 1
  def setup(): Unit
  def iterate(runId: String, traced: Option[Traced]): IterResult
  /** Output checks made once, after the timed loop. */
  def verify(): Seq[(String, Boolean)]

  /** Runs one set-up phase and reports its wall on stderr. */
  protected def phase[A](name: String)(f: => A): A = {
    val (a, s) = Clock.time(f)
    System.err.println(f"[pipebench] setup phase $name ${s}%.2fs")
    a
  }

  protected def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  protected def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  protected def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  protected def clearCaches(): Unit = {
    graft.queries.CurationOps.clearCache()
    graft.queries.DedupOps.clearCache()
    graft.queries.SimilarityOps.clearCache()
    graft.queries.IndexOps.clearCache()
    graft.queries.TextOps.clearCache()
  }

  /** Span tree and per-layer numbers of one traced window [t0, t1]. `direct`
    * holds the benchmark's own timed calls as (name, kind, start, end). */
  protected def rollup(tr: Traced, runId: String, t0: Double, t1: Double,
      steps: Seq[Step], direct: Seq[(String, String, Double, Double)],
      totals: TaskTotals, codegenDelta: (Long, Double)): Map[String, Double] = {
    val (actions, jobs) = tr.tracer.take()
    val log = tr.log
    val iterStart = (direct.map(_._3) :+ t0).min
    val iterEnd = (direct.map(_._4) :+ t1).max
    val root = log.add(0, runId, "iteration", "bench", iterStart, iterEnd)
    val run = log.add(root, runId, "run", "bench", t0, t1)
    val stepSpans = steps.map { s =>
      s -> log.add(run, runId, s.name, s"step.${s.layer}", s.startMs,
        s.startMs + s.durS * 1000)
    }
    direct.foreach { case (n, k, a, b) =>
      log.add(if (a >= t0 && b <= t1) run else root, runId, n, k, a, b)
    }
    def enclosing(at: Double): Long = stepSpans.collectFirst {
      case (s, id) if at >= s.startMs && at <= s.startMs + s.durS * 1000 => id
    }.getOrElse(if (at >= t0 && at <= t1) run else root)

    val wh = ctx.dir("warehouse"); val exp = ctx.dir("export")
    def under(p: String, dir: String) = p == dir || p.startsWith(dir + "/")
    def classify(a: Action): String =
      if (a.outPaths.exists(under(_, s"$wh/meta"))) "core.meta_write"
      else if (a.outPaths.exists(under(_, s"$exp/catalog.parquet"))) "export.catalog"
      else if (a.outPaths.exists(under(_, exp))) "export.write"
      else if (a.outPaths.exists(under(_, wh))) "warehouse.write"
      else if (a.func == "count" && a.inPaths.exists(under(_, s"$wh/bronze")))
        "incremental.recount"
      else "spark.action"
    val actionSpan = mutable.Map[Long, Long]()
    actions.sortBy(a => (a.rootId != a.execId, a.startMs)).foreach { a =>
      val parent = if (a.rootId != a.execId)
        actionSpan.getOrElse(a.rootId, enclosing(a.startMs)) else enclosing(a.startMs)
      actionSpan(a.execId) = log.add(parent, runId,
        if (a.func.isEmpty) s"exec-${a.execId}" else a.func, classify(a),
        a.startMs, a.endMs)
    }
    jobs.foreach { j =>
      val parent = j.execId.flatMap(actionSpan.get).getOrElse(enclosing(j.startMs))
      log.add(parent, runId, s"job-${j.id}", "spark.job", j.startMs, j.endMs)
    }

    val rootActions = actions.filter(a => a.rootId == a.execId)
    def sumS(kind: String) =
      rootActions.filter(classify(_) == kind).map(a => a.endMs - a.startMs).sum / 1000
    val sparkBusy = rootActions.map(a => (a.startMs, a.endMs)) ++
      jobs.filter(_.execId.isEmpty).map(j => (j.startMs, j.endMs))
    val models = steps.filter(s => Metrics.layers.contains(s.layer))
    val gapS = models.map(s => s.durS -
      Intervals.covered(sparkBusy, s.startMs, s.startMs + s.durS * 1000) / 1000).sum
    def phase(p: String) = actions.map(_.phasesMs.getOrElse(p, 0.0)).sum / 1000
    def directS(kind: String) =
      direct.filter(_._2 == kind).map(d => d._4 - d._3).sum / 1000
    Map(
      "sources.raw_derive_s" -> models.filter(_.layer == "raw").map(_.durS).sum,
      "sources.scan_mb" -> totals.inputBytes / 1e6,
      "sources.scan_rows" -> totals.inputRecords.toDouble,
      "sources.rows_read_per_row_written" ->
        (if (totals.outputRecords > 0) totals.inputRecords.toDouble / totals.outputRecords else 0.0),
      "core.plan_s" -> directS("core.plan"),
      "core.gap_s" -> gapS,
      "core.meta_write_s" -> sumS("core.meta_write"),
      "core.models_run" -> models.size.toDouble,
      "core.models_failed" -> models.count(!_.ok).toDouble,
      "incremental.missing_s" -> directS("incremental.missing"),
      "incremental.recount_s" -> sumS("incremental.recount"),
      "export.write_s" -> sumS("export.write"),
      "export.catalog_s" -> directS("export.catalog"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> totals.stages.toDouble,
      "spark.tasks" -> totals.tasks.toDouble,
      "spark.analysis_s" -> phase("analysis"),
      "spark.optimization_s" -> phase("optimization"),
      "spark.planning_s" -> phase("planning"),
      "spark.codegen_compiles" -> codegenDelta._1.toDouble,
      "spark.codegen_s" -> codegenDelta._2,
      "spark.shuffle_write_mb" -> totals.shuffleWrite / 1e6,
      "spark.shuffle_read_mb" -> totals.shuffleRead / 1e6,
      "spark.spill_mb" -> totals.spill / 1e6,
      "spark.executor_cpu_s" -> totals.cpuNs / 1e9,
      "spark.gc_s" -> totals.gcMs / 1e3) ++
      Metrics.layers.map(l =>
        s"core.model_s.$l" -> models.filter(_.layer == l).map(_.durS).sum) ++
      models.map(s => s"core.model_s.${s.name}" -> s.durS)
  }

  /** Steps of a DAG run; failed models are reported on stderr. */
  protected def dagSteps(results: Seq[RunResult]): Seq[Step] = {
    results.filter(_.status != "success").foreach(r => System.err.println(
      s"[pipebench] model ${r.model} ${r.status}: ${r.error.getOrElse("")}"))
    results.map(r => Step(r.model, r.layer, r.startedAtMs.toDouble,
      r.durationS, r.status == "success"))
  }

  /** Re-times every audit after the run, outside run_s; total seconds. */
  protected def retimeAudits(models: Seq[Model], cfg: EngineConfig,
      t: Traced, runId: String): Double =
    (for (m <- models; a <- m.audits) yield {
      val a0 = Clock.nowMs
      spark.sql(Model.render(a.violationSql, cfg)).count()
      val a1 = Clock.nowMs
      t.log.add(0, runId, s"audit:${a.name}", "core.audit", a0, a1)
      (a1 - a0) / 1000
    }).sum

  /** Codegen compiles since `before`; the time is the compile count times
    * the mean of the compile-time histogram (Spark keeps no running sum). */
  protected def codegenSince(before: (Long, Double)): (Long, Double) = {
    val (n, mean) = codegen()
    val d = n - before._1
    (d, d * mean / 1000)
  }
}

/** The omicidx model DAG over a generated lake (cold build or daily
  * refresh), plus mart export and `catalog.json`. */
abstract class OmicidxWorkload(c: Ctx) extends Workload(c) {
  protected val size: LakeSize = if (ctx.tiny) LakeSize.tiny else LakeSize.full
  protected val lake = new OmicidxLake(spark, size, ctx.seed)
  protected val baseLake: String = ctx.dir("lake")
  protected val wh: String = ctx.dir("warehouse")
  protected val exp: String = ctx.dir("export")
  protected val models: Seq[Model] = OmicidxModels.catalog(OmicidxModels.lakeSources)
  protected val bronze: Seq[Model] = models.filter(_.layer == "bronze")

  protected def config(root: String, warehouse: String, export: String,
      end: LocalDate): EngineConfig =
    EngineConfig(root, warehouse, export,
      Map("start_ds" -> lake.start.toString, "end_ds" -> end.toString))

  /** Runs the DAG and writes catalog.json; returns the run results. */
  protected def build(cfg: EngineConfig): Seq[RunResult] = {
    val res = new DagRunner(spark, cfg, models,
      Some(new MetaStore(spark, cfg.warehouseDir))).run()
    Exporter.writeCatalogJson(spark, cfg.exportDir, s"seed-${ctx.seed}")
    res
  }

  protected def catalogLists(export: String, version: String): Boolean = {
    val json = Files.readString(java.nio.file.Paths.get(export, "catalog.json"))
    json.contains("\"version\": \"" + version + "\"") &&
    models.flatMap(_.export).forall { e =>
      val name = e.relPath.split('/').last
      json.contains("\"file_name\": \"" + name + "\"")
    }
  }

  /** Lint over the generated lake: every model derives and pins its schema. */
  protected def lintClean(): Boolean = {
    val cfg = config(baseLake, wh, exp, lake.dayD.minusDays(1))
    val v = Lint.violations(spark, cfg, models)
    v.foreach { case (m, why) => System.err.println(s"[pipebench] lint $m: $why") }
    v.isEmpty
  }

  protected def inputBytes: Long

  /** One timed DAG + catalog iteration over `cfg` (state reset beforehand
    * by the caller). */
  protected def runIteration(runId: String, traced: Option[Traced],
      cfg: EngineConfig, expectedRows: Long): IterResult = {
    val runner = new DagRunner(spark, cfg, models,
      Some(new MetaStore(spark, cfg.warehouseDir)))
    val direct = mutable.ArrayBuffer[(String, String, Double, Double)]()
    def span[A](name: String, kind: String)(f: => A): A = {
      val a = Clock.nowMs; val r = f; direct += ((name, kind, a, Clock.nowMs)); r
    }
    val start = LocalDate.parse(cfg.startDs); val end = LocalDate.parse(cfg.endDs)
    var missing = 0L
    traced.foreach { t =>
      t.tracer.start()
      span("plan", "core.plan")(runner.plan())
      bronze.foreach { m =>
        missing += span(s"missing:${m.name}", "incremental.missing")(
          IntervalRunner.missingIntervals(spark, s"${cfg.warehouseDir}/bronze/${m.name}",
            start, end)).size
      }
    }
    val cg0 = codegen()
    val t0 = Clock.nowMs
    val results = runner.run()
    val c0 = Clock.nowMs
    val catalogOk = try {
      span("writeCatalogJson", "export.catalog")(
        Exporter.writeCatalogJson(spark, cfg.exportDir, runId))
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[pipebench] writeCatalogJson failed: $e"); false
    }
    val t1 = Clock.nowMs
    val steps = dagSteps(results) :+
      Step("writeCatalogJson", "export", c0, (t1 - c0) / 1000, catalogOk)
    val mart = results.find(_.model == "sra_metadata").map(_.rows).getOrElse(-1L)
    val checks = Seq(
      "all models succeed" -> results.forall(_.status == "success"),
      s"sra_metadata rows = $expectedRows" -> (mart == expectedRows),
      "catalog.json is this run's and lists every export" ->
        catalogLists(cfg.exportDir, runId))
    val layer = traced.map { t =>
      val totals = t.tracer.taskTotals()
      val cg = codegenSince(cg0)
      val cached = cachedMb()
      val base = rollup(t, runId, t0, t1, steps, direct.toSeq, totals, cg)
      val audits = retimeAudits(models, cfg, t, runId)
      t.tracer.stop(); t.tracer.take()
      val (whMb, whFiles) = writtenSince(wh, t0)
      val (expMb, expFiles) = writtenSince(exp, t0)
      val windowDays = ChronoUnit.DAYS.between(start, end) + 1
      base ++ Map(
        "core.audit_s" -> audits,
        "incremental.dates_recomputed_frac" ->
          missing.toDouble / (windowDays * bronze.size),
        "incremental.partitions_written" -> bronzeEntries(t0, "_ds=", markers = false),
        "incremental.marker_files" -> bronzeEntries(t0, "_ds=", markers = true),
        "export.mb" -> expMb, "export.files" -> expFiles,
        "warehouse.write_mb" -> whMb, "warehouse.files" -> whFiles,
        "warehouse.write_amp" -> (whMb + expMb) * 1e6 / inputBytes,
        "cache.mb" -> cached)
    }.getOrElse(Map.empty)
    IterResult((t1 - t0) / 1000, steps, checks, layer)
  }

  /** MB and files written under `dir` since `t0` (modification time). */
  private def writtenSince(dir: String, t0: Double): (Double, Double) = {
    var bytes, files = 0L
    val p = java.nio.file.Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          Files.getLastModifiedTime(f).toMillis >= t0.toLong)
        .forEach { f => bytes += Files.size(f); files += 1 }
      finally s.close()
    }
    (bytes / 1e6, files.toDouble)
  }

  /** `_ds=` partition directories (or interval markers) of the bronze
    * tables written since `t0`. */
  private def bronzeEntries(t0: Double, prefix: String, markers: Boolean): Double =
    bronze.map { m =>
      val dir = java.nio.file.Paths.get(wh, "bronze", m.name)
      val d = if (markers) dir.resolve("_intervals") else dir
      if (!Files.exists(d)) 0L
      else {
        val s = Files.list(d)
        try s.filter(f => f.getFileName.toString.startsWith(prefix) &&
            Files.getLastModifiedTime(f).toMillis >= t0.toLong).count()
        finally s.close()
      }
    }.sum.toDouble
}

/** Empty warehouse → full DAG over the whole base lake → export + catalog. */
final class OmicidxBuild(c: Ctx) extends OmicidxWorkload(c) {
  private var lakeBytes = 0L
  protected def inputBytes: Long = lakeBytes
  private var lintOk = false

  def setup(): Unit = {
    phase("generate lake")(lake.writeBase(baseLake))
    lakeBytes = Files2.du(java.nio.file.Paths.get(baseLake))._1
    lintOk = phase("lint")(lintClean())
  }

  def iterate(runId: String, traced: Option[Traced]): IterResult = {
    Files2.delete(java.nio.file.Paths.get(wh)); Files2.delete(java.nio.file.Paths.get(exp))
    runIteration(runId, traced, config(baseLake, wh, exp, lake.dayD.minusDays(1)),
      lake.sraMetadataRows(withBatch = false))
  }

  def verify(): Seq[(String, Boolean)] = Seq("lint clean" -> lintOk)
}

/** Warehouse pre-built through D−1; each iteration restores it, then runs
  * the DAG over [start, D] with the day-D batch landed. As on the daily
  * cron's ephemeral runner, only the warehouse persists between days: the
  * run exports into an empty export dir. */
final class OmicidxDaily(c: Ctx) extends OmicidxWorkload(c) {
  private val snapWh = ctx.dir("snap_warehouse")
  private var batchBytes = 0L
  protected def inputBytes: Long = batchBytes
  private var reference = Map.empty[String, String]
  override def minIters: Int = 3

  private def tables(warehouse: String): Seq[(String, String)] =
    models.filter(m => m.layer == "bronze" || m.name == "sra_metadata")
      .map(m => m.name -> s"$warehouse/${m.layer}/${m.name}")

  private def hashes(warehouse: String): Map[String, String] =
    Par.map(tables(warehouse)) { case (n, p) =>
      n -> Determinism.canonicalHash(spark.read.parquet(p))
    }.toMap

  def setup(): Unit = {
    import java.nio.file.Paths
    phase("generate lake and batch") {
      lake.writeBase(baseLake)
      val before = Files2.du(Paths.get(baseLake))._1
      lake.landBatch(baseLake)
      batchBytes = Files2.du(Paths.get(baseLake))._1 - before
      System.err.println(s"[pipebench] batch: $batchBytes bytes")
    }
    // The reference is a cold build through D over the landed lake. The
    // D−1 state is that build minus day D's partitions and interval
    // markers: bronze then holds exactly [start, D−1], and the mart, which
    // every run rewrites in full, keeps its layout.
    val cold = phase("cold build through D")(build(config(baseLake, snapWh, exp, lake.dayD)))
    require(cold.forall(_.status == "success"), "cold build through D failed")
    reference = phase("reference hashes")(hashes(snapWh))
    bronze.foreach { m =>
      val dir = Paths.get(snapWh, "bronze", m.name)
      Files2.delete(dir.resolve(s"_ds=${lake.dayD}"))
      Files2.delete(dir.resolve("_intervals").resolve(s"_ds=${lake.dayD}"))
      Files2.delete(dir.resolve("_intervals").resolve(s"._ds=${lake.dayD}.crc"))
    }
  }

  def iterate(runId: String, traced: Option[Traced]): IterResult = {
    import java.nio.file.Paths
    Files2.delete(Paths.get(wh)); Files2.delete(Paths.get(exp))
    Files2.copy(Paths.get(snapWh), Paths.get(wh))
    runIteration(runId, traced, config(baseLake, wh, exp, lake.dayD),
      lake.sraMetadataRows(withBatch = true))
  }

  def verify(): Seq[(String, Boolean)] = {
    val got = hashes(wh)
    reference.toSeq.sortBy(_._1).map { case (n, h) =>
      s"$n equals cold build through D" -> got.get(n).contains(h)
    }
  }
}

/** Corpus sizes: documents and embeddings. */
object CorpusSize {
  def apply(tiny: Boolean): (Int, Int) = if (tiny) (200, 100) else (1500, 600)
}

/** The 6-model curation DAG over a generated documents corpus. */
final class Curation(c: Ctx) extends Workload(c) {
  private val corpus = ctx.dir("corpus")
  private val wh = ctx.dir("warehouse")
  private val exp = ctx.dir("export")
  private val (docs, vecs) = CorpusSize(ctx.tiny)
  private var docBytes = 0L
  private lazy val cfg = EngineConfig(corpus, wh, exp)

  def setup(): Unit = {
    phase("generate corpus")(Corpus.write(spark, corpus, docs, vecs, ctx.seed))
    docBytes = Files2.du(java.nio.file.Paths.get(corpus, "documents.parquet"))._1
  }

  def iterate(runId: String, traced: Option[Traced]): IterResult = {
    import java.nio.file.Paths
    Files2.delete(Paths.get(wh)); Files2.delete(Paths.get(exp))
    clearCaches()
    val runner = new DagRunner(spark, cfg, CurationModels.catalog,
      Some(new MetaStore(spark, wh)))
    val direct = mutable.ArrayBuffer[(String, String, Double, Double)]()
    traced.foreach { t =>
      t.tracer.start()
      val a = Clock.nowMs; runner.plan(); direct += (("plan", "core.plan", a, Clock.nowMs))
    }
    val rdd0 = persistentIds()
    val cg0 = codegen()
    val t0 = Clock.nowMs
    val results = runner.run()
    val t1 = Clock.nowMs
    val steps = dagSteps(results)
    val checks = Seq("all models and audits succeed" ->
      results.forall(_.status == "success"))
    val layer = traced.map { t =>
      val totals = t.tracer.taskTotals()
      val cg = codegenSince(cg0)
      val built = (persistentIds() -- rdd0).size.toDouble
      val cached = cachedMb()
      val base = rollup(t, runId, t0, t1, steps, direct.toSeq, totals, cg)
      val audits = retimeAudits(CurationModels.catalog, cfg, t, runId)
      t.tracer.stop(); t.tracer.take()
      val (whB, whF) = Files2.du(Paths.get(wh))
      val (expB, expF) = Files2.du(Paths.get(exp))
      base ++ Map("core.audit_s" -> audits,
        "export.mb" -> expB / 1e6, "export.files" -> expF.toDouble,
        "warehouse.write_mb" -> whB / 1e6, "warehouse.files" -> whF.toDouble,
        "warehouse.write_amp" -> (whB + expB).toDouble / docBytes,
        "cache.rdds_built" -> built, "cache.mb" -> cached)
    }.getOrElse(Map.empty)
    IterResult((t1 - t0) / 1000, steps, checks, layer)
  }

  def verify(): Seq[(String, Boolean)] = {
    val missed = Corpus.missedExactPairs(spark.table("dedup_clusters"))
    Seq(s"planted recall = 1 (${Corpus.plantedExactPairs(docs)} exact pairs)" ->
      (missed == 0))
  }
}

/** One closed-loop client running the 13 corpus queries in payer-before-
  * consumer order, caches cleared at the start of every pass. */
final class CorpusQueries(c: Ctx) extends Workload(c) {
  private val corpus = ctx.dir("corpus")
  private val (docs, vecs) = CorpusSize(ctx.tiny)
  private val builders = Metrics.corpusQueries.map(q => q -> graft.SparkEntry.queries(q))
  private var warm = Map.empty[String, String]
  /** Canonical hash of an empty result: a hash that differs has rows. */
  private val EmptyHash = Determinism.canonicalHash(spark.emptyDataFrame)
  override def minIters: Int = 2

  private def hashOf(q: String): String =
    Determinism.canonicalHash(builders.toMap.apply(q)(spark, corpus))

  def setup(): Unit = {
    phase("generate corpus")(Corpus.write(spark, corpus, docs, vecs, ctx.seed))
    // untimed warm-up pass; its result hashes are the reference
    clearCaches()
    warm = phase("warm-up pass")(Metrics.corpusQueries.map(q => q -> hashOf(q)).toMap)
  }

  def iterate(runId: String, traced: Option[Traced]): IterResult = {
    clearCaches()
    traced.foreach(_.tracer.start())
    val cg0 = codegen()
    val steps = mutable.ArrayBuffer[Step]()
    val built = mutable.Map[String, Double]()
    val shuffle = mutable.Map[String, Double]()
    var trio = TaskTotals()
    var before = traced.map(_.tracer.taskTotals())
    val t0 = Clock.nowMs
    var excluded = 0.0 // bus drains between queries are not part of run_s
    builders.foreach { case (q, fn) =>
      val ids0 = persistentIds()
      val a = Clock.nowMs
      val ok = try {
        fn(spark, corpus).write.format("noop").mode("overwrite").save(); true
      } catch {
        case e: Exception =>
          System.err.println(s"[pipebench] $q failed: $e"); false
      }
      val b = Clock.nowMs
      steps += Step(q, "query", a, (b - a) / 1000, ok)
      val d0 = Clock.nowMs
      built(q) = (persistentIds() -- ids0).size.toDouble
      traced.foreach { t =>
        val now = t.tracer.taskTotals()
        val d = now - before.get
        shuffle(q) = d.shuffleWrite / 1e6
        if (Metrics.shuffleTrio.contains(q))
          trio = trio.copy(shuffleIoMs = trio.shuffleIoMs + d.shuffleIoMs,
            runMs = trio.runMs + d.runMs)
        before = Some(now)
      }
      excluded += Clock.nowMs - d0
    }
    val t1 = Clock.nowMs
    val wall = (t1 - t0 - excluded) / 1000
    val layer = traced.map { t =>
      val totals = t.tracer.taskTotals()
      val cg = codegenSince(cg0)
      val base = rollup(t, runId, t0, t1, steps.toSeq, Nil, totals, cg)
      t.tracer.stop(); t.tracer.take()
      base ++ steps.map(s => s"queries.${Metrics.short(s.name)}_s" -> s.durS) ++
        Metrics.shuffleTrio.map(q => s"queries.${Metrics.short(q)}_shuffle_mb" -> shuffle(q)) ++
        Map("queries.trio_shuffle_io_share" ->
            (if (trio.runMs > 0) trio.shuffleIoMs / trio.runMs else 0.0),
          "cache.rdds_built" -> built.values.sum,
          "cache.consumer_rdds_built" ->
            Metrics.consumers.toSeq.map(built.getOrElse(_, 0.0)).sum,
          "cache.mb" -> cachedMb())
    }.getOrElse(Map.empty)
    IterResult(wall, steps.toSeq, Nil, layer)
  }

  def verify(): Seq[(String, Boolean)] =
    Metrics.corpusQueries.map { q =>
      s"$q hash equals warm-up and rows > 0" ->
        (hashOf(q) == warm(q) && warm(q) != EmptyHash)
    }
}
