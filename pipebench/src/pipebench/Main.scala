package pipebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}

/** Pipeline benchmark entry point.
  *
  * Usage: pipebench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --traces <dir> [--size full|tiny]
  *
  * Sets up the workload once, then runs timed iterations until `--seconds`
  * have passed (at least the workload's `minIters`) and checks the outputs. The last
  * stdout line is one JSON object: `correct`, `attempted`, `failed` and
  * `metrics` — the end-to-end metrics untraced, the per-layer metrics
  * traced. A traced run alternates untraced and traced iterations so the
  * tracing overhead is measured inside one run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val tiny = opts.get("size").contains("tiny")
    val work = Paths.get(opt("work")).toAbsolutePath
    val traces = Paths.get(opt("traces")).toAbsolutePath

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.core.GraftSession.tune(
        SparkSession.builder().master(s"local[$cores]").appName("pipebench"),
        math.max(cores, 4))
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[pipebench] setup phase JVM and session ${(Clock.nowMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000}%.2fs")
    val ctx = Ctx(spark, work, seed, tiny)
    val w: Workload = workload match {
      case "omicidx_build" => new OmicidxBuild(ctx)
      case "omicidx_daily" => new OmicidxDaily(ctx)
      case "curation" => new Curation(ctx)
      case "corpus_queries" => new CorpusQueries(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (Clock.nowMs - jvmStart) / 1000
    System.err.println(f"[pipebench] $workload seed=$seed setup ${setupS}%.2fs")

    val log = new SpanLog
    val tracer = if (trace) Some(Traced(new Tracer(spark), log)) else None
    val iters = scala.collection.mutable.ArrayBuffer[(IterResult, Boolean)]()
    // a traced run adds one iteration so that it has traced and untraced ones
    val minIters = if (trace) w.minIters + 1 else w.minIters
    val loopStart = System.nanoTime()
    while (iters.size < minIters || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      // traced runs alternate: even iterations untraced, odd ones traced
      val traced = tracer.filter(_ => iters.size % 2 == 1)
      val r = w.iterate(s"$workload-$seed-${iters.size}", traced)
      System.err.println(f"[pipebench] iteration ${iters.size} ${if (traced.isDefined) "traced" else "untraced"} ${r.wallS}%.3fs")
      iters += ((r, traced.isDefined))
    }
    val (verified, verifyS) = Clock.time(w.verify())
    System.err.println(f"[pipebench] output checks ${verifyS}%.2fs")
    val checks = iters.toSeq.flatMap(_._1.checks) ++ verified
    checks.filterNot(_._2).foreach(c => System.err.println(s"[pipebench] CHECK FAILED: ${c._1}"))
    val steps = iters.toSeq.flatMap(_._1.steps)
    val attempted = steps.size + checks.size
    val failed = steps.count(!_.ok) + checks.count(!_._2)

    val plain = iters.toSeq.filterNot(_._2).map(_._1)
    val samples = plain.flatMap(_.steps.map(_.durS))
    val (tail, tailPct, tailN) = Metrics.tail(plain.take(w.minIters).flatMap(_.steps.map(_.durS)))
    System.err.println(f"[pipebench] query_tail_s is p$tailPct%.1f of $tailN samples")
    val e2e = Map(
      "setup_s" -> setupS,
      "run_s" -> Metrics.med(plain.map(_.wallS)),
      "query_p50_s" -> Metrics.med(samples),
      "query_tail_s" -> tail,
      "ok_frac" -> (attempted - failed).toDouble / attempted)

    val metrics: Seq[(String, String, Double)] = if (!trace)
      Metrics.endToEnd.map { case (n, u) => (n, u, e2e(n)) }
    else {
      val traced = iters.toSeq.filter(_._2).map(_._1)
      // the first iteration still warms up, so it stays out of the comparison
      // unless it is the only untraced one
      val untraced = if (plain.size > 1) plain.drop(1) else plain
      val overhead = Metrics.med(traced.map(_.wallS)) - Metrics.med(untraced.map(_.wallS))
      val extra = Map("trace.overhead_s" -> overhead, "trace.spans" -> log.size.toDouble,
        "e2e.query_tail_pct" -> tailPct, "e2e.query_samples" -> tailN.toDouble)
      val tracePath = traces.resolve(s"$workload-seed$seed.spans.jsonl")
      log.write(tracePath)
      System.err.println(s"[pipebench] ${log.size} spans written to $tracePath")
      System.err.println(f"[pipebench] tracing overhead ${overhead}%.3fs on run_s ${e2e("run_s")}%.3fs")
      Metrics.perLayer.map { case (n, u) =>
        (n, u, extra.getOrElse(n, Metrics.med(traced.map(_.layer.getOrElse(n, 0.0)))))
      }
    }
    summary(workload, metrics)
    spark.stop()
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""PIPEBENCH_RESULT {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Human-readable layer summary on stderr. */
  private def summary(workload: String, ms: Seq[(String, String, Double)]): Unit = {
    System.err.println(s"[pipebench] == $workload ==")
    ms.foreach { case (n, u, v) =>
      System.err.println(f"[pipebench]   $n%-42s $v%14.4f $u")
    }
  }
}
