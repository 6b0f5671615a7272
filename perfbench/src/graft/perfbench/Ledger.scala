package graft.perfbench

import scala.collection.immutable.ListMap
import graft.GcClock
import graft.corpus.CorpusGen
import PerfBench._

/** The traced run (--trace 1): every layer, whatever the workload.
  *
  *   1. direct single-thread calls into the parser layers (Layers);
  *   2. extract_scan: untraced and traced reps alternating (the listener
  *      attached for the traced ones) -> tracing overhead, executor CPU per doc and its
  *      closure against the layer sum; a 1-thread leg over SerialParts
  *      scan partitions -> scaling_eff;
  *   3. the resumable table: one traced crash + resume cycle, the first
  *      table call in the JVM (like the queries, it includes code generation);
  *   4. query_suite: the warm-up query, then one traced first-call pass.
  *
  * Spans are written to <out>/spans-<run>.jsonl and the ledger (metrics,
  * self time per span kind) to <out>/ledger-<run>.json. */
object Ledger {
  def run(ctx: Ctx): (Seq[Metric], Map[String, Any]) = {
    val tr = ctx.tracer
    val sc = ctx.spark.sparkContext
    val listener = new SparkLedger
    val m = ListMap.newBuilder[String, Double]
    def childIds(parent: Long): Set[String] =
      tr.spans.filter(_.parent == parent).map(_.id.toString).toSet

    tr.span("run", "run", 0) { runId =>
      // ---- 1. parser layers, direct calls ------------------------------
      val sample = Layers.Sample((0 until LedgerDocs).map(i => CorpusGen.genDoc(ctx.base + i)._1).toVector)
      val (layerMetrics, layerUsPerDoc) =
        tr.span("layers", "part", runId)(id => Layers.ledger(sample, Target, Bycatch, tr, id))
      m ++= layerMetrics.toSeq.sortBy(_._1)

      // ---- 2. extract_scan ---------------------------------------------
      val c = new ExtractScan.Corpus(ctx)
      c.warm(TracedWarmPasses)
      // untraced and traced reps alternate, so a warm-up trend does not
      // land on one side; the listener sees only the traced reps
      val (extractPart, reps) = tr.span("extract_scan", "part", runId) { pid =>
        (pid, (1 to 3).map { i =>
          val untraced = c.scan(pid, s"untraced rep $i")
          org.apache.spark.PerfBenchBus.drain(sc)
          sc.addSparkListener(listener)
          val gc0 = GcClock.ms
          val traced = c.scan(pid, s"traced rep $i")
          val gcMs = GcClock.ms - gc0
          org.apache.spark.PerfBenchBus.drain(sc)
          sc.removeSparkListener(listener)
          (untraced, traced, gcMs)
        })
      }
      val (untraced, traced) = (reps.map(_._1), reps.map(_._2))
      val gcMs = reps.map(_._3).sum
      sc.addSparkListener(listener)
      val (serialDocs, serialS) = c.serialScan(SerialParts)
      c.goldenCheck()
      val ex = listener.agg(childIds(extractPart))
      val docs = ExtractDocs.toDouble
      val untracedRate = docs / Stats.median(untraced)
      val tracedRate = docs / Stats.median(traced)
      val cpuUsPerDoc = ex.cpuS * 1e6 / (docs * traced.size)
      m += "pipeline.executor_cpu_us_per_doc" -> cpuUsPerDoc
      m += "pipeline.gc_ms" -> gcMs.toDouble / traced.size
      m += "pipeline.tasks" -> ex.tasks.toDouble / traced.size
      m += "pipeline.task_max_over_median" -> ex.taskMaxOverMedian
      m += "pipeline.layer_us_per_doc" -> layerUsPerDoc
      m += "pipeline.closure_ratio" -> layerUsPerDoc / cpuUsPerDoc
      m += "spark.residual_share" -> (cpuUsPerDoc - layerUsPerDoc) / cpuUsPerDoc
      m += "pipeline.scaling_eff" -> untracedRate / (Cores * serialDocs / serialS)
      m += "pipeline.untraced_docs_per_s" -> untracedRate
      m += "pipeline.traced_docs_per_s" -> tracedRate
      m += "trace.overhead_share" -> (untracedRate / tracedRate - 1.0)

      // ---- 3. table_resume ---------------------------------------------
      val (tablePart, cyc) = tr.span("table_resume", "part", runId) { pid =>
        (pid, TableResume.cycle(ctx, pid))
      }
      org.apache.spark.PerfBenchBus.drain(sc)
      val tb = listener.agg(childIds(tablePart))
      val waves = TableBuckets / TableBucketsPerWave
      val waveS = cyc.waveMs.map(_ / 1e3)
      m += "table.docs_per_s" -> TableDocs / (cyc.crashS + cyc.resumeS)
      m += "table.resume_s" -> cyc.resumeS
      m += "table.wave_s_p50" -> Stats.median(waveS)
      m += "table.wave_s_max" -> waveS.max
      m += "table.jobs_per_wave" -> tb.jobs.toDouble / waves
      m += "table.executor_cpu_s" -> tb.cpuS
      m += "table.write_mb" -> tb.writeMb
      m += "table.files_written" -> cyc.files.toDouble
      m += "table.shuffle_write_mb" -> tb.shuffleWriteMb
      m += "table.reparse_ratio" ->
        (tb.accs.getOrElse("graft.docs_ok", 0L) + tb.accs.getOrElse("graft.docs_err", 0L)).toDouble / TableDocs

      // ---- 4. query_suite ----------------------------------------------
      val want = QuerySuite.expected(ctx)
      QuerySuite.runQuery(ctx, QuerySuite.WarmQuery, 0)
      val qgc0 = GcClock.ms
      val (queryPart, walls) = tr.span("query_suite", "part", runId) { pid =>
        (pid, QuerySuite.suite(ctx, want, pid).toMap)
      }
      val qgcS = (GcClock.ms - qgc0) / 1e3
      org.apache.spark.PerfBenchBus.drain(sc)
      val querySpans = tr.spans.filter(_.parent == queryPart)
      m += "queries.suite_s" -> walls.values.sum
      m += "queries.query_p50_s" -> Stats.median(walls.values.toSeq)
      m += "queries.query_p75_s" -> Stats.quantile(walls.values.toSeq, 0.75)
      QuerySuite.Families.foreach { case (f, _) =>
        m += s"queries.$f.wall_s" -> walls.filter(w => QuerySuite.family(w._1) == f).values.sum
      }
      QuerySuite.Timed.foreach { q =>
        val a = listener.agg(querySpans.filter(_.name == q).map(_.id.toString).toSet)
        m += s"queries.$q.wall_s" -> walls(q)
        m += s"queries.$q.jobs" -> a.jobs.toDouble
        m += s"queries.$q.executor_cpu_s" -> a.cpuS
        m += s"queries.$q.shuffle_mb" -> a.shuffleWriteMb
        m += s"queries.$q.task_max_over_median" -> a.taskMaxOverMedian
      }
      val all = listener.agg(querySpans.map(_.id.toString).toSet)
      m += "queries.jobs_total" -> all.jobs.toDouble
      m += "queries.shuffle_mb_total" -> all.shuffleWriteMb
      m += "queries.gc_s_total" -> qgcS
    }

    sc.removeSparkListener(listener)
    listener.spans(tr).foreach(tr.add)
    val spans = tr.spans
    val self = SelfTime(spans)
    // driver-side share of the query walls: time inside a query span that
    // no Spark job covers (planning, code generation, job submission gaps)
    val suitePart = spans.find(s => s.kind == "part" && s.name == "query_suite").map(_.id)
    val queries = spans.filter(s => s.kind == "query" && suitePart.contains(s.parent))
    m += "queries.driver_self_share" -> queries.map(q => self(q.id)).sum.toDouble / queries.map(_.durUs).sum
    val byKind = spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ListMap("spans" -> ss.size, "total_s" -> ss.map(_.durUs).sum / 1e6,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e6)
    }
    val metrics = m.result()
    val ledger = ListMap("run" -> tr.runId, "metrics" -> metrics,
      "self_time_by_kind" -> ListMap(byKind.toSeq.sortBy(_._1): _*),
      "self_time_by_part" -> ListMap(spans.filter(_.kind == "part").map { p =>
        p.name -> ListMap("wall_s" -> p.durUs / 1e6, "self_s" -> self(p.id) / 1e6)
      }: _*),
      // spill is not a metric: it stays 0 at these sizes; recorded here so
      // a run where it appears shows it
      "spill_mb" -> ListMap(spans.filter(_.kind == "part").map { p =>
        p.name -> listener.agg(childIds(p.id)).spillMb
      }: _*))
    writeFile(s"${ctx.args.out}/ledger-${tr.runId}.json", Json(ledger) + "\n")
    writeFile(s"${ctx.args.out}/spans-${tr.runId}.jsonl", spans.sortBy(_.startUs).map(s => Json(ListMap(
      "run" -> tr.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id)))).mkString("", "\n", "\n"))
    (metrics.toSeq.map { case (k, v) => Metric(k, v, unitOf(k)) },
      ListMap("ledger" -> s".bench_build/out/ledger-${tr.runId}.json", "spans" -> spans.size))
  }

  def unitOf(name: String): String = {
    val s = name.split('.').last
    if (s.endsWith("ns_per_byte")) "ns/B"
    else if (s.endsWith("us_per_doc")) "us/doc"
    else if (s.endsWith("docs_per_s")) "docs/s"
    else if (s.contains("_mb")) "MB"
    else if (s.endsWith("_ms")) "ms"
    else if (s.matches(".*_s(_p50|_max|_total)?")) "s"
    else if (s.matches("(jobs|tasks|files).*")) "count"
    else "ratio"
  }

  private def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s) finally w.close()
  }
}
