package graft.perfbench

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.model.PageRecord
import graft.corpus.CorpusGen
import graft.pipeline.ExtractPipeline
import graft.table.GraftTable
import graft.queries.Queries
import graft.{CycleCanary, SparkEntry}

/** Closed-loop benchmark: one client thread submits one Spark action at a
  * time on local[4]. Started by perfbench/run.py, which documents the
  * command line; BENCHMARK.json documents workloads and metrics.
  *
  *   --trace 0: the timed workload; prints the end-to-end metrics.
  *   --trace 1: the layer ledger (every layer, whatever the workload):
  *              direct single-thread layer calls, then the extract, table
  *              and query paths with the listener recording spans. */
object PerfBench {
  val Cores = 4
  val Target: Set[String] = CorpusGen.TargetWords.toSet
  val Bycatch: Set[String] = CorpusGen.BycatchWords.toSet

  // ---- sizing (docs per corpus; see BENCHMARK.json "sizing") ----------
  val ExtractDocs = 12000L
  val ExtractFiles = 12
  val WarmDocs = 6000L
  /** Warm passes before timed reps; with 4, reps still sped up through
    * the run. The traced run alternates untraced and traced reps, so a
    * trend cancels there and fewer passes do. */
  val WarmPasses = 8
  val TracedWarmPasses = 2
  /** Timed reps (the first ones) that heap_peak_mb covers. */
  val HeapReps = 5
  /** Partitions the traced run's 1-thread leg parses, one job each. */
  val SerialParts = 4
  val TableDocs = 2000L
  val TableBuckets = 32
  val TableBucketsPerWave = 8
  val TableCrashAfterWaves = 2
  val LedgerDocs = 1500

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: String, tmp: String, out: String)

  final case class Metric(name: String, value: Double, unit: String)

  /** Counts checked operations; every failed check is one failed op. */
  final class Checks {
    var attempted = 0L
    var failed = 0L
    def apply(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] CHECK FAILED: $what") }
    }
  }

  /** First docId of the seed's corpus: seeds pick disjoint 1M-id windows,
    * all with 9-digit ids so page sizes do not drift with the seed. */
  def docBase(seed: Long): Long = 100000000L + java.lang.Math.floorMod(seed, 800L) * 1000000L

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("root"), kv("tmp"), kv("out"))
    Queries.auxDumpEnabled = false
    CycleCanary.warm()
    val canaryBefore = CycleCanary.run()
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val checks = new Checks
    val ctx = new Ctx(spark, a, checks, sessionS)
    val (metrics, detail) =
      try {
        if (a.trace) Ledger.run(ctx)
        else a.workload match {
          case "extract_scan" => ExtractScan.timed(ctx)
          case "query_suite"  => QuerySuite.timed(ctx)
        }
      } finally spark.stop()
    val canaryAfter = CycleCanary.run()
    val correct = checks.failed == 0 && checks.attempted > 0
    println(Json(ListMap("detail" -> (ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> Cores, "seconds" -> a.seconds,
      // host-window label: evidence only, never used to rescale a metric
      "canary_ms_before" -> canaryBefore, "canary_ms_after" -> canaryAfter,
      "canary_canonical_ms" -> CycleCanary.CanonicalMs) ++ detail))))
    println(Json(ListMap("correct" -> correct, "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> ListMap(metrics.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The one session shape every workload uses. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-run state shared by the workload bodies. */
final class Ctx(val spark: SparkSession, val args: PerfBench.Args,
    val checks: PerfBench.Checks, val sessionS: Double) {
  val tracer = new Tracer(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}")
  val base: Long = PerfBench.docBase(args.seed)

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Label the next actions' jobs; group id = `id` (a span id or a name). */
  def group(id: Any, desc: String): Unit =
    spark.sparkContext.setJobGroup(id.toString, desc, interruptOnCancel = false)

  /** Repeat `op` until `seconds` have passed (at least `minOps` times). */
  def loop[T](minOps: Int)(op: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[T]
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < args.seconds) { out += op(i); i += 1 }
    out.result()
  }

  def pages(path: String): Dataset[PageRecord] = {
    import spark.implicits._
    spark.read.parquet(path).as[PageRecord]
  }

  /** Write the corpus of docIds [from, from + n) as `files` parquet files. */
  def materialize(from: Long, n: Long, files: Int, path: String): Unit = {
    import spark.implicits._
    group("setup", "materialize corpus")
    spark.range(from, from + n, 1, files).map(i => CorpusGen.genDoc(i)._1)
      .write.mode("overwrite").parquet(path)
  }

  /** Materialize three times (set-up is timed as the median of three). */
  def materialize3(from: Long, n: Long, files: Int, path: String): Double =
    Stats.median((1 to 3).map(_ => timeS(materialize(from, n, files, path))._2))
}

/** Old-generation occupancy right after each collection that ends while a
  * window is open, read from the collectors' notifications; no collection
  * is forced. The window's peak is the 75th percentile of these readings:
  * with a fixed 512 MB young generation a window sees 17 to 40
  * collections, and the highest few swing with the point of a query a
  * collection happens to land in. Occupancy after a young collection
  * includes what it promoted, so it grows with the work done in the
  * window: each window covers a fixed amount of work. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  final class Window {
    private val readings = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (p, u) if isOld(p) => u.getUsed }
        if (old.nonEmpty) readings.add(old.sum)
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    private var closedMb = -1.0
    var collections = 0

    /** Stops listening; returns the peak in MB (the last collection's
      * reading if none ended in the window). */
    def close(): Double = {
      if (closedMb < 0) {
        emitters.foreach(_.removeNotificationListener(listener))
        val xs = readings.asScala.toSeq.map(_.toDouble)
        collections = xs.size
        closedMb = (if (xs.nonEmpty) Stats.quantile(xs, 0.75) else
          ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(p => p.getType == MemoryType.HEAP && isOld(p.getName))
            .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum) / 1048576.0
      }
      closedMb
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Python statistics.quantiles' default ("exclusive") method. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n == 1) s.head
    else {
      val pos = p * (n + 1) - 1
      val lo = math.max(0, math.min(n - 2, math.floor(pos).toInt))
      val f = math.max(0.0, math.min(1.0, pos - lo))
      s(lo) + f * (s(lo + 1) - s(lo))
    }
  }
}

/** Minimal JSON rendering for the result lines and ledger files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Per-document checksum of (url, extracted text): 64 bits from two
  * seeded 32-bit murmur hashes, summed (wrapping) over a corpus. */
object DocHash {
  import scala.util.hashing.MurmurHash3.stringHash
  def apply(url: String, text: String): Long = {
    val s = url + "\u0000" + text
    (stringHash(s, 0x1234567).toLong << 32) ^ (stringHash(s, 0x7654321).toLong & 0xffffffffL)
  }
  def docId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong
}

// =======================================================================
// extract_scan: materialized pages -> extractAndScore on scan splits ->
// per-partition (docs, ok, checksum) sink. No shuffle, no write.
// =======================================================================
object ExtractScan {
  import PerfBench._

  final class Corpus(ctx: Ctx) {
    import ctx.spark.implicits._
    val path = s"${ctx.args.tmp}/extract/pages"
    val warmPath = s"${ctx.args.tmp}/extract/warm"
    val materializeS: Double =
      if (ctx.args.trace) ctx.timeS(ctx.materialize(ctx.base, ExtractDocs, ExtractFiles, path))._2
      else ctx.materialize3(ctx.base, ExtractDocs, ExtractFiles, path)
    /** The goldens' checksum, computed from CorpusGen.genGolden; `prepS`
      * times it together with the warm corpus's materialization. */
    val (expected: Long, prepS: Double) = ctx.timeS {
      ctx.materialize(ctx.base + ExtractDocs, WarmDocs, ExtractFiles, warmPath)
      ctx.group("setup", "golden checksum")
      ctx.spark.range(ctx.base, ctx.base + ExtractDocs, 1, Cores)
        .map { i => val g = CorpusGen.genGolden(i); DocHash(g.url, g.extracted_text) }
        .mapPartitions(it => Iterator.single(it.foldLeft(0L)(_ + _))).collect().foldLeft(0L)(_ + _)
    }
    val rdd = scanRdd(path)
    val warmRdd = scanRdd(warmPath)

    /** The timed action's plan: parse + score on the scan splits, reduced
      * per partition to (docs, ok docs, text checksum). */
    def scanRdd(p: String): org.apache.spark.rdd.RDD[(Long, Long, Long)] =
      ExtractPipeline.extractAndScore(ctx.pages(p), 0, Target, Bycatch)
        .mapPartitions { it =>
          var n = 0L; var ok = 0L; var h = 0L
          it.foreach { s => n += 1; if (s.ok) ok += 1; h += DocHash(s.url, s.extracted_text) }
          Iterator.single((n, ok, h))
        }.rdd

    /** One 4-core scan (a span under `parent`, its jobs labelled with the
      * span id); checks the doc count, ok count and checksum. */
    def scan(parent: Long, name: String): Double = ctx.tracer.span(name, "rep", parent) { id =>
      ctx.group(id, "extract_scan rep")
      val (parts, s) = ctx.timeS(rdd.collect())
      val (n, ok, h) = parts.foldLeft((0L, 0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
      ctx.checks(n == ExtractDocs && ok == ExtractDocs && h == expected,
        s"extract scan: docs=$n ok=$ok checksum ${if (h == expected) "ok" else "MISMATCH"}")
      s
    }

    /** The same plan, one partition per job, one job at a time over the
      * first `parts` partitions: the 1-task-thread leg of scaling_eff.
      * Returns (docs parsed, seconds). */
    def serialScan(parts: Int): (Long, Double) = {
      ctx.group("serial", "extract_scan 1-thread leg")
      val (res, s) = ctx.timeS((0 until math.min(parts, rdd.getNumPartitions)).map(p =>
        ctx.spark.sparkContext.runJob(rdd, (it: Iterator[(Long, Long, Long)]) => it.map(_._1).sum, Seq(p)).sum))
      (res.sum, s)
    }

    def warm(passes: Int): Double = ctx.timeS {
      ctx.group("setup", "warm pass")
      (1 to passes).foreach(_ => warmRdd.collect())
    }._2

    /** Untimed byte-exact check of every doc against its golden (the
      * traced run; timed reps check the golden checksum). */
    def goldenCheck(): Unit = {
      ctx.group("check", "golden check")
      val bad = ExtractPipeline.extractAndScore(ctx.pages(path), 0, Target, Bycatch)
        .map(s => if (s.ok && s.extracted_text == CorpusGen.genGolden(DocHash.docId(s.url)).extracted_text) 0L else 1L)
        .reduce(_ + _)
      ctx.checks(bad == 0L, s"extract golden check: $bad docs differ from CorpusGen.genGolden")
    }
  }

  def timed(ctx: Ctx): (Seq[Metric], Map[String, Any]) = {
    val c = new Corpus(ctx)
    val warmS = c.warm(WarmPasses)
    val cpu = collection.mutable.ArrayBuffer.empty[Double]
    val heap = new Heap.Window
    val walls = ctx.loop(HeapReps) { i =>
      val c0 = graft.CpuClock.ms
      val s = c.scan(0, s"rep $i")
      cpu += (graft.CpuClock.ms - c0) / 1e3
      if (i + 1 == HeapReps) heap.close()
      s
    }
    val med = Stats.median(walls)
    val setup = ctx.sessionS + c.materializeS + c.prepS + warmS
    (Seq(
      Metric("setup_s", setup, "s"),
      Metric("work_per_s", ExtractDocs / med, "1/s"),
      Metric("op_p50_s", med, "s"),
      Metric("heap_peak_mb", heap.close(), "MB")),
      ListMap("docs" -> ExtractDocs, "doc_ids" -> s"[${ctx.base}, ${ctx.base + ExtractDocs})",
        "docs_per_s" -> ExtractDocs / med, "rep_walls_s" -> walls, "rep_cpu_s" -> cpu,
        "session_s" -> ctx.sessionS, "materialize_s" -> c.materializeS, "prep_s" -> c.prepS,
        "warm_s" -> warmS, "heap_collections" -> heap.collections))
  }
}

// =======================================================================
// The resumable table (traced run only): GraftTable.runResumable with a
// crash injected after TableCrashAfterWaves waves, then the resume, on a
// fresh table each cycle.
// =======================================================================
object TableResume {
  import PerfBench._

  final case class Cycle(crashS: Double, resumeS: Double, waveMs: Seq[Long], files: Int)

  /** Materialize TableDocs pages, crash after TableCrashAfterWaves waves,
    * resume, check, delete. Each attempt is a span under `parent`; its
    * jobs are labelled with the span id. */
  def cycle(ctx: Ctx, parent: Long): Cycle = {
    val in = s"${ctx.args.tmp}/table/pages"
    val root = s"${ctx.args.tmp}/table/root"
    ctx.materialize(ctx.base, TableDocs, Cores, in)
    def run(attempt: Int, crash: Boolean): GraftTable.RunReport =
      GraftTable.runResumable(ctx.spark, ctx.pages(in), root, TableBuckets, TableBucketsPerWave,
        Target, Bycatch, tasksPerWave = Cores, attempt = attempt,
        failAfterWaves = if (crash) TableCrashAfterWaves else Int.MaxValue, stageInput = true)
    def attempt[T](name: String)(f: => T): (T, Double) =
      ctx.tracer.span(name, "attempt", parent) { id =>
        ctx.group(id, name)
        ctx.timeS(f)
      }
    val (crashed, crashS) = attempt("crashed attempt")(scala.util.Try(run(1, crash = true)))
    ctx.checks(crashed.failed.toOption.exists(_.getMessage.startsWith("injected failure")),
      s"table: the injected crash did not happen ($crashed)")
    val (report, resumeS) = attempt("resume")(run(2, crash = false))
    val cyc = check(ctx, root, report).copy(crashS = crashS, resumeS = resumeS)
    graft.util.Fs.deleteRecursively(new java.io.File(root))
    cyc
  }

  /** committed rows = input rows = distinct urls; lineage n_docs sum =
    * input; one lineage row per bucket; the resume did the rest. */
  private def check(ctx: Ctx, root: String, r: GraftTable.RunReport): Cycle = {
    val spark = ctx.spark
    ctx.group("check", "table check")
    val data = spark.read.parquet(s"$root/data")
      .agg(count(lit(1)), countDistinct(col("url"))).head()
    val lineage = spark.read.parquet(s"$root/lineage")
    val perBucket = lineage.groupBy("bucket").count().agg(count(lit(1)), max("count")).head()
    val ln = lineage.agg(sum("n_docs")).head().getLong(0)
    val waveMs = lineage.select("wall_ms", "ts").distinct().collect().map(_.getLong(0)).toSeq
    val files = new java.io.File(s"$root/data").listFiles().toSeq
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).count(_.getName.endsWith(".parquet"))
    val n = TableDocs
    val resumed = (TableBuckets / TableBucketsPerWave - TableCrashAfterWaves) * TableBucketsPerWave
    ctx.checks(data.getLong(0) == n && data.getLong(1) == n && ln == n &&
      perBucket.getLong(0) == TableBuckets && perBucket.getLong(1) == 1L &&
      r.processed == resumed && r.skipped == TableBuckets - resumed,
      s"table: rows=${data.getLong(0)} distinct=${data.getLong(1)} lineage_docs=$ln " +
        s"buckets=${perBucket.getLong(0)} max_rows_per_bucket=${perBucket.getLong(1)} report=$r (input $n)")
    Cycle(0, 0, waveMs, files)
  }
}

// =======================================================================
// query_suite: a fixed set of SparkEntry queries, every family, on the
// committed sf0.1 tables, each answer fingerprinted and checked against
// the recorded one.
// =======================================================================
object QuerySuite {
  import PerfBench._

  val Families: Seq[(String, Set[Int])] = Seq(
    "tpch" -> (1 to 7).toSet,
    "text" -> Set(8, 9, 10, 11, 12, 27, 28, 33, 39),
    "dedup" -> Set(13, 14, 15, 18, 25, 41),
    "ann" -> Set(16, 24, 26, 34, 35),
    "pipeline" -> Set(17, 19, 20, 40, 42),
    "enrich" -> Set(21, 22, 23, 29, 30, 31, 32, 36, 37, 38))
  def family(q: String): String = {
    val n = q.substring(1, 3).toInt
    Families.find(_._2(n)).map(_._1).getOrElse("other")
  }
  /** The queries a pass runs, in this order: one to two per family, about
    * 30% of the whole suite's first-call time. q15 runs before q25, which
    * composes on q15's pairs, as in the full suite. A pass over all 42
    * takes 62 to 83 s on 4 cores, too long for the number of runs a
    * comparison of two builds makes. */
  val Timed: Seq[String] = Seq("q03_join_revenue", "q09_wordscore", "q15_lsh_near_dup",
    "q16_ann_topk", "q19_resume_lineage", "q22_enrich_join", "q25_dedup_groups")

  final case class Fp(rows: Long, lo: Long, hi: Long) {
    override def toString = s"$rows\t$lo\t$hi"
  }

  private lazy val queries = SparkEntry.queries
  val WarmQuery = "q01_pricing_agg"

  def dataDir(ctx: Ctx) = s"${ctx.args.root}/perfbench/data/sf0.1"
  def fpFile(ctx: Ctx) = s"${ctx.args.root}/perfbench/query_fingerprints.tsv"

  /** Row count plus an order-independent sum of per-row hashes over every
    * column; doubles are compared to 9 significant digits. Computing it is
    * the query's timed action, so every column of every row is produced. */
  def fingerprint(df: DataFrame): Fp = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"c$i")
      (f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
        case _ => c
      }).as(s"c$i")
    }
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    Fp(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** One cold-cache invocation of `name` (a span under `parent`, its jobs
    * labelled with the span id); caches are released afterwards, outside
    * the timed window. */
  def runQuery(ctx: Ctx, name: String, parent: Long): (Double, Fp) = {
    val r = ctx.tracer.span(name, "query", parent) { id =>
      ctx.group(id, name)
      ctx.timeS(fingerprint(queries(name)(ctx.spark, dataDir(ctx))))
    }
    Queries.releaseSwapCaches()
    r.swap
  }

  def expected(ctx: Ctx): Map[String, Fp] = {
    val f = new java.io.File(fpFile(ctx))
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
        case Array(n, r, lo, hi) => n -> Fp(r.toLong, lo.toLong, hi.toLong)
      }.toMap
      finally src.close()
    }
  }

  /** One pass over the Timed queries; returns per-query wall seconds.
    * Result caches that survive between queries (q15's pairs, reused by
    * q25) are dropped first, so each pass recomputes them. */
  def suite(ctx: Ctx, want: Map[String, Fp], parent: Long): Seq[(String, Double)] = {
    Queries.invalidateResultCaches()
    Timed.map { name =>
      val (s, fp) = runQuery(ctx, name, parent)
      ctx.checks(want.get(name).contains(fp), s"$name: fingerprint $fp, recorded ${want.get(name)}")
      name -> s
    }
  }

  /** One warm-up query (untimed, as graft.Bench does), then one pass in
    * which each Timed query runs for the first time in this JVM: each wall
    * includes its plan's code generation, as a user's first call does.
    * The pass is not cut at --seconds: later passes would be warm and
    * measure something else. */
  def timed(ctx: Ctx): (Seq[Metric], Map[String, Any]) = {
    val want = expected(ctx)
    val (_, warmS) = ctx.timeS {
      runQuery(ctx, WarmQuery, 0)
      Queries.invalidateResultCaches()
    }
    val heap = new Heap.Window
    val walls = suite(ctx, want, 0)
    val heapMb = heap.close()
    val xs = walls.map(_._2)
    val suiteS = xs.sum
    (Seq(
      Metric("setup_s", ctx.sessionS + warmS, "s"),
      Metric("work_per_s", xs.size / suiteS, "1/s"),
      Metric("op_p50_s", Stats.median(xs), "s"),
      Metric("heap_peak_mb", heapMb, "MB")),
      ListMap("queries" -> xs.size,
        "data" -> "perfbench/data/sf0.1 (fixed tables; the seed does not apply)",
        "suite_s" -> suiteS, "query_p50_s" -> Stats.median(xs),
        "query_p75_s" -> Stats.quantile(xs, 0.75),
        "query_walls_s" -> ListMap(walls: _*),
        "session_s" -> ctx.sessionS, "warm_s" -> warmS, "heap_collections" -> heap.collections))
  }
}
