package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: set up, warm up, then closed-loop passes over one
  * workload's queries for a fixed time, checking every result.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *        [--expected FILE] [--write-expected FILE]
  *
  * `--data` holds the generated tables and their `STAMP` (the 10x corpus
  * is kept beside it); `--work` takes every other file the run writes.
  * The last stdout line is the result object.
  */
object Main {
  val SetUps = 3
  val WarmUpS = 20.0
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class Exec(name: String, id: Int, start: Double,
      built: Double, end: Double, rows: Long, ok: Boolean, right: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val baseDir = Paths.get(opt("data")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Seq("tmp", "spark-local", "warehouse", "trace").foreach(d => Files.createDirectories(work.resolve(d)))

    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        // Spark's default cache of 100 generated classes is smaller than
        // one pass of curation_x10 needs, so every pass recompiled ~50
        // classes and the JIT compiled them again; pass times then followed
        // the JIT's progress more than the queries. With room for all of
        // them the timed passes run warm generated code.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up: a fresh session, a first read of every input, and the
    // workload's set-up query called through the engine's entry point and
    // collected once. The first set-up runs from process start (JVM, class
    // loading, the engine's query registry); it also checks the 10x corpus,
    // and the time spent rebuilding a missing or stale one is left out.
    def setUp(s: SparkSession, dir: Path): Unit = {
      Tables.foreach(t => s.read.parquet(dir.resolve(s"$t.parquet").toString).count())
      graft.Registry.queries(w.setUpQuery)(s, dir.toString).collect()
      s.catalog.clearCache()
    }
    var spark = session()
    val g0 = System.nanoTime()
    val (dataDir, stamp) = w.input match {
      case Workloads.Base => (baseDir, read(baseDir.resolve("STAMP")))
      case Workloads.Corpus10x => Corpus.ensure10x(spark, baseDir, baseDir.resolveSibling("x10"))
    }
    val corpusS = (System.nanoTime() - g0) / 1e9
    setUp(spark, dataDir)
    val firstSetUp = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - corpusS
    val setUps = firstSetUp +: (2 to SetUps).map { _ =>
      val t0 = System.nanoTime()
      spark.stop()
      spark = session()
      setUp(spark, dataDir)
      (System.nanoTime() - t0) / 1e9
    }

    val order = new scala.util.Random(seed).shuffle(w.queries)
    val fns = graft.Registry.queries
    val expected = opt.get("expected").map(p => Expected.read(Paths.get(p)))
      .getOrElse(Expected(stamp, Map.empty))
    val wrongNames = mutable.LinkedHashSet.empty[String]
    val observed = mutable.LinkedHashMap.empty[String, ResultHash]
    val batchLog = new BatchLog(spark)
    batchLog.start()
    val tracer = if (traced) Some(new Tracer(spark, batchLog)) else None
    val scratch = new Scratch(Seq("tmp", "warehouse").map(work.resolve))
    val footprints = mutable.Map.empty[Int, Footprint]
    var nextId = 0

    def runQuery(name: String): Exec = {
      spark.catalog.clearCache()
      val id = nextId; nextId += 1
      val before = if (traced) scratch.snapshot() else Map.empty[String, (Long, Long)]
      val start = Clock.ms()
      var built = start
      val result =
        try {
          val df = fns(name)(spark, dataDir.toString)
          built = Clock.ms()
          val rows: Array[Row] = df.collect()
          Right((Clock.ms(), ResultHash.of(df.columns.toSeq, rows)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Left(Clock.ms())
        }
      if (traced) footprints(id) = Footprint.of(before, scratch.snapshot())
      result match {
        case Right((end, h)) =>
          observed(name) = h
          val right = expected.results.get(name).contains(h)
          if (!right) wrongNames += name
          Exec(name, id, start, built, end, h.rows, ok = true, right)
        case Left(end) => Exec(name, id, start, built, end, 0, ok = false, right = false)
      }
    }

    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passJit = mutable.ArrayBuffer.empty[Double]
    val passCodegen = mutable.ArrayBuffer.empty[Long]
    def runPass(pass: Int): (Seq[Exec], Double) = {
      val t0 = Clock.ms()
      val c0 = Proc.cpuS()
      val j0 = Proc.jitS()
      val k0 = Proc.codegenCompiles()
      val ex = order.map(runQuery)
      if (pass > 0) {
        passCpu += Proc.cpuS() - c0
        passJit += Proc.jitS() - j0
        passCodegen += Proc.codegenCompiles() - k0
      }
      (ex, (Clock.ms() - t0) / 1e3)
    }

    // Warm-up: whole passes until WarmUpS seconds have gone by, so JIT
    // compilation of the engine's and Spark's code settles before timing
    // starts. It does not settle fully: pass_jit_s in the detail line shows
    // the JIT time still spent in each timed pass.
    val warm = mutable.ArrayBuffer.empty[Exec]
    val w0 = Clock.ms()
    while (warm.isEmpty || Clock.ms() - w0 < WarmUpS * 1000)
      warm ++= runPass(0)._1
    opt.get("write-expected").foreach { p =>
      Expected(stamp, observed.toMap).write(Paths.get(p))
      println(s"[perfbench] wrote ${observed.size} expected results to $p")
    }
    tracer.foreach(_.start())
    val t0 = Clock.ms()
    val passes = mutable.ArrayBuffer.empty[(Seq[Exec], Double)]
    val scratchAfter = mutable.ArrayBuffer.empty[Long]
    while (passes.isEmpty || Clock.ms() - t0 < seconds * 1000) {
      passes += runPass(passes.size + 1)
      if (traced) scratchAfter += scratch.snapshot().values.map(_._1).sum
    }
    tracer.foreach(_.stop())
    batchLog.stop()

    val all = warm ++ passes.flatMap(_._1)
    val failed = all.count(!_.ok)
    val wrong = all.count(e => e.ok && !e.right)
    val stale = expected.stamp != stamp
    val walls = passes.map(_._2).toSeq
    val lat = passes.flatMap(_._1).map(e => (e.end - e.start) / 1e3).toSeq
    val batches = batchLog.records
    val batchMs = batches.map(b => b.end - b.start)
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "input" -> stamp,
      "expected_input" -> expected.stamp, "cores" -> cores,
      "passes" -> passes.size, "queries_per_pass" -> order.size,
      "order" -> order, "pass_wall_s" -> walls, "pass_cpu_s" -> passCpu.toSeq,
      "pass_jit_s" -> passJit.toSeq,
      "pass_codegen_compiles" -> passCodegen.toSeq,
      "setup_runs_s" -> setUps, "corpus_build_s" -> corpusS,
      "query_samples" -> lat.size,
      "query_median_s" -> passes.flatMap(_._1).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, es) => n -> Stats.median(es.map(e => (e.end - e.start) / 1e3).toSeq) },
      "rss_peak_mb" -> Proc.rssPeakMb(),
      "fail_ratio" -> failed.toDouble / all.size, "wrong_results" -> wrong,
      "wrong" -> wrongNames.toSeq)
    Stats.percentile(lat, 50).foreach(v => detail("query_p50_s") = v)
    Stats.percentile(lat, 90).foreach(v => detail("query_p90_s") = v)
    if (batchMs.nonEmpty) {
      detail("batches") = batchMs.size
      Stats.percentile(batchMs, 50).foreach(v => detail("batch_p50_ms") = v)
      Stats.percentile(batchMs, 90).foreach(v => detail("batch_p90_ms") = v)
      detail("rows_per_s") = batches.map(_.inputRows).sum / (batchMs.sum / 1e3)
    }

    var traceOk = true
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", Stats.median(setUps), "s"),
        ("wall_s", Stats.median(walls), "s"))
      case Some(t) =>
        val layers = new Layers(t, cores, footprints.toMap, scratchAfter.toSeq)
        val m = layers.metrics(passes.toSeq)
        detail ++= layers.checks
        traceOk = layers.jobsAccounted
        Files.write(work.resolve("trace").resolve(s"${w.name}-seed$seed.jsonl"),
          layers.spanLines.asJava, UTF_8)
        m
    }
    spark.stop()

    println(Json.obj(Seq("detail" -> detail.toSeq)))
    val correct = failed == 0 && wrong == 0 && !stale && traceOk &&
      opt.contains("expected")
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) })))
  }

  def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8).trim
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same epoch as Spark's listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Proc {
  /** CPU time this process has used, all threads, in seconds. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent, in seconds. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled (cache misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}

/** The expected result of every query of a workload, built once from a
  * known-good tree and kept beside the benchmark.
  */
final case class Expected(stamp: String, results: Map[String, ResultHash]) {
  def write(p: Path): Unit = {
    val lines = s"# input $stamp" +: results.toSeq.sortBy(_._1).map {
      case (n, h) => s"$n\t${h.rows}\t${h.hex}"
    }
    Files.write(p, lines.asJava, UTF_8)
  }
}

object Expected {
  def read(p: Path): Expected = {
    val lines = Files.readAllLines(p, UTF_8).asScala.toSeq
    val stamp = lines.head.stripPrefix("# input ").trim
    Expected(stamp, lines.tail.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hex) = l.split("\t")
      n -> ResultHash(rows.toLong, java.lang.Long.parseUnsignedLong(hex, 16))
    }.toMap)
  }
}

/** The 10x duplicate-heavy corpus: the key-shift scheme of
  * `graft.tools.ScaleGen` in its docsOnly form, at this host's width.
  */
object Corpus {
  val Copies = 10

  def ensure10x(spark: SparkSession, base: Path, out: Path): (Path, String) = {
    val stamp = s"${Main.read(base.resolve("STAMP"))}/x$Copies"
    val stampFile = out.resolve("STAMP")
    if (!(Files.exists(stampFile) && Main.read(stampFile) == stamp)) {
      deleteTree(out)
      Files.createDirectories(out)
      val width = spark.sparkContext.defaultParallelism
      val copies = spark.range(Copies).select(col("id").as("copy"))
      def stride(df: org.apache.spark.sql.DataFrame, key: String): Long =
        df.agg(org.apache.spark.sql.functions.max(key)).head.getLong(0) + 1
      val docs = spark.read.parquet(base.resolve("documents.parquet").toString)
      val dStride = stride(docs, "doc_id")
      docs.crossJoin(copies)
        .select((col("doc_id") + col("copy") * dStride).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(width).write.parquet(out.resolve("documents.parquet").toString)
      val embs = spark.read.parquet(base.resolve("embeddings.parquet").toString)
      val vStride = stride(embs, "vec_id")
      embs.crossJoin(copies)
        .select((col("vec_id") + col("copy") * vStride).as("vec_id"),
          col("embedding"), (col("label") * Copies + col("copy")).cast("int").as("label"))
        .repartition(width).write.parquet(out.resolve("embeddings.parquet").toString)
      Main.Tables.filterNot(Set("documents", "embeddings")).foreach { t =>
        Files.copy(base.resolve(s"$t.parquet"), out.resolve(s"$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      Files.write(stampFile, stamp.getBytes(UTF_8))
    }
    (out, stamp)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    scala.util.Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
  }
}
