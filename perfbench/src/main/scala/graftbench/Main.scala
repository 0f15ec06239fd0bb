package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.dsl.LazyFrame
import graftbench.Json.Raw

/** One benchmark run: one workload, one seed, one JVM, one client issuing
  * the workload's keys in a closed loop (each key starts when the previous
  * one returned), through the library's public query registry.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <bench dir> <work dir>
  *
  * Prints a `RECORD {...}` line (conf, host probes, per-key figures) and a
  * `RESULT {...}` line with the metrics; run.py turns them into the
  * benchmark's output. */
object Main {

  final case class Workload(name: String, data: String, keys: Seq[String], parquetSink: Boolean)

  /** The 15 keys of the library's headline bench record. */
  val headline: Seq[String] = Seq(
    "agg_tpch_q1", "agg_sum_two_keys", "agg_count_distinct", "agg_dynamic_1h",
    "join_inner", "join_left_agg", "join_star", "join_asof_backward",
    "win_rank", "win_rolling_time", "topk_global", "explode_words",
    "text_quality", "dedup_near_pairs", "sim_bruteforce_topk")

  val workloads: Seq[Workload] = Seq(
    Workload("interactive_sf0.1", "sf0.1", headline, parquetSink = false),
    Workload("etl_x5", "x5", Seq(
      "agg_tpch_q1", "agg_sum_two_keys", "agg_count_distinct", "agg_dynamic_1h",
      "join_inner", "join_left_agg", "join_asof_backward", "win_rank"), parquetSink = true))

  /** Timed passes an untraced run makes at least. Passes keep speeding up
    * for about a minute of JIT warm-up, so a run that stopped at a time
    * budget after fewer passes when the host was slow would take its median
    * from an earlier, slower pass than other runs. */
  val MinPasses = 3

  /** Tables that keep their size in a scaled replica (TPC-H dimensions). */
  val fixedTables: Set[String] = Set("region", "nation")

  // ---- session -------------------------------------------------------------

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val echoedConf: Seq[String] = Seq(
    "spark.master", "spark.sql.extensions", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
    "spark.sql.timeType.enabled", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.ui.enabled")

  // ---- host probes (explain drift; never used to adjust a figure) -----------

  @volatile private var blackhole = 0L

  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def timedMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  def hostProbe(): Map[String, Double] = {
    val cpus = Runtime.getRuntime.availableProcessors
    val cpu = timedMs { blackhole ^= spin(200000000L) }
    val par = timedMs {
      val ts = (1 to cpus).map(_ => new Thread(() => { blackhole ^= spin(50000000L) }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    Map("host.cpu_spin_ms" -> cpu, "host.par_spin_ms" -> par)
  }

  // ---- helpers --------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Pooled percentile (nearest rank). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def read(path: File): JsonNode = new ObjectMapper().readTree(path)

  // ---- one run --------------------------------------------------------------

  /** One key execution: Right(latency ns) or Left(error). */
  type Sample = (String, Either[String, Long])

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    args.headOption match {
      case Some("digest") => digestMain(args.drop(1))
      case Some("selftest") => selftest()
      case Some("keys") => workloads.foreach(w => println(s"KEYS ${w.data} ${w.keys.mkString(" ")}"))
      case _ => run(args)
    }
  }

  def run(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, benchDir, workDir) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = workloads.find(_.name == wName).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $wName"))
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(workDir)
    val dataDir = (if (w.data == "sf0.1") new File(benchDir, "data/sf0.1")
      else new File(work, s"data/${w.data}")).getPath
    val outDir = new File(work, s"out/${w.name}")

    var probeMs = 0.0
    def probe(): Map[String, Double] = {
      val t0 = System.nanoTime(); val r = hostProbe(); probeMs += (System.nanoTime() - t0) / 1e6; r
    }
    val hostPre = probe()

    // ---- set-up: session, input check, one untimed warm-up pass ------------
    val tSession = System.nanoTime()
    val spark = session(work)
    val sessionBuildS = (System.nanoTime() - tSession) / 1e9
    checkInputs(spark, new File(benchDir, "inputs.json"), w.data, dataDir)
    val queries = SparkEntry.queries
    val fns = w.keys.map(k => k -> queries(k)).toMap

    def sink(k: String, df: DataFrame): Unit =
      if (w.parquetSink) LazyFrame(df).sinkParquet(new File(outDir, k).getPath)
      else df.write.format("noop").mode("overwrite").save()

    // the noop workloads' results are digested by the warm-up pass, whose
    // sink is the digest; a parquet sink's files are read back after the
    // timed passes instead
    val warmDigests = mutable.Map.empty[String, (Long, String)]

    def pass(p: Int, rec: Option[Recorder] = None, spans: mutable.Buffer[KeySpan] = null,
             digest: Boolean = false): Seq[Sample] = {
      if (w.parquetSink) { deleteTree(outDir); outDir.mkdirs() }
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(w.keys)
      order.map { k =>
        val span = rec.map { r =>
          val s = new KeySpan(k, p, System.currentTimeMillis()); r.current = s; s
        }
        val t0 = System.nanoTime()
        val res = try {
          val df = fns(k)(spark, dataDir)
          span.foreach(_.tBuilt = System.currentTimeMillis())
          if (digest && !w.parquetSink) warmDigests(k) = Digest.of(df) else sink(k, df)
          val ns = System.nanoTime() - t0
          System.err.println(f"[bench] pass $p%d $k%s ${ns / 1e9}%.3f s")
          Right(ns)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $k failed: ${e.getClass.getName}: ${e.getMessage}")
            Left(e.getClass.getName)
        }
        for (r <- rec; s <- span) {
          s.t1 = System.currentTimeMillis()
          if (s.tBuilt == 0L) s.tBuilt = s.t1
          r.finish(s)
          spans += s
        }
        k -> res
      }
    }

    val tWarm = System.nanoTime()
    val warm = pass(-1, digest = true)
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs - probeMs) / 1e3

    val gcBefore = gcMs()
    val rec = if (trace) Some(new Recorder(spark)) else None
    val spans = mutable.ArrayBuffer.empty[KeySpan]
    val u = mutable.ArrayBuffer.empty[Seq[Sample]]
    val t = mutable.ArrayBuffer.empty[Seq[Sample]]
    if (trace) { rec.get.attach(); pass(-2) } // settle pass: untimed, untraced
    val tTimed = System.nanoTime()
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    // whole passes, started while the budget lasts (and, untraced, until there
    // are MinPasses); a traced run alternates untraced and traced passes,
    // swapping their order in every pair, so the overhead ratio compares
    // passes equally far from the warm-up
    while (elapsed < seconds || (!trace && u.size < MinPasses)) {
      if (!trace) u += pass(u.size)
      else {
        val i = u.size
        def untracedPass(): Unit = u += pass(2 * i)
        def tracedPass(): Unit = t += pass(2 * i + 1, rec, spans)
        if (i % 2 == 0) { untracedPass(); tracedPass() } else { tracedPass(); untracedPass() }
      }
    }
    val untraced = u.toSeq
    val traced = t.toSeq
    val gcTimed = gcMs() - gcBefore
    val storagePeak = rec.map(_.storagePeak).getOrElse(0L) // before the kernels' own input
    val kernels = if (trace) Kernels.measure(spark, seed) else Nil

    // ---- output check ---------------------------------------------------------
    val expected = read(new File(benchDir, "expected.json")).path(w.data)
    val checks: Seq[(String, Either[String, (Long, String)])] = w.keys.map { k =>
      val got = try {
        if (w.parquetSink) Right(Digest.of(spark.read.parquet(new File(outDir, k).getPath)))
        else warmDigests.get(k).toRight("failed in the warm-up pass")
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val e = expected.path(k)
      k -> got.flatMap { case (rows, dig) =>
        if (e.isMissingNode) Left("no expected digest")
        else if (rows != e.path("rows").asLong() || dig != e.path("digest").asText())
          Left(s"got rows=$rows digest=$dig, expected rows=${e.path("rows").asLong()} digest=${e.path("digest").asText()}")
        else Right((rows, dig))
      }
    }
    val sinkFiles = if (w.parquetSink)
      w.keys.map(k => Option(new File(outDir, k).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))).sum else 0
    if (w.parquetSink) deleteTree(outDir)
    val conf = echoedConf.map(k => k -> spark.conf.getOption(k).getOrElse(
      spark.sparkContext.getConf.get(k, ""))).toMap
    val hostPost = probe()
    spark.stop()

    // ---- figures ------------------------------------------------------------
    val all = untraced ++ traced
    val badKeys = checks.collect { case (k, Left(_)) => k }.toSet
    val attempted = all.map(_.size).sum
    val failed = all.flatten.count { case (k, r) => r.isLeft || badKeys(k) }
    val perKey: Map[String, Seq[Double]] = w.keys.map { k =>
      k -> untraced.flatten.collect { case (`k`, Right(ns)) => ns / 1e9 }
    }.toMap
    val keyMedians = w.keys.flatMap(k => perKey(k).headOption.map(_ => k -> median(perKey(k))))
    val pooled = perKey.values.flatten.toSeq
    val passS = median(untraced.map(passSeconds))
    val rssMb = vmHwmKb() / 1024.0

    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "query_geomean_s" -> (geomean(keyMedians.map(_._2)), "s"))

    val rowsOut = checks.collect { case (_, Right((rows, _))) => rows }.sum
    val perLayer: Seq[(String, (Double, String))] = if (!trace) Nil else {
      val byPass = spans.groupBy(_.pass).values.toSeq
      def perPass(f: KeySpan => Double): Double = median(byPass.map(_.map(f).sum))
      def count(name: String): Double = perPass(_.counts(name))
      // driver gap (clipped to the key's wall) plus the stage union as the
      // scheduler saw it: off 1 when stages fall outside the key's window
      val accounting = spans.map(s => s.key ->
        (if (s.wallMs <= 0) 1.0 else (s.driverGapMs + s.stageUnionMs).toDouble / s.wallMs))
      val tracedPassS = median(traced.map(passSeconds))
      val tracedKeyMed = w.keys.map { k =>
        k -> median(traced.flatten.collect { case (`k`, Right(ns)) => ns / 1e9 })
      }.toMap
      def sumKeys(p: String => Boolean) =
        w.keys.filter(p).map(k => tracedKeyMed(k)).filterNot(_.isNaN).sum
      def unitOf(name: String) = name.split("[._]").last match {
        case u @ ("ms" | "bytes" | "rows") => u
        case _ => "count"
      }
      val layerCounts = Seq("plan.optimize_ms", "plan.physical_ms", "plan.exchanges",
        "plan.global_sorts", "plan.broadcasts", "sched.jobs", "sched.stages", "sched.tasks",
        "sched.stage_wall_ms", "sched.task_failures", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
        "shuffle.read_bytes", "shuffle.write_bytes", "spill.disk_bytes", "spill.memory_bytes",
        "scan.rows", "scan.bytes", "sink.bytes").map(n => n -> (count(n), unitOf(n)))
      Seq(
        "dsl.build_ms" -> (perPass(_.buildMs.toDouble), "ms"),
        "driver.gap_ms" -> (perPass(_.driverGapMs.toDouble), "ms")) ++ layerCounts ++ Seq(
        "scan.rows_per_row_out" -> (count("scan.rows") / math.max(1L, rowsOut), "ratio"),
        "sink.rows" -> (rowsOut.toDouble, "rows"),
        "sink.files" -> (sinkFiles.toDouble, "count"),
        "text.dedup_s" -> (sumKeys(_.startsWith("dedup_")), "s"),
        "ml.similarity_s" -> (sumKeys(_.startsWith("sim_")), "s"),
        "storage.peak_bytes" -> (storagePeak.toDouble, "bytes"),
        "session.build_s" -> (sessionBuildS, "s"),
        "warmup_s" -> (warmupS, "s"),
        "jvm.gc_ms" -> (gcTimed, "ms"),
        "jvm.peak_heap_mb" -> (peakHeapMb(), "MB"),
        "peak_rss_mb" -> (rssMb, "MB"),
        "query_p90_s" -> (percentile(pooled, 0.9), "s"),
        "failed_frac" -> (failed.toDouble / math.max(1, attempted), "ratio"),
        "trace.overhead_ratio" -> (tracedPassS / passS, "ratio"),
        "trace.accounted_min" -> (accounting.map(_._2).min, "ratio"),
        "trace.accounted_max" -> (accounting.map(_._2).max, "ratio"),
        "trace.keys_unaccounted" -> (accounting.collect {
          case (k, a) if math.abs(a - 1) > 0.10 => k }.distinct.size.toDouble, "count")) ++
        kernels.flatMap { case (n, mn, md) =>
          Seq(s"kernel.${n}_ns_row_min" -> (mn, "ns/row"), s"kernel.${n}_ns_row_med" -> (md, "ns/row"))
        }
    }

    if (trace) writeSpans(new File(work, s"trace/${w.name}-seed$seed.json"), w.name, seed, spans.toSeq)

    println("RECORD " + Json.obj(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "data" -> w.data, "conf" -> conf,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "host_pre" -> hostPre, "host_post" -> hostPost,
      "passes" -> untraced.size, "traced_passes" -> traced.size,
      "pooled_samples" -> pooled.size,
      "pass_s_all" -> untraced.map(passSeconds),
      "warmup_failed" -> warm.collect { case (k, Left(e)) => k -> e }.toMap,
      "q" -> keyMedians.map { case (k, v) => s"q.${k}_s" -> v }.toMap,
      "checks" -> checks.map { case (k, c) => k -> c.fold(e => Map("error" -> e),
        { case (rows, d) => Map("rows" -> rows, "digest" -> d) }) }.toMap))
    val metrics = (if (trace) perLayer else endToEnd).map { case (n, (v, u)) =>
      n -> Raw(Json.obj("value" -> v, "unit" -> u))
    }.toMap
    println("RESULT " + Json.obj("correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics))
  }

  def passSeconds(p: Seq[Sample]): Double = p.collect { case (_, Right(ns)) => ns }.sum / 1e9

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def peakHeapMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def vmHwmKb(): Double = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
    _.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(Double.NaN)
  }

  /** Input check: every table is present with the row count the fixture
    * manifest gives (times the replica factor), read from parquet footers. */
  def checkInputs(spark: SparkSession, manifest: File, data: String, dir: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val m = read(manifest)
    val factor = if (data == "sf0.1") 1L else m.path("replica_factor").asLong()
    val hconf = spark.sparkContext.hadoopConfiguration
    m.path("sf0.1").fields().asScala.foreach { e =>
      val t = e.getKey
      val want = if (fixedTables(t)) e.getValue.asLong() else e.getValue.asLong() * factor
      val f = new File(dir, s"$t.parquet")
      val files = if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(f)
      val got = files.map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.getPath), hconf))
        try r.getRecordCount finally r.close()
      }.sum
      require(got == want, s"input $f has $got rows, expected $want")
    }
  }

  def writeSpans(f: File, workload: String, seed: Long, spans: Seq[KeySpan]): Unit = {
    f.getParentFile.mkdirs()
    val body = spans.map { s =>
      Raw(Json.obj("key" -> s.key, "pass" -> s.pass, "start_ms" -> s.t0, "end_ms" -> s.t1,
        "build_ms" -> s.buildMs, "driver_gap_ms" -> s.driverGapMs,
        "stage_union_ms" -> s.stageUnionMs,
        "jobs" -> s.jobs.map { case (id, st, en) =>
          Map("job" -> id, "start_ms" -> st, "end_ms" -> en) },
        "stages" -> s.stages.map { case (id, att, sub, done, tasks) =>
          Map("stage" -> id, "attempt" -> att, "submit_ms" -> sub, "complete_ms" -> done,
            "tasks" -> tasks) },
        "counts" -> s.counts.toMap))
    }
    java.nio.file.Files.writeString(f.toPath,
      Json.obj("workload" -> workload, "seed" -> seed, "spans" -> body))
  }

  // ---- expected digests and self-test --------------------------------------

  /** digest <work dir> <dump dir> <key>...: digests of graft.Verify dumps,
    * one `key rows digest` line each. */
  def digestMain(args: Array[String]): Unit = {
    val spark = session(new File(args(0)))
    args.drop(2).foreach { k =>
      val (rows, d) = Digest.of(spark.read.parquet(s"${args(1)}/$k"))
      println(s"DIGEST $k $rows $d")
    }
    spark.stop()
  }

  /** The digest ignores row order and float jitter below its rounding, and
    * any one-row change flips it. */
  def selftest(): Unit = {
    val work = java.nio.file.Files.createTempDirectory("selftest").toFile
    val spark = session(work)
    try {
      import spark.implicits._
      val base = Seq((1L, "a", 1.0 / 3), (2L, "b", 2.5), (3L, null, -0.0)).toDF("k", "s", "x")
      val d0 = Digest.of(base)
      val cases = Seq(
        "reordered" -> (base.orderBy($"k".desc), true),
        "ulp jitter" -> (Seq((1L, "a", 1.0 / 3 + 1e-16), (2L, "b", 2.5), (3L, null, 0.0))
          .toDF("k", "s", "x"), true),
        "one value" -> (Seq((1L, "a", 1.0 / 3), (2L, "c", 2.5), (3L, null, 0.0))
          .toDF("k", "s", "x"), false),
        "null vs empty" -> (Seq((1L, "a", 1.0 / 3), (2L, "b", 2.5), (3L, "", 0.0))
          .toDF("k", "s", "x"), false),
        "dropped row" -> (base.filter($"k" =!= 2), false),
        "duplicated row" -> (base.union(base.filter($"k" === 2)), false))
      val bad = cases.filter { case (_, (df, same)) => (Digest.of(df) == d0) != same }
      cases.foreach { case (n, (_, same)) =>
        println(s"selftest ${if (bad.exists(_._1 == n)) "FAIL" else "ok"}: $n " +
          s"(${if (same) "same" else "different"} digest expected)")
      }
      if (bad.nonEmpty) sys.exit(1)
    } finally { spark.stop(); deleteTree(work) }
  }
}
