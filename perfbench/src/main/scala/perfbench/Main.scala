package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark run: one JVM, one SparkSession, one workload.
  *
  * Usage: perfbench.Main --workload olap|ingest --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR --goldens FILE --out FILE
  *   [--record FILE]
  *
  * It builds the session, warms it up, then runs passes of the workload
  * until `--seconds` have elapsed (at least `minPasses`), checking every
  * op's output against its golden fingerprint. It writes one JSON object
  * to `--out`; with `--trace 1` it also writes the spans and the
  * per-layer table to `--work`.
  */
object Main {
  val TagPrefix = "perfbench:"

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, goldens: Path, out: Path, record: Option[Path])

  /** Seconds after which an op is cancelled and counted as failed. */
  val OpTimeoutS = 60L

  def parse(args: Array[String]): Opts = {
    val kv = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      kv(args(i).stripPrefix("--")) = args(i + 1)
      i += 2
    }
    Opts(kv.getOrElse("workload", "olap"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("data"), Paths.get(kv("work")), Paths.get(kv.getOrElse("goldens", "goldens.tsv")),
      Paths.get(kv("out")), kv.get("record").map(Paths.get(_)))
  }

  /** One op execution: latency and outcome. */
  final case class Sample(op: String, pass: Int, start: Long, end: Long, ok: Boolean, err: String) {
    def seconds: Double = (end - start) / 1e9
  }

  /** Session set-ups per run. The first, timed from `main()` entry, is the
    * session the workload runs on; the others follow the workload in
    * fresh sessions, each through a fresh [[Session.FreshGraft]] loader so
    * it pays graft's class and object initialisation again. setup_s is
    * their median; the per-layer setup.cold_s is JVM start to the end of
    * the first. */
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    var spark = Session.setUp(getClass.getClassLoader, o.data)
    val setups = mutable.ArrayBuffer((System.nanoTime() - t0) / 1e9)
    val coldS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result =
      try {
        val r = new Run(spark, o).execute()
        while (setups.size < SetUps) {
          stop(spark)
          val t1 = System.nanoTime()
          spark = Session.setUp(new Session.FreshGraft, o.data)
          setups += (System.nanoTime() - t1) / 1e9
        }
        System.err.println(s"[perfbench] set-ups: ${setups.map(x => f"$x%.3f").mkString(", ")} s, " +
          f"from JVM start $coldS%.3f s")
        val e2e = r("end_to_end").asInstanceOf[Map[String, Double]] +
          ("setup_s" -> Util.median(setups.toSeq))
        val layers = r("per_layer").asInstanceOf[Map[String, Double]]
        r.updated("setups", setups.toSeq).updated("end_to_end", e2e).updated("per_layer",
          if (o.trace) layers + ("setup.cold_s" -> coldS) else layers)
      } catch { case e: Throwable =>
        e.printStackTrace()
        Map("error" -> e.toString)
      }
    Files.write(o.out, Json.value(result).getBytes(StandardCharsets.UTF_8))
    stop(spark)
    Runtime.getRuntime.halt(0)
  }

  /** stop() with a cap: a stuck task must not keep the JVM alive. */
  private def stop(spark: SparkSession): Unit = {
    val stopper = new Thread(() => try spark.stop() catch { case _: Throwable => () })
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(15000)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Minimal JSON rendering for flat metric maps. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

final class Run(spark: SparkSession, o: Main.Opts) {
  import Main._
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val jobs = new JobListener(TagPrefix)
  private val streams = new StreamListener(TagPrefix)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val goldens: Map[String, Fingerprint] =
    if (!Files.exists(o.goldens)) Map.empty
    else Files.readAllLines(o.goldens).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .collect { case Array(w, op, fp, _*) if w == o.workload => op -> Fingerprint.parse(fp) }
      .toMap
  private val recorded = new ConcurrentHashMap[String, Fingerprint]()
  private val entries = graft.SparkEntry.queries
  private val rng = new scala.util.Random(o.seed)

  // per-op running state for the watchdog: op id -> deadline (nanoTime)
  private val deadlines = new ConcurrentHashMap[String, java.lang.Long]()
  // cache occupancy sampled after each op (traced passes)
  private var cachePeakMb = 0.0
  private var cacheEndMb = 0.0
  // plan shape of every entry op (traced passes)
  private val planNodes = new java.util.concurrent.atomic.AtomicLong()
  private val planExchanges = new java.util.concurrent.atomic.AtomicLong()
  // sources layer byte/file counters
  private val written = new java.util.concurrent.atomic.AtomicLong()
  private val filesWritten = new java.util.concurrent.atomic.AtomicLong()
  private val filesListed = new java.util.concurrent.atomic.AtomicLong()

  private def now = System.nanoTime()

  // ---------------------------------------------------------------- ops

  /** Runs `body` as phase `name` of op `op`: under its own job group
    * (so listener counts attribute to it) and inside a span. */
  private def phase[T](op: String, name: String)(body: => T): T = {
    sc.setJobGroup(s"$op|$name", s"$op|$name", interruptOnCancel = true)
    try tracer.span(op, name, Some("op"))(body)
    finally sc.clearJobGroup()
  }

  /** Runs one op, records its latency, and checks its output. */
  private def runOp(pass: Int, client: Int, idx: Int, name: String, traced: Boolean)(
      body: String => Fingerprint)(check: Fingerprint => Option[String]): Unit = {
    val op = s"p$pass.c$client.$idx.$name"
    sc.addJobTag(TagPrefix + op)
    val t0 = now
    deadlines.put(op, t0 + OpTimeoutS * 1000000000L)
    val outcome =
      try {
        check(tracer.span(op, "op", None)(body(op)))
      } catch { case e: Throwable =>
        val root = Option(e.getCause).getOrElse(e)
        Some(if (deadlines.get(op) == null) s"timed out after ${OpTimeoutS}s"
             else s"error: ${root.toString.take(300)}")
      } finally {
        deadlines.remove(op)
        sc.removeJobTag(TagPrefix + op)
      }
    val t1 = now
    outcome.foreach(f => failures.add(s"$name (pass $pass): $f"))
    samples.add(Sample(name, pass, t0, t1, outcome.isEmpty, outcome.getOrElse("")))
    if (traced) {
      val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      synchronized { cachePeakMb = math.max(cachePeakMb, mb); cacheEndMb = mb }
    }
  }

  /** Compares with the stored golden; in record mode keeps the first
    * output as the golden instead. */
  private def golden(name: String)(fp: Fingerprint): Option[String] =
    if (o.record.nonEmpty) { recorded.putIfAbsent(name, fp); None }
    else goldens.get(name) match {
      case None => Some("no golden")
      case Some(g) if g == fp => None
      case Some(g) => Some(s"output ${fp.show} != golden ${g.show}")
    }

  /** A graft entry point as an op: build, plan, then the checked action. */
  private def entryOp(pass: Int, client: Int, idx: Int, name: String, traced: Boolean): Unit =
    runOp(pass, client, idx, name, traced) { op =>
      val df = phase(op, "queries.build")(entries(name)(spark, o.data))
      phase(op, "plan")(df.queryExecution.executedPlan)
      val fp = phase(op, "exec")(Fingerprint.of(df))
      if (traced) {
        val (n, x) = PlanShape.count(df.queryExecution.executedPlan)
        planNodes.addAndGet(n); planExchanges.addAndGet(x)
      }
      fp
    }(golden(name))

  // ---------------------------------------------------------- workloads

  private val olapOps: Seq[String] =
    (graft.queries.Relational.queries.keys ++ graft.queries.Events.queries.keys).toSeq.sorted
  // near-duplicate entries that run graft.expressions kernels
  // (minhash_bands, simhash64, sign-LSH buckets + cosine_sim) and persist
  // their shared intermediates; the cheapest of graft's curation entries
  private val kernelOps: Seq[String] = Seq("d2_minhash_lsh", "d3_simhash", "d13_embed_neardup")
  // the streaming entries ingest replays: one per state-store shape
  // (window, dedup, session, stream-stream join, heavy hitters), a
  // foreachBatch sink, the available-now trigger and checkpoint recovery
  private val streamOps: Seq[String] = Seq("s1_stream_window", "s2_stream_dedup",
    "s3_stream_session", "s5_stream_join", "s7_stream_foreach_batch",
    "s11_stream_available_now", "s12_stream_checkpoint_recovery",
    "s16_stream_heavy_hitters")

  private def resetCaches(): Unit = {
    spark.catalog.clearCache()
    graft.queries.Pipeline.resetScalarCaches()
    spark.conf.set("spark.sql.shuffle.partitions", Session.Cores.toString)
  }

  /** `clients` threads, each running its seed-assigned share in order. */
  private def closedLoop(pass: Int, ops: Seq[String], clients: Int, traced: Boolean): Unit = {
    val order = rng.shuffle(ops)
    val threads = (0 until clients).map { c =>
      val mine = order.zipWithIndex.filter(_._2 % clients == c)
      val t = new Thread(() => mine.foreach { case (n, i) => entryOp(pass, c, i, n, traced) })
      t.setName(s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private def pass(p: Int, traced: Boolean): Unit = o.workload match {
    case "olap" => closedLoop(p, olapOps, clients = 2, traced)
    case "ingest" =>
      new Landing(p, traced).cycle()
      rng.shuffle(streamOps ++ kernelOps).zipWithIndex.foreach { case (n, i) =>
        entryOp(p, 0, Landing.Steps + i, n, traced) }
  }

  /** The landing cycle through graft.sources: write K seeded slices of
    * lineitem in rotating formats, commit, list, read back and compare
    * with what was written, compact, remove. */
  private final class Landing(p: Int, traced: Boolean) {
    private val zone = o.work.resolve(s"landing/p$p/zone").toString
    private val staging = o.work.resolve(s"landing/p$p/_staging").toString
    private val lineitem = graft.Tables.load(spark, o.data, "lineitem")
    private val schema = lineitem.schema
    private val K = Landing.Slices
    // slices 0..K-2 rotate through the formats from a seeded offset; the
    // last slice is parquet partitioned by l_returnflag
    private val formats = {
      val f = Seq("parquet", "csv", "json", "orc")
      val off = rng.nextInt(f.size)
      (0 until K - 1).map(k => f((k + off) % f.size))
    }
    private val salt = rng.nextLong()
    private def path(k: Int): String =
      if (k < K - 1) s"slice_$k.${formats(k)}" else s"slice_${k}_by_flag.pq"
    private var readBackParquet: Option[Fingerprint] = None

    private def src[T](op: String, name: String)(body: => T): T = phase(op, s"sources.$name")(body)

    private def aligned(df: DataFrame): DataFrame =
      df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

    private def dataFiles(dir: String): Seq[Path] = {
      val root = Paths.get(dir)
      if (!Files.exists(root)) Nil
      else Files.walk(root).iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.startsWith("part-") && !n.endsWith(".crc")
      }.toSeq
    }

    def cycle(): Unit = {
      var idx = 0
      def step(name: String)(body: String => Fingerprint)(check: Fingerprint => Option[String]): Unit = {
        runOp(p, 0, idx, name, traced)(body)(check); idx += 1
      }
      rng.shuffle((0 until K).toList).foreach { k =>
        step(s"land_write_$k") { op =>
          val slice = lineitem.filter(pmod(xxhash64(lit(salt) +: schema.fieldNames.toSeq.map(col): _*),
            lit(K)) === k)
          val stage = s"$staging/${path(k)}"
          src(op, "write") {
            if (k < K - 1) graft.sources.GraftWriter.write(slice, stage, Some(formats(k)))
            else graft.sources.GraftWriter.write(slice, stage, Some("parquet"),
              partitionBy = Seq("l_returnflag"))
          }
          val files = dataFiles(stage)
          if (traced) {
            filesWritten.addAndGet(files.size)
            written.addAndGet(files.map(Files.size).sum)
          }
          src(op, "commit") {
            new java.io.File(zone).mkdirs()
            if (!graft.sources.GraftWriter.moveFile(spark, stage, s"$zone/${path(k)}"))
              throw new IllegalStateException(s"moveFile failed for ${path(k)}")
          }
          Fingerprint(files.size, 0, 0)
        } { fp => if (fp.rows > 0) None else Some("no data file written") }
      }
      var expected = (0L, 0L)
      step("land_list") { op =>
        val (flat, all) = src(op, "list") {
          val ls = graft.sources.GraftReader.listFiles(spark, s"$zone/*")
            .filter(!col("is_dir") && col("path").rlike("/part-[^/]*$") && !col("path").endsWith(".crc"))
            .count()
          val scan = spark.read.format("graft.sources.FileListSource").load(s"$zone/*/*")
            .filter(col("name").startsWith("part-") && !col("name").endsWith(".crc")).count()
          (ls, scan)
        }
        if (traced) filesListed.addAndGet(flat + all)
        val files = dataFiles(zone)
        expected = (files.count(_.getParent.getParent.toString == zone).toLong, files.size.toLong)
        Fingerprint(flat, all, 0)
      } { fp =>
        if ((fp.rows, fp.h1) == expected) None
        else Some(s"listing found (${fp.rows} flat, ${fp.h1} total) data files, the file system has $expected")
      }
      step("land_readback") { op =>
        val parts = src(op, "read") {
          val byFormat = formats.distinct.map(f => aligned(graft.sources.GraftReader.read(spark, s"$zone/slice_*.$f")))
          val flagged = aligned(graft.sources.GraftReader.readUnion(spark,
            Seq(s"$zone/${path(K - 1)}"), "parquet").drop("_file"))
          (byFormat, flagged)
        }
        src(op, "readback") {
          val pq = Fingerprint.of(aligned(graft.sources.GraftReader.read(spark, s"$zone/slice_*.parquet")))
          readBackParquet = Some(pq)
          (parts._1 :+ parts._2).map(Fingerprint.of).reduce(_ + _)
        }
      }(golden("lineitem"))
      step("land_compact") { op =>
        val out = s"$zone/compacted.parquet"
        src(op, "write") {
          graft.sources.GraftWriter.write(
            graft.sources.GraftReader.read(spark, s"$zone/slice_*.parquet").coalesce(1), out)
        }
        val fp = src(op, "readback")(Fingerprint.of(aligned(graft.sources.GraftReader.read(spark, out))))
        src(op, "commit") {
          (0 until K - 1).filter(formats(_) == "parquet")
            .foreach(k => graft.sources.GraftWriter.removeDirectory(spark, s"$zone/${path(k)}"))
        }
        fp
      } { fp => if (readBackParquet.contains(fp)) None else Some("compacted output differs from its inputs") }
      step("land_cleanup") { op =>
        src(op, "commit")(graft.sources.GraftWriter.removeDirectory(spark, o.work.resolve(s"landing/p$p").toString))
        Fingerprint(if (Files.exists(Paths.get(zone))) 1 else 0, 0, 0)
      } { fp => if (fp.rows == 0) None else Some("landing zone still exists") }
    }
  }
  private object Landing { val Slices = 10; val Steps = Slices + 4 }

  // ---------------------------------------------------------------- run

  def execute(): Map[String, Any] = {
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(200)
        deadlines.asScala.foreach { case (op, d) =>
          if (now > d && deadlines.remove(op) != null) sc.cancelJobsWithTag(TagPrefix + op)
        }
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    // Two untraced passes: the first runs in a cold JVM, the second warm.
    // A traced run traces a third pass between two untraced warm ones, so
    // the tracing overhead is read inside one JVM against their mean.
    val minPasses = if (o.trace) 4 else 2
    val walls = mutable.ArrayBuffer.empty[Double]
    // the largest live heap at the end of a pass, before its caches are cleared
    var liveHeapMb = 0.0
    val start = now
    var p = 0
    while (p < minPasses || (!o.trace && (now - start) / 1e9 < o.seconds)) {
      val traced = o.trace && p == 2
      if (traced) { sc.addSparkListener(jobs); spark.streams.addListener(streams); tracer.on = true }
      val t0 = now
      pass(p, traced)
      walls += (now - t0) / 1e9
      System.err.println(f"[perfbench] pass $p${if (traced) " (traced)" else ""}: ${walls.last}%.3fs")
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(jobs); spark.streams.removeListener(streams); tracer.on = false
      }
      liveHeapMb = math.max(liveHeapMb, Util.liveHeapMb())
      resetCaches()
      p += 1
    }
    o.record.foreach { f =>
      // the read-back golden is the input table itself, not what was read
      if (o.workload == "ingest") {
        val direct = Fingerprint.of(graft.Tables.load(spark, o.data, "lineitem"))
        if (Option(recorded.put("lineitem", direct)).exists(_ != direct))
          failures.add("land_readback: read-back differs from the written table")
      }
      val lines = recorded.asScala.toSeq.sortBy(_._1).map { case (n, fp) => s"${o.workload}\t$n\t${fp.show}" }
      Files.write(f, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }

    val all = samples.asScala.toSeq
    writeOps(all)
    val lat = all.filter(_.ok).map(_.seconds)
    val untracedWalls = if (o.trace) walls.take(2).toSeq else walls.toSeq
    val outsideHeapMb = Util.outsideHeapMb()
    val endToEnd = Map(
      "wall_s" -> Util.median(untracedWalls),
      "query_p50_s" -> Stats.hdQuantile(lat, 0.5),
      "query_p90_s" -> Stats.hdQuantile(lat, 0.9),
      "peak_rss_mb" -> (outsideHeapMb + liveHeapMb))
    System.err.println(f"[perfbench] ${o.workload} passes=${walls.size} ops=${all.size} " +
      f"failed=${failures.size} peak memory=$outsideHeapMb%.1f MB outside the heap + $liveHeapMb%.1f MB live heap " +
      f"tail-percentile=${Stats.tailPercentile(lat.size).getOrElse(0)}")
    failures.asScala.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val spans = tracer.spans.asScala.toSeq ++ streams.triggerSpans
        val l = new Layers(spans, jobs, streams, cachePeakMb, cacheEndMb,
          planNodes.get, planExchanges.get, written.get, filesWritten.get, filesListed.get).metrics ++
          Kernels.probe(spark, o.data) ++
          Map("trace.overhead_frac" -> (walls(2) / ((walls(1) + walls(3)) / 2) - 1.0),
            "trace.wall_s" -> walls(2))
        writeTrace(spans, l)
        l
      }
    Map(
      "workload" -> o.workload, "seed" -> o.seed,
      "attempted" -> all.size, "failed" -> failures.size,
      "samples" -> lat.size, "passes" -> walls.size,
      "failures" -> failures.asScala.toSeq.take(20),
      "end_to_end" -> endToEnd, "per_layer" -> layers)
  }

  /** Every op sample as tab-separated text: op, pass, seconds, ok, error. */
  private def writeOps(all: Seq[Sample]): Unit = {
    Files.createDirectories(o.work)
    val lines = all.sortBy(_.start).map(s => f"${s.op}\t${s.pass}\t${s.seconds}%.4f\t${s.ok}\t${s.err}")
    Files.write(o.work.resolve("ops.tsv"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def writeTrace(spans: Seq[Span], layers: Map[String, Double]): Unit = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.start).map(s => Json.obj("op" -> s.op, "name" -> s.name,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
      "parent" -> s.parent.getOrElse(null)))
    Files.createDirectories(o.work)
    Files.write(o.work.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val table = layers.toSeq.sortBy(_._1).map { case (k, v) => f"$k%-44s $v%14.6f" }
    Files.write(o.work.resolve("layers.txt"), (table.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
