package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/** One benchmark run in one JVM: generate the seeded inputs, set up
  * `SetupRepeats` times (each in a fresh Spark context), then drive the
  * workload's requests in a closed loop with one client until the time
  * is up, checking every output. Writes one JSON result file; the
  * `run.py` wrapper turns it into the benchmark's output line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --root DIR --result FILE
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** `latency_tail_s` is the order statistic with this many samples
    * above it; a run keeps serving until it has one more. */
  val TailBeyond = 10

  /** Traced and untraced requests a traced run needs at least: it
    * reports layer figures only, and needs just enough requests to see
    * each one repeat. */
  val TracedMin = 3

  final class Ctx(val cpus: Int, val root: Path, val seed: Long) {
    val data: String = root.resolve("work").resolve("data").toString
    var spark: SparkSession = _
    var setupIndex = 0
    def scratch(name: String): Path =
      Files.createDirectories(root.resolve("work").resolve(name))
  }

  /** A request's timed part has run; `check` is the untimed rest. */
  final case class Done(rows: Long, bytes: Long, error: Option[String])

  trait Workload {
    def tables: Seq[String]
    /** Untimed requests between set-up and the timed loop. Latency keeps
      * falling for the first requests in a fresh JVM while the JIT
      * compiles the hot paths; a fixed count, not a fixed time, gives
      * every run the same warm-up whatever the host's pace. */
    def warmup: Int
    /** Timed set-up after the session exists: index builds and one
      * request of each kind. */
    def prepare(ctx: Ctx, tr: Trace): Unit
    /** Untimed: the reference results every request is checked against. */
    def reference(ctx: Ctx): Unit
    /** The requests of one round, in a seeded order. The loop stops only
      * at a round boundary, so every run serves the same request mix. */
    def round(ctx: Ctx, n: Int): Seq[Request]
    /** Untimed checks that are cheaper in one pass after the loop; fills
      * in each sample's rows and error. */
    def verify(ctx: Ctx, samples: Seq[Sample]): Seq[Sample] = samples
  }

  trait Request {
    def label: String
    /** Runs the timed part of request `id`; returns the untimed check. */
    def run(ctx: Ctx, tr: Trace, id: String): () => Done
  }

  /** Bench's session settings exactly, plus where the run's files go. */
  def newSession(ctx: Ctx): SparkSession = {
    val k = ctx.setupIndex
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.scratch("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.scratch(s"warehouse-$k").toString)
      .config(graft.operators.Memo.RootConf, ctx.scratch(s"memo-$k").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  /** Driver heap in use after a full collection, in MB. */
  private def heapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  final case class Sample(id: String, label: String, seconds: Double, rows: Long,
      bytes: Long, error: Option[String], traced: Boolean, layers: Map[String, Double])

  private def byLabelMedian(xs: Seq[Sample]): Map[String, Double] =
    xs.groupBy(_.label).map { case (k, v) => k -> median(v.map(_.seconds)) }

  /** Typical request latency: the median per label, averaged over labels.
    * Requests of one label (a query, a request shape) are alike while
    * labels differ several-fold, so a pooled median would hinge on where
    * it falls between two labels. */
  private def typical(xs: Seq[Sample]): Double = {
    val m = byLabelMedian(xs)
    m.values.sum / math.max(1, m.size)
  }

  /** Drives whole rounds of requests until `seconds` have passed and at
    * least `minEach` untraced requests have run, and as many traced ones
    * when there is a listener. With a listener, every second round is
    * traced: the listener is attached for that round only, so traced and
    * untraced rounds interleave and their difference is the tracing
    * overhead. Returns the samples and the next round number. */
  private def loop(ctx: Ctx, w: Workload, tr: Trace, listener: Option[LayerListener],
      seconds: Double, minEach: Int, firstRound: Int): (Seq[Sample], Int) = {
    val out = mutable.ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    var n = firstRound
    def elapsed = (System.nanoTime() - t0) / 1e9
    def short(traced: Boolean) = out.count(_.traced == traced) < minEach
    while (short(false) || (listener.nonEmpty && short(true)) || elapsed < seconds) {
      val traced = listener.filter(_ => (n - firstRound) % 2 == 1)
      traced.foreach { l =>
        ctx.spark.sparkContext.addSparkListener(l)
        ctx.spark.listenerManager.register(l)
        tr.enabled = true
      }
      w.round(ctx, n).zipWithIndex.foreach { case (rq, j) =>
        val id = s"r$n.$j"
        tr.begin(id)
        listener.foreach(_.currentRequest = id)
        val s0 = System.nanoTime()
        val (check, err0) =
          try (rq.run(ctx, tr, id), None)
          catch { case NonFatal(e) => (null, Some(s"${rq.label}: $e")) }
        val s1 = System.nanoTime()
        tr.requestSpan(s0, s1)
        val done =
          if (check == null) Done(0, 0, err0)
          else try check() catch { case NonFatal(e) => Done(0, 0, Some(s"${rq.label} check: $e")) }
        ctx.spark.catalog.clearCache()
        val layers = traced match {
          case Some(l) =>
            Shim.drainListenerBus(ctx.spark)
            Layers.collect(l.take(id), tr.counters.toMap, (s1 - s0) / 1e9, ctx.cpus,
              done.rows)
          case None => Map.empty[String, Double]
        }
        out += Sample(id, rq.label, (s1 - s0) / 1e9, done.rows, done.bytes, done.error,
          traced.isDefined, layers)
      }
      traced.foreach { l =>
        tr.enabled = false
        ctx.spark.listenerManager.unregister(l)
        ctx.spark.sparkContext.removeSparkListener(l)
      }
      n += 1
    }
    (out.toSeq, n)
  }

  private def memoDirs(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val st = Files.list(root)
      try st.toArray.map(_.asInstanceOf[Path])
        .map(p => p.getFileName.toString -> dirBytes(p)).toMap
      finally st.close()
    }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(cpus, Paths.get(opts("root")).toAbsolutePath, opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val w = Workloads.make(opts("workload"))
    val tr = new Trace
    val errors = mutable.ArrayBuffer[String]()

    // inputs: generated once per run from the seed, outside any timing
    ctx.spark = newSession(ctx)
    val g0 = System.nanoTime()
    DataGen.generate(ctx.spark, ctx.data, ctx.seed, w.tables)
    System.err.println(s"[perfbench] inputs generated in ${(System.nanoTime() - g0) / 1e9} s")

    // each set-up writes its memo tables under a root of its own, so
    // what one set-up wrote is that root's content once it is done
    val (setups, setupMemo) = (1 to SetupRepeats).map { k =>
      ctx.setupIndex = k
      ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx)
      w.prepare(ctx, tr)
      val s = (System.nanoTime() - t0) / 1e9
      (s, memoDirs(Paths.get(ctx.spark.conf.get(graft.operators.Memo.RootConf))))
    }.unzip
    // what the ready system holds; after the requests the heap also holds
    // Spark's status records of however many jobs the run managed
    val heapSetupMb = heapMb()
    val r0 = System.nanoTime()
    try w.reference(ctx) catch { case NonFatal(e) => errors += s"reference: $e" }
    val (warm, firstTimed) = loop(ctx, w, tr, None, 0, w.warmup, 0)
    val firstRequestS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val l0 = System.nanoTime()
    val (measured, _) = loop(ctx, w, tr, if (traced) Some(new LayerListener) else None,
      seconds, if (traced) TracedMin else TailBeyond + 1, firstTimed)
    val (traceSamples, samples) = measured.partition(_.traced)
    val overhead = typical(traceSamples) / typical(samples) - 1
    val v0 = System.nanoTime()
    val checked = try w.verify(ctx, warm ++ samples ++ traceSamples) catch {
      case NonFatal(e) => errors += s"verify: $e"; warm ++ samples ++ traceSamples }
    System.err.println(f"[perfbench] set-ups ${setups.sum}%.1f s, reference and warm-up " +
      f"${(l0 - r0) / 1e9}%.1f s, requests ${(v0 - l0) / 1e9}%.1f s, checks " +
      f"${(System.nanoTime() - v0) / 1e9}%.1f s")
    val all = checked.drop(warm.size)
    val failed = all.count(_.error.nonEmpty)
    errors ++= checked.take(warm.size).flatMap(_.error)
    val timed = all.take(samples.size)
    checked.flatMap(_.error).foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    val heapEndMb = heapMb()

    // the tail is the order statistic with ten samples above it among
    // latencies relative to their label's median, scaled by the typical
    // latency
    val labelMedians = byLabelMedian(samples)
    val p50 = typical(samples)
    val rel = samples.map(s => s.seconds / labelMedians(s.label)).sorted
    val tailIdx = rel.size - 1 - TailBeyond // negative only in a traced run
    val reqSeconds = samples.map(_.seconds).sum
    val rows = timed.map(_.rows).sum
    val e2e = Seq(
      "setup_s" -> ("s", median(setups)),
      "latency_p50_s" -> ("s", p50),
      "latency_tail_s" -> ("s", if (tailIdx < 0) Double.NaN else rel(tailIdx) * p50),
      "rows_per_s" -> ("rows/s", rows / reqSeconds),
      "sink_bytes_per_row" -> ("B/row", timed.map(_.bytes).sum.toDouble / math.max(1L, rows)),
      "driver_heap_mb" -> ("MB", heapSetupMb))

    val layerMetrics: Seq[(String, (String, Double))] =
      if (!traced) Seq.empty
      else Layers.summarize(traceSamples.map(_.layers)) ++ Seq(
        "memo.bytes_written" -> ("B", median(setupMemo.map(_.values.sum.toDouble))),
        "memo.dirs_created" -> ("count", median(setupMemo.map(_.size.toDouble))),
        "trace.overhead_frac" -> ("ratio", overhead),
        "trace.nonrepeating" -> ("count",
          Layers.nonRepeating(traceSamples.map(s => s.label -> s.layers)).toDouble +
            (if (setupMemo.map(_.values.sum).distinct.size > 1) 1 else 0)))
    if (traced) tr.writeSpans(Paths.get(opts("result") + ".spans.jsonl"))

    val byLabel = samples.groupBy(_.label).toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":{"n":${v.size},"p50_s":${num(labelMedians(k))}}""" }
    def metricsJson(ms: Seq[(String, (String, Double))]): String =
      ms.map { case (k, (u, v)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val json =
      s"""{"workload":"${opts("workload")}","seed":${ctx.seed},"trace":$traced,""" +
        s""""attempted":${all.size},"failed":$failed,"errors":${errors.size},""" +
        s""""first_error":${(errors ++ checked.flatMap(_.error)).headOption.map(e => "\"" + e.take(300).replace("\\", "/").replace("\"", "'") + "\"").getOrElse("null")},""" +
        s""""end_to_end":${metricsJson(e2e)},"per_layer":${metricsJson(layerMetrics)},""" +
        s""""setups_s":[${setups.map(num).mkString(",")}],"jvm_start_to_first_request_s":${num(firstRequestS)},""" +
        s""""tail_percentile":${if (tailIdx < 0) "null" else num(100.0 * (tailIdx + 1) / rel.size)},""" +
        s""""tail_samples_beyond":${if (tailIdx < 0) "null" else TailBeyond},"heap_after_requests_mb":${num(heapEndMb)},""" +
        s""""requests":${samples.size},"request_seconds":${num(reqSeconds)},"by_label":{${byLabel.mkString(",")}},""" +
        s""""latencies_s":[${samples.map(s => num(s.seconds)).mkString(",")}],""" +
        s""""cpus":$cpus,""" +
        s""""java":"${System.getProperty("java.version")}","spark":"${ctx.spark.version}","data":"${w.tables.mkString(",")}"}"""
    ctx.spark.stop()
    deleteTree(ctx.root.resolve("work"))
    Files.write(Paths.get(opts("result")), (json + "\n").getBytes("UTF-8"))
  }
}
