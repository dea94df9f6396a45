package perfbench

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.graftshim.Shim
import graft.pipeline.Backfill
import graft.sinks.EventSink
import perfbench.Main.{Ctx, Done, Request, Workload}

/** The benchmark's workloads. Each is one closed-loop client; see
  * BENCHMARK.json for why each was chosen. */
object Workloads {

  def make(name: String): Workload = name match {
    case "backfill_full" => new BackfillFull
    case "serve_warm" => new Serve(ServeQueries)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Index-backed serves, one per index family: IVF ANN, BM25 from
    * postings, phrase search from positional postings, and semantic
    * incremental dedup. Hybrid search, the PQ/OPQ and int8 ANN serves,
    * the maintained and churned indexes and MinHash incremental dedup
    * are left out: their index builds (1–4 s each on four cores) would
    * push every run's three set-ups past the run budget. */
  val ServeQueries: Seq[String] = Seq("sim_topk_ivf", "bm25_from_index",
    "phrase_from_index", "semantic_dedup_incremental")

  /** Seeded permutation for round `n`. The seed is mixed first:
    * `java.util.Random` seeded with consecutive values gives nearly the
    * same first draws, so rounds would repeat a handful of orders. */
  def shuffled[A](xs: Seq[A], seed: Long, n: Int): Seq[A] =
    new scala.util.Random(new java.util.SplittableRandom(seed * 1000003L + n).nextLong())
      .shuffle(xs)

  // ---------------------------------------------------------------- backfill

  type Checksums = Map[String, (Long, Long)]

  def checksums(feed: DataFrame): Checksums =
    Backfill.feedChecksum(feed).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The optimized plan of the feed a request writes must still build
    * the envelope JSON; a plan that prunes it would time nothing. */
  def assertEnvelope(feed: DataFrame): Unit = {
    // the optimizer replaces to_json with an invoke of its evaluator
    def isToJson(e: Expression): Boolean = e match {
      case _: StructsToJson => true
      case Invoke(Literal(v, _), "evaluate", _, _, _, _, _, _) =>
        v != null && v.getClass.getSimpleName == "StructsToJsonEvaluator"
      case _ => false
    }
    val found = Shim.optimized(feed).collect { case p => p.expressions }.flatten
      .count(_.find(isToJson).nonEmpty)
    if (found < Backfill.defaultEntities.size) throw new IllegalStateException(
      s"optimized backfill plan builds the envelope to_json in $found branches")
  }

  /** One backfill request: `Backfill.run` with `cfg`, written through
    * `EventSink.Parquet` into its own directory of the sink root. */
  final class BackfillRequest(val label: String, cfg: Backfill.Config) extends Request {
    def run(ctx: Ctx, tr: Trace, id: String): () => Done = {
      val spark = ctx.spark
      val sink = sinkRoot(ctx).resolve(s"req=$id")
      val src = cfg.source
      val traced = cfg.copy(source = (s, d, e) => tr.span(s, "sources.load")(src(s, d, e)))
      val feed = tr.span(spark, "pipeline.run")(Backfill.run(spark, ctx.data, traced))
      tr.span(spark, "sinks.write")(EventSink.write(feed, EventSink.Parquet(sink.toString)))
      () => {
        val files = Files.walk(sink)
        val parts = try files.filter(p => p.getFileName.toString.startsWith("part-")).count()
          finally files.close()
        tr.add("sinks.files_written", parts.toDouble)
        Done(0, Main.dirBytes(sink), None)
      }
    }
  }

  def sinkRoot(ctx: Ctx): java.nio.file.Path = ctx.scratch("sink")

  /** Reads every request's sink back in one pass and compares its
    * `Backfill.feedChecksum` per entity with the expected source feed. */
  def verifySinks(ctx: Ctx, samples: Seq[Main.Sample],
      expected: Checksums): Seq[Main.Sample] = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val feed = ctx.spark.read.parquet(sinkRoot(ctx).toString)
      .withColumn("entity", concat_ws("/", col("req"), col("entity")))
    val got = checksums(feed).toSeq.groupBy(_._1.takeWhile(_ != '/'))
      .map { case (req, xs) => req -> xs.map { case (k, v) => k.dropWhile(_ != '/').drop(1) -> v }.toMap }
    samples.map { s =>
      val g = got.getOrElse(s.id, Map.empty)
      s.copy(rows = g.values.map(_._1).sum, error = s.error.orElse(
        if (g == expected) None else Some(s"${s.label} (${s.id}): sink $g != source $expected")))
    }
  }

  /** All merchants, full history of the default entities, parquet source. */
  final class BackfillFull extends Workload {
    val tables = Seq("orders", "lineitem")
    /** None: the last set-up's request ran in the session the loop uses,
      * after two more in this JVM. */
    val warmup = 0
    private var expected: Checksums = Map.empty
    private val request = new BackfillRequest("full", Backfill.Config())

    /** The warm-up request. */
    def prepare(ctx: Ctx, tr: Trace): Unit = request.run(ctx, tr, "setup")

    def reference(ctx: Ctx): Unit = {
      val feed = Backfill.run(ctx.spark, ctx.data)
      assertEnvelope(feed)
      expected = checksums(feed)
    }

    def round(ctx: Ctx, n: Int): Seq[Request] = Seq(request)

    override def verify(ctx: Ctx, samples: Seq[Main.Sample]): Seq[Main.Sample] =
      verifySinks(ctx, samples, expected)
  }

  // ---------------------------------------------------------------- queries

  /** `SparkEntry.queries(name)` built and fully consumed per request;
    * indexes are built by the set-up's first pass. */
  final class Serve(names: Seq[String]) extends Workload {
    val tables = Seq("documents", "embeddings")
    val warmup = 16
    private var expected: Map[String, Consume.Digest] = Map.empty
    private val setupDigests = scala.collection.mutable.Map[String, Consume.Digest]()

    private def request(name: String) = new Request {
      val label = name
      def run(ctx: Ctx, tr: Trace, id: String): () => Done = {
        val df = tr.span(ctx.spark, "operators.build")(
          graft.SparkEntry.queries(name)(ctx.spark, ctx.data))
        val d = tr.span(ctx.spark, "operators.consume")(Consume.digest(df))
        () => Done(d.rows, d.bytes, expected.get(name) match {
          case Some(e) if e.key == d.key => None
          case e => Some(s"$name: digest ${d.key} != set-up ${e.map(_.key)}")
        })
      }
    }

    def prepare(ctx: Ctx, tr: Trace): Unit = names.foreach { n =>
      val d = Consume.digest(graft.SparkEntry.queries(n)(ctx.spark, ctx.data))
      ctx.spark.catalog.clearCache()
      setupDigests.get(n).foreach { prev =>
        if (prev.key != d.key) throw new IllegalStateException(
          s"$n: set-up ${ctx.setupIndex} digest ${d.key} != ${prev.key}")
      }
      setupDigests(n) = d
    }

    def reference(ctx: Ctx): Unit = expected = setupDigests.toMap

    def round(ctx: Ctx, n: Int): Seq[Request] = shuffled(names, ctx.seed, n).map(request)
  }
}
