package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic inputs in the layout `graft.Tables.load` reads: one
  * single-file parquet per table, with the schemas the engine pins, and
  * one row group per file, as in the harness data.
  * Every row is a pure function of (seed, table, row id), so the same
  * seed gives the same tables.
  */
object DataGen {

  /** Table sizes. Orders, lineitems and merchants (`Customers`) have
    * the row counts of TPC-H sf0.1, so one full backfill emits about
    * 750k envelope rows. */
  val Customers = 15000
  val Orders = 150000
  val Docs = 1000
  val Vectors = 500

  val Vocab: IndexedSeq[String] = IndexedSeq("a", "the", "row", "scan", "key",
    "agg", "join", "hash", "sort", "part", "line", "data", "table", "value",
    "fast", "slow", "big", "small", "merge", "batch", "spark", "query",
    "order", "group", "filter", "window", "stream", "column", "vector",
    "customer", "index", "shard", "cache", "plan", "stage", "task", "spill")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "es", "zh", "de", "fr")
  val Dim = 64
  val Labels = 10
  private val Day0 = java.time.LocalDate.of(1995, 1, 1)

  private def rng(seed: Long, table: Int, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table * 0x632BE59BD9B4E019L + id)

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private def save(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Writes the named tables (orders, lineitem, documents, embeddings)
    * under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long, tables: Seq[String]): Unit = {
    // orders and lineitem at their sf0.1 row counts, generated on the
    // executors: every value is a hash of (seed, table, field, row)
    def h(table: Int, field: Int, id: Column*): Column =
      xxhash64(lit(seed) +: lit(table) +: lit(field) +: id: _*)
    def pickCol(x: Column, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (pmod(x, lit(xs.size.toLong)) + 1).cast("int"))
    def day(o: Column, plus: Column): Column =
      date_add(lit(Day0), (pmod(h(2, 0, o), lit(2404L)) + plus).cast("int"))
        .cast(TimestampNTZType)
    def cents(x: Column, lo: Double, span: Long): Column = lit(lo) + pmod(x, lit(span)) / 100.0
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val o = col("id")

    if (tables.contains("orders"))
      write("orders", spark.range(Orders).select(o.as("o_orderkey"),
        pmod(h(3, 0, o), lit(Customers.toLong)).as("o_custkey"),
        pickCol(h(3, 1, o), "F", "O", "P").as("o_orderstatus"),
        cents(h(3, 2, o), 900.0, 50000000L).as("o_totalprice"),
        day(o, lit(0)).as("o_orderdate"),
        pickCol(h(3, 3, o), "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .as("o_orderpriority")))

    // each order has 1–7 lineitems, 4 on average
    if (tables.contains("lineitem")) {
      val ln = col("ln")
      write("lineitem", spark.range(Orders)
        .select(o, explode(sequence(lit(1), (pmod(h(4, 0, o), lit(7L)) + 1).cast("int"))).as("ln"))
        .select(o.as("l_orderkey"), pmod(h(4, 1, o, ln), lit(20000L)).as("l_partkey"),
          pmod(h(4, 2, o, ln), lit(1000L)).as("l_suppkey"), ln.as("l_linenumber"),
          (pmod(h(4, 3, o, ln), lit(50L)) + 1).cast("double").as("l_quantity"),
          cents(h(4, 4, o, ln), 900.0, 10000000L).as("l_extendedprice"),
          (pmod(h(4, 5, o, ln), lit(11L)) / 100.0).as("l_discount"),
          (pmod(h(4, 6, o, ln), lit(9L)) / 100.0).as("l_tax"),
          pickCol(h(4, 7, o, ln), "A", "N", "R").as("l_returnflag"),
          pickCol(h(4, 8, o, ln), "F", "O").as("l_linestatus"),
          day(o, pmod(h(4, 9, o, ln), lit(121L)) + 1).as("l_shipdate")))
    }

    // documents: random word sequences; every 40th doc near-duplicates an
    // earlier one (same words, one replaced) so dedup finds pairs
    if (tables.contains("documents")) {
      def words(id: Long): IndexedSeq[String] = {
        val r = rng(seed, 5, id)
        IndexedSeq.fill(8 + r.nextInt(80))(pick(r, Vocab))
      }
      save(spark, dir, "documents", graft.Tables.documentsSchema,
        (0L until Docs).map { id =>
          val text =
            if (id % 40 == 39) words(rng(seed, 6, id).nextLong(id)).updated(2, "edit")
            else words(id)
          val s = text.mkString(" ")
          Row(id, s, pick(rng(seed, 7, id), Langs), s"src${id % 20}", s.length.toLong)
        })
    }

    // embeddings: unit vectors scattered around one of ten seeded centres
    if (tables.contains("embeddings")) {
      val centres = (0 until Labels).map { l =>
        val r = rng(seed, 8, l)
        Array.fill(Dim)(r.nextDouble() * 2 - 1)
      }
      save(spark, dir, "embeddings", st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        (0L until Vectors).map { id =>
          val r = rng(seed, 9, id)
          val label = r.nextInt(Labels)
          val v = centres(label).map(_ + (r.nextDouble() * 2 - 1) * 0.6)
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(id, v.map(x => (x / norm).toFloat).toSeq, label)
        })
    }
  }
}
