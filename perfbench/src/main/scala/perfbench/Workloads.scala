package perfbench

import java.nio.file.Path
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.gen.MockData
import graft.models.Models
import graft.pipeline.Ingest
import graft.quality.DataTests

/** One closed-loop operation: `run` is timed (inside the op span) and
  * returns per-op counters; `check` is the untimed output check, run
  * after the op, returning a failure message when the output is wrong.
  */
final case class Op(
    kind: String, run: () => Map[String, Double], check: () => Option[String])

trait Workload {
  /** Inputs, warm-up ops and their checks; everything before the first
    * timed op. Returns the warm-up failures.
    */
  def setup(): Seq[String]
  /** The ops of round `r`. Rounds are the unit the timed loop completes
    * before it checks the clock, so every run covers whole rounds.
    */
  def round(r: Int): Seq[Op]
  /** Rounds every untraced run completes, whatever its time budget. */
  def minRounds: Int
  def opsPerRound: Int
  def info: Map[String, Any]
  def close(): Unit
}

object Workloads {

  /** Execute the plan's own physical plan and discard rows on the
    * executors, as the program's Bench does; `count()` would let
    * Catalyst prune work the declared result needs.
    */
  def consume(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Drops the cached RDDs that back a checkpointed result, once the
    * harness has read it.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Order-insensitive result fingerprint: row count and the sum of a
    * per-row 64-bit hash. Floating columns are hashed at 7 significant
    * digits so that summation order does not change the fingerprint.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6e", col(f.name))
        case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val row = d.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}

/** The reference DAG run, tick after tick: ingest one micro-batch, then
  * `dbt run`, then `dbt test`, over a history backfilled at set-up.
  */
final class RefreshTicks(
    spark: SparkSession, spans: Spans, seed: Long, work: Path, tag: String)
    extends Workload {

  val HistoryTicks = 12
  val minRounds = 2
  val opsPerRound = 1

  private val rawDb = s"praw_$tag"
  private val martDb = s"pmart_$tag"
  private val ingest = new Ingest(spark, rawDb, work.resolve("staging"), seed)
  private val start = LocalDateTime.of(2026, 1, 1, 0, 0, 0)
  private val rawTables = Seq("customers", "orders", "products", "order_products")
  private var rawCounts = Map.empty[String, Long]
  private var tick = 0

  private def counts(db: String, tables: Seq[String]): Map[String, Long] =
    tables.map(t => t -> spark.table(s"$db.$t").count()).toMap

  /** History before the first timed tick: `HistoryTicks` batches' worth
    * of reference traffic (1,000 customers and 1,000 orders each),
    * generated in one go and loaded file by file.
    */
  private def backfill(): Unit = {
    val s = seed * 1000003L + 17L
    val ts = start.plusMinutes(5)
    val n = HistoryTicks * 1000
    val customers = MockData.customers(spark, s, ts, n)
    val orders = MockData.orders(spark, s, ts,
      customers.select(col("gen_idx"), col("id")), n)
    val orderProducts = MockData.orderProducts(
      spark, s, ts, ingest.rawTable("products"), orders)
    Seq("customers" -> customers.drop("gen_idx"),
      "orders" -> orders.drop("gen_idx"),
      "order_products" -> orderProducts).foreach { case (t, df) =>
      val path = work.resolve("backfill").resolve(t).toString
      df.write.option("sep", "\t").option("header", "true")
        .mode(SaveMode.Overwrite).csv(path)
      ingest.loadFile(t, path)
    }
  }

  private var phases = Map.empty[String, Double]
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += s"setup_${name}_s" -> (System.nanoTime() - t0) / 1e9
  }

  /** The warm-up op is the bootstrap tick (the first DAG run, which
    * seeds the schema and the products), before the backfill; the
    * timed ticks then run over the backfilled history.
    */
  def setup(): Seq[String] = {
    val warm = round(0).head
    phase("bootstrap_tick")(warm.run())
    val failures = warm.check().toSeq
    phase("backfill") {
      backfill()
      rawCounts = counts(rawDb, rawTables)
    }
    failures
  }

  def round(r: Int): Seq[Op] = {
    var results = Seq.empty[DataTests.TestResult]
    Seq(Op("tick",
      () => {
        val ts = start.plusMinutes(10L * tick)
        tick += 1
        spans("pipeline")(ingest.runBatch(ts))
        val marts = spans("models")(Models.dbtRun(spark, rawDb, martDb))
        results = spans("quality")(DataTests.runAll(spark, rawDb, marts))
        Map("rows_loaded" -> ingest.lastLoadCounts.values.sum.toDouble)
      },
      () => check(results)))
  }

  private def check(results: Seq[DataTests.TestResult]): Option[String] = {
    val failing = results.filterNot(_.passed).map(_.name)
    val loaded = ingest.lastLoadCounts
    val raw = counts(rawDb, rawTables)
    val mart = counts(martDb,
      Seq("dim_customer", "dim_order", "dim_product", "fct_order_products"))
    val expected = rawCounts ++ loaded.map { case (t, n) => t -> (rawCounts.getOrElse(t, 0L) + n) }
    rawCounts = raw
    val problems = Seq(
      if (results.isEmpty) Some("no data tests ran") else None,
      if (failing.nonEmpty) Some(s"data tests failed: ${failing.mkString(",")}") else None,
      if (loaded.get("customers").contains(1000L) && loaded.get("orders").contains(1000L) &&
        loaded.get("order_products").exists(n => n >= 1000L && n <= 3000L) &&
        loaded.get("products").forall(_ == 96L)) None
      else Some(s"unexpected batch sizes $loaded"),
      if (raw == expected) None else Some(s"raw counts $raw, expected $expected"),
      if (mart == Map("dim_customer" -> raw("customers"), "dim_order" -> raw("orders"),
        "dim_product" -> raw("products"), "fct_order_products" -> raw("order_products")))
        None
      else Some(s"mart counts $mart differ from raw counts $raw")).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def info: Map[String, Any] = phases ++ Map(
    "history_ticks" -> HistoryTicks, "ticks_run" -> tick) ++
    rawCounts.map { case (t, n) => s"raw_rows_$t" -> n }

  def close(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $martDb CASCADE")
    spark.sql(s"DROP DATABASE IF EXISTS $rawDb CASCADE")
  }
}

/** Reference-surface queries, one per op, in a seeded order per pass:
  * build, plan, then execute the returned plan to completion. The pass
  * holds every 7th of the 64 queries in name order up to nine, or all of
  * them with `allQueries` (used to record the fingerprints). Each query
  * has a time of its own, so an odd count puts the median and the tail
  * percentile in the middle of one query's runs rather than between two
  * queries' times.
  */
final class StarQueries(
    spark: SparkSession, spans: Spans, seed: Long, dataDir: String,
    expected: Map[String, (Long, Option[String])], allQueries: Boolean)
    extends Workload {

  private val all = graft.queries.ReferenceQueries.all.map(_.name).sorted
  val names: Seq[String] = if (allQueries) all else (all.indices by 7).take(9).map(all)
  val WarmupPasses = 1
  val minRounds = 3
  def opsPerRound: Int = names.size
  private val fns = SparkEntry.queries
  private var bad = Map.empty[String, String]
  var recorded = Map.empty[String, (Long, String)]

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Warm-up pass: every query once, its fingerprint compared with the
    * recorded one (row count only where no hash was recorded).
    */
  def setup(): Seq[String] = {
    order(-1).foreach { n =>
      val problem = try {
        // the fingerprint job runs the whole plan: every column is hashed
        val fp = Workloads.fingerprint(fns(n)(spark, dataDir))
        recorded += n -> fp
        expected.get(n) match {
          case None => Some("no recorded fingerprint")
          case Some((rows, _)) if rows != fp._1 => Some(s"rows ${fp._1}, expected $rows")
          case Some((_, Some(h))) if h != fp._2 => Some(s"hash ${fp._2}, expected $h")
          case _ => None
        }
      } catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      problem.foreach(p => bad += n -> p)
    }
    // Then untimed passes of the timed path itself: the first passes
    // after the fingerprint pass ran up to 35 % above later ones
    if (!allQueries) (1 to WarmupPasses).foreach { k =>
      round(-1 - k).foreach(op => try op.run() catch { case _: Exception => () })
    }
    bad.toSeq.sorted.map { case (n, p) => s"$n: $p" }
  }

  def round(r: Int): Seq[Op] = order(r).map { n =>
    Op(n,
      () => {
        val df = spans("queries")(fns(n)(spark, dataDir))
        spans("catalyst")(df.queryExecution.executedPlan)
        spans("exec")(Workloads.consume(df))
        Map.empty
      },
      () => bad.get(n).map(p => s"warm-up check failed: $p"))
  }

  def info: Map[String, Any] = Map("queries" -> names.size)
  def close(): Unit = ()
}

/** One graph operator call per op on seeded chain graphs; each round
  * runs CC, LPA and PageRank on one fresh graph.
  */
final class GraphFixpoints(spark: SparkSession, spans: Spans, seed: Long)
    extends Workload {

  import graft.operators.{ConnectedComponents, LabelPropagation, PageRank}

  private val sizes = scala.collection.mutable.ArrayBuffer.empty[Graphs.Graph]
  val Nodes = 5000
  // CC's planning time grows steeply with its round count (ROADMAP
  // item 2), so chains stay short enough for every call to finish
  val MinChain = 3
  val MaxChain = 5
  val LpaRounds = 3
  val PrIterations = 3
  val minRounds = 3
  val opsPerRound = 3

  /** Warm-up: the three operators with their checks on a small graph
    * (the cold calls, which run at several times steady state), then
    * on a full-size graph of its own. A timed round right after the
    * cold calls ran 30 to 40 % above steady state, most of it in CC;
    * after the extra full-size round it runs at steady state.
    */
  def setup(): Seq[String] =
    Seq(Nodes / 10, Nodes).zipWithIndex.flatMap { case (n, k) =>
      ops(Graphs.generate(seed * 1000003L - 1 - k, n, MinChain, MaxChain))
        .flatMap { op => op.run(); op.check() }
    }

  def round(r: Int): Seq[Op] = {
    val g = Graphs.generate(seed * 1000003L + r, Nodes, MinChain, MaxChain)
    sizes += g
    ops(g)
  }

  private def ops(g: Graphs.Graph): Seq[Op] = {
    import spark.implicits._
    val edges = g.src.zip(g.dst).toSeq.toDF("a", "b")
    def op(kind: String, call: => DataFrame, check: DataFrame => Option[String]): Op = {
      var out: DataFrame = null
      Op(kind,
        () => {
          out = spans("operators")(call)
          spans("exec")(Workloads.consume(out))
          Map.empty
        },
        () => try check(out) finally Workloads.release(out))
    }
    def same[V](what: String, got: Map[Long, V], want: Map[Long, V]): Option[String] =
      if (got == want) None
      else Some(s"$what: ${got.size} nodes, expected ${want.size}; " +
        s"${want.count { case (k, v) => !got.get(k).contains(v) }} differ")
    Seq(
      op("cc", ConnectedComponents.components(edges, "a", "b"), out =>
        same("cc", out.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
          Graphs.components(g))),
      op("lpa", LabelPropagation.communities(edges, "a", "b", LpaRounds), out =>
        same("lpa", out.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
          Graphs.communities(g, LpaRounds))),
      op("pagerank", PageRank.ranks(edges, "a", "b", PrIterations), out =>
        same("pagerank",
          out.collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap,
          Graphs.ranks(g, PrIterations))))
  }

  def info: Map[String, Any] = Map(
    "graphs" -> sizes.size,
    "nodes_per_graph" -> Nodes,
    "edges_min" -> sizes.map(_.src.length).min,
    "edges_max" -> sizes.map(_.src.length).max,
    "chains_min" -> sizes.map(_.chains).min,
    "longest_chain_max" -> sizes.map(_.longestChain).max,
    "diameter_min" -> sizes.map(_.diameter).min,
    "diameter_max" -> sizes.map(_.diameter).max)

  def close(): Unit = ()
}
