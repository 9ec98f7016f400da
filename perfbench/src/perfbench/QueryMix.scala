package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.operators._

/** A sample of the graded surface: 40 `SparkEntry.queries` keys covering
  * every `operators` module, streaming and the LLM surface, on tables
  * `graft.DataGen` generates, run as `graft.Bench` runs them — in
  * alphabetical order, after an untimed warm-up key, with `Bench`'s
  * cleanup between keys and the process memos restored before each pass.
  *
  * Each key is split into construct (`fn(spark, dir)`), plan
  * (`executedPlan`) and execute (the full physical plan; the rows are
  * counted and hashed in the same job, which is the output check). */
final class QueryMix(ctx: Ctx, expectedPath: String) extends Workload
    with AdaptiveSparkPlanHelper {
  import ctx.{rec, spark}

  /** Tables at sf0.01: one pass of the 40 keys fits the run length. */
  private val Sf = 0.01
  val Keys: Seq[String] = Seq(
    "agg_percentiles", "agg_rollup", "agg_sketch_merge", "agg_weighted_median",
    "export_sized_files", "filter_correlated", "filter_q17_avg_qty",
    "graph_components", "graph_pagerank",
    "join_asof_nearest", "join_interval", "join_shuffle_large", "join_skew_salted",
    "join_star_5way", "join_theta_range",
    "kv_snapshot_export",
    "llm_ann_ivfpq", "llm_ann_ivfpq_recall", "llm_dedup_minhash", "llm_dedup_near_prefix",
    "llm_entropy_filter", "llm_sim_cosine_topk", "llm_tfidf_top",
    "math_funcs", "mm_frame_sample", "scan_dynamic_pruning", "scan_project",
    "set_intersect_all", "source_compressed_roundtrip",
    "sql_q18_large_orders", "sql_q21_waiting_supplier", "sql_q5_local_volume",
    "sql_q9_product_profit",
    "ts_anomaly", "ts_session", "ts_stream_stream_join", "ts_stream_upsert",
    "ts_tumbling_stream", "win_running_sum", "win_sliding_median").sorted

  /** The module a key belongs to, by membership in `operators.<M>.queries`. */
  private val modules: Seq[(String, Set[String])] = Seq(
    "Scans" -> Scans.queries, "Filters" -> Filters.queries, "Joins" -> Joins.queries,
    "Graph" -> Graph.queries, "Aggregations" -> Aggregations.queries,
    "SetOps" -> SetOps.queries, "Windows" -> Windows.queries,
    "Scalars" -> Scalars.queries, "TimeSeries" -> TimeSeries.queries,
    "LlmDedup" -> LlmDedup.queries, "LlmVector" -> LlmVector.queries,
    "LlmText" -> LlmText.queries, "Multimodal" -> Multimodal.queries,
    "Sources" -> Sources.queries).map { case (m, q) => m -> q.keySet }
  private def moduleOf(key: String): String =
    modules.collectFirst { case (m, ks) if ks(key) => m }.getOrElse("none")

  private val queries = graft.SparkEntry.queries
  private var dataDir = ""
  private var memoBaseline = Map.empty[String, Map[Any, Any]]

  /** (rows, hash) per key at [[Sf]], from `query_mix_expected.json`. */
  private val expected: Map[String, (Long, Long)] = {
    val Entry = """"([a-z0-9_]+)":\s*\[\s*(\d+),\s*(-?\d+)\s*\]""".r
    Entry.findAllMatchIn(Files.readString(Paths.get(expectedPath)))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  val setupReps = 1

  def generate(rep: Int): Unit = {
    dataDir = s"${ctx.inputs}/sf$Sf"
    graft.DataGen.generate(spark, dataDir, Sf)
    rec.info ++= Seq("sf" -> Sf, "keys" -> Keys.size, "table_mb" ->
      new java.io.File(dataDir).listFiles().map(_.length).sum / 1e6)
  }

  def warmup(): Unit = {
    execute(queries("agg_pricing_summary")(spark, dataDir))
    memoBaseline = graft.util.ProcessMemo.snapshot()
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    while (!ctx.done(t0, pass, if (ctx.tracer.isDefined) 2 else 1)) {
      // memos filled by an earlier pass must not count as a speed-up
      graft.util.ProcessMemo.restore(memoBaseline)
      Keys.zipWithIndex.foreach { case (key, k) =>
        ctx.op(key, ctx.traces(k + pass)) {
          val (df, c) = Clock.timed(ctx.span("phase", "construct")(queries(key)(spark, dataDir)))
          val (plan, p) = Clock.timed(ctx.span("phase", "plan")(df.queryExecution.executedPlan))
          val (got, e) = Clock.timed(ctx.span("phase", "execute")(execute(df)))
          val m = s"operators.${moduleOf(key)}."
          rec.add(m + "construct_s", c / 1e3)
          rec.add(m + "plan_s", p / 1e3)
          rec.add(m + "execute_s", e / 1e3)
          rec.sample("phase.construct_ms", c)
          rec.sample("phase.plan_ms", p)
          rec.sample("phase.execute_ms", e)
          rec.sample("phase.plan_exchanges", collect(plan) { case x: Exchange => x }.size)
          rec.observed(key) = got
          val t = System.nanoTime()
          val ok = rec.check(expected.get(key).contains(got),
            s"$key returned (rows, hash) $got, expected ${expected.get(key)}")
          rec.add("harness.check_s", Clock.s(t))
          ok
        }
        ctx.cleanup()
      }
      val memo = graft.util.ProcessMemo.snapshot()
      rec.sample("util.ProcessMemo.entries_added",
        memo.values.map(_.size).sum - memoBaseline.values.map(_.size).sum)
      pass += 1
    }
    rec.set("harness.passes", pass)
    rec.observed("sf") = Sf.toString
  }

  /** Runs the full physical plan (as `Bench` does with `toRdd.count()`)
    * and returns the row count and an order-independent hash of the rows,
    * taken in the same job from the binary form of each row. */
  private def execute(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += proj(r).hashCode() & 0x7fffffffL }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
