package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.KvReadStats

/** The read side of the KV layer: a closed loop of seeded reads through
  * `spark.read.format("graft-kv")` on a store built in set-up.
  *
  * The mix is not tuned; each part has a stated basis:
  *  - the kinds are the read shapes of the graded KV read keys, one share
  *    each, in turn: a rowkey lookup (`kv_bloom_lookup`), a rowkey-range
  *    scan (`source_kv_connector`) and a stats-index aggregate
  *    (`kv_stats_pushdown` and `kv_stats_by_qualifier`, alternating);
  *  - rowkeys and range starts follow YCSB's request distribution, a
  *    scrambled Zipfian with constant 0.99 over every record, and range
  *    lengths are uniform on 1..100 rows, as in YCSB workload E.
  *
  * The operation sequences are drawn in set-up from the seed, so a seed
  * fixes what the timed loop runs. Expected answers come from the parquet
  * copy of the same generated rows, read by Spark's own parquet reader. */
final class KvPointReads(ctx: Ctx) extends Workload {
  import ctx.{rec, spark}

  private val Rows = 300000L
  private val Parts = 16
  /** Length of the timed sequence; a run that gets through it starts over. */
  private val TimedOps = 4096
  /** On 4 cores, read latency kept falling for about 240 reads. */
  private val WarmupOps = 240
  private val ZipfConstant = 0.99
  private val MaxScanLength = 100

  private sealed trait Read { def kind: String }
  private final case class Get(key: Long) extends Read { val kind = "point" }
  private final case class Scan(lo: Long, len: Long) extends Read { val kind = "range" }
  private final case class Agg(byQualifier: Boolean) extends Read { val kind = "agg" }

  /** Zipfian cumulative weights over the ranks 1..Rows. */
  private lazy val zipfCdf = {
    val w = Array.tabulate(Rows.toInt)(r => 1.0 / math.pow(r + 1, ZipfConstant))
    var acc = 0.0
    var i = 0
    while (i < w.length) { acc += w(i); w(i) = acc; i += 1 }
    w.map(_ / acc)
  }

  /** A record drawn as YCSB's ScrambledZipfianGenerator draws it: a
    * Zipfian rank, spread over the key space by its 64-bit FNV hash. */
  private def zipfKey(rnd: scala.util.Random): Long = {
    val rank = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble()) match {
      case j if j >= 0 => j
      case j => math.min(-j - 1, zipfCdf.length - 1)
    }
    Math.floorMod(fnv64(rank.toLong), Rows)
  }

  private def fnv64(v: Long): Long = {
    var h = 0xcbf29ce484222325L
    var x = v
    for (_ <- 0 until 8) {
      h = (h ^ (x & 0xff)) * 0x100000001b3L
      x >>>= 8
    }
    h
  }

  /** `n` reads in turn get, range, aggregate. The aggregate shape flips
    * every second aggregate so that, when a traced run traces every other
    * operation, both shapes have traced and untraced twins. */
  private def draw(seed: Long, n: Int): IndexedSeq[Read] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      i % 3 match {
        case 0 => Get(zipfKey(rnd))
        case 1 =>
          val len = 1L + rnd.nextInt(MaxScanLength)
          Scan(math.min(zipfKey(rnd), Rows - len), len)
        case _ => Agg(i / 6 % 2 == 1)
      }
    }
  }

  private lazy val timed = draw(ctx.seed, TimedOps)
  private lazy val warm = draw(~ctx.seed, WarmupOps)

  private var storeDir = ""
  private var expectedGets = Map.empty[Long, Set[(String, String)]]
  /** Per rowkey covered by some range: (cells, sum of cell hashes). */
  private var expectedRows = Map.empty[Long, (Long, Long)]

  val setupReps = 2

  def generate(rep: Int): Unit = {
    // earlier repetitions' stores stay until the run ends: deleting them
    // here would put the file system's discard work in the timed section
    val dir = s"${ctx.inputs}/store$rep"
    Cells.wide(spark, ctx.seed, Rows, Parts).write.parquet(s"$dir/parquet")
    val parquet = spark.read.parquet(s"$dir/parquet")
    Cells.cells(Cells.wide(spark, ctx.seed, Rows, Parts)).write.format("graft-kv")
      .option("path", s"$dir/kv").mode("append").save()
    storeDir = Paths.get(s"$dir/kv").toString
    val cells = Cells.cells(parquet)
    val reads = timed ++ warm
    val getKeys = reads.collect { case Get(k) => k }.distinct
    expectedGets = cells.filter(col("rowkey").isin(getKeys: _*)).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(r => (r.getString(1), r.getString(2))).toSet }
    import spark.implicits._
    val covered = reads.collect { case Scan(lo, len) => lo until lo + len }.flatten.distinct
      .toDF("rowkey")
    expectedRows = cells.join(broadcast(covered), "rowkey").groupBy("rowkey")
      .agg(count(lit(1)), sum(pmod(xxhash64(col("rowkey"), col("qualifier"), col("value")),
        lit(2147483647L))))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rec.info ++= Seq("rows" -> Rows, "cells" -> Rows * Cells.Qualifiers.size,
      "store_files" -> graft.sources.KvFormat.dataFiles(storeDir).size,
      "store_mb" -> graft.sources.KvFormat.dataFiles(storeDir)
        .map(java.nio.file.Files.size(_)).sum / 1e6,
      "distinct_get_keys" -> getKeys.size, "range_rows" -> expectedRows.size)
  }

  private def kv: DataFrame = spark.read.format("graft-kv").load(storeDir)

  def warmup(): Unit = warm.foreach { r => read(r, traced = false); ctx.cleanup() }

  def run(): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (!ctx.done(t0, i, if (ctx.tracer.isDefined) 2 else 1)) {
      read(timed(i % timed.size), ctx.traces(i))
      ctx.cleanup()
      i += 1
    }
  }

  /** Phases as the query-mix workload times them: build the DataFrame,
    * plan it, run it. */
  private def phased(build: => DataFrame): Array[Row] = {
    val (df, c) = Clock.timed(ctx.span("phase", "construct")(build))
    val (_, p) = Clock.timed(ctx.span("phase", "plan")(df.queryExecution.executedPlan))
    val (rows, e) = Clock.timed(ctx.span("phase", "execute")(df.collect()))
    rec.sample("phase.construct_ms", c)
    rec.sample("phase.plan_ms", p)
    rec.sample("phase.execute_ms", e)
    rows
  }

  private def read(op: Read, traced: Boolean): Unit = {
    val stats = KvReadStats.forDir(storeDir)
    val (lines0, cells0) = (stats.linesRead.get(), stats.cellsEmitted.get())
    def body: (Boolean, Long) = op match {
      case Get(k) =>
        val got = phased(kv.filter(col("rowkey") === k)).map(r =>
          (r.getString(1), r.getString(2))).toSet
        (rec.check(got == expectedGets(k), s"get $k returned $got"), got.size.toLong)
      case Scan(lo, len) =>
        val r = phased(kv.filter(col("rowkey") >= lo && col("rowkey") < lo + len)
          .agg(count(lit(1)), coalesce(sum(pmod(xxhash64(col("rowkey"), col("qualifier"),
            col("value")), lit(2147483647L))), lit(0L))))(0)
        val got = (r.getLong(0), r.getLong(1))
        val want = (lo until lo + len).map(expectedRows).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        (rec.check(got == want, s"range [$lo, ${lo + len}) returned $got, expected $want"), got._1)
      case Agg(false) =>
        val n = Rows * Cells.Qualifiers.size
        val r = phased(kv.agg(count(lit(1)), min("rowkey"), max("rowkey")))(0)
        (rec.check((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, 0L, Rows - 1)),
          s"count/min/max returned $r"), 1L)
      case Agg(true) =>
        val got = phased(kv.groupBy("qualifier").count())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (rec.check(got == Cells.Qualifiers.map(_ -> Rows).toMap,
          s"per-qualifier counts returned $got"), got.size.toLong)
    }
    var returned = 0L
    val (_, ms) = Clock.timed(ctx.op(op.kind, traced) { val (ok, n) = body; returned = n; ok })
    val K = "sources.KvConnector."
    rec.sample(K + op.kind + "_ms", ms)
    val lines = stats.linesRead.get() - lines0
    if (op.kind == "agg") rec.add(K + "agg_lines_read", lines)
    else {
      rec.add(K + "reads", 1)
      rec.add(K + "lines_read", lines)
      rec.add(K + "cells_returned", returned)
      rec.add(K + "cells_emitted", stats.cellsEmitted.get() - cells0)
    }
  }
}
