package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the seed, the run's scratch
  * root, the recorder, and — in a traced run — the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val root: String, val rec: Recorder) {
  /** Where set-up writes the generated inputs. */
  val inputs = s"$root/inputs"
  var tracer: Option[Tracer] = None
  private var tracing = false

  /** Whether operation `i` of a traced run is traced. Traced runs trace
    * every other operation so each traced kind has untraced twins, which
    * is how run.py measures the tracing overhead. */
  def traces(i: Int): Boolean = tracer.isDefined && i % 2 == 0

  /** One closed-loop operation: timed from outside, its checks and any
    * exception turned into the `ok` flag, recorded under `kind`. */
  def op(kind: String, traced: Boolean)(body: => Boolean): Boolean = {
    tracing = traced && tracer.isDefined
    val t0 = System.nanoTime()
    val ok = try span("operation", kind)(body) catch {
      case NonFatal(e) =>
        rec.fail(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")
        false
    }
    if (rec.recording) rec.ops += rec.Op(kind, Clock.ms(t0), ok, tracing)
    tracing = false
    ok
  }

  /** A step or phase inside the current operation (a span when traced). */
  def span[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) if tracing => t.span(layer, name)(body)
    case _ => body
  }

  /** Times a named step of the current operation into `metric`. */
  def step[T](name: String, metric: String)(body: => T): T = {
    val (r, ms) = Clock.timed(span("step", name)(body))
    rec.sample(metric, ms)
    r
  }

  /** What `graft.Bench` does between keys, outside the timed section:
    * drop cached data, unpersist every RDD that does not back a process
    * memo (blocking), and collect garbage when something was pinned. */
  def cleanup(): Unit = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    val keep = graft.util.ProcessMemo.liveMemoRddIds()
    val pinned = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }.values
    pinned.foreach(_.unpersist(blocking = true))
    if (pinned.nonEmpty) System.gc()
    rec.add("harness.cleanup_s", Clock.s(t0))
  }

  /** True once the timed section has used its seconds and run at least
    * `min` operations (or passes). */
  def done(t0: Long, count: Int, min: Int): Boolean =
    count >= min && Clock.s(t0) >= seconds
}

trait Workload {
  /** How often set-up is repeated; run.py reports the median. */
  def setupReps: Int
  /** Builds the inputs from the seed (and the expected outputs); a later
    * repetition replaces the earlier one's inputs. */
  def generate(rep: Int): Unit
  /** Untimed operations that load classes and fill the JIT before timing. */
  def warmup(): Unit
  /** The closed loop: one client, next operation after the last returns. */
  def run(): Unit
}

/** Entry point of the benchmark JVM (launched by run.py on a compiled
  * class snapshot, never through sbt, so nothing prefixes its output).
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --root DIR
  * --out FILE [--expected FILE]. It writes the raw record
  * to --out and exits 0 when it ran to the end; failed output checks are
  * in the record, and run.py turns them into a non-zero exit. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val root = opt("root")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    rec.info ++= Seq("session_ready_ms" -> System.currentTimeMillis(),
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version)
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt, root, rec)
    val wl: Workload = opt("workload") match {
      case "snapshot_cycle" => new SnapshotCycle(ctx)
      case "kv_point_reads" => new KvPointReads(ctx)
      case "query_mix" => new QueryMix(ctx, opt("expected"))
      case w => sys.error(s"unknown workload $w")
    }
    try {
      for (rep <- 1 to wl.setupReps) {
        val t0 = System.nanoTime()
        wl.generate(rep)
        fsyncTree(ctx.inputs)
        rec.sample("harness.gen_s", Clock.s(t0))
      }
      val tw = System.nanoTime()
      rec.recording = false
      wl.warmup()
      ctx.cleanup()
      rec.recording = true
      rec.set("harness.warmup_s", Clock.s(tw))
      if (opt("trace") == "1") ctx.tracer = Some(new Tracer(spark))
      val t0 = System.nanoTime()
      ctx.tracer match {
        case Some(t) => t.span("workload", opt("workload"))(wl.run())
        case None => wl.run()
      }
      rec.set("harness.wall_s", Clock.s(t0))
      ctx.tracer.foreach(_.finish(rec))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        rec.fail(s"workload aborted: ${e.getClass.getName}: ${e.getMessage}")
    }
    rec.set("peak_rss_mb", vmHwmMb())
    Files.writeString(Paths.get(opt("out")), rec.toJson)
    spark.stop()
  }

  /** Flushes the generated inputs to disk, so that their write-back does
    * not land in the timed section. */
  private def fsyncTree(dir: String): Unit = {
    if (!Files.isDirectory(Paths.get(dir))) return
    val files = Files.walk(Paths.get(dir))
    try files.filter(Files.isRegularFile(_)).forEach { p =>
      val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    } finally files.close()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
