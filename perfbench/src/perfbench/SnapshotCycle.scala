package perfbench

import java.nio.file.{Files, Paths}

import graft.sources.{KvReadStats, KvSnapshots}

/** The paper's write path as a closed loop of snapshot cycles on a
  * generated lineitem-shaped cell store: create the base snapshot, create
  * the incremental snapshot over a seeded contiguous block of mutated
  * rowkeys, verify it, export it, resume an interrupted export, restore it
  * and scan every value, diff it against the base, and delete everything.
  * Every cycle repeats the same work under fresh snapshot names. */
final class SnapshotCycle(ctx: Ctx) extends Workload {
  import ctx.{rec, spark}

  private val Rows = 150000L
  private val Parts = 16
  /** On 4 cores, cycle times on this store kept falling for about 12 cycles. */
  private val WarmupCycles = 12
  /** The mutated rowkey block [lo, hi): the rows of one of the [[Parts]]
    * layout blocks, picked by the seed. It is the smallest change the
    * snapshot layer shares around (one rewritten file, the other files
    * shared), and the same amount of work whichever block the seed picks. */
  private val (lo, hi) = {
    val b = new scala.util.Random(ctx.seed).nextInt(Parts)
    (b * Rows / Parts, (b + 1) * Rows / Parts)
  }
  /** Picks the destination files a resumed export finds deleted. The
    * warm-up and the timed loop each start it afresh from the seed, so
    * the seed fixes the timed cycles. */
  private var rnd = new scala.util.Random(ctx.seed)
  private val srcRoot = s"${ctx.root}/snapshots"
  private def base = Cells.cells(Cells.wide(spark, ctx.seed, Rows, Parts))
  private def mutated = Cells.cells(Cells.wide(spark, ctx.seed, Rows, Parts, Some((lo, hi))))

  private var expectedRestore = (0L, 0L)
  private var userBytesPair = 0L

  val setupReps = 3

  def generate(rep: Int): Unit = {
    expectedRestore = Cells.checksum(mutated)
    userBytesPair = Cells.userBytes(base) + Cells.userBytes(mutated)
    rec.info ++= Seq("rows" -> Rows, "cells" -> Rows * Cells.Qualifiers.size,
      "user_mb_per_snapshot" -> userBytesPair / 2 / 1e6, "mutated_rows" -> (hi - lo),
      "files_per_snapshot_target" -> Parts)
  }

  def warmup(): Unit = {
    rnd = new scala.util.Random(~ctx.seed)
    for (i <- 1 to WarmupCycles) once(-i, traced = false)
  }

  def run(): Unit = {
    rnd = new scala.util.Random(ctx.seed)
    val t0 = System.nanoTime()
    var i = 0
    while (!ctx.done(t0, i, if (ctx.tracer.isDefined) 2 else 1)) {
      once(i, ctx.traces(i))
      i += 1
    }
  }

  private def once(i: Int, traced: Boolean): Unit = {
    val t = System.nanoTime()
    ctx.op("cycle", traced)(cycle(i))
    rec.sample("sources.KvSnapshots.cycle_mb_per_s", userBytesPair / 1e6 / Clock.s(t))
    ctx.cleanup()
    // A cycle's diff leaves ~30 MB of shuffle files, which Spark deletes
    // only once a GC collects their dependency. Left alone they pile up to
    // GBs, and the deletion then lands in a later cycle or in a ~30 s exit.
    val tc = System.nanoTime()
    org.apache.spark.SparkInternals.dropShuffles(spark.sparkContext)
    rec.add("harness.cleanup_s", Clock.s(tc))
  }

  private def cycle(i: Int): Boolean = {
    val (b, inc) = (s"base$i", s"incr$i")
    val dstRoot = s"${ctx.root}/export$i"
    val K = "sources.KvSnapshots."
    ctx.step("create", K + "create_ms")(KvSnapshots.create(base, srcRoot, b))
    ctx.step("create_incremental", K + "create_incremental_ms")(
      KvSnapshots.createIncremental(mutated, srcRoot, inc, b))
    ctx.step("verify", K + "verify_ms")(KvSnapshots.verify(spark, srcRoot, inc))

    val (first, exportMs) = Clock.timed(ctx.step("export", K + "export_ms")(
      KvSnapshots.export(spark, srcRoot, dstRoot, inc)))
    // resume: demote the export, drop a seeded subset of its files (an
    // interrupted copy), and export again — only those files are copied
    val entries = KvSnapshots.parseManifest(srcRoot, inc)
    val lost = rnd.shuffle(entries.map(_.file)).take(1 + rnd.nextInt(entries.size / 4))
    KvSnapshots.uncommit(dstRoot, inc)
    lost.foreach(f => Files.delete(Paths.get(dstRoot, inc, "data", f)))
    val resumed = ctx.step("export_resume", K + "export_resume_ms")(
      KvSnapshots.export(spark, srcRoot, dstRoot, inc))

    val restoreDir = Paths.get(srcRoot, inc, "data").toString
    val lines0 = KvReadStats.forDir(restoreDir).linesRead.get()
    val restored = ctx.step("restore_scan", K + "restore_scan_ms")(
      Cells.checksum(KvSnapshots.restore(spark, srcRoot, inc)))
    val scanned = KvReadStats.forDir(restoreDir).linesRead.get() - lines0
    val changes = ctx.step("diff", K + "diff_ms")(
      KvSnapshots.diff(spark, srcRoot, b, inc).count())

    val baseEntries = KvSnapshots.parseManifest(srcRoot, b)
    val shared = entries.filter(_.sharedFrom.isDefined)
    val baseBytes = baseEntries.map(_.bytes).sum
    val incrBytes = entries.map(_.bytes).sum
    rec.sample(K + "files_per_snapshot", entries.size)
    rec.sample(K + "shared_file_ratio", shared.size.toDouble / entries.size)
    rec.sample(K + "export_copied", resumed.copied)
    rec.sample(K + "export_skipped", resumed.skipped)
    rec.sample(K + "stored_bytes_per_user_byte",
      (baseBytes + incrBytes - shared.map(_.bytes).sum).toDouble / userBytesPair)
    rec.sample(K + "bytes_written_per_user_byte",
      (baseBytes + incrBytes).toDouble / userBytesPair)
    rec.sample(K + "copy_mb_per_s", incrBytes / 1e6 / (exportMs / 1e3))

    ctx.step("delete", K + "delete_ms") {
      KvSnapshots.delete(srcRoot, inc)
      KvSnapshots.delete(srcRoot, b)
      KvSnapshots.delete(dstRoot, inc)
    }
    graft.util.Scratch.deleteTree(dstRoot)

    val n = entries.size
    Seq(
      rec.check(restored == expectedRestore,
        s"cycle $i: restored cells $restored != generated $expectedRestore"),
      rec.check(scanned >= expectedRestore._1,
        s"cycle $i: restore scan read $scanned lines for ${expectedRestore._1} cells"),
      rec.check(changes == hi - lo, s"cycle $i: diff found $changes changes, seeded ${hi - lo}"),
      rec.check(first.copied == n && first.skipped == 0,
        s"cycle $i: export copied ${first.copied} skipped ${first.skipped} of $n files"),
      rec.check(resumed.copied + resumed.skipped == n,
        s"cycle $i: resume copied+skipped ${resumed.copied + resumed.skipped} != $n entries"),
      rec.check(resumed.copied == lost.size,
        s"cycle $i: resume copied ${resumed.copied}, ${lost.size} files were deleted"),
      rec.check(shared.size == n - 1,
        s"cycle $i: the incremental snapshot shares ${shared.size} of $n files, one block changed"),
      rec.check(n == Parts, s"cycle $i: $n files per snapshot, layout has $Parts blocks")
    ).forall(identity)
  }
}
