package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.stream.Collectors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-kv` — a complete DataSourceV2 connector for a line-based cell
  * store (rowkey BIGINT, qualifier STRING, value STRING — the HBase-cell
  * long format the reference utility exports; see SURVEY.md §2.A R2).
  *
  * Read path: one InputPartition per data file (split = parallelism unit,
  * exactly like an HFile region at scale), column pruning via
  * SupportsPushDownRequiredColumns, and rowkey/qualifier predicate
  * pushdown via SupportsPushDownFilters — pushed predicates are applied
  * inside the partition reader so non-matching cells never reach Spark.
  *
  * Write path: per-task DataWriter streams cells to a temp file and
  * RENAMES it into place on commit (the same two-phase protocol a real
  * object-store committer uses), so a failed task leaves no partial file.
  *
  * Local java.nio IO keeps the demo hermetic; at cluster scale the only
  * change is swapping Files.* for the Hadoop FileSystem API — the
  * planning, pruning, pushdown, and commit protocol are identical.
  */
object KvFormat {
  val schema: StructType = StructType(Seq(
    StructField("rowkey", LongType),
    StructField("qualifier", StringType),
    StructField("value", StringType)))

  val SEP = "\t"
  val SUFFIX = ".kv"

  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.collect(Collectors.toList[Path]).asScala.toSeq
        .filter(f => f.getFileName.toString.endsWith(SUFFIX))
        .sortBy(_.toString)
      finally s.close()
    }
  }
}

/** Per-file rowkey BLOOM FILTER — the HBase HFile-bloom analog. 256
  * bits, 2 hash functions derived from one splitmix64 mix of the rowkey
  * (deterministic, no seed state), built by the WRITE TASK as cells
  * stream through and carried in the stats index as 64 hex chars per
  * file. Point lookups (`rowkey = k` / `rowkey IN (...)`) then skip
  * files whose range covers k but whose bloom provably doesn't — at
  * 100 TB the difference between opening every overlapping file and
  * opening only the files that can actually hold the key. A missing
  * bloom (old-format index lines, hand-written fixtures) never skips:
  * pruning stays sound. False positives only cost a wasted open, never
  * correctness — the standard bloom contract. */
object KvBloom {
  val Bits = 256
  private val Words = Bits / 64

  /** splitmix64 finalizer: well-mixed 64 bits from a long key. */
  private def mix(k: Long): Long = {
    var z = k + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bitsOf(rowkey: Long): (Int, Int) = {
    val h = mix(rowkey)
    ((h & (Bits - 1)).toInt, ((h >>> 8) & (Bits - 1)).toInt)
  }

  def empty(): Array[Long] = new Array[Long](Words)

  def add(words: Array[Long], rowkey: Long): Unit = {
    val (b1, b2) = bitsOf(rowkey)
    words(b1 >>> 6) |= 1L << (b1 & 63)
    words(b2 >>> 6) |= 1L << (b2 & 63)
  }

  def toHex(words: Array[Long]): String = words.map(w => f"$w%016x").mkString

  def mightContain(hex: String, rowkey: Long): Boolean = {
    if (hex.length != Words * 16) return true // malformed -> never skip
    val (b1, b2) = bitsOf(rowkey)
    def bit(b: Int): Boolean = {
      val w = java.lang.Long.parseUnsignedLong(hex.substring((b >>> 6) * 16, (b >>> 6) * 16 + 16), 16)
      (w & (1L << (b & 63))) != 0
    }
    // ANY malformation (right length, non-hex byte) also means "never
    // skip" — a corrupted index column must degrade to a full plan, not
    // crash planning with a bare NumberFormatException
    try bit(b1) && bit(b2) catch { case _: NumberFormatException => true }
  }
}

/** Per-file statistics computed INSIDE the writing task (streaming MD5 +
  * cell count + rowkey min/max + rowkey bloom) and carried back through
  * the `WriterCommitMessage` — the scale rule is that checksum work
  * rides the distributed write, never a driver re-read (O(files) driver
  * metadata, O(data) only on executors). The job committer persists them
  * as the `.file_meta.tsv` index next to the data, the same role HBase
  * region metadata plays: rowkey bounds + bloom let the scan prune
  * files, and the snapshot manifest is assembled from these entries
  * without touching data bytes again. `uniqueCells` says the writer saw
  * the file's cells in strictly increasing (rowkey, qualifier) order, so
  * the file holds every cell identity at most once. */
case class KvFileMeta(file: String, bytes: Long, md5: String, cells: Long,
    minKey: Long, maxKey: Long, qualCells: Map[String, Long] = Map.empty,
    bloomHex: Option[String] = None, uniqueCells: Boolean = false) {
  /** The per-qualifier breakdown is present and consistent — old-format
    * index lines (written before the 7th column existed) have no
    * breakdown, and a grouped-count pushdown must refuse them. */
  def qualifiersCovered: Boolean = qualCells.values.sum == cells
}

object KvMeta {
  val FILE = ".file_meta.tsv"

  // Qualifier names inside the index's breakdown column are URL-encoded:
  // the store already forbids tab/newline in qualifiers, but ',' and '='
  // are legal cell content and are this column's own separators.
  private def encQ(q: String): String =
    java.net.URLEncoder.encode(q, StandardCharsets.UTF_8)
  private def decQ(q: String): String =
    java.net.URLDecoder.decode(q, StandardCharsets.UTF_8)

  private[sources] def encodeQuals(quals: Map[String, Long]): String =
    quals.toSeq.sortBy(_._1).map { case (q, n) => s"${encQ(q)}=$n" }.mkString(",")
  private[sources] def decodeQuals(s: String): Map[String, Long] =
    if (s.isEmpty) Map.empty
    else s.split(",").iterator.map { kv =>
      val i = kv.lastIndexOf('=')
      // corrupt stores fail DIAGNOSABLY (same rule as the cell reader):
      // a token without '=' must not surface as a bare
      // StringIndexOutOfBounds from deep inside planning. i == 0 is
      // LEGAL: the empty qualifier name (allowed by the writer, like
      // HBase's empty column qualifier) URL-encodes to "" and its
      // token is '=N' — rejecting it would poison every later read of
      // a store holding one legally-written empty-qualifier cell.
      require(i >= 0, s"malformed qualifier-count token '$kv'")
      decQ(kv.substring(0, i)) -> kv.substring(i + 1).toLong
    }.toMap

  /** The committed per-file index for a kv dir; files without an entry
    * (e.g. hand-written fixtures) simply have no stats. */
  def read(dir: String): Map[String, KvFileMeta] = {
    val p = Paths.get(dir, FILE)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
      .zipWithIndex.map { case (l, ln) =>
        try {
          val a = l.split("\t", 9)
          KvFileMeta(a(0), a(1).toLong, a(2), a(3).toLong, a(4).toLong, a(5).toLong,
            if (a.length >= 7) decodeQuals(a(6)) else Map.empty,
            // col 8 (r7): rowkey bloom; absent/empty (old-format lines)
            // means "never skip" — pruning stays sound either way
            if (a.length >= 8 && a(7).nonEmpty) Some(a(7)) else None,
            // col 9: cells in strictly increasing (rowkey, qualifier)
            // order; absent (8-column lines) or any other value reads as
            // "not unique", which only disables diff pruning
            a.length >= 9 && a(8) == "1")
        } catch {
          case e: RuntimeException => throw new java.io.IOException(
            s"graft-kv: corrupt stats index at $dir/$FILE:${ln + 1} — ${e.getMessage}", e)
        }
      }
      // last entry per filename wins (append-mode jobs merge on commit)
      .map(m => m.file -> m).toMap
  }

  /** Merge new entries into the index: single job committer per dir
    * (Spark's job-commit is driver-side and serialized), entries for
    * deleted files are pruned, and the write is temp-file + atomic move
    * so readers never see a torn index. */
  def append(dir: String, entries: Seq[KvFileMeta]): Unit = {
    val merged = (read(dir) ++ entries.map(m => m.file -> m).toMap)
      .filter { case (f, _) => Files.exists(Paths.get(dir, f)) }
    val text = merged.values.toSeq.sortBy(_.file)
      .map(m => s"${m.file}\t${m.bytes}\t${m.md5}\t${m.cells}\t${m.minKey}\t${m.maxKey}\t${encodeQuals(m.qualCells)}\t${m.bloomHex.getOrElse("")}\t${if (m.uniqueCells) 1 else 0}")
      .mkString("", "\n", "\n")
    val tmp = Paths.get(dir, s"$FILE.tmp")
    Files.writeString(tmp, text, StandardCharsets.UTF_8)
    Files.move(tmp, Paths.get(dir, FILE), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Streaming MD5 of a file (1 MiB chunks — constant memory regardless
    * of file size; runs on executors for verification jobs). */
  def md5HexOf(file: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(Paths.get(file))
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Conservative rowkey interval set implied by a pushed filter — the
  * file-pruning mirror of HBase's region-range scan planning. A set is
  * sorted, disjoint, non-empty [lo, hi] intervals. ANDs intersect, ORs
  * unite (two far-apart ranges prune by each interval, not by their
  * hull), anything not about rowkey is the full range. Never narrower
  * than the true predicate, so pruning is always sound. */
object KvKeyRange {
  type Range = (Long, Long)
  val Full: Seq[Range] = Seq((Long.MinValue, Long.MaxValue))

  private def one(lo: Long, hi: Long): Seq[Range] = if (lo > hi) Nil else Seq((lo, hi))

  /** Sorted by lo, overlapping or touching intervals merged. */
  def normalize(rs: Seq[Range]): Seq[Range] =
    rs.sortBy(_._1).foldLeft(List.empty[Range]) {
      // l > hi in the second test, so l - 1 cannot overflow
      case ((lo, hi) :: done, (l, h)) if l <= hi || l - 1 == hi => (lo, math.max(hi, h)) :: done
      case (done, r) => r :: done
    }.reverse

  def intersect(a: Seq[Range], b: Seq[Range]): Seq[Range] = normalize(
    for ((al, ah) <- a; (bl, bh) <- b; r <- one(math.max(al, bl), math.min(ah, bh))) yield r)

  def of(f: Filter): Seq[Range] = f match {
    case EqualTo("rowkey", v: Number) => one(v.longValue, v.longValue)
    case GreaterThan("rowkey", v: Number) =>
      if (v.longValue == Long.MaxValue) Nil else one(v.longValue + 1, Long.MaxValue)
    case GreaterThanOrEqual("rowkey", v: Number) => one(v.longValue, Long.MaxValue)
    case LessThan("rowkey", v: Number) =>
      if (v.longValue == Long.MinValue) Nil else one(Long.MinValue, v.longValue - 1)
    case LessThanOrEqual("rowkey", v: Number) => one(Long.MinValue, v.longValue)
    // the hull: point sets prune through the bloom (pointKeys)
    case In("rowkey", vs) if vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      val ls = vs.map(_.asInstanceOf[Number].longValue)
      one(ls.min, ls.max)
    case And(l, r) => intersect(of(l), of(r))
    case Or(l, r) => normalize(of(l) ++ of(r))
    case _ => Full
  }

  /** Top-level pushed filters are conjunctive. */
  def ofAll(filters: Array[Filter]): Seq[Range] =
    filters.map(of).foldLeft(Full)(intersect)

  /** Whether [lo, hi] meets an interval of the set — a binary search for
    * the first interval ending at or after lo (the ends ascend too). */
  def overlaps(set: IndexedSeq[Range], lo: Long, hi: Long): Boolean = {
    var (i, j) = (0, set.length)
    while (i < j) {
      val m = (i + j) >>> 1
      if (set(m)._2 < lo) i = m + 1 else j = m
    }
    i < set.length && set(i)._1 <= hi
  }

  /** The exact rowkey point set a filter restricts the scan to, when
    * one exists — the bloom-pruning precondition. Only shapes that
    * PROVABLY limit matching rows to the returned keys qualify:
    * EqualTo/In on rowkey, disjunctions of those, and conjunctions
    * where either side qualifies (the other conjunct can only narrow
    * further). Anything else → None → bloom never consulted. */
  def pointKeys(f: Filter): Option[Seq[Long]] = f match {
    case EqualTo("rowkey", v: Number) => Some(Seq(v.longValue))
    case In("rowkey", vs) if vs != null && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      Some(vs.toSeq.map(_.asInstanceOf[Number].longValue))
    case And(l, r) => pointKeys(l).orElse(pointKeys(r))
    case Or(l, r) => for { a <- pointKeys(l); b <- pointKeys(r) } yield a ++ b
    case _ => None
  }

  /** First conjunct carrying a point set, if any (conjunctive array). */
  def pointKeysOfAll(filters: Array[Filter]): Option[Seq[Long]] =
    filters.iterator.map(pointKeys).collectFirst { case Some(ks) => ks }
}

class KvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KvFormat.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KvTable(properties.get("path"))
}

class KvTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null, "graft-kv requires a path option")
  override def name(): String = s"graft-kv:$path"
  override def schema(): StructType = KvFormat.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(in.fieldNames.sameElements(KvFormat.schema.fieldNames),
      s"graft-kv write schema must be ${KvFormat.schema.fieldNames.mkString(",")}, got ${in.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new KvBatchWrite(path)
      }
    }
  }
}

// ---------------------------------------------------------------- read

class KvScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var required: StructType = KvFormat.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** rowkey/qualifier comparisons are evaluated inside the reader; anything
    * else is returned to Spark for post-scan evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(KvFilterEval.supports)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT n stops each partition reader after n SURVIVING cells — a
    * point lookup at 100 TB opens its (range-pruned) files and reads k
    * cells instead of scanning them to the end. Partial push (the
    * default): n per file, Spark still applies the global limit. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** COUNT(*) / MIN(rowkey) / MAX(rowkey) with no grouping, and
    * GROUP BY qualifier + COUNT(*) (the HBase column-qualifier
    * cardinality question), with no filters, are answered from the
    * write-time stats index — O(files × qualifiers) driver metadata,
    * ZERO data bytes read (the parquet-footer-count move). Sound only
    * when every data file has a committed stats entry (hand-written
    * fixtures don't) — and for the grouped form only when every entry
    * carries the per-qualifier breakdown (old-format index lines don't)
    * — otherwise refuse and let Spark aggregate the real scan.
    * Complete pushdown: the index is exact. */
  private var aggPlan: Option[KvAggPlan] = None

  // one metadata read per builder: Spark calls supportCompletePushDown
  // AND pushAggregation during planning — don't re-list per call
  private lazy val planCoverage: (Boolean, Boolean) = {
    val meta = KvMeta.read(path)
    val files = KvFormat.dataFiles(path).map(_.getFileName.toString)
    val allFiles = files.forall(meta.contains)
    val allQuals = allFiles && files.forall(f => meta(f).qualifiersCovered)
    (allFiles, allQuals)
  }

  private def namedRef(e: org.apache.spark.sql.connector.expressions.Expression,
      col: String): Boolean = e match {
    case nr: NamedReference => nr.fieldNames.sameElements(Array(col))
    case _ => false
  }

  private def plannable(agg: Aggregation): Option[KvAggPlan] = {
    if (pushed.nonEmpty || limit.nonEmpty) return None
    agg.groupByExpressions.toSeq match {
      case Seq() =>
        if (!planCoverage._1) return None
        val stats = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some("count")
          case m: Min if namedRef(m.column, "rowkey") => Some("min")
          case m: Max if namedRef(m.column, "rowkey") => Some("max")
          case _ => None
        }
        if (stats.nonEmpty && stats.forall(_.isDefined))
          Some(KvAggPlan(byQualifier = false, stats.map(_.get)))
        else None
      case Seq(g) if namedRef(g, "qualifier") =>
        // per-qualifier COUNT(*) from the index's breakdown column
        if (!planCoverage._2) return None
        val counts = agg.aggregateExpressions.toSeq.forall {
          case _: CountStar => true
          case _ => false
        }
        if (counts && agg.aggregateExpressions.nonEmpty)
          Some(KvAggPlan(byQualifier = true,
            agg.aggregateExpressions.toSeq.map(_ => "count")))
        else None
      case _ => None
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = plannable(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggPlan = plannable(agg)
    aggPlan.isDefined
  }

  override def build(): Scan = aggPlan match {
    case Some(plan) => new KvStatsScan(path, plan)
    case None => new KvScan(path, required, pushed, limit)
  }
}

private[sources] case class KvAggPlan(byQualifier: Boolean, stats: Seq[String])

/** The aggregate-pushdown scan: one partition whose rows come straight
  * from the committed `.file_meta.tsv` — global (one row; MIN/MAX of an
  * empty store are null, matching SQL aggregate semantics; COUNT is 0)
  * or grouped by qualifier (one row per qualifier, sorted). */
class KvStatsScan(path: String, plan: KvAggPlan) extends Scan with Batch {
  private val aggFields = plan.stats.zipWithIndex.map {
    case (s, i) => StructField(s"${s}_$i", LongType,
      nullable = s != "count" && !plan.byQualifier)
  }
  override def readSchema(): StructType =
    if (plan.byQualifier)
      StructType(StructField("qualifier", StringType, nullable = false) +: aggFields)
    else StructType(aggFields)
  override def toBatch: Batch = this
  override def description(): String = {
    val shape = if (plan.byQualifier) "group by qualifier: " else ""
    s"graft-kv $path, PushedAggregates: [$shape${plan.stats.mkString(", ")}] (stats-index only, no data read)"
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(KvStatsPartition(computeRows()))
  // Driver-side O(files × qualifiers) metadata fold; the rows travel
  // inside the partition. The file listing is re-taken here, so
  // plan-time coverage is re-checked: a data file that appeared between
  // planning and execution WITHOUT a stats entry must fail loudly, not
  // be silently undercounted (entries for files deleted outside the
  // connector are still skipped — they no longer hold cells).
  private def computeRows(): Array[Array[Any]] = {
    val meta = KvMeta.read(path)
    val metas = KvFormat.dataFiles(path).map(_.getFileName.toString).map { f =>
      meta.getOrElse(f, sys.error(
        s"graft-kv $path: data file $f has no stats-index entry — " +
          "cannot answer a pushed aggregate from the index"))
    }
    if (plan.byQualifier) {
      metas.foreach(m => require(m.qualifiersCovered,
        s"graft-kv $path: ${m.file} lacks the per-qualifier breakdown — " +
          "cannot answer a grouped count from the index"))
      metas.flatMap(_.qualCells).groupMapReduce(_._1)(_._2)(_ + _)
        .toSeq.sortBy(_._1)
        .map { case (q, n) =>
          (UTF8String.fromString(q) +: plan.stats.map(_ => Long.box(n))).toArray[Any]
        }.toArray
    } else Array(plan.stats.map {
      case "count" => Long.box(metas.map(_.cells).sum)
      case "min" => if (metas.isEmpty) null else Long.box(metas.map(_.minKey).min)
      case "max" => if (metas.isEmpty) null else Long.box(metas.map(_.maxKey).max)
    }.toArray[Any])
  }
  override def createReaderFactory(): PartitionReaderFactory = KvStatsReaderFactory
}

case class KvStatsPartition(rows: Array[Array[Any]]) extends InputPartition

object KvStatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[KvStatsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow.fromSeq(rows(i).toIndexedSeq)
      override def close(): Unit = ()
    }
}

/** Predicate evaluation for the pushed subset. The kv store is dense
  * (no null cells), so two-valued logic is exact here. Filters carrying
  * a null literal are NOT accepted (their three-valued semantics stay
  * with Spark post-scan), and string comparison uses UTF8String —
  * byte order, not String's UTF-16 order, which disagrees on non-BMP
  * code points. */
object KvFilterEval {
  def supports(f: Filter): Boolean = f match {
    case EqualTo(a, v) => ok(a, v)
    case GreaterThan(a, v) => ok(a, v)
    case GreaterThanOrEqual(a, v) => ok(a, v)
    case LessThan(a, v) => ok(a, v)
    case LessThanOrEqual(a, v) => ok(a, v)
    case In(a, vs) => vs != null && vs.forall(ok(a, _))
    // Catalyst guards every pushed comparison with IsNotNull; accepting
    // it here is what lets column pruning drop filter-only columns.
    case IsNotNull(a) => col(a)
    case IsNull(a) => col(a)
    case And(l, r) => supports(l) && supports(r)
    case Or(l, r) => supports(l) && supports(r)
    case _ => false
  }
  private def col(attr: String) = attr == "rowkey" || attr == "qualifier" || attr == "value"
  // Literal RUNTIME type must match the column, or the executor-side
  // eval would ClassCastException mid-scan (Catalyst always sends the
  // right type, but Filter is a public API — a hand-built
  // EqualTo("rowkey", "x") must fall back to Spark, not crash a task).
  // Rowkey literals must be INTEGRAL: a hand-built Double(1.5) or
  // BigDecimal(2^63) would silently truncate through longValue in
  // eval/range/bloom and return wrong rows — those shapes stay with
  // Spark post-scan instead.
  private def ok(attr: String, v: Any): Boolean = col(attr) && (v match {
    case null => false
    case _: java.lang.Byte | _: java.lang.Short |
         _: java.lang.Integer | _: java.lang.Long => attr == "rowkey"
    case _: String => attr != "rowkey"
    case _ => false
  })

  def eval(f: Filter, rowkey: Long, qualifier: String, value: String): Boolean = {
    def get(a: String): Any = a match {
      case "rowkey" => rowkey
      case "qualifier" => qualifier
      case "value" => value
    }
    def cmp(a: String, v: Any): Int = get(a) match {
      case l: Long => java.lang.Long.compare(l, v.asInstanceOf[Number].longValue())
      case s: String => UTF8String.fromString(s).compareTo(UTF8String.fromString(v.toString))
    }
    f match {
      case EqualTo(a, v) => cmp(a, v) == 0
      case GreaterThan(a, v) => cmp(a, v) > 0
      case GreaterThanOrEqual(a, v) => cmp(a, v) >= 0
      case LessThan(a, v) => cmp(a, v) < 0
      case LessThanOrEqual(a, v) => cmp(a, v) <= 0
      case In(a, vs) => vs.exists(v => cmp(a, v) == 0)
      case IsNotNull(_) => true // dense store: every cell has all three fields
      case IsNull(_) => false
      case And(l, r) => eval(l, rowkey, qualifier, value) && eval(r, rowkey, qualifier, value)
      case Or(l, r) => eval(l, rowkey, qualifier, value) || eval(r, rowkey, qualifier, value)
      case _ => true
    }
  }
}

case class KvInputPartition(file: String) extends InputPartition

class KvScan(path: String, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedLimit: ${limit.getOrElse("none")}, ReadSchema: ${required.simpleString}"

  /** One partition per surviving data file. Files whose committed
    * [minKey, maxKey] cannot overlap any pushed rowkey interval are
    * skipped entirely — the HBase prune-by-region-range move — and for
    * POINT lookups (`rowkey = k` / `IN (...)`) a file additionally
    * survives only if its write-time bloom might contain one of the
    * keys (the HBase HFile-bloom move: a point probe into a store of
    * overlapping-range files opens the files that can actually hold
    * the key, not every range-overlapping one). At 100 TB both prunes
    * are O(files) driver metadata. Files without index entries (or
    * without a bloom — old-format lines) are always read (sound). */
  override def planInputPartitions(): Array[InputPartition] = {
    val ranges = KvKeyRange.ofAll(pushed).toIndexedSeq
    val points = KvKeyRange.pointKeysOfAll(pushed)
    val meta = KvMeta.read(path)
    KvFormat.dataFiles(path)
      .filter { f =>
        meta.get(f.getFileName.toString).forall { m =>
          KvKeyRange.overlaps(ranges, m.minKey, m.maxKey) &&
            points.forall(ks => m.bloomHex.forall(hex =>
              ks.exists(KvBloom.mightContain(hex, _))))
        }
      }
      .map(f => KvInputPartition(f.toString)).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(required, pushed, limit)
}

class KvReaderFactory(required: StructType, pushed: Array[Filter], limit: Option[Int])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(partition.asInstanceOf[KvInputPartition].file, required, pushed,
      limit)
}

/** Process-local read counters — spec observability for the pushdown
  * claims ("a limit-5 scan EMITS ≤ 5 cells per file", not just "the
  * result has 5 rows"). No correctness role; local-mode tests share the
  * JVM with the executors, so plain atomics suffice. Counters are
  * SCOPED PER STORE DIRECTORY: a single process-global pair would make
  * the zero-read/limit assertions flaky the moment any other suite or
  * graded key scans a different graft-kv store concurrently (sbt runs
  * suites in parallel). */
object KvReadStats {
  final class Counters {
    val cellsEmitted = new java.util.concurrent.atomic.AtomicLong
    val linesRead = new java.util.concurrent.atomic.AtomicLong
  }
  private val perDir = scala.collection.concurrent.TrieMap.empty[String, Counters]
  def forDir(dir: String): Counters = perDir.getOrElseUpdate(dir, new Counters)
  def reset(dir: String): Unit = {
    val c = forDir(dir); c.cellsEmitted.set(0); c.linesRead.set(0)
  }
}

class KvPartitionReader(file: String, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {
  private val stats = KvReadStats.forDir(Paths.get(file).getParent.toString)
  private val lines = Files.lines(Paths.get(file), StandardCharsets.UTF_8)
  private val it = lines.iterator()
  private var current: InternalRow = _
  // project once up front: output ordinal -> cell extractor
  private val fields: Array[(Long, String, String) => Any] =
    required.fieldNames.map {
      case "rowkey" => (r: Long, _: String, _: String) => r
      case "qualifier" => (_: Long, q: String, _: String) => UTF8String.fromString(q)
      case "value" => (_: Long, _: String, v: String) => UTF8String.fromString(v)
    }

  private var lineNo = 0L
  private var emitted = 0L

  override def next(): Boolean = {
    // pushed limit: this file has yielded enough surviving cells — stop
    // without reading (or parsing) the rest of it
    if (limit.exists(emitted >= _)) return false
    while (it.hasNext) {
      val line = it.next(); lineNo += 1
      stats.linesRead.incrementAndGet()
      // A corrupt store must fail DIAGNOSABLY: name the file and line,
      // not surface a bare NumberFormat/ArrayIndexOutOfBounds from deep
      // inside a task retry loop.
      val parts = line.split(KvFormat.SEP, 3)
      if (parts.length != 3)
        throw new java.io.IOException(
          s"graft-kv: malformed cell at $file:$lineNo — expected 3 tab-separated fields, got ${parts.length}")
      val r =
        try parts(0).toLong
        catch {
          case e: NumberFormatException => throw new java.io.IOException(
            s"graft-kv: bad rowkey '${parts(0)}' at $file:$lineNo", e)
        }
      val (q, v) = (parts(1), parts(2))
      if (pushed.forall(KvFilterEval.eval(_, r, q, v))) {
        current = InternalRow.fromSeq(fields.map(_(r, q, v)).toIndexedSeq)
        emitted += 1
        stats.cellsEmitted.incrementAndGet()
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

// --------------------------------------------------------------- write

class KvBatchWrite(path: String) extends BatchWrite {
  // tags every file of this job, so an abort can also find files whose
  // commit messages never reached the driver (see abort)
  private val jobTag = java.util.UUID.randomUUID().toString.take(8)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    new KvWriterFactory(path, jobTag)
  }
  /** Job commit assembles the per-file stats index from the tasks'
    * commit messages — the driver never re-reads data bytes; its work is
    * O(committed files). */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    KvMeta.append(path, messages.collect { case KvCommitMessage(Some(m)) => m }.toSeq)
  // job-level abort must undo task-level commits, or the renamed files of
  // successful tasks would remain visible as partial output. Spark fails
  // the job while sibling tasks may still be committing, so the messages
  // can miss a file: the abort also deletes every file carrying the job's
  // tag, after leaving a marker that makes a task committing later delete
  // its own file (KvDataWriter.commit).
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Files.writeString(KvDataWriter.abortMarker(path, jobTag), "")
    messages.foreach {
      case KvCommitMessage(Some(m)) => Files.deleteIfExists(Paths.get(path, m.file))
      case _ => ()
    }
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(s"-$jobTag${KvFormat.SUFFIX}") || (n.startsWith(".tmp-") && n.endsWith(s"-$jobTag"))
    }.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

class KvWriterFactory(path: String, jobTag: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, partitionId, taskId, jobTag)
}

/** None = the task received no rows and committed no file (empty shuffle
  * partitions must not litter the store with 0-byte files). */
case class KvCommitMessage(meta: Option[KvFileMeta]) extends WriterCommitMessage

/** Streams cells to a temp file, RENAMING into place on commit (two-phase
  * task commit). While writing it maintains the stats that become the
  * commit message: byte count + MD5 via a digesting stream (single pass,
  * constant memory), the rowkey min/max for scan pruning, and whether the
  * cells arrived in strictly increasing (rowkey, qualifier) order. Rowkey
  * CLUSTERING is the plan's job (`sortWithinPartitions`/
  * `repartitionByRange` before the write) — min/max stays sound either
  * way, a writer-side sort would just re-buffer what Spark's sort
  * operator already spills correctly. */
class KvDataWriter(path: String, partitionId: Int, taskId: Long,
    tag: String = KvDataWriter.procTag)
    extends DataWriter[InternalRow] {
  // (partitionId, taskId) is unique only WITHIN one Spark application —
  // a second application appending to the same store restarts task ids
  // at 0 and would collide on the rename. The random tag (the job's, or
  // else the process's) makes cross-application appends safe (HBase
  // solves this with UUID-named store files for the same reason).
  private val tmp = Paths.get(path, s".tmp-$partitionId-$taskId-$tag")
  private val dest = Paths.get(path, s"part-$partitionId-$taskId-$tag.kv")
  private val digest = java.security.MessageDigest.getInstance("MD5")
  private var bytes = 0L
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.security.DigestOutputStream(Files.newOutputStream(tmp), digest) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        super.write(b, off, len); bytes += len
      }
      override def write(b: Int): Unit = { super.write(b); bytes += 1 }
    }, StandardCharsets.UTF_8))
  private var cells = 0L
  private var minKey = Long.MaxValue
  private var maxKey = Long.MinValue
  // per-qualifier cell counts for the grouped-count pushdown; bounded by
  // the store's qualifier cardinality (HBase column-qualifier scale:
  // small per family), not by cell count
  private val qualCounts = scala.collection.mutable.Map.empty[String, Long]
  // rowkey bloom for point-lookup file skipping (HBase HFile bloom):
  // constant 32 bytes per file, built as cells stream through
  private val bloom = KvBloom.empty()
  // strictly increasing (rowkey, qualifier) so far; qualifiers compare in
  // UTF8String's byte order, the order a sortWithinPartitions leaves them in
  private var unique = true
  private var prevQual: String = _

  override def write(row: InternalRow): Unit = {
    // the format is one cell per line, tab-separated: reject rather than
    // silently corrupt rows whose fields would break framing
    require(!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2),
      "graft-kv cells must be fully non-null")
    val q = row.getUTF8String(1).toString
    val v = row.getUTF8String(2).toString
    require(!q.contains('\t') && !q.contains('\n') && !v.contains('\t') && !v.contains('\n'),
      "graft-kv qualifier/value must not contain tab or newline")
    val r = row.getLong(0)
    if (unique) { // while it holds, the previous rowkey is maxKey
      unique = cells == 0 || r > maxKey || (r == maxKey && KvDataWriter.utf8After(q, prevQual))
      prevQual = q
    }
    out.write(s"$r${KvFormat.SEP}$q${KvFormat.SEP}$v")
    out.newLine()
    cells += 1
    qualCounts.updateWith(q)(c => Some(c.getOrElse(0L) + 1))
    if (r < minKey) minKey = r
    if (r > maxKey) maxKey = r
    KvBloom.add(bloom, r)
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    if (cells == 0) { Files.deleteIfExists(tmp); KvCommitMessage(None) }
    else {
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(KvDataWriter.abortMarker(path, tag))) {
        // the job was aborted before this file appeared: take it back
        Files.delete(dest)
        KvCommitMessage(None)
      } else {
        val md5 = digest.digest().map("%02x".format(_)).mkString
        KvCommitMessage(Some(KvFileMeta(
          dest.getFileName.toString, bytes, md5, cells, minKey, maxKey, qualCounts.toMap,
          Some(KvBloom.toHex(bloom)), unique)))
      }
    }
  }
  override def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  override def close(): Unit = ()
}

object KvDataWriter {
  /** Per-process disambiguator for data-file names (see constructor). */
  private val procTag: String = java.util.UUID.randomUUID().toString.take(8)

  /** Left by [[KvBatchWrite.abort]]; it stays, so that a task of the
    * aborted job committing at any later time finds it. */
  private[sources] def abortMarker(path: String, tag: String): Path =
    Paths.get(path, s".aborted-$tag")

  /** `a` sorts after `b` in UTF-8 byte order (UTF8String's), compared on
    * the Java strings without encoding them: that is UTF-16 order except
    * where a surrogate meets a char at or above U+E000, which UTF-8 puts
    * below every supplementary code point. */
  private[sources] def utf8After(a: String, b: String): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    def rank(c: Char): Int = if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    if (i == n) a.length > b.length else rank(a.charAt(i)) > rank(b.charAt(i))
  }
}
